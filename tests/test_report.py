"""S7 serving sink: the static HTML report must render exactly the
three views streamlit_app.py serves (full metrics, top-10 worst hit,
top-10 fastest recovery) with pandas-parity ordering, plus the
missing-metrics warning branch — golden-checked against a pandas
replay of the app's own view code on the reference data."""

from __future__ import annotations

import html
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cdc_2025_spark import report
from cdc_2025_spark.io import read_csv, with_row_order
from cdc_2025_spark.reference.resilience import resilience_metrics
from cdc_2025_spark.report import (
    WARNING_TEXT,
    resilience_report_html,
    write_resilience_report,
)
from cdc_2025_spark.schemas import CLEAN_VA_PRICE

from tests.conftest import REFERENCE_DATA

FACT_CSV = os.path.join(REFERENCE_DATA, "clean_va_price.csv")


@pytest.fixture(scope="module")
def metrics(spark):
    fact = with_row_order(
        read_csv(spark, FACT_CSV, schema=CLEAN_VA_PRICE)
    )
    return resilience_metrics(fact).cache()


def _first_cells(section_html: str) -> list[str]:
    """The first column of each body row of the FIRST table in the
    section fragment."""
    table = section_html.split("</table>")[0]
    body = table.split("<tbody>")[1]
    return re.findall(r"<tr><td>(.*?)</td>", body)


def test_report_renders_the_apps_three_views(metrics):
    html_out = resilience_report_html(metrics)
    assert "Resilience Metrics (full dataset)" in html_out
    assert "Top 10 Worst Hit in 2020" in html_out
    assert "Fastest to Recover" in html_out

    pdf = metrics.toPandas()
    # the app: df.sort_values("Drawdown_2020").head(10) — NaN last
    worst = pdf.sort_values("Drawdown_2020").head(10)
    sec = html_out.split("Top 10 Worst Hit in 2020</h2>")[1]
    got = _first_cells(sec)
    want = [str(x) for x in worst.iloc[:, 0]]
    assert got == want
    # the app: dropna + sort_values("Recovered_Years").head(10)
    fastest = (
        pdf.dropna(subset=["Recovered_Years"])
        .sort_values("Recovered_Years", kind="stable")
        .head(10)
    )
    sec = html_out.split("Fastest to Recover</h2>")[1]
    got = set(_first_cells(sec))
    # ties in Recovered_Years make exact order app-unspecified;
    # compare the SET at the k-boundary group (every tie at the
    # boundary shares the same value, so the top-10 set is only
    # determined up to that tie group — compare values instead)
    rec = {
        r: v
        for r, v in zip(
            fastest.iloc[:, 0], fastest["Recovered_Years"]
        )
    }
    kth = max(rec.values())
    sure = {r for r, v in rec.items() if v < kth}
    assert sure <= got
    assert len(got) == len(rec)


def test_report_escapes_and_nulls(spark):
    df = spark.createDataFrame(
        [("<b>Ind&1</b>", None, 1.0), ("x", -0.5, None)],
        "Industry string, Drawdown_2020 double, Recovered_Years double",
    )
    out = resilience_report_html(df, k=5)
    assert "&lt;b&gt;Ind&amp;1&lt;/b&gt;" in out
    assert "<b>Ind&1</b>" not in out
    # NULLs render as empty cells
    assert "<td></td>" in out


def test_report_warning_branch_and_writer(spark, tmp_path, metrics):
    warn = resilience_report_html(None)
    assert WARNING_TEXT in warn
    assert "<table>" not in warn
    p = str(tmp_path / "report.html")
    write_resilience_report(metrics, p)
    text = open(p, encoding="utf-8").read()
    assert text == resilience_report_html(metrics)
    assert text.startswith("<!doctype html>")


def _three_query_page(metrics, k: int) -> str:
    """The page as three Spark queries, one per view: the render the
    single collect replaced, kept as its model."""
    g = metrics.columns[0]
    worst = metrics.orderBy(F.col("Drawdown_2020").asc_nulls_last(), g).limit(k)
    fastest = (
        metrics.na.drop(subset=["Recovered_Years"])
        .orderBy(F.col("Recovered_Years").asc_nulls_last(), g)
        .limit(k)
    )
    sections = [
        ("Resilience Metrics (full dataset)", metrics.orderBy(g)),
        (f"Top {k} Worst Hit in 2020", worst),
        ("Fastest to Recover", fastest),
    ]
    body = "".join(
        f"<h2>{html.escape(h)}</h2>{report._table(df.columns, df.collect())}"
        for h, df in sections
    )
    return report._PAGE.format(
        title=html.escape("Industry Resilience Explorer"), body=body
    )


NAN, INF = float("nan"), float("inf")
# every ordering edge of the three views: NULL, NaN and ±inf
# drawdowns, -0.0 tied with 0.0, a NULL group key inside a tie,
# drawdown and recovery ties across the k boundaries, and NaN / NULL
# recoveries that the fastest view drops
EDGE_METRICS = [
    ("m", -0.5, 2.0),
    (None, -0.5, 1.0),
    ("b", -0.5, NAN),
    ("k", -0.5, 1.0),
    ("a", None, 1.0),
    ("z", NAN, None),
    ("c", INF, 3.0),
    ("d", -INF, 1.0),
    ("e", 0.0, 2.0),
    ("f", -0.0, None),
    ("g", 0.25, 1.0),
    ("h", NAN, 2.0),
    ("i", None, NAN),
    ("Ä", -0.5, 2.0),
    ("j", 0.25, 3.0),
]


@pytest.mark.parametrize("k", [1, 3, 4, 6, 10, 20])
def test_one_collect_page_matches_three_query_render(spark, k):
    metrics = spark.createDataFrame(
        EDGE_METRICS,
        "Industry string, Drawdown_2020 double, Recovered_Years double",
    ).repartition(3)
    assert resilience_report_html(metrics, k=k) == _three_query_page(metrics, k)


def test_one_collect_page_matches_on_engine_metrics(spark):
    """The same identity on ``resilience_metrics`` output (integer
    ``Recovered_Years``) over a fact with zero, negative and
    missing base values and duplicate keys."""
    rows = [
        ("w", 2019, 0.0), ("w", 2020, 5.0), ("x", 2019, 0.0),
        ("x", 2020, 0.0), ("y", 2019, -2.0), ("y", 2020, -1.0),
        ("y", 2021, -3.0), ("v", 2019, 4.0), ("v", 2019, 1.0),
        ("v", 2020, 2.0), ("v", 2022, 4.0), ("u", 2020, 1.0),
        ("t", 2019, 4.0), ("t", 2020, 2.0), ("t", 2022, 4.0),
        ("s", 2019, 4.0), ("s", 2021, 5.0), (None, 2019, 1.0),
    ]
    fact = with_row_order(
        spark.createDataFrame(rows, "Industry string, Year int, Real_Value double")
    )
    metrics = resilience_metrics(fact).cache()
    for k in (2, 3, 10):
        assert resilience_report_html(metrics, k=k) == _three_query_page(metrics, k)
    metrics.unpersist()

