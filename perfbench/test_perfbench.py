"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

# ----------------------------------------------------------- generators


def test_bea_panel_is_deterministic_per_seed():
    a = gen.bea_panel(7, 60)
    b = gen.bea_panel(7, 60)
    c = gen.bea_panel(8, 60)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    assert not a[0].equals(c[0])


def test_star_tables_are_deterministic_per_seed():
    a = gen.star_tables(3, 0.001)
    b = gen.star_tables(3, 0.001)
    c = gen.star_tables(4, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert len(a["lineitem"]) == 6000 and len(a["documents"]) == 500


def test_star_tables_are_exactly_the_tables_the_registry_reads():
    import workloads  # noqa: PLC0415

    read = {t for q in workloads.REGISTRY_QUERIES for t in workloads.REGISTRY_TABLES[q]}
    assert set(gen.star_tables(3, 0.001)) == read


def test_bea_panel_carries_every_edge_case():
    nominal, price = gen.bea_panel(11, 97)
    labels = list(nominal[gen.LABEL_COL])
    # duplicate same-depth names under the two government parents
    assert labels.count(gen.INDENT * 2 + "General government") == 2
    assert labels.count(gen.INDENT * 2 + "Government enterprises") == 2
    # suppressed cells
    assert (nominal[list(gen.YEAR_COLS)] == gen.SUPPRESSED).any().any()
    assert (price[list(gen.YEAR_COLS)] == gen.SUPPRESSED).any().any()
    # base-year price index
    assert set(price["2017"]) <= {"100.000", gen.SUPPRESSED}
    by_label = nominal.set_index(gen.LABEL_COL)
    assert by_label.loc[gen.INDENT * 2 + "Water transportation", "2019"] == "0.0"
    # glued footnote digits and the trailing footnote column
    assert "Space economy1" in labels
    assert gen.FOOTNOTE_COL in nominal.columns


def test_bea_panel_fact_matches_documented_shape():
    for n in (97, 300):
        fact = check.reference_fact(*gen.bea_panel(5, n))
        assert (fact["Industry"].nunique(), len(fact)) == gen.fact_shape(n)
    industries, rows = gen.fact_shape(97)
    assert industries == 93 and rows == 99 * 12 - 2


def test_bea_panel_edge_cases_reach_the_metrics():
    fact = check.reference_fact(*gen.bea_panel(2, 97))
    m = check.reference_metrics(fact)
    assert m[gen.INDENT * 2 + "Water transportation"][0] == math.inf
    assert math.isnan(m[gen.INDENT * 2 + "Pipeline transportation"][0])
    assert m[gen.INDENT + "Housing"][1] is None
    assert m[gen.INDENT + "Motion picture and sound recording industries"][0] is None
    assert gen.INDENT + "Broadcasting and telecommunications5" not in m
    assert "Agriculture, forestry, fishing, and hunting" not in m
    assert gen.INDENT + "Farms" not in m


# -------------------------------------------------------------- checker


def _fact(rows):
    return pd.DataFrame(rows, columns=["Industry", "Year", "Real_Value"])


HAND_MADE = _fact(
    [
        # duplicate keys: first in file order is 100 (2019) / 80 (2020)
        ("Dup", 2019, 100.0),
        ("Dup", 2019, 50.0),
        ("Dup", 2020, 80.0),
        ("Dup", 2020, 90.0),
        ("Dup", 2021, 100.0),
        # zero base year
        ("ZeroUp", 2019, 0.0),
        ("ZeroUp", 2020, 5.0),
        ("ZeroFlat", 2019, 0.0),
        ("ZeroFlat", 2020, 0.0),
        # never recovers
        ("Never", 2019, 10.0),
        ("Never", 2020, 7.0),
        ("Never", 2021, 8.0),
        ("Never", 2022, 9.0),
        ("Never", 2023, 9.5),
        # no shock-year row: drawdown NULL, recovery still measured
        ("NoShock", 2019, 10.0),
        ("NoShock", 2022, 11.0),
        # no base-year row: absent
        ("NoBase", 2020, 10.0),
    ]
)


def test_reference_metrics_first_in_file_order():
    m = check.reference_metrics(HAND_MADE)
    assert m["Dup"] == (-0.2, 2)
    assert m["ZeroUp"][0] == math.inf and m["ZeroUp"][1] == 1
    assert math.isnan(m["ZeroFlat"][0]) and m["ZeroFlat"][1] == 1
    assert m["Never"] == (pytest.approx(-0.3), None)
    assert m["NoShock"] == (None, 3)
    assert "NoBase" not in m


def test_reference_metrics_min_duplicates():
    m = check.reference_metrics(HAND_MADE, duplicates="min")
    # base 50, 2020 = 80: +60%, recovered in the first year
    assert m["Dup"] == (pytest.approx(0.6), 1)


def test_reference_metrics_rejects_unknown_duplicate_rule():
    with pytest.raises(ValueError):
        check.reference_metrics(HAND_MADE, duplicates="last")


def test_shocked_scales_only_the_shock_year():
    out = check.shocked(HAND_MADE, 0.5, 2020)
    assert list(out.loc[out.Industry == "Never", "Real_Value"]) == [10.0, 3.5, 8.0, 9.0, 9.5]
    assert list(HAND_MADE.loc[HAND_MADE.Industry == "Never", "Real_Value"])[1] == 7.0


def test_worst_hit_orders_like_spark():
    m = {"a": (math.nan, None), "b": (None, 1), "c": (math.inf, 1), "d": (-0.5, 2), "e": (-0.5, None)}
    assert [r[0] for r in check.worst_hit(m, 5)] == ["d", "e", "c", "a", "b"]
    assert [r[0] for r in check.fastest_recovery(m, 5)] == ["b", "c", "d"]


def test_check_top_k_accepts_ties_in_any_order_and_rejects_wrong_rows():
    m = {"a": (-0.5, 1), "b": (-0.5, 2), "c": (-0.1, None), "d": (0.2, 1)}
    assert check.check_top_k([("b", -0.5, 2), ("a", -0.5, 1)], m, 2) is None
    assert check.check_top_k([("a", -0.5, 1), ("c", -0.1, None)], m, 2) is not None
    assert check.check_top_k([("a", -0.5, 1), ("b", -0.5, 3)], m, 2) is not None
    assert check.check_top_k([("a", -0.5, 1)], m, 2) is not None


def test_reference_forecast_is_the_least_squares_line():
    fact = _fact([("g", 2020, 1.0), ("g", 2021, 3.0), ("g", 2022, 5.0), ("h", 2020, 9.0)])
    got = check.reference_forecast(fact, "g", 2025)
    assert [y for y, _ in got] == [2023, 2024, 2025]
    assert [v for _, v in got] == pytest.approx([7.0, 9.0, 11.0])
    assert check.check_forecast(got, got) is None
    assert check.check_forecast([(2023, 7.1)] + got[1:], got) is not None
    assert check.check_forecast(got[:2], got) is not None


def _page(tables):
    body = ""
    for rows in tables:
        head = "".join(f"<th>{c}</th>" for c in ("Industry", "Drawdown_2020", "Recovered_Years"))
        cells = "".join(
            "<tr>" + "".join(f"<td>{'' if v is None else v}</td>" for v in r) + "</tr>"
            for r in rows
        )
        body += f"<h2>t</h2><table><thead><tr>{head}</tr></thead><tbody>{cells}</tbody></table>"
    return f"<html><body>{body}</body></html>"


def test_check_report_reads_the_three_views():
    m = {"  b & c": (-0.25, None), "a": (0.5, 1), "z": (None, 2)}
    # the page escapes names; the checker compares the unescaped text
    full = [("  b &amp; c", -0.25, None), ("a", 0.5, 1), ("z", None, 2)]
    fastest = [("a", 0.5, 1), ("z", None, 2)]
    assert check.check_report(_page([full, full, fastest]), m, k=10) is None
    swapped = [full[1], full[0], full[2]]
    assert check.check_report(_page([swapped, full, fastest]), m, k=10) is not None
    assert check.check_report(_page([full, full]), m, k=10) is not None


def test_metrics_csv_round_trip_and_digest(tmp_path):
    path = tmp_path / "m.csv"
    path.write_text(
        "Industry,Drawdown_2020,Recovered_Years\n"
        "  Water,Inf,1\nPipe,NaN,\nHousing,-0.3,\nDown,-Inf,2\nGap,,3\n",
        encoding="utf-8",
    )
    got = check.read_metrics_csv(str(path))
    assert got["  Water"] == (math.inf, 1)
    assert math.isnan(got["Pipe"][0]) and got["Pipe"][1] is None
    assert got["Down"] == (-math.inf, 2) and got["Gap"] == (None, 3)
    same = {**got, "Pipe": (float("nan"), None)}
    assert check.metrics_digest(same) == check.metrics_digest(got)
    assert check.metrics_digest({**got, "Gap": (None, 2)}) != check.metrics_digest(got)


# ---------------------------------------------------------------- stats


def test_supported_percentile_needs_ten_samples_beyond():
    assert stats.supported_percentile(100) == 90.0
    assert stats.supported_percentile(99) == 75.0
    assert stats.supported_percentile(200) == 95.0
    assert stats.supported_percentile(1000) == 99.0
    assert stats.supported_percentile(20) == 50.0
    assert stats.supported_percentile(19) is None


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_median_of_kinds_sits_between_the_bands():
    # a pooled median of this mix is 1.0 or 3.0 depending on one sample
    mix = {"page": [3.0, 3.1, 2.9], "whatif": [1.0, 1.1, 0.9, 1.0]}
    assert stats.median_of_kinds(mix) == pytest.approx(2.0)
    assert stats.median_of_kinds({"batch": [4.0, 1.0, 2.0]}) == 2.0
    assert stats.median_of_kinds({"a": [1.0], "b": [5.0], "c": [2.0]}) == 2.0


def test_half_ratio_and_flatness():
    assert stats.half_ratio([2.0, 2.0, 1.0, 1.0]) == 2.0
    assert stats.half_ratio([1.0]) == 1.0
    assert stats.is_flat([5.0, 1.0, 1.0, 1.02, 1.0], window=2, tolerance=0.05)
    assert not stats.is_flat([2.0, 2.0, 1.0, 1.0], window=2, tolerance=0.05)
    assert not stats.is_flat([1.0, 1.0, 1.0], window=2, tolerance=0.05)


def test_ledger_counts_failures_against_attempts():
    led = stats.Ledger()
    led.record(0.5, None)
    led.record(0.7, "wrong result")
    try:
        raise RuntimeError("boom")
    except RuntimeError as exc:
        led.record_exception(exc)
    assert (led.attempted, led.failed) == (3, 2)
    assert led.latencies_s == [0.5]
    assert led.errors[0] == "wrong result" and "boom" in led.errors[1]


def test_steal_share_reads_the_aggregate_cpu_line(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 0 50 800 10 0 5 35 7 0\ncpu0 1 2 3\n")
    assert stats.cpu_times(str(stat)) == (35, 1000)
    assert stats.cpu_times(str(tmp_path / "missing")) is None
    assert stats.steal_share((35, 1000), (85, 1200)) == pytest.approx(0.25)
    assert stats.steal_share(None, (85, 1200)) is None
    assert stats.format_share(0.25) == "25.0%" and stats.format_share(None) == "n/a"


# -------------------------------------------------------------- tracing


def test_span_self_time_subtracts_children(monkeypatch):
    # op 0..10 s holds children 1..3 s and 4..5 s: 7 s of self time
    ticks = iter([0.0, 1.0, 3.0, 4.0, 5.0, 10.0])
    monkeypatch.setattr(tracing.time, "perf_counter", lambda: next(ticks))
    tr = tracing.Tracer()
    with tr.span("op", op=1):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    assert [s.name for s in tr.spans] == ["op", "child", "child"]
    assert tr.spans[1].parent == 0 and tr.spans[2].op == 1
    selfs = tr.self_ms()
    assert selfs["op"] == [pytest.approx(7_000.0)]
    assert selfs["child"] == [pytest.approx(2_000.0), pytest.approx(1_000.0)]
    assert tr.self_ms(ops={2}) == {}


def test_uncovered_ms_merges_overlapping_jobs():
    wall = (10.0, 20.0)
    assert tracing.uncovered_ms(wall, []) == pytest.approx(10_000.0)
    assert tracing.uncovered_ms(wall, [(11.0, 13.0), (12.0, 14.0)]) == pytest.approx(7_000.0)
    assert tracing.uncovered_ms(wall, [(5.0, 11.0), (19.0, 25.0)]) == pytest.approx(8_000.0)


def test_null_tracer_records_nothing():
    tr = tracing.NullTracer()
    with tr.span("x"):
        pass
    assert not hasattr(tr, "spans")
