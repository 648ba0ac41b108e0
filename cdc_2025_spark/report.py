"""S7 — the reference's serving layer as an engine-side sink.

``/root/reference/app/streamlit_app.py:1-29`` renders three
interactive views of the resilience metrics (full table, top-10 worst
hit by ``Drawdown_2020``, top-10 fastest to recover) plus a warning
branch when the metrics file is missing. This module is the faithful
static form: the SAME three views with the same titles, ordering
semantics (pandas sorts NaN last on ascending sort — mirrored by the
``asc_nulls_last`` view builders in reference/resilience.py) and
warning branch, rendered as a dependency-free HTML artifact any
static file server can serve.

The one deliberate refinement over the app: pandas' default
``sort_values`` is an UNSTABLE quicksort, so the app's order among
tied drawdowns is implementation-defined — the views here break ties
by the group column, which is deterministic and agrees with the app
whenever ties are absent (golden-tested on the reference data, which
has none).

Deliberately tiny: the serving layer reads engine OUTPUT; everything
expensive already happened upstream. A page is ONE collect; the top-k
views are cut from its rows on the driver, in Spark's order.
``df.show()`` remains the interactive form.
"""

from __future__ import annotations

import html
from pyspark.sql import DataFrame

_PAGE = """<!doctype html>
<html><head><meta charset="utf-8">
<title>{title}</title>
<style>
 body {{ font-family: sans-serif; margin: 2rem; }}
 table {{ border-collapse: collapse; margin-bottom: 2rem; }}
 th, td {{ border: 1px solid #999; padding: 0.3rem 0.7rem;
           text-align: left; }}
 th {{ background: #eee; }}
 .warn {{ color: #a40; font-weight: bold; }}
</style></head><body>
<h1>{title}</h1>
{body}
</body></html>
"""

WARNING_TEXT = (
    "No metrics yet. Run the resilience pipeline first to "
    "generate them."
)


def _cell(v) -> str:
    if v is None:
        return ""
    return html.escape(str(v))


def _table(cols: list[str], rows: list) -> str:
    head = "".join(f"<th>{html.escape(c)}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{_cell(v)}</td>" for v in row) + "</tr>"
        for row in rows
    )
    return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"


def _asc(v, nulls_last: bool = False) -> tuple:
    """Sort key of Spark's ascending order: NaN (the only value unequal
    to itself) above every number, NULL first or ``nulls_last``."""
    if v is None:
        return (2 * nulls_last,)
    return (1, 0, v) if v == v else (1, 1)


def resilience_report_html(
    metrics: DataFrame | None,
    k: int = 10,
    title: str = "Industry Resilience Explorer",
) -> str:
    """The serving page: streamlit_app.py's three views (or its
    missing-metrics warning when ``metrics`` is None). The full-set
    view renders in a deterministic order (group column) rather than
    the app's file order — the CSV the app reads is itself written in
    that order by the pipeline. Views, from one collect: the rows
    ``orderBy(group_col)``, ``orderBy(Drawdown_2020.asc_nulls_last(),
    group_col).limit(k)`` and, after ``na.drop`` of NULL/NaN
    recoveries, ``orderBy(Recovered_Years, group_col).limit(k)``."""
    if metrics is None:
        return _PAGE.format(
            title=html.escape(title),
            body=f'<p class="warn">{html.escape(WARNING_TEXT)}</p>',
        )
    cols, rows = metrics.columns, metrics.collect()
    g, dd, rec = 0, cols.index("Drawdown_2020"), cols.index("Recovered_Years")
    # the app's views (top_k_worst_hit / top_k_fastest_recovery in
    # reference/resilience.py) leave tied rows at the limit boundary
    # unordered — fine interactively, nondeterministic for a written
    # artifact; the report's twins add the group tiebreak BEFORE the
    # limit so two renders are byte-identical
    worst = sorted(rows, key=lambda r: (_asc(r[dd], True), _asc(r[g])))
    fastest = sorted(  # na.drop: neither NULL nor NaN
        (r for r in rows if r[rec] is not None and r[rec] == r[rec]),
        key=lambda r: (_asc(r[rec]), _asc(r[g])),
    )
    sections = [
        ("Resilience Metrics (full dataset)", sorted(rows, key=lambda r: _asc(r[g]))),
        (f"Top {k} Worst Hit in 2020", worst[:k]),
        ("Fastest to Recover", fastest[:k]),
    ]
    body = "".join(
        f"<h2>{html.escape(h)}</h2>{_table(cols, t)}" for h, t in sections
    )
    return _PAGE.format(title=html.escape(title), body=body)


def write_resilience_report(
    metrics: DataFrame | None, path: str, k: int = 10
) -> None:
    """Render and write the report (single local file — the artifact
    is human-page-sized by construction: |groups| + 2k rows)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(resilience_report_html(metrics, k))
