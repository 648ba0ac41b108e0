"""Independent pandas re-runs of the reference algorithms, used to check
every result the benchmark gets back from the library.

Nothing here imports the library: each function restates the reference
notebook / ``src/features/resilience.py`` semantics directly, so a
library bug cannot hide in a shared helper.

Semantics the checks pin:

- duplicate (industry, year) keys keep the first row in file order
  (``duplicates="first"``) or, for frames with no file order, the
  smallest value (``duplicates="min"``, the library's fallback);
- a zero base-year value gives a drawdown of +inf, -inf or NaN by the
  sign of the shock-year value, as pandas float division does;
- Spark orders doubles ascending as -inf < finite < +inf < NaN and puts
  NULLs last under ``asc_nulls_last``.
"""

from __future__ import annotations

import csv
import hashlib
import math
from html.parser import HTMLParser

import pandas as pd

Metrics = dict[str, tuple[float | None, int | None]]


def reference_fact(
    nominal_wide: pd.DataFrame,
    price_wide: pd.DataFrame,
    year_min: int = 2012,
    year_max: int = 2023,
) -> pd.DataFrame:
    """The notebook's cleaning pipeline: positional drop/rename, melt,
    inner merge on (Industry, Year), coerce-and-drop, deflate, year
    filter. ``Real_Value`` uses the library's association,
    ``N * (100 / P)``, so equal inputs give bit-equal outputs."""

    def long(wide: pd.DataFrame, name: str) -> pd.DataFrame:
        w = wide.drop(columns=wide.columns[0])
        w = w.rename(columns={w.columns[0]: "Industry"})
        return w.melt(id_vars=["Industry"], var_name="Year", value_name=name)

    m = long(nominal_wide, "Nominal_Value").merge(
        long(price_wide, "Price_Index"), on=["Industry", "Year"], how="inner"
    )
    for c in ("Nominal_Value", "Price_Index"):
        m[c] = pd.to_numeric(m[c], errors="coerce")
    m = m.dropna(subset=["Nominal_Value", "Price_Index"])
    m["Real_Value"] = m["Nominal_Value"] * (100.0 / m["Price_Index"])
    m["Year"] = pd.to_numeric(m["Year"], errors="coerce")
    m = m.dropna(subset=["Year"])
    m["Year"] = m["Year"].astype(int)
    m = m[(m["Year"] >= year_min) & (m["Year"] <= year_max)]
    return m[["Industry", "Year", "Nominal_Value", "Price_Index", "Real_Value"]]


def per_group_year(fact: pd.DataFrame, duplicates: str) -> dict[str, dict[int, float]]:
    """One value per (industry, year): the first row in the frame's
    order, or the minimum value."""
    grouped = fact.groupby(["Industry", "Year"], sort=False)["Real_Value"]
    if duplicates == "first":
        per = grouped.first()
    elif duplicates == "min":
        per = grouped.min()
    else:
        raise ValueError(f"duplicates must be first/min, got {duplicates!r}")
    out: dict[str, dict[int, float]] = {}
    for (industry, year), v in per.items():
        out.setdefault(industry, {})[int(year)] = float(v)
    return out


def reference_metrics(
    fact: pd.DataFrame,
    base_year: int = 2019,
    shock_year: int = 2020,
    horizon: int = 3,
    duplicates: str = "first",
) -> Metrics:
    """Drawdown and years-to-recovery per industry (resilience.py:29-76).
    Industries without a base-year value are absent."""
    out: Metrics = {}
    for industry, by_year in per_group_year(fact, duplicates).items():
        if base_year not in by_year:
            continue
        vb = by_year[base_year]
        vs = by_year.get(shock_year)
        if vs is None:
            dd = None
        elif vb != 0:
            dd = (vs - vb) / vb
        elif vs > 0:
            dd = math.inf
        elif vs < 0:
            dd = -math.inf
        else:
            dd = math.nan
        rec = None
        for y in range(base_year + 1, shock_year + horizon + 1):
            if y in by_year and by_year[y] >= vb:
                rec = y - base_year
                break
        out[industry] = (dd, rec)
    return out


def shocked(fact: pd.DataFrame, shock_pct: float, shock_year: int) -> pd.DataFrame:
    """The what-if input: shock-year values scaled by ``1 - shock_pct``."""
    out = fact.copy()
    hit = out["Year"] == shock_year
    out.loc[hit, "Real_Value"] = out.loc[hit, "Real_Value"] * (1.0 - shock_pct)
    return out


def spark_order_key(dd: float | None) -> tuple:
    """Sort key matching Spark's ``asc_nulls_last`` on a double."""
    if dd is None:
        return (2, 0.0)
    if math.isnan(dd):
        return (1, 0.0)
    return (0, dd)


def worst_hit(metrics: Metrics, k: int) -> list[tuple[str, float | None, int | None]]:
    """The k worst drawdowns, ties broken by industry."""
    rows = sorted(metrics.items(), key=lambda kv: (spark_order_key(kv[1][0]), kv[0]))
    return [(name, dd, rec) for name, (dd, rec) in rows[:k]]


def fastest_recovery(metrics: Metrics, k: int) -> list[tuple[str, float | None, int | None]]:
    """The k fastest recoveries, never-recovered rows dropped."""
    rows = sorted(
        ((name, dd, rec) for name, (dd, rec) in metrics.items() if rec is not None),
        key=lambda r: (r[2], r[0]),
    )
    return rows[:k]


def same_float(a: float | None, b: float | None) -> bool:
    """Exact equality that treats NaN as equal to NaN."""
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b


def check_top_k(
    got: list[tuple[str, float | None, int | None]], expected: Metrics, k: int
) -> str | None:
    """``top_k_worst_hit`` output against the expected metrics. Rows
    tied at the limit may come back in any order, so this checks the
    count, that each row is a correct metrics row, and that the
    drawdowns are exactly the k smallest."""
    want = worst_hit(expected, k)
    if len(got) != len(want):
        return f"top-k rows {len(got)} vs {len(want)}"
    for name, dd, rec in got:
        if name not in expected:
            return f"top-k industry {name!r} not in the expected metrics"
        edd, erec = expected[name]
        if not same_float(dd, edd) or rec != erec:
            return f"top-k row {name!r}: ({dd}, {rec}) vs ({edd}, {erec})"
    got_keys = sorted(spark_order_key(dd) for _, dd, _ in got)
    want_keys = sorted(spark_order_key(dd) for _, dd, _ in want)
    if got_keys != want_keys:
        return f"top-k drawdowns {got_keys} vs {want_keys}"
    return None


def reference_forecast(
    fact: pd.DataFrame, industry: str, through_year: int
) -> list[tuple[int, float]]:
    """Least-squares trend over every fact row of ``industry``,
    extrapolated to each year after the last one up to
    ``through_year``."""
    g = fact[fact["Industry"] == industry]
    x = g["Year"].astype(float)
    y = g["Real_Value"].astype(float)
    dx = x - x.mean()
    slope = float((dx * (y - y.mean())).sum() / (dx * dx).sum())
    intercept = float(y.mean() - slope * x.mean())
    last = int(g["Year"].max())
    return [(yr, intercept + slope * yr) for yr in range(last + 1, through_year + 1)]


def check_forecast(
    got: list[tuple[int, float]],
    expected: list[tuple[int, float]],
    rel_tol: float = 1e-9,
) -> str | None:
    """Forecast rows in year order against the pandas fit. The two
    fits accumulate sums in different orders, hence the tolerance."""
    if [y for y, _ in got] != [y for y, _ in expected]:
        return f"forecast years {[y for y, _ in got]} vs {[y for y, _ in expected]}"
    for (yr, a), (_, b) in zip(got, expected):
        if not math.isclose(a, b, rel_tol=rel_tol, abs_tol=rel_tol):
            return f"forecast {yr}: {a} vs {b}"
    return None


class _Tables(HTMLParser):
    """Collects every ``<table>`` as a list of rows of cell text."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[str]]] = []
        self._cell: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self.tables.append([])
        elif tag == "tr":
            self.tables[-1].append([])
        elif tag in ("td", "th"):
            self._cell = []

    def handle_endtag(self, tag):
        if tag in ("td", "th") and self._cell is not None:
            self.tables[-1][-1].append("".join(self._cell))
            self._cell = None

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


def html_tables(page: str) -> list[list[list[str]]]:
    parser = _Tables()
    parser.feed(page)
    parser.close()
    return parser.tables


def _cells(row: tuple[str, float | None, int | None]) -> list[str]:
    return ["" if v is None else str(v) for v in row]


def check_report(page: str, expected: Metrics, k: int = 10) -> str | None:
    """The serving page's three tables against the expected metrics:
    the full set by industry, the k worst hit and the k fastest to
    recover (both tie-broken by industry)."""
    tables = html_tables(page)
    if len(tables) != 3:
        return f"report has {len(tables)} tables, expected 3"
    header = ["Industry", "Drawdown_2020", "Recovered_Years"]
    full = [(name, dd, rec) for name, (dd, rec) in sorted(expected.items())]
    wants = [full, worst_hit(expected, k), fastest_recovery(expected, k)]
    for title, table, want in zip(("full", "worst", "fastest"), tables, wants):
        if not table or table[0] != header:
            return f"report {title} header {table[:1]}"
        rows = table[1:]
        want_cells = [_cells(r) for r in want]
        if rows != want_cells:
            bad = next(
                (i for i, (a, b) in enumerate(zip(rows, want_cells)) if a != b),
                min(len(rows), len(want_cells)),
            )
            return (
                f"report {title} table differs at row {bad} "
                f"({len(rows)} vs {len(want_cells)} rows)"
            )
    return None


def metrics_digest(metrics: Metrics) -> str:
    """Order-insensitive hash of a metrics mart."""
    h = hashlib.sha256()
    for name in sorted(metrics):
        dd, rec = metrics[name]
        h.update(repr((name, None if dd is None else repr(float(dd)), rec)).encode())
    return h.hexdigest()


def read_metrics_csv(path: str) -> Metrics:
    """A metrics mart as the library's single-file CSV writer leaves
    it: empty field = NULL; ``Inf``/``-Inf``/``NaN`` spelled out."""
    out: Metrics = {}
    with open(path, newline="", encoding="utf-8") as f:
        for row in csv.DictReader(f):
            dd = row["Drawdown_2020"]
            rec = row["Recovered_Years"]
            out[row["Industry"]] = (
                float(dd) if dd != "" else None,
                int(rec) if rec != "" else None,
            )
    return out
