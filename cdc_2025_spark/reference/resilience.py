"""Resilience metrics: drawdown, recovery, top-k views, shock sim, forecast.

Re-expresses src/features/resilience.py (the reference's per-group
Python loops, :30-66) as distributed Spark plans with no Python on the
hot path and no window, plus the README-promised but unimplemented
surface (README.md:4): parameterized shock simulation and per-group
trend forecast.

Duplicate-key parity: the reference takes "the first row in file order
after a stable sort by Year" (resilience.py:31-35). Spark has no
implicit row order, so parity callers thread an explicit ``_row_order``
ingest column (io.with_row_order) and each year's value is the value
of that year's least ``_row_order``. Without the column, the fallback
is the year's least value — deterministic, and identical whenever keys
are unique.

One plan shape, whose cost depends on one property of the input:
whether its plan is in Spark's cache (``df.storageLevel`` is not NONE).
Every result reads a per-group artifact built by ONE ``groupBy
(group_col)`` aggregate: the group key, the group's rows as
``sort_array(collect_list(struct(year, _row_order, value)))`` and the
least-squares fit (``regr_slope``, ``regr_intercept``, ``max(year)``).
Metrics, shocked metrics and forecasts are narrow projections over it,
per-year values read with higher-order functions. The artifact holds
every row of a group in one array, so it expects about one row per
(group, year), as the paper's facts have.

- Uncached input: the artifact is part of each result's plan, one hash
  Exchange and no Window; column pruning keeps only the aggregates the
  result reads.
- Cached input (an analysis session: many requests over one
  ``.cache()``d fact): the artifact is persisted by the first call and
  read by every later one, so each collect is one Spark job with no
  Exchange. Spark's CacheManager matches later builds of the same
  plan, and the plan carries the id of the input's cache entry, so a
  re-cached input (an equal plan, perhaps over rewritten files) gets an
  artifact of its own. Footprint: the cached input's year, order and
  value columns once more, plus four numbers per group. Lifetime: until
  ``spark.catalog.clearCache()`` or its own unpersist; unpersisting the
  input leaves it cached but never read again.

Every expression is built as a SQL string: construction costs a few
Py4J round trips whatever the number of years.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_2025_spark.io import ROW_ORDER_COL


def _q(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _cache_entry(df: DataFrame):
    """``df``'s entry in Spark's cache (a JVM ``CachedData``), or None
    when its plan is not cached (storage level NONE)."""
    found = (
        df.sparkSession._jsparkSession.sharedState()
        .cacheManager()
        .lookupCachedData(df._jdf)
    )
    return None if found.isEmpty() else found.get()


def _artifact(
    df: DataFrame, group_col: str, year_col: str, value_col: str
) -> DataFrame:
    """The per-group artifact (module docstring): ``_rows`` holds the
    group's ``(y, o, v)`` structs sorted (no ``o`` without
    ``_row_order``), next to the least-squares trend and last year the
    forecast reads. Persisted by the first call on a cached input."""
    y, v = _q(year_col), _q(value_col)
    order = f"'o', {_q(ROW_ORDER_COL)}, " if ROW_ORDER_COL in df.columns else ""
    row = f"named_struct('y', {y}, {order}'v', {v})"
    cols = [
        F.expr(f"sort_array(collect_list({row})) AS _rows"),
        F.expr(f"regr_slope({v}, {y}) AS _slope"),
        F.expr(f"regr_intercept({v}, {y}) AS _icept"),
        F.expr(f"max({y}) AS _last"),
    ]
    entry = _cache_entry(df)
    if entry is None:
        return df.groupBy(group_col).agg(*cols)
    # the id of the input entry's physical plan is new for every cache
    # of it, so a re-cached input (an equal plan, perhaps over rewritten
    # files) never matches the artifact of a former entry
    plan_id = entry.cachedRepresentation().cacheBuilder().cachedPlan().id()
    art = df.groupBy(group_col).agg(*cols, F.lit(plan_id).alias("_entry"))
    if _cache_entry(art) is None:
        art.persist()
    return art


def _year_values(
    df: DataFrame,
    group_col: str,
    year_col: str,
    value_col: str,
    years: list[int],
    shock: tuple[int, str] | None,
) -> DataFrame:
    """``group_col`` plus one ``_v{y}`` column per year: the value of
    the year's least ``_row_order`` when the input has that column,
    else the year's least value. ``shock = (year, factor)`` multiplies
    that year's values by the SQL double ``factor`` first."""
    # the rows are sorted, so a year's first row carries its least order
    # (rows with a NULL order are skipped, as SQL's min_by does). The shock
    # scales each value inside the lambda: before the min (a factor
    # below zero reverses their order), and out of the generated code,
    # which then stays the same for every factor.
    ordered = ROW_ORDER_COL in df.columns
    pick = "get({}, 0)" if ordered else "array_min({})"
    keep = " AND r.o IS NOT NULL" if ordered else ""

    def at(y):
        v = f"r.v * {shock[1]}" if shock and y == shock[0] else "r.v"
        return pick.format(
            f"transform(filter(_rows, r -> r.y = {y}{keep}), r -> {v})"
        )

    return _artifact(df, group_col, year_col, value_col).selectExpr(
        _q(group_col), *[f"{at(y)} AS `_v{y}`" for y in years]
    )


def _metrics(
    df: DataFrame,
    group_col: str,
    year_col: str,
    value_col: str,
    base_year: int,
    shock_year: int,
    horizon: int,
    shock: tuple[int, str] | None = None,
) -> DataFrame:
    recovery_years = range(base_year + 1, shock_year + horizon + 1)
    years = sorted({base_year, shock_year, *recovery_years})
    per_year = _year_values(df, group_col, year_col, value_col, years, shock)
    vb, vs = f"`_v{base_year}`", f"`_v{shock_year}`"
    # pandas float semantics for a zero base year: x/0 -> ±inf, 0/0 ->
    # NaN (witnessed in the golden mart: 'Motor vehicle and parts
    # dealers' = inf). Spark's Divide returns NULL on zero divisors in
    # legacy mode, so the zero-base branches are explicit.
    drawdown = (
        f"CASE WHEN {vb} != 0 THEN ({vs} - {vb}) / {vb}"
        f" WHEN {vs} > 0 THEN CAST('Infinity' AS DOUBLE)"
        f" WHEN {vs} < 0 THEN CAST('-Infinity' AS DOUBLE)"
        f" WHEN {vs} = 0 THEN CAST('NaN' AS DOUBLE) END"
    )
    # years ascend, so the first one that reaches the base value is the
    # least (the trailing NULL covers an empty range); y - base_year is
    # typed as the per-row year_col - int
    t = df.schema[year_col].dataType.simpleString()
    recovered = ", ".join(
        [
            f"CASE WHEN `_v{y}` >= {vb} THEN CAST({y} AS {t}) - {base_year} END"
            for y in recovery_years
        ]
        + [f"CAST(NULL AS {t}) - {base_year}"]
    )
    return per_year.filter(f"{vb} IS NOT NULL").selectExpr(
        _q(group_col),
        f"{drawdown} AS Drawdown_2020",
        f"coalesce({recovered}) AS Recovered_Years",
    )


def resilience_metrics(
    df: DataFrame,
    group_col: str = "Industry",
    year_col: str = "Year",
    value_col: str = "Real_Value",
    base_year: int = 2019,
    shock_year: int = 2020,
    horizon: int = 3,
) -> DataFrame:
    """Per-group drawdown and years-to-recovery (resilience.py:29-76).

    - ``Drawdown_2020`` = (v[shock_year] - v[base_year]) / v[base_year];
      NULL when either year is missing (resilience.py:36-37 skip ->
      NULL after the outer merge).
    - ``Recovered_Years`` = min y-base_year over
      y in (base_year+1 .. shock_year+horizon) with v[y] >= v[base_year];
      NULL if never recovered (resilience.py:54-66).
    - Groups with no base_year value are absent entirely (neither loop
      emits them; the full-outer merge at resilience.py:76 cannot
      resurrect them).

    Plan shape (module docstring): a projection over the per-group
    artifact — one hash Exchange and no Window on an uncached input, no
    Exchange on a cached one — reading one column per year the metrics
    need (base, shock and the recovery range); drawdown and recovery
    are projections over those columns. Years are integers.
    """
    return _metrics(df, group_col, year_col, value_col, base_year, shock_year, horizon)


def resilience_metrics_grouped_map(
    df: DataFrame,
    group_col: str = "Industry",
    year_col: str = "Year",
    value_col: str = "Real_Value",
    base_year: int = 2019,
    shock_year: int = 2020,
    horizon: int = 3,
) -> DataFrame:
    """The same metrics via applyInPandas (grouped-map pandas UDF) —
    the general fallback for per-group logic that conditional
    aggregates can't express (SURVEY.md §2.5 A3). Kept as the shape
    witness and agreement-tested against ``resilience_metrics``;
    the aggregate form is preferred on hot paths (Catalyst-optimized,
    no Python serialization).

    Each group's rows arrive as ONE pandas frame — per-group state,
    sorting, even scipy calls are trivial here; cost is one Arrow
    round trip per group batch and an un-prunable full-row transfer.
    """
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.types import (  # noqa: PLC0415
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("Drawdown_2020", DoubleType()),
            StructField("Recovered_Years", DoubleType()),
        ]
    )
    has_order = ROW_ORDER_COL in df.columns

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        g = (
            pdf.sort_values([year_col, ROW_ORDER_COL])
            if has_order
            else pdf.sort_values([year_col, value_col])
        )
        firsts = g.drop_duplicates(subset=[year_col], keep="first")
        by_year = dict(zip(firsts[year_col], firsts[value_col]))
        vb = by_year.get(base_year)
        if vb is None:
            return pd.DataFrame(columns=schema.fieldNames())
        vs = by_year.get(shock_year)
        if vs is None:
            dd = None
        elif vb != 0:
            dd = (vs - vb) / vb
        else:
            dd = float("inf") if vs > 0 else (float("-inf") if vs < 0 else float("nan"))
        rec = None
        for y in range(base_year + 1, shock_year + horizon + 1):
            vy = by_year.get(y)
            if vy is not None and vy >= vb:
                rec = float(y - base_year)
                break
        # Explicitly-masked FloatingArray: plain float64 folds None
        # into NaN, object dtype AND pd.array(dtype="Float64") fold
        # NaN into NULL — only a mask set from `is None` round-trips
        # None -> NULL while keeping NaN -> NaN through Arrow (the
        # zero-base 0/0 branch is a real NaN in the golden mart).
        import numpy as np  # noqa: PLC0415
        from pandas.arrays import FloatingArray  # noqa: PLC0415

        def nullable(x):
            return FloatingArray(
                np.array([0.0 if x is None else x], dtype="float64"),
                np.array([x is None]),
            )

        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "Drawdown_2020": nullable(dd),
                "Recovered_Years": nullable(rec),
            }
        )

    return df.groupBy(group_col).applyInPandas(per_group, schema)


def top_k_worst_hit(metrics: DataFrame, k: int = 10) -> DataFrame:
    """T2: 10 worst drawdowns (streamlit_app.py:18).

    pandas sorts NaN last on ascending sort; Spark sorts NULL first —
    ``asc_nulls_last`` pins pandas parity. Ties break by the group
    column (the first, NULL first), as the report's views do, so the
    rows kept at the limit do not depend on partitioning. Plans as
    TakeOrderedAndProject: distributed per-partition top-k, no full
    sort, no single-node shuffle.
    """
    return metrics.orderBy(
        F.col("Drawdown_2020").asc_nulls_last(), F.col(metrics.columns[0])
    ).limit(k)


def top_k_fastest_recovery(metrics: DataFrame, k: int = 10) -> DataFrame:
    """T2: 10 fastest recoveries after dropping never-recovered rows
    (streamlit_app.py:22-26); ties break as in ``top_k_worst_hit``."""
    return (
        metrics.na.drop(subset=["Recovered_Years"])
        .orderBy(F.col("Recovered_Years").asc_nulls_last(), F.col(metrics.columns[0]))
        .limit(k)
    )


def shock_simulation(
    df: DataFrame,
    shock_pct: float,
    shock_year: int,
    group_col: str = "Industry",
    year_col: str = "Year",
    value_col: str = "Real_Value",
    horizon: int = 3,
) -> DataFrame:
    """README.md:4's promised-but-unimplemented surface: apply a
    hypothetical shock of ``shock_pct`` (e.g. 0.15 = -15%) at
    ``shock_year`` and recompute drawdown/recovery against the prior
    year. Purely declarative: the shock-year values are scaled by
    ``1 - shock_pct`` inside the metrics' per-year columns."""
    # repr round-trips a double exactly, and so does Spark's cast
    factor = f"CAST('{float(1.0 - shock_pct)!r}' AS DOUBLE)"
    return _metrics(
        df,
        group_col,
        year_col,
        value_col,
        shock_year - 1,
        shock_year,
        horizon,
        shock=(shock_year, factor),
    )


def trend_forecast(
    df: DataFrame,
    through_year: int,
    group_col: str = "Industry",
    year_col: str = "Year",
    value_col: str = "Real_Value",
) -> DataFrame:
    """Per-group linear trend forecast (README.md:4 "forecasts ...
    based on past trends").

    Ordinary least squares per group via the built-in REGR_* aggregates
    of the per-group artifact — JVM-side, no UDF, one shuffle on an
    uncached input and none on a cached one. Returns one row per (group, future
    year) through ``through_year`` with the fitted value.
    """
    fit = _artifact(df, group_col, year_col, value_col)
    g, yr = _q(group_col), _q(year_col)
    # sequence(start, stop) counts DOWN when start > stop — guard so a
    # through_year at/before the data yields zero forecast rows, not a
    # backwards walk.
    future = (
        f"CASE WHEN _last < {through_year} THEN sequence(_last + 1, {through_year})"
        " ELSE CAST(array() AS array<int>) END"
    )
    return fit.selectExpr(
        g, f"explode({future}) AS {yr}", "_slope", "_icept"
    ).selectExpr(g, yr, f"_icept + _slope * {yr} AS forecast_value")
