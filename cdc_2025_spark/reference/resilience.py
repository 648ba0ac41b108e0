"""Resilience metrics: drawdown, recovery, top-k views, shock sim, forecast.

Re-expresses src/features/resilience.py (the reference's per-group
Python loops, :30-66) as ONE distributed aggregation — no Python on the
hot path, no window, one hash shuffle on the group key — plus the
README-promised but unimplemented surface (README.md:4): parameterized
shock simulation and per-group trend forecast.

Duplicate-key parity: the reference takes "the first row in file order
after a stable sort by Year" (resilience.py:31-35). Spark has no
implicit row order, so parity callers thread an explicit ``_row_order``
ingest column (io.with_row_order) and each year's value is
``min_by(value, _row_order)`` over that year's rows. Without the
column, the fallback is the year's ``min(value)`` — deterministic, and
identical whenever keys are unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_2025_spark.io import ROW_ORDER_COL


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

    Plan shape: ONE ``groupBy(group_col)`` aggregate with one column
    per year the metrics read (base, shock and the recovery range),
    each a conditional ``min_by``/``min`` over that year's rows;
    drawdown and recovery are projections over those columns. One
    hash Exchange, no Window, partial (map-side combined) aggregation:
    the shuffle carries at most one row per group per input partition.
    Years are integers.
    """
    recovery_years = range(base_year + 1, shock_year + horizon + 1)
    year, value = F.col(year_col), F.col(value_col)
    if ROW_ORDER_COL in df.columns:
        def at(y):
            return F.min_by(value, F.when(year == y, F.col(ROW_ORDER_COL)))
    else:
        def at(y):
            return F.min(F.when(year == y, value))

    years = sorted({base_year, shock_year, *recovery_years})
    per_group = df.groupBy(group_col).agg(*[at(y).alias(f"_v{y}") for y in years])
    v_base, v_shock = F.col(f"_v{base_year}"), F.col(f"_v{shock_year}")
    # pandas float semantics for a zero base year: x/0 -> ±inf, 0/0 ->
    # NaN (witnessed in the golden mart: 'Motor vehicle and parts
    # dealers' = inf). Spark's Divide returns NULL on zero divisors in
    # legacy mode, so the zero-base branches are explicit.
    drawdown = (
        F.when(v_base != 0, (v_shock - v_base) / v_base)
        .when(v_shock > 0, F.lit(float("inf")))
        .when(v_shock < 0, F.lit(float("-inf")))
        .when(v_shock == 0, F.lit(float("nan")))
    )
    # years ascend, so the first one that reaches the base value is the
    # least (the trailing NULL covers an empty range); y - base_year is
    # typed as the per-row year_col - int
    year_type = df.schema[year_col].dataType
    recovered = F.coalesce(
        *[
            F.when(F.col(f"_v{y}") >= v_base, F.lit(y).cast(year_type) - base_year)
            for y in recovery_years
        ],
        F.lit(None).cast(year_type) - base_year,
    )
    return per_group.filter(v_base.isNotNull()).select(
        group_col,
        drawdown.alias("Drawdown_2020"),
        recovered.alias("Recovered_Years"),
    )


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
    ``asc_nulls_last`` pins pandas parity. Plans as
    TakeOrderedAndProject: distributed per-partition top-k, no full
    sort, no single-node shuffle.
    """
    return metrics.orderBy(F.col("Drawdown_2020").asc_nulls_last()).limit(k)


def top_k_fastest_recovery(metrics: DataFrame, k: int = 10) -> DataFrame:
    """T2: 10 fastest recoveries after dropping never-recovered rows
    (streamlit_app.py:22-26)."""
    return (
        metrics.na.drop(subset=["Recovered_Years"])
        .orderBy(F.col("Recovered_Years").asc_nulls_last())
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
    year. Purely declarative: one withColumn + the metrics aggregation.
    """
    shocked = df.withColumn(
        value_col,
        F.when(
            F.col(year_col) == shock_year,
            F.col(value_col) * (1.0 - F.lit(shock_pct)),
        ).otherwise(F.col(value_col)),
    )
    return resilience_metrics(
        shocked,
        group_col=group_col,
        year_col=year_col,
        value_col=value_col,
        base_year=shock_year - 1,
        shock_year=shock_year,
        horizon=horizon,
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
    — JVM-side, one shuffle, no UDF. Returns one row per (group,
    future year) through ``through_year`` with the fitted value.
    """
    fit = df.groupBy(group_col).agg(
        F.regr_slope(F.col(value_col), F.col(year_col)).alias("slope"),
        F.regr_intercept(F.col(value_col), F.col(year_col)).alias("intercept"),
        F.max(year_col).alias("last_year"),
    )
    # sequence(start, stop) counts DOWN when start > stop — guard so a
    # through_year at/before the data yields zero forecast rows, not a
    # backwards walk.
    future = fit.withColumn(
        year_col,
        F.explode(
            F.when(
                F.col("last_year") < through_year,
                F.sequence(F.col("last_year") + 1, F.lit(through_year)),
            ).otherwise(F.array().cast("array<int>"))
        ),
    )
    return future.select(
        group_col,
        year_col,
        (F.col("intercept") + F.col("slope") * F.col(year_col)).alias(
            "forecast_value"
        ),
    )
