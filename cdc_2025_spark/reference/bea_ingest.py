"""BEA Excel/wide-table ETL, Spark-first.

Re-expresses the reference notebook's cleaning pipeline
(CDCPROJECT_(code_for_cleaning_data_set).ipynb, cells 0-6):

  read sheet w/ header offset (nb:247,674) -> positional drop/rename
  (nb:250-253,677-680) -> melt wide->long (nb:256,683) -> inner merge
  on (Industry, Year) (nb:1098) -> null-drop (nb:1101) -> derive
  Real_Value (nb:1104) -> coerce Year + range filter (nb:1107-1112) ->
  pivot long->wide with mean (nb:1591).

Excel itself stays OUTSIDE the engine: sheets are tiny (~105 rows) and
driver-side, so ``ingest_excel_sheet`` uses pandas+openpyxl when
available and everything downstream is pure Spark. The load-bearing
subtleties preserved (SURVEY.md §1.4): indentation-encoded hierarchy is
kept verbatim in the Industry string; duplicate same-depth names fan
out 2x2 through the many-to-many merge; ``pivot_wide`` averages
duplicates exactly like pandas ``pivot_table``'s default aggfunc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ingest_excel_sheet(
    spark: SparkSession, path: str, sheet_name: str, skiprows: int = 5
) -> DataFrame:
    """S1/S2: Excel sheet -> typed wide DataFrame (driver-side pandas).

    Mirrors ``pd.read_excel(path, sheet_name=..., skiprows=5)`` plus the
    positional first-column drop and second-column rename to Industry
    (nb:247-253). Uses pandas' reader when an engine (openpyxl) is
    installed, else the built-in OOXML reader — callers at scale land
    raw data as Parquet and skip this boundary entirely.
    """
    import pandas as pd  # noqa: PLC0415

    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name, skiprows=skiprows)
    except (ImportError, ModuleNotFoundError):
        from cdc_2025_spark.excel import read_xlsx  # noqa: PLC0415

        pdf = read_xlsx(path, skiprows=skiprows, sheet_name=sheet_name)
    return ingest_wide(spark, spark.createDataFrame(pdf))


def ingest_wide(spark: SparkSession, wide: DataFrame) -> DataFrame:
    """Positional cleanup of a raw BEA wide sheet already in Spark.

    Drops column 0 (row numbering, nb:250) and renames column 1 to
    ``Industry`` (nb:253). Column *positions*, not names — the raw sheet
    has an unnamed industry column.
    """
    cols = wide.columns
    out = wide.drop(cols[0])
    return out.withColumnRenamed(out.columns[0], "Industry")


def melt_wide(wide: DataFrame, value_name: str) -> DataFrame:
    """R1: wide->long unpivot of all non-Industry columns (nb:256,683).

    Year arrives as a string column (it may contain non-year footnote
    column names — cleaned later by the coerce step, exactly like the
    reference). Uses Spark's native ``unpivot`` (Spark >= 3.4): a
    narrow, shuffle-free transformation that scales linearly.
    """
    value_cols = [c for c in wide.columns if c != "Industry"]
    melted = wide.unpivot(
        ids=["Industry"],
        values=[
            # try_cast: invalid -> NULL under ANSI too (pd.to_numeric
            # errors="coerce" semantics must not depend on session mode)
            F.col(f"`{c}`").try_cast("double").alias(c)
            for c in value_cols
        ],
        variableColumnName="Year",
        valueColumnName=value_name,
    )
    return melted


def clean_merge(
    nominal_long: DataFrame,
    price_long: DataFrame,
    year_min: int = 2012,
    year_max: int = 2023,
) -> DataFrame:
    """J1 + P3-P6: the cell-3 cleaning pipeline (nb:1098-1112).

    inner merge on (Industry, Year) — deliberately many-to-many so
    duplicate same-depth industry names fan out (SURVEY.md §1.4) —
    then drop rows with suppressed values, derive deflated Real_Value,
    coerce Year to int dropping non-year melt artifacts, and keep the
    2012-2023 range.

    Scale: both sides shuffle on (Industry, Year) unless one is small
    enough to broadcast (AQE decides); the year-range filter is pushed
    below the join by Catalyst.
    """
    merged = nominal_long.join(price_long, ["Industry", "Year"], "inner")
    cleaned = merged.na.drop(subset=["Nominal_Value", "Price_Index"])
    derived = cleaned.withColumn(
        "Real_Value", F.col("Nominal_Value") * (F.lit(100.0) / F.col("Price_Index"))
    )
    # pd.to_numeric(errors="coerce") ≡ try_cast-to-double (invalid ->
    # NULL, in ANSI and non-ANSI sessions alike)
    year_ok = derived.withColumn(
        "Year", F.col("Year").try_cast("double")
    ).na.drop(subset=["Year"])
    typed = year_ok.withColumn("Year", F.col("Year").cast("int"))
    return typed.filter(
        (F.col("Year") >= year_min) & (F.col("Year") <= year_max)
    ).select("Industry", "Year", "Nominal_Value", "Price_Index", "Real_Value")


def pivot_wide(fact: DataFrame, values: str = "Real_Value") -> DataFrame:
    """R2: long->wide pivot with MEAN over duplicates (nb:1591-1593).

    pandas ``pivot_table`` silently averages duplicate
    (Industry, Year) keys (default aggfunc); ``avg`` — not ``first`` —
    is required for golden parity. One hash shuffle on Industry: each
    year column is a conditional ``avg(CASE WHEN Year <=> y THEN
    value END)`` in a single aggregate, so there is no (Industry, Year)
    exchange and no PivotFirst. The ~12 distinct years are collected
    unsorted and ordered on the driver, NULL first as Spark's ``asc``
    orders them, which keeps the sort and its range-sampling job out
    of the probe. Columns are named like Spark's pivot names them
    (``str`` of the year, ``null`` for a NULL year).
    """
    years = sorted(
        (r[0] for r in fact.select("Year").distinct().collect()),
        key=lambda y: (y is not None, y),
    )
    year = F.col("Year")
    cols = [
        F.avg(F.when(year.eqNullSafe(y), F.col(values))).alias(
            "null" if y is None else str(y)
        )
        for y in years
    ]
    # only an empty fact has no years: its pivot is the Industry column
    wide = (
        fact.groupBy("Industry").agg(*cols)
        if cols
        else fact.select("Industry").distinct()
    )
    return wide.orderBy("Industry")
