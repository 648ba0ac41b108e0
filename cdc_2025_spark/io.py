"""Typed IO boundary: readers and writers.

Reference behaviors covered (SURVEY.md §2.1):

- S3 CSV scan — the committed golden ``clean_va_price.csv`` starts with
  two blank lines before the header; pandas skips blank lines by
  default, Spark does not, so the reader handles it explicitly.
- S6 CSV sink — single-file output for golden parity (tiny results
  only; large results keep their natural partitioning).
- Parquet star-schema loading for /root/testdata, with a helper that
  registers every table as a temp view so queries can be written in
  pure SQL too.

Scale notes: parquet readers here rely on Catalyst pushdown (filters,
column pruning, partition pruning) — callers express predicates on the
DataFrame and the scan narrows automatically. ``with_row_order`` is the
one deliberately non-declarative piece: Spark has no implicit row
order, but the reference's duplicate-key semantics are file-order
dependent (SURVEY.md §1.4), so parity paths thread an explicit
monotonically-increasing ingest column instead.
"""

from __future__ import annotations

import glob
import os
import shutil
import stat
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_2025_spark.schemas import STAR_SCHEMAS, TABLE_NAMES
from cdc_2025_spark.session import artifact

ROW_ORDER_COL = "_row_order"


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema (S3).

    ``mode=DROPMALFORMED`` is NOT used; blank leading lines (present in
    the reference golden CSVs) parse as all-null rows, which we drop
    only when every column is null — matching pandas' skip-blank-lines
    default without risking real data.
    """
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    return df.na.drop(how="all")


def with_row_order(df: DataFrame) -> DataFrame:
    """Attach a monotonically increasing ``_row_order`` column.

    Values are increasing within and across partitions in partition
    order, which for a single-file CSV read equals file order — exactly
    the property the reference's first-match-wins lookups depend on
    (src/features/resilience.py:34-35).
    """
    return df.withColumn(ROW_ORDER_COL, F.monotonically_increasing_id())


def write_single_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S6: single-file CSV sink for golden-parity outputs (small data).

    Writes via coalesce(1) into a temp dir, then moves the part file to
    ``path``. Only for results that fit on one node — large outputs
    should use ``df.write`` with natural partitioning.
    """
    tmp = tempfile.mkdtemp(prefix="cdc_csv_")
    try:
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("header", header)
            .option("emptyValue", "")
            # Spark's CSV WRITER trims whitespace by default; the
            # Industry hierarchy is indentation-encoded (SURVEY.md
            # §1.4), so preserve it.
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSONL scan — the standard interchange format for LLM training
    corpora (one JSON document per line, splittable, append-friendly).

    Schema-EXPLICIT by policy: at 100 TB, schema inference is a full
    extra pass over the data. Malformed lines are quarantined into
    ``corrupt_col`` (PERMISSIVE mode) instead of failing the job or
    vanishing — a corpus ingest must account for every input line.
    Callers filter ``corrupt_col IS NULL`` for the clean stream and
    ``IS NOT NULL`` for the quarantine stream — but must ``.cache()``
    (or persist/write) the parsed frame first: Spark refuses plans
    that reference only the corrupt column of a raw JSON scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    """
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if schema is not None:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if corrupt_col not in [f.name for f in schema.fields]:
            # copy before extending: StructType.add mutates self, and
            # callers often pass df.schema, which is cached on the
            # source DataFrame — extending it in place would leak a
            # phantom corrupt column into the caller's schema
            schema = StructType(list(schema.fields)).add(
                corrupt_col, "string"
            )
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """JSONL sink with optional hive-style partitioning — lines are
    written by executors in parallel (no single-file collapse; corpus
    exports are large by definition). ``compression='gzip'|'zstd'``
    for wire formats; None keeps lines greppable."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_single_excel(
    df: DataFrame,
    path: str,
    sheet_name: str = "Sheet1",
    max_rows: int = 100_000,
) -> None:
    """S5: single-file Excel sink — the reference's ``to_excel`` export
    boundary (CDCPROJECT notebook nb:1977,1996).

    Driver-side by definition (Excel is an export format for small
    result tables, not a lake format): collects at most
    ``max_rows + 1`` rows to pandas in one evaluation of the frame,
    refuses if the extra row came back, and writes one sheet. Delegates to
    ``pandas.to_excel`` when an engine (openpyxl/xlsxwriter) is
    installed; otherwise uses the built-in minimal OOXML writer
    (cdc_2025_spark.excel), which preserves leading whitespace — the
    Industry column is indentation-encoded.
    """
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"refusing to export more than {max_rows} rows to a single "
            "Excel sheet; write parquet for large results"
        )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    try:
        pdf.to_excel(path, sheet_name=sheet_name, index=False)
    except (ImportError, ModuleNotFoundError):
        from cdc_2025_spark.excel import write_xlsx  # noqa: PLC0415

        write_xlsx(pdf, path, sheet_name=sheet_name)


def _table_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


# Scan-spread support (r15 optimization, guide §2 "make partitioning
# scale-adaptive"): Spark's vectorized parquet reader cannot split a
# row group across tasks, so a table written as ONE row group scans as
# ONE task no matter how many cores the session has — and every narrow
# per-row expression after the scan (tokenize/shingle/md5/unpack) runs
# single-threaded until the first exchange. The testdata tables are
# exactly that shape (one file, one row group). ``spread_key`` callers
# ask for a hash-repartition on the table's unique key to the session
# parallelism — but ONLY when the file layout actually starves the
# scan (row groups < cores). At 100 TB the same table arrives as
# thousands of row groups, the guard is false, and no corpus-sized
# shuffle is ever added: the knob adapts to layout instead of pinning
# either regime. Deterministic hash partitioning (not round-robin):
# no sort-before-repartition pass, stable under task retry.
def _scan_row_groups(path: str) -> int:
    """Total parquet row groups under ``path`` (file or directory) —
    the scan's maximum task parallelism. Footer-only reads."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_row_groups for f in _table_files(path)
    )


def _path_stamp(path: str):
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    if stat.S_ISDIR(st.st_mode):
        return tuple(_path_stamp(f) for f in _table_files(path))
    return st.st_mtime_ns, st.st_size


def table_stamp(sf_dir: str, *tables: str) -> tuple:
    """Each table's ``(mtime_ns, size)`` — a tuple of them, one per
    part file, for a directory; ``None`` when missing. The key part
    of a session artifact built from these tables."""
    return tuple(
        _path_stamp(os.path.join(sf_dir, f"{name}.parquet")) for name in tables
    )


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread_key: str | None = None,
) -> DataFrame:
    """Read one star-schema table from a testdata scale-factor dir.

    events.parquet carries TIMESTAMP(NANOS), which Spark's reader
    rejects outright; the session-settable legacy conf reads it as
    long nanoseconds, converted here to a micro-truncated timestamp —
    the same truncation DuckDB applies, so oracle comparisons agree.

    The handle is a session artifact keyed on the table's stamp:
    ``spark.read.parquet`` costs ~100-200 ms (file listing + footer
    schema resolution), so builds over unchanged files share one
    unresolved plan handle. No data is pinned.

    ``spread_key``: hash-repartition the scan on this (unique-key)
    column to the session's default parallelism — but only when the
    parquet layout would otherwise starve the scan (fewer row groups
    than cores; see ``_scan_row_groups``). For callers whose dominant
    cost is narrow per-row compute directly on the scanned rows.
    """
    if name not in STAR_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")

    def open_table() -> DataFrame:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                # integer `div`, not float division: nano longs exceed
                # double's 53-bit exact range, float rounding would
                # shift some timestamps by 1us vs DuckDB's truncation
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
        else:
            df = spark.read.parquet(path)
        parallelism = spark.sparkContext.defaultParallelism
        if spread_key is not None and _scan_row_groups(path) < parallelism:
            df = df.repartition(parallelism, spread_key)
        return df

    key = ("table", os.path.abspath(sf_dir), name, spread_key,
           table_stamp(sf_dir, name))
    return artifact(spark, key, open_table)


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every star-schema table and register temp views.

    Registering views lets operators be written either as DataFrame
    chains or ``spark.sql`` — both produce the same Catalyst plan.
    """
    tables = {}
    for name in TABLE_NAMES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        tables[name] = df
    return tables


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (Spark-native, no extra jars): the columnar
    alternative when the downstream reader is Hive/Trino-first.
    Same pushdown/pruning behavior class as parquet."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — predicate pushdown and column pruning work exactly
    as with parquet (pinned in tests/test_io_formats.py)."""
    return spark.read.orc(path)


def read_text_corpus(
    spark: SparkSession, path: str, whole_files: bool = False
) -> DataFrame:
    """Raw-text ingestion for corpus building: one row per LINE
    (default — splittable, the shape line-oriented corpora ship in)
    or one row per FILE (``whole_files=True`` — document-per-file
    layouts; NOT splittable, each file is read by one task, so only
    for many-small-file corpora).

    Emits (source_file, text). No line numbers by design: a
    distributed text scan has no intrinsic row order, and promising
    one would require a per-file sort the data can't pay for at
    scale — carry provenance in the path and content instead.
    """
    return spark.read.text(path, wholetext=whole_files).select(
        F.input_file_name().alias("source_file"),
        F.col("value").alias("text"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED (and optionally sort-within-
    bucket) managed table — the storage-level co-location lever for
    repeated large-to-large joins and aggregations: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange on either side (Spark plans a SortMergeJoin straight
    over the bucket files), and a groupBy on the bucket key skips its
    shuffle the same way. At 100 TB this converts every recurring
    fact-fact join from a full-corpus shuffle into a per-bucket local
    merge — the single biggest repeated-query win the storage layout
    can buy; the price is one bucketed write (a full shuffle) paid
    ONCE at ingest instead of per query.

    ``sort_cols`` additionally orders rows inside each bucket file
    (sortBy), which lets the merge join skip its per-task sort.
    Bucket pruning: an equality filter on the bucket column scans
    1/n_buckets of the files.

    The exchange-free join plan is pinned by tests/test_bucketing.py
    (plan-shape assertions, the test_plan_shape posture)."""
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w = df.write.mode(mode).bucketBy(
        n_buckets, bucket_cols[0], *bucket_cols[1:]
    )
    if sort_cols:
        w = w.sortBy(sort_cols[0], *sort_cols[1:])
    w.format("parquet").saveAsTable(table)
