"""Row accounting of versioned commits: after every kind of commit,
the manifest's ``n_rows`` is the number of rows a read of the snapshot
returns — the rows actually committed, taken from the written files'
footers, also when the committed frame is non-deterministic."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cdc_2025_spark.versioned import (
    delete_versioned,
    history,
    merge_versioned,
    optimize_versioned,
    read_versioned,
    update_versioned,
    write_versioned,
)

SCHEMA = "id long, v string"


def _assert_accounted(spark, t):
    assert history(t)[-1]["n_rows"] == read_versioned(spark, t).count()


def test_n_rows_matches_reads_across_commit_kinds(spark, tmp_path):
    t = str(tmp_path / "tbl")

    def frame(ids):
        return spark.createDataFrame([(i, f"v{i}") for i in ids], SCHEMA)

    steps = [
        lambda: write_versioned(frame(range(5)), t),
        lambda: write_versioned(frame(range(5, 8)), t, mode="append"),
        lambda: write_versioned(
            spark.createDataFrame([], SCHEMA), t, mode="append"
        ),
        lambda: write_versioned(
            spark.range(100, 160)
            .repartition(4)
            .selectExpr("id", "CAST(id AS STRING) AS v"),
            t,
            mode="append",
        ),
        lambda: delete_versioned(spark, t, [("id", "<", 3)]),
        lambda: update_versioned(
            spark, t, {"v": "'updated'"}, [("id", ">=", 150)]
        ),
        lambda: merge_versioned(spark, t, frame([4, 6, 200, 201]), ["id"]),
        lambda: optimize_versioned(spark, t),
        lambda: delete_versioned(spark, t, [("id", ">=", 0)]),
        lambda: write_versioned(frame(range(20, 30)), t, mode="overwrite"),
    ]
    for step in steps:
        step()
        _assert_accounted(spark, t)
    assert [m["operation"].split(":")[0] for m in history(t)] == [
        "create", "append", "append", "append", "delete", "update",
        "merge", "optimize", "delete", "overwrite",
    ]


def test_n_rows_of_a_nondeterministic_frame(spark, tmp_path):
    """A frame whose row count differs between evaluations: counting
    it and then writing it records a count of a different evaluation
    than the one committed. The footers count the committed one."""
    coin = F.udf(lambda: random.random() < 0.5, "boolean").asNondeterministic()
    df = spark.range(20000).filter(coin()).selectExpr(
        "id", "CAST(id AS STRING) AS v"
    )
    t = str(tmp_path / "tbl")
    write_versioned(df, t)
    _assert_accounted(spark, t)
    write_versioned(df, t, mode="append")
    _assert_accounted(spark, t)
