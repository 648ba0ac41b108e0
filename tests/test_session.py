"""The session factory's defaults and the session-artifact helper:
artifacts follow the files they were built from, clearCache() does not
demote a persisted artifact to a recompute, and the helper is the one
place session-lifetime caches live."""

from __future__ import annotations

import os
import pathlib
import re
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession

import cdc_2025_spark
from cdc_2025_spark.io import read_table, table_stamp
from cdc_2025_spark.session import artifact, get_spark

SRC = "/root/testdata/sf0.001"


def _nation_as_directory(d: str) -> None:
    os.makedirs(os.path.join(d, "nation.parquet"))
    shutil.copy(
        os.path.join(SRC, "nation.parquet"),
        os.path.join(d, "nation.parquet", "part-0.parquet"),
    )


def _add_nation_part(d: str) -> None:
    shutil.copy(
        os.path.join(SRC, "nation.parquet"),
        os.path.join(d, "nation.parquet", "part-1.parquet"),
    )


def _nation_rows(spark, d: str) -> int:
    return read_table(spark, d, "nation").count()


def _copy_embeddings(d: str) -> None:
    shutil.copy(os.path.join(SRC, "embeddings.parquet"), d)


def _truncate_embeddings(d: str) -> None:
    path = os.path.join(d, "embeddings.parquet")
    pq.write_table(pq.read_table(path).slice(0, 50), path)


def _pca_rows(spark, d: str) -> int:
    from cdc_2025_spark.queries.similarity import _pca_model

    return _pca_model(spark, d)[3]


@pytest.mark.parametrize(
    "setup, change, probe, before, after",
    [
        (_nation_as_directory, _add_nation_part, _nation_rows, 25, 50),
        (_copy_embeddings, _truncate_embeddings, _pca_rows, 500, 50),
    ],
    ids=["table-gains-part-file", "table-rewritten-in-place"],
)
def test_artifacts_rebuild_when_source_files_change(
    spark, tmp_path, setup, change, probe, before, after
):
    """One session, one sf_dir: an artifact built from a table is
    served again while the files are unchanged, and rebuilt once a
    part file is added or the file is rewritten in place."""
    d = str(tmp_path)
    setup(d)
    assert probe(spark, d) == before
    assert probe(spark, d) == before
    stamp = table_stamp(d, "nation", "embeddings")
    change(d)
    assert table_stamp(d, "nation", "embeddings") != stamp
    assert probe(spark, d) == after


def test_table_stamp_of_missing_table_is_none(tmp_path):
    assert table_stamp(str(tmp_path), "orders") == (None,)


def test_artifact_repersists_only_what_its_build_persisted(spark):
    """A persisted artifact comes back persisted at its level after an
    external clearCache(); a plain handle whose plan merely matched a
    cache entry is never persisted by the helper, and a driver-side
    value is returned as built."""
    from pyspark import StorageLevel

    base = spark.range(7).selectExpr("id * 3 AS x")
    pinned = artifact(
        spark,
        ("test_pinned",),
        lambda: base.persist(StorageLevel.DISK_ONLY),
    )
    plain = artifact(spark, ("test_plain",), lambda: base.select("x"))
    assert plain.storageLevel == StorageLevel.DISK_ONLY  # plan match
    spark.catalog.clearCache()
    assert artifact(spark, ("test_pinned",), lambda: None) is pinned
    assert pinned.storageLevel == StorageLevel.DISK_ONLY
    pinned.unpersist()
    assert artifact(spark, ("test_plain",), lambda: None) is plain
    assert plain.storageLevel == StorageLevel.NONE
    rows = [1, 2]
    assert artifact(spark, ("test_value",), lambda: rows) is rows
    assert artifact(spark, ("test_value",), lambda: None) is rows


def test_get_spark_defaults_to_available_cores(monkeypatch):
    """Unset SPARK_GRAFT_CPUS means the cores this process may run
    on, for both local[N] and the shuffle partitions."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_SHUFFLE_PARTITIONS", raising=False)
    conf = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            conf["master"] = master
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return "session"

    monkeypatch.setattr(SparkSession, "builder", Builder())
    n = len(os.sched_getaffinity(0))
    assert get_spark() == "session"
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)


def test_session_caches_live_only_in_the_artifact_helper():
    """Session-lifetime caches go through session.artifact, whose key
    covers the files an artifact read; no module keeps its own."""
    root = pathlib.Path(cdc_2025_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        if "WeakKeyDictionary" in src and path != root / "session.py":
            offenders.append(f"{path.relative_to(root)}: WeakKeyDictionary")
        offenders += [
            f"{path.relative_to(root)}: {name}"
            for name in re.findall(r"^(_\w*_CACHE)\s*[:=]", src, re.M)
        ]
    assert offenders == []
