"""Versioned parquet tables: snapshots, time travel, rollback,
vacuum — the lakehouse transaction-log core (the public Delta /
Iceberg design) in its plain-parquet form.

Layout::

    <table>/
      _manifests/v00000001.json   # one immutable manifest per commit
      data/<version>-<nonce>/     # one immutable data dir per write

A manifest lists the data dirs that make up its snapshot, so a
version is READ by unioning exactly those dirs — writers never
mutate existing files, readers never see a half-commit. The commit
protocol is write-data -> write-manifest-tmp -> hard-LINK into place:
``os.link`` fails if the target exists, which makes version
assignment an atomic compare-and-swap — two concurrent writers race
for the same version number and exactly one wins (optimistic
concurrency, the Delta protocol's conflict rule); the loser retries
against the new latest snapshot. A crash before the link leaves an
orphan data dir that no manifest references — invisible to every
reader, reclaimed by ``vacuum``.

Scale posture: manifests are a few KB of JSON regardless of table
size (they list directories, not rows); data dirs are written by
ordinary distributed writers; reads are plain multi-path parquet
scans with all the usual pushdown/pruning. Every commit reads its
row counts from the parquet FOOTERS of the files it just wrote (and
of the dirs it rewrites) — no Spark job, no data pages — so a
manifest's ``n_rows`` is the rows actually committed, even for a
non-deterministic frame. The same footer pass harvests per-data-dir
MIN/MAX column stats into the manifest, so
``read_versioned(..., predicates=[...])`` skips whole directories
whose stats preclude a match BEFORE any scan is planned — on an
append-accumulated table, a point or range read touches only the
commits that can hold it (manifest-level data skipping, the
Delta/Iceberg stats-pruning design in its plain-parquet form).
Numeric and string stats only; columns without stats are always
kept (safe), and the conjunctive predicates are ALSO applied as a
plain filter so the returned frame is exact, not a superset.
Schema is pinned at table creation: an append with a different
schema REFUSES (schema evolution is a format feature, silently
unioning mismatched schemas is a corruption).

Reference surface: the reference repo overwrites its CSV outputs in
place on every run (resilience.py:82) — this is the operator that
makes such outputs reproducible, diffable, and recoverable at lake
scale.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:08d}.json")


def _list_versions(path: str) -> list[int]:
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


def latest_version(path: str) -> int | None:
    """Highest committed version, or None for a non-table path."""
    vs = _list_versions(path)
    return vs[-1] if vs else None


def version_as_of(path: str, ts: float) -> int:
    """TIME TRAVEL BY TIMESTAMP: the highest version committed at or
    before unix time ``ts`` (Delta's timestampAsOf rule). Raises if
    the table did not exist yet at ``ts``.

    Each manifest's EFFECTIVE timestamp is clamped to
    ``max(own committed_at, parent's effective)`` while scanning —
    Delta's monotonic-timestamp adjustment. A CAS-retried commit (or
    clock skew between concurrent writers) can land a higher version
    with an earlier wall clock; without the clamp, timestamp
    resolution would disagree with version order."""
    best = None
    eff = float("-inf")
    for v in _list_versions(path):
        eff = max(eff, _read_manifest(path, v)["committed_at"])
        if eff <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no version committed at or before ts={ts}"
        )
    return best


def history(path: str) -> list[dict]:
    """Every committed manifest, oldest first — the table's audit
    log (version, operation, parent, data dirs, row count, schema,
    commit wall time)."""
    return [_read_manifest(path, v) for v in _list_versions(path)]


def _dir_footers(data_dir: str) -> tuple[int, dict]:
    """One pass over every parquet footer in a data dir, read from
    file METADATA (pyarrow) — no Spark job, no data pages touched.
    Returns the dir's row count and its per-column [min, max] stats.
    Stats cover numeric and utf8 columns only (binary stats are
    truncation-prone and date/ts objects are not JSON); a column
    missing from any footer is dropped (no stats = never pruned =
    always safe)."""
    import pyarrow.parquet as pq

    n_rows = 0
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    seen_files = 0
    dropped: set[str] = set()
    for root, _dirs, files in os.walk(data_dir):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            seen_files += 1
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            n_rows += md.num_rows
            file_cols: set[str] = set()
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    st = col.statistics
                    name = col.path_in_schema
                    if (
                        st is None
                        or not st.has_min_max
                        or name in dropped
                    ):
                        dropped.add(name)
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except UnicodeDecodeError:
                            dropped.add(name)
                            continue
                    if not isinstance(mn, (int, float, str)) or (
                        isinstance(mn, bool)
                    ):
                        dropped.add(name)
                        continue
                    file_cols.add(name)
                    if name not in mins or mn < mins[name]:
                        mins[name] = mn
                    if name not in maxs or mx > maxs[name]:
                        maxs[name] = mx
            # a column absent from a file's footer has unknown range
            for name in list(mins):
                if name not in file_cols:
                    dropped.add(name)
    return n_rows, {
        name: [mins[name], maxs[name]]
        for name in mins
        if name not in dropped and seen_files > 0
    }


def _dirs_rows(path: str, dirs: list[str]) -> int:
    """Committed rows in a table's data dirs, summed from footers."""
    return sum(_dir_footers(os.path.join(path, d))[0] for d in dirs)


_OPS = ("==", "=", ">=", "<=", ">", "<")


def _dir_may_match(stats: dict, predicates) -> bool:
    """Conjunctive min/max pruning: False only when some predicate
    is IMPOSSIBLE given the dir's stats; unknown columns or ops
    never prune (skipping must be safe, not clever)."""
    for col, op, val in predicates:
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op {op!r}")
        rng = stats.get(col)
        if not rng:
            continue
        mn, mx = rng
        if type(val) is bool or not isinstance(
            val, (int, float, str)
        ):
            raise ValueError(
                f"predicate value for {col!r} must be a number or "
                f"string, got {type(val).__name__}"
            )
        if isinstance(val, str) != isinstance(mn, str):
            continue  # type mismatch vs stats: keep (safe)
        if op in ("==", "="):
            if val < mn or val > mx:
                return False
        elif op == ">" and mx <= val:
            return False
        elif op == ">=" and mx < val:
            return False
        elif op == "<" and mn >= val:
            return False
        elif op == "<=" and mn > val:
            return False
    return True


def _merge_schemas(prev_ddl: str, new_ddl: str) -> str:
    """ADDITIVE schema evolution (the Delta mergeSchema rule): every
    column present in both snapshots must keep its exact type; new
    columns append to the pinned schema (old rows read them as
    NULL); a column may also be absent from the incoming frame
    (written as missing, read back as NULL). Type changes and any
    other reshaping REFUSE — silent coercion is a corruption."""
    from pyspark.sql.types import StructType  # noqa: PLC0415

    prev = StructType.fromDDL(prev_ddl)
    new = StructType.fromDDL(new_ddl)
    prev_types = {f.name: f.dataType for f in prev.fields}
    for f in new.fields:
        if f.name in prev_types and prev_types[f.name] != f.dataType:
            raise ValueError(
                f"schema evolution is ADDITIVE only: column "
                f"{f.name!r} changes type "
                f"{prev_types[f.name].simpleString()} -> "
                f"{f.dataType.simpleString()}"
            )
    merged = list(prev.fields) + [
        f for f in new.fields if f.name not in prev_types
    ]
    return StructType(merged).simpleString()


def write_versioned(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_retries: int = 5,
    merge_schema: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """Commit ``df`` as a new snapshot. ``mode='append'`` adds the
    rows to the latest snapshot; ``'overwrite'`` replaces it.
    Returns the committed version. Retries the version CAS up to
    ``max_retries`` times on a concurrent-writer conflict. The frame
    is evaluated once, by the write: the manifest's row count comes
    from the written files' footers, no Spark job.
    ``merge_schema=True`` allows ADDITIVE schema evolution on
    append (new columns; old rows read them as NULL — the Delta
    mergeSchema rule); type changes always refuse.

    ``txn=(app_id, version)`` makes the commit IDEMPOTENT per
    application (Delta's txnAppId/txnVersion): the manifest records
    the highest committed txn version per app, and a write whose
    txn version is <= the recorded one is SKIPPED (returns the
    current table version, commits nothing) — exactly-once
    semantics for a replayed Structured Streaming foreachBatch
    (pass (query_name, batch_id))."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append/overwrite, got {mode!r}")
    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
    schema_ddl = df.schema.simpleString()
    for attempt in range(max_retries):
        vs = _list_versions(path)
        version = (vs[-1] + 1) if vs else 1
        evolved = False
        commit_schema = schema_ddl
        if vs:
            prev = _read_manifest(path, vs[-1])
            if prev["schema"] != schema_ddl:
                if not merge_schema:
                    raise ValueError(
                        "schema mismatch vs the table's pinned "
                        f"schema: {schema_ddl} != {prev['schema']} "
                        "— pass merge_schema=True for ADDITIVE "
                        "evolution on append (or an explicit schema "
                        "re-pin on overwrite); anything implicit "
                        "refuses (silently unioning mismatched "
                        "snapshots is a corruption)"
                    )
                if mode == "append":
                    commit_schema = _merge_schemas(
                        prev["schema"], schema_ddl
                    )
                    evolved = True
                # overwrite + merge_schema: explicit re-pin; the new
                # snapshot holds only the new dir, no merge needed
        if txn is not None and vs:
            app_id, txn_v = txn
            seen = prev.get("txns", {}).get(app_id)
            if seen is not None and txn_v <= seen:
                return vs[-1]  # replayed batch: idempotent skip
        if vs:
            _check_constraints(
                df, prev.get("constraints", {}), "the incoming frame"
            )
        nonce = f"{os.getpid():x}{int(time.time() * 1e6) & 0xFFFFFF:x}a{attempt}"
        rel_dir = f"{_DATA_DIR}/{version:08d}-{nonce}"
        data_dir = os.path.join(path, rel_dir)
        df.write.mode("overwrite").parquet(data_dir)
        n_rows, dir_stats = _dir_footers(data_dir)
        stats = {rel_dir: dir_stats}
        if mode == "append" and vs:
            dirs = prev["data_dirs"] + [rel_dir]
            total = prev["n_rows"] + n_rows
            stats = {**prev.get("dir_stats", {}), **stats}
        else:
            dirs = [rel_dir]
            total = n_rows
        manifest = {
            "version": version,
            "parent": vs[-1] if vs else None,
            "operation": mode if vs else "create",
            "data_dirs": dirs,
            "n_rows": total,
            "schema": commit_schema,
            "schema_evolved": evolved or (
                bool(vs) and mode == "append"
                and prev.get("schema_evolved", False)
            ),
            "constraints": (
                prev.get("constraints", {}) if vs else {}
            ),
            "txns": {
                **(prev.get("txns", {}) if vs else {}),
                **(
                    {txn[0]: txn[1]} if txn is not None else {}
                ),
            },
            "dir_stats": stats,
            "committed_at": time.time(),
        }
        if _commit_manifest(path, manifest, version, nonce):
            return version
        shutil.rmtree(data_dir, ignore_errors=True)  # retry on the new latest
    raise RuntimeError(
        f"lost the version CAS {max_retries} times — writer storm; "
        "raise max_retries or serialize the writers"
    )


def read_versioned(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """Read a snapshot: the latest, or TIME TRAVEL to any committed
    ``version``. Reads exactly the manifest's data dirs — orphan
    dirs from crashed writers are invisible by construction.

    ``predicates`` — a conjunctive list of ``(column, op, value)``
    with op in ==/=/>=/<=/>/< and a number or string value — turns
    on MANIFEST-LEVEL DATA SKIPPING: data dirs whose committed
    min/max stats preclude a match are dropped before any scan is
    planned (dirs without stats for a column are always kept), and
    the same predicates are applied as a plain filter so the result
    is exactly the filtered snapshot, never a superset. On an
    append-accumulated table a point read touches only the commits
    that can hold the key."""
    vs = _list_versions(path)
    if not vs:
        raise ValueError(f"{path} holds no committed versions")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(
            f"version {v} does not exist (committed: {vs[0]}..{vs[-1]})"
        )
    m = _read_manifest(path, v)
    dirs = m["data_dirs"]
    if predicates:
        stats = m.get("dir_stats", {})
        dirs = [
            d
            for d in dirs
            if _dir_may_match(stats.get(d, {}), predicates)
        ]
    from pyspark.sql.types import StructType  # noqa: PLC0415

    schema = StructType.fromDDL(m["schema"])
    if not dirs:
        return spark.createDataFrame([], schema)
    # Always read with the MANIFEST's schema, never footer sampling:
    # dirs written before an additive evolution lack the new columns
    # (they surface as NULL), and which dirs survive stats-pruning
    # must never change the result schema — a predicate on an evolved
    # column over only pre-evolution dirs returns the filtered
    # (empty) frame instead of UNRESOLVED_COLUMN, and a rolled-back
    # evolved snapshot reads all its columns regardless of any
    # manifest flag.
    df = spark.read.schema(schema).parquet(
        *[os.path.join(path, d) for d in dirs]
    )
    if predicates:
        df = df.filter(_predicate_column(predicates))
    return df


def rollback(path: str, version: int, max_retries: int = 5) -> int:
    """NON-destructive rollback: commit a new manifest whose data
    dirs are exactly ``version``'s — history is preserved (the bad
    versions stay readable for forensics), readers of 'latest' see
    the restored snapshot. Returns the new version. The version CAS
    retries on a concurrent-writer conflict like every other commit
    path (the target snapshot being restored does not move, so a
    retry just takes the next version number)."""
    if version not in _list_versions(path):
        raise ValueError(f"cannot roll back to missing version {version}")
    target = _read_manifest(path, version)
    for attempt in range(max_retries):
        vs = _list_versions(path)
        new_v = vs[-1] + 1
        manifest = {
            "version": new_v,
            "parent": vs[-1],
            "operation": f"rollback:{version}",
            "data_dirs": target["data_dirs"],
            "n_rows": target["n_rows"],
            "schema": target["schema"],
            # carry the evolution marker: without it, appends on top
            # of the rollback would propagate schema_evolved=False
            # via prev.get() even though the restored dirs span two
            # physical schemas (reads no longer depend on the flag —
            # read_versioned pins the manifest schema — but the
            # history must stay truthful)
            "schema_evolved": target.get("schema_evolved", False),
            "constraints": target.get("constraints", {}),
            "txns": target.get("txns", {}),
            "dir_stats": target.get("dir_stats", {}),
            "committed_at": time.time(),
        }
        # a lost CAS means a concurrent commit took new_v: retry on top
        if _commit_manifest(path, manifest, new_v, f"{os.getpid():x}a{attempt}"):
            return new_v
    raise RuntimeError(
        f"rollback lost the version CAS {max_retries} times — "
        "writer storm; raise max_retries or serialize the writers"
    )


def vacuum(
    path: str, keep_last: int = 1, retention_hours: float = 24.0
) -> dict:
    """Reclaim space: expire all but the last ``keep_last`` manifests,
    then delete every data dir no surviving manifest references —
    including orphans from crashed writers. Order matters for crash
    safety: manifests are removed FIRST, so a crash mid-vacuum can
    only leave unreferenced-but-present dirs (re-vacuum cleans them),
    never a manifest pointing at deleted data.

    ``retention_hours`` is Delta's retention rule for the other race:
    a CONCURRENT writer's data dir exists before its manifest link
    lands, so with no age threshold vacuum would mistake it for a
    crashed-writer orphan, delete it, and the writer's CAS would then
    commit a manifest pointing at deleted data — a torn snapshot.
    Unreferenced dirs younger than the window are kept (default 24 h,
    comfortably above any write duration); pass ``0`` only when no
    writer can be concurrent (tests, serialized maintenance). Returns
    ``{"manifests_removed", "data_dirs_removed", "data_dirs_retained"}``."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = _list_versions(path)
    expire = vs[:-keep_last]
    for v in expire:
        os.unlink(_manifest_path(path, v))
    referenced = set()
    for v in _list_versions(path):
        referenced.update(_read_manifest(path, v)["data_dirs"])
    ddir = os.path.join(path, _DATA_DIR)
    cutoff = time.time() - retention_hours * 3600.0
    removed, retained = [], 0
    for d in sorted(os.listdir(ddir)) if os.path.isdir(ddir) else []:
        rel = f"{_DATA_DIR}/{d}"
        if rel in referenced:
            continue
        if os.path.getmtime(os.path.join(ddir, d)) > cutoff:
            retained += 1  # possibly a live writer's pre-CAS dir
            continue
        shutil.rmtree(os.path.join(ddir, d), ignore_errors=True)
        removed.append(rel)
    return {
        "manifests_removed": len(expire),
        "data_dirs_removed": len(removed),
        "data_dirs_retained": retained,
    }


def optimize_versioned(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    zorder_cols: list[str] | None = None,
) -> int:
    """Delta-OPTIMIZE for a versioned table: rewrite the LATEST
    snapshot's (possibly fragmented, append-accumulated) data dirs
    into one compacted — optionally Z-ordered — data dir, committed
    as a NEW version whose rows are identical. Readers never block:
    the rewrite happens beside the live table and lands through the
    same manifest CAS as any write; time travel to pre-optimize
    versions still works until ``vacuum`` reclaims them. Returns the
    committed version."""
    from cdc_2025_spark.layout import write_zordered

    df = read_versioned(spark, path)
    vs = _list_versions(path)
    version = vs[-1] + 1
    prev = _read_manifest(path, vs[-1])
    total_bytes = 0
    for d in prev["data_dirs"]:
        full = os.path.join(path, d)
        for root, _dirs, files in os.walk(full):
            total_bytes += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    nonce = f"{os.getpid():x}{int(time.time() * 1e6) & 0xFFFFFF:x}opt"
    rel_dir = f"{_DATA_DIR}/{version:08d}-{nonce}"
    data_dir = os.path.join(path, rel_dir)
    if zorder_cols:
        write_zordered(df, data_dir, zorder_cols, n_files=int(n_files))
    else:
        df.repartition(int(n_files)).write.mode("overwrite").parquet(
            data_dir
        )
    n_rows, dir_stats = _dir_footers(data_dir)
    manifest = {
        "version": version,
        "parent": vs[-1],
        "operation": (
            f"optimize:zorder:{','.join(zorder_cols)}"
            if zorder_cols
            else "optimize"
        ),
        "data_dirs": [rel_dir],
        "n_rows": n_rows,
        "schema": prev["schema"],
        # compaction rewrites every row under the manifest schema, so
        # the new snapshot's single dir is physically uniform again
        "schema_evolved": False,
        "constraints": prev.get("constraints", {}),
        "txns": prev.get("txns", {}),
        "dir_stats": {rel_dir: dir_stats},
        "committed_at": time.time(),
    }
    if not _commit_manifest(path, manifest, version, nonce):
        shutil.rmtree(data_dir, ignore_errors=True)
        raise RuntimeError(
            "optimize lost the version CAS to a concurrent writer — "
            "re-run against the new snapshot"
        )
    return version


def diff_versions(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Keyed semantic diff between two committed snapshots: one row
    per changed key with change in ('added', 'removed', 'changed') —
    the versioned-table form of the dedup family's snapshot diff,
    and the audit primitive a rollback decision reads first
    ("what exactly did version N change?").

    Scale shape: one full-outer null-safe key join between the two
    snapshot reads; change classification compares the non-key
    columns as a struct (engine-side, no row materialization);
    output is bounded by the churn, not the table."""
    from pyspark.sql import functions as F

    old = read_versioned(spark, path, v_old)
    new = read_versioned(spark, path, v_new)
    if old.schema != new.schema:
        raise ValueError("snapshots disagree on schema")
    rest = [c for c in old.columns if c not in key_cols]
    # literal presence markers: a struct of NULL fields is NOT null
    # in Spark, and key columns may legitimately be NULL — a lit(1)
    # on each side is the only presence test that survives both
    old = old.withColumn("_p", F.lit(1))
    new = new.withColumn("_p", F.lit(1))
    cond = None
    for k in key_cols:
        term = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = term if cond is None else cond & term
    j = old.alias("o").join(new.alias("n"), cond, "full_outer")
    o_rest = F.struct(*[F.col(f"o.{c}") for c in rest])
    n_rest = F.struct(*[F.col(f"n.{c}") for c in rest])
    change = (
        F.when(F.col("o._p").isNull(), F.lit("added"))
        .when(F.col("n._p").isNull(), F.lit("removed"))
        .when(~o_rest.eqNullSafe(n_rest), F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
        for k in key_cols
    ]
    return (
        j.select(*out_keys, change.alias("change"))
        .filter(F.col("change").isNotNull())
    )


def _commit_manifest(
    path: str, manifest: dict, version: int, nonce: str
) -> bool:
    """One CAS attempt: link the manifest into place. True on win."""
    tmp = _manifest_path(path, version) + f".tmp-{nonce}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        # os.link fails with EEXIST if another writer took this
        # version — the atomic compare-and-swap of the protocol
        os.link(tmp, _manifest_path(path, version))
        os.unlink(tmp)
        return True
    except FileExistsError:
        os.unlink(tmp)
        return False


def _predicate_column(predicates):
    """Conjunctive (col, op, val) predicates as one Spark boolean
    column — the read_versioned filter in reusable form."""
    from pyspark.sql import functions as F

    ops = {
        "==": "__eq__", "=": "__eq__", ">=": "__ge__",
        "<=": "__le__", ">": "__gt__", "<": "__lt__",
    }
    cond = None
    for col, op, val in predicates:
        term = getattr(F.col(col), ops[op])(F.lit(val))
        cond = term if cond is None else cond & term
    return cond


def _cow_rewrite(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    transform,
    operation: str,
    max_retries: int = 5,
) -> dict:
    """Shared dir-level COPY-ON-WRITE engine for DELETE/UPDATE (the
    Delta file-level rewrite design at this format's dir
    granularity): data dirs whose committed min/max stats PRECLUDE
    any predicate match are carried into the new snapshot UNTOUCHED
    — never read, never rewritten — and only the dirs that may hold
    matching rows pass through ``transform(df, cond)`` into one new
    compacted dir. Commits through the same manifest CAS as every
    write; a lost race re-derives everything from the new latest."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if not predicates:
        raise ValueError(
            "DELETE/UPDATE requires predicates — a full-table "
            "rewrite should be an explicit overwrite"
        )
    for attempt in range(max_retries):
        vs = _list_versions(path)
        if not vs:
            raise ValueError(f"{path} holds no committed versions")
        m = _read_manifest(path, vs[-1])
        version = vs[-1] + 1
        schema = StructType.fromDDL(m["schema"])
        stats = m.get("dir_stats", {})
        touched = [
            d
            for d in m["data_dirs"]
            if _dir_may_match(stats.get(d, {}), predicates)
        ]
        kept = [d for d in m["data_dirs"] if d not in touched]
        if not touched:
            return {
                "version": vs[-1],
                "rows_changed": 0,
                "dirs_rewritten": 0,
                "dirs_kept": len(kept),
            }
        df = spark.read.schema(schema).parquet(
            *[os.path.join(path, d) for d in touched]
        )
        cond = _predicate_column(predicates)
        # rows where the predicate is NULL are NOT matched (the SQL
        # DELETE/UPDATE rule) — coalesce to False before branching
        matched = F.coalesce(cond, F.lit(False))
        out, n_changed = transform(df, matched)
        if out is not None and not operation.startswith("delete:"):
            # an UPDATE can push rows outside a CHECK; a DELETE
            # cannot (its survivors already complied)
            _check_constraints(
                out, m.get("constraints", {}), "the rewritten rows"
            )
        if n_changed == 0:
            # stats were conservative: the touched dirs hold no
            # actual match — a no-op, NOT a rewrite (returning the
            # survivors-only dir here would have to rewrite every
            # touched row unchanged for nothing)
            return {
                "version": vs[-1],
                "rows_changed": 0,
                "dirs_rewritten": 0,
                "dirs_kept": len(m["data_dirs"]),
            }
        nonce = (
            f"{os.getpid():x}"
            f"{int(time.time() * 1e6) & 0xFFFFFF:x}c{attempt}"
        )
        rel_dir = f"{_DATA_DIR}/{version:08d}-{nonce}"
        data_dir = os.path.join(path, rel_dir)
        n_out, out_stats = 0, {}
        if out is not None:
            out.write.mode("overwrite").parquet(data_dir)
            n_out, out_stats = _dir_footers(data_dir)
            if n_out == 0:
                # a DELETE emptied every touched dir: the manifest
                # will not reference this dir, so remove it now
                # instead of leaving an orphan for the >=24h vacuum
                # sweep (r14 ADVICE)
                shutil.rmtree(data_dir, ignore_errors=True)
        new_dirs = kept + ([rel_dir] if n_out else [])
        new_stats = {
            d: s for d, s in stats.items() if d in kept
        }
        if n_out:
            new_stats[rel_dir] = out_stats
        manifest = {
            "version": version,
            "parent": vs[-1],
            "operation": operation,
            "data_dirs": new_dirs,
            "n_rows": m["n_rows"] - _dirs_rows(path, touched) + n_out,
            "schema": m["schema"],
            "schema_evolved": m.get("schema_evolved", False),
            "constraints": m.get("constraints", {}),
            "txns": m.get("txns", {}),
            "dir_stats": new_stats,
            "committed_at": time.time(),
        }
        if _commit_manifest(path, manifest, version, nonce):
            return {
                "version": version,
                "rows_changed": n_changed,
                "dirs_rewritten": len(touched),
                "dirs_kept": len(kept),
            }
        shutil.rmtree(data_dir, ignore_errors=True)
    raise RuntimeError(
        f"{operation} lost the version CAS {max_retries} times — "
        "writer storm; raise max_retries or serialize the writers"
    )


def _check_constraints(
    df: DataFrame, constraints: dict, what: str
) -> None:
    """SQL CHECK semantics: a row violates only when the expression
    is FALSE (NULL/unknown passes). Refuses the whole commit with
    the constraint name and a violation count — partial writes are
    not a thing this format does."""
    if not constraints:
        return
    from pyspark.sql import functions as F  # noqa: PLC0415

    for name, expr in constraints.items():
        bad = df.filter(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        ).count()
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by "
                f"{bad} row(s) in {what} — commit refused"
            )


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str,
    max_retries: int = 5,
) -> int:
    """Delta-style ADD CONSTRAINT: validate the CURRENT snapshot
    satisfies the SQL boolean ``expr`` (existing data must comply,
    the Delta rule), then commit a metadata-only manifest carrying
    it; every subsequent write/update/merge refuses rows that
    violate it. Returns the new version.

    Validate-and-commit runs inside the CAS loop: a lost race means
    a concurrent writer landed NEW data between validation and
    commit, so the retry RE-VALIDATES against the new latest —
    the constraint can never apply to rows it never saw."""
    for _attempt in range(max_retries):
        vs = _list_versions(path)
        if not vs:
            raise ValueError(f"{path} holds no committed versions")
        m = _read_manifest(path, vs[-1])
        cons = dict(m.get("constraints", {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        _check_constraints(
            read_versioned(spark, path, vs[-1]), {name: expr},
            "the existing snapshot",
        )
        cons[name] = expr
        version = vs[-1] + 1
        manifest = {
            "version": version,
            "parent": vs[-1],
            "operation": f"add_constraint:{name}",
            "data_dirs": m["data_dirs"],
            "n_rows": m["n_rows"],
            "schema": m["schema"],
            "schema_evolved": m.get("schema_evolved", False),
            "constraints": cons,
            "txns": m.get("txns", {}),
            "dir_stats": m.get("dir_stats", {}),
            "committed_at": time.time(),
        }
        nonce = (
            f"{os.getpid():x}"
            f"{int(time.time() * 1e6) & 0xFFFFFF:x}ac{_attempt}"
        )
        if _commit_manifest(path, manifest, version, nonce):
            return version
    raise RuntimeError(
        f"add_constraint lost the version CAS {max_retries} times"
    )


def drop_constraint(path: str, name: str) -> int:
    """Remove a CHECK constraint via a metadata-only commit."""
    vs = _list_versions(path)
    if not vs:
        raise ValueError(f"{path} holds no committed versions")
    m = _read_manifest(path, vs[-1])
    cons = dict(m.get("constraints", {}))
    if name not in cons:
        raise ValueError(f"no constraint named {name!r}")
    del cons[name]
    return _commit_metadata(
        path, m, f"drop_constraint:{name}", constraints=cons
    )


def _commit_metadata(
    path: str, prev: dict, operation: str, **overrides
) -> int:
    """Commit a data-free manifest: same dirs/rows/schema as
    ``prev`` with metadata fields replaced. CAS-retried."""
    for attempt in range(5):
        vs = _list_versions(path)
        cur = _read_manifest(path, vs[-1])
        version = vs[-1] + 1
        manifest = {
            "version": version,
            "parent": vs[-1],
            "operation": operation,
            "data_dirs": cur["data_dirs"],
            "n_rows": cur["n_rows"],
            "schema": cur["schema"],
            "schema_evolved": cur.get("schema_evolved", False),
            "dir_stats": cur.get("dir_stats", {}),
            "constraints": cur.get("constraints", {}),
            "txns": cur.get("txns", {}),
            "committed_at": time.time(),
        }
        manifest.update(overrides)
        nonce = f"{os.getpid():x}{int(time.time() * 1e6) & 0xFFFFFF:x}md{attempt}"
        if _commit_manifest(path, manifest, version, nonce):
            return version
    raise RuntimeError("metadata commit lost the version CAS 5 times")


def delete_versioned(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    max_retries: int = 5,
) -> dict:
    """Delta-style DELETE with dir-level copy-on-write: remove every
    row matching the conjunctive ``predicates`` (the
    ``read_versioned`` ``(column, op, value)`` form) by committing a
    NEW snapshot in which untouched dirs are carried over verbatim
    (manifest stats prove they hold no match — zero read, zero
    rewrite) and the touched dirs are rewritten without the matching
    rows. Rows where the predicate evaluates NULL are KEPT (the SQL
    rule). History is preserved: time travel to the pre-delete
    snapshot still sees the rows until ``vacuum`` reclaims them.
    Returns {version, rows_changed, dirs_rewritten, dirs_kept}."""
    def _transform(df, matched):
        n = df.filter(matched).count()
        return df.filter(~matched), n

    return _cow_rewrite(
        spark,
        path,
        predicates,
        _transform,
        f"delete:{predicates!r}",
        max_retries,
    )


def update_versioned(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicates: list[tuple],
    max_retries: int = 5,
) -> dict:
    """Delta-style UPDATE with dir-level copy-on-write: for every
    row matching ``predicates``, assign each ``set_exprs`` column
    its SQL expression (evaluated against the row, then cast back to
    the column's pinned type — an UPDATE can never mutate the
    schema); untouched dirs are carried over verbatim via the same
    stats proof as DELETE. Rows where the predicate evaluates NULL
    are left unchanged (the SQL rule). Returns {version,
    rows_changed, dirs_rewritten, dirs_kept}."""
    from pyspark.sql import functions as F

    def _transform(df, matched):
        n = df.filter(matched).count()
        types = dict(df.dtypes)
        unknown = [c for c in set_exprs if c not in types]
        if unknown:
            raise ValueError(
                f"UPDATE sets unknown columns {unknown}"
            )
        out = df
        for col, expr in set_exprs.items():
            out = out.withColumn(
                col,
                F.when(
                    matched, F.expr(expr).cast(types[col])
                ).otherwise(F.col(col)),
            )
        return out, n

    return _cow_rewrite(
        spark,
        path,
        predicates,
        _transform,
        f"update:{sorted(set_exprs)}:{predicates!r}",
        max_retries,
    )


def merge_versioned(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Delta-style MERGE (upsert) with dir-level copy-on-write:
    every target row whose key matches a source row is REPLACED by
    that source row, and source rows with no target match are
    INSERTED — the apply-changes semantics of the CDC family, as a
    committed snapshot. The manifest's per-dir key-column stats
    prove which dirs cannot intersect the source's key bounding box;
    those are carried over verbatim, and one new dir holds the
    touched dirs' unmatched survivors plus the entire source.
    Duplicate keys WITHIN the source refuse (Delta's
    multiple-source-rows-matched error — last-writer-wins needs an
    order the caller did not give). ``txn=(app_id, version)`` makes
    the merge idempotent per application exactly like
    write_versioned (a replayed foreachBatch merge is skipped, with
    ``skipped_txn: True`` in the result). Returns {version,
    rows_matched, rows_inserted, dirs_rewritten, dirs_kept}."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if not key_cols:
        raise ValueError("MERGE requires key columns")
    dup = (
        source.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "MERGE source holds duplicate keys "
            f"(e.g. {tuple(dup[0])[:-1]}) — dedup the source first "
            "(multiple source rows matched, the Delta error)"
        )
    for attempt in range(max_retries):
        vs = _list_versions(path)
        if not vs:
            raise ValueError(f"{path} holds no committed versions")
        m = _read_manifest(path, vs[-1])
        if txn is not None:
            app_id, txn_v = txn
            seen = m.get("txns", {}).get(app_id)
            if seen is not None and txn_v <= seen:
                return {
                    "version": vs[-1],
                    "rows_matched": 0,
                    "rows_inserted": 0,
                    "dirs_rewritten": 0,
                    "dirs_kept": len(m["data_dirs"]),
                    "skipped_txn": True,
                }
        version = vs[-1] + 1
        schema = StructType.fromDDL(m["schema"])
        want = {f.name: f.dataType for f in schema.fields}
        have = {f.name: f.dataType for f in source.schema.fields}
        if want != have:
            raise ValueError(
                "MERGE source schema must match the table's pinned "
                f"schema: {source.schema.simpleString()} != "
                f"{m['schema']}"
            )
        src = source.select(*[f.name for f in schema.fields])
        _check_constraints(
            src, m.get("constraints", {}), "the MERGE source"
        )
        bounds = src.agg(
            *[
                f
                for k in key_cols
                for f in (
                    F.min(k).alias(f"_mn_{k}"),
                    F.max(k).alias(f"_mx_{k}"),
                )
            ]
        ).collect()[0]
        box = []
        for k in key_cols:
            mn, mx = bounds[f"_mn_{k}"], bounds[f"_mx_{k}"]
            if mn is None:
                continue  # all-NULL key col: no stats pruning
            if isinstance(mn, (int, float, str)) and not isinstance(
                mn, bool
            ):
                box.extend([(k, ">=", mn), (k, "<=", mx)])
        stats = m.get("dir_stats", {})
        touched = [
            d
            for d in m["data_dirs"]
            if _dir_may_match(stats.get(d, {}), box)
        ]
        kept = [d for d in m["data_dirs"] if d not in touched]
        n_matched = 0
        n_src_matched = 0
        if touched:
            tgt = spark.read.schema(schema).parquet(
                *[os.path.join(path, d) for d in touched]
            )
            src_keys = src.select(*key_cols).distinct()
            n_matched = tgt.join(
                src_keys, key_cols, "left_semi"
            ).count()
            n_src_matched = src.join(
                tgt.select(*key_cols).distinct(),
                key_cols,
                "left_semi",
            ).count()
            survivors = tgt.join(src_keys, key_cols, "left_anti")
            out = survivors.unionByName(src)
        else:
            out = src
        n_src = src.count()
        nonce = (
            f"{os.getpid():x}"
            f"{int(time.time() * 1e6) & 0xFFFFFF:x}m{attempt}"
        )
        rel_dir = f"{_DATA_DIR}/{version:08d}-{nonce}"
        data_dir = os.path.join(path, rel_dir)
        out.write.mode("overwrite").parquet(data_dir)
        n_out, out_stats = _dir_footers(data_dir)
        new_stats = {d: s for d, s in stats.items() if d in kept}
        new_stats[rel_dir] = out_stats
        manifest = {
            "version": version,
            "parent": vs[-1],
            "operation": f"merge:{key_cols}",
            "data_dirs": kept + [rel_dir],
            "n_rows": m["n_rows"] - _dirs_rows(path, touched) + n_out,
            "schema": m["schema"],
            "schema_evolved": m.get("schema_evolved", False),
            "constraints": m.get("constraints", {}),
            "txns": {
                **m.get("txns", {}),
                **({txn[0]: txn[1]} if txn is not None else {}),
            },
            "dir_stats": new_stats,
            "committed_at": time.time(),
        }
        if _commit_manifest(path, manifest, version, nonce):
            return {
                "version": version,
                "rows_matched": n_matched,
                "rows_inserted": n_src - n_src_matched,
                "dirs_rewritten": len(touched),
                "dirs_kept": len(kept),
            }
        shutil.rmtree(data_dir, ignore_errors=True)
    raise RuntimeError(
        f"merge lost the version CAS {max_retries} times — "
        "writer storm; raise max_retries or serialize the writers"
    )
