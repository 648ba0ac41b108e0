"""functions/ranks.py: the rank/cumsum kernel — exactness on every
edge geometry and on the one-window plan, the size rule that picks
between them, the auto skew switch, the NULL contract, and the
bounded-partition guarantee on a pathologically skewed column (the
r12 verdict's documented equal-width caveat, now closed)."""

from __future__ import annotations

import pytest

from cdc_2025_spark.functions import ranks
from cdc_2025_spark.functions.ranks import (
    _fits_one_task,
    _pick_edges_mode,
    _with_bucket,
    bucketed_cumsums,
    bucketed_midranks,
    probe_edges_modes,
)
from tests.test_plan_shape import _jobs_run_by

N_BUCKETS = 8


def _zipf_marg(spark):
    """The pathological fixture: 400 distinct values packed into
    [1, 400] plus one 1e9 outlier stretching the range — equal-width
    buckets pile every non-outlier value into bucket 0."""
    rows = [(float(v), (v % 7) + 1) for v in range(1, 401)]
    rows.append((1e9, 3))
    return spark.createDataFrame(rows, "v double, c long")


def _uniform_marg(spark):
    rows = [(float(v) * 2.5, (v % 5) + 1) for v in range(1, 401)]
    return spark.createDataFrame(rows, "v double, c long")


def _each_plan(monkeypatch, modes=("width", "quantile")):
    """(edges, label) for every kernel plan: each explicit geometry in
    ``modes``, then edges='auto' on the probed bucketed plan and on
    the one-window plan."""
    for mode in modes:
        yield mode, mode
    for window in (False, True):
        monkeypatch.setattr(ranks, "_fits_one_task", lambda marg: window)
        yield "auto", "window" if window else "auto"


def _python_midranks(rows):
    """cum_smaller + (w + 1)/2 over value-sorted (v, w) pairs."""
    out, cum = {}, 0
    for v, w in sorted(rows):
        out[v] = cum + (w + 1) / 2.0
        cum += w
    return out


def test_auto_switch_detects_skew_and_uniform(spark, bucketed_ranks):
    zipf = _zipf_marg(spark)
    uni = _uniform_marg(spark)
    assert _pick_edges_mode(zipf, "v", (), "auto")[0] == "quantile"
    assert _pick_edges_mode(uni, "v", (), "auto")[0] == "width"
    # explicit modes pass through untouched
    assert _pick_edges_mode(zipf, "v", (), "width") == ("width", None)
    assert _pick_edges_mode(uni, "v", (), "quantile") == ("quantile", None)


def test_quantile_edges_bound_bucket_partitions(spark):
    """THE scale pin: on the zipf fixture, width buckets overload one
    partition with ~all distinct values; quantile edges keep every
    bucket within a small multiple of |distinct|/n_buckets — the
    window partitions stay bounded by construction."""
    marg = _zipf_marg(spark)
    n_distinct = marg.count()

    def bucket_sizes(mode):
        b = _with_bucket(marg, "v", ["v", "c"], (), N_BUCKETS, mode)
        return {
            r["_b"]: r["n"]
            for r in b.groupBy("_b").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }

    width = bucket_sizes("width")
    quant = bucket_sizes("quantile")
    assert max(width.values()) == n_distinct - 1  # the pathology
    fair = n_distinct / N_BUCKETS
    assert max(quant.values()) <= 2 * fair, quant
    assert sum(quant.values()) == n_distinct


def test_midranks_identical_across_edge_geometries(spark, monkeypatch):
    """Monotone bucketing cannot move an answer: width, quantile and
    auto midranks, and the one-window plan's, all equal the python
    cum_smaller replay exactly."""
    marg = _zipf_marg(spark)
    want = _python_midranks(
        [(r["v"], r["c"]) for r in marg.collect()]
    )
    for mode, plan in _each_plan(monkeypatch):
        got = {
            r["v"]: r["r"]
            for r in bucketed_midranks(
                marg, "v", "c", "r", n_buckets=N_BUCKETS, edges=mode
            ).collect()
        }
        assert got == want, plan


def test_cumsums_multi_weight_exact(spark, monkeypatch):
    """bucketed_cumsums: inclusive cumulatives for BOTH weights from
    one pass equal a python fold, on both edge geometries and the
    one-window plan (the KS two-sample ECDF shape)."""
    rows = [
        (float(v), (v % 7) + 1, (v % 3)) for v in range(1, 301)
    ] + [(1e9, 2, 5)]
    marg = spark.createDataFrame(rows, "v double, ca long, cb long")
    want_a, want_b, ca, cb = {}, {}, 0, 0
    for v, a, b in sorted(rows):
        ca += a
        cb += b
        want_a[v], want_b[v] = ca, cb
    for mode, plan in _each_plan(monkeypatch):
        got = {
            r["v"]: (r["cum_ca"], r["cum_cb"])
            for r in bucketed_cumsums(
                marg,
                "v",
                ("ca", "cb"),
                n_buckets=N_BUCKETS,
                edges=mode,
            ).collect()
        }
        assert {v: t[0] for v, t in got.items()} == want_a, plan
        assert {v: t[1] for v, t in got.items()} == want_b, plan


def test_grouped_auto_switch_per_worst_group(spark, bucketed_ranks):
    """Grouped frames switch on the WORST group: one skewed group
    among uniform ones flips the whole frame to quantile edges (one
    geometry per call keeps the plan single-shape), and grouped
    midranks stay exact within every group."""
    rows = [("u", float(v), 1) for v in range(1, 101)]
    rows += [("z", float(v), 2) for v in range(1, 101)]
    rows.append(("z", 1e9, 1))
    marg = spark.createDataFrame(rows, "g string, v double, c long")
    assert _pick_edges_mode(marg, "v", ("g",), "auto")[0] == "quantile"
    got = bucketed_midranks(
        marg, "v", "c", "r", group_cols=("g",), n_buckets=N_BUCKETS
    ).collect()
    for g in ("u", "z"):
        want = _python_midranks(
            [(v, c) for gg, v, c in rows if gg == g]
        )
        have = {r["v"]: r["r"] for r in got if r["g"] == g}
        assert have == want, g


def test_midranks_carry_col_that_is_a_group_col(spark, monkeypatch):
    """A carry column that is also a group column is output once, and
    a genuine carry column still rides along unchanged, on both
    plans."""
    rows = [("u", float(v), 1, f"t{v}") for v in range(1, 21)]
    rows += [("z", float(v), 2, f"t{v}") for v in range(1, 21)]
    marg = spark.createDataFrame(rows, "g string, v double, c long, tag string")
    for mode, plan in _each_plan(monkeypatch, modes=()):
        out = bucketed_midranks(
            marg, "v", "c", "r", group_cols=("g",), n_buckets=N_BUCKETS,
            carry_cols=("g", "tag"), edges=mode,
        )
        assert out.columns == ["g", "v", "tag", "r"], plan
        got = out.collect()
        for g in ("u", "z"):
            want = _python_midranks(
                [(v, c) for gg, v, c, _ in rows if gg == g]
            )
            have = {r["v"]: r["r"] for r in got if r["g"] == g}
            assert have == want, (plan, g)
        assert all(r["tag"] == f"t{int(r['v'])}" for r in got), plan


def test_degenerate_single_value_and_ties(spark, monkeypatch):
    """All-equal values: one bucket, midrank = (n + 1)/2 regardless
    of geometry or plan; ties share the midrank exactly."""
    marg = spark.createDataFrame(
        [(5.0, 9)], "v double, c long"
    )
    for mode, plan in _each_plan(monkeypatch):
        got = bucketed_midranks(
            marg, "v", "c", "r", n_buckets=N_BUCKETS, edges=mode
        ).collect()
        assert [(r["v"], r["r"]) for r in got] == [(5.0, 5.0)], plan


def test_unknown_edges_mode_rejected(spark):
    marg = _uniform_marg(spark)
    with pytest.raises(Exception):
        bucketed_midranks(
            marg, "v", "c", "r", edges="nonsense"
        ).collect()


def test_single_bucket_routes_to_width_path(spark, monkeypatch):
    """ADVICE r13 (low): n_buckets=1 in quantile mode used to build
    an EMPTY percentile list and crash; it now short-circuits to the
    width path (every value in bucket 0) and stays exact in every
    edges mode and on the one-window plan, for cumsums and midranks,
    grouped and global."""
    marg = _uniform_marg(spark)
    expect = _python_midranks(
        [(r["v"], r["c"]) for r in marg.collect()]
    )
    for mode, plan in _each_plan(monkeypatch, modes=("quantile", "width")):
        got = {
            r["v"]: r["r"]
            for r in bucketed_midranks(
                marg, "v", "c", "r", n_buckets=1, edges=mode
            ).collect()
        }
        assert got == expect, plan
    # grouped cumsums with a single bucket stay exact too
    g = marg.selectExpr("CAST(v AS INT) % 2 AS g", "v", "c")
    rows = bucketed_cumsums(
        g, "v", ("c",), group_cols=("g",), n_buckets=1,
        edges="quantile",
    ).collect()
    by_g = {}
    for r in sorted(rows, key=lambda r: (r["g"], r["v"])):
        by_g.setdefault(r["g"], 0)
        by_g[r["g"]] += r["c"]
        assert r["cum_c"] == by_g[r["g"]]


def test_literal_bounds_path_matches_inplan_join(spark, bucketed_ranks):
    """r15 optimization pin: the width path with probe-collected
    literal bounds must reproduce the in-plan range-aggregate +
    broadcast-join form EXACTLY — including dropping NULL group keys
    the way an inner join does, both global and grouped."""
    rows = [
        ("a", float(v), (v % 7) + 1) for v in range(1, 101)
    ] + [("b", float(v) * 3.5, (v % 5) + 1) for v in range(1, 81)]
    rows.append((None, 42.0, 2))  # NULL group: inner join drops it
    marg = spark.createDataFrame(rows, "g string, v double, c long")

    def as_map(df):
        return {
            (r["g"], r["v"]): r["_b"]
            for r in df.select("g", "v", "_b").collect()
        }

    mode, stats = _pick_edges_mode(marg, "v", ("g",), "auto")
    assert mode == "width" and stats is not None
    lit = _with_bucket(
        marg, "v", ["g", "v", "c"], ("g",), N_BUCKETS, mode,
        stats_rows=stats,
    )
    inplan = _with_bucket(
        marg, "v", ["g", "v", "c"], ("g",), N_BUCKETS, mode,
    )
    assert as_map(lit) == as_map(inplan)
    assert all(k[0] is not None for k in as_map(lit))

    # global (no group) twin
    gmode, gstats = _pick_edges_mode(marg, "v", (), "auto")
    glit = _with_bucket(
        marg, "v", ["g", "v", "c"], (), N_BUCKETS, gmode,
        stats_rows=gstats,
    )
    ginp = _with_bucket(marg, "v", ["g", "v", "c"], (), N_BUCKETS, gmode)
    assert as_map(glit) == as_map(ginp)


def test_small_marginal_is_ranked_in_one_window_with_no_job(spark):
    """The size rule: a marginal AQE would coalesce into one task
    resolves to the one-window plan without a probe job, alone or
    fused; its ranks plan no bucket column and no checkpoint. (The
    frames come from ``range``: a list-built frame is RDD-backed, has
    no size estimate, and counts as big.)"""
    uni = spark.range(1, 401).selectExpr(
        "CAST(id AS DOUBLE) * 2.5 AS v", "id % 5 + 1 AS c"
    )
    zipf = spark.range(1, 401).selectExpr(
        "CAST(id AS DOUBLE) AS v", "id % 7 + 1 AS c"
    )
    assert not _fits_one_task(_uniform_marg(spark))
    got = []
    assert _jobs_run_by(
        spark, lambda: got.append(_pick_edges_mode(uni, "v", (), "auto"))
    ) == 0
    assert got == [("window", None)]
    assert _jobs_run_by(
        spark,
        lambda: got.append(
            probe_edges_modes([(uni, "v", ()), (zipf, "v", ())])
        ),
    ) == 0
    assert got[1] == [("window", None), ("window", None)]
    ranked = bucketed_midranks(uni, "v", "c", "r")
    text = ranked._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in text and "_b" not in text
    assert "LogicalRDD" not in text
    want = _python_midranks(
        [(v * 2.5, v % 5 + 1) for v in range(1, 401)]
    )
    assert {r["v"]: r["r"] for r in ranked.collect()} == want


def test_size_bound_follows_aqe_coalescing(spark):
    """The bound is what AQE coalesces into one partition: the
    minimum partition size under parallelismFirst, else the advisory
    size; never with AQE or coalescing off."""
    marg = spark.range(1, 401).selectExpr(
        "CAST(id AS DOUBLE) * 2.5 AS v", "id % 5 + 1 AS c"
    )
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        assert _fits_one_task(marg)
        spark.conf.set(keys[3], "1b")
        assert not _fits_one_task(marg)
        spark.conf.set(keys[2], "false")
        assert _fits_one_task(marg)  # the 64 MB advisory size
        spark.conf.set(keys[1], "false")
        assert not _fits_one_task(marg)
        spark.conf.set(keys[1], "true")
        spark.conf.set(keys[0], "false")
        assert not _fits_one_task(marg)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_null_values_rank_the_same_on_every_path(spark):
    """NULL values and NULL group keys are dropped before ranking, so
    width edges, quantile edges and the one-window plan agree. Left
    in, a NULL value moved a/1.0 from midrank 1.5 (width) to 4.5
    (quantile, where it lands in bucket 0)."""
    marg = spark.sql(
        "SELECT * FROM VALUES ('a', 1.0D, 2L), ('a', 2.0D, 1L), "
        "('a', NULL, 3L), ('a', 5.0D, 1L), (NULL, 1.0D, 4L), "
        "(NULL, 3.0D, 1L), ('b', 7.0D, 2L) AS t(g, v, c)"
    )
    flat = marg.filter("g = 'a' OR g = 'b'").drop("g")
    assert _pick_edges_mode(marg, "v", ("g",), "auto")[0] == "window"
    for mode in ("width", "quantile", "auto"):
        got = sorted(
            (r["g"], r["v"], r["r"])
            for r in bucketed_midranks(
                marg, "v", "c", "r", group_cols=("g",), n_buckets=4,
                edges=mode,
            ).collect()
        )
        assert got == [
            ("a", 1.0, 1.5), ("a", 2.0, 3.0), ("a", 5.0, 4.0),
            ("b", 7.0, 1.5),
        ], mode
        flat_got = sorted(
            (r["v"], r["cum_c"])
            for r in bucketed_cumsums(
                flat, "v", ("c",), n_buckets=4, edges=mode
            ).collect()
        )
        assert flat_got == [(1.0, 2), (2.0, 3), (5.0, 4), (7.0, 6)], mode
