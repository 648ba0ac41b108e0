"""Distributed exact ranks and value-ordered cumulative sums without
corpus-sized sorts.

The problem: exact (mid)ranks or ECDF cumulatives over a nearly-unique
column force a per-partition total sort — `Window.orderBy(v)` moves
EVERYTHING into one task (Spark warns "No Partition Defined"), the
single ceiling the r11 SCALE audit found in the rank family. The fix
is a TWO-LEVEL cumulative: collapse to the distinct-value frame,
bucket the values with a MONOTONE map, run the within-bucket
cumulative in a (group, bucket) window whose partitions hold
~|distinct|/n_buckets values, and add a bucket offset computed from a
window over the bounded bucket-total frame. Any monotone bucketing
preserves value order and keeps equal values together, so the results
are EXACT integers/rationals regardless of bucket geometry (the knob
moves wall time, never answers).

Bucket geometry (``edges``):

- ``"width"`` — fixed-width over [min, max]: one tiny range agg, zero
  extra passes. Right for price-like columns whose distinct values
  spread roughly evenly over their range. Pathology: a heavy-tailed
  column (zipf counts with one huge outlier value) piles most
  distinct values into bucket 0 and re-creates the big window
  partition the helper exists to avoid.
- ``"quantile"`` — approx-percentile edges over the DISTINCT-value
  frame: each bucket holds ~|distinct|/n_buckets values by
  construction, whatever the distribution. Costs one extra aggregate
  on the bounded marginal frame plus an interpreted per-row edge
  search; edge placement may vary run-to-run (sketch merges are
  partition-order-sensitive) but monotonicity makes the answers
  identical either way.
- ``"auto"`` (default) — first the size rule below: a marginal that
  fits one task is not bucketed at all. A bigger one takes the
  NTILE-style cheap switch: one tiny aggregate collects per-group
  (min, max, approx-median) of the distinct values; if any group's
  median sits in the outer 5% of its range (>half the distinct values
  crammed into <5% of the span — width buckets would overload
  ~10x+), quantile edges are used, otherwise the width map runs
  unchanged. TPC-H-like columns take the width path; the switch
  exists for the zipf-shaped column that would otherwise silently
  re-grow a single-task window.

Plan by size. The two-level form only pays when its shuffles run in
several tasks. Under AQE, a shuffle whose input fits
``spark.sql.adaptive.coalescePartitions.minPartitionSize`` (under the
default ``parallelismFirst=true``; ``advisoryPartitionSizeInBytes``
otherwise) is coalesced into ONE task, so below that size every
bucket window, offset aggregate and probe stage runs single-task
anyway: the buckets buy no parallelism and cost ~10 extra stages, a
probe collect and a ``localCheckpoint``. ``edges="auto"`` therefore
reads Catalyst's size estimate of the marginal
(``optimizedPlan().stats().sizeInBytes()``: no job, and a
``localCheckpoint``-ed input keeps its origin's estimate) and, when it
is at most that bound, runs each weight's running sum as ONE
``Window.partitionBy(*group_cols).orderBy(value)`` over the
distinct-value frame, with no probe. AQE off (or coalescing off)
never takes that path; neither does an explicit ``edges=``. Bigger
marginals keep the bucketed plans above unchanged, and so does a
frame Catalyst cannot size (an RDD-backed ``createDataFrame`` of a
Python list estimates at ``Long.MaxValue``). Both plans add
the same weights in the same value order, and the rank weights are
integer counts, so the answers are identical whichever runs
(``tests/test_ranks.py``; ``tests/test_rank_paths.py`` per caller).

NULL contract: rows whose value or any group key is NULL are dropped
before ranking, on every path. A NULL has no place in the value
order, and left in it lands wherever the bucket map sends it (bucket
0 under quantile edges, the last bucket under width edges), which
would make answers depend on geometry.

Shared by the registered Spearman (per-segment ranks), Kruskal-Wallis
(global ranks), the exact equi-depth histogram, the NTILE distributed
branch, and the KS two-sample ECDF (``bucketed_cumsums``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_RANK_BUCKETS = 1024

# a group's distinct-value median sitting inside the outer 5% of its
# range means width buckets would overload >=10x — switch to quantile
_AUTO_SKEW_EDGE = 0.05


def _decide_mode(stats) -> str:
    """'width' unless some group's distinct-value median sits in the
    outer 5% of its range (the NTILE-style skew switch)."""
    for r in stats:
        span = (r["_mx"] or 0.0) - (r["_mn"] or 0.0)
        if span <= 0.0 or r["_md"] is None:
            continue
        pos = (r["_md"] - r["_mn"]) / span
        if pos < _AUTO_SKEW_EDGE or pos > 1.0 - _AUTO_SKEW_EDGE:
            return "quantile"
    return "width"


def _fits_one_task(marg: DataFrame) -> bool:
    """True when AQE would coalesce a shuffle of ``marg`` into one
    task: Catalyst's size estimate of the frame (read from the
    optimized plan, no job) is at most the coalescing bound — the
    minimum partition size under ``parallelismFirst``, else the
    advisory size. Always False with AQE or coalescing off."""
    spark = marg.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    if not (
        conf.adaptiveExecutionEnabled()
        and conf.coalesceShufflePartitionsEnabled()
    ):
        return False
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    bound = conf.getConf(
        sql_conf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE()
        if conf.getConf(sql_conf.COALESCE_PARTITIONS_PARALLELISM_FIRST())
        else sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    size = marg._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) <= int(bound)


def probe_edges_modes(
    margs: list[tuple[DataFrame, str, tuple[str, ...]]],
) -> list[tuple[str, list | None]]:
    """Resolve edges='auto' for one or more marginals. A marginal
    that fits one task (:func:`_fits_one_task`) gets ``("window",
    None)`` with no job. The rest are probed with ONE collect job:
    their per-marginal aggregates are tagged, unioned and submitted
    together, so a caller invoking the rank kernel more than once
    (Spearman's two marginals) pays one driver round trip and Spark
    overlaps the aggregate subtrees inside a single job instead of
    running the probes sequentially.

    ``margs``: (marg, value_col, group_cols) per kernel call — all
    entries must share the same group-column list (the fused rows
    carry those columns by name). Returns [(mode, stats_rows), ...]
    aligned with the input; pass each pair to
    ``bucketed_midranks``/``bucketed_cumsums`` via ``probe=``.
    A probed marginal's stats rows are its per-group (min, max,
    approx-median); the width path inlines the min/max as literal
    bounds instead of re-aggregating in-plan. The approx-median
    depends on partition layout, so near the 5% skew edge the
    width/quantile mode may differ between runs — bucket geometry
    only, never answers (the module contract)."""
    if not margs:
        return []
    gc = list(margs[0][2])
    for _, _, group_cols in margs:
        if list(group_cols) != gc:
            raise ValueError(
                "probe_edges_modes requires identical group_cols; "
                f"got {gc} vs {list(group_cols)}"
            )
    out = [
        ("window", None) if _fits_one_task(marg) else None
        for marg, _, _ in margs
    ]
    probed = [i for i, o in enumerate(out) if o is None]
    if not probed:
        return out
    parts = [
        margs[i][0].select(
            F.lit(i).alias("_probe_tag"),
            *gc,
            F.col(margs[i][1]).cast("double").alias("_pv"),
        )
        for i in probed
    ]
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    stats = fused.groupBy("_probe_tag", *gc).agg(
        F.min("_pv").alias("_mn"),
        F.max("_pv").alias("_mx"),
        F.percentile_approx("_pv", 0.5).alias("_md"),
    ).collect()
    for i in probed:
        rows = [r for r in stats if r["_probe_tag"] == i]
        out[i] = (_decide_mode(rows), rows)
    return out


def _pick_edges_mode(
    marg: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...],
    edges: str,
):
    """Resolve ``edges`` for one marginal: an explicit 'width' or
    'quantile' passes through as ``(edges, None)``; 'auto' is
    :func:`probe_edges_modes` on this one marginal — ``("window",
    None)`` when it fits one task, else the probed bucket mode and
    its per-group stats rows (collect size = number of groups,
    never the frame)."""
    if edges not in ("auto", "width", "quantile"):
        raise ValueError(
            f"edges must be auto/width/quantile, got {edges!r}"
        )
    if edges != "auto":
        return edges, None
    return probe_edges_modes([(marg, value_col, group_cols)])[0]


def _with_bucket(
    marg: DataFrame,
    value_col: str,
    keep_cols: list[str],
    group_cols: tuple[str, ...],
    n_buckets: int,
    edges: str,
    stats_rows=None,
) -> DataFrame:
    """(keep_cols..., _b): assign each distinct value its bucket via a
    monotone map — floor over [min, max] for width edges, count of
    approx-percentile edges below the value for quantile edges. Equal
    values always share a bucket; order is always preserved.

    ``stats_rows`` (from the auto-mode probe) carries per-group
    (min, max) already collected: the width path inlines them as
    literals — same bounds, zero extra plan nodes — instead of the
    in-plan range aggregate + broadcast join. Inner-join semantics
    are preserved exactly (a NULL group key never joins, so the
    literal path filters those rows the same way)."""
    gc = list(group_cols)
    if n_buckets <= 1:
        # single bucket: quantile mode would build an EMPTY probs
        # list (percentile_approx rejects it) — the width path
        # degenerates cleanly to bucket 0 for every row, so route
        # there regardless of requested edges
        edges = "width"
    if edges == "quantile":
        probs = [k / n_buckets for k in range(1, n_buckets)]
        edge_agg = (
            marg.groupBy(*gc).agg(
                F.percentile_approx(
                    F.col(value_col).cast("double"), probs
                ).alias("_edges")
            )
            if gc
            else marg.agg(
                F.percentile_approx(
                    F.col(value_col).cast("double"), probs
                ).alias("_edges")
            )
        )
        joined = (
            marg.join(F.broadcast(edge_agg), gc)
            if gc
            else marg.crossJoin(F.broadcast(edge_agg))
        )
        v = F.col(value_col).cast("double")
        b = F.size(F.filter(F.col("_edges"), lambda e: e < v))
        return joined.select(
            *keep_cols, b.cast("long").alias("_b")
        )
    nb = F.lit(n_buckets)

    def _width_bucket(mn, mx):
        return F.when(
            mx > mn,
            F.least(
                F.floor((F.col(value_col) - mn) / ((mx - mn) / nb)),
                nb - 1,
            ),
        ).otherwise(F.lit(0))

    if stats_rows is not None and len(gc) <= 1:
        # literal-bounds fast path: the probe's collected (min, max)
        # become plan literals. gc==() is one global row; gc==(g,) is
        # a bounded map keyed by the group value. (Multi-column
        # groups keep the in-plan join below — no current caller.)
        if not gc:
            # an empty frame probes to no row: the bucket expression
            # is then never evaluated
            r = stats_rows[0] if stats_rows else {"_mn": None, "_mx": None}
            mn, mx = r["_mn"], r["_mx"]
            if mn is None or mx is None:
                mn = mx = 0.0
            b = _width_bucket(F.lit(float(mn)), F.lit(float(mx)))
            return marg.select(*keep_cols, b.cast("long").alias("_b"))
        g = gc[0]
        pairs_mn, pairs_mx, ok = [], [], True
        for r in stats_rows:
            gv = r[g]
            if gv is None or r["_mn"] is None or r["_mx"] is None:
                # NULL group keys never survive the inner join on the
                # in-plan path; the literal path filters them below.
                # A NULL min/max under a non-null key cannot happen
                # (the group has rows), but fall back if it does.
                if gv is None:
                    continue
                ok = False
                break
            pairs_mn.append((gv, float(r["_mn"])))
            pairs_mx.append((gv, float(r["_mx"])))
        if ok:
            mn_map = F.create_map(
                *[F.lit(x) for kv in pairs_mn for x in kv]
            )
            mx_map = F.create_map(
                *[F.lit(x) for kv in pairs_mx for x in kv]
            )
            b = _width_bucket(mn_map[F.col(g)], mx_map[F.col(g)])
            return marg.filter(F.col(g).isNotNull()).select(
                *keep_cols, b.cast("long").alias("_b")
            )
    rng_agg = (
        marg.groupBy(*gc).agg(
            F.min(value_col).cast("double").alias("_mn"),
            F.max(value_col).cast("double").alias("_mx"),
        )
        if gc
        else marg.agg(
            F.min(value_col).cast("double").alias("_mn"),
            F.max(value_col).cast("double").alias("_mx"),
        )
    )
    b = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.floor(
                (F.col(value_col) - F.col("_mn"))
                / ((F.col("_mx") - F.col("_mn")) / nb)
            ),
            nb - 1,
        ),
    ).otherwise(F.lit(0))
    joined = (
        marg.join(F.broadcast(rng_agg), gc)
        if gc
        else marg.crossJoin(F.broadcast(rng_agg))
    )
    return joined.select(*keep_cols, b.cast("long").alias("_b"))


def bucketed_cumsums(
    marg: DataFrame,
    value_col: str,
    weight_cols: tuple[str, ...],
    group_cols: tuple[str, ...] = (),
    n_buckets: int = DEFAULT_RANK_BUCKETS,
    edges: str = "auto",
    probe: tuple[str, list] | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``marg`` holds one row per (group_cols..., value) with one or
    more weight columns. Returns (group_cols..., value_col,
    weight_cols..., carry_cols..., cum_<w>...) where ``cum_<w>`` is the INCLUSIVE
    cumulative sum of ``w`` over the value-ordered frame within the
    group — the ECDF / rank primitive — computed two-level so no
    window partition exceeds ~|distinct|/n_buckets rows. All weights
    share one bucket structure: the KS two-sample ECDF gets both
    sides' cumulatives from a single pass. Rows with a NULL value or
    group key are dropped first (the module's NULL contract); a
    marginal that fits one task runs one plain window instead (the
    module's size rule), with the same output.

    CALLER CONTRACT: only the bucketed distinct-value frame is pinned
    here (marginal-sized); ``marg`` still feeds the auto probe and that
    pin (twice on the quantile path), so the caller must pass a frame
    whose recomputation is cheap — in practice, one derived from a
    lazily localCheckpoint-ed corpus collapse (un-pinned, each
    reference re-expands the collapse lineage into its own corpus
    scan: measured 6 parquet scans in the equi-depth plan, NO
    adaptive exchange reuse)."""
    gc = list(group_cols)
    wc = list(weight_cols)
    # ``carry_cols``: extra marg columns to carry THROUGH the kernel
    # unchanged (r16) — consumers previously re-joined marg onto the
    # rank output just to recover columns the kernel had dropped,
    # one full distinct-value-frame exchange join per call (the
    # equi-depth/MWU/signed-rank shape). Rows are never aggregated
    # on the carried path (bucket assignment, within-bucket window
    # and the offset join are all row-preserving), so carrying is
    # exactly the old 1:1 join-back.
    cc = [
        c for c in carry_cols if c not in (*gc, value_col, *wc)
    ]
    ranked = F.col(value_col).isNotNull()
    for g in gc:
        ranked = ranked & F.col(g).isNotNull()
    marg = marg.filter(ranked)
    # ``probe``: a (mode, stats_rows) pair from probe_edges_modes —
    # callers invoking the kernel several times fuse their probe
    # collects into one job and pass the results here (edges must
    # stay 'auto'; an explicit mode never probed)
    if probe is not None:
        if edges != "auto":
            raise ValueError("probe= requires edges='auto'")
        mode, stats_rows = probe
    else:
        mode, stats_rows = _pick_edges_mode(
            marg, value_col, group_cols, edges
        )
    if mode == "window":
        w_all = (
            Window.partitionBy(*gc)
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return marg.select(
            *gc,
            value_col,
            *wc,
            *cc,
            *[F.sum(w).over(w_all).alias(f"cum_{w}") for w in wc],
        )
    bucketed = _with_bucket(
        marg, value_col, [*gc, value_col, *wc, *cc], group_cols,
        n_buckets, mode, stats_rows=stats_rows if mode == "width" else None,
    )
    # r16: pin the bucketed distinct-value frame — it feeds TWO
    # subtrees (the within-bucket cumulative window and the
    # bucket-total offsets aggregate), and adaptive exchange reuse
    # does not unify them (measured: the whole marg subtree, scans
    # included, executed once per consumer — 2x per kernel call,
    # e.g. 4 marg executions in the Spearman plan). The frame is
    # marginal-sized (one row per distinct value), so the
    # materialization is bounded by |distinct|, never corpus-sized.
    bucketed = bucketed.localCheckpoint(eager=False)
    w_in = (
        Window.partitionBy(*gc, "_b")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_off = (
        Window.partitionBy(*gc)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucketed.groupBy(*gc, "_b").agg(
        *[F.sum(w).alias(f"_bw_{w}") for w in wc]
    )
    offsets = offsets.select(
        *gc,
        "_b",
        *[
            F.coalesce(F.sum(f"_bw_{w}").over(w_off), F.lit(0)).alias(
                f"_boff_{w}"
            )
            for w in wc
        ],
    )
    cum = bucketed.select(
        *gc,
        value_col,
        *wc,
        *cc,
        "_b",
        *[F.sum(w).over(w_in).alias(f"_cin_{w}") for w in wc],
    )
    return cum.join(F.broadcast(offsets), [*gc, "_b"]).select(
        *gc,
        value_col,
        *wc,
        *cc,
        *[
            (F.col(f"_boff_{w}") + F.col(f"_cin_{w}")).alias(f"cum_{w}")
            for w in wc
        ],
    )


def bucketed_midranks(
    marg: DataFrame,
    value_col: str,
    weight_col: str,
    out_col: str,
    group_cols: tuple[str, ...] = (),
    n_buckets: int = DEFAULT_RANK_BUCKETS,
    edges: str = "auto",
    probe: tuple[str, list] | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``marg`` holds one row per (group_cols..., value) with
    ``weight_col`` = how many underlying rows carry that value.
    Returns (group_cols..., value_col, out_col) where out_col is the
    exact midrank of the value within its group:
    cum_smaller + (weight + 1)/2 — identical to
    RANK() + (ties - 1)/2 over the underlying rows. Thin wrapper over
    :func:`bucketed_cumsums` (midrank = cum_inclusive - (w - 1)/2;
    weights are integer counts, so the double arithmetic is exact up
    to 2^52). Same caller contract."""
    cums = bucketed_cumsums(
        marg,
        value_col,
        (weight_col,),
        group_cols=group_cols,
        n_buckets=n_buckets,
        edges=edges,
        probe=probe,
        carry_cols=carry_cols,
    )
    return cums.select(
        *group_cols,
        value_col,
        *[c for c in carry_cols if c not in (*group_cols, value_col)],
        (
            F.col(f"cum_{weight_col}")
            - (F.col(weight_col) - 1) / 2.0
        ).alias(out_col),
    )
