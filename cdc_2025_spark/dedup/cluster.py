"""Connected components over near-duplicate pair edges — the
post-processing that turns pairwise dedup output into duplicate
CLUSTERS with one canonical survivor each (min id).

Algorithm: iterative min-label propagation. Every vertex starts
labeled with its own id; each round it takes the min of its label and
its neighbors' labels; convergence (no label changes) is reached in
O(component diameter) rounds. Per round: one join edges->labels + one
grouped min — both shuffle on vertex id, both partially aggregated
map-side.

Scale notes: label propagation's round count is the component
diameter, which for near-dup clusters (dense, star-ish) is small; the
loop carries only (id, comp) pairs, and lineage is truncated with
localCheckpoint each round so the plan does not grow with iterations.
For adversarial long-chain graphs the literature's alternating
large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce", public) halves diameter per round — same
join/agg primitives, drop-in replacement if needed.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

_INTEGRAL_TYPES = (ByteType, ShortType, IntegerType, LongType)
_log = logging.getLogger(__name__)


# Edge budget for the driver-side fast path: 200k edges = 3.2 MB of
# longs on the driver — the same bounded-collect posture as the
# similarity family's budget_gate. Near-dup edge sets are duplicate
# PAIRS, which are tiny relative to the corpus at any healthy dedup
# rate; a corpus whose pair graph exceeds the budget takes the
# distributed label-prop path unchanged.
CC_DRIVER_EDGE_BUDGET = 200_000


def _union_find_components(rows) -> dict[int, int]:
    """Min-id components by union-find over collected (src, dst)
    rows — exact, and identical to label propagation's fixpoint."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


# Filtering reduction (Lattanzi, Moseley, Suri, Vassilvitskii,
# "Filtering: a method for solving graph problems in MapReduce",
# SPAA'11 — public): each pass computes components INSIDE each
# partition and keeps only a partition-local star forest (one
# vertex->local-root edge per non-root vertex). Cycle edges drop,
# connectivity is exactly preserved, and the edge set shrinks toward
# the global forest bound (n_vertices - n_components). Passes
# repartition to ~FOREST_EDGES_PER_TASK edges per task so each round
# sees more of the graph per task and the shrink is geometric; once
# the whole edge set fits ONE task, a single-task pass emits exact
# global (id, comp) labels directly — no driver collect.
FOREST_REDUCE_MAX_ROUNDS = 3
FOREST_EDGES_PER_TASK = 2_000_000


def _sv_components(s, d):
    """Vectorized min-hooking + full pointer jumping (the
    Shiloach-Vishkin style CC): each round hooks every edge's larger
    root onto the smaller and compresses all paths to depth 1;
    converges in O(log n) vectorized rounds (measured 2-4 on both
    dense and pure-chain graphs). Returns (verts, par) where
    ``verts`` is the sorted distinct vertex array and ``par[i]`` the
    index of vertex i's component root — the MIN vertex of the
    component, because hooking always points at the smaller root and
    ``verts`` is sorted."""
    import numpy as np

    verts, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    u = inv[: len(s)]
    v = inv[len(s):]
    par = np.arange(len(verts), dtype=np.int64)
    while True:
        pu = par[u]
        pv = par[v]
        hi = np.maximum(pu, pv)
        lo = np.minimum(pu, pv)
        before = par.copy()
        np.minimum.at(par, hi, lo)
        while True:
            pp = par[par]
            if np.array_equal(pp, par):
                break
            par = pp
        if np.array_equal(par, before):
            break
    return verts, par


def _spanning_forest_reduce(edges: DataFrame, n_edges: int) -> DataFrame:
    """One filtering pass: a partition-local STAR FOREST over a
    ``(src long, dst long)`` frame — for every non-root vertex one
    (vertex, local root) edge, so the output has the same components
    as the input with <= per-partition vertex counts rows. The local
    components come from vectorized min-hooking + full pointer
    jumping (the Shiloach-Vishkin style CC — each round hooks every
    edge's larger root onto the smaller and compresses all paths to
    depth 1; converges in O(log n) vectorized rounds, measured 2-4
    rounds on both dense and pure-chain graphs)."""

    def forest(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy())
            dsts.append(pdf["dst"].to_numpy())
        if not srcs:
            yield pd.DataFrame({"src": [], "dst": []}).astype("int64")
            return
        s = np.concatenate(srcs)
        d = np.concatenate(dsts)
        verts, par = _sv_components(s, d)
        idx = np.arange(len(verts), dtype=np.int64)
        nonroot = par != idx
        out_src = verts[nonroot]
        out_dst = verts[par[nonroot]]
        # keep self-loop-only vertices (singleton roots) as (v, v) so
        # they still reach the label output, the label-prop path's
        # behavior
        singles = (~nonroot) & (
            np.bincount(par, minlength=len(verts)) == 1
        )
        if singles.any():
            out_src = np.concatenate([out_src, verts[singles]])
            out_dst = np.concatenate([out_dst, verts[singles]])
        yield pd.DataFrame({"src": out_src, "dst": out_dst})

    n_parts = max(1, math.ceil(n_edges / FOREST_EDGES_PER_TASK))
    return edges.repartition(n_parts).mapInPandas(
        forest, "src long, dst long"
    )


def _sv_labels_single_task(edges: DataFrame) -> DataFrame:
    """Exact global (id, comp) labels in ONE single-task pass over a
    ``(src long, dst long)`` frame that fits one task (<=
    FOREST_EDGES_PER_TASK edges — ~32 MB of longs): comp is the min
    vertex id of the component, every vertex (including self-loop-only
    ones) gets a row. Replaces the collect + driver union-find +
    createDataFrame round-trip when the reduced edge set is small
    enough — labels never touch the driver."""

    def labels(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy())
            dsts.append(pdf["dst"].to_numpy())
        if not srcs:
            yield pd.DataFrame({"id": [], "comp": []}).astype("int64")
            return
        verts, par = _sv_components(
            np.concatenate(srcs), np.concatenate(dsts)
        )
        yield pd.DataFrame({"id": verts, "comp": verts[par]})

    return edges.repartition(1).mapInPandas(labels, "id long, comp long")


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    driver_edge_budget: int = CC_DRIVER_EDGE_BUDGET,
    fallback: str = "label_prop",
) -> DataFrame:
    """(id, comp) for every vertex appearing in ``edges``; ``comp`` is
    the min vertex id of the component. Deterministic.

    Small graphs (<= ``driver_edge_budget`` edges) take a driver-side
    union-find fast path: the edge set is persisted and counted ONCE
    — the count either proves it fits (then the persisted frame is
    collected, union-find is exact, and the distributed loop's
    per-round fixed cost — a checkpoint materialization + join +
    count, ~0.5 s/round locally — is paid zero times) or the same
    materialized frame seeds the filtering reduction, so the
    upstream pipeline never runs twice. Equality of the paths is
    pinned in tests/test_dedup.py; pass ``driver_edge_budget=0`` to
    force the distributed path.

    Over-budget integral-id graphs first take the FILTERING path
    (Lattanzi et al. SPAA'11): partition-local star-forest passes
    shrink the edge set toward the global forest bound
    (n_vertices - n_components) with components exactly preserved;
    once it fits one task, a single-task vectorized pass emits exact
    global labels with no driver round-trip. Only when the forest
    itself exceeds a task, or the shrink stalls, does ``fallback``
    pick the distributed algorithm: ``label_prop`` (default —
    O(diameter) rounds, right for dense shallow near-dup clusters)
    or ``star`` (large-star/small-star contraction, O(log d) rounds
    — pick when components can be LONG CHAINS, e.g.
    sorted-neighborhood match graphs, where label propagation's
    round count explodes with the chain length); ``star`` runs on
    the reduced edge set, ``label_prop`` on the original (a spanning
    forest can have a larger diameter than the graph it spans).

    Output id/comp type: ``long`` for integral input ids (both paths,
    so the schema never depends on which path ran); non-integral ids
    (e.g. string keys) always take the distributed path, which
    preserves the input type — the driver-side probe's ``cast("long")``
    would NULL them out (ANSI: throw)."""
    if fallback not in ("label_prop", "star"):
        raise ValueError(f"unknown fallback {fallback!r}")
    integral_ids = all(
        isinstance(edges.schema[c].dataType, _INTEGRAL_TYPES)
        for c in (src_col, dst_col)
    )
    if driver_edge_budget > 0 and integral_ids:
        # ONE materialization (persist + count) serves both the
        # budget decision and — for over-budget graphs — the first
        # filtering pass; the previous limit().collect() probe ran
        # the (possibly expensive) upstream pipeline once for the
        # probe and again for the reduction's sizing count.
        reduced = edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        ).persist()
        n = reduced.count()
        if n <= driver_edge_budget:
            rows = [(r[0], r[1]) for r in reduced.collect()]
            reduced.unpersist()
            comp = _union_find_components(rows)
            spark = edges.sparkSession
            return spark.createDataFrame(
                sorted(comp.items()), "id long, comp long"
            )
        # Over budget: filtering reduction (see _spanning_forest_reduce)
        # shrinks the edge set toward the global forest bound while
        # preserving components exactly; once it fits ONE task a
        # single-task pass emits exact global labels — the common
        # case, since forest edges are bounded by n_vertices -
        # n_components, not by the (often far larger) pair count. If
        # the forest itself exceeds a task (billions of vertices) or
        # the shrink stalls, the distributed fallback runs — ``star``
        # on the REDUCED set (same components, fewer edges;
        # contraction rounds are O(log d), immune to the forest's
        # longer paths), ``label_prop`` on the ORIGINAL set (a forest
        # can have a larger diameter than the graph it spans, which
        # would inflate label propagation's round count).
        stalled = False
        for _ in range(FOREST_REDUCE_MAX_ROUNDS):
            if n <= FOREST_EDGES_PER_TASK:
                labels = _sv_labels_single_task(reduced).localCheckpoint()
                reduced.unpersist()
                return labels
            nxt = _spanning_forest_reduce(reduced, n).persist()
            n_new = nxt.count()
            reduced.unpersist()
            reduced = nxt
            stalled = n_new >= 0.95 * n
            n = n_new
            if stalled:
                break
        if n <= FOREST_EDGES_PER_TASK:
            labels = _sv_labels_single_task(reduced).localCheckpoint()
            reduced.unpersist()
            return labels
        _log.warning(
            "connected_components: %d edges left after the spanning-forest "
            "reduction (%s; one task holds %d); running the distributed "
            "%s fallback",
            n,
            "shrink stalled" if stalled else f"{FOREST_REDUCE_MAX_ROUNDS} rounds",
            FOREST_EDGES_PER_TASK,
            fallback,
        )
        if fallback == "star":
            # star's first step localCheckpoints (eager), so the
            # persisted reduced frame can release right after the call
            labels = connected_components_star(
                reduced, "src", "dst"
            )
            reduced.unpersist()
            return labels.select(
                F.col("id").cast("long"), F.col("comp").cast("long")
            )
        reduced.unpersist()
    if fallback == "star":
        labels = connected_components_star(edges, src_col, dst_col)
        if integral_ids:
            labels = labels.select(
                F.col("id").cast("long"), F.col("comp").cast("long")
            )
        return labels
    und = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .union(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    n_changed = 0
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, und.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # the changed flag rides INSIDE the checkpointed frame, so
        # change detection is a filter-count over already-materialized
        # partitions — one join + one cheap count per round, not the
        # two joins + recompute a separate old-vs-new comparison costs
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", "comp")
                ).alias("new_comp"),
                (
                    F.coalesce("nbr_comp", "comp") < F.col("comp")
                ).alias("changed"),
            )
            .withColumnRenamed("new_comp", "comp")
            .localCheckpoint()
        )
        n_changed = new_labels.filter("changed").count()
        labels = new_labels.select("id", "comp")
        if n_changed == 0:
            break
    und.unpersist()
    if n_changed:
        # Exhausting the round budget with labels still moving means
        # some component's diameter exceeds max_iter — silently
        # returning half-merged clusters would be WRONG output, so fail
        # loudly. Long-diameter graphs should raise max_iter or switch
        # to large-star/small-star contraction (O(log d) rounds, see
        # module docstring).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({n_changed} labels still changing); raise "
            "max_iter for long-chain graphs"
        )
    if integral_ids:
        labels = labels.select(
            F.col("id").cast("long"), F.col("comp").cast("long")
        )
    return labels


def _canon_hash(edges: DataFrame) -> tuple[int, int]:
    """Cheap fixpoint probe: (count, sum of 31-bit pair hashes) —
    hashes are reduced mod 2^31 BEFORE summing so the sum stays exact
    under ANSI arithmetic up to ~2^32 edges."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 31))), F.lit(0)
        ).alias("h"),
    ).first()
    return row["n"], row["h"]


def connected_components_star(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """(id, comp) via alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public): converges in O(log d) rounds vs label
    propagation's O(d), the right choice for long-chain graphs.

    large-star: for each node u, hang every LARGER neighbor off
    m(u) = min(Γ(u) ∪ {u}); small-star: hang every smaller-or-equal
    neighbor (and u) off the local min. Each step is one groupBy-min
    plus one join per round — same primitives as label propagation,
    strictly fewer rounds on high-diameter graphs. Fixpoint is
    detected on a (count, hash) probe of the canonical edge set.
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    vertices = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    state = _canon_hash(e)
    for _ in range(max_iter):
        # large-star over the undirected neighborhood
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            und.join(mins, "u")
            .filter((F.col("v") > F.col("u")) & (F.col("v") != F.col("m")))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges now point large->small; group by the large end
        mins = e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        grouped = e.join(mins, "u")
        e = (
            grouped.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(grouped.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        new_state = _canon_hash(e)
        if new_state == state:
            break
        state = new_state
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds"
        )
    # e is now a star forest (child -> root); roots map to themselves
    labels = vertices.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("root")),
        "id",
        "left",
    ).select("id", F.coalesce("root", "id").alias("comp"))
    return labels


def dup_clusters(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    algorithm: str = "label_prop",
) -> DataFrame:
    """Cluster summary from pair edges: (comp, n_docs, canonical_id)
    with canonical = min id — the survivor-selection contract shared
    with exact dedup (dedup/exact.py).

    ``algorithm``: ``label_prop`` (default — near-dup clusters are
    dense and shallow, diameter ~2-3) or ``star`` (large-star/
    small-star, O(log d) rounds — pick for long-chain edge sets)."""
    if algorithm == "star":
        cc = connected_components_star(pairs, src_col, dst_col)
    elif algorithm == "label_prop":
        cc = connected_components(pairs, src_col, dst_col)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return cc.groupBy("comp").agg(
        F.count("*").alias("n_docs"),
        F.min("id").alias("canonical_id"),
    )
