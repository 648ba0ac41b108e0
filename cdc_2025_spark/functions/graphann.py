"""Graph-based approximate nearest neighbor: k-NN graph construction
plus iterative greedy beam search — the NSW/HNSW family's
navigable-graph idea (Malkov & Yashunin, TPAMI 2020) re-expressed for
a distributed engine.

HNSW itself is a sequential insert-time structure (each insert
searches the graph built so far) and does not map to a data-parallel
engine; what survives the translation — and what production systems
actually shard — is the two-phase form:

1. BUILD: a k-NN graph over the corpus. Candidate pairs come from any
   blocked source (random-hyperplane LSH buckets here — the same
   candidate generator the flat LSH search uses), each node keeps its
   k best neighbors by cosine, and edges are SYMMETRIZED (union with
   reverses) so greedy search cannot get stuck on a node whose
   out-edges were pruned — the NSW navigability trick. An optional
   degree cap bounds hub fan-out after symmetrization.
2. SEARCH: per query, a beam of the best B nodes seen so far expands
   along graph edges, scores the newly reached nodes against the
   query, and keeps the top B — repeat until no unvisited neighbor of
   the beam exists (greedy convergence) or ``max_hops``. Top-k of the
   final beam is the answer.

Scale shape — the part that matters at 100 TB:

- the graph is an (src, dst) id-pair frame: 16-byte rows, never
  vectors; construction shuffles candidate ids exactly like the LSH
  pair search, and the per-src top-k is a WindowGroupLimit partial;
- each search hop is ONE equi-join of the (qid, node) beam against
  the src-keyed edge frame + one anti-join against the visited set +
  one id-join to re-attach vectors for scoring — per-round volume is
  O(|queries| * beam * avg_degree) rows, independent of corpus size;
- the query set broadcasts (it is human/batch sized); rounds =
  graph hops to the neighborhood, which is O(log n) on navigable
  graphs — the whole search touches a vanishing fraction of the
  corpus, unlike the flat scan;
- beam/visited frames re-checkpoint per round so lineage stays flat
  (the connected_components / bfs_hops posture).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_2025_spark.functions.embeddings import cosine, make_cosine_udf

_log = logging.getLogger(__name__)


def knn_graph_from_candidates(
    emb: DataFrame,
    cand: DataFrame,
    k: int,
    max_degree: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """(src, dst, cos): each node's k best candidate neighbors by
    cosine (ties by dst id), symmetrized — every kept edge appears in
    both directions, so greedy search can traverse it either way.
    ``max_degree`` (default 2k) re-caps fan-out after symmetrization
    (hub nodes collect reverse edges from everywhere; unbounded hubs
    make a search hop's volume data-dependent).

    ``cand`` is (id_a, id_b) candidate pairs from any blocked source
    (LSH buckets, IVF cells, minhash bands) — the kernel is
    candidate-agnostic, like the verify stages of the dedup family."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cap = max_degree if max_degree is not None else 2 * k
    v = emb.select(
        F.col(id_col).alias("_gid"), F.col(vec_col).alias("_gvec")
    )
    both = cand.select("id_a", "id_b").unionByName(
        cand.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    # Arrow-batched numpy cosine, NOT the zip_with/aggregate form:
    # higher-order array lambdas are interpreted per element, and the
    # candidate frame is the build's hot path (measured 9 s -> ~2 s
    # on a 1M-candidate build at 64 dims)
    cos_udf = make_cosine_udf()
    scored = (
        both.join(v, both.id_a == v._gid)
        .withColumnRenamed("_gvec", "_va")
        .drop("_gid")
        .join(v, both.id_b == v._gid)
        .select(
            F.col("id_a").alias("src"),
            F.col("id_b").alias("dst"),
            cos_udf("_va", "_gvec").alias("cos"),
        )
        # zero-norm vectors have undefined cosine (NULL): excluded
        # from the graph entirely — the SAME rule the exact and
        # blocked builders apply, so the builder choice never changes
        # which vectors carry edges
        .filter(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos").desc(), F.col("dst")
    )
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    return _symmetrize_cap(top, cap)


def _symmetrize_cap(top: DataFrame, cap: int) -> DataFrame:
    """Union each kept edge's reverse (NSW navigability), then re-cap
    per-src fan-out at ``cap`` keeping the best by (cos desc, dst)."""
    # max-aggregate, NOT dropDuplicates: the exact/blocked builders
    # compute the two directions of a pair in different matmul
    # shapes, so the same pair can carry float-epsilon-different cos
    # values — an arbitrary keep would make later (cos desc, dst)
    # tie-breaks run-to-run nondeterministic (r9 ADVICE)
    sym = (
        top.unionByName(
            top.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "cos",
            )
        )
        .groupBy("src", "dst")
        .agg(F.max("cos").alias("cos"))
    )
    wc = Window.partitionBy("src").orderBy(
        F.col("cos").desc(), F.col("dst")
    )
    return (
        sym.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


def knn_graph_exact(
    emb: DataFrame,
    k: int,
    max_degree: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> DataFrame:
    """Exact k-NN graph via a broadcast corpus matrix: the corpus
    rides into a mapInPandas closure once (ids + float matrix — the
    caller gates on it fitting broadcast, the same budget contract as
    the brute-force searches), and each Arrow batch computes its
    block of the cosine matrix with one numpy matmul, emitting k
    edges per node — NO pair frame ever materializes, so the build
    moves O(n*k) rows instead of O(n²). The symmetrize/cap stage is
    shared with the candidate-based builder.

    Ties break by (cos desc, dst id) exactly like the candidate
    path (lexsort on (-cos, dst))."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cap = max_degree if max_degree is not None else 2 * k
    rows = emb.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    # zero-norm vectors: cosine undefined -> no edges touch them
    # (matches the NULL-filter rule of the candidate builder)
    keep = norms > 0
    ids, mat, norms = ids[keep], mat[keep], norms[keep]
    unit = mat / norms[:, None]
    spark = emb.sparkSession
    b = spark.sparkContext.broadcast((ids, unit))

    def score(batches):
        import pandas as pd

        c_ids, c_unit = b.value
        for pdf in batches:
            a = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            an = np.linalg.norm(a, axis=1)
            nz = an > 0
            an[an == 0] = 1.0
            cos = (a / an[:, None]) @ c_unit.T
            src = pdf[id_col].to_numpy()
            out_src, out_dst, out_cos = [], [], []
            for i in range(cos.shape[0]):
                if not nz[i]:
                    continue  # zero-norm source: no out-edges
                row = cos[i]
                # exclude self, take k best by (cos desc, id asc)
                order = np.lexsort((c_ids, -row))
                picked = 0
                for j in order:
                    if c_ids[j] == src[i]:
                        continue
                    out_src.append(src[i])
                    out_dst.append(c_ids[j])
                    out_cos.append(row[j])
                    picked += 1
                    if picked == k:
                        break
            yield pd.DataFrame(
                {"src": out_src, "dst": out_dst, "cos": out_cos}
            )

    top = emb.select(id_col, vec_col).mapInPandas(
        score, "src long, dst long, cos double"
    )
    return _symmetrize_cap(top, cap)


def knn_graph_blocked(
    emb: DataFrame,
    k: int,
    cell_target: int = 128,
    n_assign: int = 2,
    max_degree: int | None = None,
    kmeans_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    n_rows: int | None = None,
    train_fraction: float = 1.0,
) -> DataFrame:
    """The SCALE builder: k-NN graph via quantizer cells. The corpus
    is clustered into ~n/cell_target k-means cells (the session-style
    quantizer the IVF/SemDeDup family uses — deterministic lowest_id
    init, numpy assignment); every vector joins its ``n_assign``
    nearest cells (multi-assignment is the navigability bridge:
    boundary vectors sit in two cells, so the graph connects ACROSS
    cells and greedy search can leave its entry region); each cell
    computes its exact within-cell top-k with ONE numpy matmul in an
    applyInPandas group.

    Why this shape at 100 TB: vectors move ``n_assign`` times total
    (the cell shuffle), never per pair — candidate-pair frames are
    what made LSH-candidate builds quadratic in Arrow traffic; cell
    sizes are held at ~cell_target so per-group compute is bounded
    and uniform; everything downstream (cross-cell merge, symmetrize,
    cap) is id-pair-sized. The centroid set is n/cell_target rows —
    beyond driver comfort, train a two-level quantizer (cluster the
    centroids; same kernel) before collecting.

    Ties and determinism match the other builders: (cos desc, id).

    ``train_fraction`` < 1 trains the quantizer on a DETERMINISTIC
    hash sample of the corpus (pmod(xxhash64(id), 1000) bucket) —
    the standard coarse-quantizer posture (faiss trains IVF cells on
    a sample, never the corpus): cell GEOMETRY needs only the
    density shape, while ASSIGNMENT still scans every vector, so
    recall moves marginally and the Lloyd-train term of the cold
    build drops by ~1/fraction. Falls back to the full corpus when
    the sample would undershoot the cell count."""
    import numpy as np

    from cdc_2025_spark.functions.kmeans import lloyd_kmeans

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1, got {n_assign}")
    if not 0.0 < train_fraction <= 1.0:
        raise ValueError(
            f"train_fraction must be in (0, 1], got {train_fraction}"
        )
    cap = max_degree if max_degree is not None else 2 * k
    # callers that already counted the corpus (e.g. for a budget
    # gate) pass n_rows to avoid a second full scan
    n = n_rows if n_rows is not None else emb.count()
    n_cells = max(2, -(-n // cell_target))
    train = emb
    if train_fraction < 1.0:
        # ~10x the cell count is plenty to place cell centers; the
        # guard keeps degenerate (tiny corpus, aggressive fraction)
        # configs on the exact path
        if int(n * train_fraction) >= 10 * n_cells:
            train = emb.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(1000))
                < F.lit(int(train_fraction * 1000))
            )
        else:
            _log.warning(
                "knn_graph_blocked: a train_fraction=%g sample of %d vectors "
                "undershoots 10x the %d cells; training on the full corpus",
                train_fraction,
                n,
                n_cells,
            )
    cents = lloyd_kmeans(
        train,
        k=n_cells,
        n_iter=kmeans_iter,
        id_col=id_col,
        vec_col=vec_col,
        init="lowest_id",
        assign="numpy",
    )
    crows = sorted(
        [(r["cid"], list(r["cemb"])) for r in cents.collect()]
    )
    cids = np.asarray([c for c, _ in crows], dtype=np.int64)
    cmat = np.asarray([v for _, v in crows], dtype=np.float64)
    c2 = (cmat * cmat).sum(axis=1)
    m_assign = min(n_assign, len(cids))
    b = emb.sparkSession.sparkContext.broadcast((cids, cmat, c2))

    def assign_multi(batches):
        import pandas as pd

        a_cids, a_cmat, a_c2 = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = a_c2[None, :] - 2.0 * (x @ a_cmat.T)
            out_id, out_cell, out_vec = [], [], []
            for i in range(len(pdf)):
                order = np.lexsort((a_cids, d2[i]))[:m_assign]
                for j in order:
                    out_id.append(pdf[id_col].iloc[i])
                    out_cell.append(int(a_cids[j]))
                    out_vec.append(pdf[vec_col].iloc[i])
            yield pd.DataFrame(
                {"cell": out_cell, "_bid": out_id, "_bvec": out_vec}
            )

    assigned = emb.select(id_col, vec_col).mapInPandas(
        assign_multi, f"cell int, _bid long, _bvec array<double>"
    )

    def per_cell(pdf):
        import pandas as pd

        if len(pdf) == 0:
            return pd.DataFrame({"src": [], "dst": [], "cos": []}).astype(
                {"src": "int64", "dst": "int64", "cos": "float64"}
            )
        # zero-norm members: cosine undefined -> no edges (the same
        # exclusion rule as the other builders)
        x_all = np.stack(pdf["_bvec"].to_numpy()).astype(np.float64)
        nrm_all = np.linalg.norm(x_all, axis=1)
        pdf = pdf[nrm_all > 0]
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"src": [], "dst": [], "cos": []}).astype(
                {"src": "int64", "dst": "int64", "cos": "float64"}
            )
        ids = pdf["_bid"].to_numpy()
        x = x_all[nrm_all > 0]
        nrm = nrm_all[nrm_all > 0]
        u = x / nrm[:, None]
        cos = u @ u.T
        kk = min(k, m - 1)
        out_src, out_dst, out_cos = [], [], []
        for i in range(m):
            order = np.lexsort((ids, -cos[i]))
            picked = 0
            for j in order:
                if ids[j] == ids[i]:
                    continue
                out_src.append(ids[i])
                out_dst.append(ids[j])
                out_cos.append(cos[i, j])
                picked += 1
                if picked == kk:
                    break
        return pd.DataFrame(
            {"src": out_src, "dst": out_dst, "cos": out_cos}
        )

    cell_edges = (
        assigned.groupBy("cell")
        .applyInPandas(per_cell, "src long, dst long, cos double")
        # a pair co-resident in two shared cells computes twice, and
        # the two cells' matmul shapes differ -> the cos values can
        # differ at float epsilon; max-aggregate so the kept value is
        # deterministic (r9 ADVICE — dropDuplicates kept an
        # arbitrary row)
        .groupBy("src", "dst")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos").desc(), F.col("dst")
    )
    top = (
        cell_edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    return _symmetrize_cap(top, cap)


def beam_search(
    graph: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    beam: int = 16,
    max_hops: int = 10,
    entry_ids: list | None = None,
    hop_batch: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """(qid, vec_id, cos, rk): top-k per query by greedy beam search
    over ``graph``. Deterministic: scores are exact cosines, every
    tie breaks by node id, and the entry set is caller-fixed
    (default: the ``beam`` smallest node ids — any fixed set works;
    navigability comes from the graph, not the start).

    State is ONE frame per query — every node scored so far; the
    beam IS its per-query top-``beam`` (the incremental beam-merge
    formulation maintains exactly this set, so the single-frame form
    is equivalent — and it costs one checkpoint + one count per
    round instead of three checkpoints).

    Each round: expand the beam's out-edges ``hop_batch`` waves deep
    (wave 2+ expands everything wave 1 reached, unpruned — a
    lookahead that trades bounded extra scoring volume,
    O(beam * degree^hop_batch) rows per query, for proportionally
    fewer driver rounds: the LOCAL floor of an iterative search is
    rounds x job latency, not data volume), drop already-visited
    nodes, score the rest against the query (vectors attach by id —
    only newly reached nodes are ever scored), merge. Stops when no
    beam node has an unvisited neighbor, or after ``max_hops`` total
    hops."""
    if k < 1 or beam < k:
        raise ValueError(f"need beam >= k >= 1, got k={k} beam={beam}")
    if hop_batch < 1:
        raise ValueError(f"hop_batch must be >= 1, got {hop_batch}")
    spark = emb.sparkSession
    v = emb.select(
        F.col(id_col).alias("node"), F.col(vec_col).alias("_nvec")
    )
    q = queries.select(
        F.col(qid_col).alias("qid"), F.col(qvec_col).alias("_qvec")
    )
    if entry_ids is None:
        entry_ids = [
            r["node"]
            for r in v.select("node").orderBy("node").limit(beam).collect()
        ]
    entries = spark.createDataFrame(
        [(int(e),) for e in entry_ids], "node long"
    )
    # state: every (qid, node, cos) scored so far — initially the
    # fixed entry set scored per query
    state = (
        q.crossJoin(F.broadcast(entries))
        .join(v, "node")
        .select(
            "qid", "node", cosine("_qvec", "_nvec").alias("cos")
        )
        .localCheckpoint()
    )
    # deferred sentinel: the first round always runs (the entry beam
    # expanding nothing is pathological), so the initial state count
    # job is skipped; convergence compares successive round counts
    n_state = None
    edges = graph.select(
        F.col("src").alias("node"), F.col("dst")
    ).localCheckpoint(eager=False)
    wb = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("node")
    )
    hops_left = max_hops
    while hops_left > 0:
        waves = min(hop_batch, hops_left)
        hops_left -= waves
        seen = state.select("qid", "node")
        frontier = (
            state.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= beam)
            .select("qid", "node")
        )
        new_nodes = None
        for _ in range(waves):
            # Search state (frontier / seen / new_nodes) is bounded by
            # contract — O(|queries| * beam * degree^wave) ids, never
            # corpus-sized — so it BROADCASTS against the partitioned
            # edge/vector frames: per ROUND the only exchange left is
            # one distinct before scoring, not a shuffle of the graph.
            # This is the 100 TB shape (the graph never moves; the
            # beam rides to it) and it is also what keeps the local
            # per-round floor at ~job latency instead of 6+ shuffles.
            #
            # Waves carry DUPLICATE (qid, node) rows deliberately
            # (r15 optimization): a per-wave distinct cost one
            # exchange-stage per wave for a multiplicity-only cleanup
            # — reachability is decided by the per-wave anti-join
            # against the accumulated seen set (set semantics,
            # duplicate-insensitive), so deferring the dedup to one
            # distinct per round reaches the IDENTICAL node set while
            # cutting the round from 3 exchanges to 1. Duplicate
            # multiplicity stays bounded by degree^wave per contract.
            frontier = (
                edges.join(F.broadcast(frontier), "node")
                .select("qid", F.col("dst").alias("node"))
                .join(F.broadcast(seen), ["qid", "node"], "anti")
            )
            # waves are pairwise disjoint AS SETS (each anti-joins the
            # accumulated seen set), so plain union suffices
            new_nodes = (
                frontier
                if new_nodes is None
                else new_nodes.unionByName(frontier)
            )
            seen = seen.unionByName(frontier)
        scored = (
            v.join(F.broadcast(new_nodes.distinct()), "node")
            .join(F.broadcast(q), "qid")
            .select(
                "qid", "node", cosine("_qvec", "_nvec").alias("cos")
            )
        )
        state = state.unionByName(scored).localCheckpoint()
        n_new = state.count()
        if n_state is not None and n_new == n_state:
            break
        n_state = n_new
    return (
        state.withColumn("rk", F.row_number().over(wb).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "qid",
            F.col("node").alias(id_col),
            F.round("cos", 4).alias("cos"),
            "rk",
        )
    )
