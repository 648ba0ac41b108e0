"""Similarity search over the embeddings table.

- brute-force cosine top-k (the exact baseline; broadcast the query
  set, scan the corpus once)
- all-pairs above a cosine threshold (near-dup detection)
- random-hyperplane LSH bucketing (the scale path: candidates from
  sign-bit bands, exact cosine re-rank) — rows-only driver check,
  recall pinned in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.functions.embeddings import cosine
from cdc_2025_spark.io import read_table, table_stamp
from cdc_2025_spark.queries.registry import query
from cdc_2025_spark.session import artifact

N_QUERY_VECS = 5
TOP_K = 10
PAIR_THRESHOLD = 0.4


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS qid, emb AS qemb FROM e
          WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT qid, vec_id,
             list_cosine_similarity(qemb, emb) AS cos
      FROM q CROSS JOIN e
      WHERE qid <> vec_id
    ), ranked AS (
      SELECT qid, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    )
    SELECT qid, vec_id, ROUND(cos, 4) AS cos, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= {TOP_K}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for the first 5 vectors.

    Scale shape: the query set broadcasts (BroadcastNestedLoopJoin
    over a tiny side), the corpus streams through once, and the
    per-query top-k is a WindowGroupLimit — no corpus shuffle at all
    when k is small. This is the correct baseline ANN validators
    measure recall against."""
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("qid") != F.col("vec_id"))
        .select(
            "qid", "vec_id", cosine("qemb", "emb").alias("cos")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos", 4).alias("cos"), "rn")
    )


PAIR_SAMPLE_PCT_CAP = 25
# Audit pair budget: the sample admits ~sqrt(B) vectors, so the
# audited cross product is bounded at ~B/2 pairs AT ANY CORPUS SIZE
# (a fixed percentage would still grow quadratically). 125² keeps the
# effective pct at exactly the former fixed 25 on the 500-vector
# sf0.01 corpus, so the registered oracle output is unchanged there.
AUDIT_PAIR_BUDGET = 125 * 125
_AUDIT_NUM = 100.0 * math.sqrt(AUDIT_PAIR_BUDGET)  # = 12500.0 exactly


def audit_sample_pct(corpus_count: int) -> float:
    """Budget-derived audit sample percentage:
    min(CAP, 100·√B / n) — shrinks ~1/n so the audited pair count
    stays ≤ ~B/2 by construction. Pure mirror of the in-plan
    expression (the registered query computes it inside the plan from
    a broadcast COUNT, no driver action)."""
    return min(float(PAIR_SAMPLE_PCT_CAP), _AUDIT_NUM / corpus_count)


@query(
    "sim_pairs_above_threshold",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings, n
          WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100
                < LEAST({float(PAIR_SAMPLE_PCT_CAP)}, {_AUDIT_NUM} / n.n))
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= {PAIR_THRESHOLD}
    """,
)
def sim_pairs_above_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine >= 0.4 over a deterministic, BUDGETED
    hash sample — the AUDIT operator, not the scale path.

    The pairwise self-join is inherently O(n²), so the registered form
    gates its input with the seed-free md5-bucket sample the sampling
    queries use (engine-portable, reproducible), at a percentage
    derived from a fixed PAIR BUDGET: pct = min(25, 100·√B/n), so the
    audited pair count is bounded at ~B/2 no matter how large the
    corpus grows (a fixed pct would still be quadratic). On the
    sf0.01 corpus (n=500) the derived pct is exactly the former fixed
    25, so the oracle stream is unchanged. It exists to ground-truth
    `sim_lsh_bucketed_pairs`, the registered full-corpus near-dup
    operator (banded LSH, no cross product). The ungated form stays
    available to tests via ``sample_pct=100``.
    """
    return _pairs_above_threshold(
        spark, sf_dir, pair_budget=AUDIT_PAIR_BUDGET
    )


def _sample_bucket() -> F.Column:
    """Seed-free md5 bucket 0..99 on vec_id (shared with the sampling
    queries' construction — engine-portable, reproducible)."""
    return (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )


def budget_gate(
    df: DataFrame, pair_budget: int, cap_pct: float = PAIR_SAMPLE_PCT_CAP
) -> DataFrame:
    """Gate a vec_id-keyed DataFrame with the budget-derived md5-bucket
    sample: pct = min(cap, 100·√B / n), derived IN-PLAN from a
    broadcast scalar count — no driver-side action, and oracles mirror
    the arithmetic (LEAST(cap, 100·√B / n)) exactly. Any all-pairs
    consumer of the gated output is bounded at ~B/2 pairs regardless
    of corpus size."""
    cnt = df.agg(F.count("*").alias("_n"))
    pct = F.least(
        F.lit(float(cap_pct)),
        F.lit(100.0 * math.sqrt(pair_budget)) / F.col("_n"),
    )
    return (
        df.crossJoin(F.broadcast(cnt))
        .filter(_sample_bucket() < pct)
        .drop("_n")
    )


def _pairs_above_threshold(
    spark: SparkSession,
    sf_dir: str,
    sample_pct: int = 100,
    pair_budget: int | None = None,
) -> DataFrame:
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    if pair_budget is not None:
        emb = budget_gate(emb, pair_budget)
    elif sample_pct < 100:
        emb = emb.filter(_sample_bucket() < sample_pct)
    # norms hoisted per vector (bit-identical to inline cosine();
    # see the LSH re-rank note below) — the audit pair join is the
    # one place a per-pair re-fold would still be quadratic work
    from cdc_2025_spark.functions.embeddings import dot, norm

    embn = emb.withColumn("nrm", norm("emb"))
    a = embn.select(
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = embn.select(
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = F.when(
        (F.col("nrm_a") > 0) & (F.col("nrm_b") > 0),
        dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b")),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= PAIR_THRESHOLD)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos"))
    )


N_CENTROIDS = 16
N_PROBE = 6
KMEANS_ITER = 3

# IVF index state = the k centroid vectors (k*dim doubles — tiny).
# Built once per (session, corpus) by distributed k-means and kept
# driver-side, exactly like a real ANN deployment trains its coarse
# quantizer once and serves many queries against it.
def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """k-means centroids for the IVF coarse quantizer, as collected
    (cid, cemb) rows: deterministic lowest_id init + 3 Lloyd
    iterations (functions/kmeans.py) — reproducible across runs, and
    the per-query plan stays literal-only (no recomputed subplan).

    Config chosen by measurement (recall of sim_ivf_topk vs
    sim_topk_bruteforce, sf0.001/sf0.01): lowest_id+3 iters beat both
    k-means‖ init (0.70/0.84 at nprobe=6 — its better-balanced cells
    split true neighbor sets across more cells) and 5 iters
    (0.90/0.90); the embeddings are unit-norm so euclidean Lloyd's ==
    spherical k-means and no metric mismatch exists with the cosine
    cell assignment below."""
    from cdc_2025_spark.functions.kmeans import lloyd_kmeans

    def build() -> list[tuple]:
        emb = read_table(spark, sf_dir, "embeddings")
        # numpy assignment backend: exact agreement with the
        # expression path is pinned (test_kmeans.py), so the cached
        # quantizer is unchanged — only the build gets the Arrow
        # matmul speed (the n·k·dim interpreted folds dominated it)
        cents = lloyd_kmeans(
            emb,
            k=N_CENTROIDS,
            n_iter=KMEANS_ITER,
            init="lowest_id",
            assign="numpy",
        )
        return [(r["cid"], r["cemb"]) for r in cents.collect()]

    key = ("ivf_centroids", sf_dir, N_CENTROIDS, KMEANS_ITER,
           table_stamp(sf_dir, "embeddings"))
    return artifact(spark, key, build)


@query("sim_ivf_topk")
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is
    partitioned into N_CENTROIDS cells by nearest centroid; a query
    probes only its N_PROBE closest cells and ranks exactly within
    them — the classic ANN scale path (a 100 TB corpus scans
    nprobe/nlist of itself per query instead of all of it).

    Centroids come from distributed k-means (see _ivf_centroids),
    built once per (session, corpus) and cached, the way a deployed
    IVF index trains its coarse quantizer once. Rows-only driver
    check; recall vs sim_topk_bruteforce pinned in
    tests/test_similarity.py. Measured against the former
    first-16-vectors placeholder: avg recall 0.96/0.92
    (sf0.001/sf0.01) vs the placeholder's 0.90/0.92 at the same
    nprobe=6 scanned fraction (~36%) and 0.88/0.92 at its original
    nprobe=4 — k-means is the only config that clears 0.92.

    Plan shape: both the centroid set (N_CENTROIDS rows) and the probe
    map (N_QUERY_VECS queries × N_PROBE cells) broadcast; the corpus is
    scored against 16
    broadcast centroids in one codegen pass (argmax via max_by — no
    shuffle), then the candidate join is a broadcast hash join on
    cell id. The only shuffle is the final per-query top-k window
    over candidates (~nprobe/nlist of the corpus)."""
    from cdc_2025_spark.functions.embeddings import dot, norm

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        .withColumn("nrm", norm("emb"))
    )
    cents = spark.createDataFrame(
        _ivf_centroids(spark, sf_dir), "cid int, cemb array<double>"
    ).withColumn("cnrm", norm("cemb"))
    # assign every vector to its nearest centroid. Argmax cosine ==
    # argmax dot/|centroid| (the row's own norm is a positive constant
    # across its 16 candidates), so per-(row, centroid) work is one
    # dot product — no norm re-folds in the assignment at all.
    # NB: the dedup/minhash explode+agg rewrite was tried here and
    # measured SLOWER — per-row scoring against 16 broadcast centroids
    # is one narrow pipeline stage, while explode-to-dims adds an
    # aggregate exchange plus a join back to re-attach the vector.
    # Higher-order-lambda interpretation only loses when it replaces
    # partial-aggregable work, not when it rides a broadcast map.
    assigned = (
        emb.join(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cid", dot("emb", "cemb") / F.col("cnrm")
            ).alias("cell"),
            F.first("emb").alias("emb"),
            F.first("nrm").alias("nrm"),
        )
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    # per-query probe list: its N_PROBE nearest centroids (same
    # scale-invariance: ordering by dot/|centroid| == by cosine)
    wq = Window.partitionBy("qid").orderBy(
        F.col("qcos").desc(), F.col("cid")
    )
    probes = (
        q.join(F.broadcast(cents))
        .select(
            "qid",
            "qemb",
            "qnrm",
            "cid",
            (dot("qemb", "cemb") / F.col("cnrm")).alias("qcos"),
        )
        .withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= N_PROBE)
        .select("qid", "qemb", "qnrm", F.col("cid").alias("cell"))
    )
    # exact re-rank: true cosine from hoisted norms — identical
    # doubles to the inline cosine() (same expressions, once per
    # vector), preserving the NULL contract for zero-norm vectors
    rerank_cos = F.when(
        (F.col("qnrm") > 0) & (F.col("nrm") > 0),
        dot("qemb", "emb") / (F.col("qnrm") * F.col("nrm")),
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", rerank_cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos", 4).alias("cos"), "rn")
    )


@query("sim_kmeans_cell_profile")
def sim_kmeans_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (functions/kmeans.py) over the
    embeddings: 3 iterations, k=8, then per-cell population and mean
    within-cell distance. Iterative/non-SQL-expressible — rows-only
    driver check; objective monotonicity and determinism pinned in
    tests/test_kmeans.py."""
    from cdc_2025_spark.functions.kmeans import (
        _sq_dist,
        assign_cells,
        lloyd_kmeans,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cents = lloyd_kmeans(emb, k=8, n_iter=3)
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    assigned = assign_cells(vecs, cents)
    return (
        assigned.join(F.broadcast(cents), assigned.cell == cents.cid)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(F.sqrt(_sq_dist("emb", "cemb"))), 4).alias(
                "mean_dist"
            ),
        )
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane via splitmix64 — maps
    (plane, coord) to [-1, 1). Library-free, reproducible anywhere."""
    out = []
    for j in range(dim):
        z = (plane_idx * 1_000_003 + j * 0x9E3779B97F4A7C15 + 0x243F6A8885A308D3) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z = z ^ (z >> 31)
        out.append((z / 2**63) - 1.0)
    return out


LSH_DIM, LSH_PLANES, LSH_BANDS = 64, 16, 4


def lsh_candidate_sql(
    n_planes: int = LSH_PLANES,
    n_bands: int = LSH_BANDS,
    suffix: str = "",
    guard_sql: str | None = None,
) -> str:
    """DuckDB CTE block ``e, sig, bands, cand`` mirroring
    ``lsh_pairs``' candidate generation 1:1 — shared by the
    sim_lsh_bucketed_pairs oracle and the dedup_embedding_neardup_lsh
    oracle (queries/dedup.py), which wraps ``cand`` in a
    connected-components closure.

    The hyperplanes are deterministic compile-time constants
    (_hyperplane), so they inline as float literals (repr round-trips
    doubles exactly). Each projection is written as an explicit
    left-associated sum `0.0 + emb[1]*c1 + emb[2]*c2 + ...` to match
    Spark's aggregate() fold order bit-for-bit — sign bits at
    proj ~ 0 must not flip between engines. Banding, the
    bucket-equality candidate join, and DISTINCT mirror the Spark
    plan exactly, so both engines produce the SAME candidate set even
    where the geometry's recall is < 1.

    ``suffix`` renames the emitted CTEs (``e{suffix}``, ``sig{suffix}``,
    ...) so several geometries can coexist in one statement;
    ``guard_sql`` is an optional scalar-boolean SQL expression ANDed
    into the base scan so a non-matching geometry branch reads zero
    rows (the sim_lsh_auto_pairs dispatch)."""
    rpb = n_planes // n_bands
    s = suffix
    sign_cols = []
    for p in range(n_planes):
        plane = _hyperplane(LSH_DIM, p)
        terms = " + ".join(
            f"emb[{j + 1}]*{plane[j]!r}" for j in range(LSH_DIM)
        )
        sign_cols.append(
            f"(CASE WHEN 0.0 + {terms} >= 0 THEN '1' ELSE '0' END) AS b{p}"
        )
    band_selects = "\n      UNION ALL ".join(
        "SELECT vec_id, {i} AS band, {bits} AS bucket FROM sig{s}".format(
            i=i,
            bits="||".join(f"b{i * rpb + j}" for j in range(rpb)),
            s=s,
        )
        for i in range(n_bands)
    )
    sign_sql = ",\n             ".join(sign_cols)
    guard = f"WHERE {guard_sql}" if guard_sql else ""
    return f"""e{s} AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings {guard}),
    sig{s} AS (
      SELECT vec_id,
             {sign_sql}
      FROM e{s}
    ),
    bands{s} AS (
      {band_selects}
    ),
    cand{s} AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands{s} a JOIN bands{s} b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    )"""


def _lsh_oracle() -> str:
    """Full-pipeline oracle: shared candidate CTEs + the exact cosine
    re-rank at PAIR_THRESHOLD (see lsh_candidate_sql for the
    engine-parity reasoning)."""
    return f"""
    WITH {lsh_candidate_sql()}
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(ea.emb, eb.emb), 4) AS cos
    FROM cand
    JOIN e ea ON ea.vec_id = id_a
    JOIN e eb ON eb.vec_id = id_b
    WHERE list_cosine_similarity(ea.emb, eb.emb) >= {PAIR_THRESHOLD}
    """


@query("sim_lsh_bucketed_pairs", oracle=_lsh_oracle())
def sim_lsh_bucketed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 16 sign bits -> 4 bands of 4 bits ->
    bucket-join candidates -> exact cosine filter at the same 0.4
    threshold. Precision 1.0 by construction; recall vs
    sim_pairs_above_threshold pinned in tests/test_similarity.py.

    Hash-matched end to end against a DuckDB oracle (previously
    rows-only): the hyperplanes are compile-time constants, so the
    oracle inlines them as literals and mirrors the projection fold
    order exactly (see _lsh_oracle).

    Scale: one shuffle of (band, bucket, id) instead of the corpus
    cross product; hyperplanes are compile-time literals so the sign
    computation rides the scan."""
    return lsh_pairs(spark, sf_dir, threshold=PAIR_THRESHOLD)


_LSH_PAIR_CHUNK = 2_000_000  # pairs materialized per numpy chunk


def _lsh_bucket_rerank(sig, bk_expr, threshold: float) -> DataFrame:
    """The numpy re-rank leg of lsh_pairs: exact cosines computed
    PER BUCKET with applyInPandas instead of per candidate pair with
    the JVM fold. Vectors ship into Python once per bucket membership
    (n_bands copies, ~megabytes) — never once per pair (the naive
    pair-join + pandas-UDF variant measured SLOWER than the fold at
    sf0.1 because it Arrow-ships two 64-dim arrays per candidate,
    ~gigabytes at the auto geometry).

    Determinism across bands (the graphann ADVICE lesson): a pair
    co-resident in several buckets gets byte-identical cosines in each
    because every per-pair sum is a row-wise numpy reduction over the
    fixed dim axis — never a BLAS matmul whose blocking depends on the
    bucket size — so the dropDuplicates pick is value-stable. Skewed
    buckets iterate anchor-row BLOCKS sized so each block's pair
    count stays ~_LSH_PAIR_CHUNK — pair indices are generated per
    block, never materialized bucket-wide (np.triu_indices over a
    degenerate mega-bucket would allocate the full pair list up
    front), so worker memory stays bounded even when a bucket far
    exceeds the geometry's target size."""
    import numpy as np
    import pandas as pd

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        if m < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order].astype(np.int64)
        x = np.stack(pdf["emb"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        nrm = np.sqrt((x * x).sum(axis=1))
        rows_per_block = max(1, _LSH_PAIR_CHUNK // m)
        outs = []
        for i0 in range(0, m - 1, rows_per_block):
            ib = np.arange(i0, min(i0 + rows_per_block, m - 1))
            # pairs (i, j) with j > i for the anchor rows in this
            # block: ~rows_per_block * m <= _LSH_PAIR_CHUNK indices
            counts = m - 1 - ib
            ci = np.repeat(ib, counts)
            jg = np.arange(m)
            cj = np.broadcast_to(jg, (len(ib), m))[
                jg[None, :] > ib[:, None]
            ]
            num = (x[ci] * x[cj]).sum(axis=1)
            den = nrm[ci] * nrm[cj]
            cos = num / np.where(den == 0, 1.0, den)
            ok = (den > 0) & (cos >= threshold)
            if ok.any():
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[ci[ok]],
                            "id_b": ids[cj[ok]],
                            "cos": cos[ok],
                        }
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    grouped = sig.select("vec_id", "emb", bk_expr).select(
        "vec_id", "emb", "bk.band", "bk.bucket"
    )
    survivors = grouped.groupBy("band", "bucket").applyInPandas(
        _bucket_pairs, "id_a long, id_b long, cos double"
    )
    return survivors.dropDuplicates(["id_a", "id_b"]).select(
        "id_a", "id_b", F.round("cos", 4).alias("cos")
    )


def lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    n_planes: int = LSH_PLANES,
    n_bands: int = LSH_BANDS,
    rerank: str = "fold",
) -> DataFrame:
    """sim_lsh_bucketed_pairs body with the deployment knobs exposed.

    - ``threshold``: size to the corpus's pairwise-cosine tail (see
      dedup.py NEARDUP_COS_THRESHOLD) — at 64 dims the null cosine has
      sigma ~ 1/8, so a fixed low threshold on a 10x corpus admits a
      quadratically growing noise tail no matter how the data was
      generated (tools/scale_smoke.py runs 0.6 for that reason).
    - ``n_planes``/``n_bands``: bits per band must grow with
      log2(corpus) to keep expected bucket size — and with it the
      candidate-pair count, which is quadratic WITHIN each bucket —
      constant. The registered query pins 16/4 (4-bit buckets, sized
      for the sf0.01-sf0.1 corpora and mirrored by the oracle);
      the sf1 smoke measured 4-bit buckets at 20k vectors producing
      ~50M candidates, vs ~2M at 8-bit (n_planes=32). Deployments
      should not hand-tune these: ``lsh_auto_geometry`` derives both
      from (corpus_count, threshold, recall_at) and ``lsh_pairs_auto``
      wires it in.
    - ``rerank``: ``"fold"`` keeps the left-associated JVM aggregate
      whose sum order the sim_lsh_bucketed_pairs oracle mirrors term
      for term — the hash-matched query MUST stay on it. ``"numpy"``
      skips the candidate self-join entirely and computes exact
      cosines per bucket in Arrow-batched numpy (_lsh_bucket_rerank:
      row-wise float64 reductions — deterministic, but not
      bit-identical to the fold); only rows-only callers may use it,
      and tests/test_similarity.py pins that the surviving pair set
      and every 4dp cosine agree between the two paths on the test
      corpora.
    """
    if rerank not in ("fold", "numpy"):
        raise ValueError(f"rerank must be 'fold' or 'numpy', got {rerank!r}")
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    dim = LSH_DIM
    rpb = n_planes // n_bands
    # NB: flat unrolled 64-term sum expressions were tried here and
    # overflow janino's method-size limit at 16 planes — whole-stage
    # codegen bails and the interpreted fallback is SLOWER than the
    # higher-order-lambda form below. Keep zip_with/aggregate, whose
    # fold order also matches the oracle's left-associated sum.
    # Built as ONE F.expr string for ALL planes (r16), not one
    # aggregate tree per plane: transform over a literal
    # array<array<double>> of the hyperplanes evaluates the SAME
    # per-plane left-associated fold (same double literals via repr
    # round-trip — the arithmetic the sim_lsh_bucketed_pairs oracle
    # mirrors term for term is untouched), but the expression tree
    # carries one aggregate/zip_with/CASE subtree instead of
    # n_planes copies. At the auto geometry (56 planes x 64 dims)
    # the per-plane form spent ~0.6 s of driver construction and
    # ~0.6 s of catalyst per action on a 3600-node tree; the r15
    # per-plane expr-string form was itself ~10x over nested
    # F.array(F.lit...) Columns.
    planes_sql = ", ".join(
        "array("
        + ", ".join(f"{v!r}D" for v in _hyperplane(dim, p))
        + ")"
        for p in range(n_planes)
    )
    sig = emb.withColumn(
        "bits",
        F.expr(
            f"transform(array({planes_sql}), p -> CASE WHEN "
            "aggregate(zip_with(emb, p, (x, y) -> x * y), 0.0D, "
            "(acc, v) -> acc + v) >= 0 THEN 1 ELSE 0 END)"
        ),
    )
    bk_expr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice("bits", i * rpb + 1, rpb),
                            lambda x: x.cast("string"),
                        ),
                        "",
                    ).alias("bucket"),
                )
                for i in range(n_bands)
            ]
        )
    ).alias("bk")
    if rerank == "numpy":
        return _lsh_bucket_rerank(sig, bk_expr, threshold)
    bands = sig.select("vec_id", bk_expr).select(
        "vec_id", "bk.band", "bk.bucket"
    )
    # persist: both join sides read this subplan; without it the scan
    # + 16 hyperplane projections execute twice. The band rows carry
    # IDS ONLY — the candidate self-join and dedup shuffle 16-byte
    # rows, not embedding arrays (~60x narrower; measured 18 GB of
    # spill at the sf1 smoke when arrays rode the candidate join),
    # and the vectors re-attach afterwards by id for the exact
    # re-rank, candidates-only — same shape as minhash verification.
    bands = bands.persist()
    a = bands.select("band", "bucket", F.col("vec_id").alias("id_a"))
    b = bands.select("band", "bucket", F.col("vec_id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact re-rank with norms precomputed ONCE per vector: the 4-bit
    # geometry admits ~23% of the cross product as candidates at
    # sf0.1, and norm() inside cosine() would re-fold 128 interpreted
    # array elements per PAIR — hoisting it per vector is bit-identical
    # arithmetic (same expression, same input, evaluated once) and
    # removes 2/3 of the per-pair lambda work (whole query ~3.4s ->
    # ~2.0s steady-state at sf0.1)
    from cdc_2025_spark.functions.embeddings import dot, norm

    embn = emb.withColumn("nrm", norm("emb"))
    ea = embn.select(
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = embn.select(
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    d = dot("emb_a", "emb_b")
    cos = F.when(
        (F.col("nrm_a") > 0) & (F.col("nrm_b") > 0),
        d / (F.col("nrm_a") * F.col("nrm_b")),
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos"))
    )


LSH_TARGET_BUCKET = 128


def lsh_auto_geometry(
    corpus_count: int,
    threshold: float,
    recall_at: float,
    target_bucket: int = LSH_TARGET_BUCKET,
) -> tuple[int, int]:
    """SCALE.md's LSH sizing rule as code: (n_planes, n_bands) for a
    corpus of ``corpus_count`` vectors such that

    - expected bucket size stays ~``target_bucket``:
      bits_per_band = ceil(log2(n / target_bucket)) — the
      within-bucket candidate count is quadratic IN THE BUCKET, so
      holding bucket size constant keeps total candidates linear in
      the corpus (measured at the sf1 smoke: ~50M candidates at 4-bit
      buckets on 20k vectors vs ~2M at 8-bit);
    - recall for a pair AT cosine ``threshold`` meets ``recall_at``:
      the random-hyperplane S-curve gives band-match probability
      p^bits with p = 1 - acos(threshold)/pi, so
      n_bands = ceil(ln(1-recall_at) / ln(1-p^bits)). This is the
      WORST-CASE recall — true near-dups sit above the threshold and
      collide more often (the smoke measured 15/18 at a config whose
      at-threshold prediction is 0.64).

    The prediction inverts measured reality: the sf1 smoke's 32/4
    config found 4/18 true pairs at cos 0.6 and the formula predicts
    recall 0.222 there — so a 100 TB deployment states (threshold,
    recall) and gets the geometry, instead of hand-tuning planes and
    bands (tests pin both smoke configs; tools/scale_smoke.py calls
    this)."""
    if not 0.0 < recall_at < 1.0:
        raise ValueError(f"recall_at must be in (0, 1), got {recall_at}")
    if not -1.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (-1, 1), got {threshold}")
    bits = max(
        1, math.ceil(math.log2(max(corpus_count / target_bucket, 2.0)))
    )
    p = 1.0 - math.acos(threshold) / math.pi
    p_band = p**bits
    bands = max(
        1, math.ceil(math.log(1.0 - recall_at) / math.log(1.0 - p_band))
    )
    return bits * bands, bands


def lsh_pairs_auto(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    recall_at: float = 0.9,
    target_bucket: int = LSH_TARGET_BUCKET,
    corpus_count: int | None = None,
    rerank: str = "fold",
) -> DataFrame:
    """lsh_pairs with geometry derived by lsh_auto_geometry from the
    corpus size (counted once if not supplied — at deployment scale
    pass the known count to keep plan construction action-free)."""
    if corpus_count is None:
        corpus_count = read_table(spark, sf_dir, "embeddings").count()
    n_planes, n_bands = lsh_auto_geometry(
        corpus_count, threshold, recall_at, target_bucket
    )
    return lsh_pairs(
        spark,
        sf_dir,
        threshold,
        n_planes=n_planes,
        n_bands=n_bands,
        rerank=rerank,
    )


SIM_LSH_AUTO_RECALL = 0.9

# The geometries lsh_auto_geometry derives for the driver-visible
# corpora: 500 embeddings (sf0.001 AND sf0.01) -> 2 bits x 5 bands;
# 2000 (sf0.1) -> 4 bits x 14 bands. The auto oracle bakes a literal
# sign pipeline per geometry and DISPATCHES in SQL by re-deriving the
# geometry from the corpus count with the same formula — so the
# oracle stays an independent recomputation (formula + hyperplanes +
# banding + verify), not a per-SF answer key. A corpus whose derived
# geometry is not baked matches no branch -> empty result -> loud
# row-count red (never a silent pass); tests pin that every testdata
# corpus derives a baked geometry.
_LSH_AUTO_BAKED = [(10, 5), (56, 14)]


def _lsh_auto_oracle() -> str:
    """Full-pipeline oracle for the AUTO-geometry LSH query: re-derive
    (bits, bands) from the corpus count in SQL (mirroring
    lsh_auto_geometry: bits = max(1, ceil(log2(max(n/target, 2)))),
    p = 1 - acos(threshold)/pi, bands = max(1,
    ceil(ln(1-recall)/ln(1-p^bits)))), then run the literal
    hyperplane pipeline baked for that geometry (see
    lsh_candidate_sql — each branch's base scan is guarded so only
    the matching geometry reads rows), and exact-cosine verify at
    the shared threshold."""
    thr = PAIR_THRESHOLD
    bits_sql = (
        "(SELECT GREATEST(1.0, CEIL(LOG2(GREATEST("
        f"CAST(COUNT(*) AS DOUBLE) / {LSH_TARGET_BUCKET}, 2.0)))) "
        "FROM embeddings)"
    )
    branches = []
    cands = []
    for idx, (planes, bands) in enumerate(_LSH_AUTO_BAKED):
        bits = planes // bands
        bands_sql = (
            f"GREATEST(1.0, CEIL(LN(1.0 - {SIM_LSH_AUTO_RECALL}) / "
            f"LN(1.0 - POWER(1.0 - ACOS({thr}) / PI(), {bits}.0))))"
        )
        guard = f"{bits_sql} = {bits}.0 AND {bands_sql} = {bands}.0"
        branches.append(
            lsh_candidate_sql(
                planes, bands, suffix=f"_g{idx}", guard_sql=guard
            )
        )
        cands.append(f"SELECT id_a, id_b FROM cand_g{idx}")
    branch_sql = ",\n    ".join(branches)
    cand_union = "\n      UNION ALL ".join(cands)
    return f"""
    WITH {branch_sql},
    cand_auto AS (
      {cand_union}
    ),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings)
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(ea.emb, eb.emb), 4) AS cos
    FROM cand_auto
    JOIN ev ea ON ea.vec_id = id_a
    JOIN ev eb ON eb.vec_id = id_b
    WHERE list_cosine_similarity(ea.emb, eb.emb) >= {thr}
    """


@query("sim_lsh_auto_pairs", oracle=_lsh_auto_oracle())
def sim_lsh_auto_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_lsh_bucketed_pairs with the geometry DERIVED instead of
    pinned: lsh_auto_geometry states (corpus_count, threshold=0.4,
    recall_at=0.9) and gets (n_planes, n_bands) — the production
    sizing path a 100 TB deployment uses instead of hand-tuning the
    16/4 the fixed-geometry query registers.

    Hash-matched end to end against a DuckDB oracle (previously
    rows-only — converted r15): the oracle re-derives the geometry
    from the corpus count with the same closed-form formula in SQL,
    dispatches to a literal hyperplane pipeline baked per
    driver-visible geometry (a corpus deriving an unbaked geometry
    matches no branch and fails loudly on row count), and
    exact-cosine verifies at the shared threshold — see
    _lsh_auto_oracle. The numpy re-rank's 4dp cosines are pinned
    equal to the JVM fold path (and so to the oracle's
    list_cosine_similarity) over the full candidate set at both test
    SFs in test_similarity.py; lsh_auto_geometry itself reproduces
    both measured smoke-geometry configs there. The corpus count is
    one metadata-only parquet count at plan construction
    (deployments pass the known count — see lsh_pairs_auto)."""
    return lsh_pairs_auto(
        spark,
        sf_dir,
        threshold=PAIR_THRESHOLD,
        recall_at=SIM_LSH_AUTO_RECALL,
        rerank="numpy",
    )


PQ_M = 8          # subspaces (64-dim corpus -> 8 dims each)
PQ_K_SUB = 16     # centroids per subspace codebook
PQ_SHORTLIST = 50  # ADC shortlist size before exact re-rank


def _pq_index(spark: SparkSession, sf_dir: str):
    """(codebooks, encoded-codes DataFrame), a session artifact per
    corpus — the deployed-index posture shared with _ivf_centroids
    and the SemDeDup quantizer (train once, serve many). The encoded
    codes are lazily checkpointed so repeat queries scan the M-byte
    codes, not the float vectors."""
    from cdc_2025_spark.functions.pq import pq_encode, pq_train

    def build():
        emb = read_table(spark, sf_dir, "embeddings")
        books = pq_train(
            spark, emb, m=PQ_M, k_sub=PQ_K_SUB, n_iter=KMEANS_ITER
        )  # one grouped Lloyd: a shuffle per iteration, not per book
        codes = pq_encode(emb, books).localCheckpoint(eager=False)
        return books, codes

    key = ("pq_index", sf_dir, PQ_M, PQ_K_SUB, KMEANS_ITER,
           table_stamp(sf_dir, "embeddings"))
    return artifact(spark, key, build)


@query("sim_pq_topk")
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k (Jégou et al. TPAMI 2011,
    functions/pq.py): ADC scan over the 8-byte PQ codes produces a
    {PQ_SHORTLIST}-candidate shortlist per query, then an EXACT
    cosine re-rank over just the shortlist picks the final top-k —
    the FAISS-style two-stage recipe, with the scan stage reading
    codes only (32x narrower than the float vectors at dim=64/M=8).

    Rows-only by design: the codebooks come from iterative Lloyd
    runs (no SQL twin — the SemDeDup/IVF posture). Accuracy is
    pinned in tests/test_similarity.py: recall@{TOP_K} vs
    sim_topk_bruteforce on the fixture corpus, reconstruction error
    vs a degenerate codebook, and cross-invocation determinism.

    Plan shape: training is M={PQ_M} narrow k-means runs (cached per
    session/corpus); the ADC LUTs (|queries| x M x K_SUB doubles)
    ride the mapInPandas closure; the only corpus-wide shuffle is
    the per-query shortlist top-n; the exact re-rank joins true
    vectors for shortlist ids only (id-keyed, ~queries x
    {PQ_SHORTLIST} rows)."""
    from cdc_2025_spark.functions.embeddings import dot, norm
    from cdc_2025_spark.functions.pq import pq_adc_topn

    books, codes = _pq_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # the bounded query set: same N_QUERY_VECS contract as the other
    # similarity queries (collect is queries-sized, never corpus)
    queries = [
        (r["vec_id"], list(r["emb"]))
        for r in emb.filter(F.col("vec_id") < N_QUERY_VECS).collect()
    ]
    short = pq_adc_topn(codes, queries, books, PQ_SHORTLIST).filter(
        F.col("qid") != F.col("vec_id")
    )
    withv = short.join(emb, "vec_id").select(
        "qid", "vec_id", F.col("emb").alias("cemb")
    )
    qdf = spark.createDataFrame(
        queries, "qid long, qemb array<double>"
    )
    cos = F.when(
        (norm("qemb") > 0) & (norm("cemb") > 0),
        dot("qemb", "cemb") / (norm("qemb") * norm("cemb")),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        withv.join(F.broadcast(qdf), "qid")
        .select("qid", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos", 4).alias("cos"), "rn")
    )


@query("sim_ivfpq_topk")
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed — the standard billion-scale ANN recipe
    (FAISS IVFPQ; Jégou et al. TPAMI 2011 §V): the coarse quantizer
    prunes the corpus to each query's N_PROBE nearest cells, PQ-ADC
    scores ONLY those candidates from their 8-byte codes, and the
    exact re-rank orders the shortlist by true cosine. At 100 TB the
    scan cost per query is (nprobe/nlist) x (corpus bytes / 32):
    both reductions multiply, which is why the composition — not
    either half alone — is the deployed shape.

    Both index halves are the session-cached artifacts the
    standalone queries train (_ivf_centroids, _pq_index), so this
    query adds NO training cost of its own — the registration
    exercises exactly the composition seam: probe map broadcast,
    candidate join on cell id, per-candidate LUT lookups keyed by
    the row's own query, shortlist window, id-keyed re-rank join.

    Rows-only (iterative training on both halves); recall vs brute
    force and the subset relation to plain-IVF pinned in
    tests/test_similarity.py."""
    from cdc_2025_spark.functions.embeddings import dot, norm
    from cdc_2025_spark.functions.pq import pq_adc_candidates

    books, codes = _pq_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cents = spark.createDataFrame(
        _ivf_centroids(spark, sf_dir), "cid int, cemb array<double>"
    ).withColumn("cnrm", norm("cemb"))
    assigned = (
        emb.join(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", dot("emb", "cemb") / F.col("cnrm")).alias(
                "cell"
            )
        )
    )
    queries = [
        (r["vec_id"], list(r["emb"]))
        for r in emb.filter(F.col("vec_id") < N_QUERY_VECS).collect()
    ]
    qdf = spark.createDataFrame(queries, "qid long, qemb array<double>")
    wq = Window.partitionBy("qid").orderBy(
        F.col("qcos").desc(), F.col("cid")
    )
    probes = (
        qdf.join(F.broadcast(cents))
        .select(
            "qid",
            "cid",
            (dot("qemb", "cemb") / F.col("cnrm")).alias("qcos"),
        )
        .withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= N_PROBE)
        .select("qid", F.col("cid").alias("cell"))
    )
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("qid") != F.col("vec_id")
    )
    cand_codes = cand.join(codes, "vec_id")
    scored = pq_adc_candidates(cand_codes, queries, books)
    ws = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    short = (
        scored.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= PQ_SHORTLIST)
        .select("qid", "vec_id")
    )
    cos = F.when(
        (norm("qemb") > 0) & (norm("cemb") > 0),
        dot("qemb", "cemb") / (norm("qemb") * norm("cemb")),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        short.join(emb.select("vec_id", F.col("emb").alias("cemb")), "vec_id")
        .join(F.broadcast(qdf), "qid")
        .select("qid", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos", 4).alias("cos"), "rn")
    )


CORESET_K = 16


@query("sample_kcenter_coreset")
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-based data selection: the k-center greedy coreset
    (functions/coreset.py — Sener & Savarese ICLR'18) over the
    embeddings corpus. Where the dedup family removes REDUNDANCY,
    this picks the {CORESET_K}-point subset that best COVERS the
    embedding space (max-min distance, 2-approximation of the
    k-center optimum) — the budgeted-selection step of
    train-on-less pipelines.

    Output: (vec_id, sel_rank, min_sq_dist) in selection order —
    min_sq_dist is the point's distance to the previously-selected
    set at the moment it was picked (monotonically non-increasing by
    the greedy invariant; 0 by convention for the seed).

    Rows-only by design (k sequential data-dependent argmax rounds —
    no SQL twin); greedy-model equality, the monotone-radius
    invariant, and determinism are pinned in
    tests/test_similarity.py. Shape: selected centers are k·dim
    driver-side floats; each round is one scan + one max_by
    aggregate over an incrementally-maintained min-distance column
    (measures only against the newest center), so total cost is
    k scans — the same iterative-training posture as Lloyd's. The
    selection is deterministic, so like the other trained artifacts
    it is a session artifact per (corpus, k): a repeated invocation
    (a served query, the bench's best-of-2) returns the identical
    list without re-running the k rounds."""
    from cdc_2025_spark.functions.coreset import kcenter_greedy

    emb = read_table(spark, sf_dir, "embeddings")
    key = ("kcenter_coreset", sf_dir, CORESET_K,
           table_stamp(sf_dir, "embeddings"))
    picked = artifact(spark, key, lambda: kcenter_greedy(emb, CORESET_K))
    return spark.createDataFrame(
        [
            (vid, i + 1, round(d, 4))
            for i, (vid, d) in enumerate(picked)
        ],
        "vec_id long, sel_rank int, min_sq_dist double",
    )


HN_K = 5
HN_FLOOR = 0.10  # below this, negatives are trivially easy


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS qid, emb AS qemb FROM e
          WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT qid, vec_id,
             list_cosine_similarity(qemb, emb) AS cos
      FROM q CROSS JOIN e
      WHERE qid <> vec_id
    ), banded AS (
      SELECT qid, vec_id, cos FROM scored
      WHERE cos >= {HN_FLOOR} AND cos < {PAIR_THRESHOLD}
    ), ranked AS (
      SELECT qid, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rn
      FROM banded
    )
    SELECT qid, vec_id, ROUND(cos, 4) AS cos, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= {HN_K}
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the
    highest-similarity NON-duplicates per anchor — the negatives
    dense-retrieval training needs; DPR, Karpukhin et al. EMNLP'20,
    samples them from a lexical index, ANCE, Xiong et al. ICLR'21,
    mines them by ANN exactly as here): for each anchor, the top
    {HN_K} vectors with cosine in [{HN_FLOOR}, {PAIR_THRESHOLD}) —
    similar enough to be informative, below the near-dup threshold
    so no positive leaks into the negative set.

    Shape: identical to sim_topk_bruteforce (anchors broadcast, one
    corpus scan, per-anchor WindowGroupLimit) with the band filter
    fused into the scan pass — the mining adds ZERO cost over the
    top-k baseline. At deploy scale the same band-and-rank drops in
    after any ANN candidate stage (IVF/PQ/LSH) instead of the exact
    scan; the exact form is the auditable contract."""
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    cos = cosine("qemb", "emb")
    banded = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", cos.alias("cos"))
        .filter((F.col("cos") >= HN_FLOOR) & (F.col("cos") < PAIR_THRESHOLD))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HN_K)
        .select("qid", "vec_id", F.round("cos", 4).alias("cos"), "rn")
    )


# ---------------------------------------------------------------------------
# Distributed PCA projection
# ---------------------------------------------------------------------------

PCA_COMPONENTS = 4


def _pca_model(spark: SparkSession, sf_dir: str):
    """Fitted (mean, components, eigvals, n), a session artifact per
    corpus like the IVF/PQ quantizers: the fit is one
    sufficient-stats pass; repeated invocations reuse the d²-sized
    model."""
    from cdc_2025_spark.functions.pca import pca_fit

    emb = read_table(spark, sf_dir, "embeddings")
    key = ("pca_model", sf_dir, PCA_COMPONENTS,
           table_stamp(sf_dir, "embeddings"))
    return artifact(spark, key, lambda: pca_fit(emb, PCA_COMPONENTS))


@query("embed_pca_project")
def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: project every embedding onto the corpus's
    top-4 principal components — the dimensionality-reduction /
    whitening front end an embedding pipeline runs before
    clustering, visualization, or cheap prefilters (public
    construction; MLlib RowMatrix computes the same Gramian by
    treeAggregate).

    rows-only by design: eigendecomposition of the covariance has no
    DuckDB twin. Accuracy is pinned in tests/test_pca.py instead —
    exact 4dp equality against a full-data numpy PCA under the same
    sign convention, component orthonormality, descending
    non-negative eigenvalues, and determinism across invocations.

    Shape, built to scale: ONE sufficient-statistics pass (per-batch
    numpy partials → a position-keyed grouped sum bounded by d², so
    the driver sees d²+d+1 doubles regardless of corpus or cluster
    size); the (r×d) component matrix rides the mapInPandas closure
    back over the corpus — one centered matmul per Arrow batch, no
    shuffle in the projection at all. Fit cached per
    (session, corpus) like the IVF/PQ quantizers.
    """
    from cdc_2025_spark.functions.pca import pca_project

    mu, comps, _eigvals, _n = _pca_model(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    proj = pca_project(emb, mu, comps)
    labels = emb.select(F.col("vec_id").alias("id"), "label")
    return proj.join(labels, "id").select(
        F.col("id").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
        *[f"pc{i + 1}" for i in range(PCA_COMPONENTS)],
    )


KNN_N_LABELED = 100
KNN_K = 5


@query(
    "sim_knn_label_spread",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
               FROM embeddings),
    lab AS (SELECT vec_id AS lid, emb AS lemb, label FROM e
            WHERE vec_id < {KNN_N_LABELED}),
    unl AS (SELECT vec_id, emb FROM e WHERE vec_id >= {KNN_N_LABELED}),
    scored AS (
      SELECT u.vec_id, l.lid, l.label,
             list_cosine_similarity(u.emb, l.lemb) AS cos
      FROM unl u CROSS JOIN lab l
    ),
    knn AS (
      SELECT vec_id, label, cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, lid) AS rn
      FROM scored
    ),
    votes AS (
      SELECT vec_id, label,
             CAST(COUNT(*) AS BIGINT) AS n_votes,
             AVG(cos) AS mean_cos
      FROM knn WHERE rn <= {KNN_K}
      GROUP BY vec_id, label
    ),
    pick AS (
      SELECT vec_id, label, n_votes, mean_cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY n_votes DESC, label) AS pr
      FROM votes
    )
    SELECT vec_id, CAST(label AS INTEGER) AS pred_label, n_votes,
           ROUND(mean_cos, 4) AS mean_cos
    FROM pick WHERE pr = 1
    """,
)
def sim_knn_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN LABEL SPREADING: classify every unlabeled vector by the
    majority label of its k = 5 nearest labeled neighbors (cosine) —
    the "spread a small human-labeled quality/topic seed set over the
    whole corpus" step of classifier-based curation (the same role
    fastText plays in CCNet/LLaMA data prep, here nonparametric).
    Labeled seed = vec_id < 100; ties break (count desc, label asc) —
    integer-only, engine-portable.

    Shape: the seed set BROADCASTS (tiny side of a nested-loop
    score), the corpus streams through ONE scan, per-vector top-k is
    a WindowGroupLimit partial, and voting aggregates k rows per
    vector. The top-k window's hash(vec_id) output partitioning
    already satisfies both vote groupings, so the ONLY shuffle after
    the broadcast score is the window's own — the winner pick is a
    max_by struct aggregate (max (n_votes, -label) == count desc,
    label asc), not a second window, so the k·|corpus| vote frame is
    hash-aggregated instead of fully sorted (r8 bench: the sort was
    ~1/3 of the query). At 100 TB the seed set stays
    human-label-sized (10⁴-10⁶ rows): broadcast holds; if the seed
    itself outgrows broadcast, the score step switches to the IVF
    probe path (sim_ivf_topk) unchanged downstream.
    """
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        "label",
    )
    lab = emb.filter(F.col("vec_id") < KNN_N_LABELED).select(
        F.col("vec_id").alias("lid"),
        F.col("emb").alias("lemb"),
        "label",
    )
    unl = (
        emb.filter(F.col("vec_id") >= KNN_N_LABELED)
        .select("vec_id", "emb")
        # hash(vec_id) BEFORE the broadcast score: parallelizes the
        # nested-loop scoring past the scan's file-partition count
        # (one corpus-row shuffle), and the top-k window + both vote
        # aggregates inherit the partitioning — the |corpus|×|seed|
        # pair frame never shuffles at all.
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    scored = F.broadcast(lab).crossJoin(unl).select(
        "vec_id", "lid", "label", cosine("emb", "lemb").alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "lid")
    knn = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KNN_K
    )
    votes = knn.groupBy("vec_id", "label").agg(
        F.count("*").cast("long").alias("n_votes"),
        F.avg("cos").alias("mean_cos"),
    )
    # (vec_id, label) rows are unique, so max over the ordering struct
    # is deterministic: lexicographic (n_votes, -label) == the oracle's
    # ROW_NUMBER() ... ORDER BY n_votes DESC, label ASC pick.
    best = votes.groupBy("vec_id").agg(
        F.max_by(
            F.struct("label", "n_votes", "mean_cos"),
            F.struct(
                F.col("n_votes").alias("o1"),
                (-F.col("label")).alias("o2"),
            ),
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.label").cast("int").alias("pred_label"),
        F.col("b.n_votes").alias("n_votes"),
        F.round("b.mean_cos", 4).alias("mean_cos"),
    )
