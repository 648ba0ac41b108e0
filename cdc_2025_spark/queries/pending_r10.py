"""Round-10 registration queue: prepared driver queries + DuckDB
oracles for the four kernels that landed in round 8 with tests but no
driver surface (entity resolution, k-anonymity, weighted reservoir,
classifier evaluation), plus the streaming late-data/watermark audit
the round-8 verdict asked to stage.

NOT imported by queries/__init__.py on purpose: the registry
freshness guard requires never-checked queries to LEAD a verification
window, and the round-9 window is fully owed to the re-check backlog.
Registering is one call — add ``pending_r10`` to the import list in
queries/__init__.py, call :func:`register_all` there, and front-load
:data:`PENDING_ORDER` in the round-10 ``_VERIFY_FIRST``.

Until then the queries are exercised by tests/test_pending_r10.py,
which runs each one against its oracle with the same normalization
the driver applies.

Pre-registration sf0.1 wall times (min-of-3, idle local[32], for the
round-10 bench.py HEADLINE additions): ER golden records 2.84 s and
1.78x at the 10x customer replica (5.06 s — was 3.78 s / 5.4x in r9;
round-10 fixes: filtering-reduction closure, lead()-window SNM, the
gate thresholding the carried order attribute instead of re-joining
the entity table — see the SCALE.md round-10 ER section),
k-anonymity 0.65 s, weighted reservoir 0.28 s,
AUC 0.29 s, threshold sweep 0.38 s, late-data audit 0.36 s,
graph ANN 6.7 s (exact build via broadcast matmul + 8 beam-search
hops at ~0.7 s/hop driver latency — rounds, not data volume, are the
local floor; the sf0.1 embeddings corpus is 2 000 vectors). At the
10x replica (20k vectors) the budget gate switches the build to
knn_graph_blocked and the query measures 10.17 s — 1.5x at 10x.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.io import read_table, table_stamp
from cdc_2025_spark.session import artifact

# ---------------------------------------------------------------------------
# Entity resolution: customer golden records
# ---------------------------------------------------------------------------

# Match gate: candidate customers (sharing a block key) whose account
# balances differ by at most this — a stand-in for "same entity seen
# twice with minor drift", chosen so sf0.01 yields a non-trivial but
# closure-friendly match graph.
ER_BAL_EPS = 2.0
ER_BAL_BLOCK = 100  # acctbal blocking bucket width
# Scale guard: blocks past this size switch from full quadratic
# pairing to sorted-neighborhood pairing (Hernández-Stolfo) ordered
# by the gate attribute (acctbal — SNM recall is exact for the
# |Δbal| gate whenever < ER_SNM_WINDOW members separate a true pair
# in balance order). Measured without it: a 10x customer replica
# grew candidates 2M -> 192M (quadratic per block); with it the
# oversized blocks contribute O(m * window).
ER_MAX_BLOCK = 1000
ER_SNM_WINDOW = 10


def er_customer_golden_records(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entity resolution end-to-end (functions/er.py): blocking →
    similarity gate → transitive closure → survivorship, over the
    customer table. Two blocking keys union'd — (nation, segment) and
    floor(acctbal/100) — then a |Δbal| <= ER_BAL_EPS gate, components
    via the shared connected_components kernel, and the per-cluster
    survivor picked by (acctbal desc, custkey).

    Output: one row per customer (c_custkey, cluster_id, is_golden) —
    the auditable merge map. The oracle replays blocking + gate in
    SQL and the closure as a recursive CTE (the
    dedup_jaccard_clusters pattern).

    Scale shape: each blocking key is one key-grouped self-join over
    (block key, id) pairs — never a cross product; blocks past
    ER_MAX_BLOCK pair by sorted neighborhood instead of fully (the
    quadratic-block guard — see blocked_candidate_pairs); the gate
    thresholds the snm_order attribute, which rides the pair stream
    (keep_order=True), so the pair stream never re-joins the entity
    table and dedup is the closure's (distinct=False — duplicate
    edges never change connectivity); the closure touches id pairs
    only; survivorship is one window per cluster. Full records
    shuffle exactly once (the final label join)."""
    from cdc_2025_spark.functions.er import (
        blocked_candidate_pairs,
        golden_records,
    )

    cust = read_table(spark, sf_dir, "customer")
    cand = blocked_candidate_pairs(
        cust,
        "c_custkey",
        [
            # F.concat (NULL-propagating), NOT concat_ws: a NULL
            # nationkey must yield a NULL block key so the row never
            # blocks on a partial key — blocked_candidate_pairs'
            # documented rule, and what the oracle's IS NOT NULL
            # guards express (r9 review fix)
            F.concat(
                F.col("c_nationkey").cast("string"),
                F.lit("|"),
                F.col("c_mktsegment"),
            ),
            F.floor(F.col("c_acctbal") / ER_BAL_BLOCK).cast("string"),
        ],
        max_block=ER_MAX_BLOCK,
        snm_order=F.col("c_acctbal"),
        snm_window=ER_SNM_WINDOW,
        keep_order=True,
        distinct=False,
        # r16: the gate below thresholds |Δacctbal| at ER_BAL_EPS, so
        # banding the block self-joins at that width prunes the
        # candidate stream from O(block²) to the gated neighborhood
        # (~2M -> ~50k pairs at sf0.1) with an IDENTICAL post-gate
        # match set — see blocked_candidate_pairs' order_band
        # contract (superset + exactly-once emission; NULL balances
        # fail the abs() gate either way).
        order_band=ER_BAL_EPS,
    )
    matched = cand.filter(
        F.abs(F.col("ord_a") - F.col("ord_b")) <= ER_BAL_EPS
    ).select("id_a", "id_b")
    out = golden_records(
        cust,
        "c_custkey",
        matched,
        order_by=[F.col("c_acctbal").desc()],
        # SNM match graphs chain along the sort attribute -> long
        # diameters; star contraction closes them in O(log d) rounds
        cc_fallback="star",
    )
    return out.select("c_custkey", "cluster_id", "is_golden")


ER_ORACLE = f"""
WITH RECURSIVE k1 AS (
  SELECT c_custkey AS id, c_acctbal AS ord,
         CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS bk
  FROM customer
  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
),
k2 AS (
  SELECT c_custkey AS id, c_acctbal AS ord,
         CAST(floor(c_acctbal / {ER_BAL_BLOCK}) AS VARCHAR) AS bk
  FROM customer
  WHERE c_acctbal IS NOT NULL
),
k1s AS (
  SELECT *, COUNT(*) OVER (PARTITION BY bk) AS bs,
         ROW_NUMBER() OVER (PARTITION BY bk
                            ORDER BY ord ASC NULLS FIRST, id) AS rk
  FROM k1
),
k2s AS (
  SELECT *, COUNT(*) OVER (PARTITION BY bk) AS bs,
         ROW_NUMBER() OVER (PARTITION BY bk
                            ORDER BY ord ASC NULLS FIRST, id) AS rk
  FROM k2
),
blocked AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM k1s a JOIN k1s b ON a.bk = b.bk AND a.id < b.id
  WHERE a.bs <= {ER_MAX_BLOCK}
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM k1s a JOIN k1s b
    ON a.bk = b.bk
   AND b.rk BETWEEN a.rk + 1 AND a.rk + {ER_SNM_WINDOW}
  WHERE a.bs > {ER_MAX_BLOCK} AND a.id <> b.id
  UNION
  SELECT a.id, b.id
  FROM k2s a JOIN k2s b ON a.bk = b.bk AND a.id < b.id
  WHERE a.bs <= {ER_MAX_BLOCK}
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM k2s a JOIN k2s b
    ON a.bk = b.bk
   AND b.rk BETWEEN a.rk + 1 AND a.rk + {ER_SNM_WINDOW}
  WHERE a.bs > {ER_MAX_BLOCK} AND a.id <> b.id
),
gated AS MATERIALIZED (
  SELECT p.id_a, p.id_b
  FROM blocked p
  JOIN customer a ON a.c_custkey = p.id_a
  JOIN customer b ON b.c_custkey = p.id_b
  WHERE abs(a.c_acctbal - b.c_acctbal) <= {ER_BAL_EPS}
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM gated
  UNION SELECT id_b, id_a FROM gated
),
reach(a, b) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS MATERIALIZED (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a),
labeled AS (
  SELECT c.c_custkey, c.c_acctbal,
         COALESCE(comp.comp, c.c_custkey) AS cluster_id
  FROM customer c LEFT JOIN comp ON comp.id = c.c_custkey
)
SELECT c_custkey, cluster_id,
       (ROW_NUMBER() OVER (PARTITION BY cluster_id
                           ORDER BY c_acctbal DESC, c_custkey) = 1)
           AS is_golden
FROM labeled
"""


# ---------------------------------------------------------------------------
# k-anonymity audit + suppression
# ---------------------------------------------------------------------------

PRIVACY_K = 5
# quasi-identifier tuple: (event_type, day, coarse value bucket) —
# the granularity level where both test scales carry violating AND
# surviving groups (day-level alone stops violating past sf0.001, a
# degenerate audit)
PRIVACY_QI = ("event_type", "day", "val_bucket")


def privacy_kanon_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the events release with QI = (event_type,
    day, floor(value/100)): the 'raw' audit row, then the audit
    re-run on the suppressed release
    (functions/privacy.py:k_anonymity_audit / suppress_below_k) —
    two rows that show the violating mass and prove suppression
    closes it (post-suppression n_violating_groups = 0, the
    idempotence contract).

    Scale shape: ONE scan — a single QI grouped count (map-side
    partials, |QI-combinations| rows) feeds BOTH audit folds; the
    post-suppression audit is the same fold over the ``c >= k``
    groups, exact because suppression never changes a surviving
    group's size (the idempotence contract
    functions/privacy.py:suppress_below_k pins; an earlier shape
    re-scanned events three times through the row-level kernels —
    r9 review fix). The oracle derives both rows from one grouped
    CTE the same way."""
    from cdc_2025_spark.functions.privacy import audit_group_sizes

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") / 100).cast("int").alias("val_bucket"),
    )
    g = ev.groupBy(*[F.col(c) for c in PRIVACY_QI]).agg(
        F.count("*").alias("c")
    )
    raw = audit_group_sizes(g, PRIVACY_K)
    supp = audit_group_sizes(
        g.filter(F.col("c") >= PRIVACY_K), PRIVACY_K
    )
    return raw.select(F.lit("raw").alias("stage"), "*").unionByName(
        supp.select(F.lit("suppressed").alias("stage"), "*")
    )


PRIVACY_ORACLE = f"""
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value / 100) AS INTEGER) AS val_bucket,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3
),
raw AS (
  SELECT 'raw' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(CASE WHEN c < {PRIVACY_K} THEN 1 ELSE 0 END),
              0) AS BIGINT) AS n_violating_groups,
         CAST(COALESCE(SUM(CASE WHEN c < {PRIVACY_K} THEN c END), 0)
              AS BIGINT) AS n_at_risk_rows,
         CAST(MIN(c) AS BIGINT) AS k_effective
  FROM g
),
supp AS (
  SELECT 'suppressed' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(CASE WHEN c < {PRIVACY_K} THEN 1 ELSE 0 END),
              0) AS BIGINT) AS n_violating_groups,
         CAST(COALESCE(SUM(CASE WHEN c < {PRIVACY_K} THEN c END), 0)
              AS BIGINT) AS n_at_risk_rows,
         CAST(MIN(c) AS BIGINT) AS k_effective
  FROM g WHERE c >= {PRIVACY_K}
)
SELECT * FROM raw UNION ALL SELECT * FROM supp
"""


# ---------------------------------------------------------------------------
# Weighted reservoir (Efraimidis-Spirakis exponential race)
# ---------------------------------------------------------------------------

WEIGHTED_RESERVOIR_K = 100


def sample_weighted_reservoir_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weight-proportional K-sample of the corpus without replacement
    (functions/reservoir.py:weighted_bottomk_sample): every document
    races with an Exp(weight) ticket -ln(u)/w built from the salted
    deterministic md5 uniform; the K smallest tickets win — inclusion
    probability proportional to n_chars (sample long documents more,
    the token-budget-proportional sampling a corpus monitor wants).

    Oracle parity rests on both engines computing ln and division in
    IEEE double (verified by the parity test across the full corpus);
    the displayed wprio is rounded AFTER the take, and the take
    orders by the unrounded ticket with a doc_id tiebreak.

    Scale shape: one scan; the take plans as TakeOrderedAndProject
    (per-partition partial top-K); mergeable across shards and
    microbatches because the ticket is a pure function of
    (key, weight)."""
    from cdc_2025_spark.functions.reservoir import (
        weighted_bottomk_sample,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("w")
    )
    out = weighted_bottomk_sample(
        docs, WEIGHTED_RESERVOIR_K, "doc_id", "w"
    )
    return out.select(
        "doc_id",
        F.col("weight").alias("weight"),
        F.round("wprio", 4).alias("wprio"),
        "rk",
    )


WEIGHTED_RESERVOIR_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS weight,
         -ln((CAST(('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 1000000 + 1)
             / 1000000.0)
         / CAST(n_chars AS DOUBLE) AS wprio
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
),
rk AS (
  SELECT doc_id, weight, wprio,
         ROW_NUMBER() OVER (ORDER BY wprio, doc_id) AS rk
  FROM t
)
SELECT doc_id, weight, ROUND(wprio, 4) AS wprio, CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= {WEIGHTED_RESERVOIR_K}
"""


# ---------------------------------------------------------------------------
# Classifier evaluation: AUC + threshold sweep
# ---------------------------------------------------------------------------

# Deterministic, finite-precision score/label columns over documents:
# score = (n_chars % SCORE_MOD)/SCORE_MOD (bounded distinct-score
# frame by construction), label = doc is English. The kernels are
# score-agnostic; the registered pair pins their arithmetic.
SCORE_MOD = 97


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        (
            (F.col("n_chars") % SCORE_MOD) / F.lit(float(SCORE_MOD))
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )


def eval_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected ROC AUC (Mann-Whitney midrank identity) of the
    deterministic quality score against the is-English label — one
    row (n_pos, n_neg, auc) from functions/evalmetrics.py:auc_roc.

    Scale shape: ONE grouped count collapses the corpus to the
    distinct-score frame; the midrank window and the final fold run
    over that bounded frame, never the corpus."""
    from cdc_2025_spark.functions.evalmetrics import auc_roc

    return auc_roc(_scored_docs(spark, sf_dir), "score", "label")


EVAL_AUC_ORACLE = f"""
WITH s AS (
  SELECT (n_chars % {SCORE_MOD}) / {SCORE_MOD}.0 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
g AS (
  SELECT score, SUM(label) AS np, SUM(1 - label) AS nn
  FROM s GROUP BY score
),
ranked AS (
  SELECT np, nn,
         SUM(np + nn) OVER (ORDER BY score
                            ROWS UNBOUNDED PRECEDING)
           - (np + nn) + (np + nn + 1) / 2.0 AS midrank
  FROM g
),
tot AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(nn) AS BIGINT) AS n_neg,
         SUM(np * midrank) AS rank_sum
  FROM ranked
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN ROUND((rank_sum - n_pos * (n_pos + 1) / 2.0)
                       / (n_pos * n_neg), 6)
       END AS auc
FROM tot
"""


def eval_quality_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full ROC/PR operating table: one row per distinct score
    used as decision threshold (predict positive when score >=
    threshold) with tp/fp/fn/tn and precision/recall —
    functions/evalmetrics.py:threshold_sweep, computed without
    re-scanning the corpus per threshold (cumulative window over the
    distinct-score frame)."""
    from cdc_2025_spark.functions.evalmetrics import threshold_sweep

    return threshold_sweep(_scored_docs(spark, sf_dir), "score", "label")


EVAL_SWEEP_ORACLE = f"""
WITH s AS (
  SELECT (n_chars % {SCORE_MOD}) / {SCORE_MOD}.0 AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
g AS (
  SELECT score, SUM(label) AS np, SUM(1 - label) AS nn
  FROM s GROUP BY score
),
cum AS (
  SELECT score AS threshold,
         CAST(SUM(np) OVER (ORDER BY score DESC
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
         CAST(SUM(nn) OVER (ORDER BY score DESC
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
  FROM g
),
tot AS (SELECT SUM(np) AS tp_all, SUM(nn) AS fp_all FROM g)
SELECT threshold, tp, fp,
       CAST(tot.tp_all - tp AS BIGINT) AS fn,
       CAST(tot.fp_all - fp AS BIGINT) AS tn,
       ROUND(tp * 1.0 / (tp + fp), 6) AS precision,
       CASE WHEN tot.tp_all > 0
            THEN ROUND(tp * 1.0 / tot.tp_all, 6) END AS recall
FROM cum CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# Streaming late-data / watermark audit (batch twin)
# ---------------------------------------------------------------------------

LATE_WATERMARK_MINUTES = 30
# Deterministic delivery model: the testdata's events arrive in
# perfect event-time order (event_id is ts-sorted, measured), so a
# watermark audit over raw arrivals flags nothing at any delay. The
# audit therefore models the deployment reality explicitly: a
# salted-md5-selected 1-in-LATE_STRAGGLER_MOD subset of events is
# DELIVERED LATE_DELAY_MINUTES after its event time (a delayed
# producer / retried batch); everything else arrives at its event
# time. Both constants are part of the query's contract and the
# oracle reproduces them exactly.
LATE_STRAGGLER_MOD = 50
LATE_DELAY_MINUTES = 120


def late_flagged(
    arrivals: DataFrame,
    arrival_order: list[str],
    watermark_minutes: int,
    ts_col: str = "ts",
) -> DataFrame:
    """``arrivals`` plus an ``is_late`` flag: a row is late when its
    event time falls below the watermark in force at its arrival —
    max(event time) over STRICTLY-PRECEDING arrivals minus the delay.

    This is the TIGHT (no-lag) statement of Structured Streaming's
    late-input rule. The real engine commits its watermark update one
    microbatch late (measured: with one row per microbatch, the
    watermark effective in batch k derives from batches <= k-2), so
    the engine may ACCEPT a row this audit flags, never the reverse:
    engine-dropped ⊆ audit-late, with equality once a straggler's
    lateness exceeds one batch of event-time progress. Both
    directions are pinned against a real readStream run in
    tests/test_pending_r10.py — the audit is the conservative "what
    is at risk under delay W" answer, which is the planning question
    it exists for."""
    w = Window.orderBy(*arrival_order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return arrivals.withColumn(
        "is_late",
        F.coalesce(
            F.col(ts_col)
            < F.max(ts_col).over(w)
            - F.expr(f"INTERVAL {watermark_minutes} MINUTES"),
            F.lit(False),
        ),
    )


def stream_late_data_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Late-data accounting under watermark semantics, as a
    deterministic batch twin: arrival order is (arrival time,
    event_id) under the straggler delivery model above, the watermark
    before each row is max(EVENT time) over strictly-preceding
    arrivals minus the configured delay, and a row is LATE — dropped
    by a streaming aggregation — when its event time falls below that
    watermark (the Structured Streaming eviction rule, stated per-row
    instead of per-microbatch so batch and oracle agree exactly;
    streaming/windows.py:tumbling_window_stats is the readStream form
    whose state this audit sizes).

    Output per (hour window, event_type): accepted/late counts and
    the accepted-value sum — what the streaming job WOULD have
    emitted plus what it would have dropped, the audit run before
    choosing a watermark delay.

    Scale shape: the running max is ONE ordered window over arrival
    sequence (time-ordered at the source in deployment — here a
    single global window is the oracle-exact stand-in; a
    deployment-shape variant would bucket arrivals and carry
    per-bucket maxima), then one grouped aggregate."""
    ev = read_table(spark, sf_dir, "events")
    straggler = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("late:"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % LATE_STRAGGLER_MOD
        == 0
    )
    arr = ev.select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.when(
            straggler,
            F.col("ts")
            + F.expr(f"INTERVAL {LATE_DELAY_MINUTES} MINUTES"),
        )
        .otherwise(F.col("ts"))
        .alias("arrival_ts"),
    )
    flagged = late_flagged(
        arr, ["arrival_ts", "event_id"], LATE_WATERMARK_MINUTES
    ).select("ts", "event_type", "value", "is_late")
    return (
        flagged.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.sum((~F.col("is_late")).cast("long")).alias("n_accepted"),
            F.sum(F.col("is_late").cast("long")).alias("n_late"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(~F.col("is_late"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("accepted_value"),
        )
    )


LATE_AUDIT_ORACLE = f"""
WITH arr AS (
  SELECT event_id, ts, event_type, value,
         CASE WHEN CAST(('0x' || substr(md5('late:' ||
                    CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {LATE_STRAGGLER_MOD} = 0
              THEN ts + INTERVAL {LATE_DELAY_MINUTES} MINUTE
              ELSE ts END AS arrival_ts
  FROM events
),
flagged AS (
  SELECT ts, event_type, value,
         COALESCE(
           ts < MAX(ts) OVER (ORDER BY arrival_ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING)
                - INTERVAL {LATE_WATERMARK_MINUTES} MINUTE,
           FALSE) AS is_late
  FROM arr
)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(SUM(CASE WHEN is_late THEN 0 ELSE 1 END) AS BIGINT)
           AS n_accepted,
       CAST(SUM(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late,
       ROUND(COALESCE(SUM(CASE WHEN NOT is_late THEN value END), 0),
             4) AS accepted_value
FROM flagged
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Graph-based ANN (NSW-style): k-NN graph + beam search
# ---------------------------------------------------------------------------

ANN_N_QUERIES = 10
ANN_GRAPH_K = 8
ANN_TOPK = 10
ANN_BEAM = 32
ANN_MAX_HOPS = 8
ANN_HOP_BATCH = 3
# build-path budget gate (the sim-family posture): below this many
# unordered pairs the build is EXACT (knn_graph_exact: broadcast
# corpus matrix, one matmul per Arrow batch); above it,
# knn_graph_blocked — quantizer cells + per-cell matmul + 2-way
# multi-assignment — keeps both compute and Arrow traffic linear in
# the corpus. (A hyperplane-LSH candidate source was tried and
# rejected: the recall-driven geometry needs 464 sign projections at
# 20k vectors, and per-PAIR vector attachment made Arrow traffic
# quadratic.)
ANN_BRUTE_PAIR_BUDGET = 5_000_000
ANN_CELL_TARGET = 128


def sim_graph_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN top-k (functions/graphann.py — the NSW/HNSW
    family's navigable-graph idea in its distributable two-phase
    form): a k-NN graph built from the SAME random-hyperplane LSH
    candidates the flat search uses, then per-query greedy beam
    search that touches O(beam * degree * hops) nodes instead of the
    corpus. Completes the ANN roster beside brute force (exact
    baseline), IVF (partition pruning), PQ (compressed scoring) and
    LSH (bucket candidates).

    rows-only by design: iterative graph traversal has no SQL twin.
    Accuracy pinned in tests/test_graphann.py instead — exact-top-k
    recovery on the full exact graph (navigability), recall@10 vs
    brute force on this very corpus split, python-model equality for
    the graph build, and determinism.

    Scale shape: the graph is an id-pair frame (vectors never ride
    the edges); each hop is one beam-edge equi-join + one visited
    anti-join + one id-join to score newly-reached nodes — per-round
    volume O(|queries| * beam * degree), corpus-independent; beam and
    visited frames re-checkpoint per hop (flat lineage, the bfs_hops
    posture)."""
    from cdc_2025_spark.functions.graphann import (
        beam_search,
        knn_graph_blocked,
        knn_graph_exact,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    queries = emb.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= ANN_N_QUERIES)
    # the graph is a session artifact per (corpus, build params) —
    # the deployed-index posture of the PQ/IVF/k-means kernels: the
    # navigable graph is built once and served by every later
    # search; the lazily-checkpointed edge frame survives
    # catalog.clearCache() because its blocks are lineage-truncated
    # RDDs, not CacheManager entries.
    def build() -> DataFrame:
        n_corpus = corpus.count()
        if n_corpus * (n_corpus - 1) // 2 <= ANN_BRUTE_PAIR_BUDGET:
            # exact build: broadcast corpus matrix + one matmul per
            # Arrow batch — no pair frame materializes
            graph = knn_graph_exact(corpus, k=ANN_GRAPH_K)
        else:
            graph = knn_graph_blocked(
                corpus,
                k=ANN_GRAPH_K,
                cell_target=ANN_CELL_TARGET,
                n_rows=n_corpus,
            )
        return graph.localCheckpoint(eager=False)

    key = ("ann_graph", sf_dir, ANN_GRAPH_K, ANN_CELL_TARGET, ANN_N_QUERIES,
           table_stamp(sf_dir, "embeddings"))
    graph = artifact(spark, key, build)
    return beam_search(
        graph,
        corpus,
        queries,
        k=ANN_TOPK,
        beam=ANN_BEAM,
        max_hops=ANN_MAX_HOPS,
        # three expansion waves per driver round: the local floor is
        # rounds x job latency, so batching hops cuts 8 rounds to 3;
        # the extra scored volume is O(beam * degree^hop_batch) rows
        # per query — bounded; measured recall@10 at sf0.1 RISES
        # 0.79 -> 1.00 vs hop_batch=1 (lookahead explores more)
        hop_batch=ANN_HOP_BATCH,
        # the corpus is vec_id >= ANN_N_QUERIES over the contiguous
        # fixture ids, so the default entry set (the `beam` smallest
        # corpus ids) is known statically — passing it skips the
        # entry-collect job; absent ids would simply shrink the
        # entry beam, never error
        entry_ids=list(range(ANN_N_QUERIES, ANN_N_QUERIES + ANN_BEAM)),
    )


# ---------------------------------------------------------------------------
# Registration hook for round 10
# ---------------------------------------------------------------------------

PENDING_ORDER = [
    "er_customer_golden_records",
    "privacy_kanon_events",
    "sample_weighted_reservoir_docs",
    "eval_quality_auc",
    "eval_quality_threshold_sweep",
    "stream_late_data_audit",
    "sim_graph_ann_topk",
]

_PENDING = {
    "er_customer_golden_records": (
        er_customer_golden_records,
        ER_ORACLE,
    ),
    "privacy_kanon_events": (privacy_kanon_events, PRIVACY_ORACLE),
    "sample_weighted_reservoir_docs": (
        sample_weighted_reservoir_docs,
        WEIGHTED_RESERVOIR_ORACLE,
    ),
    "eval_quality_auc": (eval_quality_auc, EVAL_AUC_ORACLE),
    "eval_quality_threshold_sweep": (
        eval_quality_threshold_sweep,
        EVAL_SWEEP_ORACLE,
    ),
    "stream_late_data_audit": (
        stream_late_data_audit,
        LATE_AUDIT_ORACLE,
    ),
    # rows-only: iterative graph traversal has no SQL twin; recall,
    # navigability, model equality and determinism pinned in
    # tests/test_graphann.py
    "sim_graph_ann_topk": (sim_graph_ann_topk, None),
}


def register_all() -> None:
    """Register every pending query (round-10 hook). Idempotent-
    hostile on purpose: the registry's duplicate check fires on a
    second call, matching the one-shot registration contract."""
    from cdc_2025_spark.queries.registry import query

    for name in PENDING_ORDER:
        fn, oracle = _PENDING[name]
        query(name, oracle=oracle)(fn)
