"""Round-16 registration seeds: the ORDERED-ALTERNATIVES &
INEQUALITY family started during round 14 so the round-15 session
opens with a ready queue (the pending_r13->r15 staging posture).

- Jonckheere-Terpstra ordered-trend test of order value across the
  five priority levels — the k-sample member of the rank family
  with an ORDERED alternative (Kruskal-Wallis asks "any
  difference?", JT asks "does value move WITH urgency?"), computed
  entirely from the shared two-level bucketed-cumsum kernel: one
  pass yields every group's cumulative on a common value grid, and
  all C(5,2) pairwise Mann-Whitney U's fold from that frame — no
  pairwise row join anywhere.
- McNemar's paired test of per-user error incidence between the
  first and second half of the observation month (the paired
  binary member beside Cochran's Q).
- One-sample Kolmogorov-Smirnov of the deterministic quality score
  against U[0,1] — the score is a rational in [0,1), so the
  uniformity gap D is the eval family's calibration-free sanity
  check (two-sample KS tests drift BETWEEN cohorts; this tests the
  score's own distribution against its design target).
- Cliff's delta ordinal effect size of the quality score by the
  is-English label (delta = 2U/(n1 n2) - 1 from the same
  midrank-U construction as Mann-Whitney — the effect size that
  p-value lacks).
- Atkinson(1/2) and Hoover inequality indices of customer spend
  (the welfare-theoretic and Robin-Hood members beside the
  registered Gini/Theil; epsilon = 1/2 uses sqrt, exact-enough
  under the 6dp round-after-aggregate rule).
- Quintile spend shares + the Palma-style top/bottom ratio (disc
  percentile boundaries — the verified engine-parity threshold
  construction).
- Goodman-Kruskal gamma between order priority and the order-value
  quartile (concordance on the bounded 5x4 contingency — ordinal
  association where chi2/Cramer's V sees only identity).
- Mean per-document type-token ratio per source (the bounded
  per-doc TTR average — the lexical-diversity view Heaps/Yule/
  Honore do not cover at document granularity).

Grown to 20 during round 15 (the verdict's "surface a real 100 TB
user hits" directive):

- versioned_sink_audit — the exactly-once streaming sink's driver
  proof (replayed batch id skipped, empty batch never commits).
- stats_somers_d — asymmetric ordinal association beside gamma,
  from the shared 5x4 contingency.
- stats_cochran_armitage — 2xk ordered-proportions trend test
  (fulfilled share vs priority score).
- quality_column_profile — per-column rows/nulls/EXACT distincts of
  the orders table in one scan (the ingestion-gate audit).
- text_term_burstiness — Church-Gale VMR over per-doc counts for
  >= 20%-df terms.
- eval_spearman_footrule — L1 rank agreement (price vs size
  rankings) on exact kernel midranks.
- er_name_edit_blocking — blocked Levenshtein catalog ER (distinct
  names, head-noun blocks, integer DP identical in both engines).
- stats_wilcoxon_signed_rank — paired AM/PM value shift per
  (user, day) block on kernel midranks of |d|.
- stats_logrank_segments — two-segment survival comparison on the
  KM observation construction (O-E and hypergeometric variance).
- asof_forward_first_error — FORWARD as-of (first error after each
  purchase) via one reverse-ordered conditional running MIN.
- versioned_vacuum_audit / versioned_evolution_audit — vacuum
  reclaim (manifests expired, unreferenced dirs physically gone,
  surviving snapshot exact) and additive schema evolution (old rows
  read NULL, manifest records the merge).

NOT imported by queries/__init__.py (the staging posture); each
query carries a full DuckDB oracle and is exercised at driver
strength by tests/test_pending_r16.py at sf0.001 + sf0.01, with a
python model pin per statistic (the JT pin is the literal O(n^2)
pairwise fold — the construction identity the kernel shape
replaces).

Pre-registration wall times (min-of-2, warm idle local[32]), after
the r15 global-window rewires (JT onto bucketed_cumsums; quintile/
gamma onto kernel-derived disc-percentile edges) — sf0.1 then the
10x mixed replica (.scale symlink dir), ratio in parentheses:
JT 2.71/2.65 s (1.0x — the single-task cumsum this rewire removed
would have scaled with the corpus), gamma 1.98/2.70 (1.4x),
quintile 1.65/2.52 (1.5x), Somers 1.93/2.59 (1.3x),
Cochran-Armitage 0.25/0.25 (1.0x), column profile 0.93/1.33 (1.4x),
burstiness 0.49/0.68 (1.4x; the 10x dedup-smoke documents replica
is value-perturbed and its df floor strands no term — rows-only
there, 30 rows at every driver SF), footrule 0.95/0.99 (1.0x),
er-edit 0.26/0.25 (1.0x — distinct-name collapse), Wilcoxon
1.19/1.48 (1.2x), log-rank 0.81/1.53 (1.9x), forward as-of
0.23/0.16 (1.0x). McNemar 0.34 s, KS uniformity 0.46 s, Cliff's
delta 0.29 s, mean-doc TTR 0.40 s at sf0.1 (unchanged plans, r14
measurements); the four versioned audits build session-memoized
scratch tables (wall = one-time table build + an O(dirs) audit
read). Every post-collapse frame bounded (distinct 4dp values,
user-days, SCORE_MOD scores, 5x4 cells, per-doc folds, calendar
day-gaps, head-noun blocks).

Engine-parity rules inherited from the registry docstring (see
pending_r15's header for the full list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.functions.ranks import bucketed_cumsums
from cdc_2025_spark.io import read_table
from cdc_2025_spark.queries.pending_r14 import (
    _ans_sql,
    _normal_two_sided,
    _scored_docs_with_id,
    _SCORED_SQL,
)

# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered trend across order priorities
# ---------------------------------------------------------------------------


def stats_jonckheere_terpstra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra test (Jonckheere 1954, Terpstra 1952) of
    order value across the five priority levels in their natural
    order (1-URGENT < ... < 5-LOW): JT = sum_{i<j} U_ij with U_ij
    the Mann-Whitney count of (x in level_i) < (y in level_j) pairs
    (ties at 1/2), null mean (N^2 - sum n_i^2)/4 and the no-tie
    normal variance, two-sided p via A&S — do later (less urgent)
    priorities carry systematically different order values, with
    the ORDER of the levels as part of the hypothesis?

    Scale shape — the kernel showcase: ONE grouped count collapses
    the corpus to the (value, level) distinct frame
    (localCheckpoint-ed: the kernel fans its input to three
    subtrees), the five levels' cumulatives all come from ONE
    :func:`bucketed_cumsums` pass (the shared two-level kernel — no
    window partition exceeds ~|distinct|/1024 rows; totalprice at
    4dp is effectively one distinct value per order, so a raw
    ``Window.orderBy(v)`` here would be the single-task corpus sort
    the r11 audit banned), and all C(5,2) pairwise U's fold from
    that bounded frame: U_ij = sum_v c_j(v) * (cum_i(v) - c_i(v)) +
    c_i(v) * c_j(v) / 2 — no pairwise row join at any scale.

    Determinism: counts are integers; U folds are exact until the
    final rationals; the variance is a closed rational in the
    level sizes (the kernel's monotone bucketing keeps the
    cumulative exact — bucket geometry moves wall time, never
    answers)."""
    lv = F.col("o_orderpriority")
    marg = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.round(F.col("o_totalprice"), 4).alias("v"), lv.alias("g")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .groupBy("v")
        .pivot(
            "g",
            [
                "1-URGENT",
                "2-HIGH",
                "3-MEDIUM",
                "4-NOT SPECIFIED",
                "5-LOW",
            ],
        )
        .sum("c")
        .na.fill(0)
        .select(
            "v",
            *[
                F.col(f"`{g}`").alias(f"c{i + 1}")
                for i, g in enumerate(
                    [
                        "1-URGENT",
                        "2-HIGH",
                        "3-MEDIUM",
                        "4-NOT SPECIFIED",
                        "5-LOW",
                    ]
                )
            ],
        )
        .localCheckpoint(eager=False)
    )
    cum = bucketed_cumsums(
        marg, "v", tuple(f"c{i}" for i in range(1, 6))
    )
    jt_terms = None
    for i in range(1, 6):
        for j in range(i + 1, 6):
            ci, cj = F.col(f"c{i}"), F.col(f"c{j}")
            cumi = F.col(f"cum_c{i}")
            term = cj * (cumi - ci) + ci * cj / F.lit(2.0)
            jt_terms = term if jt_terms is None else jt_terms + term
    agg = cum.agg(
        F.sum(jt_terms).alias("jt"),
        *[
            F.sum(f"c{i}").cast("double").alias(f"n{i}")
            for i in range(1, 6)
        ],
    )
    n_tot = sum((F.col(f"n{i}") for i in range(1, 6)), F.lit(0.0))
    sum_sq = sum(
        (F.col(f"n{i}") * F.col(f"n{i}") for i in range(1, 6)),
        F.lit(0.0),
    )
    sum_cu = sum(
        (
            F.col(f"n{i}") * F.col(f"n{i}") * (2 * F.col(f"n{i}") + 3)
            for i in range(1, 6)
        ),
        F.lit(0.0),
    )
    mean = (n_tot * n_tot - sum_sq) / F.lit(4.0)
    var = (
        n_tot * n_tot * (2 * n_tot + 3) - sum_cu
    ) / F.lit(72.0)
    z = (F.col("jt") - mean) / F.sqrt(var)
    return agg.select(
        n_tot.cast("long").alias("n_orders"),
        F.round(F.col("jt"), 2).alias("jt_stat"),
        F.round(mean, 2).alias("jt_mean"),
        F.round(z, 6).alias("z_stat"),
        F.round(_normal_two_sided(F.abs(z)), 6).alias("p_value"),
    )


JT_ORACLE = f"""
WITH marg AS (
  SELECT ROUND(o_totalprice, 4) AS v,
         SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS c2,
         SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS c3,
         SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS c4,
         SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS c5
  FROM orders GROUP BY 1
),
cum AS (
  SELECT v, c1, c2, c3, c4, c5,
         SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
         SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2,
         SUM(c3) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum3,
         SUM(c4) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum4
  FROM marg
),
agg AS (
  SELECT SUM(  c2 * (cum1 - c1) + c1 * c2 / 2.0
             + c3 * (cum1 - c1) + c1 * c3 / 2.0
             + c4 * (cum1 - c1) + c1 * c4 / 2.0
             + c5 * (cum1 - c1) + c1 * c5 / 2.0
             + c3 * (cum2 - c2) + c2 * c3 / 2.0
             + c4 * (cum2 - c2) + c2 * c4 / 2.0
             + c5 * (cum2 - c2) + c2 * c5 / 2.0
             + c4 * (cum3 - c3) + c3 * c4 / 2.0
             + c5 * (cum3 - c3) + c3 * c5 / 2.0
             + c5 * (cum4 - c4) + c4 * c5 / 2.0) AS jt,
         CAST(SUM(c1) AS DOUBLE) AS n1,
         CAST(SUM(c2) AS DOUBLE) AS n2,
         CAST(SUM(c3) AS DOUBLE) AS n3,
         CAST(SUM(c4) AS DOUBLE) AS n4,
         CAST(SUM(c5) AS DOUBLE) AS n5
  FROM cum
),
st AS (
  SELECT jt, n1 + n2 + n3 + n4 + n5 AS n,
         n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5 AS ss,
         n1*n1*(2*n1+3) + n2*n2*(2*n2+3) + n3*n3*(2*n3+3)
           + n4*n4*(2*n4+3) + n5*n5*(2*n5+3) AS sc
  FROM agg
),
zz AS (
  SELECT n, jt, (n * n - ss) / 4.0 AS mean,
         (jt - (n * n - ss) / 4.0)
           / SQRT((n * n * (2 * n + 3) - sc) / 72.0) AS z
  FROM st
),
zf AS (SELECT n, jt, mean, z, ABS(z) AS za FROM zz)
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(jt, 2) AS jt_stat,
       ROUND(mean, 2) AS jt_mean,
       ROUND(z, 6) AS z_stat,
       ROUND({_ans_sql('za')}, 6) AS p_value
FROM zf
"""


# ---------------------------------------------------------------------------
# McNemar paired test: per-user error incidence, half-month halves
# ---------------------------------------------------------------------------


def stats_mcnemar_paired(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's test (McNemar 1947, continuity-corrected) of
    error incidence between the MORNING and AFTERNOON halves of
    each (user, day) block: b = blocks with an error only before
    noon, c = only after; chi2 = (|b - c| - 1)^2 / (b + c), p from
    the exact chi2(1) tail — does the error experience shift within
    the day, pairing each user-day with itself? (The paired
    companion to the two-proportion z, which treats cohorts as
    independent; a month-half pairing saturates — every active
    user errors in both halves — so the user-DAY block is the
    non-degenerate design, the Cochran's Q lesson.)

    Determinism: the AM/PM split is hour(ts) < 12; the 2x2 cell
    counts are integers; the statistic is one rational (NULL if no
    discordant blocks exist — reported, not divided-by-zero).

    Scale shape: one (user, day, half) presence collapse
    (distinct), a per-block fold to the 2x2, one scalar row out."""
    ev = read_table(spark, sf_dir, "events")
    flags = (
        ev.filter(F.col("event_type") == "error")
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            (F.hour("ts") < 12).alias("am"),
        )
        .distinct()
        .groupBy("user_id", "day")
        .agg(
            F.max(F.col("am").cast("int")).alias("e"),
            F.max((~F.col("am")).cast("int")).alias("l"),
        )
    )
    blocks = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    cells = blocks.join(flags, ["user_id", "day"], "left").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(
            ((F.col("e") == 1) & (F.col("l") == 0)).cast("long")
        ).alias("b"),
        F.sum(
            ((F.col("e") == 0) & (F.col("l") == 1)).cast("long")
        ).alias("c"),
        F.sum(
            ((F.col("e") == 1) & (F.col("l") == 1)).cast("long")
        ).alias("both"),
    )
    b, c = F.col("b").cast("double"), F.col("c").cast("double")
    chi2 = F.when(
        b + c > 0,
        (F.abs(b - c) - 1) * (F.abs(b - c) - 1) / (b + c),
    )
    return cells.select(
        "n_blocks",
        F.coalesce(F.col("b"), F.lit(0)).cast("long").alias("only_am"),
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("only_pm"),
        F.coalesce(F.col("both"), F.lit(0)).cast("long").alias("both_halves"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            _normal_two_sided(F.sqrt(chi2)), 6
        ).alias("p_value"),
    )


MCNEMAR_ORACLE = f"""
WITH flags AS (
  SELECT user_id, day,
         MAX(CASE WHEN am THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN am THEN 0 ELSE 1 END) AS l
  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
               hour(ts) < 12 AS am
        FROM events WHERE event_type = 'error')
  GROUP BY 1, 2
),
blocks AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CASE WHEN e = 1 AND l = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN e = 0 AND l = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN e = 1 AND l = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both
  FROM blocks bl
  LEFT JOIN flags f ON f.user_id = bl.user_id AND f.day = bl.day
),
zz AS (
  SELECT n_blocks, b, c, n_both,
         CASE WHEN b + c > 0
              THEN (ABS(b - c * 1.0) - 1) * (ABS(b - c * 1.0) - 1)
                   / (b + c) END AS chi2
  FROM cells
),
zf AS (SELECT *, SQRT(chi2) AS za FROM zz)
SELECT n_blocks, b AS only_am, c AS only_pm,
       n_both AS both_halves,
       ROUND(chi2, 6) AS chi2,
       ROUND({_ans_sql('za')}, 6) AS p_value
FROM zf
"""


# ---------------------------------------------------------------------------
# One-sample KS: the quality score against U[0,1]
# ---------------------------------------------------------------------------


def eval_ks_uniformity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-sample Kolmogorov-Smirnov of the deterministic quality
    score against its U[0,1] design target: D = max over distinct
    scores of max(|ECDF(v) - v|, |ECDF(v-) - v|) (both one-sided
    gaps — the supremum of a step function against a continuous CDF
    is attained at a jump, on either side of it), with the
    asymptotic sqrt(n)*D statistic. The eval family's sanity check
    that the score actually fills its range (a clumped score makes
    every threshold metric misleading).

    Determinism: ECDF from integer counts on the distinct-score
    frame (SCORE_MOD values); the uniform CDF of a rational score
    is the score itself.

    Scale shape: one grouped count to the SCORE_MOD-bounded
    distinct frame, one ordered cumsum window over it (bounded by
    construction), one max fold."""
    scored = _scored_docs_with_id(spark, sf_dir)
    marg = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_frame = marg.agg(F.sum("c").cast("double").alias("n"))
    ecdf = marg.crossJoin(F.broadcast(n_frame)).select(
        "score",
        "n",
        (F.sum("c").over(w) / F.col("n")).alias("ecdf"),
        ((F.sum("c").over(w) - F.col("c")) / F.col("n")).alias(
            "ecdf_before"
        ),
    )
    gap = F.greatest(
        F.abs(F.col("ecdf") - F.col("score")),
        F.abs(F.col("ecdf_before") - F.col("score")),
    )
    agg = ecdf.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max(gap).alias("ks_d"),
        F.max("n").alias("nd"),
    )
    return agg.select(
        "n_docs",
        F.round("ks_d", 6).alias("ks_d"),
        F.round(
            F.sqrt(F.col("nd")) * F.col("ks_d"), 6
        ).alias("sqrt_n_d"),
    )


KS_UNIFORM_ORACLE = f"""
WITH {_SCORED_SQL},
marg AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS c
  FROM scored GROUP BY score
),
n_f AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM marg),
ecdf AS (
  SELECT score, n,
         SUM(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
           / n AS ecdf,
         (SUM(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
           - c) / n AS ecdf_before
  FROM marg, n_f
),
agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
         MAX(GREATEST(ABS(ecdf - score),
                      ABS(ecdf_before - score))) AS ks_d,
         MAX(n) AS nd
  FROM ecdf
)
SELECT n_docs, ROUND(ks_d, 6) AS ks_d,
       ROUND(SQRT(nd) * ks_d, 6) AS sqrt_n_d
FROM agg
"""


# ---------------------------------------------------------------------------
# Cliff's delta: ordinal effect size of score by label
# ---------------------------------------------------------------------------


def eval_cliffs_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cliff's delta (Cliff 1993) of the quality score between the
    English and non-English documents: delta = P(x_en > x_other) -
    P(x_en < x_other) = 2U/(n1 n0) - 1 from the same distinct-score
    cumulative construction as Mann-Whitney — the scale-free effect
    size the U test's p-value lacks (|d| < 0.147 negligible, < 0.33
    small, < 0.474 medium per Romano et al. 2006, reported as the
    band).

    Determinism: integer counts on the bounded distinct-score
    frame; one rational.

    Scale shape: one grouped count, one bounded cumsum window, one
    fold — the Jonckheere construction at k = 2."""
    scored = _scored_docs_with_id(spark, sf_dir)
    marg = (
        scored.groupBy("score")
        .agg(
            F.sum("label").cast("long").alias("c1"),
            F.sum(1 - F.col("label")).cast("long").alias("c0"),
        )
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = marg.select(
        "c1",
        "c0",
        F.sum("c0").over(w).alias("cum0"),
    )
    agg = cum.agg(
        F.sum(
            F.col("c1")
            * (F.col("cum0") - F.col("c0"))
            + F.col("c1") * F.col("c0") / F.lit(2.0)
        ).alias("u"),
        F.sum("c1").cast("double").alias("n1"),
        F.sum("c0").cast("double").alias("n0"),
    )
    delta = F.lit(2.0) * F.col("u") / (F.col("n1") * F.col("n0")) - 1
    band = (
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_positive"),
        F.col("n0").cast("long").alias("n_negative"),
        F.round(
            F.col("u") / (F.col("n1") * F.col("n0")), 6
        ).alias("auc_u"),
        F.round(delta, 6).alias("cliffs_delta"),
        band.alias("magnitude"),
    )


CLIFFS_ORACLE = f"""
WITH {_SCORED_SQL},
marg AS (
  SELECT score,
         CAST(SUM(label) AS BIGINT) AS c1,
         CAST(SUM(1 - label) AS BIGINT) AS c0
  FROM scored GROUP BY score
),
cum AS (
  SELECT c1, c0,
         SUM(c0) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
           AS cum0
  FROM marg
),
agg AS (
  SELECT SUM(c1 * (cum0 - c0) + c1 * c0 / 2.0) AS u,
         CAST(SUM(c1) AS DOUBLE) AS n1,
         CAST(SUM(c0) AS DOUBLE) AS n0
  FROM cum
),
d AS (
  SELECT n1, n0, u, 2.0 * u / (n1 * n0) - 1 AS delta FROM agg
)
SELECT CAST(n1 AS BIGINT) AS n_positive,
       CAST(n0 AS BIGINT) AS n_negative,
       ROUND(u / (n1 * n0), 6) AS auc_u,
       ROUND(delta, 6) AS cliffs_delta,
       CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
            WHEN ABS(delta) < 0.33 THEN 'small'
            WHEN ABS(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d
"""


# ---------------------------------------------------------------------------
# Atkinson + Hoover inequality of customer spend
# ---------------------------------------------------------------------------


def stats_atkinson_hoover(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Atkinson index at epsilon = 1/2 (Atkinson 1970) and the
    Hoover/Robin-Hood index of per-customer total spend: A(1/2) =
    1 - (mean sqrt(y))^2 / mean(y) and H = sum|y - ybar| /
    (2 sum y) — the welfare-theoretic and redistribution-share
    members of the inequality family beside the registered
    Gini/Lorenz and Theil views (each answers a different policy
    question from the same spend distribution).

    Determinism: per-customer totals are 4dp-rounded; the index
    arithmetic is closed-form moment folds (sqrt sums land within
    the 6dp round-after-aggregate band).

    Scale shape: one orders groupBy to the per-customer frame
    (map-side partials), two moment folds; output is one row."""
    spend = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
        .localCheckpoint(eager=False)
    )
    m = spend.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.sqrt("y")).alias("sr"),
    )
    mean_y = F.col("sy") / F.col("n")
    atkinson = F.lit(1.0) - (
        (F.col("sr") / F.col("n")) * (F.col("sr") / F.col("n"))
    ) / mean_y
    dev = spend.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.abs(F.col("y") - F.col("sy") / F.col("n"))
        ).alias("sad"),
        F.max("n").cast("long").alias("n_customers"),
        F.max("sy").alias("sy2"),
    )
    hoover = F.col("sad") / (F.lit(2.0) * F.col("sy2"))
    out = m.select(
        F.round(atkinson, 6).alias("atkinson_half"),
    ).crossJoin(
        dev.select(
            "n_customers", F.round(hoover, 6).alias("hoover")
        )
    )
    return out.select("n_customers", "atkinson_half", "hoover")


ATKINSON_ORACLE = """
WITH spend AS (
  SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS y
  FROM orders GROUP BY 1
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(y) AS sy,
         SUM(SQRT(y)) AS sr
  FROM spend
),
dev AS (
  SELECT SUM(ABS(y - sy / n)) AS sad
  FROM spend, m GROUP BY n, sy
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(1.0 - ((sr / n) * (sr / n)) / (sy / n), 6)
         AS atkinson_half,
       ROUND(sad / (2.0 * sy), 6) AS hoover
FROM m, dev
"""


# ---------------------------------------------------------------------------
# Quintile spend shares + Palma-style ratio
# ---------------------------------------------------------------------------


def stats_quintile_shares(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spend share of each customer-spend quintile (disc-percentile
    boundaries — the verified engine-parity threshold construction)
    plus the Palma-style ratio of the top quintile's share to the
    bottom two quintiles' — the distribution table behind the
    Atkinson/Hoover/Gini scalars (policy reads shares, not
    indices).

    Determinism: quintile boundaries are DISC-percentile edges
    (smallest value whose cumulative count reaches k*n/5, decided
    in exact integer arithmetic 5*cum >= k*n) and every customer is
    assigned by RANGE COMPARISON against the four broadcast edges —
    ties always share a quintile (the defensible rule for a share
    table), and the oracle mirrors the identical cumulative
    construction so the convention matches by definition.

    Scale shape: one grouped count to the distinct-spend frame
    (localCheckpoint-ed), cumulative counts via the two-level
    bucketed kernel (an unpartitioned NTILE window here would be a
    single-task sort over O(|customers|) rows — O(corpus) at 100x,
    the r14 verdict flag), a 1-row broadcast edge frame, and the
    shares fold straight off the (value, count) marginal; output is
    5 rows plus the ratio embedded per row."""
    spend = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
    )
    marg = (
        spend.groupBy("y")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    cum = bucketed_cumsums(marg, "y", ("c",))
    nf = marg.agg(F.sum("c").cast("long").alias("n"))
    edges = (
        cum.crossJoin(F.broadcast(nf))
        .agg(
            *[
                F.min(
                    F.when(
                        5 * F.col("cum_c") >= k * F.col("n"),
                        F.col("y"),
                    )
                ).alias(f"e{k}")
                for k in (1, 2, 3, 4)
            ]
        )
    )
    q = marg.crossJoin(F.broadcast(edges)).select(
        "y",
        "c",
        (
            1
            + (F.col("y") > F.col("e1")).cast("int")
            + (F.col("y") > F.col("e2")).cast("int")
            + (F.col("y") > F.col("e3")).cast("int")
            + (F.col("y") > F.col("e4")).cast("int")
        ).alias("quintile"),
    )
    tot = q.agg(F.sum(F.col("y") * F.col("c")).alias("ty"))
    shares = (
        q.groupBy("quintile")
        .agg(
            F.sum("c").cast("long").alias("n_customers"),
            F.round(F.sum(F.col("y") * F.col("c")), 4).alias("spend"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("quintile").cast("int").alias("quintile"),
            "n_customers",
            "spend",
            F.round(F.col("spend") / F.col("ty"), 6).alias("share"),
        )
    )
    palma = (
        shares.agg(
            (
                F.sum(F.when(F.col("quintile") == 5, F.col("share")))
                / F.sum(
                    F.when(F.col("quintile") <= 2, F.col("share"))
                )
            ).alias("p")
        )
    )
    return shares.crossJoin(F.broadcast(palma)).select(
        "quintile",
        "n_customers",
        "spend",
        "share",
        F.round("p", 4).alias("palma_ratio"),
    )


QUINTILE_ORACLE = """
WITH spend AS (
  SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS y
  FROM orders GROUP BY 1
),
marg AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM spend GROUP BY 1
),
cum AS (
  SELECT y, c,
         SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cc
  FROM marg
),
nf AS (SELECT SUM(c) AS n FROM marg),
edges AS (
  SELECT MIN(CASE WHEN 5 * cc >= 1 * n THEN y END) AS e1,
         MIN(CASE WHEN 5 * cc >= 2 * n THEN y END) AS e2,
         MIN(CASE WHEN 5 * cc >= 3 * n THEN y END) AS e3,
         MIN(CASE WHEN 5 * cc >= 4 * n THEN y END) AS e4
  FROM cum, nf
),
q AS (
  SELECT y, c,
         1 + CAST(y > e1 AS INTEGER) + CAST(y > e2 AS INTEGER)
           + CAST(y > e3 AS INTEGER) + CAST(y > e4 AS INTEGER)
           AS quintile
  FROM marg, edges
),
tot AS (SELECT SUM(y * c) AS ty FROM q),
shares AS (
  SELECT CAST(quintile AS INTEGER) AS quintile,
         CAST(SUM(c) AS BIGINT) AS n_customers,
         ROUND(SUM(y * c), 4) AS spend,
         ROUND(SUM(y * c) / (SELECT ty FROM tot), 6) AS share
  FROM q GROUP BY quintile
),
palma AS (
  SELECT SUM(CASE WHEN quintile = 5 THEN share END)
           / SUM(CASE WHEN quintile <= 2 THEN share END) AS p
  FROM shares
)
SELECT quintile, n_customers, spend, share,
       ROUND(p, 4) AS palma_ratio
FROM shares, palma
"""


# ---------------------------------------------------------------------------
# Goodman-Kruskal gamma: priority x value-quartile concordance
# ---------------------------------------------------------------------------


def _priority_quartile_cells(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bounded 5x4 (priority rank, order-value quartile)
    contingency table shared by Goodman-Kruskal gamma and Somers' D:
    one grouped count collapses orders to the (priority, value)
    distinct frame, the value marginal's cumulative comes from the
    two-level bucketed kernel, quartile boundaries are
    disc-percentile edges decided in exact integer arithmetic
    (4*cum >= k*n) and assignment is by range comparison against the
    three broadcast edges — no unpartitioned window anywhere."""
    pr_rank = F.element_at(
        F.split(F.col("o_orderpriority"), "-"), 1
    ).cast("int")
    rv = (
        read_table(spark, sf_dir, "orders")
        .select(
            pr_rank.alias("r"),
            F.round(F.col("o_totalprice"), 4).alias("v"),
        )
        .groupBy("r", "v")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    marg = (
        rv.groupBy("v")
        .agg(F.sum("c").cast("long").alias("cv"))
        .localCheckpoint(eager=False)
    )
    cum = bucketed_cumsums(marg, "v", ("cv",))
    nf = marg.agg(F.sum("cv").cast("long").alias("n"))
    edges = (
        cum.crossJoin(F.broadcast(nf))
        .agg(
            *[
                F.min(
                    F.when(
                        4 * F.col("cum_cv") >= k * F.col("n"),
                        F.col("v"),
                    )
                ).alias(f"e{k}")
                for k in (1, 2, 3)
            ]
        )
    )
    return (
        rv.crossJoin(F.broadcast(edges))
        .select(
            "r",
            (
                1
                + (F.col("v") > F.col("e1")).cast("int")
                + (F.col("v") > F.col("e2")).cast("int")
                + (F.col("v") > F.col("e3")).cast("int")
            ).alias("q"),
            "c",
        )
        .groupBy("r", "q")
        .agg(F.sum("c").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )


# the oracle-side twin of _priority_quartile_cells: CTE chain ending
# in ``cells (r, q, c)`` — embeddable after WITH in the gamma and
# Somers' D oracles
_PQ_CELLS_SQL = """rv AS (
  SELECT CAST(string_split(o_orderpriority, '-')[1] AS INTEGER) AS r,
         ROUND(o_totalprice, 4) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
),
marg AS (SELECT v, SUM(c) AS cv FROM rv GROUP BY 1),
cum AS (
  SELECT v, SUM(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc
  FROM marg
),
nf AS (SELECT SUM(cv) AS n FROM marg),
edges AS (
  SELECT MIN(CASE WHEN 4 * cc >= 1 * n THEN v END) AS e1,
         MIN(CASE WHEN 4 * cc >= 2 * n THEN v END) AS e2,
         MIN(CASE WHEN 4 * cc >= 3 * n THEN v END) AS e3
  FROM cum, nf
),
cells AS (
  SELECT r,
         1 + CAST(v > e1 AS INTEGER) + CAST(v > e2 AS INTEGER)
           + CAST(v > e3 AS INTEGER) AS q,
         CAST(SUM(c) AS BIGINT) AS c
  FROM rv, edges GROUP BY 1, 2
)"""


def stats_goodman_kruskal_gamma(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal gamma (1954) between order priority (ordinal
    1-URGENT..5-LOW) and the order-value quartile: gamma =
    (C - D)/(C + D) over concordant/discordant pairs, computed from
    the bounded 5x4 contingency table (C = sum over cells of
    count * total strictly-southeast; D = northeast) — ordinal
    association where chi2 / Cramer's V sees only identity. The
    pair-level view of the same hypothesis Jonckheere-Terpstra
    tests.

    Determinism: quartile boundaries are DISC-percentile edges over
    the distinct 4dp-value frame (smallest value whose cumulative
    count reaches k*n/4, decided in exact integer arithmetic
    4*cum >= k*n), assignment by range comparison against the three
    broadcast edges — equal values always share a quartile, and the
    oracle mirrors the identical cumulative construction; cell
    counts and the C/D folds are exact integers.

    Scale shape: one grouped count collapses orders to the
    (priority, value) distinct frame, its value marginal feeds the
    two-level bucketed kernel for the cumulative (an unpartitioned
    NTILE window on the full orders frame would be a single-task
    corpus sort — the r14 verdict flag), quartiles assign by range
    against a 1-row broadcast edge frame, then one grouped count to
    the 20-cell table whose C/D folds are a bounded 20x20
    self-join; output is one row. The cell construction is shared
    with stats_somers_d (_priority_quartile_cells)."""
    cells = _priority_quartile_cells(spark, sf_dir)
    a = cells.select(
        F.col("r").alias("r1"), F.col("q").alias("q1"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("r").alias("r2"), F.col("q").alias("q2"),
        F.col("c").alias("cb"),
    )
    pairs = a.crossJoin(b)
    conc = F.sum(
        F.when(
            (F.col("r2") > F.col("r1")) & (F.col("q2") > F.col("q1")),
            F.col("ca") * F.col("cb"),
        )
    )
    disc = F.sum(
        F.when(
            (F.col("r2") > F.col("r1")) & (F.col("q2") < F.col("q1")),
            F.col("ca") * F.col("cb"),
        )
    )
    agg = pairs.agg(
        conc.alias("concordant"), disc.alias("discordant")
    )
    g = (F.col("concordant") - F.col("discordant")) / (
        F.col("concordant") + F.col("discordant")
    ).cast("double")
    return agg.select(
        F.col("concordant").cast("long").alias("concordant"),
        F.col("discordant").cast("long").alias("discordant"),
        F.round(g, 6).alias("gamma"),
    )


GAMMA_ORACLE = f"""
WITH {_PQ_CELLS_SQL},
pairs AS (
  SELECT a.c AS ca, b.c AS cb, a.r AS r1, a.q AS q1,
         b.r AS r2, b.q AS q2
  FROM cells a, cells b
),
agg AS (
  SELECT CAST(SUM(CASE WHEN r2 > r1 AND q2 > q1
                       THEN ca * cb ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN r2 > r1 AND q2 < q1
                       THEN ca * cb ELSE 0 END) AS BIGINT)
           AS discordant
  FROM pairs
)
SELECT concordant, discordant,
       ROUND((concordant - discordant) * 1.0
             / (concordant + discordant), 6) AS gamma
FROM agg
"""


# ---------------------------------------------------------------------------
# Somers' D: asymmetric ordinal association (beside gamma)
# ---------------------------------------------------------------------------


def stats_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D (Somers 1962) between order priority (X) and the
    order-value quartile (Y), both directions: d_yx =
    (C - D)/(C + D + T_y) treats Y as the response (pairs tied only
    on Y count against association), d_xy the reverse — the
    asymmetric refinements of the gamma this queue registers beside
    (gamma ignores ALL ties, so it overstates association whenever
    one margin is coarse; D is what an ordinal-response model
    reports). Computed from the same bounded 5x4 contingency as
    gamma (shared _priority_quartile_cells).

    Determinism: cell counts, C, D and both tie folds are exact
    integers from the bounded 20x20 cell self-join; the two ratios
    are single rationals rounded after the fold.

    Scale shape: identical to gamma — the corpus collapses to the
    20-cell table (kernel-bucketed quartile edges, range-comparison
    assignment), everything after is O(1)."""
    cells = _priority_quartile_cells(spark, sf_dir)
    a = cells.select(
        F.col("r").alias("r1"), F.col("q").alias("q1"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("r").alias("r2"), F.col("q").alias("q2"),
        F.col("c").alias("cb"),
    )
    pairs = a.crossJoin(b)
    r1, q1 = F.col("r1"), F.col("q1")
    r2, q2 = F.col("r2"), F.col("q2")
    w = F.col("ca") * F.col("cb")
    agg = pairs.agg(
        F.sum(
            F.when((r2 > r1) & (q2 > q1), w)
        ).alias("concordant"),
        F.sum(
            F.when((r2 > r1) & (q2 < q1), w)
        ).alias("discordant"),
        # pairs tied on X only / on Y only: count each unordered
        # pair once (r2 > r1 / q2 > q1 picks one orientation; the
        # same-cell diagonal contributes C(c,2) pairs tied on BOTH,
        # which neither fold wants)
        F.sum(
            F.when((r2 == r1) & (q2 > q1), w)
        ).alias("ties_x_only"),
        F.sum(
            F.when((q2 == q1) & (r2 > r1), w)
        ).alias("ties_y_only"),
    )
    c_, d_ = F.col("concordant"), F.col("discordant")
    tx, ty = F.col("ties_x_only"), F.col("ties_y_only")
    return agg.select(
        c_.cast("long").alias("concordant"),
        d_.cast("long").alias("discordant"),
        tx.cast("long").alias("ties_x_only"),
        ty.cast("long").alias("ties_y_only"),
        F.round((c_ - d_) / (c_ + d_ + ty).cast("double"), 6).alias(
            "somers_d_yx"
        ),
        F.round((c_ - d_) / (c_ + d_ + tx).cast("double"), 6).alias(
            "somers_d_xy"
        ),
    )


SOMERS_ORACLE = f"""
WITH {_PQ_CELLS_SQL},
pairs AS (
  SELECT a.c AS ca, b.c AS cb, a.r AS r1, a.q AS q1,
         b.r AS r2, b.q AS q2
  FROM cells a, cells b
),
agg AS (
  SELECT CAST(SUM(CASE WHEN r2 > r1 AND q2 > q1
                       THEN ca * cb ELSE 0 END) AS BIGINT) AS c_,
         CAST(SUM(CASE WHEN r2 > r1 AND q2 < q1
                       THEN ca * cb ELSE 0 END) AS BIGINT) AS d_,
         CAST(SUM(CASE WHEN r2 = r1 AND q2 > q1
                       THEN ca * cb ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN q2 = q1 AND r2 > r1
                       THEN ca * cb ELSE 0 END) AS BIGINT) AS ty
  FROM pairs
)
SELECT c_ AS concordant, d_ AS discordant,
       tx AS ties_x_only, ty AS ties_y_only,
       ROUND((c_ - d_) * 1.0 / (c_ + d_ + ty), 6) AS somers_d_yx,
       ROUND((c_ - d_) * 1.0 / (c_ + d_ + tx), 6) AS somers_d_xy
FROM agg
"""


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test: proportion of 'F' status across
# ordered priorities
# ---------------------------------------------------------------------------


def stats_cochran_armitage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage test for trend (Cochran 1954, Armitage 1955)
    of the fulfilled-status ('F') proportion across the five order
    priorities with their natural integer scores 1..5: T =
    sum_i s_i (r_i - n_i R/N), Var T = (R/N)(1 - R/N)
    (sum n_i s_i^2 - (sum n_i s_i)^2 / N), z = T/sqrt(Var), two-sided
    p via A&S — the 2xk ORDERED-proportions member of this queue's
    ordered-alternatives family (chi2 asks "any difference in
    proportions?"; CA asks "do they MOVE with urgency?").

    Determinism: the 5-row contingency (r_i, n_i) is integer-exact;
    T and both variance folds are closed rationals in the counts.

    Scale shape: one grouped count to five rows; everything after is
    O(1) on the driver plan (no window, no join)."""
    pr_rank = F.element_at(
        F.split(F.col("o_orderpriority"), "-"), 1
    ).cast("int")
    lev = (
        read_table(spark, sf_dir, "orders")
        .groupBy(pr_rank.alias("s"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                (F.col("o_orderstatus") == "F").cast("long")
            ).alias("r"),
        )
    )
    agg = lev.agg(
        F.sum("n").cast("double").alias("nn"),
        F.sum("r").cast("double").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("double").alias("sr"),
        F.sum(F.col("s") * F.col("n")).cast("double").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("double")
        .alias("ssn"),
    )
    p = F.col("rr") / F.col("nn")
    t = F.col("sr") - p * F.col("sn")
    var = p * (1 - p) * (
        F.col("ssn") - F.col("sn") * F.col("sn") / F.col("nn")
    )
    z = t / F.sqrt(var)
    return agg.select(
        F.col("nn").cast("long").alias("n_orders"),
        F.col("rr").cast("long").alias("n_fulfilled"),
        F.round(t, 4).alias("trend_stat"),
        F.round(z, 6).alias("z_stat"),
        F.round(_normal_two_sided(F.abs(z)), 6).alias("p_value"),
    )


COCHRAN_ARMITAGE_ORACLE = f"""
WITH lev AS (
  SELECT CAST(string_split(o_orderpriority, '-')[1] AS INTEGER) AS s,
         COUNT(*) AS n,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS r
  FROM orders GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS nn,
         CAST(SUM(r) AS DOUBLE) AS rr,
         CAST(SUM(s * r) AS DOUBLE) AS sr,
         CAST(SUM(s * n) AS DOUBLE) AS sn,
         CAST(SUM(s * s * n) AS DOUBLE) AS ssn
  FROM lev
),
st AS (
  SELECT nn, rr,
         sr - (rr / nn) * sn AS t,
         (rr / nn) * (1 - rr / nn) * (ssn - sn * sn / nn) AS var
  FROM agg
),
zz AS (SELECT nn, rr, t, t / SQRT(var) AS z FROM st),
zf AS (SELECT nn, rr, t, z, ABS(z) AS za FROM zz)
SELECT CAST(nn AS BIGINT) AS n_orders,
       CAST(rr AS BIGINT) AS n_fulfilled,
       ROUND(t, 4) AS trend_stat,
       ROUND(z, 6) AS z_stat,
       ROUND({_ans_sql('za')}, 6) AS p_value
FROM zf
"""


# ---------------------------------------------------------------------------
# Column-level data profiling: the quality-audit surface
# ---------------------------------------------------------------------------


def quality_column_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-column profile of the orders table — row count, null
    count, EXACT distinct count — the data-quality audit every
    100 TB ingestion gate runs before accepting a drop (schema drift
    shows as distinct-count cliffs, upstream breakage as null
    spikes). Exact distincts, not approx: the approx twin
    (agg_approx_distinct_users) is Spark-impl-specific and
    rows-only; this one is engine-portable and hash-checked.

    Determinism: all counts are exact integers; double-typed columns
    count distinct by bit equality, identical for parquet
    round-tripped values in both engines.

    Scale shape: ONE scan computes every metric (count + per-column
    null sums + per-column exact count-distincts in a single
    aggregate — Spark plans multi-distinct aggregates with one
    expand, not one scan per column), then a 6-row stack unpivots
    driver-side; output is bounded by the column count."""
    o = read_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        )
        aggs.append(
            F.count_distinct(F.col(c)).cast("long").alias(f"dist_{c}")
        )
    one = o.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', null_{c}, dist_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_expr}) "
            "AS (column_name, n_null, n_distinct)"
        ),
        "n_rows",
    ).select("column_name", "n_rows", "n_null", "n_distinct")


COLUMN_PROFILE_ORACLE = """
WITH one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_o_orderkey,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
           AS dist_o_orderkey,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_o_custkey,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS dist_o_custkey,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_o_orderstatus,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
           AS dist_o_orderstatus,
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_o_totalprice,
         CAST(COUNT(DISTINCT o_totalprice) AS BIGINT)
           AS dist_o_totalprice,
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_o_orderdate,
         CAST(COUNT(DISTINCT o_orderdate) AS BIGINT)
           AS dist_o_orderdate,
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
                  END) AS BIGINT) AS null_o_orderpriority,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
           AS dist_o_orderpriority
  FROM orders
)
SELECT t.column_name, one.n_rows, t.n_null, t.n_distinct
FROM one, LATERAL (
  VALUES ('o_orderkey', null_o_orderkey, dist_o_orderkey),
         ('o_custkey', null_o_custkey, dist_o_custkey),
         ('o_orderstatus', null_o_orderstatus, dist_o_orderstatus),
         ('o_totalprice', null_o_totalprice, dist_o_totalprice),
         ('o_orderdate', null_o_orderdate, dist_o_orderdate),
         ('o_orderpriority', null_o_orderpriority,
          dist_o_orderpriority)
) AS t(column_name, n_null, n_distinct)
"""


# ---------------------------------------------------------------------------
# Mean per-document type-token ratio per source
# ---------------------------------------------------------------------------


def text_mean_doc_ttr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean per-document type-token ratio per source (plus the
    pooled-corpus TTR for contrast): TTR_doc = |types| / |tokens|
    within each document, averaged per source — the
    document-granular lexical diversity the corpus-level estimators
    (Heaps, Yule K, Honore R) wash out (a source of many short
    repetitive docs and one of few long rich docs can share a
    corpus TTR while their doc means differ wildly).

    Determinism: per-doc counts are integers; the mean is a fold
    over the bounded per-doc frame, 6dp-rounded.

    Scale shape: one (doc, token) grouped count (map-side), a
    per-doc fold, a per-source mean; output is |sources| rows."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower("text")), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    per_doc = (
        toks.groupBy("source", "doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("source", "doc_id")
        .agg(
            F.count("*").cast("double").alias("types"),
            F.sum("c").cast("double").alias("tokens"),
        )
    )
    pooled = (
        toks.groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("source")
        .agg(
            (F.count("*") / F.sum("c")).alias("pooled_ttr")
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.avg(F.col("types") / F.col("tokens")), 6
            ).alias("mean_doc_ttr"),
        )
        .join(
            pooled.select(
                "source", F.round("pooled_ttr", 6).alias("pooled_ttr")
            ),
            "source",
        )
    )


TTR_ORACLE = """
WITH toks AS (
  SELECT source, doc_id, tok
  FROM (SELECT source, doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS tok
        FROM documents)
  WHERE tok <> ''
),
per_doc AS (
  SELECT source, doc_id,
         CAST(COUNT(*) AS DOUBLE) AS types,
         CAST(SUM(c) AS DOUBLE) AS tokens
  FROM (SELECT source, doc_id, tok, COUNT(*) AS c
        FROM toks GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
pooled AS (
  SELECT source,
         COUNT(*) * 1.0 / SUM(c) AS pooled_ttr
  FROM (SELECT source, tok, COUNT(*) AS c
        FROM toks GROUP BY 1, 2)
  GROUP BY source
)
SELECT p.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(types / tokens), 6) AS mean_doc_ttr,
       ROUND(MAX(pl.pooled_ttr), 6) AS pooled_ttr
FROM per_doc p JOIN pooled pl ON p.source = pl.source
GROUP BY p.source
"""


# ---------------------------------------------------------------------------
# Registration seeds for round 16
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Term burstiness: Church-Gale variance-to-mean over documents
# ---------------------------------------------------------------------------

BURSTINESS_DF_PCT = 20  # keep terms present in >= 20% of documents


def text_term_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Church-Gale term burstiness (Church & Gale 1995): for every
    term appearing in >= 20% of documents, the variance-to-mean
    ratio (VMR) of its per-document count over ALL documents
    (absent docs count zero). VMR = 1 is Poisson scatter; bursty
    function-of-content terms run VMR >> 1 while grammatical glue
    sits near 1 — the corpus-linguistics diagnostic beside the
    registered Zipf/Heaps/Yule laws, and a dispersion feature
    quality filters consume.

    Determinism: per-doc counts, df, tf and the squared-count sum
    are exact integers; the df floor is decided in integer
    arithmetic (100*df >= pct*n_docs); VMR = (n*sq - tf^2)/(n*tf)
    divides two exact integers (both < 2^63 at any plausible SF).

    Scale shape: one explode + (doc, term) grouped count (map-side
    partials), one term-level rollup, one broadcast scalar for
    n_docs; the df floor bounds the output."""
    docs = read_table(spark, sf_dir, "documents")
    n_frame = docs.agg(F.count("*").cast("long").alias("n_docs"))
    per = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("k"))
    )
    term = per.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("k").cast("long").alias("tf"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("sq"),
    )
    out = (
        term.crossJoin(F.broadcast(n_frame))
        .filter(
            100 * F.col("df") >= BURSTINESS_DF_PCT * F.col("n_docs")
        )
        .select(
            "term",
            "df",
            "tf",
            F.round(
                (
                    F.col("n_docs") * F.col("sq")
                    - F.col("tf") * F.col("tf")
                ).cast("double")
                / (F.col("n_docs") * F.col("tf")).cast("double"),
                6,
            ).alias("vmr"),
        )
    )
    return out


BURSTINESS_ORACLE = f"""
WITH nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents),
per AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS k
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS term
        FROM documents)
  GROUP BY 1, 2
),
term AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(k) AS BIGINT) AS tf,
         CAST(SUM(k * k) AS BIGINT) AS sq
  FROM per GROUP BY 1
)
SELECT term, df, tf,
       ROUND(CAST(n_docs * sq - tf * tf AS DOUBLE)
             / CAST(n_docs * tf AS DOUBLE), 6) AS vmr
FROM term, nf
WHERE 100 * df >= {BURSTINESS_DF_PCT} * n_docs
"""


# ---------------------------------------------------------------------------
# Spearman footrule distance between two attribute rankings
# ---------------------------------------------------------------------------


def eval_spearman_footrule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman footrule (the L1 rank-agreement metric; Diaconis &
    Graham 1977) between the retail-price ranking and the size
    ranking of the parts catalog: F = sum_i |rank_price(i) -
    rank_size(i)| with midranks on ties, normalized by n^2/2 (the
    permutation maximum) — the rank-agreement member beside the
    registered Spearman rho (L2) and Kendall tau (inversions); L1 is
    what ranking-merge literature (rank aggregation) optimizes.

    Determinism: midranks are exact .5-grid rationals from the
    two-level kernel; every |diff| and partial sum is an exact
    multiple of 0.5 far below 2^52, so the global sum is
    order-independent and bit-exact in both engines; only the
    normalized ratio is rounded.

    Scale shape: two grouped counts to the distinct-value frames
    (localCheckpoint-ed), two bucketed-midrank kernel passes, two
    value-keyed joins back to the parts frame, one fold; no
    unpartitioned window (the oracle uses plain cumsums — its frames
    are oracle-side only)."""
    from cdc_2025_spark.functions.ranks import bucketed_midranks

    parts = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round("p_retailprice", 4).alias("vp"),
        F.col("p_size").cast("long").alias("vs"),
    )
    marg_p = (
        parts.groupBy("vp")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    marg_s = (
        parts.groupBy("vs")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    # both marginals resolve their plan in one call: no probe for a
    # marginal that fits one task, one fused probe job for the rest
    # (functions/ranks.py probe_edges_modes)
    from cdc_2025_spark.functions.ranks import probe_edges_modes

    probes = probe_edges_modes([(marg_p, "vp", ()), (marg_s, "vs", ())])
    rp = bucketed_midranks(marg_p, "vp", "c", "r_price", probe=probes[0])
    rs = bucketed_midranks(marg_s, "vs", "c", "r_size", probe=probes[1])
    joined = parts.join(rp, "vp").join(rs, "vs")
    agg = joined.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.abs(F.col("r_price") - F.col("r_size"))).alias(
            "footrule_sum"
        ),
    )
    return agg.select(
        "n_parts",
        "footrule_sum",
        F.round(
            F.col("footrule_sum")
            / (F.col("n_parts") * F.col("n_parts") / F.lit(2.0)),
            6,
        ).alias("footrule_norm"),
    )


FOOTRULE_ORACLE = """
WITH parts AS (
  SELECT p_partkey, ROUND(p_retailprice, 4) AS vp,
         CAST(p_size AS BIGINT) AS vs
  FROM part
),
mp AS (SELECT vp, CAST(COUNT(*) AS BIGINT) AS c
       FROM parts GROUP BY 1),
ms AS (SELECT vs, CAST(COUNT(*) AS BIGINT) AS c
       FROM parts GROUP BY 1),
rp AS (
  SELECT vp,
         SUM(c) OVER (ORDER BY vp ROWS UNBOUNDED PRECEDING)
           - (c - 1) / 2.0 AS r_price
  FROM mp
),
rs AS (
  SELECT vs,
         SUM(c) OVER (ORDER BY vs ROWS UNBOUNDED PRECEDING)
           - (c - 1) / 2.0 AS r_size
  FROM ms
),
joined AS (
  SELECT ABS(r_price - r_size) AS d
  FROM parts JOIN rp USING (vp) JOIN rs USING (vs)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(d) AS footrule_sum
  FROM joined
)
SELECT n_parts, footrule_sum,
       ROUND(footrule_sum / (n_parts * n_parts / 2.0), 6)
         AS footrule_norm
FROM agg
"""


# ---------------------------------------------------------------------------
# Blocked edit-distance entity resolution over part names
# ---------------------------------------------------------------------------

ER_EDIT_MAX_DIST = 4


def er_name_edit_blocking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocked edit-distance matching over the parts catalog: names
    collapse to the distinct-name frame with part counts, BLOCK on
    the final token (the head noun — the standard ER blocking-key
    move that bounds the pair space), and only within-block pairs
    pay a Levenshtein evaluation; pairs within distance 4 survive —
    catalog-normalization ER where the exact-key and phonetic
    families miss close variants ('small bolt' ~ 'red bolt').

    Determinism: Levenshtein is the classic integer DP, identical in
    both engines; blocks, counts and the pair join are exact; output
    fully ordered by the unique (name_a, name_b) pair.

    Scale shape: the corpus collapses to the distinct-name frame
    FIRST (grouped count — at 100x the name domain grows far slower
    than rows), the block join is bounded by the largest block (the
    pigeonhole posture of the simhash/SNM family), and no pair
    outside a shared block is ever scored."""
    names = (
        read_table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").cast("long").alias("n_parts"))
        .withColumn(
            "block", F.element_at(F.split(F.col("name"), " "), -1)
        )
        .localCheckpoint(eager=False)
    )
    a = names.select(
        "block",
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        "block",
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    pairs = (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b")
        )
        .filter(F.col("edit_dist") <= ER_EDIT_MAX_DIST)
    )
    return pairs.select(
        "name_a",
        "name_b",
        F.col("edit_dist").cast("int").alias("edit_dist"),
        "n_parts_a",
        "n_parts_b",
    )


ER_EDIT_ORACLE = f"""
WITH names AS (
  SELECT p_name AS name,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         string_split(p_name, ' ')[-1] AS block
  FROM part GROUP BY 1
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS edit_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {ER_EDIT_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank: paired AM/PM value shift per (user, day)
# ---------------------------------------------------------------------------


def stats_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) of the within-day
    value shift: each (user, day) block with events in BOTH halves
    of the day contributes d = mean PM value - mean AM value
    (4dp-rounded per half, the round-after-aggregate rule); zero
    differences drop (the classical convention, reported), |d| gets
    midranks from the shared two-level kernel, W+ sums the ranks of
    positive shifts, and the tie-corrected normal approximation
    gives the two-sided p — the PAIRED rank member beside
    Mann-Whitney (independent samples) and McNemar (paired binary):
    does the day's second half shift the value level, pairing each
    user-day with itself?

    Determinism: the block design is the non-degenerate (user, day,
    AM/PM) granularity (the Cochran-Q lesson); block means round 4dp
    so both engines rank identical doubles; counts, W+ (a sum of
    exact .5-grid midranks times integer counts) and the tie fold
    are exact; only z and p round.

    Scale shape: one (user, day) grouped collapse (the corpus
    shuffles once), one grouped count to the bounded distinct-|d|
    frame (localCheckpoint-ed) feeding the bucketed midrank kernel,
    one fold."""
    from cdc_2025_spark.functions.ranks import bucketed_midranks

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    blocks = (
        ev.groupBy(
            "user_id", F.to_date("ts").alias("day")
        )
        .agg(
            F.round(
                F.avg(F.when(F.hour("ts") < 12, F.col("value"))), 4
            ).alias("am"),
            F.round(
                F.avg(F.when(F.hour("ts") >= 12, F.col("value"))), 4
            ).alias("pm"),
        )
        .filter(F.col("am").isNotNull() & F.col("pm").isNotNull())
        .select((F.col("pm") - F.col("am")).alias("d"))
    )
    marked = blocks.select(
        F.abs(F.col("d")).alias("ad"),
        (F.col("d") > 0).cast("long").alias("pos"),
        (F.col("d") == 0).cast("long").alias("zero"),
    )
    marg = (
        marked.filter(F.col("zero") == 0)
        .groupBy("ad")
        .agg(
            F.sum("pos").cast("long").alias("cpos"),
            F.count("*").cast("long").alias("tot"),
        )
        .localCheckpoint(eager=False)
    )
    # carry_cols replaces the old re-join of marg onto the ranks
    # (one distinct-value exchange join removed per action — r16)
    ranked = bucketed_midranks(
        marg, "ad", "tot", "r", carry_cols=("cpos", "tot")
    )
    zeros = marked.agg(F.sum("zero").cast("long").alias("n_zero"))
    agg = ranked.agg(
        F.sum("tot").cast("double").alias("n"),
        F.sum(F.col("cpos") * F.col("r")).alias("w_plus"),
        F.sum(
            F.col("tot") * F.col("tot") * F.col("tot") - F.col("tot")
        ).cast("double").alias("ties"),
    ).crossJoin(F.broadcast(zeros))
    n = F.col("n")
    mean = n * (n + 1) / F.lit(4.0)
    var = n * (n + 1) * (2 * n + 1) / F.lit(24.0) - F.col(
        "ties"
    ) / F.lit(48.0)
    z = (F.col("w_plus") - mean) / F.sqrt(var)
    return agg.select(
        n.cast("long").alias("n_blocks"),
        "n_zero",
        F.col("w_plus").alias("w_plus"),
        F.round(z, 6).alias("z_stat"),
        F.round(_normal_two_sided(F.abs(z)), 6).alias("p_value"),
    )


WILCOXON_ORACLE = f"""
WITH blocks AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         ROUND(AVG(CASE WHEN hour(ts) < 12 THEN value END), 4)
           AS am,
         ROUND(AVG(CASE WHEN hour(ts) >= 12 THEN value END), 4)
           AS pm
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
diffs AS (
  SELECT pm - am AS d FROM blocks
  WHERE am IS NOT NULL AND pm IS NOT NULL
),
zeros AS (
  SELECT CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_zero
  FROM diffs
),
marg AS (
  SELECT ABS(d) AS ad,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cpos,
         CAST(COUNT(*) AS BIGINT) AS tot
  FROM diffs WHERE d <> 0 GROUP BY 1
),
ranked AS (
  SELECT ad, cpos, tot,
         SUM(tot) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING)
           - (tot - 1) / 2.0 AS r
  FROM marg
),
agg AS (
  SELECT CAST(SUM(tot) AS DOUBLE) AS n,
         SUM(cpos * r) AS w_plus,
         CAST(SUM(tot * tot * tot - tot) AS DOUBLE) AS ties
  FROM ranked
),
st AS (
  SELECT n, w_plus, ties,
         (w_plus - n * (n + 1) / 4.0)
           / SQRT(n * (n + 1) * (2 * n + 1) / 24.0 - ties / 48.0)
           AS z
  FROM agg
),
zf AS (SELECT n, w_plus, z, ABS(z) AS za FROM st)
SELECT CAST(n AS BIGINT) AS n_blocks,
       (SELECT n_zero FROM zeros) AS n_zero,
       w_plus,
       ROUND(z, 6) AS z_stat,
       ROUND({_ans_sql('za')}, 6) AS p_value
FROM zf
"""


# ---------------------------------------------------------------------------
# Log-rank test: reorder-delay survival, BUILDING vs MACHINERY
# ---------------------------------------------------------------------------

LOGRANK_SEG_A = "BUILDING"
LOGRANK_SEG_B = "MACHINERY"


def stats_logrank_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-rank test (Mantel 1966) comparing the time-to-reorder
    survival curves of the BUILDING and MACHINERY customer
    segments: the registered Kaplan-Meier observation construction
    (consecutive-order gaps as events, last-order-to-corpus-end as
    right-censored) split by segment; at each event time t,
    O - E accumulates d_A(t) - d(t) n_A(t)/n(t) and the
    hypergeometric variance d (n_A/n)(n_B/n)(n-d)/(n-1), giving the
    standard z / chi2(1) — the survival family's two-sample test
    beside the registered KM curve and Nelson-Aalen hazard (curves
    describe; log-rank decides).

    Determinism: durations are integer day counts; d/c/at-risk
    counts are exact integers on the duration-ordered bounded frame;
    E and V are sums of rationals over that bounded frame, rounded
    4-6dp after the final fold (the round-after-aggregate rule).

    Scale shape: ONE custkey-partitioned window derives the delays
    (corpus shuffles once on o_custkey, the registered KM posture);
    the duration frame is calendar-bounded (distinct integer day
    gaps), so its ordered window follows the registered KM/equidepth
    posture; output is one row."""
    o = (
        read_table(spark, sf_dir, "orders")
        .join(
            read_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(
            F.col("c_mktsegment").isin(LOGRANK_SEG_A, LOGRANK_SEG_B)
        )
        .select(
            "o_custkey",
            F.to_date("o_orderdate").alias("day"),
            (F.col("c_mktsegment") == LOGRANK_SEG_A)
            .cast("long")
            .alias("is_a"),
        )
    )
    w_cust = Window.partitionBy("o_custkey").orderBy("day")
    base = o.withColumn("nxt", F.lead("day").over(w_cust))
    gmax = o.agg(F.max("day").alias("gmax"))
    events = base.filter(F.col("nxt").isNotNull()).select(
        F.datediff("nxt", "day").alias("dur"),
        "is_a",
        F.lit(1).alias("event"),
    )
    censored = (
        base.filter(F.col("nxt").isNull())
        .crossJoin(F.broadcast(gmax))
        .select(
            F.datediff("gmax", "day").alias("dur"),
            "is_a",
            F.lit(0).alias("event"),
        )
    )
    obs = events.unionByName(censored)
    g = obs.groupBy("dur").agg(
        F.sum(F.col("event") * F.col("is_a"))
        .cast("long")
        .alias("da"),
        F.sum(F.col("event") * (1 - F.col("is_a")))
        .cast("long")
        .alias("db"),
        F.sum("is_a").cast("long").alias("ta"),
        F.sum(1 - F.col("is_a")).cast("long").alias("tb"),
    )
    w_all = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    risk = g.select(
        "dur",
        "da",
        "db",
        (
            F.sum("ta").over(w_tot)
            - F.sum("ta").over(w_all)
            + F.col("ta")
        ).alias("na"),
        (
            F.sum("tb").over(w_tot)
            - F.sum("tb").over(w_all)
            + F.col("tb")
        ).alias("nb"),
    )
    d = (F.col("da") + F.col("db")).cast("double")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    n = na + nb
    at_event = risk.filter((F.col("da") + F.col("db")) > 0)
    agg = at_event.agg(
        F.sum("da").cast("double").alias("oa"),
        F.sum(d * na / n).alias("ea"),
        F.sum(
            F.when(
                n > 1,
                d * (na / n) * (nb / n) * (n - d) / (n - 1),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    z = (F.col("oa") - F.col("ea")) / F.sqrt(F.col("v"))
    return agg.select(
        F.col("oa").cast("long").alias("observed_a"),
        F.round(F.col("ea"), 4).alias("expected_a"),
        F.round(z * z, 6).alias("chi2"),
        F.round(
            _normal_two_sided(F.abs(z)), 6
        ).alias("p_value"),
    )


LOGRANK_ORACLE = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
         CASE WHEN c_mktsegment = '{LOGRANK_SEG_A}' THEN 1 ELSE 0
           END AS is_a
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{LOGRANK_SEG_A}', '{LOGRANK_SEG_B}')
),
base AS (
  SELECT day, is_a,
         LEAD(day) OVER (PARTITION BY o_custkey ORDER BY day)
           AS nxt
  FROM o
),
gmax AS (SELECT MAX(day) AS gm FROM o),
obs AS (
  SELECT datediff('day', day, nxt) AS dur, is_a, 1 AS event
  FROM base WHERE nxt IS NOT NULL
  UNION ALL
  SELECT datediff('day', day, gm) AS dur, is_a, 0 AS event
  FROM base, gmax WHERE nxt IS NULL
),
g AS (
  SELECT dur,
         CAST(SUM(event * is_a) AS BIGINT) AS da,
         CAST(SUM(event * (1 - is_a)) AS BIGINT) AS db,
         CAST(SUM(is_a) AS BIGINT) AS ta,
         CAST(SUM(1 - is_a) AS BIGINT) AS tb
  FROM obs GROUP BY dur
),
risk AS (
  SELECT dur, da, db,
         SUM(ta) OVER () - SUM(ta) OVER (ORDER BY dur
           ROWS UNBOUNDED PRECEDING) + ta AS na,
         SUM(tb) OVER () - SUM(tb) OVER (ORDER BY dur
           ROWS UNBOUNDED PRECEDING) + tb AS nb
  FROM g
),
at_event AS (
  SELECT CAST(da AS DOUBLE) AS da, CAST(db AS DOUBLE) AS db,
         CAST(na AS DOUBLE) AS na, CAST(nb AS DOUBLE) AS nb
  FROM risk WHERE da + db > 0
),
agg AS (
  SELECT SUM(da) AS oa,
         SUM((da + db) * na / (na + nb)) AS ea,
         SUM(CASE WHEN na + nb > 1
             THEN (da + db) * (na / (na + nb)) * (nb / (na + nb))
                  * (na + nb - da - db) / (na + nb - 1)
             ELSE 0.0 END) AS v
  FROM at_event
),
zz AS (SELECT oa, ea, (oa - ea) / SQRT(v) AS z FROM agg),
zf AS (SELECT oa, ea, z, ABS(z) AS za FROM zz)
SELECT CAST(oa AS BIGINT) AS observed_a,
       ROUND(ea, 4) AS expected_a,
       ROUND(z * z, 6) AS chi2,
       ROUND({_ans_sql('za')}, 6) AS p_value
FROM zf
"""


# ---------------------------------------------------------------------------
# Forward as-of: first error after each purchase, per user timeline
# ---------------------------------------------------------------------------


def asof_forward_first_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORWARD as-of join on the event timeline: for every purchase,
    the FIRST error event of the same user strictly later in the
    (ts, event_id) total order — the time-to-failure companion of
    the registered BACKWARD as-of (asof_last_signup_before_purchase
    attributes; this one measures what happens next). Expressed as
    one running conditional MIN over the user's timeline in reverse
    order — the union-free as-of construction both engines window
    identically — then folded to the incident summary a reliability
    dashboard reads.

    Determinism: timestamps compare as exact integer microseconds;
    the (ts DESC, event_id DESC) frame is a total order (event_id
    unique), so ties at the same microsecond are deterministic; gap
    sums are exact BIGINT micros divided once at the end.

    Scale shape: ONE user-partitioned window (the corpus shuffles
    once, on user_id — the KM/sessionize posture); the fold is one
    aggregate; output is one row."""
    # parquet timestamps read back TIMESTAMP_NTZ (Spark 4 inference),
    # which unix_micros rejects; the session pins UTC so the ltz cast
    # is value-preserving (the windows.py gap idiom)
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("tsu"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("tsu").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "next_err",
        F.min(
            F.when(F.col("event_type") == "error", F.col("tsu"))
        ).over(w),
    )
    purchases = marked.filter(F.col("event_type") == "purchase")
    agg = purchases.agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum(F.col("next_err").isNotNull().cast("long")).alias(
            "n_matched"
        ),
        F.sum(F.col("next_err") - F.col("tsu"))
        .cast("long")
        .alias("gap_us"),
        F.min(F.col("next_err") - F.col("tsu"))
        .cast("long")
        .alias("min_gap_us"),
    )
    return agg.select(
        "n_purchases",
        "n_matched",
        F.round(
            F.col("gap_us").cast("double")
            / F.col("n_matched")
            / F.lit(1e6),
            4,
        ).alias("avg_gap_sec"),
        F.round(
            F.col("min_gap_us").cast("double") / F.lit(1e6), 6
        ).alias("min_gap_sec"),
    )


ASOF_FORWARD_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
  FROM events
),
marked AS (
  SELECT user_id, event_id, event_type, tsu,
         MIN(CASE WHEN event_type = 'error' THEN tsu END) OVER (
           PARTITION BY user_id
           ORDER BY tsu DESC, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS next_err
  FROM ev
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
         CAST(SUM(CASE WHEN next_err IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_matched,
         CAST(SUM(next_err - tsu) AS BIGINT) AS gap_us,
         CAST(MIN(next_err - tsu) AS BIGINT) AS min_gap_us
  FROM marked WHERE event_type = 'purchase'
)
SELECT n_purchases, n_matched,
       ROUND(CAST(gap_us AS DOUBLE) / n_matched / 1e6, 4)
         AS avg_gap_sec,
       ROUND(CAST(min_gap_us AS DOUBLE) / 1e6, 6) AS min_gap_sec
FROM agg
"""


# ---------------------------------------------------------------------------
# Exactly-once streaming sink audit: the versioned_sink driver proof
# ---------------------------------------------------------------------------


def versioned_sink_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver surface for ``versioned_sink`` (streaming/cdc.py) —
    the exactly-once foreachBatch glue the r14 verdict asked to
    prove: drive the sink callable with four deterministic
    microbatches of the orders table (orderkey mod 4 = 0 / 1 / 1
    AGAIN with the SAME batch id — the foreachBatch replay failure
    mode — / 2) plus one empty batch, then read the final snapshot
    and the manifest history back. The oracle recomputes the union
    of the three modular classes straight from the base table and
    pins n_versions = 3 and the last recorded txn version = 2, so a
    hash-green row verifies the whole exactly-once chain: the
    replayed (query, batch_id) txn is SKIPPED (a double commit
    would show 4 versions and double the batch-1 rows/sums), the
    empty batch commits nothing, and every delivered batch landed
    exactly once.

    The sink callable is invoked directly — it is the identical
    function object a ``writeStream.foreachBatch`` would call, so
    batch-driving it replays the streaming contract without a
    socket; the engine==replay equality of the streaming layer is
    pinned separately in tests.

    Determinism: modular arithmetic on the unique orderkey;
    key sums integer-exact; totalprice round-trips parquet doubles
    bit-identically and is rounded after the final aggregate.

    Scale shape: each microbatch commit is a distributed parquet
    write + one O(1) manifest CAS (no coalesce(1)); the replay
    check is a manifest-dict lookup, not a data read; the audit
    read is one scan of the final snapshot's dirs."""
    from cdc_2025_spark.queries.pending_r13 import (
        memo_versioned_table,
    )
    from cdc_2025_spark.streaming.cdc import versioned_sink
    from cdc_2025_spark.versioned import history, read_versioned

    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )

    def _build(path: str) -> None:
        sink = versioned_sink(path, "audit_stream")
        batches = [
            base.filter(F.col("o_orderkey") % 4 == i)
            for i in range(3)
        ]
        sink(batches[0], 0)
        sink(batches[1], 1)
        sink(batches[1], 1)  # REPLAYED batch id: must be skipped
        sink(batches[2], 2)
        sink(base.filter(F.lit(False)), 3)  # empty: never commits

    table = memo_versioned_table(
        spark, sf_dir, "versioned_sink", _build
    )
    hist = history(table)
    last_txn = hist[-1]["txns"]["audit_stream"]
    got = read_versioned(spark, table)
    return got.agg(
        F.lit(len(hist)).cast("long").alias("n_versions"),
        F.lit(last_txn).cast("long").alias("last_txn_version"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum("o_totalprice"), 4).alias("price_sum"),
    )


SINK_AUDIT_ORACLE = """
SELECT CAST(3 AS BIGINT) AS n_versions,
       CAST(2 AS BIGINT) AS last_txn_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       ROUND(SUM(o_totalprice), 4) AS price_sum
FROM orders
WHERE o_orderkey % 4 IN (0, 1, 2)
"""


# ---------------------------------------------------------------------------
# Vacuum audit: retention-window space reclaim, reader-safe
# ---------------------------------------------------------------------------

VAC_HI = 5000.0


def versioned_vacuum_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver surface for ``vacuum`` (versioned.py): commit the
    customer dim as three banded appends (3 data dirs), OVERWRITE
    with only the high-balance band (v4, 1 dir), then
    vacuum(keep_last=1, retention_hours=0) — the serialized-
    maintenance setting. The audit reads back what a user can still
    observe: exactly one manifest remains (at version 4), exactly
    one data dir survives on disk (the three expired appends'
    dirs are physically gone — counted via the filesystem, not the
    return value, so memoized re-invocations re-derive every fact),
    and the surviving snapshot still answers exactly. The oracle
    recomputes the band from the base table and pins the structural
    facts as literals, so a hash-green row verifies the reclaim
    removed precisely the unreferenced dirs and nothing a reader
    needs.

    Determinism: band membership is a pure predicate on acctbal;
    counts and key sums are integer-exact; balances round after the
    final aggregate.

    Scale shape: vacuum is manifest arithmetic + dir unlinks (no
    data read); the audit read scans one dir; output is one row."""
    import os as _os

    from cdc_2025_spark.queries.pending_r13 import (
        memo_versioned_table,
    )
    from cdc_2025_spark.versioned import (
        history,
        read_versioned,
        vacuum,
        write_versioned,
    )

    base = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    bal = F.col("c_acctbal")
    bands = [bal < 0, (bal >= 0) & (bal < VAC_HI), bal >= VAC_HI]

    def _build(path: str) -> None:
        for i, cond in enumerate(bands):
            write_versioned(
                base.filter(cond),
                path,
                mode="append" if i else "overwrite",
            )
        write_versioned(
            base.filter(bal >= VAC_HI), path, mode="overwrite"
        )
        vacuum(path, keep_last=1, retention_hours=0.0)

    table = memo_versioned_table(
        spark, sf_dir, "versioned_vacuum", _build
    )
    hist = history(table)
    dirs_on_disk = len(
        [
            d
            for d in _os.listdir(_os.path.join(table, "data"))
            if _os.path.isdir(_os.path.join(table, "data", d))
        ]
    )
    got = read_versioned(spark, table)
    return got.agg(
        F.lit(len(hist)).cast("long").alias("versions_left"),
        F.lit(hist[-1]["version"]).cast("long").alias("latest_version"),
        F.lit(dirs_on_disk).cast("long").alias("dirs_on_disk"),
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.round(F.sum("c_acctbal"), 4).alias("bal_sum"),
    )


VACUUM_AUDIT_ORACLE = f"""
SELECT CAST(1 AS BIGINT) AS versions_left,
       CAST(4 AS BIGINT) AS latest_version,
       CAST(1 AS BIGINT) AS dirs_on_disk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       ROUND(SUM(c_acctbal), 4) AS bal_sum
FROM customer WHERE c_acctbal >= {VAC_HI}
"""


# ---------------------------------------------------------------------------
# Schema-evolution audit: additive append, old rows read NULL
# ---------------------------------------------------------------------------


def versioned_evolution_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver surface for ADDITIVE schema evolution (versioned.py
    merge_schema): commit the even-keyed customers as (c_custkey,
    c_acctbal), append the odd-keyed customers WITH an extra
    c_nationkey column under merge_schema=True, then read the merged
    table back — old rows must surface NULL for the new column (the
    Delta mergeSchema rule), new rows their values, and the manifest
    must record the evolution. The oracle recomputes every fact from
    the base table (nation sums over odd keys only, null count =
    even-key count), so a hash-green row verifies the schema merge,
    the manifest pin, and the NULL-filling read path end to end.

    Determinism: parity is a pure predicate on the unique key;
    counts/sums integer-exact; balances round after the aggregate.

    Scale shape: two distributed snapshot writes + one merged-schema
    read (schema supplied from the manifest — no per-file inference);
    output is one row."""
    from cdc_2025_spark.queries.pending_r13 import (
        memo_versioned_table,
    )
    from cdc_2025_spark.versioned import (
        history,
        read_versioned,
        write_versioned,
    )

    base = read_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    even = base.filter(key % 2 == 0).select("c_custkey", "c_acctbal")
    odd = base.filter(key % 2 == 1).select(
        "c_custkey",
        "c_acctbal",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
    )

    def _build(path: str) -> None:
        write_versioned(even, path)
        write_versioned(
            odd, path, mode="append", merge_schema=True
        )

    table = memo_versioned_table(
        spark, sf_dir, "versioned_evolution", _build
    )
    hist = history(table)
    got = read_versioned(spark, table)
    return got.agg(
        F.lit(len(hist)).cast("long").alias("n_versions"),
        F.lit(bool(hist[-1]["schema_evolved"])).alias(
            "schema_evolved"
        ),
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.col("c_nationkey").isNull().cast("long")
        ).alias("n_null_nation"),
        F.sum("c_nationkey").cast("long").alias("nation_sum"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.round(F.sum("c_acctbal"), 4).alias("bal_sum"),
    )


EVOLUTION_AUDIT_ORACLE = """
SELECT CAST(2 AS BIGINT) AS n_versions,
       TRUE AS schema_evolved,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_nation,
       CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN c_nationkey END)
            AS BIGINT) AS nation_sum,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       ROUND(SUM(c_acctbal), 4) AS bal_sum
FROM customer
"""


PENDING_ORDER = [
    "stats_jonckheere_terpstra",
    "stats_mcnemar_paired",
    "eval_ks_uniformity",
    "eval_cliffs_delta",
    "stats_atkinson_hoover",
    "stats_quintile_shares",
    "stats_goodman_kruskal_gamma",
    "text_mean_doc_ttr",
    "versioned_sink_audit",
    "stats_somers_d",
    "stats_cochran_armitage",
    "quality_column_profile",
    "text_term_burstiness",
    "eval_spearman_footrule",
    "er_name_edit_blocking",
    "stats_wilcoxon_signed_rank",
    "stats_logrank_segments",
    "asof_forward_first_error",
    "versioned_vacuum_audit",
    "versioned_evolution_audit",
]

_PENDING = {
    "stats_jonckheere_terpstra": (
        stats_jonckheere_terpstra, JT_ORACLE,
    ),
    "stats_mcnemar_paired": (stats_mcnemar_paired, MCNEMAR_ORACLE),
    "eval_ks_uniformity": (eval_ks_uniformity, KS_UNIFORM_ORACLE),
    "eval_cliffs_delta": (eval_cliffs_delta, CLIFFS_ORACLE),
    "stats_atkinson_hoover": (
        stats_atkinson_hoover, ATKINSON_ORACLE,
    ),
    "stats_quintile_shares": (
        stats_quintile_shares, QUINTILE_ORACLE,
    ),
    "stats_goodman_kruskal_gamma": (
        stats_goodman_kruskal_gamma, GAMMA_ORACLE,
    ),
    "text_mean_doc_ttr": (text_mean_doc_ttr, TTR_ORACLE),
    "versioned_sink_audit": (
        versioned_sink_audit, SINK_AUDIT_ORACLE,
    ),
    "stats_somers_d": (stats_somers_d, SOMERS_ORACLE),
    "stats_cochran_armitage": (
        stats_cochran_armitage, COCHRAN_ARMITAGE_ORACLE,
    ),
    "quality_column_profile": (
        quality_column_profile, COLUMN_PROFILE_ORACLE,
    ),
    "text_term_burstiness": (
        text_term_burstiness, BURSTINESS_ORACLE,
    ),
    "eval_spearman_footrule": (
        eval_spearman_footrule, FOOTRULE_ORACLE,
    ),
    "er_name_edit_blocking": (
        er_name_edit_blocking, ER_EDIT_ORACLE,
    ),
    "stats_wilcoxon_signed_rank": (
        stats_wilcoxon_signed_rank, WILCOXON_ORACLE,
    ),
    "stats_logrank_segments": (
        stats_logrank_segments, LOGRANK_ORACLE,
    ),
    "asof_forward_first_error": (
        asof_forward_first_error, ASOF_FORWARD_ORACLE,
    ),
    "versioned_vacuum_audit": (
        versioned_vacuum_audit, VACUUM_AUDIT_ORACLE,
    ),
    "versioned_evolution_audit": (
        versioned_evolution_audit, EVOLUTION_AUDIT_ORACLE,
    ),
}


def register_all() -> None:
    """Register every round-16 seed query + oracle in the live
    registry (call from queries/__init__.py when the round-16
    window opens)."""
    from cdc_2025_spark.queries.registry import ORACLES, QUERIES

    for name in PENDING_ORDER:
        fn, oracle = _PENDING[name]
        if name not in QUERIES:
            QUERIES[name] = fn
            if oracle is not None:
                ORACLES[name] = " ".join(oracle.split())
