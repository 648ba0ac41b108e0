"""Physical-plan-shape pins: the scale properties the engine promises
(pushdown, pruning, broadcast, distributed top-k) must be visible in
the optimized plan, not just asserted in docstrings. Conservative
assertions only — plan details that AQE/stats may legitimately change
are not pinned.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from cdc_2025_spark.plans import plan_string
from cdc_2025_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    return plan_string(QUERIES[name](spark, sf_dir))


def test_q6_filter_pushdown_and_column_pruning(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q6_forecast_revenue")
    # all three predicates reach the parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p
    assert "LessThan(l_quantity,24.0)" in p
    # scan reads only the 4 referenced columns of 11
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_partkey" not in read and "l_returnflag" not in read
    assert "l_extendedprice" in read


def test_topk_plans_as_take_ordered(spark, sf_dir):
    for name in ("topk_customers_by_spend", "q18_large_orders"):
        assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, name), name


def test_dim_joins_broadcast(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q5_regional_volume")
    assert "BroadcastHashJoin" in p
    # the tiny dim chain must never plan a cartesian product
    assert "CartesianProduct" not in p


def test_range_join_plans_binned_hash_join(spark, sf_dir):
    """The range join must plan as a bin-bucketed broadcast HASH join
    (O(1) probe per fact row), never the nested-loop fallback that
    tests every window per row."""
    p = plan_of(spark, sf_dir, "range_join_event_windows")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_neardup_lsh_plan_has_no_cross_product(spark, sf_dir):
    """The round-6 point: the registered embedding near-dup SCALE path
    must contain no cartesian/nested-loop join anywhere (its edges
    come from the banded LSH equi-join), while the exact audit twin
    is cross-product-by-design — both pinned so a regression in
    either direction is loud."""
    from cdc_2025_spark.queries.similarity import lsh_pairs

    p = plan_string(lsh_pairs(spark, sf_dir, threshold=0.42))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the candidate generation is an equi-join on (band, bucket)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or (
        "BroadcastHashJoin" in p
    )
    # audit twin: the exact form IS the cross product (that is its job)
    from cdc_2025_spark.functions.embeddings import cosine
    from cdc_2025_spark.io import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"))
    exact_pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine("emb_a", "emb_b") >= 0.42)
    )
    pe = plan_string(exact_pairs)
    assert "CartesianProduct" in pe or "BroadcastNestedLoopJoin" in pe


def test_binned_interval_join_matches_nested_loop(spark, sf_dir):
    """Exactness of the bin-bucketed range join: identical rows to the
    naive broadcast-nested-loop formulation on the same inputs,
    including a deliberately bin-straddling interval layout (windows
    longer than the bin width -> multi-bin explode)."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.functions.intervals import binned_interval_join
    from cdc_2025_spark.io import read_table

    events = read_table(spark, sf_dir, "events")
    # 7-hour windows every 5 hours: overlap each other AND straddle
    # the 2-hour bins (each explodes to 4-5 bins)
    windows = (
        spark.range(0, 60)
        .select(
            (
                F.lit("2024-01-01").cast("timestamp")
                + F.make_interval(hours=F.lit(5) * F.col("id"))
            ).alias("w_start")
        )
        .withColumn("w_end", F.col("w_start") + F.make_interval(hours=F.lit(7)))
    )
    binned = binned_interval_join(
        events, windows, "ts", "w_start", "w_end", bin_seconds=2 * 3600
    ).select("event_id", "w_start")
    ts = F.col("ts").cast("timestamp_ltz")
    naive = events.join(
        F.broadcast(windows),
        (ts >= F.col("w_start")) & (ts < F.col("w_end")),
    ).select("event_id", "w_start")
    got = sorted((r["event_id"], r["w_start"]) for r in binned.collect())
    want = sorted((r["event_id"], r["w_start"]) for r in naive.collect())
    assert got == want and len(got) > 0


def test_semi_join_for_exists(spark, sf_dir):
    p = plan_of(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in p


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "q3_shipping_priority"]
)
def test_no_python_udfs_on_relational_paths(spark, sf_dir, name):
    p = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle side is small by contract — it must broadcast
    so the train corpus never shuffles for the join."""
    p = plan_of(spark, sf_dir, "text_decontamination_overlap")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_prefix_jaccard_no_cartesian(spark, sf_dir):
    """Prefix filtering must stay an equi-join on shingle hashes —
    never a cross product, never Python."""
    p = plan_of(spark, sf_dir, "dedup_prefix_jaccard_pairs")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pack_sequences_window_is_bucketed(spark, sf_dir):
    """The running-sum window must partition by bucket: a global
    (unpartitioned) window would serialize the whole corpus through
    one task. 'Window' with a non-empty partition spec shows as
    'windowspecdefinition(bucket...' in the optimized plan."""
    df = QUERIES["text_pack_sequences"](spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(bucket" in logical
    # and the physical plan has no single-partition exchange
    assert "SinglePartition" not in plan_string(df)


def test_sim_pairs_sample_gate_reaches_scan(spark, sf_dir):
    """The budget-derived md5-bucket gate must filter BEFORE the pair
    self-join fans out. Since round 6 the pct is computed in-plan
    (LEAST(cap, 100·√B / n) against a broadcast 1-row count), so the
    gate shows up as the condition of each side's tiny count join —
    both pair-join inputs must carry it below the fan-out."""
    p = plan_of(spark, sf_dir, "sim_pairs_above_threshold")
    assert p.count("least(25.0, (12500.0") >= 2
    assert p.count("% 100) as double) < least") >= 2


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    [
        ("q1_pricing_summary", 1),       # one grouped agg
        ("q6_forecast_revenue", 1),      # one global agg
        ("funnel_signup_purchase", 2),   # user agg + global rollup
        ("resilience_nation_revenue", 4),
        ("topk_customers_by_spend", 2),
    ],
)
def test_shuffle_budget(spark, sf_dir, name, max_exchanges):
    """Exchange-count ceilings: a regression that adds a shuffle to
    these queries is a scale regression even if results stay right
    (each Exchange is a full materialization at 100 TB)."""
    from cdc_2025_spark.plans import exchange_count

    n = exchange_count(QUERIES[name](spark, sf_dir))
    assert n <= max_exchanges, f"{name}: {n} exchanges"


def _resilience_fact(spark, shift: int = 0):
    """A 6-industry, 9-year fact with ``_row_order``; ``shift``
    changes every value."""
    from cdc_2025_spark.io import with_row_order

    rows = [
        (f"ind{g}", y, float((7 * g + y + shift) % 11))
        for g in range(6)
        for y in range(2016, 2025)
    ]
    return with_row_order(
        spark.createDataFrame(rows, "Industry string, Year int, Real_Value double")
    )


@pytest.fixture
def cached_fact(spark):
    fact = _resilience_fact(spark).cache()
    fact.count()
    yield fact
    fact.unpersist()


def test_resilience_metrics_one_hash_exchange_no_window(spark, sf_dir):
    """On an uncached input every resilience result is one aggregate
    on the group key: one hash Exchange and no Window, with or without
    ``_row_order``, for the base metrics and the shock what-if alike."""
    from cdc_2025_spark.io import ROW_ORDER_COL
    from cdc_2025_spark.plans import exchange_count
    from cdc_2025_spark.reference.resilience import (
        resilience_metrics,
        shock_simulation,
    )

    fact = _resilience_fact(spark)
    frames = {
        "metrics": resilience_metrics(fact),
        "no_row_order": resilience_metrics(fact.drop(ROW_ORDER_COL)),
        "shock": shock_simulation(fact, 0.2, 2020),
    }
    for name, df in frames.items():
        p = plan_string(df, mode="simple")
        assert exchange_count(df) == 1, name
        assert p.count("Exchange hashpartitioning(Industry") == 1, name
        assert "Window" not in p, name
    p = plan_of(spark, sf_dir, "resilience_nation_revenue")
    assert "Window" not in p


def _outside_cache(plan: str) -> str:
    """A simple-mode plan without the subtree under each
    InMemoryRelation (the cached plan it reads)."""
    kept, depth = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if depth is not None and indent > depth:
            continue
        depth = indent if "InMemoryRelation" in line else None
        kept.append(line)
    return "\n".join(kept)


def _resilience_results(fact) -> str:
    """Metrics, a shock what-if and a forecast of ``fact``, as one
    exact string (NaN, ±inf and -0.0 included)."""
    from cdc_2025_spark.reference.resilience import (
        resilience_metrics,
        shock_simulation,
        trend_forecast,
    )

    frames = [
        resilience_metrics(fact),
        shock_simulation(fact, 1.5, 2021),
        trend_forecast(fact, 2027),
    ]
    return repr([(df.schema, sorted(map(repr, df.collect()))) for df in frames])


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_resilience_cached_fact_one_job_no_exchange(spark, cached_fact):
    """On a cached input, once a first call has persisted its
    per-group artifact, each page, worst-hit and forecast collect is
    one Spark job, with no Exchange outside the InMemoryRelations its
    plan reads; with and without ``_row_order``."""
    from cdc_2025_spark.io import ROW_ORDER_COL
    from cdc_2025_spark.reference.resilience import (
        resilience_metrics,
        shock_simulation,
        top_k_worst_hit,
        trend_forecast,
    )
    from cdc_2025_spark.report import resilience_report_html

    plain = cached_fact.drop(ROW_ORDER_COL).cache()
    try:
        for fact in (cached_fact, plain):
            frames = {
                "metrics": resilience_metrics(fact),
                "shock": shock_simulation(fact, 0.2, 2020),
                "forecast": trend_forecast(fact, 2027),
            }
            requests = {
                "page": lambda: resilience_report_html(resilience_metrics(fact), k=3),
                "worst": lambda: top_k_worst_hit(frames["shock"], 3).collect(),
                "forecast": lambda: frames["forecast"]
                .filter("Industry = 'ind1'")
                .collect(),
            }
            requests["page"]()
            for name, action in requests.items():
                assert _jobs_run_by(spark, action) == 1, name
            for name, df in frames.items():
                p = _outside_cache(plan_string(df, mode="simple"))
                assert "InMemoryRelation" in p, name
                assert "Exchange" not in p, (name, p)
    finally:
        plain.unpersist()


def test_resilience_artifact_one_cache_entry_per_input(spark):
    """Repeated calls on a cached input add one CacheManager entry per
    (input, group, year, value) triple, whatever their base year,
    shock or horizon."""
    from cdc_2025_spark.reference.resilience import (
        resilience_metrics,
        shock_simulation,
        trend_forecast,
    )

    fact = _resilience_fact(spark, shift=1)
    fact = fact.withColumn("Nominal", F.col("Real_Value") + 1).cache()
    before = _cache_entries(spark)
    try:
        for _ in range(2):
            resilience_metrics(fact).collect()
            resilience_metrics(
                fact, base_year=2018, shock_year=2021, horizon=1
            ).collect()
            shock_simulation(fact, 0.3, 2019).collect()
            trend_forecast(fact, 2030).collect()
        assert _cache_entries(spark) == before + 1
        resilience_metrics(fact, value_col="Nominal").collect()
        trend_forecast(fact, 2026, value_col="Nominal").collect()
        assert _cache_entries(spark) == before + 2
    finally:
        fact.unpersist()


def test_resilience_artifact_follows_the_cache(spark):
    """The cached shape tracks the input's storage level: after
    ``unpersist()`` the calls take the uncached shape (one hash
    Exchange on the input) with the same results, and after
    ``clearCache()`` and a re-cache the artifact is built again."""
    from cdc_2025_spark.plans import exchange_count
    from cdc_2025_spark.reference.resilience import resilience_metrics

    fact = _resilience_fact(spark, shift=2)
    want = _resilience_results(fact)
    fact.cache()
    assert _resilience_results(fact) == want
    fact.unpersist()
    assert _resilience_results(fact) == want
    uncached = resilience_metrics(fact)
    assert exchange_count(uncached) == 1
    assert "InMemoryRelation" not in plan_string(uncached, mode="simple")

    spark.catalog.clearCache()  # drops the artifact unpersist left
    assert _cache_entries(spark) == 0
    fact.cache()
    assert _resilience_results(fact) == want
    assert _cache_entries(spark) == 2  # the input and its artifact
    fact.unpersist()


def test_resilience_artifact_follows_a_rewritten_source(spark, tmp_path):
    """A fact read from a file, cached, unpersisted, and read and cached
    again after the file was rewritten has the same plan but new values:
    the calls then give the new values' results, never those of the
    artifact built from the first read (it stays cached, unread)."""
    from pyspark.sql.types import StructType

    from cdc_2025_spark.io import (
        ROW_ORDER_COL,
        read_csv,
        with_row_order,
        write_single_csv,
    )

    path = str(tmp_path / "fact.csv")
    schema = StructType.fromDDL("Industry string, Year int, Real_Value double")

    def read(shift):
        write_single_csv(_resilience_fact(spark, shift).drop(ROW_ORDER_COL), path)
        return with_row_order(read_csv(spark, path, schema=schema))

    try:
        fact = read(5).cache()
        stale = _resilience_results(fact)  # builds the first artifact
        fact.unpersist()
        fact = read(6)
        want = _resilience_results(fact)
        assert want != stale
        assert _resilience_results(fact.cache()) == want
    finally:
        spark.catalog.clearCache()


def test_resilience_artifact_is_per_input(spark):
    """A second cached fact with other values never reads the first
    fact's artifact: each cached fact gives its own uncached results."""
    first, second = _resilience_fact(spark, shift=3), _resilience_fact(spark, shift=4)
    want = [_resilience_results(first), _resilience_results(second)]
    assert want[0] != want[1]
    first.cache()
    second.cache()
    try:
        assert [_resilience_results(first), _resilience_results(second)] == want
    finally:
        first.unpersist()
        second.unpersist()


def _recent_sql_plans(spark) -> dict[int, str]:
    """Id -> physical plan of the newest SQL executions in the
    session's status store (kept with the UI off), after the listener
    bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(n - 50, 0), 50)
    return {
        e.executionId(): e.physicalPlanDescription()
        for e in (recent.apply(i) for i in range(recent.size()))
    }


def _jobs_run_by(spark, action) -> int:
    """Spark jobs ``action()`` starts, read from the status store's
    ``jobsList`` (newest first; kept with the UI off)."""
    sc = spark.sparkContext._jsc.sc()

    def newest_ids():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return (jobs.apply(i).jobId() for i in range(jobs.size()))

    before = next(newest_ids(), -1)
    action()
    return sum(1 for _ in itertools.takewhile(lambda j: j > before, newest_ids()))


def test_report_page_is_one_sql_execution(spark, cached_fact):
    """A serving page runs the metrics once: one SQL execution for
    all three views."""
    from cdc_2025_spark.reference.resilience import resilience_metrics
    from cdc_2025_spark.report import resilience_report_html

    before = max(_recent_sql_plans(spark), default=-1)
    page = resilience_report_html(resilience_metrics(cached_fact), k=3)
    new = {i for i in _recent_sql_plans(spark) if i > before}
    assert len(new) == 1, sorted(new)
    assert page.count("<table>") == 3


def test_versioned_commit_adds_no_job_over_a_plain_write(spark, tmp_path):
    """A versioned commit evaluates its frame once, in the write: its
    row count and stats come from the footers, so it starts no more
    jobs than a plain parquet write of the same frame."""
    from pyspark.sql import functions as F

    from cdc_2025_spark.versioned import write_versioned

    df = (
        spark.range(3000)
        .selectExpr("id % 41 AS k", "id AS v")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    plain = _jobs_run_by(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    t = str(tmp_path / "tbl")
    assert _jobs_run_by(spark, lambda: write_versioned(df, t)) <= plain
    assert (
        _jobs_run_by(spark, lambda: write_versioned(df, t, mode="overwrite"))
        <= plain
    )


def test_pivot_wide_one_hash_exchange_unsorted_year_probe(spark):
    """The pivot export is one aggregate on Industry (one hash
    Exchange, no PivotFirst), and its years probe runs unsorted: the
    ~12 years are ordered on the driver."""
    from cdc_2025_spark.reference import pivot_wide

    fact = spark.createDataFrame(
        [(f"ind{g}", y, float(g - y % 3)) for g in range(5) for y in (2019, 2020)]
        + [("ind0", 2019, 1.0), ("ind1", None, 2.0)],
        "Industry string, Year int, Real_Value double",
    )
    before = max(_recent_sql_plans(spark), default=-1)
    wide = pivot_wide(fact)
    probes = [p for i, p in _recent_sql_plans(spark).items() if i > before]
    assert len(probes) == 1
    assert "Sort" not in probes[0], probes[0]
    p = plan_string(wide, mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "pivotfirst" not in p.lower()


def test_corpus_prep_broadcasts_eval_no_cartesian(spark, sf_dir):
    """The composed prep pipeline must keep the decontamination
    stage's asymmetric broadcast (eval side tiny) and introduce no
    cross product or Python anywhere in the composition."""
    p = plan_of(spark, sf_dir, "llm_corpus_prep")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pii_scrub_single_aggregate(spark, sf_dir):
    """PII scrub is scan + one partial aggregate: exactly one
    exchange, no Python."""
    from cdc_2025_spark.plans import exchange_count

    df = QUERIES["text_pii_scrub"](spark, sf_dir)
    assert exchange_count(df) <= 1
    p = plan_string(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    [
        ("cdc_scd2_user_state_history", 1),  # one keyed window
        ("cdc_scd2_state_asof", 1),          # window + interval filter
        ("dedup_repeated_spans", 2),         # two-phase distinct count
        ("sample_train_val_test_split", 1),  # scan-side bucket + rollup
        # (text_pii_scrub's <=1 ceiling lives in its dedicated test)
        ("text_doc_entropy", 2),             # token counts + doc agg
        ("sample_domain_mixture_weights", 2),  # agg + tiny global window
    ],
)
def test_shuffle_budget_round3(spark, sf_dir, name, max_exchanges):
    """Exchange ceilings for the round-3 operators — same contract as
    test_shuffle_budget: an added shuffle is a scale regression."""
    from cdc_2025_spark.plans import exchange_count

    n = exchange_count(QUERIES[name](spark, sf_dir))
    assert n <= max_exchanges, f"{name}: {n} exchanges"


def test_tfidf_broadcasts_idf_table(spark, sf_dir):
    """The document-frequency (idf) side is vocabulary-sized and must
    broadcast — a second corpus-sized shuffle for the idf join would
    be the classic TF-IDF scale mistake."""
    p = plan_of(spark, sf_dir, "text_tfidf_top_terms")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_decontam_embedding_broadcasts_eval_side(spark, sf_dir):
    """The eval split broadcasts; the training corpus must stream
    through a single scan with no shuffle on its side (broadcast
    nested-loop over the tiny eval set, same family as the brute-force
    top-k baseline)."""
    p = plan_of(spark, sf_dir, "decontam_embedding_crosssplit")
    assert "BroadcastNestedLoopJoin" in p
    # the train side must not be exchanged before the join
    assert "CartesianProduct" not in p


def test_perplexity_broadcasts_context_counts(spark, sf_dir):
    """text_bigram_perplexity's context-count (cnt_w1) join is
    vocabulary-sized with a Zipfian key distribution — stopword
    contexts are hot keys at 100x, so it must BROADCAST (the idf
    posture above); the distinct-bigram count join stays a shuffle
    join because that table is corpus-shaped."""
    p = plan_of(spark, sf_dir, "text_bigram_perplexity")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_chunking_plan_is_narrow(spark, sf_dir):
    """text_chunk_documents promises a shuffle-free narrow plan: no
    Exchange anywhere (per-document explode + slice only), and the
    scan reads just doc_id + text of the 5-column table."""
    # another module's fixture may have .cache()d the documents scan,
    # which would swap an InMemoryRelation (full schema) into this
    # plan — drop cached state so the pruned parquet scan is visible
    spark.catalog.clearCache()
    p = plan_of(spark, sf_dir, "text_chunk_documents")
    assert "Exchange" not in p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "text" in read and "lang" not in read and "n_chars" not in read


def test_span_removal_plan_has_no_cross_product(spark, sf_dir):
    """dedup_remove_repeated_spans is all key-partitioned equi-joins
    (span hash, (doc_id, pos)) — a cartesian/nested-loop anywhere
    means the anti-join or the dup-span join degenerated."""
    p = plan_of(spark, sf_dir, "dedup_remove_repeated_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # 8-byte shuffle key, not the span string: since r16 the
    # xxhash64("span") expression is computed once inside the span
    # checkpoint build, so the visible plan shuffles on the pinned
    # _h long column instead of recomputing the hash inline
    assert "hashpartitioning(_h#" in p


def test_semdedup_pair_join_is_cell_keyed(spark, sf_dir):
    """SemDeDup's within-cluster pair generation must plan as an
    equi-join on the cell key — the whole point of clustering first
    is that no cross product appears anywhere in the pair stage."""
    from cdc_2025_spark.functions.kmeans import assign_cells
    from cdc_2025_spark.io import read_table
    from pyspark.sql import functions as F

    from cdc_2025_spark.plans import plan_string

    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    cents = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] * 64)], "cid int, cemb array<double>"
    )
    assigned = assign_cells(emb, cents)
    a = assigned.select("cell", F.col("id").alias("id_a"))
    b = assigned.select("cell", F.col("id").alias("id_b"))
    pairs = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    p = plan_string(pairs)
    assert "CartesianProduct" not in p
    # nested-loops in this plan are ONLY assign_cells' deliberate
    # broadcast of the k-row centroid table (join with no condition
    # against a tiny build side — k·dim floats, one per unpersisted
    # side here); the corpus-sized pair join itself must be a
    # cell-keyed equi-join
    assert "Left keys [1]: [cell" in p
    assert (
        "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
        or "BroadcastHashJoin" in p
    )


def test_bloom_prefilter_plan_broadcasts_the_bitmap(spark, sf_dir):
    """The prefilter's membership probe must join against the
    broadcast bitmap (m/64 longs) — never a cartesian, and the corpus
    side never re-shuffles through a nested loop."""
    p = plan_of(spark, sf_dir, "dedup_incremental_bloom_prefilter")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_url_dedup_plan_single_window_shuffle(spark, sf_dir):
    """text_url_canonical_dedup: canonicalization rides the scan as
    codegen string expressions — the plan's only exchange is the
    canonical-key window partitioning, and no Python appears."""
    from cdc_2025_spark.plans import exchange_count

    df = QUERIES["text_url_canonical_dedup"](spark, sf_dir)
    p = plan_string(df)
    assert exchange_count(df) <= 1, p
    assert "Python" not in p and "CartesianProduct" not in p


def test_quality_percentile_filter_broadcasts_thresholds(spark, sf_dir):
    """The per-source thresholds table (|sources| rows) must
    broadcast back — the corpus itself never shuffles."""
    p = plan_of(spark, sf_dir, "text_quality_percentile_filter")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_full_ledger_plan_no_cross_product(spark, sf_dir):
    """The five-stage prep composition: every stage joins on keys
    (doc_id, ckey, span hash, shingle) — a cartesian anywhere means
    a stage degenerated; the decontamination stage's eval side rides
    a broadcast."""
    p = plan_of(spark, sf_dir, "llm_prep_full_ledger")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_dsir_broadcasts_ratio_table_and_topk_selection(spark, sf_dir):
    """DSIR's per-bucket log-ratio table is feature-space-sized (256
    rows) and must BROADCAST onto the token stream (the idf/cnt_w1
    posture — bucket keys are Zipf-hot at 100x); selection must plan
    as a distributed top-K (TakeOrderedAndProject), never a global
    single-partition window sort."""
    p = plan_of(spark, sf_dir, "sample_dsir_importance")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_reservoir_sample_plans_as_take_ordered(spark, sf_dir):
    """The bottom-k take must plan as TakeOrderedAndProject
    (per-partition partial top-K) — a global window sort over the
    corpus would be the classic fixed-size-sample scale mistake."""
    p = plan_of(spark, sf_dir, "sample_reservoir_bottomk")
    assert "TakeOrderedAndProject" in p


def test_language_temperature_broadcasts_rates(spark, sf_dir):
    """The per-language rates table is |languages|-sized and must
    broadcast onto the corpus scan — shuffling the corpus by lang
    (a handful of Zipf-skewed keys) would be the scale mistake the
    operator exists to avoid."""
    p = plan_of(spark, sf_dir, "sample_language_temperature")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_cluster_canonical_no_pair_blowup(spark, sf_dir):
    """Survivor selection must never materialize a document cross
    product: the only pair-shaped frame is the already-thresholded
    Jaccard edge set."""
    p = plan_of(spark, sf_dir, "dedup_cluster_canonical_docs")
    assert "CartesianProduct" not in p


def test_knn_label_spread_broadcasts_seed(spark, sf_dir):
    """The labeled seed set must broadcast (nested-loop over the tiny
    side) and the per-vector top-k must stay a window partial — a
    corpus-side shuffle before scoring would be the scale mistake."""
    p = plan_of(spark, sf_dir, "sim_knn_label_spread")
    assert "BroadcastNestedLoopJoin" in p
    assert "WindowGroupLimit" in p


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # 2 narrow scans -> 2 tiny aggs + broadcast rate plumbing;
        # corpus rows never shuffle (map-side partials only)
        ("sample_language_temperature", 6),
        # shingle df groupBy + join-back + doc agg
        ("text_ngram_novelty", 3),
        # broadcast seed + vote agg + pick window
        ("sim_knn_label_spread", 2),
        # one corpus agg; everything after runs on the
        # (sources x bins)-bounded frame (tiny exchanges)
        ("stats_source_length_drift", 10),
    ],
)
def test_shuffle_budget_round8b(spark, sf_dir, name, max_exchanges):
    """Exchange ceilings for the late-round-8 operators — an added
    Exchange is a scale regression (dedup_cluster_canonical_docs is
    excluded: its plan embeds the session-cached Jaccard pair set,
    whose InMemoryRelation substitution varies with test order)."""
    from cdc_2025_spark.plans import exchange_count

    n = exchange_count(QUERIES[name](spark, sf_dir))
    assert n <= max_exchanges, f"{name}: {n} exchanges"


def test_bm25_plan_shape(spark, sf_dir):
    """BM25: the query-sized idf table must broadcast (a corpus
    shuffle to recover idf would be the scale mistake), and top-k must
    be a TakeOrderedAndProject, never a global sort."""
    p = plan_of(spark, sf_dir, "text_bm25_search")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # stats agg + tf/df aggs + final doc agg; every post-filter
        # frame is bounded by the query terms' posting lists
        ("text_bm25_search", 7),
        # inverted-index self-join, same exchange budget family as
        # the Jaccard exact pass it shares its engine with
        ("dedup_containment_pairs", 10),
        # ONE shuffle: the per-doc window sort; the distinct rollup
        # rides the window's doc_id clustering
        ("text_winnowing_fingerprints", 1),
    ],
)
def test_shuffle_budget_round8c(spark, sf_dir, name, max_exchanges):
    """Exchange ceilings for the round-8c operators. Cache cleared
    first: dedup_containment_pairs rides the session-shared Jaccard
    pair index, and a materialized InMemoryRelation substitution
    prints its stored child plan (3 extra Exchanges) depending on
    test order — the pinned invariant is the uncached lineage."""
    from cdc_2025_spark.plans import exchange_count

    spark.catalog.clearCache()
    n = exchange_count(QUERIES[name](spark, sf_dir))
    assert n <= max_exchanges, f"{name}: {n} exchanges"


def test_triangle_plan_all_equi_joins(spark, sf_dir):
    """Triangle counting must be pure equi-joins (wedge build +
    closure probe) — a cartesian or nested-loop anywhere means the
    degree-orientation contract broke and the plan quadratizes on
    hubs at scale."""
    p = plan_of(spark, sf_dir, "graph_triangle_stats")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_itemset_plan_broadcasts_prunes(spark, sf_dir):
    """Apriori's prune/frequent tables must broadcast and the only
    non-broadcast joins are basket-keyed equi-joins — a shuffled
    prune table or a cartesian means the level-wise contract broke.
    The 1-row n_baskets scalar legitimately rides a broadcast
    nested-loop (the corpus-scalar pattern used engine-wide)."""
    from cdc_2025_spark.plans import exchange_count

    df = QUERIES["mine_frequent_event_sets"](spark, sf_dir)
    p = plan_string(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # shared-subplan checkpoints keep the exchange budget flat: the
    # corpus distinct + basket self-join execute once, not per level
    assert exchange_count(df) <= 36, exchange_count(df)


def test_analyze_reads_only_statted_columns(spark, sf_dir):
    """The ANALYZE scan must read exactly the four stat'd columns
    (pushdown ReadSchema) and aggregate without any per-column
    window funnel (no single-partition exchange)."""
    spark.catalog.clearCache()
    p = plan_of(spark, sf_dir, "stats_analyze_lineitem")
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_quantity" in read and "l_shipdate" in read
    assert "l_orderkey" not in read and "l_comment" not in read
    assert "SinglePartition" not in p


def test_equidepth_plan_single_scan_distinct_frame(spark, sf_dir):
    """Equi-depth histogram must read the corpus ONCE: the grouped
    count onto the distinct-value frame is lazily localCheckpoint-ed
    (one materialized collapse; the r12 bucketed-rank shape), so the
    final plan holds ZERO parquet scans — every subtree reads the
    checkpoint's blocks (Scan ExistingRDD) — rank work runs on
    distinct values through bounded windows, and the only joins are
    broadcast (bucket offsets, the 1-row total); the COLLAPSE plan
    itself is pruned to the one column."""
    spark.catalog.clearCache()
    p = plan_of(spark, sf_dir, "stats_equidepth_histogram")
    import re as _re

    scans = _re.findall(r"\(\d+\) Scan parquet", p)
    assert len(scans) == 0, scans  # corpus behind ONE checkpoint
    assert "Scan ExistingRDD" in p
    assert "HashAggregate" in p and "Window" in p
    assert "SortMergeJoin" not in p  # broadcast-only joins
    # the checkpointed collapse reads only the price column: pin the
    # pruning on the collapse plan itself
    from cdc_2025_spark.io import read_table
    from pyspark.sql import functions as F

    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(F.col("l_extendedprice").alias("v"))
    )
    cp = li.groupBy("v").agg(F.count("*").alias("c"))._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    read = next(l for l in cp.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_join_cardinality_plan_never_joins_fact_rows(spark, sf_dir):
    """The estimator prices the join from per-side grouped counts —
    the only join in the plan is between the two |keys|-row count
    frames (post-aggregate), never between event-grain rows, and
    the scans read only (event_id, event_type)."""
    spark.catalog.clearCache()
    p = plan_of(spark, sf_dir, "stats_join_cardinality_estimate")
    for line in p.splitlines():
        if "ReadSchema" in line:
            assert "user_id" not in line and "props" not in line
    # joins appear above HashAggregate stages, so each join input is
    # an aggregated frame: exactly one join NODE in the tree (the
    # formatted plan names each node once in the tree section as
    # "(n) SortMergeJoin ...")
    import re as _re

    tree_joins = _re.findall(r"\(\d+\) \w*Join", p)
    assert len(tree_joins) == 1, tree_joins


def test_blocklist_plan_is_codegen_membership(spark, sf_dir):
    """Blocklist membership must stay a codegen'd IN filter on the
    exploded tokens — no Python stage, no cartesian, and the doc
    spine re-attach broadcasts the tiny hit frame."""
    spark.catalog.clearCache()
    p = plan_of(spark, sf_dir, "text_blocklist_filter")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "IsNotNull(text)" in p  # null-text filter pushed to scan


def test_knn_label_spread_single_corpus_exchange(spark, sf_dir):
    """The r9 rewrite's contract: ONE corpus repartition feeds the
    broadcast score, and the top-k window plus both vote aggregates
    inherit hash(vec_id) — a second data exchange on the pair frame
    (or a winner-pick sort) is the regression this pins. AQE leaves
    at most the final result exchange on top."""
    from cdc_2025_spark.plans import exchange_count

    df = QUERIES["sim_knn_label_spread"](spark, sf_dir)
    assert exchange_count(df) <= 2
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p
    # exactly ONE logical window (the top-k), which plans as a
    # partial+final WindowGroupLimit pair; the winner pick must stay
    # an aggregate (a second window would add a third entry)
    assert p.count("WindowGroupLimit") <= 2


def test_er_blocking_no_cartesian_no_entity_rejoin(spark, sf_dir):
    """The round-10 ER plan contract: every blocking key is a
    key-grouped join (no cross product anywhere), the gate
    thresholds the CARRIED order attribute (no re-join of the pair
    stream against the entity table — at scale that was two extra
    shuffles of the largest frame), SNM neighbors come from lead()
    over the ranking window (no rank self-join), and no Python
    stage touches the row path."""
    spark.catalog.clearCache()
    p = plan_of(spark, sf_dir, "er_customer_golden_records")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_weighted_reservoir_plans_partial_topk(spark, sf_dir):
    """The weighted bottom-k take must plan as TakeOrderedAndProject
    (per-partition partial top-K — the mergeable-race contract), not
    a global sort."""
    spark.catalog.clearCache()
    p = plan_of(spark, sf_dir, "sample_weighted_reservoir_docs")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_eval_metrics_collapse_to_distinct_score_frame(spark, sf_dir):
    """AUC and the threshold sweep must aggregate the corpus to the
    distinct-score frame FIRST (one grouped count): the scan reads
    ONLY the two source columns (pruning reaches parquet), no Python
    stage exists, and the whole plan carries at most 3 exchanges
    (grouped partials + the single-partition window over the bounded
    frame) — a corpus-wide sort/window would add exchanges over the
    raw scan."""
    from cdc_2025_spark.plans import exchange_count

    spark.catalog.clearCache()
    for name in ("eval_quality_auc", "eval_quality_threshold_sweep"):
        df = QUERIES[name](spark, sf_dir)
        p = plan_string(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "ReadSchema: struct<lang:string,n_chars:bigint>" in p
        assert exchange_count(df) <= 3, name
