"""Empty-input robustness: operators must return empty (or
well-defined) results on empty frames, not throw — the behavior that
matters when a partition, day, or filter comes back empty in a
100 TB pipeline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_2025_spark.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cdc_2025_spark.functions.kmeans import lloyd_kmeans
from cdc_2025_spark.reference.resilience import (
    resilience_metrics,
    trend_forecast,
)
from cdc_2025_spark.streaming import apply_changes_batch


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_families_empty(empty_docs):
    assert ngram_jaccard_pairs(empty_docs).count() == 0
    assert minhash_lsh_pairs(empty_docs).count() == 0
    assert simhash_pairs(empty_docs).count() == 0


def test_prefix_and_star_empty(spark, empty_docs):
    from cdc_2025_spark.dedup import (
        connected_components_star,
        prefix_jaccard_pairs,
    )

    assert prefix_jaccard_pairs(empty_docs).count() == 0
    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty_edges).count() == 0


def test_resilience_empty(spark):
    empty = spark.createDataFrame(
        [], "Industry string, Year int, Real_Value double"
    )
    assert resilience_metrics(empty).count() == 0
    assert trend_forecast(empty, through_year=2030).count() == 0


def test_forecast_past_through_year_yields_no_rows(spark):
    df = spark.createDataFrame(
        [("a", 2020, 1.0), ("a", 2021, 2.0)],
        "Industry string, Year int, Real_Value double",
    )
    # through_year at/before the data: zero forecast rows, not a
    # backwards sequence (F.sequence counts down when start > stop)
    assert trend_forecast(df, through_year=2020).count() == 0


def test_apply_changes_empty_batch(spark):
    snap = spark.createDataFrame([(1, "a")], "k long, name string")
    empty = spark.createDataFrame(
        [], "k long, op string, op_ts timestamp, _seq long, name string"
    )
    out = apply_changes_batch(snap, empty, ["k"]).collect()
    assert [(r["k"], r["name"]) for r in out] == [(1, "a")]


def test_kmeans_fewer_vectors_than_k(spark):
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = lloyd_kmeans(tiny, k=8, n_iter=2).collect()
    assert 1 <= len(cents) <= 2  # only as many cells as vectors


def test_whitespace_only_documents_dedup(spark):
    """Blank/whitespace docs must not crash shingling; identical
    blanks pair as exact duplicates."""
    df = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "real text here")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_scd2_empty_and_empty_batch(spark):
    """SCD2: empty change log yields empty history; an empty batch
    applied to existing history is a strict no-op (nothing closed,
    nothing appended)."""
    from datetime import datetime

    from cdc_2025_spark.streaming import apply_changes_scd2, scd2_history

    schema = "k long, op string, op_ts timestamp, name string"
    empty = spark.createDataFrame([], schema)
    assert scd2_history(empty, ["k"]).count() == 0

    log = spark.createDataFrame(
        [(1, "I", datetime(2024, 1, 1), "a")], schema
    )
    hist = scd2_history(log, ["k"])
    after = apply_changes_scd2(hist, empty, ["k"])
    rows = after.collect()
    assert len(rows) == 1
    assert rows[0]["valid_to"] is None and rows[0]["is_current"]


def test_round5_kernels_empty(spark, empty_docs):
    """Round-5 operators on empty frames: md5-family dedup, interval
    join, z-order key, TF-IDF-style explode paths, and resize all
    yield empty results without throwing."""
    from cdc_2025_spark.functions.intervals import binned_interval_join
    from cdc_2025_spark.layout import zorder_key
    from cdc_2025_spark.multimodal.media import MEDIA_SCHEMA, resize_images

    assert minhash_lsh_pairs(empty_docs, family="md5_km").count() == 0
    assert simhash_pairs(empty_docs, hash_fn="md5").count() == 0

    empty_facts = spark.createDataFrame([], "event_id long, ts timestamp")
    windows = (
        spark.range(0, 3)
        .select(
            (
                F.lit("2024-01-01").cast("timestamp")
                + F.make_interval(hours=F.lit(4) * F.col("id"))
            ).alias("w_start")
        )
        .withColumn("w_end", F.col("w_start") + F.make_interval(mins=F.lit(90)))
    )
    joined = binned_interval_join(
        empty_facts, windows, "ts", "w_start", "w_end", bin_seconds=3600
    )
    assert joined.count() == 0
    # and empty intervals against real facts
    empty_iv = spark.createDataFrame(
        [], "w_start timestamp, w_end timestamp"
    )
    facts = spark.createDataFrame(
        [(1,)], "event_id long"
    ).withColumn("ts", F.lit("2024-01-01 01:00:00").cast("timestamp"))
    assert binned_interval_join(
        facts, empty_iv, "ts", "w_start", "w_end", bin_seconds=3600
    ).count() == 0

    empty_xy = spark.createDataFrame([], "x long, y long")
    assert zorder_key(empty_xy, ["x", "y"]).count() == 0

    # inverted (end <= start) intervals are dropped BEFORE the bin
    # explode — without the guard F.sequence counts DOWN (step
    # defaults to -1 when stop < start) and a badly inverted interval
    # fans out to a huge build side before the re-filter kills it
    inverted = spark.createDataFrame(
        [("2024-06-01 00:00:00", "2024-01-01 00:00:00"),
         ("2024-01-01 00:00:00", "2024-01-01 00:00:00")],
        "s string, e string",
    ).select(
        F.col("s").cast("timestamp").alias("w_start"),
        F.col("e").cast("timestamp").alias("w_end"),
    )
    assert binned_interval_join(
        facts, inverted, "ts", "w_start", "w_end", bin_seconds=3600
    ).count() == 0

    empty_media = spark.createDataFrame([], MEDIA_SCHEMA)
    assert resize_images(empty_media, 8, 8).count() == 0


def test_cc_empty_edges_both_paths(spark):
    from cdc_2025_spark.dedup import connected_components

    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty_edges).count() == 0
    assert (
        connected_components(empty_edges, driver_edge_budget=0).count()
        == 0
    )


def test_round8_kernels_empty(spark, empty_docs, tmp_path):
    """Round-8 registrations on an empty documents table: URL dedup,
    percentile filter, perplexity buckets, and the full prep ledger
    must return well-defined empties (the ledger: six all-zero
    stages), not throw. (PQ/IVFPQ need >= k_sub vectors by contract
    — the pq_train guard raises a clear ValueError instead.)"""
    import os

    from cdc_2025_spark.queries.llmdata import llm_prep_full_ledger
    from cdc_2025_spark.queries.text import (
        text_perplexity_buckets,
        text_quality_percentile_filter,
    )
    from cdc_2025_spark.queries.web import text_url_canonical_dedup

    d = str(tmp_path)
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    assert text_url_canonical_dedup(spark, d).count() == 0
    assert text_quality_percentile_filter(spark, d).count() == 0
    buckets = text_perplexity_buckets(spark, d)
    assert buckets.count() == 0
    rows = {
        r["stage"]: (r["n_in"], r["n_dropped"], r["n_out"])
        for r in llm_prep_full_ledger(spark, d).collect()
    }
    assert set(rows) == {
        "raw", "repetition", "exact_vocab", "minhash_lsh",
        "span_removal", "decontam",
    }
    assert all(v == (0, 0, 0) for v in rows.values()), rows


def test_dsir_empty_documents(spark, tmp_path):
    """DSIR on an empty documents table: both distributions are
    empty (add-1 smoothing keeps every log-ratio finite), zero docs
    score, zero are selected — no throw, no division by zero."""
    import os

    from cdc_2025_spark.queries.llmdata import sample_dsir_importance

    d = str(tmp_path)
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    assert sample_dsir_importance(spark, d).count() == 0


def test_bpe_empty_corpus(spark, tmp_path):
    """BPE training on an empty corpus learns zero merges and the
    registered query returns an empty frame with the full schema."""
    import os

    from cdc_2025_spark.functions.bpe import bpe_train
    from cdc_2025_spark.queries.text import text_bpe_vocab_merges

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_train(empty, 5) == []
    d = str(tmp_path)
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    out = text_bpe_vocab_merges(spark, d)
    assert out.columns == ["rank", "left", "right", "merged", "pair_count"]
    assert out.count() == 0


def test_round8b_kernels_empty(spark, tmp_path):
    """The late-r8 registrations on an empty documents table:
    language-temperature sampling (no languages -> no rate rows, and
    the α normalizer must not divide by a NULL sum), n-gram novelty
    (no shingles -> no rows), and survivor selection (no docs -> no
    verdicts). All empties, no throws."""
    import os

    from cdc_2025_spark.queries.dedup import (
        dedup_cluster_canonical_docs,
        text_ngram_novelty,
    )
    from cdc_2025_spark.queries.llmdata import sample_language_temperature

    d = str(tmp_path)
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    assert sample_language_temperature(spark, d).count() == 0
    assert text_ngram_novelty(spark, d).count() == 0
    assert dedup_cluster_canonical_docs(spark, d).count() == 0


def test_round8c_operators_empty(spark, empty_docs):
    """containment / winnowing / BM25 / yield curve / leakage-free
    split on an empty corpus: empty results (or an empty curve), no
    throw."""
    from unittest import mock

    from cdc_2025_spark.dedup import containment_pairs
    from cdc_2025_spark.queries.dedup import sample_leakage_free_split
    from cdc_2025_spark.queries.text import (
        text_bm25_search,
        text_quality_yield_curve,
        winnow_selected,
    )

    assert containment_pairs(empty_docs).count() == 0
    assert winnow_selected(empty_docs).count() == 0
    with mock.patch(
        "cdc_2025_spark.queries.text.read_table", return_value=empty_docs
    ):
        assert text_bm25_search(spark, "empty").count() == 0
        assert text_quality_yield_curve(spark, "empty").count() == 0
    # a corpus name of its own: the session's pair and component
    # artifacts are keyed on it, so no other test's corpus is served
    with mock.patch(
        "cdc_2025_spark.queries.dedup.read_table",
        return_value=empty_docs,
    ):
        assert (
            sample_leakage_free_split(spark, "leakage-split-empty").count()
            == 0
        )


def test_round8_kernels_empty(spark):
    """Round-8 kernels on empty inputs: triangles, BFS, perceptual
    hashes and the Apriori miner must return empty (or source-only)
    frames, not throw."""
    from cdc_2025_spark.functions.graph import bfs_hops, triangle_stats
    from cdc_2025_spark.multimodal.phash import perceptual_hashes
    from cdc_2025_spark.queries.behavior import mine_frequent_event_sets

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert triangle_stats(empty_pairs).count() == 0

    empty_edges = spark.createDataFrame([], "src string, dst string")
    got = {r["node"]: r["hop"] for r in bfs_hops(empty_edges, "a").collect()}
    assert got == {"a": 0}  # source settles at hop 0, nothing else

    empty_media = spark.createDataFrame([], "media_id long, payload binary")
    assert perceptual_hashes(empty_media).count() == 0

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).write.parquet(os.path.join(td, "events.parquet"))
        assert mine_frequent_event_sets(spark, td).count() == 0


def test_planner_stats_and_blocklist_empty(spark, tmp_path):
    """Round-8g registrations on empty tables: the equi-depth
    histogram and the blocklist filter return zero rows; the join
    cardinality estimator still returns its 3 method rows with NULL
    estimates and NULL rel_error (never an ANSI divide-by-zero) —
    the actual=0 guard that also covers disjoint key sets."""
    import os

    from cdc_2025_spark.queries.analytics import (
        stats_equidepth_histogram,
        stats_join_cardinality_estimate,
    )
    from cdc_2025_spark.queries.text import text_blocklist_filter

    d = str(tmp_path)
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    spark.createDataFrame(
        [],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))

    assert text_blocklist_filter(spark, d).count() == 0
    assert stats_equidepth_histogram(spark, d).count() == 0
    rows = stats_join_cardinality_estimate(spark, d).collect()
    assert len(rows) == 3
    assert all(r["rel_error"] is None for r in rows)
