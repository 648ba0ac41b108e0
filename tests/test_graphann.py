"""Graph-ANN kernel: k-NN graph construction against a pure-python
model, navigability (beam search on the exact graph finds the exact
neighbors), recall vs brute force on the fixture corpus with an
LSH-built graph, and determinism."""

from __future__ import annotations

import logging
import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_2025_spark.functions.graphann import (
    beam_search,
    knn_graph_from_candidates,
)

DIM = 8


def _vec(i: int) -> list[float]:
    # deterministic unit-ish vectors with planted cluster structure:
    # nodes i and i+100 share a direction (near-neighbors)
    base = [math.sin(0.7 * (i % 100) + j) for j in range(DIM)]
    n = math.sqrt(sum(x * x for x in base))
    return [x / n for x in base]


def _cos(a, b):
    return sum(x * y for x, y in zip(a, b))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _vec(i)) for i in range(200)]
    return spark.createDataFrame(
        rows, "vec_id long, emb array<double>"
    ).cache()


def _all_pairs(spark, n):
    return spark.createDataFrame(
        [(a, b) for a in range(n) for b in range(a + 1, n)],
        "id_a long, id_b long",
    )


def test_knn_graph_matches_python_model(spark, corpus):
    """With ALL pairs as candidates, each node's pre-symmetrization
    top-k must be the exact k nearest by (cos desc, id); after
    symmetrization every kept edge appears in both directions and no
    node exceeds the degree cap."""
    k = 4
    g = knn_graph_from_candidates(
        corpus, _all_pairs(spark, 200), k=k
    ).collect()
    edges = {(r["src"], r["dst"]): r["cos"] for r in g}
    # degree cap, and REAL symmetry: the reverse edge must be present
    # unless the destination already sits at its degree cap (the only
    # legal reason _symmetrize_cap may trim a direction)
    from collections import Counter

    deg = Counter(s for s, _ in edges)
    assert max(deg.values()) <= 2 * k
    for s, d in edges:
        assert (d, s) in edges or deg[d] == 2 * k, (s, d, deg[d])
    # model check: node 0's top-k neighbors must all be present as
    # out-edges (the cap only trims BEYOND the k originals, which
    # sort first for the source that chose them)
    vecs = {i: _vec(i) for i in range(200)}
    want = sorted(
        ((-_cos(vecs[0], vecs[j]), j) for j in range(1, 200))
    )[:k]
    got0 = {d for s, d in edges if s == 0}
    assert {j for _, j in want} <= got0


def test_beam_search_exact_on_full_graph(spark, corpus):
    """On the exact k-NN graph with a generous beam, greedy search
    from fixed entries must find the true top-k for every query —
    the navigability property symmetrization exists for."""
    g = knn_graph_from_candidates(corpus, _all_pairs(spark, 200), k=6)
    queries = spark.createDataFrame(
        [(100 + i, _vec(7 * i + 3)) for i in range(5)],
        "qid long, qvec array<double>",
    )
    got = beam_search(
        g, corpus, queries, k=5, beam=24, max_hops=12
    ).collect()
    vecs = {i: _vec(i) for i in range(200)}
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rk"], r["vec_id"]))
    for i in range(5):
        qv = _vec(7 * i + 3)
        want = [
            j
            for _, j in sorted(
                ((-round(_cos(qv, vecs[j]), 12), j) for j in range(200))
            )[:5]
        ]
        rows = sorted(by_q[100 + i])
        assert [n for _, n in rows] == want, (i, rows, want)


def test_beam_search_recall_on_fixture_corpus(spark, sf_dir):
    """End-to-end on the embeddings fixture: LSH-candidate graph +
    beam search, recall@10 vs the brute-force top-10 pinned at the
    measured floor (the graph path trades exactness for touching a
    vanishing fraction of the corpus; the pin catches construction
    or search regressions)."""
    from cdc_2025_spark.io import read_table
    from cdc_2025_spark.queries.similarity import lsh_pairs

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    cand = lsh_pairs(spark, sf_dir, threshold=-1.0).filter(
        (F.col("id_a") >= 10) & (F.col("id_b") >= 10)
    )
    g = knn_graph_from_candidates(corpus, cand, k=8)
    got = beam_search(g, corpus, queries, k=10, beam=32, max_hops=8)
    ann = {}
    for r in got.collect():
        ann.setdefault(r["qid"], set()).add(r["vec_id"])
    # brute-force ground truth
    from cdc_2025_spark.functions.embeddings import cosine

    w = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    )
    truth_rows = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .select("qid", "vec_id", cosine("qvec", "emb").alias("cos"))
        .withColumn("rk", w)
        .filter(F.col("rk") <= 10)
        .collect()
    )
    truth = {}
    for r in truth_rows:
        truth.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [
        len(ann[q] & truth[q]) / 10 for q in truth
    ]
    mean_recall = sum(recalls) / len(recalls)
    # measured 1.0 on the fixture; pin with margin for geometry drift
    assert mean_recall >= 0.7, (mean_recall, recalls)


def test_beam_search_deterministic(spark, corpus):
    g = knn_graph_from_candidates(corpus, _all_pairs(spark, 200), k=4)
    queries = spark.createDataFrame(
        [(1, _vec(42))], "qid long, qvec array<double>"
    )
    a = sorted(map(tuple, beam_search(g, corpus, queries, 5).collect()))
    b = sorted(map(tuple, beam_search(g, corpus, queries, 5).collect()))
    assert a == b


def test_guards(spark, corpus):
    import pytest as pt

    with pt.raises(ValueError, match="k must be"):
        knn_graph_from_candidates(corpus, _all_pairs(spark, 5), k=0)
    queries = spark.createDataFrame(
        [(1, _vec(1))], "qid long, qvec array<double>"
    )
    g = knn_graph_from_candidates(corpus, _all_pairs(spark, 20), k=2)
    with pt.raises(ValueError, match="beam >= k"):
        beam_search(g, corpus, queries, k=5, beam=3)


def test_exact_builder_equals_candidate_builder_on_all_pairs(
    spark, corpus
):
    """knn_graph_exact (broadcast matmul) must produce the identical
    edge set as knn_graph_from_candidates fed ALL pairs — same k,
    same tiebreaks, same symmetrize/cap stage."""
    from cdc_2025_spark.functions.graphann import knn_graph_exact

    a = {
        (r["src"], r["dst"])
        for r in knn_graph_exact(corpus, k=4).collect()
    }
    b = {
        (r["src"], r["dst"])
        for r in knn_graph_from_candidates(
            corpus, _all_pairs(spark, 200), k=4
        ).collect()
    }
    assert a == b


def test_blocked_builder_recall_on_fixture(spark, sf_dir):
    """knn_graph_blocked (the 100 TB build path: quantizer cells +
    per-cell matmul + 2-way multi-assignment) must yield a graph the
    beam search navigates to high recall vs brute force — forced here
    on the fixture corpus where the query's budget gate would pick
    the exact builder."""
    from cdc_2025_spark.functions.graphann import knn_graph_blocked
    from cdc_2025_spark.io import read_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    g = knn_graph_blocked(corpus, k=8, cell_target=64)
    got = beam_search(g, corpus, queries, k=10, beam=32, max_hops=8)
    ann = {}
    for r in got.collect():
        ann.setdefault(r["qid"], set()).add(r["vec_id"])
    from cdc_2025_spark.functions.embeddings import cosine

    w = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    )
    truth = {}
    for r in (
        F.broadcast(queries)
        .crossJoin(corpus)
        .select("qid", "vec_id", cosine("qvec", "emb").alias("cos"))
        .withColumn("rk", w)
        .filter(F.col("rk") <= 10)
        .collect()
    ):
        truth.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(ann[q] & truth[q]) / 10 for q in truth]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, (mean_recall, recalls)


def test_zero_norm_vectors_excluded_by_every_builder(spark):
    """A zero vector has undefined cosine: all three builders must
    exclude it from the graph identically (otherwise the query's
    budget gate would change which vectors carry edges)."""
    from cdc_2025_spark.functions.graphann import (
        knn_graph_blocked,
        knn_graph_exact,
    )

    rows = [(i, _vec(i)) for i in range(20)] + [(99, [0.0] * DIM)]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    cand = spark.createDataFrame(
        [(a, b) for a in [i for i, _ in rows]
         for b in [j for j, _ in rows] if a < b],
        "id_a long, id_b long",
    )
    for g in (
        knn_graph_exact(df, k=3),
        knn_graph_from_candidates(df, cand, k=3),
        knn_graph_blocked(df, k=3, cell_target=8),
    ):
        touched = {
            x for r in g.select("src", "dst").collect() for x in r
        }
        assert 99 not in touched
    a = {(r["src"], r["dst"]) for r in knn_graph_exact(df, k=3).collect()}
    b = {
        (r["src"], r["dst"])
        for r in knn_graph_from_candidates(df, cand, k=3).collect()
    }
    assert a == b


def test_registered_config_recall_and_hop_batch_monotone(spark, sf_dir):
    """The REGISTERED query config (exact build, beam 32, max_hops 8,
    hop_batch 3): recall@10 vs brute force pinned at the measured
    floor (1.00 at sf0.01/sf0.1 — pinned at 0.9 for geometry drift),
    and hop_batch determinism (two runs identical)."""
    from cdc_2025_spark.functions.graphann import (
        beam_search,
        knn_graph_exact,
    )
    from cdc_2025_spark.io import read_table
    from cdc_2025_spark.functions.embeddings import cosine

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    g = knn_graph_exact(corpus, k=8).localCheckpoint()

    def run():
        return beam_search(
            g, corpus, queries, k=10, beam=32, max_hops=8, hop_batch=3
        )

    rows = run().collect()
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, run().collect())
    )
    ann = {}
    for r in rows:
        ann.setdefault(r["qid"], set()).add(r["vec_id"])
    w = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    )
    truth_rows = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .select("qid", "vec_id", cosine("qvec", "emb").alias("cos"))
        .withColumn("rk", w)
        .filter(F.col("rk") <= 10)
        .collect()
    )
    truth = {}
    for r in truth_rows:
        truth.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(ann[q] & truth[q]) / 10 for q in truth]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_train_fraction_validation_and_fallback(spark, corpus, caplog):
    """train_fraction outside (0, 1] raises; a fraction whose sample
    would undershoot 10x the cell count falls back to full-corpus
    training (same graph as the default)."""
    import pytest

    from cdc_2025_spark.functions.graphann import knn_graph_blocked

    with pytest.raises(ValueError, match="train_fraction"):
        knn_graph_blocked(corpus, k=4, train_fraction=0.0)
    with pytest.raises(ValueError, match="train_fraction"):
        knn_graph_blocked(corpus, k=4, train_fraction=1.5)
    # 200-vector fixture, cell_target=64 -> ~4 cells; frac 0.05 gives
    # a 10-row sample < 10*4 -> fallback to the exact full-train path
    base = sorted(
        (r["src"], r["dst"])
        for r in knn_graph_blocked(
            corpus, k=4, cell_target=64
        ).collect()
    )
    with caplog.at_level(logging.WARNING, "cdc_2025_spark.functions.graphann"):
        fb = sorted(
            (r["src"], r["dst"])
            for r in knn_graph_blocked(
                corpus, k=4, cell_target=64, train_fraction=0.05
            ).collect()
        )
    assert base == fb
    # the fallback is loud
    [rec] = caplog.records
    assert rec.levelno == logging.WARNING
    assert "full corpus" in rec.getMessage()
