"""Dedup accuracy tests: the hash-based families (MinHash-LSH,
SimHash) are measured against exact ground truth; exact dedup
semantics pinned on literal frames (SURVEY.md §5.3).
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from cdc_2025_spark.dedup import (
    containment_pairs,
    exact_dedup,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
    simhash_pairs,
)
from cdc_2025_spark.dedup.exact import content_key, vocab_key
from cdc_2025_spark.io import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").cache()


def test_exact_dedup_literal(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same after normalization
            (3, "something else"),
            (4, "HELLO WORLD "),
        ],
        "doc_id long, text string",
    )
    groups = exact_dup_groups(df, "doc_id", content_key("text")).collect()
    sizes = sorted(g["n_docs"] for g in groups)
    assert sizes == [1, 3]
    canon = {g["n_docs"]: g["canonical_id"] for g in groups}
    assert canon[3] == 1  # min id survives

    kept = exact_dedup(df, "doc_id", content_key("text"))
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_vocab_key_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "b a c"), (2, "c b a"), (3, "a b c d")],
        "doc_id long, text string",
    )
    groups = exact_dup_groups(df, "doc_id", vocab_key("text")).collect()
    assert sorted(g["n_docs"] for g in groups) == [1, 2]


def test_minhash_lsh_recall_and_precision(docs):
    """LSH output must be a subset of exact pairs (precision 1.0 by
    construction) with high recall at the configured S-curve."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.35).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, k=3, threshold=0.35).collect()
    }
    assert approx <= exact
    if exact:
        recall = len(approx & exact) / len(exact)
        # threshold 0.35 sits below the (16x8) S-curve midpoint ~0.71;
        # low-J pairs may be missed, but the corpus's near-dups are
        # high-J so observed recall should be solid
        assert recall >= 0.5, f"recall {recall:.2f} over {len(exact)} pairs"


def test_minhash_md5_km_family_recall_and_precision(docs):
    """The md5_km family (Kirsch-Mitzenmacher signatures from md5
    halves — the oracle-checkable variant the registered query uses)
    must satisfy the same contract as the xxhash64 default: subset of
    exact pairs, solid recall at the S-curve. The hash family changes
    WHICH borderline candidates band together, never the exactness of
    verification."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.35).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, k=3, threshold=0.35, family="md5_km"
        ).collect()
    }
    assert approx <= exact
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.5, f"recall {recall:.2f} over {len(exact)} pairs"


def test_jaccard_max_doc_freq_prunes_stop_shingles(spark):
    """The df cap must actually drop ubiquitous shingles before the
    inverted-index self-join: docs that overlap ONLY through a
    stop-shingle (df > cap) must not pair, while genuinely similar
    pairs survive. This pins the guard the registered queries pass
    (queries/dedup.py JACCARD_MAX_DF) — without it one common shingle
    makes the self-join quadratic in corpus size."""
    boiler = "terms of service apply"
    rows = [(i, f"unique body {i} alpha {boiler}") for i in range(20)]
    # one true near-dup pair sharing real content
    rows += [
        (100, "the quick brown fox jumps over the lazy dog " + boiler),
        (101, "the quick brown fox jumps over the lazy dog today " + boiler),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.2).collect()
    }
    capped_pairs = ngram_jaccard_pairs(
        docs, k=3, threshold=0.2, max_doc_freq=5
    )
    capped = {(r["id_a"], r["id_b"]) for r in capped_pairs.collect()}
    # uncapped: 190 boilerplate-shingle pairs + the real near-dup
    assert (100, 101) in uncapped and len(uncapped) > 100
    # capped: ONLY the real near-dup pair survives
    assert capped == {(100, 101)}
    # the pruning is in the PLAN: the df-cap filter join appears
    plan = capped_pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "df#" in plan


def test_minhash_deterministic(docs):
    a = sorted(
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    )
    b = sorted(
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    )
    assert a == b


def test_oph_signature_accuracy_on_long_docs(spark):
    """One-permutation hashing + optimal densification
    (family='oph') in its target regime (|shingle set| ~ 1500 ≥
    8·n_hashes): the per-pair Jaccard estimate from signature
    agreement must be AT LEAST as accurate as the independent
    128-hash family's, at 1/128th the per-shingle hash work.
    Deterministic: fixed docs, fixed hash families."""
    from cdc_2025_spark.dedup.minhash import minhash_signatures, shingle_sets

    vocab = [f"w{i:04d}" for i in range(5000)]

    def mkdoc(start: int, n: int) -> str:
        return " ".join(vocab[(start + j) % 5000] for j in range(n))

    n_words = 1500
    rows, pairs, did = [], [], 0
    for shift in (50, 150, 400, 700, 1000, 1300):
        rows.append((did, mkdoc(0, n_words)))
        rows.append((did + 1, mkdoc(shift, n_words)))
        pairs.append((did, did + 1))
        did += 2
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = shingle_sets(docs_df, "doc_id", "text", 5)
    sh = {r["id"]: set(r["sh"]) for r in sets.collect()}
    exact = {
        p: len(sh[p[0]] & sh[p[1]]) / len(sh[p[0]] | sh[p[1]])
        for p in pairs
    }

    def mean_err(family: str) -> float:
        sig = {
            r["id"]: r["signature"]
            for r in minhash_signatures(docs_df, family=family).collect()
        }
        errs = [
            abs(
                sum(x == y for x, y in zip(sig[a], sig[b])) / 128
                - exact[(a, b)]
            )
            for a, b in pairs
        ]
        return sum(errs) / len(errs)

    e_ind, e_oph = mean_err("xxhash64"), mean_err("oph")
    assert e_oph <= e_ind + 1e-9, (e_oph, e_ind)
    assert e_oph < 0.05  # absolute sanity floor
    # measured on these fixed docs: 0.0105 vs 0.0271 — keep a margin
    # so hash-family tweaks that genuinely degrade accuracy fail here


def test_oph_banding_and_verification_unchanged(docs):
    """family='oph' slots into minhash_lsh_pairs with the banding and
    exact-Jaccard verification stages untouched: output pairs are
    exact-verified (precision 1.0 vs brute-force shingle Jaccard)."""
    from itertools import combinations

    from cdc_2025_spark.dedup.minhash import minhash_lsh_pairs, shingle_sets

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, family="oph").collect()
    }
    sets = {
        r["id"]: set(r["sh"])
        for r in shingle_sets(docs, "doc_id", "text", 5).collect()
    }
    truth = {}
    for a, b in combinations(sorted(sets), 2):
        u = len(sets[a] | sets[b])
        if u:
            j = len(sets[a] & sets[b]) / u
            if j >= 0.5:
                truth[(a, b)] = j
    # exact verification: every reported pair is a true pair with the
    # exact Jaccard value (LSH recall may drop pairs, never adds)
    for pair, j in got.items():
        assert pair in truth and abs(j - truth[pair]) < 1e-9, pair
    # the corpus's near-dups are high-J, well above the 16x8 S-curve
    # midpoint ~0.71 — OPH banding should find most of them
    assert truth and len(got) / len(truth) >= 0.5


def test_oph_md5_signature_matches_python_model(spark):
    """The oracle-checkable oph_md5 family equals an independent
    python fold of the same construction — md5 shingle keys, 63-bit
    value hi*(2^31-1)+lo, mod-128 binning, per-bin min, optimal
    densification with the 60-bit md5("i_j") donor hash and lowest-j
    tiebreak — so the Spark plan and the DuckDB oracle cannot share
    a common bug."""
    import hashlib
    import re

    from cdc_2025_spark.dedup.minhash import minhash_signatures

    n = 128
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta iota"),
        (2, "one two"),  # shorter than k: single whole-doc shingle
        (3, " ".join(f"w{i % 700}" for i in range(1500))),  # long doc
    ]

    def py_sig(text: str) -> list[int]:
        w = re.split(r"\s+", text.strip().lower())
        k = 5
        if len(w) <= k:
            keys = [" ".join(w)]
        else:
            keys = [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]
        hexes = {
            hashlib.md5(s.encode()).hexdigest()[:16] for s in keys
        }
        bins: dict[int, int] = {}
        for hx in hexes:
            v = int(hx[:8], 16) * 2147483647 + int(hx[8:16], 16)
            b = v % n
            bins[b] = min(bins.get(b, v), v)
        sig = []
        nonempty = sorted(bins)
        for i in range(n):
            if i in bins:
                sig.append(bins[i])
                continue
            donor = min(
                nonempty,
                key=lambda j: (
                    int(
                        hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:15],
                        16,
                    ),
                    j,
                ),
            )
            sig.append(bins[donor])
        return sig

    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: list(r["signature"])
        for r in minhash_signatures(docs_df, family="oph_md5").collect()
    }
    for did, text in rows:
        assert got[did] == py_sig(text), f"doc {did}"


def test_oph_md5_seed_is_rejected(docs):
    import pytest

    from cdc_2025_spark.dedup.minhash import minhash_signatures

    with pytest.raises(ValueError, match="seed-free"):
        minhash_signatures(docs, family="oph_md5", seed=7)


def test_md5_km_seed_is_rejected(docs):
    """md5_km signatures are seed-free; a non-default seed must raise
    instead of silently returning identical output."""
    import pytest

    from cdc_2025_spark.dedup.minhash import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    with pytest.raises(ValueError, match="seed-free"):
        minhash_signatures(docs, family="md5_km", seed=7)
    with pytest.raises(ValueError, match="seed-free"):
        minhash_lsh_pairs(docs, family="md5_km", seed=7)
    # xxhash64 stays seeded: different seeds, different signatures
    s42 = minhash_signatures(docs, seed=42).collect()
    s43 = minhash_signatures(docs, seed=43).collect()
    assert {tuple(r.signature) for r in s42} != {
        tuple(r.signature) for r in s43
    }


def test_connected_components_vs_union_find(spark):
    """Min-label propagation vs a sequential union-find on graphs
    with chains, stars, and singleton-free isolated pairs."""
    from cdc_2025_spark.dedup import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> comp 1
        (10, 11), (10, 12), (10, 13),    # star -> comp 10
        (20, 21),                        # pair -> comp 20
        (4, 1),                          # cycle back into the chain
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["comp"] for r in connected_components(df).collect()
    }

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want
    assert got[4] == 1 and got[13] == 10 and got[21] == 20


def test_prefix_filter_matches_inverted_index(docs):
    """Prefix filtering is candidate-COMPLETE (SSJoin lemma): the two
    exact paths must return the identical pair set with identical
    jaccard values, at more than one threshold."""
    for t in (0.35, 0.6):
        want = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, k=3, threshold=t).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in prefix_jaccard_pairs(docs, k=3, threshold=t).collect()
        }
        assert set(got) == set(want), f"pair set differs at t={t}"
        for p, j in got.items():
            assert abs(j - want[p]) < 1e-12


def test_prefix_filter_prunes_candidates(spark):
    """The prefix join must generate FEWER candidate comparisons than
    the full inverted index on a boilerplate-heavy corpus: docs whose
    only shared shingles are common boilerplate never meet, because
    high-df shingles sort out of every prefix at high thresholds."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"distinct body text {i} {boiler}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # at t=0.7 nothing qualifies; exactness already covered above —
    # here we pin that the prefix path emits zero VERIFIED pairs and
    # agrees with the inverted index
    got = prefix_jaccard_pairs(docs, k=3, threshold=0.7).collect()
    want = ngram_jaccard_pairs(docs, k=3, threshold=0.7).collect()
    assert got == [] and want == []


def test_prefix_length_float_safe(spark):
    """The prefix length must equal n - ceil_exact(t*n) + 1 under
    EXACT rational arithmetic for thresholds whose double product
    rounds one ulp high at integral points (0.35*20 ->
    7.000000000000001 would overshoot a bare ceil and drop a prefix
    element)."""
    import math
    from fractions import Fraction

    from cdc_2025_spark.dedup.prefix import prefix_length

    ns = list(range(1, 201))
    df = spark.createDataFrame([(n,) for n in ns], "n int")
    # 0.07*100 = 7.000000000000001 in doubles — the one-ulp-high case
    for t in (0.35, 0.5, 0.2, 0.7, 0.05, 0.65, 0.07):
        got = {
            r["n"]: r["p"]
            for r in df.select(
                "n", prefix_length("n", t).alias("p")
            ).collect()
        }
        for n in ns:
            exact = n - math.ceil(Fraction(str(t)) * n) + 1
            assert got[n] == exact, (t, n, got[n], exact)


def test_connected_components_raises_when_unconverged(spark):
    """A 6-chain needs ~5 propagation rounds; max_iter=2 must raise
    rather than silently return half-merged components."""
    from cdc_2025_spark.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 7)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2, driver_edge_budget=0)
    # and a sufficient budget converges to a single component
    got = {
        r["comp"]
        for r in connected_components(
            df, max_iter=10, driver_edge_budget=0
        ).collect()
    }
    assert got == {1}


def test_star_contraction_matches_label_propagation(spark):
    """Large-star/small-star must produce the same components as
    label propagation on chains, stars, cycles, and a pseudo-random
    graph."""
    import random

    from cdc_2025_spark.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(1, 8)]            # chain
    edges += [(20, x) for x in range(21, 26)]            # star
    edges += [(30, 31), (31, 32), (32, 30)]              # cycle
    edges += [
        (rng.randrange(40, 80), rng.randrange(40, 80)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    lp = {
        r["id"]: r["comp"]
        for r in connected_components(
            df, max_iter=100, driver_edge_budget=0
        ).collect()
    }
    st = {r["id"]: r["comp"] for r in connected_components_star(df).collect()}
    assert st == lp


def test_star_contraction_handles_long_chains(spark):
    """The O(log d) property in practice: a 120-node chain converges
    within the default star round budget, where label propagation's
    default budget (25 rounds) correctly refuses."""
    from cdc_2025_spark.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(1, 120)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r["comp"] for r in connected_components_star(df).collect()}
    assert got == {1}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=25, driver_edge_budget=0)


def test_simhash_pairs_symmetric_bounds(docs):
    pairs = simhash_pairs(docs, max_distance=6).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0 <= r["hamming"] <= 6


def test_simhash_exactness_of_banding(spark):
    """Banded candidate generation must find ALL pairs within the
    distance bound (pigeonhole) — verify against brute force on a
    small slice."""
    docs = spark.createDataFrame(
        [
            (1, "spark query engine fast scan"),
            (2, "spark query engine fast scan"),  # identical -> dist 0
            (3, "spark query engine slow scan"),
            (4, "completely different words entirely here"),
        ],
        "doc_id long, text string",
    )
    from cdc_2025_spark.dedup.simhash import simhash

    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", simhash("text").alias("fp")).collect()
    }
    want = set()
    ids = sorted(fps)
    for i in ids:
        for j in ids:
            if i < j and bin(fps[i] ^ fps[j]).count("1") <= 6:
                want.add((i, j))
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, max_distance=6).collect()
    }
    assert got == want
    assert (1, 2) in got  # identical docs always pair


def test_embedding_neardup_decision_invariants(spark, sf_dir):
    """keep/drop decision table: canonical is a min-id cluster member,
    every vector appears exactly once, dropped rows point at a kept
    canonical, and keeps + drops partition the input."""
    from cdc_2025_spark.queries.dedup import dedup_embedding_neardup

    out = dedup_embedding_neardup(spark, sf_dir).toPandas()
    n_vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    )
    assert len(out) == n_vecs
    assert out["vec_id"].is_unique
    # canonical is never a larger id (min-survivor contract)
    assert (out["canonical_id"] <= out["vec_id"]).all()
    assert (out["keep"] == (out["vec_id"] == out["canonical_id"])).all()
    # every canonical id referenced by a dropped row is itself kept
    kept = set(out.loc[out["keep"], "vec_id"])
    dropped_canon = set(out.loc[~out["keep"], "canonical_id"])
    assert dropped_canon <= kept


def test_embedding_neardup_lsh_equals_exact_at_full_recall(spark, sf_dir):
    """The scale path (LSH candidate edges -> same decision contract)
    must produce the IDENTICAL decision table as the exact all-pairs
    audit twin when the banding geometry has recall 1.0 on the
    fixture (16 planes / 16 one-bit bands: every fixture edge at
    cos >= 0.42 lands in a shared bucket — measured, and deterministic
    because the hyperplanes are compile-time constants)."""
    from cdc_2025_spark.queries.dedup import (
        dedup_embedding_neardup,
        embedding_neardup_lsh,
    )

    exact = {
        tuple(r)
        for r in dedup_embedding_neardup(spark, sf_dir).collect()
    }
    lsh = {
        tuple(r)
        for r in embedding_neardup_lsh(
            spark, sf_dir, n_planes=16, n_bands=16
        ).collect()
    }
    assert lsh == exact


def test_embedding_neardup_lsh_registered_invariants(spark, sf_dir):
    """The registered 16/4-geometry variant keeps the decision-table
    contract even where banding recall < 1: one row per vector,
    min-survivor canonicals, dropped rows point at kept canonicals,
    and its edge set is a SUBSET of the exact twin's (LSH candidates
    are exact-verified, so no false merges — only possibly missed
    ones)."""
    from cdc_2025_spark.queries.dedup import (
        dedup_embedding_neardup,
        dedup_embedding_neardup_lsh,
    )

    out = dedup_embedding_neardup_lsh(spark, sf_dir).toPandas()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(out) == n_vecs
    assert out["vec_id"].is_unique
    assert (out["canonical_id"] <= out["vec_id"]).all()
    assert (out["keep"] == (out["vec_id"] == out["canonical_id"])).all()
    kept = set(out.loc[out["keep"], "vec_id"])
    assert set(out.loc[~out["keep"], "canonical_id"]) <= kept
    # precision-1.0 guarantee: LSH edges are exact-verified, so any
    # vector the LSH form drops has a true edge to a smaller id and
    # must be dropped by the exact form too (canonical ids may differ
    # when a missed edge splits a cluster, so compare drop sets)
    exact = dedup_embedding_neardup(spark, sf_dir).toPandas()
    assert set(out.loc[~out["keep"], "vec_id"]) <= set(
        exact.loc[~exact["keep"], "vec_id"]
    )


def test_shared_jaccard_pair_index_is_reused(spark, sf_dir):
    """The three Jaccard consumers must pay for shingling + the
    inverted-index self-join once per (session, sf_dir): the shared
    builder returns the SAME persisted DataFrame on every call."""
    from cdc_2025_spark.queries.dedup import _shared_jaccard_pairs

    a = _shared_jaccard_pairs(spark, sf_dir)
    b = _shared_jaccard_pairs(spark, sf_dir)
    assert a is b
    assert a.storageLevel.useMemory  # persisted, not rebuilt per call


def test_repeated_spans_hash_key_equals_string_key(spark, sf_dir):
    """dedup_repeated_spans aggregates on xxhash64(span) (8-byte
    shuffle key) with the span recovered via a min() exemplar — its
    output must be bit-identical to the straightforward string-keyed
    aggregate, and the hashed key must actually be in the plan."""
    from cdc_2025_spark.functions.text import shingles
    from cdc_2025_spark.io import read_table
    from cdc_2025_spark.queries.dedup import (
        SPAN_K,
        SPAN_MIN_DOCS,
        dedup_repeated_spans,
    )

    got_df = dedup_repeated_spans(spark, sf_dir)
    plan = got_df._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64(span" in plan  # the aggregate key, not a literal

    sp = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(shingles("text", SPAN_K)).alias("span")
    )
    ref = (
        sp.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
    )
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want and len(got) > 0


def test_simhash_md5_matches_python_model(spark):
    """The md5 bit-source variant (the oracle-checkable one the
    registered query uses) must reproduce a pure-Python simhash model
    exactly: md5-derived 64-bit token hash, +1/-1 bit sums,
    two's-complement fingerprint — and its banded pairs must equal
    brute force over the model fingerprints."""
    import hashlib
    import re

    from cdc_2025_spark.dedup.simhash import (
        simhash_fingerprints,
        simhash_pairs,
    )

    rows = [
        (1, "spark query engine fast scan"),
        (2, "spark query engine fast scan"),
        (3, "spark query engine slow scan"),
        (4, "completely different words entirely here"),
        (5, "Der Hund und die Katze"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def py_fp(text: str) -> int:
        toks = re.split(r"\s+", text.strip().lower())
        sums = [0] * 64
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            h = (int(hx[:8], 16) << 32) | int(hx[8:16], 16)
            for p in range(64):
                sums[p] += 1 if (h >> p) & 1 else -1
        fp = 0
        for p in range(64):
            if sums[p] > 0:
                fp += (1 << p) if p < 63 else -(1 << 63)
        return fp

    want_fps = {i: py_fp(t) for i, t in rows}
    got_fps = {
        r["id"]: r["fp"]
        for r in simhash_fingerprints(docs, hash_fn="md5").collect()
    }
    assert got_fps == want_fps

    want_pairs = {
        (i, j)
        for i in want_fps
        for j in want_fps
        if i < j and bin((want_fps[i] ^ want_fps[j]) & ((1 << 64) - 1)).count("1") <= 6
    }
    got_pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, max_distance=6, hash_fn="md5").collect()
    }
    assert got_pairs == want_pairs
    assert (1, 2) in got_pairs


def test_remove_repeated_spans_literal(spark):
    """Span removal on a hand-computed frame: a shared 5-token span is
    excised everywhere except its global-first (min (doc_id, pos))
    occurrence; short whole-text-span docs dedup to the first copy;
    untouched docs pass through with n_removed=0."""
    import os
    import tempfile

    from cdc_2025_spark.queries.dedup import dedup_remove_repeated_spans

    rows = [
        (1, "a b c d e x y", "en", "s", 1),
        (2, "z z a b c d e q", "en", "s", 1),  # shares "a b c d e"
        (3, "m n o", "en", "s", 1),            # whole-text span x3
        (4, "m n o", "en", "s", 1),
        (5, "m n o", "en", "s", 1),
        (6, "totally unrelated words here now", "en", "s", 1),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
            for r in dedup_remove_repeated_spans(spark, d).collect()
        }
    assert got[1] == (7, 0, "a b c d e x y")  # canonical occurrence kept
    assert got[2] == (8, 5, "z z q")          # span excised mid-document
    assert got[3] == (3, 0, "m n o")          # first short copy survives
    assert got[4] == (3, 3, "")               # later copies fully removed
    assert got[5] == (3, 3, "")
    assert got[6] == (5, 0, "totally unrelated words here now")


def test_remove_repeated_spans_corpus_invariants(spark, sf_dir):
    """On the fixture corpus: per-document accounting is exact
    (n_tokens - n_removed = clean token count), removal actually
    fires, and every removed-token count is a whole number of
    non-overlapping-or-merged span positions (0 <= n_removed <=
    n_tokens)."""
    from cdc_2025_spark.functions.text import token_count
    from cdc_2025_spark.queries.dedup import dedup_remove_repeated_spans

    out = dedup_remove_repeated_spans(spark, sf_dir).withColumn(
        "clean_n", token_count("clean_text")
    )
    rows = out.collect()
    assert len(rows) == 500
    assert any(r["n_removed"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_removed"] <= r["n_tokens"]
        assert r["n_tokens"] - r["n_removed"] == r["clean_n"], r


def test_semdedup_k1_matches_python_model(spark):
    """With k=1 the cluster geometry is trivial (single cell, centroid
    = global mean after the first Lloyd iteration), so SemDeDup must
    reproduce an exact pure-python model: all-pairs cosine >=
    threshold, union-find components, canonical = argmin
    (centroid_cosine, id) per component — the paper's
    keep-farthest-from-centroid rule with the deterministic tiebreak.
    A zero vector must stay a kept singleton (pairs with nothing)."""
    import math
    import os
    import tempfile

    from cdc_2025_spark.queries.dedup import semdedup

    vecs = {
        1: [1.0, 0.0, 0.0],
        2: [0.99, 0.1, 0.0],   # near-dup of 1
        3: [0.0, 1.0, 0.0],
        4: [0.05, 0.99, 0.0],  # near-dup of 3
        5: [-1.0, -1.0, 5.0],  # far from everything
        6: [0.0, 0.0, 0.0],    # zero norm: no pairs, kept
    }
    thr = 0.9
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
        got = {
            r["vec_id"]: (r["canonical_id"], r["keep"])
            for r in semdedup(spark, d, k=1, threshold=thr).collect()
        }
        # the expression assignment backend must agree exactly
        got_expr = {
            r["vec_id"]: (r["canonical_id"], r["keep"])
            for r in semdedup(
                spark, d, k=1, threshold=thr, assign="expr"
            ).collect()
        }
        assert got_expr == got

    # python model (float32 inputs, like the parquet round-trip)
    import numpy as np

    ids = sorted(vecs)
    arr = np.asarray(
        [vecs[i] for i in ids], dtype=np.float32
    ).astype(np.float64)
    centroid = arr.mean(axis=0)

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b / (na * nb)) if na > 0 and nb > 0 else None

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            c = cos(arr[ai], arr[bi])
            if c is not None and c >= thr:
                ra, rb = find(ids[ai]), find(ids[bi])
                parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for i in ids:
        comps.setdefault(find(i), []).append(i)
    want = {}
    for members in comps.values():
        cent_cos = {
            i: (cos(arr[ids.index(i)], centroid) or 0.0) for i in members
        }
        canonical = min(members, key=lambda i: (cent_cos[i], i))
        for i in members:
            want[i] = (canonical, i == canonical)
    assert got == want
    # the fixture exercises real merges and the keep rule
    assert math.isclose(
        cos(arr[0], arr[1]), 0.995, abs_tol=0.005
    ) and not (got[1][1] and got[2][1])
    assert got[6] == (6, True)


def test_semdedup_corpus_invariants(spark, sf_dir):
    """Fixture corpus: exactly one kept survivor per canonical group;
    canonicals map to themselves; and because SemDeDup only compares
    within a cluster, its edge set is a subset of the exact all-pairs
    graph — so it keeps AT LEAST as many vectors as exact near-dup
    dedup at the same threshold (computed with numpy ground truth)."""
    import numpy as np

    from cdc_2025_spark.io import read_table
    from cdc_2025_spark.queries.dedup import (
        NEARDUP_COS_THRESHOLD,
        semdedup,
    )

    rows = semdedup(spark, sf_dir).collect()
    by_canon: dict[int, list] = {}
    for r in rows:
        by_canon.setdefault(r["canonical_id"], []).append(r)
    for canon, members in by_canon.items():
        keeps = [m for m in members if m["keep"]]
        assert len(keeps) == 1 and keeps[0]["vec_id"] == canon

    raw = read_table(spark, sf_dir, "embeddings").collect()
    ids = [r["vec_id"] for r in raw]
    arr = np.asarray([r["embedding"] for r in raw], dtype=np.float64)
    nrm = np.linalg.norm(arr, axis=1)
    safe = np.where(nrm == 0, 1.0, nrm)
    cosm = (arr / safe[:, None]) @ (arr / safe[:, None]).T
    cosm[nrm == 0, :] = -1
    cosm[:, nrm == 0] = -1
    np.fill_diagonal(cosm, -1)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    ai, bi = np.nonzero(np.triu(cosm >= NEARDUP_COS_THRESHOLD))
    for a, b in zip(ai, bi):
        ra, rb = find(ids[a]), find(ids[b])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exact_kept = len({find(i) for i in ids})
    sem_kept = sum(r["keep"] for r in rows)
    assert sem_kept >= exact_kept > 0


def test_semdedup_giant_cell_guard_bounds_pair_space(spark):
    """Skewed fixture: 200 of 242 vectors pile into one tight blob
    while the other 42 sit in 7 far-apart clusters, so with k=8
    Lloyd parks 7 centroids on the spread clusters and ONE cell
    holds all 200 blob members (>> the 4·n/k ≈ 124 cap) — the
    unguarded candidate space is 200² = 40000. The guard must
    re-cluster that cell one level down so sum(|cell|²) over the
    FINAL pair-join key stays <= cap·n and beats the unguarded
    space — and the decision-table invariants (exactly one kept
    survivor per canonical) must still hold on the relabeled
    cells."""
    import os
    import tempfile

    import numpy as np

    from cdc_2025_spark.queries.dedup import (
        _semdedup_assign,
        _semdedup_quantizer,
        semdedup,
    )

    rng = np.random.default_rng(7)
    cold_centers = np.eye(8)[:7] * 1000.0
    cold = np.concatenate(
        [c + rng.normal(0, 1, size=(6, 8)) for c in cold_centers]
    )
    hot = rng.normal(loc=10.0, scale=0.3, size=(200, 8))
    # lowest_id init seeds from the first k ids — lay out one
    # representative per cold cluster then a hot point so the init
    # matches the natural geometry and the blob stays one cell
    pts = [cold[i * 6] for i in range(7)] + [hot[0]]
    pts += list(hot[1:]) + [
        cold[i * 6 + j] for i in range(7) for j in range(1, 6)
    ]
    vecs = np.asarray(pts)
    k, n_iter = 8, 3
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [
                (i, [float(x) for x in vecs[i]], 0)
                for i in range(len(vecs))
            ],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.parquet(
            os.path.join(d, "embeddings.parquet")
        )
        _cents, sub, cap = _semdedup_quantizer(
            spark, d, k, n_iter, "numpy"
        )
        assert sub, "guard did not trigger on the skewed fixture"
        assigned, _top, _lit = _semdedup_assign(
            spark, d, k, n_iter, "numpy"
        )
        sizes = [
            r["count"] for r in assigned.groupBy("cell").count().collect()
        ]
        n = sum(sizes)
        assert n == 242
        pair_space = sum(s * s for s in sizes)
        assert pair_space <= cap * n, (pair_space, cap, n)
        assert pair_space < 200 * 200  # beats the unguarded space
        # end-to-end decision table still coherent on composite cells
        rows = semdedup(spark, d, k=k, n_iter=n_iter).collect()
        assert len(rows) == 242
        by_canon: dict[int, list] = {}
        for r in rows:
            by_canon.setdefault(r["canonical_id"], []).append(r)
        for canon, members in by_canon.items():
            keeps = [m for m in members if m["keep"]]
            assert len(keeps) == 1 and keeps[0]["vec_id"] == canon


def test_pipeline_accounting_literal_stages(spark):
    """Stage ledger on a hand-built corpus: docs 1/2 are vocab-dups
    (word-order permutation -> exact stage drops 2, keeps 1), docs
    3/4 share enough shingles to be minhash near-dups but differ in
    vocab (survive stage 1, stage 2 drops 4), doc 5 is unique. The
    near-dup stage must see only stage-1 survivors."""
    import os
    import tempfile

    from cdc_2025_spark.queries.dedup import dedup_pipeline_accounting

    shared = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, "one two three four five", "en", "s", 1),
        (2, "five four three two one", "en", "s", 1),  # vocab dup of 1
        (3, shared, "en", "s", 1),
        # append-one-token near-dup of 3: shingle Jaccard ~0.9, far
        # above the 16x8 S-curve midpoint. The md5_km signature
        # family's slots share argmin elements, so recall here is a
        # deterministic function of the appended token's hash — 'zz'
        # is a verified-found draw ('kappa', 1 of 8 probed tokens,
        # happens to dominate doc 4's signature and is missed; the
        # same-seed determinism that makes the oracle possible makes
        # this stable, not flaky)
        (4, shared + " zz", "en", "s", 1),
        (5, "totally different content here now", "en", "s", 1),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["stage"]: (r["n_in"], r["n_dropped"], r["n_out"])
            for r in dedup_pipeline_accounting(spark, d).collect()
        }
    assert got["raw"] == (5, 0, 5)
    assert got["exact_vocab"] == (5, 1, 4)   # doc 2 dropped
    assert got["minhash_lsh"] == (4, 1, 3)   # doc 4 dropped


def test_cc_driver_path_equals_labelprop(spark):
    """The union-find fast path and distributed label propagation
    must produce the identical (id, comp) table — chains, stars,
    singleton-free graphs, and the budget-boundary fallback."""
    from cdc_2025_spark.dedup.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)]           # chain -> comp 1
        + [(10, 11), (10, 12), (10, 13)]   # star  -> comp 10
        + [(20, 21)],                      # pair  -> comp 20
        "id_a long, id_b long",
    )
    fast = {
        (r["id"], r["comp"])
        for r in connected_components(edges).collect()
    }
    dist = {
        (r["id"], r["comp"])
        for r in connected_components(
            edges, driver_edge_budget=0
        ).collect()
    }
    assert fast == dist
    assert fast == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
    }
    # over-budget graphs fall back to the distributed path (same
    # output; exercised by setting the budget below the edge count)
    tight = {
        (r["id"], r["comp"])
        for r in connected_components(
            edges, driver_edge_budget=3
        ).collect()
    }
    assert tight == fast


def test_cc_schema_independent_of_path_and_string_ids(spark):
    """r8 ADVICE: the fast path used to cast ids to long while the
    distributed path preserved the input type — output schema
    depended on edge count, and string ids NULLed out (ANSI: threw)
    on the fast path. Pin: integral ids yield `long` on BOTH paths;
    string ids work and keep their type (always distributed)."""
    from cdc_2025_spark.dedup.cluster import connected_components

    ints = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    fast = connected_components(ints)
    dist = connected_components(ints, driver_edge_budget=0)
    assert fast.schema == dist.schema
    assert [f.dataType.simpleString() for f in fast.schema] == [
        "bigint", "bigint",
    ]
    assert {tuple(r) for r in fast.collect()} == {
        tuple(r) for r in dist.collect()
    }

    strs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    got = {
        (r["id"], r["comp"]) for r in connected_components(strs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }
    assert connected_components(strs).schema[0].dataType.simpleString() == (
        "string"
    )


def test_bbit_estimator_accuracy_and_km_failure(spark, sf_dir):
    """b-bit estimates must track exact Jaccard within the Li-König
    variance envelope on the fixture candidates (measured mean |err|
    0.014 / max 0.07 at b=4, n=128 — pinned with slack), and the
    structural-correlation failure that motivates the independent
    universal-hash family must stay demonstrable: b-bit counting
    over Kirsch-Mitzenmacher affine signatures mis-estimates
    near-disjoint candidate pairs by an order of magnitude more."""
    from cdc_2025_spark.dedup.minhash import minhash_signatures
    from cdc_2025_spark.queries.dedup import (
        dedup_minhash_bbit_estimates,
    )

    rows = dedup_minhash_bbit_estimates(spark, sf_dir).collect()
    assert len(rows) > 50
    errs = [abs(r["jaccard_exact"] - r["jaccard_bbit"]) for r in rows]
    assert sum(errs) / len(errs) <= 0.05, sum(errs) / len(errs)
    assert max(errs) <= 0.2, max(errs)

    # the KM-affine failure mode (why BBIT_COEFFS exists): count
    # mod-16 matches over md5_km signatures for the LOW-J candidate
    # pairs — the correlated family wildly overestimates
    sig = {
        r["id"]: r["signature"]
        for r in minhash_signatures(
            read_docs(spark, sf_dir), k=3, family="md5_km"
        ).collect()
    }
    low_j = [r for r in rows if r["jaccard_exact"] < 0.05][:20]
    assert low_j, "fixture lost its low-J banding flukes"
    km_est = []
    for r in low_j:
        a, b = sig[r["id_a"]], sig[r["id_b"]]
        match = sum(x % 16 == y % 16 for x, y in zip(a, b)) / 128
        km_est.append(max(0.0, (match - 1 / 16) / (1 - 1 / 16)))
    km_err = sum(
        abs(e - r["jaccard_exact"]) for e, r in zip(km_est, low_j)
    ) / len(low_j)
    bbit_err = sum(
        abs(r["jaccard_bbit"] - r["jaccard_exact"]) for r in low_j
    ) / len(low_j)
    assert km_err > 10 * bbit_err, (km_err, bbit_err)


def read_docs(spark, sf_dir):
    from cdc_2025_spark.io import read_table

    return read_table(spark, sf_dir, "documents")


def test_ngram_novelty_literal_corpus(spark):
    """Novelty on a literal corpus: a fully-duplicated doc scores 0
    (every shingle shared), a fully-unique doc scores 1, a doc
    sharing exactly half its shingles scores in between — checked
    against hand-counted shingle dfs."""
    import os
    import tempfile

    from cdc_2025_spark.queries.dedup import text_ngram_novelty

    rows = [
        (1, "a b c d e", "en", "s", 1),   # shingles: abc bcd cde
        (2, "a b c d e", "en", "s", 1),   # exact dup of 1 -> novelty 0
        (3, "a b c q r s t", "en", "s", 1),  # shares abc only
        (4, "u v w x y", "en", "s", 1),   # fully unique -> novelty 1
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_unique"], r["novelty"])
            for r in text_ngram_novelty(spark, d).collect()
        }
    # doc 3 shingles: abc, bcq, cqr, qrs, rst -> abc has df 3, rest df 1
    assert got[1] == (3, 0, 0.0)
    assert got[2] == (3, 0, 0.0)
    assert got[3] == (5, 4, 0.8)
    assert got[4] == (3, 3, 1.0)


def test_cluster_canonical_keep_longest(spark):
    """Survivor selection: exactly one keep per cluster; the kept doc
    is the LONGEST (n_chars) with doc_id-asc tiebreak; singletons
    always keep; cluster_n counts every member."""
    import os
    import tempfile

    from cdc_2025_spark.queries.dedup import dedup_cluster_canonical_docs

    rows = [
        # near-dup trio (same text -> jaccard 1.0), lengths 10 < 30 = 30
        (1, "p q r s t u v w", "en", "s", 10),
        (2, "p q r s t u v w", "en", "s", 30),
        (3, "p q r s t u v w", "en", "s", 30),
        # singleton
        (4, "alpha beta gamma delta words", "en", "s", 28),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (r["comp"], r["cluster_n"], r["keep"])
            for r in dedup_cluster_canonical_docs(spark, d).collect()
        }
    assert got[1] == (1, 3, False)   # shortest loses despite min id
    assert got[2] == (1, 3, True)    # longest, smaller id than 3
    assert got[3] == (1, 3, False)
    assert got[4] == (4, 1, True)    # singleton keeps
    assert sum(1 for _, (_, _, k) in got.items() if k) == 2


def test_containment_catches_superset_jaccard_misses(spark):
    """A short doc quoted wholesale inside a much longer one has
    containment 1.0 but Jaccard far below the pairing threshold —
    the exact asymmetry the containment operator exists for."""
    short = "alpha beta gamma delta epsilon"
    tail = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, short),
            (2, short + " " + tail),
            (3, "unrelated words entirely different content here"),
        ],
        "doc_id long, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, k=3, threshold=0.5).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.35).collect()
    }
    assert cont[(1, 2)] == 1.0  # every shingle of 1 appears in 2
    assert (1, 2) not in jac  # union dominated by the long side
    assert (1, 3) not in cont and (2, 3) not in cont
    # containment >= jaccard pointwise on any pair set
    all_jac = ngram_jaccard_pairs(docs, k=3, threshold=0.0).collect()
    all_cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, k=3, threshold=0.0).collect()
    }
    for r in all_jac:
        assert all_cont[(r["id_a"], r["id_b"])] >= r["jaccard"]


def test_leakage_free_split_keeps_neardup_pairs_together(spark):
    """Every near-dup pair must land in one split — including pairs
    whose DOC-keyed md5 buckets differ (the leakage case a naive
    per-doc split gets wrong)."""
    import hashlib

    from unittest import mock

    from cdc_2025_spark.queries.dedup import sample_leakage_free_split

    def doc_bucket(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10

    # two ids whose doc-keyed buckets straddle the train/val boundary
    a = next(i for i in range(100) if doc_bucket(i) < 8)
    b = next(i for i in range(100) if doc_bucket(i) >= 8)
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (a, shared),
            (b, shared + " iota"),
            (max(a, b) + 1, "completely different content over here"),
        ],
        "doc_id long, text string",
    )
    # a corpus name of its own: the session's pair and component
    # artifacts are keyed on it, so no other test's corpus is served
    with mock.patch(
        "cdc_2025_spark.queries.dedup.read_table", return_value=docs
    ):
        out = {
            r["doc_id"]: r
            for r in sample_leakage_free_split(
                spark, "leakage-split-fixture"
            ).collect()
        }
    assert doc_bucket(a) < 8 <= doc_bucket(b)  # naive split separates
    assert out[a]["split"] == out[b]["split"]  # cluster split does not
    assert out[a]["comp"] == out[b]["comp"] == min(a, b)
    assert len(out) == 3


def test_snapshot_diff_verdicts_literal(spark):
    """snapshot_diff classification on literal frames: added (new
    only), removed (old only), changed (key differs), unchanged —
    and whitespace/case drift is NOT a change (normalized key)."""
    from cdc_2025_spark.dedup.exact import content_key, snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gone now"), (3, "old body")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "  ALPHA   beta "), (3, "new body"), (4, "brand new")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(
            old, new, "doc_id", content_key("text")
        ).collect()
    }
    assert got == {1: "unchanged", 2: "removed", 3: "changed", 4: "added"}


def test_shared_caches_remark_persist_after_external_clearcache(
    spark, sf_dir
):
    """catalog.clearCache() (the bench runs it between queries)
    erases persist INTENT, not just blocks — the session-shared
    handles must re-assert persist on retrieval or every later
    consumer silently recomputes the index per action (measured
    ~10 s of the 91-query bench before the fix)."""
    from cdc_2025_spark.queries.dedup import (
        _shared_jaccard_components,
        _shared_jaccard_pairs,
    )

    a = _shared_jaccard_pairs(spark, sf_dir)
    c = _shared_jaccard_components(spark, sf_dir)
    a.count(), c.count()
    spark.catalog.clearCache()
    assert not a.storageLevel.useMemory  # intent dropped externally
    b = _shared_jaccard_pairs(spark, sf_dir)
    d = _shared_jaccard_components(spark, sf_dir)
    assert b is a and d is c  # same handles
    assert b.storageLevel.useMemory and d.storageLevel.useMemory


def test_cc_filtering_reduction_matches_driver_union_find(spark, caplog):
    """Round-10: over-budget integral graphs take the FILTERING path
    (partition-local star forests -> single-task vectorized SV
    labels). Pin exact equality with the driver union-find on a
    graph mixing long chains, dense cliques, singleton pairs, and a
    self-loop-only vertex — across (a) the single-task finish, (b) a
    forced multi-round reduction, and (c) the star fallback when the
    reduction is disallowed from finishing."""
    import cdc_2025_spark.dedup.cluster as cl

    edges = []
    # long chain 0..199
    edges += [(i, i + 1) for i in range(199)]
    # dense clique on 1000..1019
    edges += [
        (a, b)
        for a in range(1000, 1020)
        for b in range(a + 1, 1020)
    ]
    # scattered pairs
    edges += [(5000 + 10 * i, 5001 + 10 * i) for i in range(50)]
    # self-loop-only vertex
    edges += [(9999, 9999)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    expect = {
        (r["id"], r["comp"])
        for r in cl.connected_components(df).collect()  # driver UF
    }
    assert (9999, 9999) in expect

    # (a) single-task finish: budget below edge count, edges fit a task
    caplog.set_level(logging.WARNING, cl.__name__)
    got = {
        (r["id"], r["comp"])
        for r in cl.connected_components(
            df, driver_edge_budget=10
        ).collect()
    }
    assert got == expect
    assert not caplog.records

    # (b) forced multi-round reduction: shrink task capacity so the
    # first passes cannot finish single-task
    orig = cl.FOREST_EDGES_PER_TASK
    try:
        cl.FOREST_EDGES_PER_TASK = 40
        got = {
            (r["id"], r["comp"])
            for r in cl.connected_components(
                df, driver_edge_budget=10, fallback="star"
            ).collect()
        }
        # shrinking below 40 forest edges per task is impossible
        # globally (forest ~300 edges) -> the reduction stalls and
        # the star-fallback-on-reduced branch runs (star, because
        # label propagation on the 200-chain would — correctly —
        # exhaust max_iter). Star has never emitted self-loop-only
        # vertices (it filters u != v, on original and reduced edges
        # alike), so that vertex is the one allowed difference.
        assert got == expect - {(9999, 9999)}
    finally:
        cl.FOREST_EDGES_PER_TASK = orig
    # the degraded path says so through the module logger
    [rec] = caplog.records
    assert rec.levelno == logging.WARNING
    assert "edges left" in rec.getMessage() and "star fallback" in rec.getMessage()
    caplog.clear()

    # (c) label_prop fallback with reduction stalled: falls back to
    # the ORIGINAL edge set (diameter posture) — same labels. Uses a
    # SHALLOW graph: label propagation on a 200-long chain would
    # (correctly, by contract) exhaust max_iter.
    shallow = spark.createDataFrame(
        [(h, h + i) for h in (0, 100, 200) for i in range(1, 30)],
        "id_a long, id_b long",
    )
    expect_shallow = {
        (r["id"], r["comp"])
        for r in cl.connected_components(shallow).collect()
    }
    try:
        cl.FOREST_EDGES_PER_TASK = 10
        got = {
            (r["id"], r["comp"])
            for r in cl.connected_components(
                shallow, driver_edge_budget=5, fallback="label_prop"
            ).collect()
        }
        assert got == expect_shallow
    finally:
        cl.FOREST_EDGES_PER_TASK = orig
    [rec] = caplog.records
    assert "label_prop fallback" in rec.getMessage()


def test_spanning_forest_reduce_preserves_components(spark):
    """The filtering pass drops only cycle edges: components of the
    reduced edge set equal components of the input, and the reduced
    set is never larger."""
    import random

    import cdc_2025_spark.dedup.cluster as cl

    rng = random.Random(7)
    edges = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(3000)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    reduced = cl._spanning_forest_reduce(df, len(edges))
    n_red = reduced.count()
    assert n_red <= len(edges)
    orig = {
        (r["id"], r["comp"])
        for r in cl.connected_components(
            df, "src", "dst"
        ).collect()
    }
    red = {
        (r["id"], r["comp"])
        for r in cl.connected_components(
            reduced, "src", "dst"
        ).collect()
    }
    assert red == orig


def test_shared_minhash_pairs_cache_posture(spark, sf_dir):
    """The md5-KM minhash pair index shares the _shared_jaccard_pairs
    posture: one handle per (session, corpus), persist intent
    re-asserted after an external clearCache, and subset restriction
    equals direct subset computation (subset stability — the
    full-chain ledger's correctness rests on it)."""
    from cdc_2025_spark.queries.dedup import (
        JACCARD_K,
        JACCARD_THRESHOLD,
        _shared_minhash_pairs,
    )

    a = _shared_minhash_pairs(spark, sf_dir)
    a.count()
    spark.catalog.clearCache()
    assert not a.storageLevel.useMemory
    b = _shared_minhash_pairs(spark, sf_dir)
    assert b is a
    assert b.storageLevel.useMemory
    # subset stability: restricting the full-corpus index == computing
    # over the subset directly
    from cdc_2025_spark.dedup.minhash import minhash_lsh_pairs
    from cdc_2025_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    sub = docs.filter((F.col("doc_id") % 3) == 0).select("doc_id", "text")
    ids_a = sub.select(F.col("doc_id").alias("id_a"))
    ids_b = sub.select(F.col("doc_id").alias("id_b"))
    via_index = {
        (r["id_a"], r["id_b"])
        for r in b.join(ids_a, "id_a", "left_semi")
        .join(ids_b, "id_b", "left_semi")
        .select("id_a", "id_b")
        .collect()
    }
    direct = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            sub, k=JACCARD_K, threshold=JACCARD_THRESHOLD, family="md5_km"
        )
        .select("id_a", "id_b")
        .collect()
    }
    assert via_index == direct


def test_ledger_gram_window_matches_shingle_sets(spark):
    """The full-ledger decontam grams (one window pass over the kept
    token stream, whole-doc row when the (k-1)-lead is null at rn=1)
    must equal shingle_sets() over the rebuilt clean_text — the r16
    restructure's contract. Fixture hits every branch: n > k, n == k,
    n < k (1 and 2 tokens), duplicated shingles within a doc, and
    multi-space text (split-on-\\s+)."""
    from pyspark.sql import Window

    from cdc_2025_spark.dedup.minhash import shingle_sets
    from cdc_2025_spark.functions.text import tokens

    k = 3
    rows = [
        (1, "a b c d e a b c"),       # n > k, repeated gram
        (2, "x  y   z"),              # n == k, multi-space
        (3, "solo"),                  # n == 1
        (4, "two toks"),              # n == 2
        (5, "p q r s"),               # n == k + 1
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias(
            "pos", "tok"
        ),
    )
    wo = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(wo) for i in range(1, k)]
    sel = toks.select(
        "doc_id",
        F.concat_ws(" ", F.col("tok"), *leads).alias("s"),
        leads[-1].alias("_lk"),
        F.row_number().over(wo).alias("_rn"),
    )
    got = {
        (r["doc_id"], r["shingle"])
        for r in sel.filter(
            F.col("_lk").isNotNull()
            | ((F.col("_rn") == 1) & F.col("_lk").isNull())
        )
        .select("doc_id", F.xxhash64("s").alias("shingle"))
        .distinct()
        .collect()
    }
    want = {
        (r["id"], sh)
        for r in shingle_sets(docs, "doc_id", "text", k).collect()
        for sh in r["sh"]
    }
    assert got == want
