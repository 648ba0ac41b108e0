"""Dedup queries over the documents table, one per family
(exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding-cosine).

Every family carries a DuckDB oracle. The hash-based ones use
engine-portable constructions for their registered queries: SimHash
derives its bit source from md5 (dedup/simhash.py) and MinHash uses
Kirsch-Mitzenmacher signatures over the two md5 halves
(dedup/minhash.py family="md5_km"), so fingerprints, signatures, LSH
candidate sets, and verification all hash-match. The cheaper
xxhash64 family remains the library default for corpus scale and is
validated against exact ground truth in tests/test_dedup.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.dedup import (
    containment_pairs,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
    simhash_pairs,
)
from cdc_2025_spark.dedup.exact import vocab_key
from cdc_2025_spark.io import read_table, table_stamp
from cdc_2025_spark.queries.registry import query
from cdc_2025_spark.session import artifact

JACCARD_K = 3
JACCARD_THRESHOLD = 0.35
# Stop-shingle guard: the inverted-index self-join is quadratic in
# per-shingle document frequency, so the registered queries always
# pass a df cap — one ubiquitous shingle must not turn the pairing
# into a cross join at corpus scale. 1000 is far above the testdata
# max df (25 at sf0.1), so oracle results are bit-identical while the
# pruning operator stays pinned in the plan (test_dedup.py pins the
# actual pruning on a synthetic stop-shingle corpus).
JACCARD_MAX_DF = 1000

# Shared exact-pair index: dedup_ngram_jaccard_pairs,
# dedup_jaccard_clusters and dedup_incremental_new_docs all consume
# the SAME (k, threshold, df-cap) pair set, so a pipeline that runs
# more than one of them should pay for shingling + the inverted-index
# self-join once. persist() is lazy, so a single-query run pays
# nothing extra.
def _shared_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return ngram_jaccard_pairs(
            docs,
            k=JACCARD_K,
            threshold=JACCARD_THRESHOLD,
            max_doc_freq=JACCARD_MAX_DF,
        ).persist()

    key = ("jaccard_pairs", sf_dir, JACCARD_K, JACCARD_THRESHOLD,
           JACCARD_MAX_DF, table_stamp(sf_dir, "documents"))
    return artifact(spark, key, build)


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared md5-KM MinHash+LSH pair index over the FULL
    documents table (id_a, id_b, jaccard). Consumers needing pairs
    over a SUBSET of documents restrict it with semi-joins: every
    stage of the pipeline is subset-stable (shingle sets and
    signatures are per-doc functions, banding has no corpus-dependent
    pruning, and verification is exact per pair), so pairs(S) ==
    pairs(full) ∩ S×S exactly — the full-chain ledger's oracle
    recomputes over the subset and hash-matches."""

    def build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return minhash_lsh_pairs(
            docs, k=JACCARD_K, threshold=JACCARD_THRESHOLD, family="md5_km"
        ).persist()

    key = ("minhash_pairs", sf_dir, JACCARD_K, JACCARD_THRESHOLD,
           table_stamp(sf_dir, "documents"))
    return artifact(spark, key, build)


def _shared_jaccard_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected-component labels (id, comp) over the shared exact-
    Jaccard pair set — a session artifact like the pair set itself,
    because three registered queries (clusters, canonical docs,
    leakage-free split) consume the SAME labels and label
    propagation is the expensive iterative step (measured ~4 s per
    invocation at sf0.1)."""
    from cdc_2025_spark.dedup.cluster import connected_components

    key = ("jaccard_components", sf_dir, JACCARD_K, JACCARD_THRESHOLD,
           JACCARD_MAX_DF, table_stamp(sf_dir, "documents"))
    return artifact(
        spark,
        key,
        lambda: connected_components(
            _shared_jaccard_pairs(spark, sf_dir)
        ).persist(),
    )


@query(
    "dedup_exact_vocab_groups",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(
             string_split_regex(trim(lower(text)), '\\s+'))), ' '))
               AS content_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_vocab_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on the normalized-vocabulary key (sorted
    distinct token set): group size + canonical min-id survivor.
    One map-side-hashed shuffle; zero skew (hash keys)."""
    docs = read_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id", vocab_key("text"))


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) <= {JACCARD_K}
               THEN [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+{JACCARD_K - 1}], ' ')
                     for i in range(1, len(ws) - {JACCARD_K} + 2)]
               END) AS sh
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
               AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs via the inverted-index
    self-join (dedup/jaccard.py). The oracle brute-forces the same
    measure over the document cross product — identical result set,
    quadratic cost (fine at oracle scale, exactly what the inverted
    index avoids at engine scale)."""
    out = _shared_jaccard_pairs(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "dedup_prefix_jaccard_pairs",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) <= {JACCARD_K}
               THEN [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+{JACCARD_K - 1}], ' ')
                     for i in range(1, len(ws) - {JACCARD_K} + 2)]
               END) AS sh
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
               AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact pair set as dedup_ngram_jaccard_pairs, computed via
    df-ordered PREFIX filtering (dedup/prefix.py, Bayardo WWW'07): the
    self-join touches only each set's rarest (1-t)-fraction prefix, so
    candidate fan-out is bounded by rare-shingle df instead of the
    corpus's most common phrase. Identical brute-force oracle — the
    two exact paths must agree bit-for-bit."""
    docs = read_table(spark, sf_dir, "documents")
    out = prefix_jaccard_pairs(
        docs, k=JACCARD_K, threshold=JACCARD_THRESHOLD
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


CONTAINMENT_THRESHOLD = 0.5


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) <= {JACCARD_K}
               THEN [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+{JACCARD_K - 1}], ' ')
                     for i in range(1, len(ws) - {JACCARD_K} + 2)]
               END) AS sh
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 LEAST(len(a.sh), len(b.sh)), 4) AS containment
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          LEAST(len(a.sh), len(b.sh)) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset pairs by shingle CONTAINMENT — |A∩B| / min(|A|,|B|)
    — the asymmetric measure that catches a short document quoted
    wholesale inside a long one, which Jaccard misses because the
    union is dominated by the long side (Broder's resemblance-vs-
    containment distinction, SEQUENCES'97). Same inverted-index engine
    as the Jaccard pass (dedup/jaccard.py), same df cap; only the
    final scalar differs. The oracle brute-forces the measure over the
    document cross product."""
    docs = read_table(spark, sf_dir, "documents")
    out = containment_pairs(
        docs,
        k=JACCARD_K,
        threshold=CONTAINMENT_THRESHOLD,
        max_doc_freq=JACCARD_MAX_DF,
    )
    return out.select(
        "id_a", "id_b", F.round("containment", 4).alias("containment")
    )


_JACCARD_SETS_SQL = f"""
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) <= {JACCARD_K}
               THEN [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+{JACCARD_K - 1}], ' ')
                     for i in range(1, len(ws) - {JACCARD_K} + 2)]
               END) AS sh
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= {JACCARD_THRESHOLD}
    )
"""


@query(
    "dedup_jaccard_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_SETS_SQL},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a)
    SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(id) AS BIGINT) AS canonical_id
    FROM comp GROUP BY comp
    """,
)
def dedup_jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the exact-Jaccard
    pair edges (dedup/cluster.py min-label propagation), one row per
    cluster with size + canonical min-id survivor. The oracle computes
    the same closure with a recursive CTE — feasible at oracle scale,
    which is exactly why the engine uses label propagation instead."""
    cc = _shared_jaccard_components(spark, sf_dir)
    # same rollup as dedup/cluster.py dup_clusters, over the shared
    # session-cached labels
    return cc.groupBy("comp").agg(
        F.count("*").alias("n_docs"),
        F.min("id").alias("canonical_id"),
    )


INCREMENTAL_SPLIT_ID = 200


@query(
    "dedup_incremental_new_docs",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) <= {JACCARD_K}
               THEN [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+{JACCARD_K - 1}], ' ')
                     for i in range(1, len(ws) - {JACCARD_K} + 2)]
               END) AS sh
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents)
    ),
    old AS (SELECT * FROM sets WHERE doc_id < {INCREMENTAL_SPLIT_ID}),
    new AS (SELECT * FROM sets WHERE doc_id >= {INCREMENTAL_SPLIT_ID})
    SELECT DISTINCT new.doc_id AS doc_id, TRUE AS is_dup_of_corpus
    FROM new JOIN old
      ON len(list_intersect(new.sh, old.sh)) * 1.0 /
         (len(new.sh) + len(old.sh) - len(list_intersect(new.sh, old.sh)))
         >= {JACCARD_THRESHOLD}
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup: which docs of an incoming batch (doc_id >=
    split) near-duplicate the EXISTING corpus (doc_id < split)? The
    admission check a continuously-ingested training corpus runs per
    batch — only the batch is new work; the corpus side is the
    pre-built shingle index.

    Shape: the full exact pair set (inverted index, df-capped, shared
    + persisted via _shared_jaccard_pairs) is filtered to
    cross-boundary pairs and semi-reduced to distinct new ids — at
    deployment scale the same filter-join runs against a persisted
    corpus index, cost proportional to the batch, not the corpus. The
    oracle brute-forces the asymmetric cross product.
    """
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    # pairs have id_a < id_b, so a cross-boundary pair always has the
    # new doc on the id_b side
    crossing = pairs.filter(
        (F.col("id_a") < INCREMENTAL_SPLIT_ID)
        & (F.col("id_b") >= INCREMENTAL_SPLIT_ID)
    )
    return (
        crossing.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup_of_corpus", F.lit(True))
    )


BLOOM_TARGET_FPR = 0.01


@query(
    "dedup_incremental_bloom_prefilter",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), '\\s+'))), ' '))
               AS key
      FROM documents
    )
    SELECT b.doc_id,
           EXISTS(SELECT 1 FROM k c
                  WHERE c.doc_id < {INCREMENTAL_SPLIT_ID}
                    AND c.key = b.key) AS is_dup_of_corpus
    FROM k b WHERE b.doc_id >= {INCREMENTAL_SPLIT_ID}
    """,
)
def dedup_incremental_bloom_prefilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-time EXACT-key dedup with a Bloom-filter prefilter: for
    every batch document (doc_id >= {INCREMENTAL_SPLIT_ID}), does its
    normalized-vocabulary key already exist in the corpus
    (doc_id < {INCREMENTAL_SPLIT_ID})?

    The corpus keys build a distributed Bloom bitmap
    (dedup/bloom.py — one bit_or aggregate, m/64 longs); the batch
    probes it, and ONLY probe-positive candidates pay the exact
    verification semi-join. Probe-negatives are definitely new (no
    false negatives by construction), false positives die in
    verification — so the OUTPUT is exact and the DuckDB oracle is
    the plain corpus-key EXISTS, while the plan carries the 100 TB
    shape: the membership join the brute-force form runs over the
    whole batch is pruned to the Bloom-positive sliver (at the 1%
    sizing, ~dup_count + 1% of the batch), and the corpus never
    re-shuffles at probe time — the bitmap is the broadcastable
    summary (bloom_probe takes ``broadcast_bitmap=False`` for
    beyond-broadcast filter sizes). Filter geometry derives from the
    corpus count at plan construction — here one single-column
    count(doc_id < split) over the parquet scan (no keys are hashed
    for it); deployments that know their corpus size pass it to
    bloom_params directly, the lsh_pairs_auto posture."""
    from cdc_2025_spark.dedup.bloom import (
        bloom_build,
        bloom_params,
        bloom_probe,
    )

    docs = read_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", vocab_key("text").alias("key"))
    corpus = keyed.filter(F.col("doc_id") < INCREMENTAL_SPLIT_ID)
    batch = keyed.filter(F.col("doc_id") >= INCREMENTAL_SPLIT_ID)
    n_corpus = (
        docs.filter(F.col("doc_id") < INCREMENTAL_SPLIT_ID)
        .select("doc_id")
        .count()
    )
    # max(n, 1): an empty corpus partition still needs a (tiny)
    # valid geometry — every probe then misses and the batch is
    # all-new, instead of bloom_params raising on n_keys=0.
    m_bits, n_hashes = bloom_params(max(n_corpus, 1), BLOOM_TARGET_FPR)
    bitmap = bloom_build(corpus, "key", m_bits, n_hashes)
    cand = bloom_probe(bitmap, batch, "key", m_bits, n_hashes).filter(
        "might_contain"
    )
    dups = cand.join(
        corpus.select("key").distinct(), "key", "left_semi"
    ).select("doc_id", F.lit(True).alias("is_dup_of_corpus"))
    return batch.select("doc_id").join(dups, "doc_id", "left").select(
        "doc_id",
        F.coalesce("is_dup_of_corpus", F.lit(False)).alias(
            "is_dup_of_corpus"
        ),
    )


def _minhash_pairs_ctes(
    k: int,
    threshold: float,
    n_hashes: int = 128,
    n_bands: int = 16,
    docs_rel: str = "documents",
) -> str:
    """The md5_km MinHash+LSH pipeline as a reusable CTE chain ending
    in ``mh_pairs (id_a, id_b, jaccard)`` — embeddable after WITH in
    any oracle (``docs_rel`` selects the input relation, so staged
    pipelines can run it over a survivors CTE)."""
    r = n_hashes // n_bands
    sig_cols = ",\n             ".join(
        f"MIN(hi + {i} * lo) AS _s{i}" for i in range(n_hashes)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {j} AS band, array_to_string([{cols}], ',')"
        " AS bucket FROM sig".format(
            j=j, cols=", ".join(f"_s{j * r + i}" for i in range(r))
        )
        for j in range(n_bands)
    )
    return f"""ws AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM {docs_rel}
    ), sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) <= {k}
               THEN [substr(md5(array_to_string(w, ' ')), 1, 16)]
               ELSE [substr(md5(array_to_string(w[i:i+{k - 1}], ' ')), 1, 16)
                     for i in range(1, len(w) - {k} + 2)]
               END) AS s
      FROM ws
    ), hl AS (
      SELECT doc_id,
             CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS lo
      FROM (SELECT doc_id, unnest(s) AS hx FROM sh)
    ), sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hl GROUP BY doc_id
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.s, sb.s)) * 1.0
               / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
               AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    ), mh_pairs AS (
      SELECT id_a, id_b, jaccard FROM verified
      WHERE jaccard >= {threshold}
    )"""


def _minhash_oracle(
    k: int, threshold: float, n_hashes: int = 128, n_bands: int = 16
) -> str:
    """DuckDB SQL mirroring the FULL md5_km MinHash+LSH pipeline:
    k-shingles -> 16-hex md5 keys -> Kirsch-Mitzenmacher signatures
    min(hi + i*lo) -> banded bucket strings -> candidate pairs ->
    exact Jaccard verification. Every stage is integer/string exact,
    so the candidate set (not just the verified output) reproduces
    bit-for-bit; only the final Jaccard is float, and it divides two
    exact integer counts in both engines."""
    return f"""
    WITH {_minhash_pairs_ctes(k, threshold, n_hashes, n_bands)}
    SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard FROM mh_pairs
    """


@query(
    "dedup_minhash_lsh_pairs",
    oracle=_minhash_oracle(JACCARD_K, JACCARD_THRESHOLD),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH(16x8) candidates, exact-verified at the same
    threshold as the exact query — recall measured against it in
    tests/test_dedup.py.

    Uses the md5_km hash family (dedup/minhash.py): shingle keys are
    md5 hex prefixes and signatures are Kirsch-Mitzenmacher
    ``min(hi + i*lo)``, both reproducible in DuckDB — so the driver
    hash-matches the ENTIRE pipeline including the LSH candidate set
    (previously rows-only: xxhash64 has no DuckDB twin). The xxhash64
    family stays the library default for corpus scale (8-byte shingle
    keys and band buckets vs 16-char strings).

    Serves from the session-shared pair index (_shared_minhash_pairs)
    — the full-chain prep ledger restricts the same index to its
    survivors, so the signature/banding pipeline runs once per
    session, not once per consumer."""
    out = _shared_minhash_pairs(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _minhash_oph_oracle(
    k: int, threshold: float, n_hashes: int = 128, n_bands: int = 16
) -> str:
    """DuckDB SQL mirroring the FULL oph_md5 OPH+LSH pipeline:
    k-shingles -> 16-hex md5 keys -> one 63-bit shingle value
    hi*(2^31-1)+lo -> pmod binning into n_hashes bins -> per-bin min
    -> OPTIMAL densification (each empty bin i borrows from the
    non-empty bin j minimizing the 60-bit md5 hash of "i_j",
    lowest-j tiebreak — Shrivastava ICML'17) -> banded bucket
    strings -> candidate pairs -> exact Jaccard verification. Every
    stage is integer/string exact, so the candidate set reproduces
    bit-for-bit; only the final Jaccard divides two exact integer
    counts in both engines."""
    r = n_hashes // n_bands
    sig_cols = ",\n             ".join(
        f"MIN(CASE WHEN bin = {i} THEN val END) AS _s{i}"
        for i in range(n_hashes)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {j} AS band, array_to_string([{cols}], ',')"
        " AS bucket FROM sig".format(
            j=j, cols=", ".join(f"_s{j * r + i}" for i in range(r))
        )
        for j in range(n_bands)
    )
    return f"""
    WITH ws AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) <= {k}
               THEN [substr(md5(array_to_string(w, ' ')), 1, 16)]
               ELSE [substr(md5(array_to_string(w[i:i+{k - 1}], ' ')), 1, 16)
                     for i in range(1, len(w) - {k} + 2)]
               END) AS s
      FROM ws
    ), hv AS (
      SELECT doc_id,
             CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) * 2147483647
               + CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS v
      FROM (SELECT doc_id, unnest(s) AS hx FROM sh)
    ), binned AS (
      SELECT doc_id, v % {n_hashes} AS bin, MIN(v) AS mh
      FROM hv GROUP BY 1, 2
    ), grid AS (
      SELECT d.doc_id, g.bin
      FROM (SELECT DISTINCT doc_id FROM binned) d
      CROSS JOIN (SELECT unnest(generate_series(0, {n_hashes - 1}))
                  AS bin) g
    ), filled AS (
      SELECT grid.doc_id, grid.bin, binned.mh
      FROM grid LEFT JOIN binned USING (doc_id, bin)
    ), donor AS (
      SELECT f.doc_id, f.bin, b.mh,
             ROW_NUMBER() OVER (
               PARTITION BY f.doc_id, f.bin
               ORDER BY CAST(('0x' || substr(md5(
                   CAST(f.bin AS VARCHAR) || '_'
                     || CAST(b.bin AS VARCHAR)), 1, 15)) AS BIGINT),
                 b.bin
             ) AS rn
      FROM filled f JOIN binned b USING (doc_id)
      WHERE f.mh IS NULL
    ), sigv AS (
      SELECT doc_id, bin, mh AS val FROM filled WHERE mh IS NOT NULL
      UNION ALL
      SELECT doc_id, bin, mh AS val FROM donor WHERE rn = 1
    ), sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM sigv GROUP BY doc_id
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.s, sb.s)) * 1.0
               / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
               AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, ROUND(jaccard, 4) AS jaccard
    FROM verified WHERE jaccard >= {threshold}
    """


@query(
    "dedup_minhash_oph_pairs",
    oracle=_minhash_oph_oracle(JACCARD_K, JACCARD_THRESHOLD),
)
def dedup_minhash_oph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh_pairs with the one-permutation-hashing
    signature family (dedup/minhash.py family="oph_md5": ONE hash
    per shingle bucketed into 128 bins, empty bins filled by optimal
    densification, Shrivastava ICML'17) — the long-document scale
    path: 1 hash per shingle instead of 128 (or the md5_km family's
    2 md5 halves + 128 affine combinations).

    Hash-matched end to end against a DuckDB oracle (previously
    rows-only — converted r15 via the md5_km precedent): the oph_md5
    family derives the shingle value AND the densification donor
    choice from md5, so the oracle reproduces the whole pipeline —
    binning, per-bin mins, optimal densification, banding, candidate
    join, exact-Jaccard verify — bit-for-bit (_minhash_oph_oracle).
    The seeded-xxhash64 ``oph`` family stays the library's
    long-document scale default; the two are construction-identical
    (only the hash source swaps) and tests/test_dedup.py pins oph
    signature accuracy >= the independent 128-hash family's on long
    docs plus recall on the fixture corpus. Exact duplicates (J=1)
    collide in every band under any family, so the documents table's
    seeded dup groups guarantee non-empty output."""
    docs = read_table(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(
        docs, k=JACCARD_K, threshold=JACCARD_THRESHOLD, family="oph_md5"
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _simhash_oracle(max_distance: int) -> str:
    """DuckDB SQL mirroring the FULL md5-simhash pipeline: tokenize,
    64-bit token hash from the first 16 md5 hex chars (two 8-hex
    halves — BIGINT-safe in both engines), the 64 +1/-1 bit sums, the
    two's-complement fingerprint (bit-63 weight added LAST so every
    partial sum stays in BIGINT range), then brute-force
    bit_count(xor) <= d over all pairs. The banding in the Spark plan
    is pigeonhole-exact, so candidate generation needs no mirroring —
    brute force IS the semantics."""
    bit_sums = ",\n             ".join(
        "SUM(CASE WHEN ({src} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END)"
        " AS _b{p}".format(
            src="lo" if p < 32 else "hi", sh=p if p < 32 else p - 32, p=p
        )
        for p in range(64)
    )
    fp_terms = "\n           + ".join(
        f"(CASE WHEN _b{p} > 0 THEN CAST({w} AS BIGINT) ELSE 0 END)"
        for p, w in (
            (p, (1 << p) if p < 63 else "-9223372036854775807 - 1")
            for p in range(64)
        )
    )
    return f"""
    WITH tok AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ), th AS (
      SELECT id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo
      FROM tok
    ), bits AS (
      SELECT id,
             {bit_sums}
      FROM th GROUP BY id
    ), fp AS (
      SELECT id,
             CAST({fp_terms} AS BIGINT) AS fp
      FROM bits
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_distance}
    """


SIMHASH_MAX_DISTANCE = 6


@query("dedup_simhash_pairs", oracle=_simhash_oracle(SIMHASH_MAX_DISTANCE))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 pairs within Hamming distance 6 via banded chunks +
    exact Hamming filter.

    Uses the md5 bit source (dedup/simhash.py _token_hash) so the
    ENTIRE pipeline — tokenization, per-token 64-bit hash, bit sums,
    fingerprint, Hamming pairs — is hash-matched against a DuckDB
    oracle (previously rows-only: xxhash64 has no DuckDB twin).
    xxhash64 remains the default bit source for the library function
    (cheaper at corpus scale); the two variants are
    construction-identical and both exactness-tested vs brute force in
    tests/test_dedup.py."""
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_distance=SIMHASH_MAX_DISTANCE, hash_fn="md5")


# Embedding near-dup: cosine threshold chosen above the corpus's
# ~0.38 99.9th-percentile pairwise cosine so the edge set is a real
# near-dup graph (dozens of edges), not a clique.
NEARDUP_COS_THRESHOLD = 0.42

# Audit pair budget for the exact all-pairs twin: the gated sample
# admits ~√(2B) vectors, so the audited cross product stays ≤ ~B
# pairs at ANY corpus size. 2·500² keeps the derived pct ≥ 100 for
# n ≤ 707 — the whole sf0.01 oracle corpus (n=500) passes the gate,
# so the recursive-CTE closure output is unchanged where the driver
# checks it; beyond that the closure runs over a deterministic
# md5-bucket subcorpus (ungated vectors keep themselves).
NEARDUP_AUDIT_PAIR_BUDGET = 2 * 500 * 500
_NEARDUP_NUM = 100.0 * math.sqrt(NEARDUP_AUDIT_PAIR_BUDGET)


@query(
    "dedup_embedding_neardup",
    oracle=f"""
    WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM embeddings),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings, n
      WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100
            < LEAST(100.0, {_NEARDUP_NUM} / n.n)
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.emb, b.emb)
              >= {NEARDUP_COS_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, g.dst FROM reach r JOIN edges g ON r.b = g.src
    ),
    comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a)
    SELECT v.vec_id,
           CAST(COALESCE(c.comp, v.vec_id) AS BIGINT) AS canonical_id,
           (v.vec_id = COALESCE(c.comp, v.vec_id)) AS keep
    FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.id
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate dedup: the keep/drop DECISION
    table — every vector mapped to its cluster's canonical (min-id)
    survivor, ``keep`` false for the dropped near-dups.

    Completes the dedup-family set from the brief (exact / Jaccard /
    MinHash / SimHash / embedding-cosine). Pair generation here is the
    exact all-pairs form so the recursive-CTE oracle can pin the full
    closure — but the pair SOURCE is gated with the budget-derived
    md5-bucket sample (similarity.budget_gate, the same construction
    sim_pairs_above_threshold uses), so the audited cross product is
    bounded at ~NEARDUP_AUDIT_PAIR_BUDGET pairs at any corpus size:
    no registered plan is O(n²) in the corpus. The budget is sized so
    the whole sf0.01 oracle corpus passes the gate (pct ≥ 100 for
    n ≤ 707) — the oracle mirrors the gate in its ``e`` CTE and its
    checked output is unchanged there. At corpus scale the real
    decision table comes from swapping the pair source for the banded
    random-hyperplane LSH candidates exact-verified per candidate —
    registered as ``dedup_embedding_neardup_lsh`` below; this gated
    exact form is its AUDIT TWIN (equality on the fixture at a
    full-recall geometry is pinned in tests/test_dedup.py).
    Cosine runs JVM-side (zip_with/aggregate, no Python); components
    via min-label propagation (near-dup clusters are shallow).
    """
    from cdc_2025_spark.queries.similarity import budget_gate

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    gated = budget_gate(emb, NEARDUP_AUDIT_PAIR_BUDGET, cap_pct=100.0)
    # r15 optimization: the audited all-pairs cosine pass runs as ONE
    # Arrow-batched numpy task over the gated frame (the
    # _lsh_bucket_rerank construction from similarity.py: per-pair
    # sums are row-wise reductions over the fixed dim axis — never a
    # blocking-dependent BLAS matmul — chunked so memory stays
    # bounded), replacing the interpreted JVM lambda fold over the
    # crossJoin (measured 1.6 s -> ~0.2 s at sf0.1). Single-task is
    # the budget gate's OWN bound: rows <= ~sqrt(2*budget), pairs <=
    # budget at any corpus size — the same bounded-audit contract the
    # old plan had, minus the per-pair interpretation. Membership is
    # unchanged: zero-norm vectors pair with nothing, and the
    # smallest observed |cos - threshold| margin across all SFs is
    # 3.4e-05 — ten orders of magnitude above any summation-order
    # noise (the pairs carry no cosine values downstream, only
    # membership). Equality with the LSH scale path on the fixture
    # stays pinned in tests/test_dedup.py.
    pairs = _exact_pairs_numpy(gated, NEARDUP_COS_THRESHOLD)
    return _neardup_decision(emb.select("vec_id"), pairs)


def _exact_pairs_numpy(gated: DataFrame, threshold: float) -> DataFrame:
    """(id_a < id_b) pairs with cosine >= threshold over a BOUNDED
    (vec_id, emb) frame — all rows gather into one Arrow task (the
    caller's budget gate bounds the frame by contract), cosines come
    from chunked row-wise numpy reductions (deterministic: fixed
    reduction axis, id-sorted anchors, block size only changes how
    many pairs are materialized at once, never a value)."""

    def _pairs(batches):
        import numpy as np
        import pandas as pd

        ids_l, embs_l = [], []
        for pdf in batches:
            if len(pdf):
                ids_l.append(pdf["vec_id"].to_numpy())
                embs_l.append(np.stack(pdf["emb"].to_numpy()))
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
            }
        )
        if not ids_l:
            yield empty
            return
        ids = np.concatenate(ids_l)
        x = np.concatenate(embs_l).astype(np.float64, copy=False)
        order = np.argsort(ids, kind="stable")
        ids = ids[order].astype(np.int64)
        x = x[order]
        m = len(ids)
        if m < 2:
            yield empty
            return
        nrm = np.sqrt((x * x).sum(axis=1))
        chunk = 2_000_000
        rows_per_block = max(1, chunk // m)
        for i0 in range(0, m - 1, rows_per_block):
            ib = np.arange(i0, min(i0 + rows_per_block, m - 1))
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
                yield pd.DataFrame(
                    {"id_a": ids[ci[ok]], "id_b": ids[cj[ok]]}
                )

    return gated.repartition(1).mapInPandas(
        _pairs, "id_a long, id_b long"
    )


def _cell_pairs_numpy(cells: DataFrame, threshold: float) -> DataFrame:
    """(id_a < id_b) pairs with cosine >= threshold WITHIN each cell
    of a (cell, vec_id, emb) frame — one Arrow task per cell
    (applyInPandas on the cell key, the same shuffle the self-join
    paid), cosines from the same chunked row-wise-reduction
    construction as :func:`_exact_pairs_numpy` (deterministic,
    bounded memory even for capped-but-large cells)."""

    def _pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
            }
        )
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order].astype(np.int64)
        x = np.stack(pdf["emb"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        nrm = np.sqrt((x * x).sum(axis=1))
        chunk = 2_000_000
        rows_per_block = max(1, chunk // m)
        outs = []
        for i0 in range(0, m - 1, rows_per_block):
            ib = np.arange(i0, min(i0 + rows_per_block, m - 1))
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
                        {"id_a": ids[ci[ok]], "id_b": ids[cj[ok]]}
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return cells.groupBy("cell").applyInPandas(
        _pairs, "id_a long, id_b long"
    )


def _neardup_decision(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared keep/drop contract: min-id connected components over the
    pair edges, every vector mapped to its cluster canonical, ``keep``
    true only for the survivor. Vectors with no edge keep themselves."""
    from cdc_2025_spark.dedup.cluster import connected_components

    cc = connected_components(pairs)
    return (
        ids.join(cc, ids.vec_id == cc.id, "left")
        .select(
            "vec_id",
            F.coalesce("comp", F.col("vec_id")).alias("canonical_id"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("canonical_id"))
    )


def embedding_neardup_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int | None = None,
    n_bands: int | None = None,
) -> DataFrame:
    """dedup_embedding_neardup with the PAIR SOURCE swapped for banded
    random-hyperplane LSH candidates (similarity.lsh_pairs), each
    exact-cosine-verified at the same threshold — the scale path.
    Geometry defaults to the registered 16/4; tests pass a
    full-recall geometry (16 planes / 16 bands on the fixture) to pin
    equality with the exact all-pairs form."""
    from cdc_2025_spark.queries.similarity import (
        LSH_BANDS,
        LSH_PLANES,
        lsh_pairs,
    )

    pairs = lsh_pairs(
        spark,
        sf_dir,
        threshold=NEARDUP_COS_THRESHOLD,
        n_planes=LSH_PLANES if n_planes is None else n_planes,
        n_bands=LSH_BANDS if n_bands is None else n_bands,
    ).select("id_a", "id_b")
    ids = read_table(spark, sf_dir, "embeddings").select("vec_id")
    return _neardup_decision(ids, pairs)


def _neardup_lsh_oracle() -> str:
    """Mirrors embedding_neardup_lsh end to end: the shared LSH
    candidate CTEs (similarity.lsh_candidate_sql — literal
    hyperplanes, fold-order-exact projections, so both engines emit
    the SAME candidate set even below full recall), the exact-cosine
    edge filter at NEARDUP_COS_THRESHOLD, then the recursive-CTE
    connected-components closure and min-id decision table — the same
    closure the exact twin's oracle uses."""
    from cdc_2025_spark.queries.similarity import lsh_candidate_sql

    return f"""
    WITH RECURSIVE {lsh_candidate_sql()},
    pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN e ea ON ea.vec_id = id_a
      JOIN e eb ON eb.vec_id = id_b
      WHERE list_cosine_similarity(ea.emb, eb.emb)
              >= {NEARDUP_COS_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, g.dst FROM reach r JOIN edges g ON r.b = g.src
    ),
    comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a)
    SELECT v.vec_id,
           CAST(COALESCE(c.comp, v.vec_id) AS BIGINT) AS canonical_id,
           (v.vec_id = COALESCE(c.comp, v.vec_id)) AS keep
    FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.id
    """


@query("dedup_embedding_neardup_lsh", oracle=_neardup_lsh_oracle())
def dedup_embedding_neardup_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding near-dup keep/drop decision table at SCALE: edges
    come from the banded random-hyperplane LSH candidate join
    (similarity.lsh_pairs, one (band, bucket, id) shuffle — no cross
    product), each candidate exact-cosine-verified at the same
    threshold as the exact twin, then the identical min-id
    connected-components decision contract (_neardup_decision).

    This is the registered 100 TB path: cost is one banded shuffle of
    16-byte id rows + candidates-only verification + O(diameter)
    label-propagation rounds, vs the exact twin's O(n²) cross join.
    The exact twin (dedup_embedding_neardup) stays registered as the
    audit operator; equality of the two decision tables on the
    fixture at a full-recall geometry is pinned in
    tests/test_dedup.py, and the oracle here mirrors the LSH
    candidate generation exactly so the driver hash-checks this plan
    at its registered 16/4 geometry (production geometry comes from
    lsh_pairs_auto — see similarity.py)."""
    return embedding_neardup_lsh(spark, sf_dir)


SEMDEDUP_CLUSTERS = 8

# Giant-cell guard: a cell larger than CAP_FACTOR x the average
# (n/k) re-clusters one level down with the same Lloyd primitives,
# so embedding-space skew cannot re-quadratize the pair space — the
# 100 TB caveat the r7 docstring named without enforcing.
SEMDEDUP_CELL_CAP_FACTOR = 4

# target numpy pair-ops per Arrow task in the within-cell pair stage
# (matches the numpy kernel's chunk size): sizes the applyInPandas
# fan-out by WORK, so tiny corpora run one worker and big ones scale
_SEMDEDUP_PAIRS_PER_TASK = 2_000_000


def _semdedup_quantizer(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    n_iter: int,
    assign: str,
) -> tuple[list[tuple], dict[int, list[tuple]], int]:
    """(top-level centroid rows, sub-centroid rows per oversized
    cell, cell cap) — a session artifact per (corpus, k, n_iter,
    assign), like IVF's centroids (queries/similarity.py): the
    registered query used to re-run five Lloyd iterations on every
    invocation and was the bench's most expensive entry.

    The guard: cells larger than cap = CAP_FACTOR·ceil(n/k) get
    their own k'-means (k' = ceil(size / ceil(n/k)), one recursion
    level) over just their members — a handful of extra distributed
    Lloyd runs only when skew exists. One level suffices to break
    the n² term by ~CAP_FACTOR·k; pathological double-skew would
    need a second level and is documented, not chased."""
    key = ("semdedup_quantizer", sf_dir, k, n_iter, assign,
           table_stamp(sf_dir, "embeddings"))
    return artifact(
        spark,
        key,
        lambda: _train_semdedup_quantizer(spark, sf_dir, k, n_iter, assign),
    )


def _train_semdedup_quantizer(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    n_iter: int,
    assign: str,
) -> tuple[list[tuple], dict[int, list[tuple]], int]:
    from cdc_2025_spark.functions.kmeans import (
        assign_cells,
        assign_cells_np,
        lloyd_kmeans,
    )

    vec = read_table(spark, sf_dir, "embeddings")
    cents = lloyd_kmeans(
        vec,
        k=k,
        n_iter=n_iter,
        id_col="vec_id",
        vec_col="embedding",
        assign=assign,
    )
    cent_rows = [(r["cid"], r["cemb"]) for r in cents.collect()]
    emb = vec.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    if assign == "numpy":
        assigned = assign_cells_np(emb, cent_rows)
    else:
        lit = spark.createDataFrame(
            cent_rows, "cid int, cemb array<double>"
        )
        assigned = assign_cells(emb, lit)
    sizes = {
        r["cell"]: r["count"]
        for r in assigned.groupBy("cell").count().collect()
    }
    n = sum(sizes.values())
    target = max(1, math.ceil(n / k))
    cap = max(SEMDEDUP_CELL_CAP_FACTOR * target, 32)
    sub: dict[int, list[tuple]] = {}
    for cell, cnt in sorted(sizes.items()):
        if cnt <= cap:
            continue
        k_sub = math.ceil(cnt / target)
        sub_cents = lloyd_kmeans(
            assigned.filter(F.col("cell") == cell),
            k=k_sub,
            n_iter=n_iter,
            id_col="id",
            vec_col="emb",
            assign=assign,
        )
        sub[cell] = [(r["cid"], r["cemb"]) for r in sub_cents.collect()]
    return cent_rows, sub, cap


def _semdedup_assign(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    n_iter: int,
    assign: str,
) -> tuple[DataFrame, F.Column, DataFrame]:
    """(assigned (id, emb, cell), top-cell expression, top-centroid
    frame) using the cached quantizer. ``cell`` is the PAIR-JOIN key:
    for oversized cells it is the composite ``cell·mult + (sub+1)``
    after the one-level re-cluster (untouched cells carry
    ``cell·mult`` so ids never collide); the top-cell expression
    recovers the paper-level cluster for the centroid-cosine keep
    rule. Exposed separately so the skew guard's candidate-space
    bound is testable (tests/test_dedup.py)."""
    from cdc_2025_spark.functions.kmeans import (
        assign_cells,
        assign_cells_np,
    )

    cent_rows, sub, _cap = _semdedup_quantizer(
        spark, sf_dir, k, n_iter, assign
    )
    vec = read_table(spark, sf_dir, "embeddings")
    emb = vec.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    lit_cents = spark.createDataFrame(
        cent_rows, "cid int, cemb array<double>"
    )
    if assign == "numpy":
        assigned = assign_cells_np(emb, cent_rows)
    else:
        assigned = assign_cells(emb, lit_cents)
    if not sub:
        return assigned, F.col("cell"), lit_cents
    # composite = cell·mult + dense_sub, dense_sub in [1, span]
    # (cid numbering from lloyd_kmeans is offset-normalized so the
    # slot never overflows mult); untouched cells carry cell·mult
    # (dense_sub = 0) — floor(composite / mult) is always the
    # top-level cell
    mult = (
        max(
            max(r[0] for r in v) - min(r[0] for r in v) + 1
            for v in sub.values()
        )
        + 1
    )
    parts = [
        assigned.filter(
            ~F.col("cell").isin(*sub.keys())
        ).withColumn("cell", F.col("cell") * mult)
    ]
    for cell, sub_rows in sorted(sub.items()):
        members = assigned.filter(F.col("cell") == cell).select(
            "id", "emb"
        )
        if assign == "numpy":
            re_assigned = assign_cells_np(members, sub_rows)
        else:
            re_assigned = assign_cells(
                members,
                spark.createDataFrame(
                    sub_rows, "cid int, cemb array<double>"
                ),
            )
        offset = min(r[0] for r in sub_rows)
        parts.append(
            re_assigned.withColumn(
                "cell",
                F.lit(cell) * mult + (F.col("cell") - offset + 1),
            )
        )
    from functools import reduce

    assigned = reduce(DataFrame.unionByName, parts)
    top_cell = F.floor(F.col("cell") / mult).cast("int")
    return assigned, top_cell, lit_cents


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = SEMDEDUP_CLUSTERS,
    threshold: float = NEARDUP_COS_THRESHOLD,
    n_iter: int = 5,
    assign: str = "numpy",
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540 —
    public): k-means-cluster the embeddings, compare pairs ONLY
    within a cluster, and per duplicate group keep the example
    FARTHEST from its cluster centroid (lowest centroid-cosine; the
    paper's keep rule, which preserves the cluster's outer, most
    informative examples). Ties break to the lowest id, so the whole
    decision table is deterministic.

    Returns (vec_id, cluster, canonical_id, keep) for every vector.

    Why this scales where all-pairs cannot: the candidate space is
    sum_c |cell_c|² instead of n² — with k sized so cells stay
    ~n/k, pair generation is one shuffle on the cell key and the
    quadratic term drops by a factor of k. Cluster assignment is
    Lloyd's with broadcast centroids (functions/kmeans.py — per
    iteration one shuffle, only k·dim floats ever reach the driver);
    cosine runs JVM-side with hoisted norms; components/keep-rule are
    grouped aggregates. Giant cells (embedding-space skew) are
    ENFORCED away: cells past CAP_FACTOR·(n/k) re-cluster one level
    down (_semdedup_quantizer), so the candidate space stays
    ~cap·n even on a pathological corpus — the paper's alternative
    is raising k outright (11k on LAION), which this composes with.

    The Lloyd geometry (top centroids + per-oversized-cell
    sub-centroids) is cached per (session, corpus) — repeat
    invocations pay only the one-pass matmul assignment, the IVF
    quantizer posture."""
    from cdc_2025_spark.functions.embeddings import cosine, norm

    assigned, top_cell, lit_cents = _semdedup_assign(
        spark, sf_dir, k, n_iter, assign
    )
    # lazy localCheckpoint, not persist: the frame is reused by four
    # subtrees (both pair-join sides, the keep-rule join, the final
    # decision select) within THIS plan only — checkpoint blocks are
    # released by the ContextCleaner once the returned DataFrame is
    # garbage-collected, where a CacheManager persist would pin
    # corpus-sized storage for the session lifetime (no unpersist
    # hook exists for a lazily-executed return value).
    withc = (
        assigned.join(
            F.broadcast(lit_cents), top_cell == lit_cents.cid
        )
        .select(
            "id",
            "cell",
            "emb",
            F.coalesce(cosine("emb", "cemb"), F.lit(0.0)).alias(
                "cent_cos"
            ),
            norm("emb").alias("nrm"),
        )
        .localCheckpoint(eager=False)
    )
    # r15 optimization: within-cell pairs score in ONE Arrow-batched
    # numpy pass per cell (applyInPandas keyed on the cell — the
    # _lsh_bucket_rerank construction: id-sorted anchors, row-wise
    # reductions over the fixed dim axis, chunked pair blocks)
    # instead of the cell-keyed self-join + interpreted JVM fold.
    # Same shuffle key, same candidate space (sum_c |cell_c|², cells
    # capped by the quantizer), identical membership (zero-norm
    # vectors pair with nothing; threshold margins are 1e10× above
    # summation-order noise — see dedup_embedding_neardup). Model
    # pins and the exact-ground-truth invariants in tests/test_dedup
    # cover equality.
    #
    # r16: bound the Python-stage fan-out to the number of distinct
    # cells. The grouping shuffle otherwise lands on
    # spark.sql.shuffle.partitions (= core count) reduce tasks, and
    # with ~k cells most of those Arrow tasks are EMPTY — pure
    # Python-worker setup cost that grows with core count (the r15
    # 32-core regression: 4.4 s vs 1.4 s at 8 cores, scaling ratio
    # 0.31). An explicit hash-repartition on the SAME key caps the
    # stage at min(parallelism, n_cells) tasks; applyInPandas adds no
    # second exchange (HashPartitioning(cell, N) already satisfies
    # its ClusteredDistribution). n_cells comes from the cached
    # quantizer geometry — no extra job. Parallelism is unchanged in
    # substance: tasks beyond n_cells can never hold a cell.
    cent_rows_q, sub_q, _cap_q = _semdedup_quantizer(
        spark, sf_dir, k, n_iter, assign
    )
    n_cells = (len(cent_rows_q) - len(sub_q)) + sum(
        len(v) for v in sub_q.values()
    )
    # r16 refinement: ALSO bound the fan-out by estimated pair WORK,
    # not just cell count — at fixture scale 8 cells of ~250 vectors
    # are ~8 Arrow worker spins for ~500k total numpy pair-ops, so
    # one task is strictly faster; the estimate (corpus size derived
    # from the quantizer's own cap, times the per-cell cap — an
    # upper bound on sum |cell|², the exact pair space) grows the
    # task count linearly with real work at scale. No extra job:
    # every input comes from the cached quantizer geometry.
    n_est = max(1, (_cap_q * k) // SEMDEDUP_CELL_CAP_FACTOR)
    est_pairs = n_est * _cap_q
    n_tasks = max(1, min(
        spark.sparkContext.defaultParallelism,
        n_cells,
        -(-est_pairs // _SEMDEDUP_PAIRS_PER_TASK),
    ))
    pairs = _cell_pairs_numpy(
        withc.select("cell", F.col("id").alias("vec_id"), "emb")
        .repartition(n_tasks, "cell"),
        threshold,
    )
    from cdc_2025_spark.dedup.cluster import connected_components

    cc = connected_components(pairs)
    canon = (
        cc.join(withc.select("id", "cent_cos"), "id")
        .groupBy("comp")
        .agg(
            F.min_by(
                "id", F.struct(F.col("cent_cos").alias("c"), "id")
            ).alias("canonical_id")
        )
    )
    return (
        withc.select("id", "cell")
        .join(cc, "id", "left")
        .join(canon, "comp", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("cell").alias("cluster"),
            F.coalesce("canonical_id", "id").alias("canonical_id"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("canonical_id"))
    )


@query("dedup_semdedup_decision")
def dedup_semdedup_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision table over the embeddings corpus
    (see ``semdedup``). Registered rows-only by design: the cluster
    geometry comes from iterative Lloyd's k-means, which SQL cannot
    express — accuracy is pinned instead by tests/test_dedup.py
    (pure-python model equality at k=1 on a literal frame, where the
    centroid is the global mean and the pair space is exact, plus
    corpus invariants against the exact all-pairs ground truth)."""
    return semdedup(spark, sf_dir)


SPAN_K = 5
SPAN_MIN_DOCS = 2


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH sp AS (
      SELECT doc_id, s.span
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents),
           unnest(CASE WHEN len(ws) <= {SPAN_K}
                  THEN [array_to_string(ws, ' ')]
                  ELSE [array_to_string(ws[i:i+{SPAN_K - 1}], ' ')
                        for i in range(1, len(ws) - {SPAN_K} + 2)]
                  END) AS s(span)
    )
    SELECT span,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM sp GROUP BY span
    HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated SPANS (exact {SPAN_K}-token windows
    occurring in >= {SPAN_MIN_DOCS} distinct documents) — the
    span-removal primitive of C4/RefinedWeb-style curation, which
    cuts boilerplate at sub-document granularity where whole-doc
    dedup sees nothing.

    Shape: one explode + a two-phase distinct-count aggregate KEYED
    BY xxhash64(span), not the span string — the shuffle sorts and
    compares 8-byte keys instead of {SPAN_K}-token strings, and the
    distinct phase's (key, doc_id) pairs shrink accordingly. The span
    itself rides along as a min() exemplar aggregate (resolved in the
    partial phase, so each map partition emits it once per distinct
    span) and is re-emitted in the result, which stays a directly
    actionable removal list. Partial aggregation map-side; skew is
    bounded by span document frequency (exactly the signal being
    measured). A 64-bit hash collision would merge two unrelated
    spans — at ~2^32 distinct spans the expected collision count is
    ~0.5 (birthday bound), the standard trade every hash-keyed
    shuffle in this repo makes; output equality with the string-keyed
    form is pinned by test on the fixture corpus.
    """
    docs = read_table(spark, sf_dir, "documents")
    from cdc_2025_spark.functions.text import exploded_spans

    sp = exploded_spans(docs, SPAN_K)
    return (
        sp.withColumn("_h", F.xxhash64("span"))
        .groupBy("_h")
        .agg(
            F.min("span").alias("span"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
        .select("span", "n_docs", "n_occurrences")
    )


@query(
    "dedup_remove_repeated_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS ws
      FROM documents
    ),
    toks AS (
      SELECT doc_id, i - 1 AS pos, ws[i] AS tok
      FROM base, unnest([i for i in range(1, len(ws) + 1)]) AS r(i)
    ),
    occ AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(ws[i:i+{SPAN_K - 1}], ' ') AS span
      FROM base,
           unnest([i for i in range(
               1, CASE WHEN len(ws) <= {SPAN_K} THEN 2
                       ELSE len(ws) - {SPAN_K} + 2 END)]) AS r(i)
    ),
    dupspan AS (
      SELECT span FROM occ GROUP BY span
      HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
    ),
    ranked AS (
      SELECT o.doc_id, o.pos,
             row_number() OVER (
               PARTITION BY o.span ORDER BY o.doc_id, o.pos) AS rn
      FROM occ o JOIN dupspan d ON o.span = d.span
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS cpos
      FROM ranked, unnest([j for j in range(0, {SPAN_K})]) AS u(j)
      WHERE rn > 1
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t ANTI JOIN cov c
        ON t.doc_id = c.doc_id AND t.pos = c.cpos
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id
    )
    SELECT tot.doc_id,
           CAST(tot.n_tokens AS BIGINT) AS n_tokens,
           CAST(tot.n_tokens - COALESCE(agg.n_kept, 0) AS BIGINT)
             AS n_removed,
           COALESCE(agg.clean_text, '') AS clean_text
    FROM tot LEFT JOIN agg USING (doc_id)
    """,
)
def dedup_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span REMOVAL — the second half of exact-substring
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22: find repeated substrings, keep ONE
    occurrence, excise the rest): every {SPAN_K}-token span occurring
    in >= {SPAN_MIN_DOCS} distinct documents is removed at every
    occurrence EXCEPT its global first (min (doc_id, pos) — the
    deterministic analogue of the paper's keep-one rule), and each
    document is rebuilt from its surviving tokens.

    Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY
    document — clean_text is the whitespace-normalized lowercase
    token join, '' when a document was entirely boilerplate.

    Shape, built to scale: token/span explode is the codegen'd
    posexplode + window-lead construction (`exploded_spans_with_pos`,
    no higher-order lambdas); repeated-span detection and the
    first-occurrence ranking shuffle on xxhash64(span) 8-byte keys
    (same collision trade `dedup_repeated_spans` documents, string
    equality pinned on the fixture by test); covered positions come
    from a bounded sequence-explode (exactly {SPAN_K} rows per
    duplicate occurrence); the final rebuild is one anti-join plus
    one per-document sort-aggregate. Every stage is a key-partitioned
    shuffle of small rows — no broadcast of corpus-sized state, no
    driver materialization, skew bounded by span document frequency
    (the signal itself)."""
    docs = read_table(spark, sf_dir, "documents")
    return remove_repeated_spans_frame(docs)


def repeated_span_kept_tokens(toks: DataFrame) -> DataFrame:
    """The span-removal core over a PINNED (doc_id, pos, tok) stream:
    the kept rows after excising every non-first global occurrence of
    a cross-doc repeated SPAN_K-span. Callers aggregate this stream
    into whatever stage output they need (clean_text rebuild for the
    standalone query, shingle grams for the ledger's decontamination)
    without re-deriving the dup-span decision.

    ``toks`` must equal posexplode(tokens(lower(text))) over the
    caller's docs (functions/text.tokens) and should be
    localCheckpoint'd: it feeds the span construction, the dup
    window, and the anti-join."""
    from cdc_2025_spark.functions.text import exploded_spans_with_pos

    # build spans ONCE from the pinned tokens (r16). The span stream
    # feeds two subtrees (dup-hash agg AND dup-occurrence window);
    # without its own pin the window would re-run the span
    # construction.
    occ = (
        exploded_spans_with_pos(None, SPAN_K, toks=toks)
        .withColumn("_h", F.xxhash64("span"))
        .localCheckpoint(eager=False)
    )
    dup_h = (
        occ.groupBy("_h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= SPAN_MIN_DOCS)
        .select("_h")
    )
    w = Window.partitionBy("_h").orderBy("doc_id", "pos")
    dup_occ = (
        occ.join(dup_h, "_h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id", "pos")
    )
    cov = dup_occ.select(
        F.col("doc_id").alias("c_doc"),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_K - 1))
        ).alias("cpos"),
    ).distinct()
    return toks.join(
        cov,
        (toks.doc_id == cov.c_doc) & (toks.pos == cov.cpos),
        "left_anti",
    )


def remove_repeated_spans_frame(
    docs: DataFrame | None, toks: DataFrame | None = None
) -> DataFrame:
    """Span removal over an arbitrary (doc_id, text) frame — the
    reusable kernel behind ``dedup_remove_repeated_spans`` and the
    full-chain prep ledger (queries/llmdata.py), where the span
    stage runs over upstream survivors rather than the raw table.
    Returns (doc_id, n_tokens, n_removed, clean_text).

    ``toks``: an already-built (doc_id, pos, tok) stream — callers
    that tokenized the corpus for an upstream stage pass it so the
    kernel skips its own tokenize pass; it must equal
    posexplode(tokens(lower(text))) over the same docs
    (functions/text.tokens). ``docs`` is consumed ONLY to build the
    stream, so it may be None when ``toks`` is given."""
    from cdc_2025_spark.functions.text import tokens

    if toks is None:
        toks = docs.select(
            "doc_id",
            F.posexplode(tokens(F.lower(F.col("text")))).alias(
                "pos", "tok"
            ),
        )
    # one tokenize pass feeds the span core AND the per-doc totals
    toks = toks.localCheckpoint(eager=False)
    kept = repeated_span_kept_tokens(toks)
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
        ).alias("clean_text"),
    )
    tot = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def _pipeline_oracle() -> str:
    """Stage-accounting oracle: exact vocab dedup (min-id canonical
    per key), then the FULL md5_km MinHash+LSH pipeline over the
    survivors (the shared CTE chain `_minhash_pairs_ctes` with
    docs_rel swapped), then the recursive connected-components
    closure picking one min-id survivor per near-dup cluster."""
    return f"""
    WITH RECURSIVE vocab_keys AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), '\\s+'))), ' '))
               AS key
      FROM documents
    ),
    canon1 AS (SELECT MIN(doc_id) AS doc_id FROM vocab_keys GROUP BY key),
    survivors1 AS (
      SELECT d.* FROM documents d JOIN canon1 USING (doc_id)
    ),
    {_minhash_pairs_ctes(JACCARD_K, JACCARD_THRESHOLD,
                         docs_rel="survivors1")},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION SELECT id_b, id_a FROM mh_pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, g.dst FROM reach r JOIN edges g ON r.b = g.src
    ),
    comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a),
    dropped2 AS (SELECT id FROM comp WHERE id <> comp),
    n0 AS (SELECT COUNT(*) AS n FROM documents),
    n1 AS (SELECT COUNT(*) AS n FROM survivors1),
    nd2 AS (SELECT COUNT(*) AS n FROM dropped2)
    SELECT 'raw' AS stage,
           CAST(n0.n AS BIGINT) AS n_in,
           CAST(0 AS BIGINT) AS n_dropped,
           CAST(n0.n AS BIGINT) AS n_out
    FROM n0
    UNION ALL
    SELECT 'exact_vocab', CAST(n0.n AS BIGINT),
           CAST(n0.n - n1.n AS BIGINT), CAST(n1.n AS BIGINT)
    FROM n0, n1
    UNION ALL
    SELECT 'minhash_lsh', CAST(n1.n AS BIGINT),
           CAST(nd2.n AS BIGINT), CAST(n1.n - nd2.n AS BIGINT)
    FROM n1, nd2
    """


@query("dedup_pipeline_accounting", oracle=_pipeline_oracle())
def dedup_pipeline_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DEDUP pipeline with per-stage accounting — the
    dedup counterpart of llm_corpus_prep's curation pipeline: exact
    vocab-key dedup (cheapest, removes literal re-posts first), then
    MinHash+LSH near-dup clustering over the survivors (md5_km
    family so the driver hash-checks the whole composition), one
    min-id survivor kept per near-dup cluster. Output is the stage
    ledger (stage, n_in, n_dropped, n_out) every corpus-curation run
    reports.

    Shape: stage 1 is one hashed-key aggregate + a semi-join; stage 2
    reuses the banded-LSH machinery (candidates only, exact-verified)
    RESTRICTED to stage-1 survivors — the pipeline ordering is the
    scale decision: the quadratic-ish near-dup stage only ever sees
    the exact-deduped corpus. Counts are computed as 1-row aggregates
    cross-joined into a stack — no driver-side collection of corpus
    data (connected components' O(diameter) label-prop rounds are the
    only plan-construction actions, shared with every other cluster
    consumer)."""
    docs = read_table(spark, sf_dir, "documents")
    groups1 = exact_dup_groups(docs, "doc_id", vocab_key("text"))
    # id-only survivor frame, pinned (r16): canonical ids are
    # distinct (one per content-key group, each doc in exactly one
    # group), so the stage-1 survivor COUNT is the group count and
    # the full-text semi-join the old shape carried existed only to
    # be re-counted. Pairs come from the session-shared FULL-corpus
    # index restricted to the survivors — same (k, threshold,
    # family), and every pipeline stage is subset-stable
    # (pairs(S) == pairs(full) ∩ S×S, the _shared_minhash_pairs
    # contract the full-chain ledger already rides), so the
    # signature/banding pipeline no longer re-runs over the
    # survivors on every invocation.
    canon = (
        groups1.select(F.col("canonical_id").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        _shared_minhash_pairs(spark, sf_dir)
        .join(canon.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(canon.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    from cdc_2025_spark.dedup.cluster import connected_components

    cc = connected_components(pairs)
    dropped2 = cc.filter(F.col("id") != F.col("comp"))
    n0 = docs.agg(F.count("*").alias("n0"))
    n1 = canon.agg(F.count("*").alias("n1"))
    nd2 = dropped2.agg(F.count("*").alias("nd2"))
    return (
        n0.crossJoin(n1)
        .crossJoin(nd2)
        .selectExpr(
            "stack(3, "
            "'raw', n0, CAST(0 AS BIGINT), n0, "
            "'exact_vocab', n0, n0 - n1, n1, "
            "'minhash_lsh', n1, nd2, n1 - nd2"
            ") AS (stage, n_in, n_dropped, n_out)"
        )
    )


BBIT_B = 4  # bits kept per minhash value (Li & König's storage knob)
BBIT_N = 128
BBIT_P = 2147483647  # 2^31 - 1

# Per-position universal-hash coefficients (a_i, b_i) for
# s_i = min((a_i * h + b_i) mod p) — positions must be INDEPENDENT
# hash functions for b-bit estimation: the Kirsch-Mitzenmacher
# affine family (hi + i*lo) that serves banding fine is structurally
# correlated across i (two docs agreeing on their min-lo shingle's
# (hi, lo) mod 2^b match at EVERY position — measured: J=0.01 pairs
# estimated at 0.99), so b-bit uses its own per-i draws. Fixed
# deterministic table (seeded PRNG), identical literals in the
# oracle.
import random as _random

_rng = _random.Random(0x5EED)
BBIT_COEFFS = [
    (_rng.randrange(1, BBIT_P), _rng.randrange(0, BBIT_P))
    for _ in range(BBIT_N)
]
del _rng


def _bbit_oracle() -> str:
    """b-bit estimates beside exact Jaccard for every LSH candidate:
    the shared md5_km chain supplies shingles/candidates/exact
    Jaccard; the b-bit vectors come from the independent
    universal-hash signatures (same literal coefficient table)."""
    n, b, p = BBIT_N, BBIT_B, BBIT_P
    two_b = 1 << b
    sig_cols = ",\n             ".join(
        f"MIN(({a} * hi + {bb}) % {p}) % {two_b} AS _t{i}"
        for i, (a, bb) in enumerate(BBIT_COEFFS)
    )
    vec = ", ".join(f"_t{i}" for i in range(n))
    return f"""
    WITH {_minhash_pairs_ctes(JACCARD_K, JACCARD_THRESHOLD)},
    usig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hl GROUP BY doc_id
    ),
    bb AS (SELECT doc_id, [{vec}] AS v FROM usig)
    SELECT c.id_a, c.id_b,
           ROUND(c.jaccard, 4) AS jaccard_exact,
           ROUND(GREATEST(0.0,
             (len([i for i in range(1, {n + 1}) if a.v[i] = b.v[i]])
                / {n}.0 - 1.0 / {two_b})
             / (1.0 - 1.0 / {two_b})), 4) AS jaccard_bbit
    FROM verified c
    JOIN bb a ON a.doc_id = c.id_a
    JOIN bb b ON b.doc_id = c.id_b
    """


@query("dedup_minhash_bbit_estimates", oracle=_bbit_oracle())
def dedup_minhash_bbit_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b-bit minhashing (Li & König, "b-Bit Minwise Hashing", WWW'10
    / CACM 2011 — public): store only the low b={BBIT_B} bits of
    each of {BBIT_N} minhash values and estimate Jaccard from the
    match fraction with the collision correction
    J^ = (m - 1/2^b) / (1 - 1/2^b) — at b=4 the signature store is
    64 bytes/doc, 16x smaller than 64-bit values, the trade being
    estimator variance instead of bias.

    The b-bit signatures use per-position universal hashes
    ((a_i*h + b_i) mod 2^31-1, fixed coefficient table) — NOT the
    Kirsch-Mitzenmacher affine family the banding uses: KM is fine
    for bucket equality but its positions are structurally
    correlated, which b-bit equality-counting cannot tolerate (see
    BBIT_COEFFS comment; the failure is pinned in
    tests/test_dedup.py alongside the accuracy bound).

    Output: every LSH candidate pair with BOTH the exact verified
    Jaccard and the b-bit estimate, so the estimator's error is
    inspectable query-side; at deploy scale the exact column is the
    one you drop — the b-bit estimate replaces the shingle-set
    verification join entirely (signatures are doc-count-sized,
    shingle sets are token-count-sized, and skipping that join is
    the point of the compression).

    Same md5 shingle hashes as the registered LSH query, so the
    DuckDB oracle rebuilds candidates, exact Jaccard, AND the b-bit
    estimates cell for cell."""
    from cdc_2025_spark.dedup.minhash import (
        lsh_candidates,
        shingle_sets,
    )

    docs = read_table(spark, sf_dir, "documents")
    sets = shingle_sets(
        docs, "doc_id", "text", JACCARD_K, family="md5_km"
    ).persist()
    cand = lsh_candidates(
        docs, k=JACCARD_K, family="md5_km", sets=sets
    )
    two_b = 1 << BBIT_B
    hi = sets.select(
        F.col("id"), F.explode("sh").alias("h")
    ).select(
        "id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
    )
    usig = hi.groupBy("id").agg(
        *[
            F.expr(
                f"min(({a} * hi + {b}) % {BBIT_P}) % {two_b} AS _t{i}"
            )
            for i, (a, b) in enumerate(BBIT_COEFFS)
        ]
    )
    bb = usig.select(
        "id", F.array(*[f"_t{i}" for i in range(BBIT_N)]).alias("v")
    )
    ja = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    jb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exact = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    m = F.size(
        F.filter(
            F.zip_with("va", "vb", lambda x, y: x == y), lambda z: z
        )
    )
    est = F.greatest(
        F.lit(0.0),
        (m / F.lit(float(BBIT_N)) - 1.0 / two_b) / (1.0 - 1.0 / two_b),
    )
    return (
        cand.join(ja, "id_a")
        .join(jb, "id_b")
        .join(bb.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(bb.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(exact, 4).alias("jaccard_exact"),
            F.round(est, 4).alias("jaccard_bbit"),
        )
    )


@query(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH {_minhash_pairs_ctes(JACCARD_K, JACCARD_THRESHOLD)}
    , pairs AS (
      SELECT id_a, id_b, jaccard FROM mh_pairs
    ),
    tagged AS (
      SELECT LEAST(da.source, db.source) AS src_a,
             GREATEST(da.source, db.source) AS src_b,
             p.jaccard
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(jaccard), 4) AS mean_jaccard
    FROM tagged GROUP BY src_a, src_b
    """,
)
def dedup_source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCE-OVERLAP matrix: near-duplicate pair volume between
    every pair of sources — the curation signal behind source-level
    dedup policy (which feeds copy which; mirrors/scrapes show up as
    hot off-diagonal cells, boilerplate-heavy sources as hot
    diagonals). Pairs come from the hash-matched md5_km MinHash+LSH
    pipeline (identical geometry to dedup_minhash_lsh_pairs), then
    one broadcast join to the doc->source map and a source-pair
    aggregate (unordered pair canonicalized least/greatest).

    Shape: inherits the LSH pipeline's scale story (banded 8-byte
    candidates, exact verify); the add-on is a |pairs|-sized join
    against a doc->source projection and a |sources|²-bounded
    aggregate — nothing new shuffles at corpus scale.
    """
    from cdc_2025_spark.dedup.minhash import minhash_lsh_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=JACCARD_K, threshold=JACCARD_THRESHOLD, family="md5_km"
    )
    srcs = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            srcs.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("source_a"),
            ),
            "id_a",
        )
        .join(
            srcs.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("source_b"),
            ),
            "id_b",
        )
        .select(
            F.least("source_a", "source_b").alias("src_a"),
            F.greatest("source_a", "source_b").alias("src_b"),
            "jaccard",
        )
    )
    return tagged.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("jaccard"), 4).alias("mean_jaccard"),
    )


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) <= {JACCARD_K}
               THEN [array_to_string(ws, ' ')]
               ELSE [array_to_string(ws[i:i+{JACCARD_K - 1}], ' ')
                     for i in range(1, len(ws) - {JACCARD_K} + 2)]
               END) AS sh
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents)
    ),
    occ AS (
      SELECT doc_id, UNNEST(sh) AS sh FROM sets
    ),
    df AS (
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM occ GROUP BY sh
    )
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           ROUND(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS novelty
    FROM occ o JOIN df ON o.sh = df.sh
    GROUP BY o.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct 3-shingles that occur in NO other document — a corpus-
    level diversity score (high novelty = unique content worth
    keeping; low novelty = templated/boilerplate-heavy, the signal
    RefinedWeb-style curation uses to rank near-template docs below
    unique ones). Complements the intra-doc repetition score
    (text_repetition_scores — self-similarity) and pairwise Jaccard
    (dedup_ngram_jaccard_pairs — who matches whom) with a per-doc
    corpus-context score.

    Shape: distinct shingles explode once; document frequency is one
    groupBy over the exploded set (each doc contributes a shingle at
    most once, so df = plain count) that ALSO carries min(doc_id) —
    for a df = 1 shingle that minimum IS the sole owner, so per-doc
    unique counts come from re-grouping the df table's singleton rows
    by owner, and the corpus-sized join-back the previous form paid
    (occ ⋈ df_tab, re-aggregated) disappears. Both remaining
    aggregates are map-side partial, so only (key, partial-count)
    rows shuffle; the final join is per-doc frame vs per-doc frame.
    At 100 TB the shuffle key would be xxhash64(shingle) (8-byte
    keys, collision odds ~n²/2⁶⁴ — the documented minhash-family
    tradeoff); the registered query keys on the shingle string so the
    oracle parity claim stays collision-free exact.
    """
    from cdc_2025_spark.functions.text import shingles

    # spread_key (r15 optimization): the shingle construction is the
    # dominant per-row cost and would otherwise run inside the
    # single-row-group scan task — one core regardless of session
    # size. Layout-guarded repartition parallelizes it (io.read_table)
    # and disappears at real scale where the scan has row-group
    # parallelism of its own.
    docs = read_table(spark, sf_dir, "documents", spread_key="doc_id")
    # shingle sets materialize once (lazy localCheckpoint) and feed
    # both branches; per-doc totals are just the set size — no
    # shuffle — and only the df aggregate sees the explode. Gram-less
    # docs are absent on both engines (the exploded form never
    # emitted them).
    sets = docs.select(
        "doc_id",
        F.array_distinct(shingles(F.col("text"), JACCARD_K)).alias(
            "shs"
        ),
    ).localCheckpoint(eager=False)
    n_sh = sets.filter(F.size("shs") >= 1).select(
        "doc_id", F.size("shs").cast("long").alias("n_shingles")
    )
    occ = sets.select("doc_id", F.explode("shs").alias("sh"))
    uniq = (
        occ.groupBy("sh")
        .agg(F.count("*").alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("n_unique"))
    )
    return (
        n_sh.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_unique") / F.col("n_shingles"), 4)
        )
    )


@query(
    "dedup_cluster_canonical_docs",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_SETS_SQL},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a),
    lab AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS comp,
             COALESCE(d.n_chars, 0) AS n
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    )
    SELECT doc_id, comp,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT)
               AS cluster_n,
           (ROW_NUMBER() OVER (PARTITION BY comp
                               ORDER BY n DESC, doc_id ASC) = 1)
               AS keep
    FROM lab
    """,
)
def dedup_cluster_canonical_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SURVIVOR SELECTION: one keep/drop verdict per document from
    the duplicate-cluster structure — the policy step between "who
    duplicates whom" (dedup_jaccard_clusters) and "write the cleaned
    corpus". Per cluster the KEPT doc is the longest (n_chars,
    doc_id-asc tiebreak) — the keep-best-quality policy, vs the
    min-id canonical dedup_jaccard_clusters reports; singletons are
    their own cluster and always keep.

    Shape: reuses the session-cached exact-Jaccard pair set, runs
    min-label connected components (driver union-find fast path /
    label propagation — dedup/cluster.py), LEFT-joins the labels
    back onto the corpus (only clustered docs carry a label row, so
    the join's right side is duplicate-sized, not corpus-sized), and
    picks survivors with one row_number window per cluster. No pair
    materialization beyond the already-bounded edge set.
    """
    comp = _shared_jaccard_components(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("n_chars", F.lit(0)).alias("n")
    )
    lab = docs.join(
        comp, docs.doc_id == comp.id, "left"
    ).select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).cast("long").alias("comp"),
        "n",
    )
    w = Window.partitionBy("comp")
    rk = Window.partitionBy("comp").orderBy(
        F.col("n").desc(), F.col("doc_id").asc()
    )
    return lab.select(
        "doc_id",
        "comp",
        F.count("*").over(w).cast("long").alias("cluster_n"),
        (F.row_number().over(rk) == 1).alias("keep"),
    )


@query(
    "sample_leakage_free_split",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_SETS_SQL},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a),
    lab AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS comp
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    )
    SELECT doc_id, comp,
           CASE WHEN b < 8 THEN 'train'
                WHEN b < 9 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, comp,
                 CAST(('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 8))
                      AS BIGINT) % 10 AS b
          FROM lab) s
    """,
)
def sample_leakage_free_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEAKAGE-FREE train/val/test split: the 80/10/10 md5-bucket
    split keyed on the near-duplicate CLUSTER label instead of the
    document id, so every member of a duplicate cluster lands in the
    same split. A doc-keyed split puts ~2·p·(1-p) of each duplicate
    pair's mass across the train/eval boundary — exactly the
    memorization-inflates-eval leakage documented by Lee et al.
    ACL'22 §6; clustering first is the standard fix.

    Shape: reuses the session-cached exact-Jaccard pair set and the
    min-label connected components (driver union-find fast path for
    small edge sets). The cluster-label table is duplicate-sized —
    orders of magnitude smaller than the corpus — so the label join
    broadcasts at any corpus scale, and the split hash is map-side
    arithmetic on the labeled rows: no corpus shuffle beyond the one
    label join. Same md5 bucketing as sample_train_val_test_split
    (analytics.py) — stable under reruns, row order, partitioning.
    """
    comp = _shared_jaccard_components(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    lab = docs.join(comp, docs.doc_id == comp.id, "left").select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).cast("long").alias("comp"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("comp").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    return lab.select("doc_id", "comp", split.alias("split"))


@query(
    "dedup_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT doc_id, coalesce(text, '') AS text FROM documents
    ), newc AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS k
      FROM base WHERE doc_id % 17 <> 5
    ), oldc AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(
                 CASE WHEN doc_id % 17 = 7 THEN text || ' drift'
                      ELSE text END)), '\\s+', ' ', 'g')) AS k
      FROM base WHERE doc_id % 17 <> 3
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.k IS NULL THEN 'added'
                WHEN n.k IS NULL THEN 'removed'
                WHEN o.k <> n.k THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.k AS old_key, n.k AS new_key
    FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id
    """,
)
def dedup_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus SNAPSHOT DIFF: per-document added/removed/changed/
    unchanged verdicts between two corpus versions compared on the
    normalized content key — the accounting that drives incremental
    pipeline runs (only added+changed docs re-enter dedup/quality;
    removed docs trigger index cleanup). Kernel: dedup/exact.py
    snapshot_diff (one id-keyed full-outer join, keys computed
    map-side). The "previous snapshot" here is an in-plan fixture
    shim on the single committed corpus (same posture as the URL
    column in text_url_canonical_dedup): id%17==3 absent from old
    (-> added), id%17==5 absent from new (-> removed), id%17==7
    drifted in old (-> changed)."""
    from cdc_2025_spark.dedup.exact import content_key, snapshot_diff

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    new = docs.filter(F.col("doc_id") % 17 != 5)
    old = docs.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 7, F.concat("text", F.lit(" drift"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, "doc_id", content_key("text"))
