"""Text-analysis queries over the documents table: token counting,
quality scoring, language ID, fingerprinting (the corpus-statistics
pass every training-data pipeline runs before filtering).

Oracles re-express the same deterministic formulas in DuckDB SQL; the
rolling fingerprint is not SQL-portable and is pinned by unit tests
instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_2025_spark.functions.text import (
    bpe_ish_token_count,
    lang_id,
    punct_ratio,
    quality_score,
    rolling_fingerprint,
    token_count,
)
from cdc_2025_spark.io import read_table, table_stamp
from cdc_2025_spark.queries.registry import query
from cdc_2025_spark.session import artifact


def _r4(c):
    return F.round(c, 4)


@query(
    "text_token_stats",
    oracle="""
    SELECT source,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS total_tokens,
           ROUND(AVG(len(string_split_regex(trim(text), '\\s+'))), 4)
               AS avg_tokens,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts per source — scan-bound, one partial
    aggregate; the canonical corpus-size pass."""
    docs = read_table(spark, sf_dir, "documents")
    nt = token_count("text")
    return docs.groupBy("source").agg(
        F.sum(nt).alias("total_tokens"),
        _r4(F.avg(nt)).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_quality_scores",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(trim(text)) AS n,
             len(string_split_regex(trim(text), '\\s+')) AS ntok,
             len(text) - len(regexp_replace(text, '[^a-zA-Z0-9_\\s]', '', 'g'))
                 AS npunct
      FROM documents
    ), parts AS (
      SELECT doc_id, lang,
             CASE WHEN n < 200 THEN n / 200.0
                  WHEN n > 2000 THEN GREATEST(0.0, 1.0 - (n - 2000.0) / 8000.0)
                  ELSE 1.0 END AS len_score,
             CASE WHEN n = 0 THEN 0.0 ELSE npunct * 1.0 / n END AS punct_r,
             CASE WHEN ntok = 0 THEN 0.0
                  ELSE (n - ntok + 1) * 1.0 / ntok END AS mean_wl
      FROM scored
    )
    SELECT doc_id, lang,
           ROUND(0.4 * len_score + 0.3 * (1.0 - punct_r) +
                 0.3 * (CASE WHEN mean_wl BETWEEN 3.0 AND 10.0 THEN 1.0
                             WHEN mean_wl < 3.0 THEN mean_wl / 3.0
                             ELSE GREATEST(0.0, 1.0 - (mean_wl - 10.0) / 10.0)
                        END), 4) AS quality
    FROM parts
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document composite quality score (length band + punctuation
    + mean word length), entirely in codegen.

    The oracle computes mean word length as (chars - tokens + 1)/tokens
    which equals non-space-chars/tokens only for single-space-joined
    text — true for this corpus; the Spark side uses the general
    regexp_replace form.
    """
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", _r4(quality_score("text")).alias("quality")
    )


@query(
    "text_lang_id_confusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS ws
      FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        len(list_filter(ws, w -> list_contains(['der','die','das','und','ist'], w))) * 1.0 / len(ws) AS s_de,
        len(list_filter(ws, w -> list_contains(['the','a','and','of','to'], w))) * 1.0 / len(ws)     AS s_en,
        len(list_filter(ws, w -> list_contains(['el','la','los','y','que'], w))) * 1.0 / len(ws)     AS s_es,
        len(list_filter(ws, w -> list_contains(['le','la','les','et','est'], w))) * 1.0 / len(ws)    AS s_fr,
        len(list_filter(ws, w -> list_contains(['的','是','了','在','我'], w))) * 1.0 / len(ws)        AS s_zh
      FROM toks
    ), pred AS (
      SELECT lang,
             CASE
               WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
               WHEN s_zh > s_de AND s_zh > s_en AND s_zh > s_es AND s_zh > s_fr THEN 'zh'
               WHEN s_fr > s_de AND s_fr > s_en AND s_fr > s_es THEN 'fr'
               WHEN s_es > s_de AND s_es > s_en THEN 'es'
               WHEN s_en > s_de THEN 'en'
               ELSE 'de' END AS predicted
      FROM scores
    )
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred
    GROUP BY lang, predicted
    """,
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion matrix (labeled lang vs
    predicted). The argmax-with-earlier-language-ties-winning fold in
    lang_id() matches the oracle's strictly-greater CASE cascade."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_punct_and_bpe",
    oracle="""
    SELECT source,
           ROUND(AVG(CASE WHEN len(text) = 0 THEN 0.0
                ELSE (len(text) - len(regexp_replace(text, '[^a-zA-Z0-9_\\s]', '', 'g')))
                      * 1.0 / len(text) END), 4) AS avg_punct_ratio,
           CAST(SUM(len(regexp_extract_all(text,
                '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1))) AS BIGINT)
               AS total_bpe_ish_tokens
    FROM documents
    GROUP BY source
    """,
)
def text_punct_and_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation-ratio stats + BPE-ish (regex pre-tokenizer) token
    totals per source."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        _r4(F.avg(punct_ratio("text"))).alias("avg_punct_ratio"),
        F.sum(bpe_ish_token_count("text")).alias("total_bpe_ish_tokens"),
    )


@query(
    "text_fingerprints",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]),
               (acc, x) -> (acc*31 + x) % 2147483647) AS fingerprint
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash per document (content fingerprint):
    fp = Horner(base 31, mod 2^31-1) over the char codepoints. The
    mod keeps every intermediate < 2^36, so the same recurrence is
    expressible overflow-free in DuckDB as a list_reduce over the
    split chars — full hash-parity oracle (was rows-only through
    round 2). Exact values additionally pinned in
    tests/test_text_functions.py against a Python reimplementation."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint("text").alias("fingerprint")
    )


# --- round-3 additions: repetition, entropy, PII scrub -------------

# Gopher-style repetition signals are emitted as INTEGER sufficient
# statistics (counts, not ratios): integer hashes are engine-exact,
# while rounded small-int quotients can land on half-boundaries where
# Spark (BigDecimal) and DuckDB (float) round differently. The
# repetition flag therefore also compares in integer arithmetic
# (5 * top_n > n_tokens  <=>  top fraction > 20%).
@query(
    "text_repetition_scores",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      FROM documents
    ),
    uni AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM toks, unnest(ws) AS u(tok)
      GROUP BY 1, 2
    ),
    ustat AS (
      SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
             MAX(c) AS top_c
      FROM uni GROUP BY 1
    ),
    bgl AS (
      SELECT doc_id,
             CASE WHEN len(ws) < 2 THEN []
                  ELSE [array_to_string(ws[i:i+1], ' ')
                        for i in range(1, len(ws))] END AS bgs
      FROM toks
    ),
    bgu AS (
      SELECT doc_id, bg, COUNT(*) AS c
      FROM bgl, unnest(bgs) AS b(bg)
      GROUP BY 1, 2
    ),
    bstat AS (
      SELECT doc_id, MAX(c) AS top_bc, SUM(c) AS n_bigrams
      FROM bgu GROUP BY 1
    )
    SELECT u.doc_id,
           CAST(u.n_tokens AS BIGINT) AS n_tokens,
           CAST(u.n_distinct AS BIGINT) AS n_distinct,
           CAST(u.top_c AS BIGINT) AS top_unigram_n,
           CAST(COALESCE(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(b.top_bc, 0) AS BIGINT) AS top_bigram_n,
           (5 * u.top_c > u.n_tokens) AS is_repetitive
    FROM ustat u LEFT JOIN bstat b USING (doc_id)
    """,
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Gopher-rule family): token
    total, distinct-token count, top unigram/bigram frequencies, and
    a >20%-top-unigram repetition flag.

    Shape: explode -> two cascaded partial aggregates, both keyed by
    doc_id (+token) — hash keys, no skew beyond document length, one
    shuffle level per n-gram order; bigram construction is a JVM
    zip_with over adjacent slices (no Python, no join). The canonical
    pre-filter pass a training-data pipeline runs corpus-wide.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("ws")
    )
    ustat = (
        toks.select("doc_id", F.explode("ws").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("count").alias("top_unigram_n"),
        )
    )
    bg = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
        " (x, y) -> concat(x, ' ', y)) "
        "ELSE array() END"
    )
    bstat = (
        toks.select("doc_id", F.explode(bg).alias("bg2"))
        .groupBy("doc_id", "bg2")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_bigrams"),
            F.max("count").alias("top_bigram_n"),
        )
    )
    return (
        ustat.join(bstat, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_unigram_n",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
            (5 * F.col("top_unigram_n") > F.col("n_tokens")).alias(
                "is_repetitive"
            ),
        )
    )


@query(
    "text_doc_entropy",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      FROM documents
    ),
    uni AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM toks, unnest(ws) AS u(tok)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4)
               AS entropy_nats
    FROM uni GROUP BY doc_id
    """,
)
def text_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy (nats) — the low-entropy /
    boilerplate detector of the quality-filter family.

    Uses the single-aggregate identity
    H = ln(n) - (sum c·ln c)/n over token counts, so the whole op is
    one explode + two partial aggregates keyed by doc_id — no second
    pass to compute probabilities. Rounded AFTER aggregation (noise
    ~1e-15, never at a 4-decimal boundary).
    """
    docs = read_table(spark, sf_dir, "documents")
    uni = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .count()
    )
    return uni.groupBy("doc_id").agg(
        F.sum("count").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(
            F.log(F.sum("count"))
            - F.sum(F.col("count") * F.log("count")) / F.sum("count"),
            4,
        ).alias("entropy_nats"),
    )


# The testdata corpus carries no raw PII, so the scrub query composes
# a deterministic contact string from real customer fields and runs
# the scrubber over that — the regex detect/redact operator is what's
# under test, and every row exercises a real match.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"555-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=rf"""
    WITH t AS (
      SELECT c_mktsegment,
             c_name || ' <user' || CAST(c_custkey AS VARCHAR)
               || '@example.com> call 555-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               AS contact
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(len(regexp_extract_all(contact, '{PII_EMAIL}')))
                AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(contact, '{PII_PHONE}')))
                AS BIGINT) AS n_phones,
           CAST(SUM(len(contact)) AS BIGINT) AS len_raw,
           CAST(SUM(len(
             regexp_replace(
               regexp_replace(contact, '{PII_EMAIL}', '[EMAIL]', 'g'),
               '{PII_PHONE}', '[PHONE]', 'g')
           )) AS BIGINT) AS len_scrubbed
    FROM t GROUP BY 1
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact rollup: composes a contact string per
    customer, counts email/phone matches, and measures pre/post
    redaction lengths per market segment.

    Pure Catalyst expressions (concat/regexp_count/regexp_replace) —
    scan-bound with one partial aggregate; regexes use the
    Java-regex ∩ RE2 common dialect (character classes + bounded
    quantifiers, no lookaround) so engine parity is structural.
    """
    cust = read_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com> call 555-"),
        F.lpad(
            F.pmod(F.col("c_custkey"), F.lit(10000)).cast("string"),
            4,
            "0",
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(contact, F.lit(PII_EMAIL), F.lit("[EMAIL]")),
        F.lit(PII_PHONE),
        F.lit("[PHONE]"),
    )
    return (
        cust.select(
            "c_mktsegment",
            contact.alias("contact"),
            scrubbed.alias("scrubbed"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.regexp_count("contact", F.lit(PII_EMAIL))).alias(
                "n_emails"
            ),
            F.sum(F.regexp_count("contact", F.lit(PII_PHONE))).alias(
                "n_phones"
            ),
            F.sum(F.length("contact")).alias("len_raw"),
            F.sum(F.length("scrubbed")).alias("len_scrubbed"),
        )
    )


TFIDF_TOP_K = 3


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ranked AS (
      SELECT doc_id, term, tf,
             tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) DESC,
                        term
             ) AS rnk
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           ROUND(tfidf, 4) AS tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {TFIDF_TOP_K}
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic distributed
    term-weighting pass (smoothed idf = ln((N+1)/(df+1)) + 1, sklearn
    convention) used for keyword extraction and cheap topic signals
    before training.

    Scale shape: one (doc, term) shuffle for tf; the document-
    frequency table is vocabulary-sized — orders of magnitude smaller
    than the corpus — and BROADCAST to the tf rows (no second corpus
    shuffle); the corpus-size scalar rides the same broadcast via
    crossJoin. Top-k per doc is a WindowGroupLimit on the existing
    doc_id partitioning. Ties rank by term (both engines), and
    rounding happens after ranking, so the oracle hash-matches
    exactly.
    """
    from cdc_2025_spark.functions.text import tokens

    docs = read_table(
        spark, sf_dir, "documents", spread_key="doc_id"
    )
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df derives from tf, not from a second corpus pass: tf rows are
    # unique per (doc, term), so count-per-term == distinct-doc count,
    # and the aggregate rides tf's existing shuffle output
    # (checkpointing tf was measured SLOWER at sf0.1 — the
    # materialization job costs more than the saved recompute)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # r16: the corpus count reads the UNSPREAD handle — an
    # aggregate-only scan gains nothing from the spread exchange
    n_docs = read_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    idf = (
        df.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            (
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
            ).alias("idf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("idf")).desc(), "term"
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", _r4("tfidf").alias("tfidf"), "rnk")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20
BM25_QUERY_TERMS = ("stream", "vector", "merge")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)


@query(
    "text_bm25_search",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, trim(lower(coalesce(text, ''))) AS t FROM documents
    ), dl AS (
      SELECT doc_id, t,
             CASE WHEN t = '' THEN 0
                  ELSE len(string_split_regex(t, '\\s+')) END AS dl
      FROM base
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tok AS (
      SELECT doc_id, dl,
             unnest(string_split_regex(t, '\\s+')) AS term
      FROM dl WHERE t <> ''
    ), tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
      WHERE term IN ({_BM25_TERMS_SQL})
      GROUP BY 1, 2, 3
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT doc_id,
             SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * (tf * ({BM25_K1} + 1.0))
                 / (tf + {BM25_K1} * (1.0 - {BM25_B}
                                      + {BM25_B} * dl / avgdl))) AS score,
             COUNT(*) AS n_terms_hit
      FROM tf JOIN df USING (term) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
           ROUND(score, 4) AS bm25
    FROM scored ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOP_K} retrieval for a fixed multi-term query —
    the Okapi ranking function (Robertson & Zaragoza, FnTIR'09:
    idf = ln(1 + (N - df + ½)/(df + ½)), k1={BM25_K1}, b={BM25_B})
    that backs keyword retrieval in RAG pipelines and quality-biased
    corpus sampling.

    Scale shape: the term filter lands immediately after the explode,
    so only postings for the query's terms ever reach a shuffle — the
    tf aggregate is bounded by the query terms' document frequency,
    not the corpus token count. Document length rides the narrow
    pre-explode projection (no corpus-sized join to recover it), the
    per-term df/idf table is query-sized and BROADCAST, and the
    corpus-level scalars (N, avgdl) ride the same broadcast via
    crossJoin. The final top-k is a TakeOrderedAndProject, never a
    global sort."""
    from cdc_2025_spark.functions.text import tokens

    docs = read_table(
        spark, sf_dir, "documents", spread_key="doc_id"
    )
    base = docs.select(
        "doc_id",
        F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias("t"),
    ).withColumn(
        "dl",
        F.when(F.length("t") == 0, F.lit(0)).otherwise(F.size(tokens("t"))),
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode(tokens("t")).alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
            "avgdl",
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (
                F.col("tf")
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"), F.count("*").alias("n_terms_hit"))
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP_K)
        .select("doc_id", "n_terms_hit", _r4("score").alias("bm25"))
    )


WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # winnowing window (hashes per window)
_WINNOW_ENC = 1 << 20  # (hash, pos) -> hash*2^20 + pos, pos < 2^20


def _winnow_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, n, keys): the normalized text's encoded k-gram key
    array per document — keys[i-1] = hash(k-gram at i)*2^20 + i, n =
    k-gram count (may be <= 0 for short docs; then keys is empty).
    The SINGLE definition of normalization, the position-encoding
    overflow guard, and the k-gram hash — winnow_selected explodes
    this and the registered fingerprint rollup consumes it in array
    form, so the two can never desync."""
    base = docs.select(
        "doc_id",
        F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias("t"),
    ).withColumn(
        # fail loud instead of silently corrupting the (hash, pos)
        # encoding: pos must fit the 2^20 slot
        "t",
        F.when(
            F.length("t") >= F.lit(_WINNOW_ENC),
            F.raise_error(
                F.concat(
                    F.lit(
                        "winnowing position encoding overflow: document "
                    ),
                    F.col("doc_id").cast("string"),
                    F.lit(f" exceeds {_WINNOW_ENC} chars"),
                )
            ).cast("string"),
        ).otherwise(F.col("t")),
    )
    # sequence() counts DOWN when start > stop — guard the short-doc
    # case with an explicit empty array
    return base.select(
        "doc_id",
        (F.length("t") - F.lit(WINNOW_K - 1)).alias("n"),
        F.expr(
            f"""CASE WHEN length(t) >= {WINNOW_K}
                THEN transform(
                    sequence(1, length(t) - {WINNOW_K - 1}),
                    i -> CAST(conv(substring(
                             md5(substring(t, i, {WINNOW_K})),
                             1, 8), 16, 10) AS BIGINT)
                         * {_WINNOW_ENC} + i)
                ELSE CAST(array() AS ARRAY<BIGINT>) END"""
        ).alias("keys"),
    )


def winnow_selected(docs: DataFrame) -> DataFrame:
    """Winnowing selection stage: per (doc_id) the chosen
    (pos, sel, n_kgrams) rows, sel = hash*2^20 + pos of each sliding
    window's leftmost-minimal k-gram hash (sel >> 20 recovers the
    fingerprint hash). Shared by the registered rollup and the
    match-guarantee tests."""
    grams = (
        _winnow_keys(docs)
        .select("doc_id", F.explode("keys").alias("key"))
        .select(
            "doc_id",
            (F.col("key") % _WINNOW_ENC).cast("int").alias("pos"),
            "key",
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    tot = Window.partitionBy("doc_id")
    return grams.select(
        "doc_id",
        "pos",
        F.min("key").over(win).alias("sel"),
        F.count("*").over(tot).alias("n_kgrams"),
    ).filter(
        (F.col("pos") >= WINNOW_W) | (F.col("pos") == F.col("n_kgrams"))
    )


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, trim(lower(coalesce(text, ''))) AS t FROM documents
    ), grams AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(md5(substring(t, i, {WINNOW_K})), 1, 8))
                  AS BIGINT) * {_WINNOW_ENC} + i AS key
      FROM base,
           unnest([i for i in range(1, len(t) - {WINNOW_K - 2})]) AS r(i)
    ), sel AS (
      SELECT doc_id, pos,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                            AND CURRENT ROW) AS sel,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_kgrams
      FROM grams
    ), fp AS (
      SELECT DISTINCT doc_id, n_kgrams, sel
      FROM sel WHERE pos >= {WINNOW_W} OR pos = n_kgrams
    )
    SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           ROUND(COUNT(*) * 1.0 / n_kgrams, 4) AS density,
           CAST(BIT_XOR(sel) AS BIGINT) AS fp_checksum
    FROM fp GROUP BY doc_id, n_kgrams
    """,
)
def text_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS scheme): hash every {WINNOW_K}-char k-gram,
    slide a window of {WINNOW_W} consecutive hashes, keep each
    window's minimum. Any substring match of length >=
    {WINNOW_K + WINNOW_W - 1} chars is guaranteed to share a
    fingerprint, with expected density 2/(w+1) — the local-algorithm
    guarantee rolling-hash sampling (text_fingerprints) lacks. Ties
    break to the LEFTMOST minimal hash via the (hash, pos) ->
    hash*2^20 + pos encoding, so min() alone is the full selection
    rule on both engines (pos < 2^20 — guarded; the classic rule
    breaks rightmost, which changes density constants only, not the
    guarantee). Emits per-doc k-gram count, fingerprint count,
    density, and an order-independent XOR checksum of the selected
    (hash, pos) keys.

    Shape: ZERO shuffles — the whole selection happens per document
    row in array expressions (k-gram keys, per-window array_min over
    slices, array_distinct, xor fold), so the query is a pure scan
    whose output is already one row per doc. The previous form
    exploded ~n_chars rows per doc and sorted them in a per-doc
    window (one exchange of the full k-gram stream); the array form
    computes the identical integers — same md5/conv k-gram keys, same
    leftmost-min (hash, pos) selection, same xor — with nothing
    leaving the scan task (winnow_selected keeps the exploded form
    for the match-guarantee tests). Docs shorter than {WINNOW_K}
    chars have no k-grams and are absent on both sides. Short docs
    (n < w) keep the global minimum, matching the exploded form's
    pos = n_kgrams escape.
    """
    docs = read_table(spark, sf_dir, "documents")
    keyed = _winnow_keys(docs).filter(F.col("n") >= 1)
    sel = keyed.select(
        "doc_id",
        "n",
        F.expr(
            f"""array_distinct(CASE WHEN n >= {WINNOW_W}
                THEN transform(
                    sequence({WINNOW_W}, n),
                    p -> array_min(slice(keys, p - {WINNOW_W - 1},
                                         {WINNOW_W})))
                ELSE array(array_min(keys)) END)"""
        ).alias("fp"),
    )
    return sel.select(
        "doc_id",
        F.col("n").cast("long").alias("n_kgrams"),
        F.size("fp").cast("long").alias("n_fp"),
        F.round(F.size("fp") / F.col("n"), 4).alias("density"),
        F.expr("aggregate(fp, 0L, (a, x) -> a ^ x)").alias(
            "fp_checksum"
        ),
    )


CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 16 tokens


@query(
    "text_chunk_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             string_split_regex(
               trim(lower(coalesce(text, ''))), '\\s+') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(s AS BIGINT) AS chunk_start,
           CAST(len(ws[s+1:s+{CHUNK_SIZE}]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(ws[s+1:s+{CHUNK_SIZE}], ' ') AS chunk_text
    FROM base,
         unnest([s for s in range(
             0, GREATEST(len(ws) - {CHUNK_SIZE - CHUNK_STRIDE}, 1),
             {CHUNK_STRIDE})]) AS r(s)
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep
    step of RAG indexing and long-document training pipelines: each
    document becomes chunks of {CHUNK_SIZE} whitespace tokens taken
    every {CHUNK_STRIDE} (16-token overlap), the final chunk clamped
    at the document end, short documents yielding exactly one chunk.

    Start positions follow the standard chunker rule: multiples of
    the stride strictly below max(n_tokens - overlap, 1) — always
    including 0, never emitting a tail chunk fully contained in its
    predecessor.

    Shape: tokenize + sequence-explode + slice, all codegen'd
    expressions on a NARROW plan — zero shuffles, zero Python; the
    scan parallelism is the whole story, so this runs at whatever
    rate the source can be read at any corpus size. (Contrast
    text_pack_sequences, which needs per-bucket windows: chunking is
    per-document, so Spark never has to co-locate anything.)

    NULL text coalesces to '' on BOTH sides (one single-token chunk),
    so a null-text document cannot diverge from the oracle — Spark's
    greatest() skips NULLs where DuckDB's unnest-of-NULL drops rows
    (r7 ADVICE; null case pinned in tests/test_text.py)."""
    from cdc_2025_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    overlap = CHUNK_SIZE - CHUNK_STRIDE
    toks = docs.select(
        "doc_id",
        tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias(
            "ws"
        ),
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("ws") - overlap, F.lit(1)) - 1,
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("ws"), F.col("s") + 1, CHUNK_SIZE)
    return (
        toks.select("doc_id", F.explode(starts).alias("s"), "ws")
        .select(
            "doc_id",
            F.col("s").cast("long").alias("chunk_start"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# the corpus-LM CTE chain (toks -> bigrams -> counts -> per-doc
# perplexity), shared by the perplexity query and the CCNet-style
# bucket partitioner below; ends with `fin (doc_id, n_bigrams,
# avg_nll, perplexity)`
_PPLX_CTES = """
    toks AS (
      SELECT doc_id, i - 1 AS pos, ws[i] AS tok
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM documents),
           unnest([i for i in range(1, len(ws) + 1)]) AS r(i)
    ),
    bg AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cnt_bg AS (
      SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2
    ),
    cnt_w1 AS (
      SELECT w1, COUNT(*) AS c_w1 FROM bg GROUP BY w1
    ),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
    scored AS (
      SELECT bg.doc_id,
             ln((cnt_w1.c_w1 + v.v) * 1.0 / (cnt_bg.c_bg + 1)) AS nll
      FROM bg
      JOIN cnt_bg ON bg.w1 = cnt_bg.w1 AND bg.w2 = cnt_bg.w2
      JOIN cnt_w1 ON bg.w1 = cnt_w1.w1
      CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(nll), 4) AS avg_nll,
             ROUND(EXP(AVG(nll)), 4) AS perplexity
      FROM scored GROUP BY doc_id
    ),
    fin AS (
      SELECT d.doc_id,
             CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             agg.avg_nll, agg.perplexity
      FROM documents d LEFT JOIN agg USING (doc_id)
    )
"""


@query(
    "text_bigram_perplexity",
    oracle=f"""
    WITH {_PPLX_CTES}
    SELECT doc_id, n_bigrams, avg_nll, perplexity FROM fin
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM perplexity per document — the CCNet-style quality
    signal (Wenzek et al., "CCNet: Extracting High Quality
    Monolingual Datasets from Web Crawl Data", LREC 2020 filters on
    LM perplexity; this is its transparent in-corpus analogue): an
    add-1-smoothed bigram MLE model is trained ON the corpus in one
    aggregate pass, and every document is scored by its average
    negative log-likelihood, perplexity = exp(avg_nll). Documents
    whose phrasing the corpus has seen before (boilerplate, templated
    text) score LOW; out-of-distribution token soup scores HIGH —
    both tails are the standard cut candidates.

    Shape, built to scale: token/bigram construction is the codegen'd
    posexplode + window-lead pipeline; bigram and context counts are
    two grouped aggregates SHUFFLED ON xxhash64 8-byte keys (the
    repeated-spans trade: a 64-bit collision merges two bigrams'
    counts — birthday-bounded, string-group equality pinned on the
    fixture in tests); scoring re-joins occurrences to the
    distinct-bigram count table on the same hash keys (map-side
    partial aggregation, no broadcast of corpus-sized state), while
    the CONTEXT count table is BROADCAST: cnt_w1 is vocabulary-sized
    (distinct w1), and its key distribution in the occurrence join
    is Zipfian — stopword contexts are hot keys at 100x, so a
    shuffle join on w1_h would skew where a broadcast costs only
    |vocab| rows (the identical move TF-IDF makes for its idf table;
    plan-pinned in tests/test_plan_shape.py). cnt_bg stays a shuffle
    join — distinct-bigram-sized is NOT broadcastable at scale. The
    vocabulary size is one scalar crossJoin. NULL metrics for docs
    with < 2 tokens (no bigrams — nothing to score, mirrored by the
    oracle's left join)."""
    return perplexity_frame(spark, sf_dir)


def perplexity_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll, perplexity) — the reusable
    corpus-LM scorer behind text_bigram_perplexity and the CCNet
    bucket partitioner. spread_key parallelizes the tokenize+explode
    past the single-row-group local scan (layout-guarded, a no-op at
    real scale — io.read_table)."""
    from cdc_2025_spark.functions.text import tokens

    # r16: the final join's doc_id-only scan reads the UNSPREAD
    # handle (below), so the plan carries the
    # REPARTITION_BY_NUM(doc_id) exchange only where the per-row
    # tokenize compute lives (the bigram checkpoint build and the
    # vocab count) instead of re-shuffling a 1-column projection too
    # — part of the r15 32-core regression on this query.
    # (Checkpointing the token frame to also share the tokenize
    # between the bigram build and the vocab count was measured
    # SLOWER at sf0.1: the extra materialization job costs more than
    # the saved recompute.)
    docs = read_table(spark, sf_dir, "documents", spread_key="doc_id")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    # lazy localCheckpoint: the bigram frame feeds THREE subtrees of
    # this one plan (both count aggregates and the scoring re-join) —
    # without it the tokenize + per-doc window executes three times
    # per action. Blocks release when the returned plan is GC'd
    # (the persist-vs-checkpoint note in .claude/skills/verify).
    bg = (
        toks.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .withColumn("bg_h", F.xxhash64("w1", "w2"))
        .withColumn("w1_h", F.xxhash64("w1"))
        .localCheckpoint(eager=False)
    )
    cnt_bg = bg.groupBy("bg_h").agg(F.count("*").alias("c_bg"))
    cnt_w1 = bg.groupBy("w1_h").agg(F.count("*").alias("c_w1"))
    v = toks.agg(F.countDistinct("tok").alias("v"))
    scored = (
        bg.join(cnt_bg, "bg_h")
        .join(F.broadcast(cnt_w1), "w1_h")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.col("c_w1") + F.col("v"))
                / (F.col("c_bg") + F.lit(1))
            ).alias("nll"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        F.round(F.exp(F.avg("nll")), 4).alias("perplexity"),
    )
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            "avg_nll",
            "perplexity",
        )
    )


QUALITY_DROP_PCT = 0.25  # drop the bottom quartile per source


@query(
    "text_quality_percentile_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(trim(text)) AS n,
             len(string_split_regex(trim(text), '\\s+')) AS ntok,
             len(text) - len(regexp_replace(text,
                 '[^a-zA-Z0-9_\\s]', '', 'g')) AS npunct
      FROM documents
    ), parts AS (
      SELECT doc_id, source,
             CASE WHEN n < 200 THEN n / 200.0
                  WHEN n > 2000
                    THEN GREATEST(0.0, 1.0 - (n - 2000.0) / 8000.0)
                  ELSE 1.0 END AS len_score,
             CASE WHEN n = 0 THEN 0.0
                  ELSE npunct * 1.0 / n END AS punct_r,
             CASE WHEN ntok = 0 THEN 0.0
                  ELSE (n - ntok + 1) * 1.0 / ntok END AS mean_wl
      FROM scored
    ), q AS (
      SELECT doc_id, source,
             ROUND(0.4 * len_score + 0.3 * (1.0 - punct_r) +
                   0.3 * (CASE
                       WHEN mean_wl BETWEEN 3.0 AND 10.0 THEN 1.0
                       WHEN mean_wl < 3.0 THEN mean_wl / 3.0
                       ELSE GREATEST(0.0,
                            1.0 - (mean_wl - 10.0) / 10.0)
                   END), 4) AS quality
      FROM parts
    ), thr AS (
      SELECT source,
             quantile_disc(quality, {QUALITY_DROP_PCT})
               AS src_threshold
      FROM q GROUP BY source
    )
    SELECT q.doc_id, q.source, q.quality, thr.src_threshold,
           q.quality >= thr.src_threshold AS keep
    FROM q JOIN thr USING (source)
    """,
)
def text_quality_percentile_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adaptive quality filtering: keep each document iff its
    composite quality score (the text_quality_scores formula) clears
    its SOURCE's {QUALITY_DROP_PCT:.0%}-percentile — the per-domain
    calibration real pipelines use instead of one global cutoff (a
    fixed threshold tuned on web text would gut a code or forum
    source wholesale; CCNet makes the same move with per-language
    perplexity buckets).

    The threshold is percentile_DISC — an actual observed score, so
    both engines pick the identical value with no interpolation
    arithmetic to diverge on (scores are rounded to 4dp BEFORE the
    percentile in both).

    Shape: scoring rides the scan (codegen string expressions); the
    thresholds are one tiny grouped aggregate (|sources| rows)
    BROADCAST back — the corpus never shuffles at all. The same plan
    at 100 TB: per-source sufficient stats, map-side partials, a
    20-row broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        _r4(quality_score("text")).alias("quality"),
    )
    thr = scored.groupBy("source").agg(
        F.expr(
            f"percentile_disc({QUALITY_DROP_PCT}) "
            "WITHIN GROUP (ORDER BY quality)"
        ).alias("src_threshold")
    )
    return scored.join(F.broadcast(thr), "source").select(
        "doc_id",
        "source",
        "quality",
        "src_threshold",
        (F.col("quality") >= F.col("src_threshold")).alias("keep"),
    )


VOCAB_COVERAGE_GRID = (10, 25, 50, 100, 250)


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT term, COUNT(*) AS tf FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
          AS term
        FROM documents WHERE len(trim(text)) > 0)
      GROUP BY 1
    ), ranked AS (
      SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS rnk
      FROM tf
    ), tot AS (SELECT SUM(tf) AS total FROM tf)
    SELECT v AS vocab_size,
           CAST(SUM(CASE WHEN rnk <= v THEN tf ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           ROUND(SUM(CASE WHEN rnk <= v THEN tf ELSE 0 END)
                 * 1.0 / total, 4) AS coverage
    FROM ranked
    CROSS JOIN unnest([{", ".join(map(str, VOCAB_COVERAGE_GRID))}])
      AS g(v)
    CROSS JOIN tot
    GROUP BY v, total
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf VOCABULARY-COVERAGE curve: for each candidate vocabulary
    size V, the fraction of all token occurrences covered by the top
    V terms \u2014 the statistic that sizes a tokenizer vocabulary (or an
    OOV budget) before training one. Rank ties break by term so both
    engines cut the same top-V set.

    Shape: one corpus token aggregate (map-side partials into a
    vocabulary-sized frame); the ranking window and the V-grid
    cross join run on that vocab-sized frame \u2014 deliberately
    single-partition (the yield-curve posture), constant work at any
    corpus scale."""
    from cdc_2025_spark.functions.text import tokens

    docs = read_table(
        spark, sf_dir, "documents", spread_key="doc_id"
    )
    tf = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    ranked = tf.select(
        "tf",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "term"))
        .alias("rnk"),
    )
    grid = spark.createDataFrame(
        [(v,) for v in VOCAB_COVERAGE_GRID], "vocab_size int"
    )
    covered = F.sum(
        F.when(F.col("rnk") <= F.col("vocab_size"), F.col("tf")).otherwise(
            F.lit(0)
        )
    )
    # r16: the corpus-total divisor folds into the final aggregate —
    # every vocab_size group contains EVERY ranked term row, so
    # SUM(tf) per group IS the corpus token total (integer sum, exact
    # in any order). The r15 shape computed it as a separate
    # aggregate subtree, which re-executed the whole tokenize+spread
    # pass per action (tf is not pinned) and broadcast one number.
    return (
        ranked.crossJoin(F.broadcast(grid))
        .groupBy("vocab_size")
        .agg(
            covered.cast("long").alias("covered_tokens"),
            F.round(covered / F.sum("tf"), 4).alias("coverage"),
        )
        .select("vocab_size", "covered_tokens", "coverage")
    )


_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\u200b-\u200d\ufeff]"


def clean_text(text) -> "Column":
    """Normalization kernel: strip control + zero-width characters
    (C0 controls except \\t/\\n/\\r, DEL, ZWSP..ZWJ, BOM), collapse
    whitespace runs to single spaces, trim. The C4/CCNet-style
    cleaning pass that runs before tokenization — mojibake and
    invisible characters otherwise split tokens and defeat exact
    dedup keys."""
    col = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(col, _CTRL_RE, "")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


@query(
    "text_clean_normalize",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             coalesce(text, '') AS raw,
             trim(regexp_replace(
               regexp_replace(coalesce(text, ''),
                 '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f' ||
                 chr(8203) || '-' || chr(8205) || chr(65279) || ']',
                 '', 'g'),
               '\\s+', ' ', 'g')) AS clean
      FROM documents
    )
    SELECT doc_id,
           CAST(len(raw) AS BIGINT) AS raw_len,
           CAST(len(clean) AS BIGINT) AS clean_len,
           (raw <> clean) AS changed
    FROM c
    """,
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cleaning audit for the normalization kernel
    (clean_text above): raw vs cleaned length and a changed flag —
    the accounting a pipeline logs for its normalize stage. Runs
    entirely in codegen regexp on the scan: ZERO shuffles at any
    corpus size (narrow map-only plan). The committed corpus is
    already clean (changed=false throughout at every sf — itself the
    assertion that normalization is idempotent on clean text); the
    dirty-input behavior is pinned on fixtures in
    test_text_functions.py."""
    docs = read_table(spark, sf_dir, "documents")
    raw = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        F.length(raw).cast("long").alias("raw_len"),
        F.length(clean_text(raw)).cast("long").alias("clean_len"),
        (raw != clean_text(raw)).alias("changed"),
    )


PMI_TOP_K = 20
PMI_MIN_DF = 5  # a term must appear in >= this many docs
PMI_MIN_COOC = 5  # a pair must co-occur in >= this many docs


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH tokd AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS term
        FROM documents)
    ), cx AS (
      SELECT term, COUNT(*) AS df FROM tokd
      GROUP BY 1 HAVING COUNT(*) >= {PMI_MIN_DF}
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    pairs AS (
      SELECT a.term AS t1, b.term AS t2, COUNT(*) AS cooc
      FROM tokd a JOIN tokd b ON a.doc_id = b.doc_id
                              AND a.term < b.term
      WHERE a.term IN (SELECT term FROM cx)
        AND b.term IN (SELECT term FROM cx)
      GROUP BY 1, 2 HAVING COUNT(*) >= {PMI_MIN_COOC}
    ), scored AS (
      SELECT t1, t2, cooc,
             ln(n_docs * cooc * 1.0 / (c1.df * c2.df)) AS pmi
      FROM pairs JOIN cx c1 ON t1 = c1.term
                 JOIN cx c2 ON t2 = c2.term
                 CROSS JOIN n
    )
    SELECT t1, t2, CAST(cooc AS BIGINT) AS cooc, ROUND(pmi, 4) AS pmi
    FROM scored ORDER BY pmi DESC, t1, t2 LIMIT {PMI_TOP_K}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP_K} COLLOCATIONS by document-level pointwise mutual
    information — PMI(x,y) = ln(N·c_xy / (c_x·c_y)) over per-document
    distinct-term co-occurrence (Church & Hanks, CL'90), the corpus
    statistic behind phrase mining and topic-signal extraction; both
    a min-df and a min-support floor (the standard guard: PMI of rare
    pairs is maximal noise).

    Shape: the frequent-term table (df >= {PMI_MIN_DF}) is
    vocabulary-bounded and BROADCAST onto the postings before the
    within-doc self-join, so the pair fan-out per document is capped
    by its FREQUENT-term count, never its raw vocabulary, and the
    global pair space by frequent-vocab² — the standard collocation
    bound. The self-join shuffles on doc_id once (both sides from the
    same distinct-terms frame); per-term df rides the broadcast, so
    scoring needs no further vocab join. Top-k is a
    TakeOrderedAndProject."""
    from cdc_2025_spark.functions.text import tokens

    docs = read_table(
        spark, sf_dir, "documents", spread_key="doc_id"
    )
    # r16: the distinct-terms postings feed TWO subtrees (the df
    # aggregate and the broadcast-filtered self-join input) —
    # checkpoint them so the tokenize+array_distinct+explode+spread
    # executes once per action instead of twice; the corpus count
    # reads the UNSPREAD handle (aggregate-only scan).
    tokd = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens(F.lower(F.trim(F.col("text")))))
        ).alias("term"),
    ).localCheckpoint(eager=False)
    cx = (
        tokd.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= PMI_MIN_DF)
    )
    tokf = tokd.join(F.broadcast(cx), "term")
    a = tokf.select(
        "doc_id", F.col("term").alias("t1"), F.col("df").alias("df1")
    )
    b = tokf.select(
        "doc_id", F.col("term").alias("t2"), F.col("df").alias("df2")
    )
    n = read_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2", "df1", "df2")
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= PMI_MIN_COOC)
        .crossJoin(F.broadcast(n))
    )
    pmi = F.log(
        F.col("n_docs") * F.col("cooc") / (F.col("df1") * F.col("df2"))
    )
    return (
        pairs.withColumn("pmi", pmi)
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(PMI_TOP_K)
        .select("t1", "t2", "cooc", _r4("pmi").alias("pmi"))
    )


@query(
    "text_quality_yield_curve",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             len(trim(text)) AS n,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END
               AS ntok,
             len(text) - len(regexp_replace(text, '[^a-zA-Z0-9_\\s]',
                                            '', 'g')) AS npunct
      FROM documents
    ), parts AS (
      SELECT doc_id, ntok,
             CASE WHEN n < 200 THEN n / 200.0
                  WHEN n > 2000
                    THEN GREATEST(0.0, 1.0 - (n - 2000.0) / 8000.0)
                  ELSE 1.0 END AS len_score,
             CASE WHEN n = 0 THEN 0.0 ELSE npunct * 1.0 / n END
               AS punct_r,
             CASE WHEN ntok = 0 THEN 0.0
                  ELSE (n - ntok + 1) * 1.0 / ntok END AS mean_wl
      FROM scored
    ), q AS (
      SELECT doc_id, ntok,
             ROUND(0.4 * len_score + 0.3 * (1.0 - punct_r) +
                   0.3 * (CASE WHEN mean_wl BETWEEN 3.0 AND 10.0
                               THEN 1.0
                               WHEN mean_wl < 3.0 THEN mean_wl / 3.0
                               ELSE GREATEST(0.0,
                                    1.0 - (mean_wl - 10.0) / 10.0)
                          END), 4) AS quality
      FROM parts
    ), bucketed AS (
      SELECT LEAST(CAST(FLOOR(quality * 10) AS INTEGER), 9) AS bucket,
             COUNT(*) AS n_docs, SUM(ntok) AS n_tokens
      FROM q GROUP BY 1
    ), tot AS (SELECT SUM(n_tokens) AS tot_tokens FROM bucketed)
    SELECT bucket, ROUND(bucket / 10.0, 1) AS threshold_lo,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(SUM(n_docs) OVER (ORDER BY bucket DESC) AS BIGINT)
             AS cum_docs,
           CAST(SUM(n_tokens) OVER (ORDER BY bucket DESC) AS BIGINT)
             AS cum_tokens,
           ROUND(SUM(n_tokens) OVER (ORDER BY bucket DESC)
                 * 1.0 / tot_tokens, 4) AS token_yield
    FROM bucketed CROSS JOIN tot
    """,
)
def text_quality_yield_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-filter YIELD CURVE: how many documents and tokens
    survive at each candidate quality threshold — the
    quantity-vs-quality tradeoff table a pipeline reads before
    choosing its filter cutoff (raising the bar costs tokens;
    this prices each step). Docs land in 10 score deciles;
    `cum_tokens`/`token_yield` at bucket b = corpus retained by
    filtering at threshold b/10.

    Shape: scoring and bucketing ride the scan (codegen string
    expressions, map-side partial agg into <= 10 groups); the
    cumulative window and the total-token scalar run on the 10-row
    frame. One corpus-scan aggregate, everything downstream is
    constant-size at any corpus scale."""
    from cdc_2025_spark.functions.text import token_count

    docs = read_table(spark, sf_dir, "documents")
    q = docs.select(
        _r4(quality_score("text")).alias("quality"),
        token_count("text").alias("ntok"),
    )
    bucketed = (
        q.select(
            F.least(
                F.floor(F.col("quality") * 10).cast("int"), F.lit(9)
            ).alias("bucket"),
            "ntok",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"), F.sum("ntok").alias("n_tokens")
        )
    )
    tot = bucketed.agg(F.sum("n_tokens").alias("tot_tokens"))
    w = Window.orderBy(F.col("bucket").desc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(F.col("bucket") / 10.0, 1).alias("threshold_lo"),
            "n_docs",
            "n_tokens",
            F.sum("n_docs").over(w).alias("cum_docs"),
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.round(
                F.sum("n_tokens").over(w) / F.col("tot_tokens"), 4
            ).alias("token_yield"),
        )
    )


PPLX_HEAD_PCT = 0.33
PPLX_MID_PCT = 0.67


@query(
    "text_perplexity_buckets",
    oracle=f"""
    WITH {{pplx}}
    , thr AS (
      SELECT quantile_disc(perplexity, {PPLX_HEAD_PCT}) AS p_head,
             quantile_disc(perplexity, {PPLX_MID_PCT}) AS p_mid
      FROM fin WHERE perplexity IS NOT NULL
    )
    SELECT fin.doc_id, fin.n_bigrams, fin.perplexity,
           CASE WHEN fin.perplexity IS NULL THEN 'unscored'
                WHEN fin.perplexity <= thr.p_head THEN 'head'
                WHEN fin.perplexity <= thr.p_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM fin CROSS JOIN thr
    """.format(pplx=_PPLX_CTES),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail partitioning (Wenzek et al. LREC
    2020): score every document with the corpus-LM perplexity
    (perplexity_frame), then split the corpus at its own
    {PPLX_HEAD_PCT:.0%}/{PPLX_MID_PCT:.0%} perplexity percentiles —
    'head' is the most-fluent third the paper keeps outright,
    'middle' is kept-with-sampling, 'tail' is the cut candidate.
    Documents with no bigrams to score land in an explicit
    'unscored' bucket rather than silently joining a tercile.

    Thresholds are percentile_DISC on the 4dp-rounded scores —
    observed values, engine-identical (the
    text_quality_percentile_filter posture), so the whole decision
    table hash-matches.

    Shape: the scorer's shape is text_bigram_perplexity's (one
    broadcast + one hash join on 8-byte keys); the thresholds are a
    TWO-ROW aggregate broadcast back; bucketing is a codegen CASE.
    Nothing new shuffles — the partitioner is free on top of the
    score."""
    p = perplexity_frame(spark, sf_dir)
    thr = p.filter(F.col("perplexity").isNotNull()).agg(
        F.expr(
            f"percentile_disc({PPLX_HEAD_PCT}) "
            "WITHIN GROUP (ORDER BY perplexity)"
        ).alias("p_head"),
        F.expr(
            f"percentile_disc({PPLX_MID_PCT}) "
            "WITHIN GROUP (ORDER BY perplexity)"
        ).alias("p_mid"),
    )
    return p.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_bigrams",
        "perplexity",
        F.when(F.col("perplexity").isNull(), F.lit("unscored"))
        .when(F.col("perplexity") <= F.col("p_head"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("p_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


BPE_N_MERGES = 20


def _bpe_merges(spark: SparkSession, sf_dir: str):
    """Learned merge list, a session artifact per corpus like the
    IVF/PQ/PCA quantizers: both BPE queries share one training run."""
    from cdc_2025_spark.functions.bpe import bpe_train

    docs = read_table(spark, sf_dir, "documents")
    key = ("bpe_merges", sf_dir, BPE_N_MERGES,
           table_stamp(sf_dir, "documents"))
    return artifact(spark, key, lambda: bpe_train(docs, BPE_N_MERGES))


@query("text_bpe_vocab_merges")
def text_bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction over the corpus (Sennrich et al.
    ACL 2016) — learn the first 20 merge rules of a subword
    tokenizer from the documents table: the vocab-construction step
    of an LLM data pipeline, run where the data lives.

    rows-only by design: the merge sequence is iterative and
    data-dependent (each round's pair statistics depend on all
    previous merges) — no SQL twin. Accuracy is pinned in
    tests/test_bpe.py: exact merge-sequence equality against a
    pure-python Sennrich reference model under the same
    (max count, lexicographic) tiebreak, plus segmentation and
    early-stop behavior.

    Shape, built to scale (the published algorithm's own property):
    ONE corpus-sized aggregate builds the (word, freq) table; all
    20 rounds then run on that vocabulary-sized frame — an
    adjacent-pair explode + grouped weighted count + limit(1)
    argmax (TakeOrderedAndProject) and one Arrow-batched rewrite per
    round. At 100 TB the corpus is read once; rounds never touch it.
    """
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(r, l, rt, l + rt, c) for r, l, rt, c in merges],
        "rank long, left string, right string, merged string,"
        " pair_count long",
    )


QC_BUCKETS = 256
QC_ITERS = 5
QC_LAMBDA = 1e-2  # ridge per row (lam = QC_LAMBDA * n)
QC_MARKER = "spark"  # fixture label: vocabulary-marker membership


@query("text_quality_classifier_scores")
def text_quality_classifier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear QUALITY CLASSIFIER, trained in-plan by distributed
    IRLS (Newton) — the fastText-style filter public LLM pipelines
    run after the heuristic stages (CCNet / GPT-3 / LLaMA-class
    recipes: score every document against a trusted target sample
    with a linear model over hashed bag-of-words, filter on the
    probability). Features = 256 md5-hashed unigram presence
    buckets + bias; training = 5 ridge-regularized IRLS iterations
    from zero init (deterministic — no sampling; Newton converges
    where first-order GD would need hundreds of passes). The
    fixture's positive class is a VOCABULARY MARKER (documents
    containing the token "spark") because the synthetic corpus has
    no latent domain split — in deployment y comes from a
    trusted-domain sample (the training machinery is the operator;
    the label source is a parameter).

    rows-only by design: 5 unrolled Newton iterations have no
    reasonable SQL twin. Accuracy pinned in tests/test_linear.py:
    exact 4dp score equality vs a numpy reference model running the
    identical update, a strictly decreasing loss trace, perfect
    marker recovery on the fixture, and
    mean(score | positive) > mean(score | negative).

    Shape, built to scale (textbook distributed IRLS — the same
    sufficient statistics MLlib's logistic solvers aggregate): per
    iteration ONE action reduces margins (weights ride the plan as
    literals — no join stage), the d+1-row gradient, the
    upper-triangle Hessian (active-feature pair explode, bounded by
    nnz² per doc, output ≤ (d+1)²/2 rows), and the loss; the driver
    solves a (d+1)-dim system. Nothing corpus-sized reaches the
    driver at any corpus size.
    """
    from cdc_2025_spark.functions.linear import (
        hashed_features,
        logreg_score,
        logreg_train_irls,
    )

    docs = read_table(spark, sf_dir, "documents")
    feat = hashed_features(docs, QC_BUCKETS).localCheckpoint(eager=False)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.coalesce(
            F.array_contains(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                QC_MARKER,
            ).cast("int"),
            F.lit(0),  # NULL text -> negative class, not NULL label
        ).alias("y"),
    )
    # trained weights are a session artifact per (corpus,
    # hyperparams), like the SemDeDup quantizer: IRLS is
    # deterministic, so repeated invocations (a served scoring query)
    # must not pay 5 Newton actions again for identical weights
    key = ("quality_classifier", sf_dir, QC_BUCKETS, QC_ITERS, QC_LAMBDA,
           QC_MARKER, table_stamp(sf_dir, "documents"))
    w, b = artifact(
        spark,
        key,
        lambda: logreg_train_irls(
            feat,
            labels,
            QC_BUCKETS,
            n_iter=QC_ITERS,
            lam_per_row=QC_LAMBDA,
        )[:2],
    )
    return (
        logreg_score(feat, w, b)
        .join(labels, "id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("y").cast("long").alias("y"),
            "score",
            (F.col("score") >= 0.5).alias("predicted_target"),
        )
    )


@query("text_bpe_token_counts")
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION at corpus scale: train the 20-merge
    vocab (text_bpe_vocab_merges' trainer — same deterministic merge
    sequence) and segment every document with it, returning the
    subword-aware token budget (doc_id, n_words, n_subwords,
    compression = words/subwords ratio) that packing and chunking
    stages plan against.

    rows-only by design (inherits the trainer's iterative
    data-dependence). Accuracy pinned in tests/test_bpe.py: per-doc
    equality against python bpe_segment applied word by word, and
    the bounds n_words <= n_subwords <= n_chars.

    Shape: training touches the corpus once (see the trainer's
    docstring); application is ONE shuffle-free mapInPandas stage
    with the merge list in the closure, memoized per distinct word
    per batch — scan-bound at any corpus size."""
    from cdc_2025_spark.functions.bpe import bpe_apply_counts

    docs = read_table(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    return bpe_apply_counts(docs, merges).select(
        F.col("id").alias("doc_id"),
        "n_words",
        "n_subwords",
        F.when(
            F.col("n_subwords") > 0,
            F.round(F.col("n_words") / F.col("n_subwords"), 4),
        ).alias("compression"),
    )


@query(
    "corpus_datacard",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(lower(text)),
                                              '\\s+')) END AS n
      FROM documents
    ),
    vocab AS (
      SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS w
            FROM documents WHERE len(trim(text)) > 0)
    ),
    dups AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS dup_docs
      FROM (SELECT COUNT(*) AS c FROM documents
            GROUP BY text HAVING COUNT(*) > 1)
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS total_tokens,
             ROUND(AVG(n), 4) AS mean_tokens,
             CAST(quantile_disc(n, 0.5) AS BIGINT) AS p50_tokens,
             CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS empty_docs
      FROM tok
    ),
    dims AS (
      SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM documents
    )
    SELECT stat, value FROM (
      SELECT * FROM (
        SELECT 'n_docs' AS stat, CAST(n_docs AS DOUBLE) AS value
        FROM agg
        UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE)
        FROM agg
        UNION ALL SELECT 'mean_tokens', mean_tokens FROM agg
        UNION ALL SELECT 'p50_tokens', CAST(p50_tokens AS DOUBLE)
        FROM agg
        UNION ALL SELECT 'empty_docs', CAST(empty_docs AS DOUBLE)
        FROM agg
        UNION ALL SELECT 'distinct_tokens', CAST(v AS DOUBLE)
        FROM vocab
        UNION ALL SELECT 'exact_dup_docs', CAST(dup_docs AS DOUBLE)
        FROM dups
        UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM dims
        UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE)
        FROM dims
      )
    )
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DATA CARD — the one-query summary a pipeline runs
    first on a new corpus (the "datasheet/data card" practice,
    Gebru et al. CACM'21): document/token/vocabulary counts, length
    distribution (mean + disc-median — the engine-parity percentile
    construction), empty-doc count, exact-duplicate volume, and
    lang/source cardinalities, as (stat, value) rows.

    Shape: three bounded aggregates over one scan family — token
    stats ride the scan with map-side partials; the vocabulary count
    is one distinct aggregate on 8-byte-hashable tokens; the
    exact-dup count groups by text hash; everything unions into 9
    rows. No corpus-sized state anywhere.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(token_count("text").alias("n"))
    agg = tok.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.round(F.avg("n"), 4).alias("mean_tokens"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("long")
        .alias("p50_tokens"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0))
        .cast("long")
        .alias("empty_docs"),
    )
    vocab = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .agg(F.countDistinct("w").cast("long").alias("v"))
    )
    dups = (
        docs.groupBy("text")
        .count()
        .filter(F.col("count") > 1)
        .agg(
            F.coalesce(F.sum("count"), F.lit(0))
            .cast("long")
            .alias("dup_docs")
        )
    )
    dims = docs.agg(
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return (
        agg.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(dims))
        .selectExpr(
            "stack(9, "
            "'n_docs', CAST(n_docs AS DOUBLE), "
            "'total_tokens', CAST(total_tokens AS DOUBLE), "
            "'mean_tokens', mean_tokens, "
            "'p50_tokens', CAST(p50_tokens AS DOUBLE), "
            "'empty_docs', CAST(empty_docs AS DOUBLE), "
            "'distinct_tokens', CAST(v AS DOUBLE), "
            "'exact_dup_docs', CAST(dup_docs AS DOUBLE), "
            "'n_langs', CAST(n_langs AS DOUBLE), "
            "'n_sources', CAST(n_sources AS DOUBLE)"
            ") AS (stat, value)"
        )
    )


SB_ALPHA = 0.4  # Brants et al.'s fixed backoff multiplier


@query(
    "text_trigram_stupid_backoff",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5('sb:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 10 < 5 AS is_train
      FROM documents
    ),
    toks AS (
      SELECT doc_id, is_train, i - 1 AS pos, ws[i] AS tok
      FROM (SELECT doc_id, is_train,
                   string_split_regex(trim(lower(text)), '\\s+') AS ws
            FROM d),
           unnest([i for i in range(1, len(ws) + 1)]) AS r(i)
    ),
    tri AS (
      SELECT a.doc_id, a.is_train, a.tok AS w1, b.tok AS w2, c.tok AS w3
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ),
    bg AS (
      SELECT a.doc_id, a.is_train, a.tok AS w1, b.tok AS w2
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c_tri AS (
      SELECT w1, w2, w3, COUNT(*) AS c FROM tri WHERE is_train
      GROUP BY 1, 2, 3
    ),
    c_bg AS (
      SELECT w1, w2, COUNT(*) AS c FROM bg WHERE is_train GROUP BY 1, 2
    ),
    c_uni AS (
      SELECT tok, COUNT(*) AS c FROM toks WHERE is_train GROUP BY 1
    ),
    sc AS (
      SELECT COUNT(*) AS n, COUNT(DISTINCT tok) AS v
      FROM toks WHERE is_train
    ),
    et AS (
      SELECT doc_id, w1, w2, w3, COUNT(*) AS n_occ
      FROM tri WHERE NOT is_train GROUP BY 1, 2, 3, 4
    ),
    dt AS (SELECT DISTINCT w1, w2, w3 FROM et),
    sx AS (
      SELECT dt.w1, dt.w2, dt.w3,
             CASE WHEN t.c IS NOT NULL THEN t.c * 1.0 / b12.c
                  WHEN b23.c IS NOT NULL
                       THEN {SB_ALPHA} * b23.c / u2.c
                  ELSE {SB_ALPHA} * {SB_ALPHA}
                       * (COALESCE(u3.c, 0) + 1.0)
                       / GREATEST(sc.n + sc.v, 1)
             END AS s,
             CASE WHEN t.c IS NOT NULL THEN 3
                  WHEN b23.c IS NOT NULL THEN 2 ELSE 1 END AS ord
      FROM dt
      LEFT JOIN c_tri t
        ON dt.w1 = t.w1 AND dt.w2 = t.w2 AND dt.w3 = t.w3
      LEFT JOIN c_bg b12 ON dt.w1 = b12.w1 AND dt.w2 = b12.w2
      LEFT JOIN c_bg b23 ON dt.w2 = b23.w1 AND dt.w3 = b23.w2
      LEFT JOIN c_uni u2 ON dt.w2 = u2.tok
      LEFT JOIN c_uni u3 ON dt.w3 = u3.tok
      CROSS JOIN sc
    ),
    pd AS (
      SELECT et.doc_id, CAST(SUM(et.n_occ) AS BIGINT) AS n_trigrams,
             ROUND(SUM(et.n_occ * ln(sx.s)) / SUM(et.n_occ), 4)
                 AS avg_logscore,
             ROUND(SUM(et.n_occ * CASE WHEN sx.ord < 3 THEN 1 ELSE 0
                                  END) * 1.0 / SUM(et.n_occ), 4)
                 AS pct_backoff
      FROM et JOIN sx
        ON et.w1 = sx.w1 AND et.w2 = sx.w2 AND et.w3 = sx.w3
      GROUP BY et.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           pd.avg_logscore, pd.pct_backoff
    FROM d LEFT JOIN pd USING (doc_id)
    WHERE NOT d.is_train
    """,
)
def text_trigram_stupid_backoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trigram language-model scoring with STUPID BACKOFF (Brants et
    al., "Large Language Models in Machine Translation", EMNLP'07 —
    the LM smoothing built FOR distributed count tables: no
    discounting state, just S(w3|w1w2) = c123/c12 if seen, else
    0.4·c23/c2, else 0.4²·add-1-unigram). The corpus-LM family's
    third member: bigram perplexity scores in-corpus (backoff never
    fires there — every occurring bigram was trained on); this
    TRAINS on a 50% md5 split and SCORES the held-out half, so
    unseen trigrams genuinely back off (pct_backoff reports how
    often). The held-out analogue of CCNet's external-LM filter.

    Determinism: the split is the seed-free md5 bucket; counts are
    integers; the one float expression has identical shape on both
    engines; per-doc averages round 4dp after aggregation (the
    registry's summation-order rule).

    Shape, built to scale: counts are grouped aggregates with
    map-side partials. Scoring is factored THROUGH TRIGRAM TYPES:
    eval occurrences collapse to (doc, trigram) first, the count
    joins run once per DISTINCT eval trigram (types << tokens,
    Zipf), and only the scored type table joins back — 8-byte
    xxhash64 trigram keys on every wide shuffle. The two
    vocabulary-sized tables (context/unigram counts) BROADCAST —
    same Zipf-hot-key reasoning pinned for bigram perplexity and
    TF-IDF; trigram and bigram count tables shuffle (type-sized,
    not broadcastable at 100 TB). Scalars (N, V) ride one
    broadcast crossJoin.
    """
    from cdc_2025_spark.functions.text import tokens

    # spread_key: the tokenize+posexplode is the per-row cost and the
    # downstream window partitions by doc_id anyway, so the layout-
    # guarded repartition both parallelizes the explode AND supplies
    # the window's partitioning (no extra exchange; io.read_table)
    docs = read_table(spark, sf_dir, "documents", spread_key="doc_id")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("sb:"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    d = docs.select("doc_id", "text", (bucket < 5).alias("is_train"))
    toks = d.select(
        "doc_id",
        "is_train",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            "is_train",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
            F.lead("tok", 2).over(w).alias("w3"),
        )
        .localCheckpoint(eager=False)
    )
    tri = grams.filter(F.col("w3").isNotNull())
    bg = grams.filter(F.col("w2").isNotNull())
    c_tri = (
        tri.filter("is_train")
        .groupBy(F.xxhash64("w1", "w2", "w3").alias("t_h"))
        .agg(F.count("*").alias("c123"))
    )
    c_bg12 = (
        bg.filter("is_train")
        .groupBy(F.xxhash64("w1", "w2").alias("b_h"))
        .agg(F.count("*").alias("c_b"))
    )
    # unigram counts and corpus scalars come from grams (one row per
    # token position, w1 = the token) so the posexplode runs once —
    # from toks they would re-scan the corpus; c_uni is checkpointed
    # because it feeds TWO broadcast joins (u2/u3) whose renamed
    # subplans ReuseExchange cannot unify
    c_uni = (
        grams.filter("is_train")
        .groupBy(F.xxhash64("w1").alias("u_h"))
        .agg(F.count("*").alias("c_u"))
        .localCheckpoint(eager=False)
    )
    sc = grams.filter("is_train").agg(
        F.count("*").alias("n"), F.countDistinct("w1").alias("v")
    )
    et = (
        tri.filter(~F.col("is_train"))
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count("*").alias("n_occ"))
        .withColumn("t_h", F.xxhash64("w1", "w2", "w3"))
        .localCheckpoint(eager=False)
    )
    dt = et.select(
        "t_h",
        F.xxhash64("w1", "w2").alias("b12_h"),
        F.xxhash64("w2", "w3").alias("b23_h"),
        F.xxhash64("w2").alias("u2_h"),
        F.xxhash64("w3").alias("u3_h"),
    ).distinct()
    st = (
        dt.join(c_tri, "t_h", "left")
        .join(c_bg12.withColumnRenamed("b_h", "b12_h")
              .withColumnRenamed("c_b", "c12"), "b12_h", "left")
        .join(c_bg12.withColumnRenamed("b_h", "b23_h")
              .withColumnRenamed("c_b", "c23"), "b23_h", "left")
        .join(F.broadcast(c_uni.withColumnRenamed("u_h", "u2_h")
              .withColumnRenamed("c_u", "c2")), "u2_h", "left")
        .join(F.broadcast(c_uni.withColumnRenamed("u_h", "u3_h")
              .withColumnRenamed("c_u", "c3")), "u3_h", "left")
        .crossJoin(F.broadcast(sc))
    )
    a = float(SB_ALPHA)
    sx = st.select(
        "t_h",
        F.when(
            F.col("c123").isNotNull(), F.col("c123") / F.col("c12")
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(a) * F.col("c23") / F.col("c2"),
        )
        .otherwise(
            F.lit(a * a)
            * (F.coalesce(F.col("c3"), F.lit(0)) + F.lit(1.0))
            / F.greatest(F.col("n") + F.col("v"), F.lit(1))
        )
        .alias("s"),
        F.when(F.col("c123").isNotNull(), F.lit(3))
        .when(F.col("c23").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
        .alias("ord"),
    )
    pd = (
        et.join(sx, "t_h")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_trigrams"),
            F.round(
                F.sum(F.col("n_occ") * F.log("s")) / F.sum("n_occ"), 4
            ).alias("avg_logscore"),
            F.round(
                F.sum(
                    F.col("n_occ")
                    * (F.col("ord") < 3).cast("int")
                )
                / F.sum("n_occ"),
                4,
            ).alias("pct_backoff"),
        )
    )
    # r16: the eval-doc list only needs doc_id + the md5 split bit —
    # read the UNSPREAD handle so the one spread exchange in this
    # plan is the grams-checkpoint build (where the tokenize+window
    # compute lives), not a re-shuffle of a 1-column projection (the
    # r15 both-core-counts regression on this query).
    d_eval = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", (bucket < 5).alias("is_train"))
    )
    return (
        d_eval.filter(~F.col("is_train"))
        .select("doc_id")
        .join(pd, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0))
            .cast("long")
            .alias("n_trigrams"),
            "avg_logscore",
            "pct_backoff",
        )
    )


# C4-style blocklist: terms whose presence drops a document (Raffel
# et al. JMLR'20 §2.2 drop any page containing a listed word; the
# public list is language-specific — this fixture-scale stand-in
# keeps the mechanism real and the terms swappable).
BLOCKLIST_TERMS = ("dup", "spill", "leak")

# explicit SQL quoting (repr would emit a trailing comma for a
# 1-element tuple and double-quote terms containing apostrophes)
_BLOCKLIST_SQL = ", ".join(
    "'" + t.replace("'", "''") + "'" for t in BLOCKLIST_TERMS
)


@query(
    "text_blocklist_filter",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS tok
      FROM documents
      WHERE text IS NOT NULL
    ),
    h AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_terms
      FROM tok
      WHERE tok IN ({_BLOCKLIST_SQL})
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_terms, 0) AS n_terms,
           COALESCE(h.n_hits, 0) > 0 AS dropped
    FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
    WHERE d.text IS NOT NULL
    """,
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist document filter — the C4 cleaning stage (Raffel et
    al. JMLR'20: drop any page containing a word from a blocklist),
    with per-document hit accounting so the drop decision is
    auditable: total blocklist-token occurrences, distinct terms
    hit, and the keep/drop verdict. Complements the regex-based
    ``text_pii_scrub`` (patterns) and ``text_clean_normalize``
    (whitespace/charset) stages — this one is exact-term membership.

    Deterministic: integer counts and an integer comparison — the
    driver hash is exact. NULL text is excluded identically on both
    engines (the chunking-parity rule).

    Shape, built to scale: whitespace explode, then the membership
    test is a codegen'd ``IN`` over the literal term list — no join,
    no Python, the filter runs inside the scan's whole-stage
    codegen and survives any blocklist that fits in a literal (the
    real C4 English list is ~400 terms; beyond ~thousands, swap the
    literal for a broadcast semi-join — same plan shape as
    ``text_tfidf_top_terms``'s idf table). One doc_id-keyed shuffle
    for the per-doc aggregate (map-side partials), then a left join
    back to the doc spine so zero-hit documents keep their row.
    100 TB cost: one corpus scan + one document-grain exchange.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    hits = (
        toks.filter(F.col("tok").isin(*BLOCKLIST_TERMS))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("tok").alias("n_terms"),
        )
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("n_terms", F.lit(0)).alias("n_terms"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("dropped"),
        )
    )
