"""Property-based spot checks (SURVEY.md §5.5): CDC apply-changes
against a sequential dict replay, melt<->pivot round trip, and
many-to-many join fanout cardinality. Few examples, no deadline —
each example runs Spark jobs.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_2025_spark.streaming import apply_changes_batch

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

change_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.sampled_from(["I", "U", "D"]),  # op
        st.integers(min_value=0, max_value=3),  # ts offset (seconds)
        st.floats(min_value=-100, max_value=100, allow_nan=False),
    ),
    min_size=0,
    max_size=20,
)


@SETTINGS
@given(changes=change_strategy)
def test_apply_changes_matches_sequential_replay(spark, changes):
    """The one-shot distributed merge must equal replaying the batch
    sequentially in (op_ts, _seq) order over a dict."""
    base = datetime(2024, 1, 1)
    rows = [
        (k, op, base + timedelta(seconds=ts), seq, float(v))
        for seq, (k, op, ts, v) in enumerate(changes)
    ]
    snap_rows = [(0, 0.0), (1, 1.0)]  # fixed starting snapshot
    snap = spark.createDataFrame(snap_rows, "k long, amount double")
    if rows:
        batch = spark.createDataFrame(
            rows, "k long, op string, op_ts timestamp, _seq long, amount double"
        )
        got = {
            r["k"]: r["amount"]
            for r in apply_changes_batch(snap, batch, ["k"]).collect()
        }
    else:
        got = dict(snap_rows)

    want = dict(snap_rows)
    for k, op, ts, seq, v in sorted(rows, key=lambda r: (r[2], r[3])):
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = v
    # replay keeps only each key's LAST change; apply_changes collapses
    # to the last change per key first — same thing by construction,
    # but the property exercises delete-then-insert, insert-then-delete,
    # ties, and untouched-snapshot passthrough
    last_op = {}
    for k, op, ts, seq, v in sorted(rows, key=lambda r: (r[2], r[3])):
        last_op[k] = (op, v)
    want2 = dict(snap_rows)
    for k, (op, v) in last_op.items():
        if op == "D":
            want2.pop(k, None)
        else:
            want2[k] = v
    assert got == want2


@SETTINGS
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=2000, max_value=2003),
            st.floats(min_value=-10, max_value=10, allow_nan=False),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_melt_pivot_round_trip(spark, vals):
    """unpivot(pivot(long)) == long for unique (group, year) pairs."""
    long_df = spark.createDataFrame(vals, "g string, yr int, v double")
    years = sorted({t[1] for t in vals})
    wide = long_df.groupBy("g").pivot("yr", years).agg(F.first("v"))
    back = wide.unpivot(
        "g", [str(y) for y in years], "yr", "v"
    ).filter(F.col("v").isNotNull()).withColumn("yr", F.col("yr").cast("int"))
    got = {(r["g"], r["yr"]): r["v"] for r in back.collect()}
    want = {(g, y): v for g, y, v in vals}
    assert got == want


def _same_metric(got, want) -> bool:
    """Equal up to float noise, with NULL, NaN and ±inf exact."""
    if got is None or want is None:
        return got is None and want is None
    if math.isnan(want) or math.isinf(want):
        return math.isnan(got) if math.isnan(want) else got == want
    return abs(got - want) <= 1e-9 * max(1.0, abs(want))


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["ind_a", "ind_b", "ind_c"]),
            st.integers(min_value=2016, max_value=2023),
            st.one_of(
                st.sampled_from([0.0, -1.0, 2.0]),
                st.floats(min_value=-100, max_value=100, allow_nan=False),
            ),
        ),
        min_size=1,
        max_size=25,
    ),
    setting=st.sampled_from(
        [
            (2019, 2020, 3),
            (2019, 2018, 2),  # shock before the base year
            (2019, 2019, 1),  # shock at the base year
            (2020, 2017, 2),  # empty recovery range
            (2018, 2022, 0),
        ]
    ),
    ordered=st.booleans(),
)
def test_resilience_metrics_match_sequential_model(spark, rows, setting, ordered):
    """Drawdown/recovery vs a straight sequential-python model of the
    reference algorithm (resilience.py:29-66) and vs the grouped-map
    twin: with ``_row_order``, the first row in file order per
    (group, year) wins, without it the smallest value; groups missing
    the base year are absent, a missing shock year gives a NULL
    drawdown, a zero base gives ±inf / NaN (pandas division); recovery
    is the first year in the horizon at or above base."""
    from cdc_2025_spark.io import with_row_order
    from cdc_2025_spark.reference.resilience import (
        resilience_metrics,
        resilience_metrics_grouped_map,
    )

    base, shock, horizon = setting
    df = spark.createDataFrame(rows, "Industry string, Year int, Real_Value double")
    if ordered:
        df = with_row_order(df)
    kw = dict(base_year=base, shock_year=shock, horizon=horizon)
    got = {
        r["Industry"]: (r["Drawdown_2020"], r["Recovered_Years"])
        for r in resilience_metrics(df, **kw).collect()
    }
    twin = {
        r["Industry"]: (r["Drawdown_2020"], r["Recovered_Years"])
        for r in resilience_metrics_grouped_map(df, **kw).collect()
    }

    # sequential model: first occurrence (or smallest value) per
    # (group, year)
    picked: dict = {}
    for g, y, v in rows:
        if (g, y) not in picked:
            picked[g, y] = v
        elif not ordered:
            picked[g, y] = min(picked[g, y], v)
    want = {}
    for g in sorted({g for g, _, _ in rows}):
        vb = picked.get((g, base))
        if vb is None:
            continue  # no base year -> absent entirely (resilience.py:36,55)
        vs = picked.get((g, shock))
        if vs is None:
            dd = None
        elif vb != 0:
            dd = (vs - vb) / vb
        else:
            dd = math.inf if vs > 0 else -math.inf if vs < 0 else math.nan
        rec = None
        for y in range(base + 1, shock + horizon + 1):
            vy = picked.get((g, y))
            if vy is not None and vy >= vb:
                rec = y - base
                break
        want[g] = (dd, rec)
    assert set(got) == set(want) == set(twin)
    for g, (dd, rec) in want.items():
        for impl, (gdd, grec) in (("agg", got[g]), ("grouped_map", twin[g])):
            assert _same_metric(gdd, dd), (impl, g, gdd, dd)
            assert _same_metric(grec, rec), (impl, g, grec, rec)
        assert got[g][1] is None or isinstance(got[g][1], int), g


@SETTINGS
@given(
    left_keys=st.lists(st.integers(0, 3), min_size=0, max_size=10),
    right_keys=st.lists(st.integers(0, 3), min_size=0, max_size=10),
)
def test_join_fanout_cardinality(spark, left_keys, right_keys):
    """|A join B on k| == sum over k of n_A(k) * n_B(k) — the
    many-to-many fanout law the reference's duplicate-key merge
    depends on (SURVEY.md §1.4)."""
    a = spark.createDataFrame([(k,) for k in left_keys] or [(None,)], "k int")
    b = spark.createDataFrame([(k,) for k in right_keys] or [(None,)], "k int")
    if not left_keys or not right_keys:
        a = a.filter(F.col("k").isNotNull())
        b = b.filter(F.col("k").isNotNull())
    got = a.join(b, "k").count()
    from collections import Counter

    ca, cb = Counter(left_keys), Counter(right_keys)
    want = sum(ca[k] * cb[k] for k in ca)
    assert got == want


def _scd2_reference(rows):
    """Pure-Python SCD2: rows are (k, op, ts_off, _seq, value); a
    version opens at every I/U and closes at the key's next event."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for r in rows:
        by_key[r[0]].append(r)
    out = []
    for k, evs in by_key.items():
        evs.sort(key=lambda r: (r[2], r[3]))
        for i, (kk, op, ts, seq, val) in enumerate(evs):
            if op == "D":
                continue
            nxt = evs[i + 1][2] if i + 1 < len(evs) else None
            out.append((kk, val, ts, nxt, nxt is None))
    return sorted(out, key=_version_sort_key)


def _version_sort_key(t):
    """None-safe ordering for (k, val, valid_from, valid_to, cur)
    tuples: two versions can tie on every field up to valid_to, and
    plain tuple comparison would then compare None against a value."""
    k, val, vfrom, vto, cur = t
    return (k, val, vfrom, vto is None, vto or vfrom, cur)


@SETTINGS
@given(changes=change_strategy, split=st.integers(min_value=0, max_value=3))
def test_scd2_history_matches_reference_model(spark, changes, split):
    """scd2_history == the sequential Python model, and incremental
    apply at any ts split point reproduces the full-log result."""
    from datetime import datetime, timedelta

    from cdc_2025_spark.streaming import apply_changes_scd2, scd2_history

    base = datetime(2024, 1, 1)
    rows = [
        (k, op, ts, seq, None if op == "D" else float(round(val, 3)))
        for seq, (k, op, ts, val) in enumerate(changes)
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        [
            (k, op, base + timedelta(seconds=ts), seq, val)
            for (k, op, ts, seq, val) in rows
        ],
        "k long, op string, op_ts timestamp, _seq long, value double",
    )
    expected = [
        (
            k,
            val,
            base + timedelta(seconds=f),
            None if t is None else base + timedelta(seconds=t),
            cur,
        )
        for (k, val, f, t, cur) in _scd2_reference(rows)
    ]

    def canon(sdf):
        return sorted(
            (
                (r["k"], r["value"], r["valid_from"], r["valid_to"],
                 r["is_current"])
                for r in sdf.collect()
            ),
            key=_version_sort_key,
        )

    expected = sorted(expected, key=_version_sort_key)
    assert canon(scd2_history(df, ["k"])) == expected

    cut = base + timedelta(seconds=split)
    early = df.filter(F.col("op_ts") < cut)
    late = df.filter(F.col("op_ts") >= cut)
    hist = None
    for b in (early, late):
        if b.count() > 0:
            hist = apply_changes_scd2(hist, b, ["k"])
    assert hist is not None and canon(hist) == expected


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**16),
)
@SETTINGS
def test_png_bmp_codec_agreement(w, h, seed):
    """Property: for ANY (w, h, seed) — including 1-pixel images and
    widths straddling BMP's 4-byte row padding — the PNG and BMP
    containers of the same generator pattern decode to identical
    pixel arrays, and the BMP encoder round-trips the decoded PNG."""
    import numpy as np

    from cdc_2025_spark.multimodal.media import (
        _encode_bmp,
        decode_bmp,
        decode_png,
        make_bmp,
        make_png,
    )

    png_rgb = decode_png(make_png(w, h, seed=seed))
    bmp_rgb = decode_bmp(make_bmp(w, h, seed=seed))
    assert png_rgb.shape == (h, w, 3)
    assert np.array_equal(png_rgb, bmp_rgb)
    assert np.array_equal(decode_bmp(_encode_bmp(png_rgb)), png_rgb)


@SETTINGS
@given(
    n_tokens=st.lists(
        st.integers(min_value=0, max_value=300), min_size=1, max_size=6
    )
)
def test_chunker_matches_python_model(spark, n_tokens):
    """text_chunk_documents vs the pure start-rule model: starts are
    stride-multiples below max(n - overlap, 1), each chunk is the
    clamped token slice — for arbitrary document lengths including
    0 (empty text tokenizes to [''], one empty chunk)."""
    import os
    import tempfile

    from cdc_2025_spark.queries.text import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        text_chunk_documents,
    )

    rows = [
        (i, " ".join(f"t{j}" for j in range(n)), "en", "s", 0)
        for i, n in enumerate(n_tokens)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {}
        for r in text_chunk_documents(spark, d).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_start"], r["n_chunk_tokens"], r["chunk_text"])
            )
    overlap = CHUNK_SIZE - CHUNK_STRIDE
    for i, n in enumerate(n_tokens):
        toks = [f"t{j}" for j in range(n)] or [""]
        eff = len(toks)
        want = [
            (
                s,
                min(CHUNK_SIZE, eff - s),
                " ".join(toks[s : s + CHUNK_SIZE]),
            )
            for s in range(0, max(eff - overlap, 1), CHUNK_STRIDE)
        ]
        assert sorted(got[i]) == want, (i, n)


@SETTINGS
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_span_removal_matches_python_model(spark, texts):
    """dedup_remove_repeated_spans vs a sequential python
    reimplementation of the rule (first occurrence by (doc_id, pos)
    survives, every other occurrence's k positions are excised) over
    adversarial two-letter corpora — heavy span collisions,
    overlapping occurrences, whole-document removals, empty docs."""
    import os
    import re
    import tempfile

    from cdc_2025_spark.queries.dedup import (
        SPAN_K,
        SPAN_MIN_DOCS,
        dedup_remove_repeated_spans,
    )

    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
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

    toks = {
        i: re.split(r"\s+", t.strip().lower()) for i, t in enumerate(texts)
    }
    occ: dict[str, list[tuple[int, int]]] = {}
    for i, ts in toks.items():
        spans = (
            [(0, " ".join(ts))]
            if len(ts) <= SPAN_K
            else [
                (p, " ".join(ts[p : p + SPAN_K]))
                for p in range(len(ts) - SPAN_K + 1)
            ]
        )
        for p, s in spans:
            occ.setdefault(s, []).append((i, p))
    covered: dict[int, set[int]] = {i: set() for i in toks}
    for s, places in occ.items():
        if len({i for i, _ in places}) < SPAN_MIN_DOCS:
            continue
        for i, p in sorted(places)[1:]:  # global first survives
            covered[i].update(range(p, p + SPAN_K))
    want = {}
    for i, ts in toks.items():
        clean = [t for p, t in enumerate(ts) if p not in covered[i]]
        want[i] = (len(ts), len(ts) - len(clean), " ".join(clean))
    assert got == want


@SETTINGS
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_bigram_perplexity_matches_python_model(spark, texts):
    """text_bigram_perplexity vs a sequential add-1 bigram LM over
    random three-letter corpora: corpus counts, vocabulary size,
    smoothing, per-doc averaging, and the no-bigram NULL contract
    must all agree to the rounded output."""
    import math
    import os
    import re
    import tempfile

    from cdc_2025_spark.queries.text import text_bigram_perplexity

    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["perplexity"])
            for r in text_bigram_perplexity(spark, d).collect()
        }

    toks = {
        i: re.split(r"\s+", t.strip().lower()) for i, t in enumerate(texts)
    }
    vocab = {t for ts in toks.values() for t in ts}
    bg: dict[tuple[str, str], int] = {}
    ctx: dict[str, int] = {}
    for ts in toks.values():
        for w1, w2 in zip(ts, ts[1:]):
            bg[(w1, w2)] = bg.get((w1, w2), 0) + 1
            ctx[w1] = ctx.get(w1, 0) + 1
    want = {}
    for i, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            want[i] = (0, None, None)
            continue
        nlls = [
            math.log((ctx[w1] + len(vocab)) / (bg[(w1, w2)] + 1))
            for w1, w2 in pairs
        ]
        avg = sum(nlls) / len(nlls)
        want[i] = (len(pairs), round(avg, 4), round(math.exp(avg), 4))
    assert got == want


# URL-ish strings assembled from the parts canonicalization touches:
# optional scheme/www in mixed case, a host-path body, optional
# query params (tracking and real, shuffled order), optional
# fragment and trailing slashes.
_url_strategy = st.builds(
    lambda scheme, www, body, params, frag, slashes: (
        scheme
        + www
        + body
        + ("?" + "&".join(params) if params else "")
        + frag
        + slashes
    ),
    scheme=st.sampled_from(["", "http://", "https://", "HTTP://", "HtTpS://"]),
    www=st.sampled_from(["", "www.", "WWW.", "wWw."]),
    body=st.from_regex(r"[A-Za-z][A-Za-z0-9.]{0,8}\.com(/[A-Za-z0-9._-]{0,6}){0,3}", fullmatch=True),
    params=st.lists(
        st.sampled_from(
            ["a=1", "b=2", "z=9", "id=7", "utm_source=x",
             "utm_campaign=c", "fbclid=f", "gclid=g"]
        ),
        max_size=4,
        unique=True,
    ),
    frag=st.sampled_from(["", "#x", "#sec-2"]),
    slashes=st.sampled_from(["", "/", "//"]),
)


@SETTINGS
@given(urls=st.lists(_url_strategy, min_size=1, max_size=8))
def test_canonical_url_properties(spark, urls):
    """For any assembled URL: canonicalization is IDEMPOTENT, strips
    every tracking param while keeping every real one (sorted), and
    never emits scheme/www/fragment/trailing-slash artifacts."""
    from cdc_2025_spark.functions.url import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = [
        r["c"]
        for r in df.select(canonical_url("url").alias("c")).collect()
    ]
    again = [
        r["c"]
        for r in spark.createDataFrame([(c,) for c in once], "url string")
        .select(canonical_url("url").alias("c"))
        .collect()
    ]
    assert again == once  # idempotent
    for raw, c in zip(urls, once):
        # trailing slash is stripped from the PATH only — a '/' at
        # the end of a query VALUE is data and survives
        assert "?" in c or not c.endswith("/") or c == "/"
        assert "#" not in c
        assert not c.lower().startswith(("http://", "https://", "www."))
        assert "utm_" not in c and "fbclid=" not in c and "gclid=" not in c
        assert c == c.lower()
        q = raw.split("#")[0]
        real = sorted(
            p
            for p in (q.split("?", 1)[1].split("&") if "?" in q else [])
            if p and not p.startswith(("utm_", "fbclid=", "gclid="))
        )
        if real:
            assert c.endswith("?" + "&".join(real)), (raw, c)
        else:
            assert "?" not in c, (raw, c)


@SETTINGS
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(min_value=1, max_value=6),
)
def test_bpe_matches_python_model_on_random_corpora(
    spark, words, n_merges
):
    """BPE merge sequences agree with the pure-python Sennrich
    reference on arbitrary corpora — including repeated words,
    single-char words, and merge-exhaustion, where the argmax
    tiebreak and the non-overlapping left-to-right rewrite rule do
    all the work."""
    from cdc_2025_spark.functions.bpe import bpe_train
    from tests.test_bpe import _python_bpe

    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    got = bpe_train(docs, n_merges)
    from collections import Counter

    want = _python_bpe(dict(Counter(words)), n_merges)
    assert got == want


@SETTINGS
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    pivot=st.integers(min_value=0, max_value=10_000),
    k=st.integers(min_value=1, max_value=10),
)
def test_reservoir_merge_property(spark, ids, pivot, k):
    """bottomk(A ∪ B) == merge(bottomk(A), bottomk(B)) for EVERY
    split of the key set and every k — the mergeability contract the
    streaming maintenance leg depends on."""
    from cdc_2025_spark.functions.reservoir import (
        bottomk_sample,
        merge_samples,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    a = df.filter(F.col("doc_id") < pivot)
    b = df.filter(F.col("doc_id") >= pivot)
    whole = sorted(map(tuple, bottomk_sample(df, k).collect()))
    merged = sorted(
        map(
            tuple,
            merge_samples(
                bottomk_sample(a, k), bottomk_sample(b, k), k
            ).collect(),
        )
    )
    assert whole == merged
    assert len(whole) == min(k, len(ids))


@SETTINGS
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_trigram_stupid_backoff_matches_python_model(spark, texts):
    """text_trigram_stupid_backoff vs a sequential stupid-backoff LM
    (Brants et al. EMNLP'07) over random four-letter corpora: the md5
    train/eval split, the 3->2->1 backoff cascade with its 0.4
    multipliers, the add-1 unigram floor, per-doc occurrence
    weighting, and the <3-token NULL contract must all agree to the
    rounded output."""
    import hashlib
    import math
    import os
    import re
    import tempfile

    from cdc_2025_spark.queries.text import (
        SB_ALPHA,
        text_trigram_stupid_backoff,
    )

    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (
                r["n_trigrams"],
                r["avg_logscore"],
                r["pct_backoff"],
            )
            for r in text_trigram_stupid_backoff(spark, d).collect()
        }

    def is_train(i: int) -> bool:
        h = hashlib.md5(f"sb:{i}".encode()).hexdigest()
        return int(h[:8], 16) % 10 < 5

    toks = {
        i: re.split(r"\s+", t.strip().lower()) for i, t in enumerate(texts)
    }
    c_uni: dict[str, int] = {}
    c_bg: dict[tuple[str, str], int] = {}
    c_tri: dict[tuple[str, str, str], int] = {}
    n = v = 0
    for i, ts in toks.items():
        if not is_train(i):
            continue
        for t in ts:
            c_uni[t] = c_uni.get(t, 0) + 1
        for w1, w2 in zip(ts, ts[1:]):
            c_bg[(w1, w2)] = c_bg.get((w1, w2), 0) + 1
        for w1, w2, w3 in zip(ts, ts[1:], ts[2:]):
            c_tri[(w1, w2, w3)] = c_tri.get((w1, w2, w3), 0) + 1
    n = sum(c_uni.values())
    v = len(c_uni)
    want = {}
    for i, ts in toks.items():
        if is_train(i):
            continue
        trigrams = list(zip(ts, ts[1:], ts[2:]))
        if not trigrams:
            want[i] = (0, None, None)
            continue
        logs, backoffs = [], 0
        for w1, w2, w3 in trigrams:
            if (w1, w2, w3) in c_tri:
                s = c_tri[(w1, w2, w3)] / c_bg[(w1, w2)]
            elif (w2, w3) in c_bg:
                s = SB_ALPHA * c_bg[(w2, w3)] / c_uni[w2]
                backoffs += 1
            else:
                s = (
                    SB_ALPHA
                    * SB_ALPHA
                    * (c_uni.get(w3, 0) + 1.0)
                    / max(n + v, 1)
                )
                backoffs += 1
            logs.append(math.log(s))
        want[i] = (
            len(trigrams),
            round(sum(logs) / len(logs), 4),
            round(backoffs / len(trigrams), 4),
        )
    assert set(got) == set(want)
    for i in want:
        gn, ga, gp = got[i]
        wn, wa, wp = want[i]
        assert gn == wn, (i, got[i], want[i])
        if wa is None:
            assert ga is None and gp is None, (i, got[i])
        else:
            assert abs(ga - wa) <= 0.00011, (i, got[i], want[i])
            assert abs(gp - wp) <= 0.00011, (i, got[i], want[i])


@SETTINGS
@given(
    vals=st.lists(
        st.floats(
            min_value=-1000,
            max_value=1000,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=60,
    ),
    dup_every=st.integers(min_value=0, max_value=3),
)
def test_equidepth_matches_python_model(spark, vals, dup_every):
    """stats_equidepth_histogram vs the pure model: boundaries at
    sorted[ceil(p*n)] (1-based), first-match bucket assignment,
    HALF_UP 4dp fractions — including tie-heavy inputs where equal
    boundaries legally collapse buckets (missing bucket ids)."""
    import os
    import tempfile
    from decimal import ROUND_HALF_UP, Decimal
    from math import ceil

    from cdc_2025_spark.queries.analytics import (
        EQUIDEPTH_BUCKETS as B,
        stats_equidepth_histogram,
    )

    if dup_every:
        vals = vals + vals[::dup_every]  # force ties
    rows = [
        (i, 0, 0, 0, 0.0, float(v), 0.0, 0.0, "N", "O", None)
        for i, v in enumerate(vals)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double,"
            " l_extendedprice double, l_discount double, l_tax double,"
            " l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp",
        ).coalesce(1).write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            (r["bucket"], r["hi"]): (r["n_rows"], r["frac"])
            for r in stats_equidepth_histogram(spark, d).collect()
        }
    s = sorted(vals)
    n = len(s)
    bounds = [s[min(max(ceil(i / B * n), 1), n) - 1] for i in range(1, B)]
    bounds.append(s[-1])

    def assign(v):
        for i, b in enumerate(bounds[:-1], 1):
            if v <= b:
                return i, b
        return B, bounds[-1]

    from collections import Counter

    cnt = Counter(assign(v) for v in vals)
    want = {
        k: (
            c,
            float(
                Decimal(c / n).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            ),
        )
        for k, c in cnt.items()
    }
    assert got == want


@SETTINGS
@given(
    rows=st.lists(
        st.sampled_from(["a", "b", "c", "d"]),
        min_size=1,
        max_size=40,
    )
)
def test_join_cardinality_matches_python_model(spark, rows):
    """stats_join_cardinality_estimate vs the pure model: the
    md5-parity split, the three estimator formulas (uniform-ndv,
    MCV+uniform tail, per-key exact), and the actual join size —
    for arbitrary key multisets, including one-sided and disjoint
    splits (rel_error NULL when the true join is empty)."""
    import hashlib
    import os
    import tempfile
    from collections import Counter
    from datetime import datetime
    from decimal import ROUND_HALF_UP, Decimal

    from cdc_2025_spark.queries.analytics import (
        CARD_MCV_K,
        stats_join_cardinality_estimate,
    )

    data = [
        (i, datetime(2020, 1, 1), 1, k, 0.0, "{}")
        for i, k in enumerate(rows)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            data,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r["method"]: (
                r["est_rows"],
                r["actual_rows"],
                r["rel_error"],
            )
            for r in stats_join_cardinality_estimate(spark, d).collect()
        }

    def parity(eid):
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16) % 2

    cr = Counter(k for i, k in enumerate(rows) if parity(i) == 0)
    cs = Counter(k for i, k in enumerate(rows) if parity(i) == 1)
    keys = set(cr) | set(cs)
    actual = sum(cr[k] * cs[k] for k in keys)
    nr, ns = sum(cr.values()), sum(cs.values())
    ndvr, ndvs = len(cr), len(cs)
    mcv = sorted(keys, key=lambda k: (-cr[k], k))[:CARD_MCV_K]
    uni = nr * ns / max(ndvr, ndvs) if max(ndvr, ndvs) else None
    m_exact = sum(cr[k] * cs[k] for k in mcv)
    m_nr = sum(cr[k] for k in mcv)
    m_ns = sum(cs[k] for k in mcv)
    m_ndvr = sum(1 for k in mcv if cr[k] > 0)
    m_ndvs = sum(1 for k in mcv if cs[k] > 0)
    tail = (nr - m_nr) * (ns - m_ns) / max(ndvr - m_ndvr, ndvs - m_ndvs, 1)
    mcv_est = m_exact + tail

    def r4(x):
        return float(
            Decimal(x).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    def expect(est):
        rel = r4(abs(est - actual) / actual) if actual > 0 else None
        return (r4(est), actual, rel)

    assert got["perkey_exact"] == expect(float(actual))
    assert got["uniform_ndv"] == expect(uni)
    assert got["mcv_top3_uniform_tail"] == expect(mcv_est)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.floats(
                min_value=-2.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    pivot=st.integers(min_value=0, max_value=10_000),
    k=st.integers(min_value=1, max_value=10),
)
def test_weighted_reservoir_model_and_merge(spark, rows, pivot, k):
    """Efraimidis-Spirakis weighted bottom-k: exactly the python
    model's K smallest -ln(u)/w race keys (deterministic md5 u),
    non-positive weights excluded, and mergeable under EVERY split
    of the key set — the same contract as the uniform sampler."""
    import hashlib
    from math import log

    from cdc_2025_spark.functions.reservoir import (
        PRIORITY_SCALE,
        merge_weighted_samples,
        weighted_bottomk_sample,
    )

    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [
        (r["doc_id"], r["rk"])
        for r in weighted_bottomk_sample(df, k, "doc_id", "w").collect()
    ]

    def race(i, w):
        u = (
            int(
                hashlib.md5(f"wrs:{i}".encode()).hexdigest()[:8], 16
            )
            % PRIORITY_SCALE
            + 1
        ) / PRIORITY_SCALE
        return -log(u) / w

    eligible = sorted(
        ((race(i, w), i) for i, w in rows if w > 0),
    )[:k]
    want = [(i, rk) for rk, (_, i) in enumerate(eligible, 1)]
    assert sorted(got) == sorted(want)

    a = df.filter(F.col("doc_id") < pivot)
    b = df.filter(F.col("doc_id") >= pivot)
    merged = sorted(
        (r["doc_id"], r["rk"])
        for r in merge_weighted_samples(
            weighted_bottomk_sample(a, k, "doc_id", "w"),
            weighted_bottomk_sample(b, k, "doc_id", "w"),
            k,
        ).collect()
    )
    assert merged == sorted(want)


@SETTINGS
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=2),  # ts offset (sec)
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_markov_transitions_match_sequential_model(spark, events):
    """events_markov_transitions vs the pure python model: per-user
    sequences ordered by (ts, event_id) — SIMULTANEOUS events pinned
    to event_id order — lead pairs counted, probabilities HALF_UP
    4dp. The tiebreak is the oracle-parity load-bearing part, so the
    strategy deliberately generates heavy ts collisions."""
    import os
    import tempfile
    from collections import Counter, defaultdict
    from datetime import datetime
    from decimal import ROUND_HALF_UP, Decimal

    from cdc_2025_spark.queries.behavior import events_markov_transitions

    rows = [
        (eid, datetime(2020, 1, 1, 0, 0, off), uid, etype, 0.0, "{}")
        for eid, (uid, off, etype) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r["from_type"], r["to_type"]): (
                r["n_transitions"],
                r["p_transition"],
            )
            for r in events_markov_transitions(spark, d).collect()
        }

    seqs = defaultdict(list)
    for eid, (uid, off, etype) in enumerate(events):
        seqs[uid].append((off, eid, etype))
    cnt = Counter()
    for s in seqs.values():
        s.sort()  # (ts, event_id) — the pinned order
        for (_, _, a), (_, _, b) in zip(s, s[1:]):
            cnt[(a, b)] += 1
    froms = Counter()
    for (a, _), c in cnt.items():
        froms[a] += c
    want = {
        k: (
            c,
            float(
                Decimal(c / froms[k[0]]).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            ),
        )
        for k, c in cnt.items()
    }
    assert got == want
