"""Driver-visible multimodal queries: run the image/audio/video
kernels (multimodal/media.py) end to end under the driver.

The decode stages are mapInPandas kernels, not SQL — but the corpora
are deterministic pinned fixtures (sha256-seeded synthetic payloads,
spec-exact container encoders), so the rollup and the three near-dup
queries carry literal VALUES-table oracles holding the exact outputs
their kernel tests already pin: the driver checks them hash-green,
not rows-only, without pretending the decoders have a SQL twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_2025_spark.multimodal.media import (
    extract_audio_chunk_features,
    extract_image_features,
    make_real_media,
    make_synthetic_media,
    resize_images,
    sample_video_frames,
)
from cdc_2025_spark.queries.registry import query
from cdc_2025_spark.session import artifact

# media_id offsets that keep the real-container frames' ids disjoint
# inside the kind-tagged unions (each make_real_media call numbers
# its rows from 0)
_PNG_BAND = 1000
_PNG16_BAND = 1500
_JPEG_BAND = 2000
_JPEG12_BAND = 2500
_AVI_BAND = 3000
_PNGLOW_BAND = 3500
_TIFF_BAND = 4000
_GIF_BAND = 4500

# The generated media corpora are session artifacts: payloads are
# deterministic and sf-independent, but building them costs real
# driver CPU (pure-Python JPEG/FLAC encode) plus a createDataFrame
# ship per run — checkpoint each input frame once per session so
# repeated runs (the driver check runs twice, the bench min-of-2)
# regenerate nothing.

# All fixture corpora the rollup family reads, built as ONE tagged
# union pinned by a single job (r16): each lazy localCheckpoint
# compiles (and under AQE executes) its own shuffle stage at
# construction, so 15 per-key pins cost 15 sequential ~0.4 s driver
# round trips cold — the rollup's measured cold floor. One union,
# one repartition, one pin; per-key frames are filters over the
# pinned blocks (identical rows, zero extra jobs). All or nothing: a
# request for ANY key here builds every corpus (FLAC fixtures
# included), so a one-key caller pays for the whole union. Keys
# outside this registry (the neardup corpora) keep the per-key path.
_MEDIA_BUILDS = {
    "images": lambda spark: make_synthetic_media(spark, n=64, kind="image", n_slices=1),
    "audio": lambda spark: make_synthetic_media(spark, n=32, kind="audio", n_slices=1),
    "video": lambda spark: make_synthetic_media(spark, n=16, kind="video", n_slices=1),
    "real": lambda spark: make_real_media(spark, n_images=8, n_audio=8, n_slices=1),
    "real_png": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_png=8
    , n_slices=1),
    "real_jpeg": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_jpeg=8
    , n_slices=1),
    "real_jpeg12": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_jpeg12=8
    , n_slices=1),
    "real_png16": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_png16=8
    , n_slices=1),
    "real_png_low": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_png_lowdepth=6
    , n_slices=1),
    "real_tiff": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_tiff=8
    , n_slices=1),
    "real_gif": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_gif=6
    , n_slices=1),
    "real_avi": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_avi=6
    , n_slices=1),
    "real_flac": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_flac=8
    , n_slices=1),
    "real_flac_stereo": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_flac_stereo=8
    , n_slices=1),
    "real_g711": lambda spark: make_real_media(
        spark, n_images=0, n_audio=0, n_g711=8
    , n_slices=1),
}


def _media_union(spark: SparkSession) -> DataFrame:
    tagged = [
        b(spark).select(F.lit(k).alias("_src"), "*")
        for k, b in _MEDIA_BUILDS.items()
    ]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    # two partitions keep each downstream mapInPandas branch to a
    # worker pair (the few-dozen-row frames otherwise fan every
    # branch to defaultParallelism mostly-empty Python tasks);
    # repartition, NOT coalesce — the narrow coalesce over the
    # local relation measured ~2 s/materialization vs ~0.5 s for
    # the round-robin exchange. Results are partition-insensitive
    # (per-row decodes into aggregates / pair sets). At real
    # corpus sizes inputs arrive pre-partitioned; no reshape.
    return union.repartition(2).localCheckpoint(eager=False)


def _media_input(spark: SparkSession, key: str, build=None) -> DataFrame:
    if key in _MEDIA_BUILDS:
        union = artifact(spark, ("media_union",), lambda: _media_union(spark))
        return artifact(
            spark,
            ("media", key),
            lambda: union.filter(F.col("_src") == key).drop("_src"),
        )
    return artifact(
        spark, ("media", key), lambda: build().localCheckpoint(eager=False)
    )


# The media corpora are deterministic pinned fixtures (sha256-seeded
# synthetic payloads + spec-exact container encoders), so the rollup's
# per-kind metrics are literal constants — the VALUES oracle upgrades
# the driver row from rows-only to hash-checked without pretending the
# decode kernels have a SQL twin (the literals are the outputs the
# kernel tests already pin; float literals are shortest-roundtrip
# reprs, hence bit-exact doubles on both engines).
_FEATURE_ROLLUP_ORACLE = """
SELECT kind, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(avg_metric AS DOUBLE) AS avg_metric,
       CAST(max_metric AS DOUBLE) AS max_metric
FROM (VALUES
  ('audio', 122, 0.5524, 1.0),
  ('audio_flac', 20, 0.3005, 0.65),
  ('audio_flac_stereo', 20, 0.2125, 0.6193),
  ('audio_g711', 20, 0.3006, 0.6366),
  ('audio_wav', 20, 0.3005, 0.65),
  ('image', 64, 0.4545, 256.0),
  ('image_bmp', 8, 0.1696, 0.9451),
  ('image_gif', 6, 0.19, 0.7124),
  ('image_jpeg', 8, 0.1719, 0.9843),
  ('image_jpeg12', 8, 0.1719, 0.9843),
  ('image_png', 8, 0.1696, 0.9451),
  ('image_png16', 8, 0.1696, 0.9451),
  ('image_png_lowdepth', 6, 0.2462, 1.0),
  ('image_resized', 8, 16.0, 0.9359),
  ('image_tiff', 8, 0.1696, 0.9451),
  ('video', 236, 9.161, 236.0),
  ('video_mjpeg', 19, 1.2632, 19.0)
) AS t(kind, n_rows, avg_metric, max_metric)
"""


@query("multimodal_feature_rollup", oracle=_FEATURE_ROLLUP_ORACLE)
def multimodal_feature_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind rollup over all three media pipelines (image features,
    audio chunk loudness, video frame samples): one row per kind with
    scalar aggregate metrics.

    Exercises the real distributed plumbing — Arrow-batched
    mapInPandas decode, JVM-side explode for chunk/frame cardinality —
    over BOTH payload classes: deterministic synthetic payloads
    through the stub kernels (image/audio/video rows) AND real
    decodable payloads through the non-stub kernels (image_bmp: 24-bit
    BMP pixel decode; audio_wav: RIFF PCM-16 sample decode —
    multimodal/media.py decode_bmp / decode_wav), plus image_png:
    stdlib-zlib PNG inflate + unfilter carrying the SAME pixel
    patterns as image_bmp, so those two rows' avg/max metrics must
    agree exactly (pinned in test_multimodal.py), plus image_jpeg:
    real baseline-JPEG entropy decode + IDCT (multimodal/jpeg.py)
    over the same patterns, tolerance-close to image_bmp. ``sf_dir``
    is unused: media rows are generated, not read, since the testdata
    lake has no media table.
    """
    # repartition(2): createDataFrame spreads these few-dozen-row
    # local frames over defaultParallelism partitions, so every
    # mapInPandas branch otherwise launches 32 (mostly empty)
    # Python-worker tasks — at 6 branches that is the rollup's
    # measured fixed cost, not the kernels (<0.1 s of decode). Two
    # partitions keep a branch pair of workers busy while preserving
    # cross-branch concurrency. repartition, NOT coalesce (r16):
    # coalesce(2) over the local relation measured ~2 s per
    # materialization where the round-robin exchange costs ~0.5 s —
    # the narrow coalesce drags the whole 32-slice local scan into
    # two tasks and re-serializes the payload rows task-side, and at
    # these row counts the tiny shuffle is strictly cheaper. Results
    # are partition-insensitive (per-row decodes into aggregates /
    # pair sets). At real corpus sizes the inputs arrive
    # pre-partitioned and no reshape applies.
    images = _media_input(spark, "images")
    audio = _media_input(spark, "audio")
    video = _media_input(spark, "video")
    real = _media_input(spark, "real")
    real_png = _media_input(spark, "real_png")
    real_jpeg = _media_input(spark, "real_jpeg")
    # 12-bit extended-sequential (SOF1) twins of the same patterns —
    # the decode kernel dispatches on magic bytes and maps 12-bit
    # samples to the uint8 view, so this rides the SAME mapInPandas
    # stage as the other containers
    real_jpeg12 = _media_input(spark, "real_jpeg12")
    # 16-bit-depth PNGs of the same pattern x257: the sample-depth
    # conversion maps back exactly, so this row must equal image_png
    # (and image_bmp) EXACTLY — the lossless cross-depth pin
    real_png16 = _media_input(spark, "real_png16")
    # sub-byte PNGs (1/2/4-bit gray + palette — the scanned-document
    # shapes): ride the same dispatch-on-magic-bytes union; their
    # patterns are depth-quantized, so the row gets its own kind
    # instead of a BMP-equality pin
    real_png_low = _media_input(spark, "real_png_low")
    # baseline TIFFs: lossless rgb twins of the BMP rows (both byte
    # orders, none/PackBits, single/multi-strip) — image_tiff metrics
    # must equal image_bmp EXACTLY
    real_tiff = _media_input(spark, "real_tiff")
    # single-frame GIFs of the shared palette pattern (LZW decode
    # path; interlace alternating)
    real_gif = _media_input(spark, "real_gif")

    img = extract_image_features(images).agg(
        F.lit("image").alias("kind"),
        F.count("*").alias("n_rows"),
        F.round(F.avg(F.element_at("features", 1)), 4).alias("avg_metric"),
        F.max("n_bytes").cast("double").alias("max_metric"),
    )
    aud = extract_audio_chunk_features(audio, chunk_ms=1000).agg(
        F.lit("audio").alias("kind"),
        F.count("*").alias("n_rows"),
        F.round(F.avg("rms"), 4).alias("avg_metric"),
        F.round(F.max("peak"), 4).alias("max_metric"),
    )
    # video: stub (synthetic payload hash) and REAL MJPEG-AVI rows
    # (multimodal/avi.py — RIFF parse + baseline-JPEG frame decode,
    # frame_sha256 over DECODED pixels, pinned equal to direct
    # make_jpeg decodes in test_avi.py) fold into ONE kernel stage —
    # the containers-union shape below: the sampling kernel already
    # dispatches per payload on magic bytes, so a second
    # sample_video_frames branch would only buy another Python-worker
    # stage setup (the rollup's measured fixed cost).
    real_avi = _media_input(spark, "real_avi")
    # one cadence for the union: 250 ms (the AVI rows' 4 fps frame
    # interval, so every container frame is sampled exactly once);
    # the stub rows just sample twice as densely as before — their
    # metrics stay deterministic, only the density constant moved.
    all_video = video.unionByName(
        real_avi.withColumn("media_id", F.col("media_id") + _AVI_BAND)
    )
    video_samples = sample_video_frames(all_video, every_ms=250)
    vid_union = (
        video_samples.groupBy(
            F.when(F.col("media_id") >= _AVI_BAND, "video_mjpeg")
            .otherwise("video")
            .alias("kind")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.avg("frame_idx"), 4).alias("avg_metric"),
            F.count_distinct("frame_sha256")
            .cast("double")
            .alias("max_metric"),
        )
    )
    # real-kernel container paths (BMP / PNG / baseline JPEG): the
    # decode kernel dispatches per-row on magic bytes, and all three
    # rows aggregate the SAME feature indices (gray-std avg, gray-max
    # max — closed-form checkable, and JPEG tolerance-close to BMP
    # over the same patterns; both pinned in test_multimodal.py), so
    # the three per-container branches fold into ONE kind-tagged
    # union -> ONE mapInPandas stage -> groupBy(kind): 2 fewer
    # Python-worker stage setups, the rollup's measured fixed cost.
    # Tag by disjoint media_id bands (each make_real_media call
    # numbers from 0, so ids collide across calls).
    containers = (
        real.filter(F.col("kind") == "image")
        .unionByName(
            real_png.withColumn("media_id", F.col("media_id") + _PNG_BAND)
        )
        .unionByName(
            real_jpeg.withColumn("media_id", F.col("media_id") + _JPEG_BAND)
        )
        .unionByName(
            real_jpeg12.withColumn(
                "media_id", F.col("media_id") + _JPEG12_BAND
            )
        )
        .unionByName(
            real_png16.withColumn(
                "media_id", F.col("media_id") + _PNG16_BAND
            )
        )
        .unionByName(
            real_png_low.withColumn(
                "media_id", F.col("media_id") + _PNGLOW_BAND
            )
        )
        .unionByName(
            real_tiff.withColumn(
                "media_id", F.col("media_id") + _TIFF_BAND
            )
        )
        .unionByName(
            real_gif.withColumn(
                "media_id", F.col("media_id") + _GIF_BAND
            )
        )
        # spread the 40 container payloads across tasks so the
        # pure-Python baseline-JPEG decode (the documented slow path)
        # keeps per-image parallelism — coalescing this union was
        # measured to serialize the JPEGs onto one straggler task
        # (~5 s slower). Round-robin is APPROXIMATE isolation: each
        # input partition starts at its own offset, so a task can
        # carry 2-4 rows while others sit empty. The exact
        # alternative (repartitionByRange(24, "media_id"), perfect
        # 1-row-per-task) was tried and measured SLOWER steady-state
        # (3.0 -> 5.5 s): its range-boundary sampling pass
        # re-evaluates the payload-encode union per action, costing
        # more than the collisions it removes at this row count.
        .repartition(40)
    )
    per_container = (
        extract_image_features(containers)
        .groupBy(
            F.when(F.col("media_id") >= _GIF_BAND, "image_gif")
            .when(F.col("media_id") >= _TIFF_BAND, "image_tiff")
            .when(F.col("media_id") >= _PNGLOW_BAND, "image_png_lowdepth")
            .when(F.col("media_id") >= _JPEG12_BAND, "image_jpeg12")
            .when(F.col("media_id") >= _JPEG_BAND, "image_jpeg")
            .when(F.col("media_id") >= _PNG16_BAND, "image_png16")
            .when(F.col("media_id") >= _PNG_BAND, "image_png")
            .otherwise("image_bmp")
            .alias("kind")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.avg(F.element_at("features", 6)), 4).alias(
                "avg_metric"
            ),
            F.round(F.max(F.element_at("features", 8)), 4).alias(
                "max_metric"
            ),
        )
    )
    # resize stage: decode -> nearest-neighbor 16x12 -> re-encode ->
    # re-decode via the feature kernel; avg_metric is the mean width
    # (must be exactly 16 for all rows), max_metric the max gray
    resized = extract_image_features(resize_images(real, 16, 12)).agg(
        F.lit("image_resized").alias("kind"),
        F.count("*").alias("n_rows"),
        F.round(F.avg(F.element_at("features", 1)), 4).alias("avg_metric"),
        F.round(F.max(F.element_at("features", 8)), 4).alias("max_metric"),
    )
    wav = extract_audio_chunk_features(real, chunk_ms=500).agg(
        F.lit("audio_wav").alias("kind"),
        F.count("*").alias("n_rows"),
        F.round(F.avg("rms"), 4).alias("avg_metric"),
        F.round(F.max("peak"), 4).alias("max_metric"),
    )
    # audio_flac: the REAL compressed-audio path (multimodal/flac.py
    # — LPC + Rice + CRC decode). FLAC row i is the lossless twin of
    # WAV row i, so this row's metrics must equal audio_wav's EXACTLY
    # (pinned in test_multimodal.py) — the BMP/PNG container-twin
    # story for audio.
    real_flac = _media_input(spark, "real_flac")
    flac = extract_audio_chunk_features(real_flac, chunk_ms=500).agg(
        F.lit("audio_flac").alias("kind"),
        F.count("*").alias("n_rows"),
        F.round(F.avg("rms"), 4).alias("avg_metric"),
        F.round(F.max("peak"), 4).alias("max_metric"),
    )
    # audio_flac_stereo: stereo + alternating 16/24-bit FLAC through
    # the SAME chunk kernel (channel assignments incl. mid/side with
    # the side channel's extra sample bit; features score the mono
    # downmix, normalized by the actual bit depth).
    real_flac_st = _media_input(spark, "real_flac_stereo")
    flac_st = extract_audio_chunk_features(
        real_flac_st, chunk_ms=500
    ).agg(
        F.lit("audio_flac_stereo").alias("kind"),
        F.count("*").alias("n_rows"),
        F.round(F.avg("rms"), 4).alias("avg_metric"),
        F.round(F.max("peak"), 4).alias("max_metric"),
    )
    # audio_g711: the telephony codecs (mu-law/A-law, ITU segment
    # expansion in decode_wav) over the SAME sines as audio_wav —
    # lossy, so metrics are tolerance-close to audio_wav, not equal
    # (pinned in test_multimodal.py)
    real_g711 = _media_input(spark, "real_g711")
    g711 = extract_audio_chunk_features(real_g711, chunk_ms=500).agg(
        F.lit("audio_g711").alias("kind"),
        F.count("*").alias("n_rows"),
        F.round(F.avg("rms"), 4).alias("avg_metric"),
        F.round(F.max("peak"), 4).alias("max_metric"),
    )
    return (
        img.unionByName(aud)
        .unionByName(vid_union)
        .unionByName(per_container)
        .unionByName(resized)
        .unionByName(wav)
        .unionByName(flac)
        .unionByName(flac_st)
        .unionByName(g711)
    )


# Deterministic pinned corpus → literal pair-table oracle (the
# rollup's posture): 4 exact dups + 4 perturbed + 4 cross-container
# PNG twins, exactly the set test_multimodal.py asserts.
_PHASH_NEARDUP_ORACLE = """
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS INTEGER) AS hamming
FROM (VALUES
  (0, 16, 0), (1, 17, 0), (2, 18, 0), (3, 19, 0),
  (4, 20, 0), (5, 21, 0), (6, 22, 0), (7, 23, 1),
  (8, 24, 0), (9, 25, 0), (10, 26, 0), (11, 27, 0)
) AS t(id_a, id_b, hamming)
"""


@query("multimodal_phash_neardup", oracle=_PHASH_NEARDUP_ORACLE)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over a decoded image
    corpus — the multimodal twin of text simhash dedup: 64-bit aHash
    per image (8x8 block-mean threshold, multimodal/phash.py), then
    the SAME exact pigeonhole Hamming pairing the simhash family uses
    (dedup/simhash.py:hamming_pairs, bit_count verify — no recall
    loss at d <= 3).

    Hash-checked via a literal pair-table oracle (the decode has no
    SQL twin, but the corpus is a pinned fixture). Accuracy is
    pinned in test_multimodal.py: brute-force Hamming equality over
    the collected fingerprints (banding recall/precision 1.0), exact
    byte-duplicates at distance 0, pixel-perturbed near-duplicates
    within the threshold, and cross-container BMP/PNG twins of the
    same pixel pattern hashing IDENTICALLY (the container-invariance
    property a perceptual hash exists for — byte-level dedup can
    never find those).

    Corpus (generated, deterministic — the testdata lake has no media
    table; ``sf_dir`` unused, the rollup's posture): 16 distinct
    seeded-gradient BMPs (pairwise aHash distance >= 17 measured),
    4 exact BMP byte-duplicates, 4 pixel-perturbed near-duplicates,
    4 PNG re-encodings. Scale shape: the hash stage is a map-only
    Arrow-batched scan emitting 8 bytes per image; all pairing work
    runs on the fingerprint frame (equi-join on (chunk, val) bands),
    pixels never shuffle."""
    from cdc_2025_spark.dedup.simhash import hamming_pairs
    from cdc_2025_spark.multimodal.media import make_bmp, make_png
    from cdc_2025_spark.multimodal.phash import (
        perceptual_hashes,
        perturb_bmp,
    )

    base = [
        make_bmp(64 + (i % 5) * 8, 48 + (i % 3) * 8, seed=i * 37)
        for i in range(16)
    ]
    rows = [(i, bytearray(p)) for i, p in enumerate(base)]
    rows += [(16 + j, bytearray(base[j])) for j in range(4)]
    rows += [
        (20 + j, bytearray(perturb_bmp(base[4 + j], n_bytes=60, seed=9 + j)))
        for j in range(4)
    ]
    rows += [
        (
            24 + j,
            bytearray(
                make_png(
                    64 + ((8 + j) % 5) * 8,
                    48 + ((8 + j) % 3) * 8,
                    seed=(8 + j) * 37,
                )
            ),
        )
        for j in range(4)
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).repartition(8)
    fps = perceptual_hashes(media)
    return hamming_pairs(fps, max_distance=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# Same posture as the rollup: the corpus is a deterministic pinned
# fixture and the 10 pair rows are the exact set test_avi.py asserts,
# so the driver row is hash-checked against the literal pair table.
_VIDEO_NEARDUP_ORACLE = """
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(n_shared AS INTEGER) AS n_shared,
       CAST(containment AS DOUBLE) AS containment
FROM (VALUES
  (0, 8, 3, 1.0),
  (0, 13, 3, 1.0),
  (1, 9, 3, 1.0),
  (2, 10, 1, 1.0),
  (3, 11, 4, 1.0),
  (4, 12, 3, 1.0),
  (8, 13, 3, 1.0),
  (14, 15, 3, 1.0),
  (14, 16, 6, 1.0),
  (15, 16, 3, 1.0)
) AS t(id_a, id_b, n_shared, containment)
"""


@query("multimodal_video_neardup", oracle=_VIDEO_NEARDUP_ORACLE)
def multimodal_video_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Video near-duplicate pairs over a decoded MJPEG-AVI corpus —
    the video leg of the perceptual-hash family: 64-bit aHash per
    CONTAINER frame (multimodal/avi.py RIFF parse + baseline-JPEG
    decode, one Arrow-batched mapInPandas stage, 12 bytes out per
    frame), then containment pairing of the distinct frame-hash sets
    on the 8-byte hash key (multimodal/phash.py:video_neardup_pairs)
    — catches exact re-uploads, truncations, and shared-prefix edits
    with NO all-pairs stage (frames only meet on equal hashes, the
    shared-shingle fanout shape).

    Hash-checked via a literal pair-table oracle (the container
    decode has no SQL twin, but the corpus is a pinned fixture).
    Accuracy is pinned in test_avi.py: engine pairs == a python set model over
    the same frame hashes, prefix twins at containment 1.0, disjoint
    seeds pair-free, and frame hashes byte-identical to still-JPEG
    decodes of the same pattern.

    Corpus (generated, deterministic — the testdata lake has no media
    table; ``sf_dir`` unused, the phash query's posture): 8 base
    videos of distinct seeds (4-6 frames), 3 prefix truncations
    (seeds 0-2, 3 frames — the re-upload-of-a-clip case), 2 exact
    byte-duplicates (seeds 3-4), 1 CROSS-CODEC re-encode (video
    0's decoded frames stored as uncompressed DIB — byte-different
    container, pixel-identical frames), and a CROSS-FAMILY trio: a
    6-frame animated GIF (multimodal/gif.py LZW frames), its 3-frame
    prefix truncation, and a DIB-AVI re-encode of the GIF's decoded
    frames — a RIFF container and an LZW container pairing on
    pixel-identical frames, the strongest "byte dedup can never see
    this" case. Expected: exactly 10 near-dup pairs, each at
    containment 1.0 (7 as before + GIF/prefix + GIF/DIB-AVI +
    prefix/DIB-AVI). Scale shape: pixels never shuffle; all pairing
    runs on the (media_id, ahash) frame — one distinct, one
    equi-join on the hash, grouped counts."""
    from cdc_2025_spark.multimodal.avi import (
        decode_avi_frame,
        encode_dib_avi,
        make_mjpeg_avi,
        parse_avi,
    )
    from cdc_2025_spark.multimodal.phash import (
        video_frame_hashes,
        video_neardup_pairs,
    )

    def build() -> DataFrame:
        rows = [
            (i, bytearray(make_mjpeg_avi(40, 32, n_frames=4 + i % 3, seed=i)))
            for i in range(8)
        ]
        rows += [
            (8 + j, bytearray(make_mjpeg_avi(40, 32, n_frames=3, seed=j)))
            for j in range(3)
        ]
        rows += [
            (
                11 + j,
                bytearray(
                    make_mjpeg_avi(40, 32, n_frames=4 + (3 + j) % 3, seed=3 + j)
                ),
            )
            for j in range(2)
        ]
        # cross-codec re-encode: video 0's DECODED frames stored raw
        m0 = parse_avi(make_mjpeg_avi(40, 32, n_frames=4, seed=0))
        rows += [
            (
                13,
                bytearray(
                    encode_dib_avi(
                        [
                            decode_avi_frame(m0, f)
                            for f in range(m0["n_frames"])
                        ]
                    )
                ),
            )
        ]
        # cross-FAMILY trio: animated GIF + its prefix + a DIB-AVI
        # of the GIF's decoded frames (RIFF vs LZW containers,
        # pixel-identical frames)
        from cdc_2025_spark.multimodal.gif import (  # noqa: PLC0415
            decode_gif,
            make_gif,
        )

        gif_full = make_gif(40, 32, n_frames=6, seed=100)
        rows += [
            (14, bytearray(gif_full)),
            (15, bytearray(make_gif(40, 32, n_frames=3, seed=100))),
            (
                16,
                bytearray(
                    encode_dib_avi(decode_gif(gif_full)["frames"])
                ),
            ),
        ]
        return spark.createDataFrame(
            rows, "media_id long, payload binary"
        ).repartition(4)

    vids = _media_input(spark, "neardup_videos", build)
    pairs = video_neardup_pairs(
        video_frame_hashes(vids), threshold=0.5
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("n_shared").cast("int").alias("n_shared"),
        "containment",
    )


# The 7 pair rows below are the exact set test_afp.py asserts
# (including the two adversarial-control bounds); containment values
# are the shortest-roundtrip reprs of Spark's ROUND(x, 4) doubles.
_AUDIO_NEARDUP_ORACLE = """
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(n_shared AS INTEGER) AS n_shared,
       CAST(containment AS DOUBLE) AS containment
FROM (VALUES
  (0, 6, 7, 1.0),
  (1, 7, 7, 1.0),
  (1, 12, 10, 0.8333),
  (2, 8, 12, 1.0),
  (3, 9, 11, 1.0),
  (4, 10, 14, 1.0),
  (7, 12, 5, 0.7143)
) AS t(id_a, id_b, n_shared, containment)
"""


@query("multimodal_audio_neardup", oracle=_AUDIO_NEARDUP_ORACLE)
def multimodal_audio_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-duplicate pairs over a decoded WAV/FLAC corpus —
    the audio leg of the perceptual near-dup triad (image aHash,
    video frame-hash containment, this): Haitsma-Kalker band-energy
    sign hashes per 64 ms frame (multimodal/afp.py, 17 log-spaced
    bands -> 16-bit frame hashes, one Arrow-batched mapInPandas
    stage), then the SAME distinct-hash containment equi-join the
    video family uses (phash.video_neardup_pairs consumes the
    fingerprint frame verbatim) — catches exact re-uploads, prefix
    truncations, lossless container swaps, and volume-rescaled
    re-encodes with NO all-pairs stage.

    Hash-checked via a literal pair-table oracle (the audio decode
    has no SQL twin, but the corpus is a pinned fixture). Accuracy is
    pinned in test_afp.py: engine pairs == a python set model over
    the same fingerprints, and each planted duplicate class pairs at
    containment 1.0 with max spurious containment measured at 0.18
    (16-bit hashes — the 8-bit default collides too readily for a
    0.5 threshold on short clips).

    Corpus (generated, deterministic — the testdata lake has no
    media table; ``sf_dir`` unused, the video query's posture): 6
    melodies of DISTINCT interval contours (zigzag, falling,
    narrow-wide, octave-leap, linear-rise, high-low) as 16-bit FLAC,
    plus 5 planted duplicates: two 3-note prefix truncations (the
    re-upload-of-a-clip case), one exact byte duplicate, one WAV
    container twin (same samples through encode_wav_pcm16 — decodes
    identically, fingerprints identically by construction), and one
    x128-amplified 24-bit FLAC re-encode (power-of-two scaling is
    exact in float64, so every sign bit survives); plus two r13
    ADVERSARIAL CONTROLS bounding the claimed invariances instead of
    just demonstrating them: a PITCHED negative (melody 5 shifted up
    one equal-tempered semitone — pitch moves band energies across
    the log-spaced band edges, so it must NOT pair; measured max
    containment vs its base 0.364, the tightest sub-threshold margin
    in the corpus) and a MILD-NOISE positive (melody 1 plus a
    deterministic LCG dither at +/-10 LSB ~ 0.12% of amplitude — the
    robustness H-K actually claims; it pairs with its base AND the
    base's 3-note prefix, since shared content is shared content).
    Expected: exactly 7 pairs — (0,6) (1,7) (2,8) (3,9) (4,10) at
    containment 1.0, (1,12) at 0.8333 and (7,12) at 0.7143 — and no
    pair involving the pitched clip 11. Scale shape: samples never
    shuffle; all pairing runs on the (media_id, ahash) frame — one
    distinct, one equi-join on the hash, grouped counts."""
    import math

    from cdc_2025_spark.multimodal.afp import audio_fingerprints
    from cdc_2025_spark.multimodal.flac import encode_flac
    from cdc_2025_spark.multimodal.media import encode_wav_pcm16
    from cdc_2025_spark.multimodal.phash import video_neardup_pairs

    rate = 8000

    def melody(notes, ms=200, amp=0.25):
        xs = []
        n = rate * ms // 1000
        for f in notes:
            for i in range(n):
                xs.append(
                    int(amp * 32767 * math.sin(2 * math.pi * f * i / rate))
                )
        return xs

    def build() -> DataFrame:
        rows = [
            (i, bytearray(encode_flac(melody(m), sample_rate=rate)))
            for i, m in enumerate(AUDIO_NEARDUP_MELODIES)
        ]
        rows += [
            (
                6 + j,
                bytearray(
                    encode_flac(
                        melody(AUDIO_NEARDUP_MELODIES[j][:3]),
                        sample_rate=rate,
                    )
                ),
            )
            for j in range(2)
        ]
        rows.append((8, bytearray(rows[2][1])))  # exact byte dup
        rows.append(
            (
                9,
                bytearray(
                    encode_wav_pcm16(
                        melody(AUDIO_NEARDUP_MELODIES[3]), rate
                    )
                ),
            )
        )
        rows.append(
            (
                10,
                bytearray(
                    encode_flac(
                        [
                            v * 128
                            for v in melody(AUDIO_NEARDUP_MELODIES[4])
                        ],
                        sample_rate=rate,
                        bits=24,
                    )
                ),
            )
        )
        # r13 controls: pitched NEGATIVE (one semitone up), mild-
        # noise POSITIVE (deterministic LCG dither, fixed seed)
        rows.append(
            (
                11,
                bytearray(
                    encode_flac(
                        melody(
                            tuple(
                                f * 1.059463
                                for f in AUDIO_NEARDUP_MELODIES[5]
                            )
                        ),
                        sample_rate=rate,
                    )
                ),
            )
        )
        rows.append(
            (
                12,
                bytearray(
                    encode_flac(
                        _lcg_dither(
                            melody(AUDIO_NEARDUP_MELODIES[1])
                        ),
                        sample_rate=rate,
                    )
                ),
            )
        )
        return spark.createDataFrame(
            rows, "media_id long, payload binary"
        ).repartition(4)

    clips = _media_input(spark, "neardup_audio", build)
    pairs = video_neardup_pairs(
        audio_fingerprints(clips, n_bands=17), threshold=0.5
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("n_shared").cast("int").alias("n_shared"),
        "containment",
    )


def _lcg_dither(samples, span=21, offset=10, seed=12345):
    """Deterministic +/-offset LSB dither (glibc LCG constants) —
    the mild-noise positive control's noise source; a fixed seed
    keeps the fingerprints, and therefore the driver rows, stable."""
    out, state = [], seed
    for v in samples:
        state = (state * 1103515245 + 12345) & 0x7FFFFFFF
        out.append(
            max(-32768, min(32767, v + (state % span) - offset))
        )
    return out


# distinct interval CONTOURS (one shuffled pattern shares band-
# derivative shapes across melodies and pairs spuriously at a 0.5
# containment threshold — measured, not hypothetical)
AUDIO_NEARDUP_MELODIES = [
    (320.0, 640.0, 480.0, 960.0, 400.0),     # up-down zigzag, low
    (1640.0, 1230.0, 820.0, 615.0, 410.0),   # strictly falling
    (500.0, 505.0, 1500.0, 495.0, 1490.0),   # narrow-wide alternation
    (360.0, 2880.0, 370.0, 2900.0, 350.0),   # extreme octave leaps
    (700.0, 840.0, 980.0, 1120.0, 1260.0),   # slow linear rise
    (2200.0, 330.0, 2400.0, 310.0, 2600.0),  # high-low alternation
]
