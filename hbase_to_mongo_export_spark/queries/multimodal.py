"""multimodal queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(UNNEST(range(0, ((doc_id % 5) + 1) * 3000, 1000)) AS BIGINT)
             AS frame_ts_ms
    FROM documents WHERE doc_id % 3 = 0 ORDER BY 1, 2
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-timestamp sampling through the stubbed demuxer
    (operators/multimodal.frame_sample, mapInPandas). The fake demux emits
    a frame every 1000 ms across meta.duration_ms, which the oracle
    reproduces with range()+UNNEST — a full value-level check that the
    Arrow batch plumbing (struct access, row explosion, schema) is right,
    even though the real ffmpeg call is stubbed."""
    media = _media_from_documents(spark, sf_dir, "video", "mp4", 3, 0)
    return mm_mod.frame_sample(media, every_ms=1000).orderBy(
        "media_id", "frame_ts_ms"
    )


@register(
    "multimodal_image_features",
    oracle="""
    WITH lanes AS (
      SELECT doc_id, len(text) AS n_bytes,
             (SELECT COALESCE(SUM(ascii(substr(text, CAST(u.i AS INT) + 1, 1))), 0)
              FROM UNNEST(range(0, LEAST(len(text), 1024))) AS u(i)
              WHERE u.i % 8 = 0) % 997 AS lane0
      FROM documents WHERE doc_id % 3 = 1)
    SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
           COUNT(*) AS n_images,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(lane0) AS BIGINT) AS f0_lane_sum
    FROM lanes GROUP BY doc_id % 8 ORDER BY bucket
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction over binary payloads (stubbed decoder,
    real mapInPandas plumbing): byte-budget repartition sizes decode
    tasks by payload bytes, then each Arrow batch yields an 8-float
    feature vector per image. The fake decode's lane accumulator is an
    incremental mod — equal to a plain sum mod 997 — so the oracle
    replays the byte loop with ascii(substr(...)) and the per-image
    float feature round-trips to its exact integer lane value
    (round(f * 997)); every aggregate is integer-exact."""
    media = mm_mod.media_repartition(
        _media_from_documents(spark, sf_dir, "image", "jpeg", 3, 1),
        target_bytes=8 * 1024 * 1024,
    )
    feats = mm_mod.image_features(media, fake=True)
    return (
        feats.groupBy((F.col("media_id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.sum(
                F.round(F.element_at("features", 1) * 997).cast("bigint")
            )
            .cast("bigint")
            .alias("f0_lane_sum"),
        )
        .orderBy("bucket")
    )


@register(
    "multimodal_audio_features",
    oracle="""
    WITH clips AS (
      SELECT doc_id, len(text) AS n_bytes,
             (SELECT SUM((ascii(substr(text, CAST(u.i AS INT), 1)) - 128) *
                         (ascii(substr(text, CAST(u.i AS INT), 1)) - 128))
              FROM UNNEST(range(1, LEAST(len(text), 2048) + 1)) AS u(i))
               AS sumsq,
             LEAST(len(text), 2048) AS n
      FROM documents WHERE doc_id % 3 = 2 AND len(text) > 0)
    SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
           COUNT(*) AS n_clips,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(0 AS BIGINT) AS zc_total,
           ROUND(MAX(SQRT(CAST(sumsq AS DOUBLE) / n) /
                     CAST(128 AS DOUBLE)), 6) AS max_rms
    FROM clips GROUP BY doc_id % 8 ORDER BY bucket
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio RMS / zero-crossing extraction (stubbed codec, real Arrow
    batch plumbing), now fully value-checked: the fake PCM treats
    payload bytes as centered samples, so the oracle recomputes the
    per-clip RMS from ascii(substr(...)) byte reads (correctly-rounded
    SQRT on both sides) and zero crossings are provably 0 on ASCII
    payloads (every sample is negative — pinned, not skipped). MAX is
    the order-independent aggregate for the per-clip float."""
    media = _media_from_documents(spark, sf_dir, "audio", "wav", 3, 2)
    feats = mm_mod.audio_features(media, fake=True)
    return (
        feats.groupBy((F.col("media_id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.sum("zero_crossings").cast("bigint").alias("zc_total"),
            F.round(F.max("rms"), 6).alias("max_rms"),
        )
        .orderBy("bucket")
    )


@register(
    "media_binary_stats",
    oracle="""
    WITH media AS (
      SELECT doc_id AS media_id, encode(text) AS payload, text
      FROM documents WHERE doc_id % 3 = 1),
    hexed AS (
      SELECT media_id, octet_length(payload) AS n_bytes,
             hex(payload) AS h, md5(text) AS payload_md5
      FROM media)
    SELECT media_id, n_bytes, payload_md5,
           substring(h, 1, 8) AS magic4,
           len(list_distinct([substring(h, 2*i - 1, 2)
                              FOR i IN range(1, len(h)//2 + 1)])) AS n_distinct_bytes
    FROM hexed
    ORDER BY media_id
    """,
)
def media_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column analytics without any codec: payload size,
    content digest, leading-bytes 'magic number' signature, and distinct
    byte cardinality — all computed JVM-side on the binary column (hex +
    array ops) and hash-checked against DuckDB's blob functions. This is
    the triage pass (corrupt/truncated/miscontainer detection) that runs
    BEFORE expensive decode at 100 TB."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 1)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    hexed = media.select(
        "media_id",
        F.length("payload").alias("n_bytes"),
        F.hex("payload").alias("h"),
        F.md5("payload").alias("payload_md5"),
    )
    return hexed.select(
        "media_id",
        "n_bytes",
        "payload_md5",
        F.substring("h", 1, 8).alias("magic4"),
        F.size(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(h) DIV 2), i -> substring(h, 2*i - 1, 2))"
                )
            )
        ).alias("n_distinct_bytes"),
    ).orderBy("media_id")


@register(
    "multimodal_ppm_decode_stats",
    oracle="""
    WITH px AS (
      SELECT t.id, u.i % 3 AS ch, CAST((t.id * 31 + u.i) % 256 AS DOUBLE) AS v
      FROM range(0, 50) t(id) CROSS JOIN range(0, 576) u(i))
    SELECT id AS media_id,
           CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
           ROUND(avg(v) FILTER (ch = 0), 6) AS mean_r,
           ROUND(avg(v) FILTER (ch = 1), 6) AS mean_g,
           ROUND(avg(v) FILTER (ch = 2), 6) AS mean_b
    FROM px GROUP BY id ORDER BY media_id
    """,
)
def multimodal_ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decoding end-to-end: deterministic P6 PPM payloads →
    binary parse (header walk + numpy pixel view) inside mapInPandas →
    per-channel means. The oracle integrates the generator's closed form
    ((id*31+i) % 256) directly in SQL, so the whole decode path — header
    parsing, offset math, channel deinterleave — is value-checked. This is
    the non-stubbed half of the multimodal surface (self-describing
    formats); jpeg/mp4 remain declared stubs."""
    media = mm_mod.synthetic_ppm_media(spark, n=50)
    return mm_mod.ppm_image_stats(media).orderBy("media_id")


@register(
    "multimodal_wav_decode_stats",
    oracle="""
    WITH s AS (
      SELECT t.id, ((t.id * 7 + u.s * 13) % 65536) - 32768 AS v
      FROM range(0, 50) t(id) CROSS JOIN range(0, 256) u(s))
    SELECT id AS media_id,
           CAST(256 AS BIGINT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           ROUND(sqrt(SUM(CAST(v AS DOUBLE) * v) / 256), 6) AS rms,
           CAST(MAX(abs(v)) AS INT) AS peak
    FROM s GROUP BY id ORDER BY media_id
    """,
)
def multimodal_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decoding end-to-end: RIFF/WAVE chunk walk + PCM16 numpy
    view inside mapInPandas → per-clip RMS/peak, value-checked against the
    generator's closed form. Same quarantine-on-malformed contract as the
    export pipeline's decrypt step."""
    media = mm_mod.synthetic_wav_media(spark, n=50)
    return mm_mod.wav_audio_stats(media).orderBy("media_id")


@register(
    "multimodal_ppm_resize_stats",
    oracle="""
    WITH grid AS (
      SELECT t.id, xo.x, yo.y,
             (xo.x * 16) // 8 AS sx, (yo.y * 12) // 6 AS sy
      FROM range(0, 50) t(id)
      CROSS JOIN range(0, 8) xo(x) CROSS JOIN range(0, 6) yo(y)),
    px AS (
      SELECT id, c.c AS ch,
             CAST((id * 31 + (sy * 16 + sx) * 3 + c.c) % 256 AS DOUBLE) AS v
      FROM grid CROSS JOIN range(0, 3) c(c))
    SELECT id AS media_id,
           CAST(8 AS INT) AS out_w, CAST(6 AS INT) AS out_h,
           ROUND(avg(v) FILTER (ch = 0), 6) AS mean_r,
           ROUND(avg(v) FILTER (ch = 1), 6) AS mean_g,
           ROUND(avg(v) FILTER (ch = 2), 6) AS mean_b
    FROM px GROUP BY id ORDER BY media_id
    """,
)
def multimodal_ppm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end: P6 decode → nearest-neighbor
    16x12 → 8x6 resample (integer source-index grid) → per-channel means,
    inside mapInPandas. The oracle rebuilds the exact resample grid from
    the generator's closed form, so header offsets, row-major indexing,
    and the sampling arithmetic are all value-checked. Completes the
    multimodal verb set: decode, feature-extract, RESIZE, frame-sample."""
    media = mm_mod.synthetic_ppm_media(spark, n=50)
    return mm_mod.ppm_resize_stats(media, out_w=8, out_h=6).orderBy("media_id")


@register(
    "multimodal_image_dhash",
    oracle="""
    WITH grid AS (
      SELECT t.id, y.y, c.c,
             (c.c * 16) // 9 AS xs, (y.y * 12) // 8 AS ys
      FROM range(0, 50) t(id)
      CROSS JOIN range(0, 8) y(y)
      CROSS JOIN range(0, 9) c(c)),
    gray AS (
      SELECT id, y, c,
             ((id * 31 + ((ys * 16 + xs) * 3 + 0)) % 256) +
             ((id * 31 + ((ys * 16 + xs) * 3 + 1)) % 256) +
             ((id * 31 + ((ys * 16 + xs) * 3 + 2)) % 256) AS g
      FROM grid),
    bits AS (
      SELECT id, y, c,
             CASE WHEN LEAD(g) OVER (PARTITION BY id, y ORDER BY c) > g
                  THEN 1 ELSE 0 END AS b
      FROM gray),
    packed AS (
      SELECT id,
             SUM(CASE WHEN y < 4 AND b = 1
                      THEN CAST(1 AS BIGINT) << (y * 8 + c) ELSE 0 END)
               AS dhash_hi,
             SUM(CASE WHEN y >= 4 AND b = 1
                      THEN CAST(1 AS BIGINT) << ((y - 4) * 8 + c) ELSE 0 END)
               AS dhash_lo
      FROM bits WHERE c < 8
      GROUP BY id)
    SELECT id AS media_id, CAST(dhash_hi AS BIGINT) AS dhash_hi,
           CAST(dhash_lo AS BIGINT) AS dhash_lo
    FROM packed ORDER BY media_id
    """,
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over REALLY-decoded P6 images (see
    operators/multimodal.ppm_image_dhash) — the image near-dup
    primitive, value-checked bit for bit because both the decoder input
    and the oracle derive from the same closed-form pixel generator.
    Downstream, hamming distance on (dhash_hi, dhash_lo) pairs buckets
    visually-identical images exactly like SimHash buckets text."""
    media = mm_mod.synthetic_ppm_media(spark, n=50)
    return mm_mod.ppm_image_dhash(media).orderBy("media_id")


@register(
    "multimodal_audio_fingerprint",
    oracle="""
    WITH s AS (
      SELECT t.id, u.s AS i,
             ABS(((t.id * 7 + u.s * 13) % 65536) - 32768) AS av
      FROM range(0, 50) t(id) CROSS JOIN range(0, 256) u(s)),
    bands AS (
      SELECT id, i // 32 AS w, SUM(av) AS e
      FROM s GROUP BY id, i // 32),
    bits AS (
      SELECT id, w,
             CASE WHEN LEAD(e) OVER (PARTITION BY id ORDER BY w) > e
                  THEN 1 ELSE 0 END AS b
      FROM bands)
    SELECT b.id AS media_id,
           CAST(SUM(CASE WHEN b.b = 1 THEN 1 << b.w ELSE 0 END) AS INT)
             AS fingerprint,
           (SELECT CAST(SUM(e) AS BIGINT) FROM bands t WHERE t.id = b.id)
             AS total_abs_energy
    FROM bits b WHERE b.w < 7
    GROUP BY b.id
    ORDER BY media_id
    """,
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-envelope audio fingerprint over REALLY-decoded PCM16
    clips (see operators/multimodal.wav_energy_fingerprint): 8 integer
    band energies, 7 louder-than-previous bits — the audio analog of the
    image dHash, with the same closed-form full value gate."""
    media = mm_mod.synthetic_wav_media(spark, n=50)
    return mm_mod.wav_energy_fingerprint(media).orderBy("media_id")


@register(
    "multimodal_image_near_dup_pairs",
    oracle="""
    WITH grid AS (
      SELECT t.id, y.y, c.c,
             (c.c * 16) // 9 AS xs, (y.y * 12) // 8 AS ys
      FROM range(0, 50) t(id)
      CROSS JOIN range(0, 8) y(y)
      CROSS JOIN range(0, 9) c(c)),
    gray AS (
      SELECT id, y, c,
             ((id * 31 + ((ys * 16 + xs) * 3 + 0)) % 256) +
             ((id * 31 + ((ys * 16 + xs) * 3 + 1)) % 256) +
             ((id * 31 + ((ys * 16 + xs) * 3 + 2)) % 256) AS g
      FROM grid),
    bits AS (
      SELECT id, y, c,
             CASE WHEN LEAD(g) OVER (PARTITION BY id, y ORDER BY c) > g
                  THEN 1 ELSE 0 END AS b
      FROM gray),
    packed AS (
      SELECT id,
             SUM(CASE WHEN y < 4 AND b = 1
                      THEN CAST(1 AS BIGINT) << (y * 8 + c) ELSE 0 END) AS hi,
             SUM(CASE WHEN y >= 4 AND b = 1
                      THEN CAST(1 AS BIGINT) << ((y - 4) * 8 + c) ELSE 0 END)
               AS lo
      FROM bits WHERE c < 8 GROUP BY id),
    pairs AS (
      SELECT bit_count(CAST(xor(a.hi, b.hi) AS BIGINT)) +
             bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) AS hamming
      FROM packed a JOIN packed b ON a.id < b.id)
    SELECT CAST(hamming // 8 AS INT) AS hamming_band,
           COUNT(*) AS n_pairs,
           CAST(MIN(hamming) AS INT) AS min_hamming,
           CAST(MAX(hamming) AS INT) AS max_hamming
    FROM pairs
    GROUP BY hamming // 8
    ORDER BY hamming_band
    """,
)
def multimodal_image_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection closing the multimodal dedup loop:
    pairwise Hamming distance between perceptual dHashes (the
    really-decoded P6 pipeline), banded into a distance histogram — the
    readout that calibrates a hamming threshold before bucketed
    image dedup, exactly like the MinHash band sweep calibrates text
    LSH. The hash table is media-sized, so the pair join is the small
    diagnostic form; production pairing buckets on hash prefixes."""
    media = mm_mod.synthetic_ppm_media(spark, n=50)
    # Both sides of the pair join consume the dHash table; materialize
    # it (3 ints per image, node-scale) so the P6 decode+hash kernel
    # runs once instead of once per side (guide §1.2).
    hashes = _mat(mm_mod.ppm_image_dhash(media))
    a = hashes.select(
        F.col("media_id").alias("ida"),
        F.col("dhash_hi").alias("ha"),
        F.col("dhash_lo").alias("la"),
    )
    b = hashes.select(
        F.col("media_id").alias("idb"),
        F.col("dhash_hi").alias("hb"),
        F.col("dhash_lo").alias("lb"),
    )
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        (
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
        ).alias("hamming")
    )
    return (
        pairs.groupBy(
            F.expr("hamming div 8").cast("int").alias("hamming_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("hamming").cast("int").alias("min_hamming"),
            F.max("hamming").cast("int").alias("max_hamming"),
        )
        .orderBy("hamming_band")
    )


@register(
    "multimodal_video_scene_cuts",
    oracle="""
    WITH v AS (
      SELECT doc_id AS media_id, text,
             ((doc_id % 5) + 1) * 3 AS n_frames, len(text) AS nb
      FROM documents WHERE doc_id % 3 = 0 AND len(text) > 0),
    f AS (
      SELECT media_id, n_frames, CAST(t.i AS INT) AS i,
             ascii(substr(text, CAST((t.i * 7) % nb AS INT) + 1, 1)) AS luma
      FROM v, UNNEST(range(0, n_frames)) AS t(i)),
    d AS (
      SELECT media_id, n_frames, i, luma,
             LAG(luma) OVER (PARTITION BY media_id ORDER BY i) AS prev
      FROM f)
    SELECT media_id,
           CAST(MAX(n_frames) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ABS(luma - prev) > 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
           CAST(MIN(CASE WHEN prev IS NOT NULL AND ABS(luma - prev) > 10
                         THEN i * 1000 END) AS BIGINT) AS first_cut_ts
    FROM d GROUP BY media_id ORDER BY media_id
    """,
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-change detection closing the multimodal analysis loop:
    sampled frames -> per-frame luminance -> cut where consecutive lumas
    jump past the threshold. The fake codec reads REAL payload bytes
    (luma = byte at (i*7) mod len), so the whole mapInPandas pipeline is
    value-checked — the oracle replays the byte reads with
    ascii(substr(...)) on the ASCII payloads."""
    media = _media_from_documents(spark, sf_dir, "video", "mp4", 3, 0)
    return mm_mod.video_scene_cuts(media, every_ms=1000, threshold=10).orderBy(
        "media_id"
    )


__all__ = [
    'multimodal_frame_sample',
    'multimodal_image_features',
    'multimodal_audio_features',
    'media_binary_stats',
    'multimodal_ppm_decode_stats',
    'multimodal_wav_decode_stats',
    'multimodal_ppm_resize_stats',
    'multimodal_image_dhash',
    'multimodal_audio_fingerprint',
    'multimodal_image_near_dup_pairs',
    'multimodal_video_scene_cuts',
]
