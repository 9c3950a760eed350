"""Multimodal-column queries with arithmetic DuckDB oracles.

The binary payloads are deterministic fakes derived from doc_id
(operators/multimodal.py), so the oracle can recompute the expected
typed metadata — width/height/byte-length/frame-indices — with pure
SQL arithmetic over ``documents``. That verifies the whole Spark-side
path numerically: Arrow binary batching, mapInPandas decode, fan-out
row multiplication. The payload bytes themselves are covered by
tests/test_multimodal.py (decode/resize round-trips).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.multimodal import (
    attach_fake_audio,
    attach_fake_frames,
    attach_fake_images,
    audio_window_energy,
    extract_audio_metadata,
    extract_image_metadata,
    sample_video_frames,
)
from cosmos_xenna_spark.queries import register


@register(
    "q_multimodal_image_meta",
    oracle="""
    SELECT doc_id AS id,
           CAST((doc_id % 16) + 4 AS BIGINT) AS width,
           CAST((doc_id % 8) + 4 AS BIGINT) AS height,
           16 + ((doc_id % 16) + 4) * ((doc_id % 8) + 4) AS n_bytes
    FROM documents
    """,
    description="binary image column -> typed metadata via mapInPandas decode "
    "(deterministic fake payloads; oracle recomputes dims arithmetically)",
)
def q_multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    meta = extract_image_metadata(attach_fake_images(docs))
    return meta.select("id", "width", "height", "n_bytes")


@register(
    "q_multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS id, CAST(UNNEST(range(0, (doc_id % 5) + 1, 2)) AS BIGINT) AS frame_idx
    FROM documents
    """,
    description="video frame sampling: array<binary> frames -> one row per "
    "kept frame (every 2nd), executor-side fan-out",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sampled = sample_video_frames(attach_fake_frames(docs), every_n=2)
    return sampled.select("id", "frame_idx")


@register(
    "q_multimodal_audio_meta",
    oracle="""
    SELECT doc_id AS id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST((doc_id % 50 + 10) * 100 AS BIGINT) AS n_samples,
           CAST((doc_id % 50 + 10) * 100 AS DOUBLE) / 8000 AS duration_s
    FROM documents
    """,
    description="binary audio column -> typed metadata (sample rate / "
    "sample count / duration) via mapInPandas decode; oracle recomputes "
    "the header fields arithmetically (amplitude stats are payload-"
    "dependent, covered by tests/test_multimodal.py)",
)
def q_multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    meta = extract_audio_metadata(attach_fake_audio(docs))
    return meta.select("id", "sample_rate", "n_samples", "duration_s")


@register(
    "q_multimodal_audio_windows",
    oracle="""
    SELECT doc_id AS id,
           CAST(UNNEST(range(0, CAST(ceil(((doc_id % 50 + 10) * 100) / 4000.0) AS BIGINT)))
                AS BIGINT) AS win_idx
    FROM documents
    """,
    description="audio window fan-out: one row per 4000-sample PCM window "
    "(the audio analogue of video frame sampling); oracle recomputes the "
    "window count arithmetically",
)
def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    wins = audio_window_energy(attach_fake_audio(docs), window_samples=4000)
    return wins.select("id", "win_idx")


@register(
    "q_multimodal_video_demux",
    oracle="""
    SELECT doc_id AS id,
           CAST(g.j AS BIGINT) AS frame_idx,
           CAST(g.j * 40000 AS BIGINT) AS ts_us,
           CAST(16 + 48 AS BIGINT) AS frame_bytes
    FROM documents, UNNEST(range(0, doc_id % 4 + 2)) AS g(j)
    """,
    description="real AVI container demux: RIFF chunk walk executor-side, "
    "one row per '00dc' frame with stream timestamps; frame payloads feed "
    "the image decode seam (MJPEG = the baseline-JPEG kernel) — oracle "
    "recomputes the frame fan-out arithmetically",
)
def q_multimodal_video_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.multimodal import (
        attach_fake_videos,
        video_to_frames,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = video_to_frames(attach_fake_videos(docs))
    return frames.select(
        "id", "frame_idx", "ts_us", F.length("frame").cast("bigint").alias("frame_bytes")
    )


@register(
    "q_audio_spectral",
    oracle=None,  # FFT output has no SQL oracle; pinned by the pure-tone
    # property test (tests/test_multimodal.py::test_audio_spectral_pure_tone)
    description="windowed rFFT spectral features per clip (centroid / 85% "
    "rolloff / rms) — vectorized numpy per clip, one stacked rFFT call per "
    "batch; rows-only driver check by design, like the seeded k-means fits",
)
def q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.multimodal import (
        attach_fake_audio,
        audio_spectral_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(200)
    return audio_spectral_features(attach_fake_audio(docs), window_samples=512)


@register(
    "q_image_phash_pairs",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id AND a.doc_id % 32 = b.doc_id % 32
    """,
    description="image near-dup pairs by perceptual average-hash (decode -> "
    "8x8 integer aHash -> pigeonhole band join -> exact bit_count verify, "
    "hamming <= 3); planted duplicate classes (id % 32) make the ground "
    "truth arithmetic, so the oracle certifies the whole decode->hash->"
    "band->verify chain end-to-end — distinct fake images sit ~32 bits "
    "apart, so only the byte-identical plants pair up",
)
def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.multimodal import (
        attach_fake_image_corpus,
        image_ahash,
        image_hash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashes = image_ahash(attach_fake_image_corpus(docs))
    return image_hash_pairs(hashes, max_hamming=3, n_bands=4)


@register(
    "q_video_scene_cuts",
    oracle="""
    SELECT doc_id AS id,
           CAST(g.j AS BIGINT) AS frame_idx,
           CAST(g.j * 40000 AS BIGINT) AS ts_us
    FROM documents, UNNEST(range(2, doc_id % 4 + 2, 2)) AS g(j)
    """,
    description="video scene-change detection: AVI demux -> per-frame "
    "perceptual aHash -> lag window per video, cut when consecutive "
    "hashes differ by >= 5 bits; the fake corpus repeats frames in "
    "pairs, so cuts sit exactly at even frame indices — the oracle "
    "recomputes that arithmetically, certifying that identical frames "
    "never fire and scene changes always do",
)
def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.multimodal import (
        attach_fake_videos_scenes,
        video_scene_cuts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cuts = video_scene_cuts(attach_fake_videos_scenes(docs), min_hamming=5)
    return cuts.select("id", "frame_idx", "ts_us")


from cosmos_xenna_spark.operators.archive import (  # noqa: E402
    attach_fake_tar_corpus,
    tar_members,
    tar_members_oracle_sql,
    wds_samples,
    wds_samples_oracle_sql,
)


@register(
    "q_tar_members",
    oracle=tar_members_oracle_sql(
        "SELECT doc_id FROM documents", "doc_id", docs_per_shard=4
    ),
    description="WebDataset tar-shard member table: a REAL ustar parse "
    "(octal size field, 512-byte block walk, zero-block terminator) "
    "over binary shards via row-local mapInPandas — names, sizes and "
    "data offsets for object-store range reads; the oracle recomputes "
    "every offset arithmetically (running sum of block-rounded member "
    "footprints), certifying the parser end-to-end",
)
def q_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = attach_fake_tar_corpus(docs, "doc_id", docs_per_shard=4)
    return tar_members(shards)


@register(
    "q_wds_sample_stats",
    oracle=wds_samples_oracle_sql(
        "SELECT doc_id FROM documents", "doc_id", docs_per_shard=4
    ),
    description="WebDataset sample assembly + integrity gate: members "
    "grouped by basename-before-first-dot into samples, per-sample "
    "modality flags (jpg/txt) and the completeness bit (planted "
    "incomplete samples at doc_id % 5 == 0) — the ingest check every "
    "multimodal training job runs before touching payloads",
)
def q_wds_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = attach_fake_tar_corpus(docs, "doc_id", docs_per_shard=4)
    return wds_samples(tar_members(shards), required=("jpg", "txt"))


from cosmos_xenna_spark.operators.archive import (  # noqa: E402
    attach_fake_zip_corpus,
    zip_members,
    zip_members_oracle_sql,
)


@register(
    "q_zip_members",
    oracle=zip_members_oracle_sql(
        "SELECT doc_id FROM documents", "doc_id", docs_per_shard=4
    ),
    description="ZIP-shard member table: REAL central-directory parse "
    "(backward EOCD scan, CD walk, data offsets re-derived from each "
    "LOCAL header's own name/extra lengths per spec) over STORE-method "
    "binary shards via row-local mapInPandas — the oracle recomputes "
    "header and data offsets arithmetically (running sum of 30+12+size "
    "footprints in name order)",
)
def q_zip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = attach_fake_zip_corpus(docs, "doc_id", docs_per_shard=4)
    return zip_members(shards)


from cosmos_xenna_spark.operators.archive import (  # noqa: E402
    zip_inflate_members,
    zip_inflate_members_oracle_sql,
)


@register(
    "q_zip_deflate_members",
    oracle=zip_inflate_members_oracle_sql(
        "SELECT doc_id FROM documents", "doc_id", docs_per_shard=4, method=8
    ),
    description="DEFLATE-shard member extraction + integrity: real-world "
    "zips compress members (method 8, raw deflate) — central-directory "
    "walk, per-member zlib inflate at the local-header-derived offset, "
    "crc32-of-inflated vs header CRC and inflated-length vs declared "
    "usize; row-local mapInPandas, payloads never shuffle. The oracle "
    "recomputes names/uncompressed sizes arithmetically and requires "
    "crc_ok=1 for every member — the round-trip certificate (csize is "
    "a codec property, checked differentially vs zipfile in tests, not "
    "here). Completes the shard-container story for real-world archives",
)
def q_zip_deflate_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = attach_fake_zip_corpus(docs, "doc_id", docs_per_shard=4, method=8)
    return zip_inflate_members(shards).select(
        "shard_id", "name", "method", "size_bytes", "crc_ok"
    )


from cosmos_xenna_spark.operators.multimodal import (  # noqa: E402
    aspect_bucket_sql,
    resolution_bucket_stats,
)


@register(
    "q_resolution_buckets",
    oracle=f"""
    SELECT {aspect_bucket_sql('w', 'h')} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(w * h) AS BIGINT) AS sum_pixels,
           CAST(MIN(w) AS BIGINT) AS min_w, CAST(MAX(w) AS BIGINT) AS max_w,
           CAST(MIN(h) AS BIGINT) AS min_h, CAST(MAX(h) AS BIGINT) AS max_h,
           CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches
    FROM (
      SELECT CASE WHEN doc_id % 3 = 0 THEN (doc_id % 8) + 4
                  ELSE (doc_id % 16) + 4 END AS w,
             CASE WHEN doc_id % 3 = 0 THEN (doc_id % 16) + 4
                  ELSE (doc_id % 8) + 4 END AS h
      FROM documents
    )
    GROUP BY 1
    """,
    description="aspect-ratio bucket batching plan: images decode through "
    "the real mapInPandas metadata path, assign row-locally to the nearest "
    "of 5 canonical buckets (exact cross-multiplied nearness, shared "
    "engine expression), then per-bucket counts/pixels/envelope/batch "
    "count — the bucketed-dataloader planning step of image/video "
    "training; oracle recomputes dims arithmetically from doc_id",
)
def q_resolution_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    meta = extract_image_metadata(attach_fake_images(docs))
    # deterministic orientation mix: every third image is portrait
    # (transpose) — exercises the 3:4 / 9:16 buckets the landscape-only
    # fake dims never reach
    oriented = meta.select(
        F.when(F.col("id") % 3 == 0, F.col("height"))
        .otherwise(F.col("width"))
        .alias("width"),
        F.when(F.col("id") % 3 == 0, F.col("width"))
        .otherwise(F.col("height"))
        .alias("height"),
    )
    return resolution_bucket_stats(oriented, batch_size=32)


from cosmos_xenna_spark.operators.tiff import (  # noqa: E402
    attach_fake_tiff_corpus,
    tiff_entries,
    tiff_entries_oracle_sql,
)


@register(
    "q_tiff_exif_meta",
    oracle=tiff_entries_oracle_sql(),
    description="TIFF/EXIF IFD metadata extraction: REAL spec-correct IFD "
    "walker (II/MM byte order — the corpus alternates endianness by id "
    "parity — magic 42, inline-vs-offset value rule, EXIF + GPS sub-IFD "
    "descent, RATIONAL as exact 1e6*num div den) over binary payloads via "
    "row-local mapInPandas; the arithmetic oracle recomputes every entry "
    "INCLUDING the sub-IFD pointer offsets from doc_id alone",
)
def q_tiff_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return tiff_entries(attach_fake_tiff_corpus(docs))


@register(
    "q_exif_privacy_audit",
    oracle="""
    SELECT 'cam' || CAST(doc_id % 7 AS STRING) AS make,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gps,
           CAST(1000000 * SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS gps_ppm
    FROM documents GROUP BY 1
    """,
    description="EXIF privacy audit (the pre-release GPS scrub readout): "
    "per camera make, how many images carry a GPS IFD — derived entirely "
    "from the parsed entry table (make = tag 271, GPS presence = the "
    "34853 pointer), one metadata-sized aggregation; oracle recomputes "
    "from doc_id arithmetic",
)
def q_exif_privacy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    entries = checkpoint(tiff_entries(attach_fake_tiff_corpus(docs)))
    makes = entries.filter(F.col("tag") == 271).select(
        "id", F.col("value_text").alias("make")
    )
    gps = (
        entries.filter((F.col("tag") == 34853) & (F.col("ifd") == "ifd0"))
        .select("id")
        .withColumn("has_gps", F.lit(1))
    )
    return (
        makes.join(gps, "id", "left")
        .groupBy("make")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("has_gps"), F.lit(0)))
            .cast("bigint")
            .alias("n_gps"),
            F.expr(
                "CAST(1000000 * SUM(COALESCE(has_gps, 0)) DIV COUNT(*) AS BIGINT)"
            ).alias("gps_ppm"),
        )
    )


from cosmos_xenna_spark.operators.tiff import (  # noqa: E402
    attach_fake_tiff_images,
    tiff_gray_stats,
    tiff_gray_stats_oracle_sql,
)


@register(
    "q_tiff_lzw_strips",
    oracle=tiff_gray_stats_oracle_sql("documents"),
    description="LZW-compressed TIFF strip decode (TIFF 6.0 Appendix F "
    "— MSB-first codes with the EARLY-CHANGE width rule, the classic "
    "cross-implementation incompatibility vs GIF's LSB/late variant) + "
    "Predictor-2 horizontal differencing: full per-image pixel checksum "
    "(sum/min/max over every decoded pixel) certifies the strip walk + "
    "entropy decode + predictor end-to-end; the corpus alternates "
    "none/LZW compression, predictor 1/2 and BOTH byte orders by id. "
    "Row-local mapInPandas, payloads never shuffle",
)
def q_tiff_lzw_strips(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return tiff_gray_stats(attach_fake_tiff_images(docs))
