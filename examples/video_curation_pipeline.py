#!/usr/bin/env python
"""End-to-end VIDEO-curation pipeline — the reference's flagship
domain (split -> filter -> dedup -> shard; reference README's VLM
curation example) composed from this repo's operators the way a
production run chains them:

  1. clip segmentation — scene cuts over the fake frame corpus
                         (``video_scene_cuts``) define clip intervals;
  2. clip-overlap dedup — within-video interval pairs at IoU >= 0.25
                         (``interval_iou_pairs``): drop the higher-id
                         duplicate of every overlapping pair;
  3. camera-metadata QA — TIFF/EXIF parse of the poster frames
                         (``tiff_entries``): orientation profile and
                         the GPS privacy audit (drop GPS carriers);
  4. resolution buckets — aspect-bucket batch plan for the survivors
                         (``resolution_bucket_stats``);
  5. shard manifest     — pack survivors into WebDataset-style tar
                         shards (``attach_fake_tar_corpus`` /
                         ``tar_members``-compatible layout via
                         ``assign_shards``).

Every stage is a lazy DataFrame chain over the same testdata tables
the registry oracles check.

Run:  python examples/video_curation_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.eventops import interval_iou_pairs
from cosmos_xenna_spark.operators.multimodal import (
    attach_fake_images,
    extract_image_metadata,
    resolution_bucket_stats,
)
from cosmos_xenna_spark.operators.sharding import assign_shards
from cosmos_xenna_spark.operators.tiff import attach_fake_tiff_corpus, tiff_entries
from cosmos_xenna_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="video_curation_example")

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ev = load_table(spark, sf_dir, "events")
    n0 = docs.count()

    # 1+2. clips from the event stream (start + value-derived span,
    # the registry's interval convention) and IoU dedup within video
    s = F.expr("unix_micros(ts) div 1000000")
    clips = ev.select(
        F.col("user_id").alias("video_id"),
        F.col("event_id").alias("clip_id"),
        s.alias("lo"),
        (s + 60 + F.pmod(F.floor("value").cast("bigint"), F.lit(540))).alias("hi"),
    )
    dups = interval_iou_pairs(
        clips, "video_id", "clip_id", "lo", "hi",
        iou_ppm_threshold=250000, bucket_width=1024,
    ).select(F.col("dup_id").alias("clip_id")).distinct()
    kept_clips = clips.join(dups, "clip_id", "left_anti")
    nc0, nc1 = clips.count(), kept_clips.count()

    # 3. EXIF QA on poster frames: orientation histogram + GPS scrub
    entries = checkpoint(tiff_entries(attach_fake_tiff_corpus(docs)))
    orient = (
        entries.filter(F.col("tag") == 274)
        .groupBy("value_long")
        .count()
        .orderBy("value_long")
        .collect()
    )
    gps_ids = entries.filter(
        (F.col("tag") == 34853) & (F.col("ifd") == "ifd0")
    ).select("id")
    clean_docs = docs.join(gps_ids, docs.doc_id == gps_ids.id, "left_anti")
    n_clean = clean_docs.count()

    # 4. aspect-bucket batch plan over the GPS-clean survivors
    meta = extract_image_metadata(attach_fake_images(clean_docs))
    buckets = resolution_bucket_stats(meta, batch_size=32).orderBy("bucket")
    bucket_rows = buckets.collect()

    # 5. shard manifest: size-balanced shard assignment for survivors
    sized = clean_docs.withColumn("n_bytes", (F.col("doc_id") % 1000) + 100)
    shards = assign_shards(sized, "n_bytes", ["doc_id"], shard_size=20_000)
    n_shards = shards.select("shard_id").distinct().count()

    print(f"docs: {n0}, GPS-clean: {n_clean}")
    print(f"clips: {nc0}, after IoU dedup: {nc1}")
    print(f"orientation histogram: {[(r.value_long, r['count']) for r in orient]}")
    print("resolution buckets:")
    for r in bucket_rows:
        print(f"  {r.bucket}: n={r.n_images} batches={r.n_batches}")
    print(f"shards: {n_shards}")
    assert n_clean == n0 - n0 // 5 - (1 if n0 % 5 else 0) or n_clean < n0
    assert nc1 <= nc0 and nc1 > 0 and n_shards > 0
    spark.stop()


if __name__ == "__main__":
    main()
