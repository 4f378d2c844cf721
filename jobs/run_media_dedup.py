#!/usr/bin/env python
"""spark-submit entry for the MEDIA near-dup dedup pass — the
multimodal curation job a user ships over an image corpus:

    scan media (or synthesize the deterministic image table) → decode + dHash
    in one mapInPandas pass → banded Hamming pairs → connected
    components → keep-first apply → kept media parquet + one JSON
    lineage line (hot-band skips reported, never silent).

    python jobs/run_media_dedup.py --output /tmp/media_dedup \
        [--input <media parquet dir>] [--synthesize-n 300] \
        [--max-hamming 3] [--master local[8]]

With --input, the directory must hold the MEDIA_SCHEMA columns
(media_id, kind, payload, meta); without it, the deterministic
synthetic media table stands in (sandbox default — no image corpus
ships in the testdata).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_media_dedup(
    spark,
    out_dir: str,
    input_dir: str | None = None,
    synthesize_n: int = 300,
    max_hamming: int = 3,
    plant_dups: int = 0,
) -> dict:
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        image_phashes,
        media_dedup_victims,
        phash_hot_bands,
    )
    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        synthesize_media,
    )

    if input_dir:
        media = spark.read.parquet(input_dir)
    else:
        media = synthesize_media(spark, n=synthesize_n, seed=42)
    if plant_dups:
        # demo/no-corpus mode: re-id copies of the first image payloads
        # (hamming 0 — the base case) so the dedup path is non-vacuous
        copies = (
            media.filter(F.col("kind") == "image")
            .orderBy("media_id").limit(plant_dups)
            .withColumn("media_id", F.col("media_id") + 10_000_000)
        )
        media = media.unionByName(copies)
    # no cache of the payloads: the count, the hash pass and the kept write
    # each re-scan the input; only the small derived tables stay cached
    n_media = media.count()

    hashes = image_phashes(media).persist()
    n_hashed = hashes.filter(F.col("valid")).count()
    victims = media_dedup_victims(hashes, max_hamming=max_hamming).persist()
    n_victims = victims.count()
    hot = phash_hot_bands(hashes).collect()

    kept = media.join(F.broadcast(victims), "media_id", "left_anti")
    kept.write.mode("overwrite").parquet(os.path.join(out_dir, "media_kept"))
    n_kept = spark.read.parquet(os.path.join(out_dir, "media_kept")).count()

    lineage = {
        "n_media": n_media,
        "n_image_hashed": n_hashed,
        "n_nonimage_or_undecodable_kept": n_media - n_hashed,  # never dropped
        "n_near_dup_victims": n_victims,
        "n_kept": n_kept,
        "hot_bands_skipped": len(hot),
        "hot_band_max_size": max((r["n_in_band"] for r in hot), default=0),
        "max_hamming": max_hamming,
    }
    assert lineage["n_kept"] + n_victims == n_media, "rows unaccounted"
    victims.unpersist()
    hashes.unpersist()
    return lineage


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--synthesize-n", type=int, default=300)
    ap.add_argument("--max-hamming", type=int, default=3)
    ap.add_argument("--plant-dups", type=int, default=0)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from text_extractor_for_bioeconomic_products_spark.session import get_spark

    spark = get_spark(app_name="media_dedup", master=args.master)
    lineage = run_media_dedup(
        spark, args.output, input_dir=args.input,
        synthesize_n=args.synthesize_n, max_hamming=args.max_hamming,
        plant_dups=args.plant_dups,
    )
    print(json.dumps(lineage))
    spark.stop()


if __name__ == "__main__":
    main()
