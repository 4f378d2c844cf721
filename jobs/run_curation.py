#!/usr/bin/env python
"""spark-submit entry for the END-TO-END curation pipeline — the
composed training-data pass a user actually ships:

    scan documents → quality filter (word floor) → fuzzy dedup
    (minhash-LSH candidates → connected components → drop
    non-canonical) → deterministic train/val/test split →
    target-sized parquet per split + one JSON lineage line.

Fuzzy dedup runs over the docs that pass the quality floor, so a
duplicate group whose minimum fails the floor still keeps one member.
The lineage counters account every row to one stage (nothing silently
dropped).

    python jobs/run_curation.py --input /root/testdata/sf0.001 \
        --output /tmp/curated [--target-file-kb 256] [--master local[8]]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MIN_WORDS = 20


def split_assignment():
    """The deterministic 80/10/10 train/val/test split column: a salted
    md5 bucket of doc_id mod 100, so re-runs, repartitioned inputs and
    late-arriving shards never move a document between splits (no
    train/test leakage over time)."""
    from pyspark.sql import functions as F

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


def run_curation(
    spark,
    sf_dir: str,
    out_dir: str,
    target_file_bytes: int = 256 * 1024,
) -> dict:
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        fuzzy_dedup_victims,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        write_target_sized,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    n_in = docs.count()

    quality = docs.filter(F.size(F.split("text", " ")) >= MIN_WORDS)
    n_quality = quality.count()

    # Materialize the expensive victim computation (minhash → bands →
    # connected components) ONCE: it is tiny (doc_ids only) but its
    # lineage is the deepest in the job, and without the persist every
    # downstream action — three splits × (size-estimate sample, count,
    # final write) ≈ 9 actions — re-executed it from scratch.
    victims = fuzzy_dedup_victims(quality).persist()
    victims.count()
    kept = quality.join(F.broadcast(victims), "doc_id", "left_anti")

    # Same for the surviving corpus: each split's writes now re-scan a
    # materialized DataFrame, not the whole quality+dedup pipeline.
    assigned = kept.withColumn("split", split_assignment()).persist()
    n_kept = assigned.count()
    lineage: dict = {
        "n_in": n_in,
        "n_after_quality": n_quality,
        "n_after_dedup": n_kept,
        "dropped_quality": n_in - n_quality,
        "dropped_dedup": n_quality - n_kept,
        "splits": {},
    }
    for split in ("train", "val", "test"):
        part = assigned.filter(F.col("split") == split).drop("split")
        stats = write_target_sized(
            part,
            os.path.join(out_dir, split),
            target_file_bytes=target_file_bytes,
        )
        lineage["splits"][split] = stats
    lineage["n_written"] = sum(
        s["n_rows"] for s in lineage["splits"].values()
    )
    assigned.unpersist()
    victims.unpersist()
    return lineage


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--target-file-kb", type=int, default=256)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from text_extractor_for_bioeconomic_products_spark.session import get_spark

    spark = get_spark(app_name="curation", master=args.master)
    lineage = run_curation(
        spark, args.input, args.output,
        target_file_bytes=args.target_file_kb * 1024,
    )
    print(json.dumps(lineage))
    spark.stop()


if __name__ == "__main__":
    main()
