#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north_rule mechanics).

Cluster usage (the --py-files artifact ships the package to executors):

    python jobs/package_pyfiles.py                       # → dist/engine.zip
    spark-submit \
        --master <cluster> \
        --py-files dist/engine.zip \
        jobs/run_extraction.py \
        --input  <transcripts table/path> \
        --output <warehouse dir> \
        --run-id <deterministic id> \
        --buckets 4096

Local sandbox (same code path):

    python jobs/run_extraction.py --input /tmp/transcripts \
        --output /tmp/out --run-id r1 --buckets 64

Output files: rows are clustered by bucket before the writes, so
--buckets 4096 gives about 4096 files per output (more only for a bucket
larger than spark.sql.adaptive.advisoryPartitionSizeInBytes), not
input splits × 4096.

Resumability: rerunning with the same --output skips buckets already in
the manifest.  A run commits every bucket it scans, empty ones included,
so a rerun over the same input returns without scanning it; a crashed
run repeats only its unfinished buckets.  Each bucketed write is staged
beside the live buckets and swapped in by rename after a commit record;
a rerun first rolls an interrupted swap forward.

Commit order: the bucketed data, then lineage/lineage.parquet, then
manifest/manifest.parquet.  The driver writes each of the last two as
one file, renamed into place, so --output must be a local (or locally
mounted) path.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir or table")
    ap.add_argument("--output", required=True, help="output warehouse dir")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None, help="override master (local[N])")
    args = ap.parse_args()

    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        run_extraction,
    )
    from text_extractor_for_bioeconomic_products_spark.session import get_spark
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_transcripts,
    )

    spark = get_spark(app_name="extract_transcripts", master=args.master)
    transcripts = read_transcripts(spark, args.input)
    result = run_extraction(
        spark,
        transcripts,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        resume=not args.no_resume,
    )
    print(json.dumps({
        "run_id": result.run_id,
        "buckets_processed": result.buckets_processed,
        "buckets_skipped": result.buckets_skipped,
        "n_turns": result.n_turns,
        "n_spans": result.n_spans,
        "wall_sec": result.wall_sec,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
