#!/usr/bin/env python
"""spark-submit entry for the Structured Streaming extraction variants.

    python jobs/run_streaming.py --input <transcripts parquet dir> \
        --output <dir> --mode extract|dedup|tracker|counts

``extract``  stateless extraction stream (availableNow backfill)
``dedup``    at-least-once input → exactly-once-per-key output
``tracker``  applyInPandasWithState running conversation totals
``counts``   watermarked 10-min windowed span counts
``merge``    foreachBatch keyed MERGE upsert into the bucketed turns
             table (effectively-once under checkpoint replay)
``admit``    foreachBatch content-hash corpus admission (keep-first
             within batch, anti-join the standing admitted corpus;
             replay-idempotent by the admission semantics themselves)
``near-admit`` foreachBatch NEAR-dup admission: minhash/LSH bands +
             within-batch connected components, band-index anti-join
             vs the standing corpus (the streaming fuzzy-dedup stack)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", default="extract",
                    choices=["extract", "dedup", "tracker", "counts",
                             "merge", "admit", "near-admit"])
    ap.add_argument("--timeout-sec", type=int, default=300)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from text_extractor_for_bioeconomic_products_spark.session import get_spark
    from text_extractor_for_bioeconomic_products_spark.streaming import pipeline as sp

    spark = get_spark(app_name=f"stream_{args.mode}", master=args.master)
    runner = {
        "extract": sp.run_streaming_extraction,
        "dedup": sp.run_streaming_dedup_extraction,
        "tracker": sp.run_stateful_conversation_tracker,
        "counts": sp.streaming_conversation_counts,
    }
    if args.mode == "merge":
        sp.run_streaming_merge_upsert(
            spark, args.input,
            os.path.join(args.output, "turns_merged"),
            os.path.join(args.output, "_merge_checkpoint"),
            timeout_sec=args.timeout_sec,
        )
        n = spark.read.parquet(os.path.join(args.output, "turns_merged")).count()
        print(json.dumps({"mode": args.mode, "output_rows": n}))
        spark.stop()
        return
    if args.mode in ("admit", "near-admit"):
        runner_fn = (
            sp.run_streaming_dedup_admission if args.mode == "admit"
            else sp.run_streaming_near_dup_admission
        )
        out_sub = (
            "corpus_admitted" if args.mode == "admit" else "corpus_near"
        )
        stats = runner_fn(
            spark, args.input,
            os.path.join(args.output, out_sub),
            os.path.join(args.output, "_admit_checkpoint"),
            timeout_sec=args.timeout_sec,
        )
        n = spark.read.parquet(os.path.join(args.output, out_sub)).count()
        print(json.dumps({"mode": args.mode, "output_rows": n, **stats}))
        spark.stop()
        return
    runner[args.mode](spark, args.input, args.output, timeout_sec=args.timeout_sec)
    out_sub = {
        "extract": "turns_extracted_stream",
        "dedup": "turns_dedup_stream",
        "tracker": "conv_tracker_stream",
        "counts": "conv_counts_stream",
    }[args.mode]
    n = spark.read.parquet(os.path.join(args.output, out_sub)).count()
    print(json.dumps({"mode": args.mode, "output_rows": n}))
    spark.stop()


if __name__ == "__main__":
    main()
