#!/usr/bin/env python
"""spark-submit entry for the Structured Streaming sinks.

    python jobs/run_streaming.py --input <transcripts parquet dir> \
        --output <dir> --mode merge|near-admit

``merge``      foreachBatch keyed MERGE upsert into the bucketed turns
               table ``<output>/turns_merged`` (effectively-once under
               checkpoint replay and input redelivery)
``near-admit`` foreachBatch NEAR-dup admission into
               ``<output>/corpus_near``: minhash/LSH bands + within-batch
               connected components, band-index anti-join vs the
               standing corpus (replay-idempotent by its rejection rule)

Prints one JSON line: the mode, ``output_rows`` (rows in the output
table) and the runner's returned stats.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from text_extractor_for_bioeconomic_products_spark.session import get_spark  # noqa: E402
from text_extractor_for_bioeconomic_products_spark.streaming import (  # noqa: E402
    pipeline as sp,
)

# mode -> (runner, output subdir, checkpoint subdir)
MODES = {
    "merge": (sp.run_streaming_merge_upsert, "turns_merged", "_merge_checkpoint"),
    "near-admit": (
        sp.run_streaming_near_dup_admission, "corpus_near", "_admit_checkpoint"
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", default="merge", choices=list(MODES))
    ap.add_argument("--timeout-sec", type=int, default=300)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    runner, out_sub, ckpt_sub = MODES[args.mode]
    out_dir = os.path.join(args.output, out_sub)
    spark = get_spark(app_name=f"stream_{args.mode}", master=args.master)
    stats = runner(
        spark, args.input, out_dir,
        os.path.join(args.output, ckpt_sub),
        timeout_sec=args.timeout_sec,
    )
    n = spark.read.parquet(out_dir).count()
    print(json.dumps({"mode": args.mode, "output_rows": n, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
