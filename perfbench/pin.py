#!/usr/bin/env python3
"""Recompute the pinned output hashes in ``pinned.json``.

    python3 perfbench/pin.py --seeds 0-12 42

The reference never goes through the job under test: for ``bulk_extract``
it is ``extract_turns`` over the corpus; for ``stream_upsert`` it is
``extract_turns`` over the transcripts the merged table must hold (the
target's rows whose keys no delta touches, plus every delta row).  Run it
only when the extraction output is meant to change.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def reference_hash(spark, workload: str, d: str, meta: dict) -> str:
    from checks import content_hash
    from text_extractor_for_bioeconomic_products_spark.operators.extract import extract_turns
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_transcripts,
    )

    if workload == "bulk_extract":
        transcripts = read_transcripts(spark, os.path.join(d, meta["corpus"]))
    else:
        base = read_transcripts(spark, os.path.join(d, "base"))
        deltas = read_transcripts(spark, os.path.join(d, meta["deltas"]))
        kept = base.join(deltas.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti")
        transcripts = kept.unionByName(deltas)
    return str(extract_turns(transcripts).agg(content_hash().alias("h")).collect()[0]["h"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", nargs="+", default=["1-10"],
                    help="seeds or inclusive ranges, e.g. 0-12 42")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import inputs
    from run import CORES, DRIVER_MEM, WORK, WORKLOADS
    from steady import seeds
    from text_extractor_for_bioeconomic_products_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark(app_name="perfbench-pin", master=f"local[{CORES}]",
                      shuffle_partitions=CORES,
                      extra_conf={"spark.local.dir": os.path.join(WORK, "pin-local"),
                                  "spark.ui.showConsoleProgress": "false"})
    path = os.path.join(HERE, "pinned.json")
    with open(path) as fh:
        pinned = json.load(fh)
    for w in WORKLOADS:
        for s in seeds(args.seeds):
            d, meta = inputs.ensure(spark, os.path.join(WORK, "inputs"), w, s)
            pinned.setdefault(w, {})[str(s)] = reference_hash(spark, w, d, meta)
            print(w, s, pinned[w][str(s)], flush=True)
            with open(path, "w") as fh:
                json.dump(pinned, fh, indent=1, sort_keys=True)
                fh.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
