#!/usr/bin/env python
"""Extraction bench: the sf0.1 output hash and the N→4N scaling pair.

Builds the seed-42, 22,000-conversation corpus (~1M turns) once, then
times ``extract_turns`` at two core counts, one subprocess (one JVM) per
run, interleaved lo, hi, lo, hi.  Equal ``xxhash64`` sums over every run
pin per-turn equality under the scaling run itself.  Prints ONE JSON line.

    python bench.py                                        # full run
    python bench.py --phase extract --cpus 4 --input DIR   # one run
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

NCPU = os.cpu_count() or 1
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", NCPU))
BENCH_TMP = os.environ.get("SPARK_GRAFT_BENCH_TMP", "/tmp/spark_graft_bench")
N_CONVS = 22000  # sf0.1 (FIXTURES.md bench tier)
# The pair stays at or below 8 cores: the shared host stops scaling
# between 8 and 16 aggregate cores, for pure-CPU work too (BENCH.md).
HI = min(CPUS, NCPU, 8)
LO = max(1, HI // 4)


def _get_spark(cpus: int):
    from text_extractor_for_bioeconomic_products_spark.session import get_spark
    return get_spark(f"bench_{cpus}", f"local[{cpus}]", shuffle_partitions=cpus)


def phase_generate(input_dir: str) -> None:
    """Write the corpus once; a committed copy is reused (it is seeded)."""
    if os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        return
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        synthesize_transcripts, write_transcripts,
    )
    spark = _get_spark(HI)
    try:
        write_transcripts(synthesize_transcripts(spark, N_CONVS, seed=42), input_dir)
    finally:
        spark.stop()


def phase_extract(cpus: int, input_dir: str) -> dict:
    """Timed: sum ``xxhash64`` of every extracted turn of a cached input
    (as decimal: ANSI mode overflows a bigint sum).  A 2% warm-up run
    keeps Python worker start-up out of the timed region."""
    from pyspark.sql import functions as F
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        TURNS_EXTRACTED_COLS, extract_turns,
    )
    from text_extractor_for_bioeconomic_products_spark.sources import transcripts
    spark = _get_spark(cpus)
    try:
        df = transcripts.read_transcripts(spark, input_dir).repartition(cpus * 2).persist()
        n_turns = df.count()
        extract_turns(df.sample(0.02, seed=1)).write.format("noop").mode("overwrite").save()
        t0 = time.monotonic()
        out_hash = extract_turns(df).select(
            F.xxhash64(*TURNS_EXTRACTED_COLS).cast("decimal(38,0)").alias("h")
        ).agg(F.sum("h")).collect()[0][0]
        elapsed = time.monotonic() - t0
    finally:
        spark.stop()
    return {"cpus": cpus, "n_turns": n_turns, "extract_sec": round(elapsed, 3),
            "turns_per_sec": round(n_turns / elapsed, 1), "output_hash": str(out_hash)}


def pair_efficiency(lo_runs: list, hi_runs: list, lo_cpus: int, hi_cpus: int) -> float:
    """Min-of-level efficiency (min lo)/(min hi)/(hi/lo): interference
    only adds time, so each level's fastest run is its cleanest estimate."""
    lo, hi = (min(r["extract_sec"] for r in rs) for rs in (lo_runs, hi_runs))
    return round(lo / hi / (hi_cpus / lo_cpus), 3)


def _run_extract(cpus: int, input_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--phase", "extract",
         "--cpus", str(cpus), "--input", input_dir],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(cpus)},
    )
    if out.returncode != 0:
        raise RuntimeError(f"extract (cpus={cpus}) failed:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--phase", choices=["full", "extract"], default="full")
    ap.add_argument("--cpus", type=int, default=HI)
    ap.add_argument("--input", default=None)
    args = ap.parse_args()
    if args.phase == "extract":
        print(json.dumps(phase_extract(args.cpus, args.input)))
        return

    input_dir = os.path.join(BENCH_TMP, "transcripts_sf0.1")
    phase_generate(input_dir)
    runs = {LO: [], HI: []}
    for _ in range(2):
        for c in (LO, HI):
            runs[c].append(_run_extract(c, input_dir))
    hashes = {r["output_hash"] for rs in runs.values() for r in rs}
    print(json.dumps({
        "n_turns": runs[HI][0]["n_turns"],
        "output_hash": runs[HI][0]["output_hash"],
        "output_hash_consistent": len(hashes) == 1,
        "pair": f"local[{LO}]->local[{HI}]",
        "turns_per_sec_by_cpus": {c: max(r["turns_per_sec"] for r in rs)
                                  for c, rs in runs.items()},
        "extract_runs_sec": {c: [r["extract_sec"] for r in rs] for c, rs in runs.items()},
        "scaling_efficiency": pair_efficiency(runs[LO], runs[HI], LO, HI),
        "scaling_target": 0.8,
    }))


if __name__ == "__main__":
    main()
