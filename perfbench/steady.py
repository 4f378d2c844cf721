#!/usr/bin/env python3
"""Steadiness report: repeat workloads over seeds, print each metric's
median, quartiles and spread, with the machine and library versions.

    python3 perfbench/steady.py --seeds 1-10                # every workload
    python3 perfbench/steady.py --workloads stream_upsert --seeds 1-5

Each run measures BENCHMARK.json's ``run_seconds`` and reports the
end-to-end metrics.  Spread is (Q3 − Q1) ÷ median over the runs, with the
quartiles of ``statistics.quantiles(values, n=4)``; it is printed beside
the metric's bound.  Raw results go to .perfbench_work/steady/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(specs) -> list:
    """Seeds named by ``specs``: single seeds or inclusive ranges like 1-10."""
    out = []
    for spec in specs:
        lo, _, hi = spec.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def cpu_times() -> list:
    """The aggregate line of /proc/stat: user … steal, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def environment() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", default=["1-10"],
                    help="seeds or inclusive ranges, e.g. 1-10")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    env = environment()
    print(json.dumps(env))
    results, failed = {}, 0
    for w in args.workloads:
        for s in seeds(args.seeds):
            t0, c0 = time.monotonic(), cpu_times()
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.monotonic() - t0
            ticks = [b - a for a, b in zip(c0, cpu_times())]
            steal = ticks[7] / sum(ticks)  # share of CPU time the host took away
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                failed += 1
                print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            res["wall_s"], res["steal"] = wall, steal
            results.setdefault(w, []).append(res)
            print(f"{w} seed {s}: {wall:.1f} s, steal {steal:.1%}, attempted {res['attempted']}, "
                  f"failed {res['failed']}, correct {res['correct']}", flush=True)
    print(json.dumps({"loadavg_after": os.getloadavg()}))
    for w, runs in results.items():
        print(f"\n{w}: {len(runs)} runs, run wall median {statistics.median(r['wall_s'] for r in runs):.1f} s")
        print(f"  {'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds[name]
            flag = "" if spread <= bound / 3 else (" !" if spread <= bound else " FAIL")
            print(f"  {name:32s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} {bound:>6}{flag}")
    out_dir = os.path.join(ROOT, ".perfbench_work", "steady")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steady-{int(time.time())}.json"), "w") as fh:
        json.dump({"env": env, "args": vars(args), "results": results}, fh)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
