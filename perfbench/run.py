#!/usr/bin/env python3
"""Benchmark of the extraction system's real jobs.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 4 --trace 0

Runs from the repository root, on local[4], in one driver process:

1. set-up: ``get_spark`` plus one warm-up UDF action (JVM and Python
   worker spawn, ``rules`` import), which also starts the JVM;
2. the seeded input, built untimed and cached under ``.perfbench_work``;
   then two more set-ups, each stopping the session and building it again
   on that JVM;
3. with ``--trace 1`` only, an untimed warm-up job (``bulk_extract``);
   the first two micro-batches of each stream pass (``stream_upsert``)
   are never timed;
4. a closed loop of job calls (``bulk_extract``) or stream passes
   (``stream_upsert``) for ``--seconds``; the next call starts after the
   previous one returned, and a call always runs to its end.  Each call's
   CPU time is measured as well as its wall time (``work_cpu_s``);
5. the output checks (``checks.py``);
6. with ``--trace 1``: the loop runs once untraced, then once more after a
   fourth set-up with the Spark event log and spans on, and the per-layer
   metrics come from that (``eventlog.py``, ``stageprof.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``).  Exit code 1 when any output check fails.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import threading
import time
import traceback
from datetime import datetime

from eventlog import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
# session.py's 16g default exceeds a 15 GB machine.  Spark's own default
# of 1g holds these inputs; with the whole heap committed and touched at
# start the JVM's resident size does not wander with GC timing between runs.
DRIVER_MEM = "1g"
PF_FORKNOEXEC = 0x40  # /proc/<pid>/stat flag: forked, not yet exec'd
CLK_TCK = os.sysconf("SC_CLK_TCK")

WORKLOADS = ("bulk_extract", "stream_upsert")
SETUPS = 3  # setup_s is their median; the first also starts the JVM
# untimed units before the loop: jobs over the whole corpus, or stream passes
WARM_UNITS = {"bulk_extract": 1, "stream_upsert": 0}
WARM_BATCHES = 2  # stream_upsert: leading micro-batches of every pass, not timed


def _process_tree() -> dict:
    """pid → /proc/<pid>/stat fields after the command name, for this
    process and all its descendants (the driver JVM and its Python
    workers)."""
    stats, children = {}, {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ppid = int(fields[1])
        except (OSError, IndexError, ValueError):  # the process just ended
            continue
        stats[int(p)] = fields
        children.setdefault(ppid, []).append(int(p))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return tree


def work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants (reaped children included), less those of the JVM's JIT
    compiler threads.  The JIT compiler keeps compiling for dozens of jobs
    and its share varies from job to job; without it, warm jobs in one run
    repeat their CPU time to a few percent.  Time the host steals from the
    vCPUs is not charged to a process, but a host that slows the cores
    themselves raises CPU time as much as wall time."""
    tree = sum(sum(int(x) for x in f[11:15]) for f in _process_tree().values())
    jit, tasks = 0, f"/proc/{jvm_pid}/task"
    for tid in os.listdir(tasks):
        try:
            with open(f"{tasks}/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
            with open(f"{tasks}/{tid}/stat") as fh:
                jit += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            continue
    return (tree - jit) / CLK_TCK


class PeakRss:
    """Peak Σ RSS of this process and all its descendants, sampled from
    /proc.  A child that the JVM has spawned but that has not yet exec'd
    its program shares the JVM's memory for that moment, so it is not
    counted."""

    def __init__(self, jvm_pid: int, interval: float = 0.2) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid, f in _process_tree().items():
            if int(f[1]) == self.jvm_pid and int(f[6]) & PF_FORKNOEXEC:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Every micro-batch's progress, as the dicts Spark reports."""

        def __init__(self) -> None:
            self.events: list = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def wait_for(self, n: int, timeout: float = 20.0) -> list:
            """Progress is posted asynchronously after the batch commits."""
            deadline = time.monotonic() + timeout
            while len(self.events) < n and time.monotonic() < deadline:
                time.sleep(0.05)
            return list(self.events)

    return Progress()


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        from spans import Tracer

        self.tracer = Tracer()
        self.spark = None
        self.listener = None

    # -- set-up --------------------------------------------------------------

    def setup(self, traced: bool) -> float:
        from text_extractor_for_bioeconomic_products_spark.functions import udfs
        from text_extractor_for_bioeconomic_products_spark.session import get_spark
        from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
            build_templates,
        )

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            # compiler threads that come and go would take their CPU time
            # out of work_cpu_s's JIT share and leave it in the process total
            "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                              "-XX:-UseDynamicNumberOfCompilerThreads"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if traced:
            ev = os.path.join(self.run_dir, "eventlog")
            os.makedirs(ev, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        with self.tracer.span("setup") as s:
            with self.tracer.span("get_spark"):
                self.spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                                       shuffle_partitions=CORES, extra_conf=conf)
            # the pandas UDF caches its JVM-side function, which holds the
            # previous context's accumulator; rebuild it for this context
            udfs.extract_turn_features._unwrapped._judf_placeholder = None
            with self.tracer.span("warm_up"):
                texts = [(t,) for _, t in build_templates()] * 8
                (
                    self.spark.createDataFrame(texts, "text string").repartition(CORES)
                    .select(udfs.extract_turn_features("text").alias("f"))
                    .write.format("noop").mode("overwrite").save()
                )
        if self.args.workload == "stream_upsert":
            self.listener = _progress_listener()
            self.spark.streams.addListener(self.listener)
        return s["end"] - s["start"]

    def cpu_clock(self) -> float:
        from pyspark import SparkContext

        return work_cpu_s(SparkContext._gateway.proc.pid)

    # -- one closed-loop unit ------------------------------------------------

    def bulk_job(self, i: int, tag: str) -> dict:
        from text_extractor_for_bioeconomic_products_spark.plans.pipeline import run_extraction
        from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
            read_transcripts,
        )

        out = os.path.join(self.run_dir, "out", f"{tag}-{i}")
        c0, t0 = self.cpu_clock(), time.monotonic()
        with self.tracer.span("job"):
            with self.tracer.span("read_transcripts"):
                df = read_transcripts(self.spark, os.path.join(self.inp, self.meta["corpus"]))
            with self.tracer.span("run_extraction") as js:
                r = run_extraction(self.spark, df, out, run_id=f"{tag}-{i}",
                                   n_buckets=self.meta["n_buckets"])
        wall, cpu = time.monotonic() - t0, self.cpu_clock() - c0
        return {"label": f"{tag}-{i}", "out": out, "wall": wall, "turns": r.n_turns,
                "units": 1, "span": js, "batches": [wall], "timed": (r.n_turns, wall),
                "cpu": cpu}

    def stream_pass(self, i: int, tag: str) -> dict:
        from text_extractor_for_bioeconomic_products_spark.streaming.pipeline import (
            run_streaming_merge_upsert,
        )

        out = os.path.join(self.run_dir, "out", f"{tag}-{i}")
        # the target, restored untimed
        shutil.copytree(os.path.join(self.inp, self.meta["target"]), out)
        self.listener.events.clear()
        c0, t0 = self.cpu_clock(), time.monotonic()
        with self.tracer.span("job"):
            with self.tracer.span("run_streaming_merge_upsert") as js:
                seen = run_streaming_merge_upsert(
                    self.spark, os.path.join(self.inp, self.meta["deltas"]),
                    os.path.join(out, "turns"), os.path.join(out, "checkpoint"),
                    n_buckets=self.meta["n_buckets"], max_files_per_trigger=1,
                )
        wall, cpu = time.monotonic() - t0, self.cpu_clock() - c0
        # the first batches of a pass start the query: their wall is not timed
        timed = self.listener.wait_for(seen["batches"])[WARM_BATCHES:]
        batches = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
        return {"label": f"{tag}-{i}", "out": out, "wall": wall, "turns": seen["rows"],
                "units": seen["batches"], "span": js, "progress": timed, "batches": batches,
                "timed": (sum(p["numInputRows"] for p in timed), sum(batches)), "cpu": cpu}

    def unit(self, i: int, tag: str) -> dict:
        if self.args.workload == "bulk_extract":
            return self.bulk_job(i, tag)
        return self.stream_pass(i, tag)

    def warm_up(self) -> None:
        """Untimed, unchecked units, so that the timed loop does not run
        cold.  The first job in a JVM takes about twice the CPU of a warm
        one (the second still a tenth more), and each Python worker's first
        real batch is slow too, so the warm-up job uses all the scan tasks.
        A stream pass is not repeated to warm up: it is as long as a run,
        so only its first ``WARM_BATCHES`` go untimed."""
        for i in range(WARM_UNITS[self.args.workload]):
            self.unit(i, "warm")

    def _files(self, sub: str) -> list:
        return sorted(glob.glob(os.path.join(self.inp, sub, "*.parquet")))

    def loop(self, tag: str) -> tuple:
        """Closed loop for ``--seconds``: (finished units, failed calls)."""
        done, failed, i = [], 0, 0
        start = time.monotonic()
        while time.monotonic() - start < self.args.seconds:
            try:
                done.append(self.unit(i, tag))
            except Exception:  # a failed call is counted, the loop goes on
                traceback.print_exc()
                failed += 1
            i += 1
        return done, failed

    # -- checks --------------------------------------------------------------

    def check(self, units: list) -> list:
        """Labels of units whose outputs fail a check; failures to stderr."""
        import checks

        if not units:
            return []
        if self.args.workload == "bulk_extract":
            fails = checks.check_extraction_outputs(
                self.spark, {u["label"]: u["out"] for u in units}, self.meta, self.args.seed)
            last_turns = os.path.join(units[-1]["out"], "turns_extracted")
        else:
            fails = checks.check_merged_tables(
                self.spark, {u["label"]: os.path.join(u["out"], "turns") for u in units},
                self.meta, self.args.seed)
            for u in units:
                if u["turns"] != self.meta["turns"]:
                    fails[u["label"]].append(
                        f"{u['label']}: {u['turns']} rows upserted, deltas hold {self.meta['turns']}")
            last_turns = os.path.join(units[-1]["out"], "turns")
        fails[units[-1]["label"]].extend(
            checks.check_oracle(self.spark, last_turns, self.meta["oracle_sample"]))
        for msgs in fails.values():
            for m in msgs:
                print("CHECK FAILED:", m, file=sys.stderr)
        return [label for label, msgs in fails.items() if msgs]

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, units: list, setups: list, peak_rss: int) -> dict:
        from inputs import dir_stats

        out = units[-1]["out"]
        # a stream pass's dir also holds its checkpoint, which is not output
        dirs = [out] if self.args.workload == "bulk_extract" else [
            os.path.join(out, "turns"), os.path.join(out, "turns_meta")]
        files, mb = (sum(x) for x in zip(*map(dir_stats, dirs)))
        return {
            "setup_s": median(setups),
            "output_files": files,
            "output_mb": mb,
            "peak_rss_mb": peak_rss / 1e6,
        }

    def per_layer(self, untraced: list, traced: list, operator_s: float) -> dict:
        import eventlog
        import inputs
        import stageprof
        from spans import self_times

        logs = glob.glob(os.path.join(self.run_dir, "eventlog", "*"))
        log = eventlog.EventLog(eventlog.read_events(logs[0]))
        bulk = self.args.workload == "bulk_extract"
        windows = [(u["span"]["start"], u["span"]["end"]) for u in traced]
        m: dict = {}
        # speed of the untraced loop, in wall and in CPU time; both follow
        # the load of the host the machine shares
        batches = [b for u in untraced for b in u["batches"]]
        m["job.turns_per_s"] = median(t / s for t, s in (u["timed"] for u in untraced))
        m["job.turns_per_cpu_s"] = median(u["turns"] / u["cpu"] for u in untraced)
        m["job.batch_p50_s"] = median(batches)
        m["job.batch_max_s"] = max(batches)
        m["session.start_s"] = median(s["end"] - s["start"] for s in self.tracer.named("get_spark"))
        m["session.worker_warm_s"] = median(s["end"] - s["start"] for s in self.tracer.named("warm_up"))
        m.update(eventlog.extract_metrics(log, windows, inputs.ARROW_BATCH))
        m.update(eventlog.task_metrics(log, windows, CORES))
        m["extract.operator_s"] = operator_s
        m["pipeline.cached_mb"] = eventlog.cached_mb(log)
        turns_per_unit = median(u["turns"] for u in traced)
        last = traced[-1]["out"]
        if bulk:
            m.update(eventlog.pipeline_metrics(log, windows))
            for name, sub in (("turns", "turns_extracted"), ("spans", "product_spans")):
                n, mb = inputs.dir_stats(os.path.join(last, sub))
                m[f"pipeline.{name}_files"], m[f"pipeline.{name}_mb"] = n, mb
            m["pipeline.job_over_operator"] = median(u["wall"] for u in traced) / operator_s
            files = self._files(self.meta["corpus"])
        else:
            progress = [p for u in traced for p in u["progress"]]
            d = [p["durationMs"] for p in progress]
            m["stream.batches"] = len(progress)
            m["stream.add_batch_p50_s"] = median(x.get("addBatch", 0) / 1e3 for x in d)
            m["stream.planning_p50_s"] = median(x.get("queryPlanning", 0) / 1e3 for x in d)
            m["stream.commit_p50_s"] = median(
                (x.get("walCommit", 0) + x.get("commitOffsets", 0)) / 1e3 for x in d)
            batch_windows = []
            for p in progress:
                t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                batch_windows.append((t0, t0 + p["durationMs"]["triggerExecution"] / 1e3))
            m.update(eventlog.merge_metrics(log, batch_windows, "turns"))
            delta_mb = self.meta["mb"] / self.meta["files"]
            m["merge.write_amp"] = m.get("merge.write_mb", 0.0) / delta_mb
            m["merge.files_after"] = inputs.dir_stats(os.path.join(last, "turns"))[0]
            files = self._files(self.meta["deltas"])
        # L0: the UDF body on the workload's own batches, capped to bound the run
        with self.tracer.span("rules_profile"):
            m.update(stageprof.profile(inputs.text_batches(files, limit_rows=16384), self.tracer))
        m["extract.boundary_overhead_s"] = (
            m.get("extract.python_run_s", 0.0) - m["udfs.body_us"] * turns_per_unit / 1e6)

        # SQL executions become child spans of the job call that issued them
        # (an execution nested in another, as in foreachBatch, under its root)
        for u in traced:
            ids = {}
            for x in sorted(log.within(u["span"]["start"], u["span"]["end"]),
                            key=lambda x: x["id"]):
                parent = ids.get(x["root"], u["span"]["id"])
                ids[x["id"]] = self.tracer.add("sql_execution", x["start"], x["end"], parent)["id"]
        traced_from = traced[0]["span"]["start"] - 1
        own = self_times([s for s in self.tracer.spans if s["start"] >= traced_from])
        n = len(traced)
        m["self.job_s"] = own.get(traced[0]["span"]["name"], 0.0) / n
        m["self.read_transcripts_s"] = own.get("read_transcripts", 0.0) / n
        m["self.sql_s"] = own.get("sql_execution", 0.0) / n
        m["self.extract_turns_s"] = own.get("extract_turns", 0.0)
        m["self.rules_s"] = sum(v for k, v in own.items() if k.startswith(("rules.", "udfs.")))
        m["trace.overhead_s"] = (median(u["timed"][1] for u in traced)
                                 - median(u["timed"][1] for u in untraced))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        self.tracer.dump(os.path.join(
            WORK, "traces", f"{self.args.workload}-{self.args.seed}-spans.json"))
        return m

    def operator_run(self) -> float:
        """``extract_turns`` → noop sink on the workload's input: the
        operator alone, without the job around it."""
        from text_extractor_for_bioeconomic_products_spark.operators.extract import extract_turns
        from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
            read_transcripts,
        )

        sub = self.meta["corpus"] if self.args.workload == "bulk_extract" else self.meta["deltas"]
        with self.tracer.span("extract_turns") as s:
            df = read_transcripts(self.spark, os.path.join(self.inp, sub))
            extract_turns(df).write.format("noop").mode("overwrite").save()
        return s["end"] - s["start"]

    # -- driver ----------------------------------------------------------------

    def run(self) -> int:
        import inputs

        os.makedirs(os.path.join(self.run_dir, "tmp"), exist_ok=True)
        traced = bool(self.args.trace)
        phase = {"start": time.monotonic()}
        setups = [self.setup(traced=False)]
        # the input is built before the later set-ups, so the timed session
        # inherits none of its Spark state
        self.inp, self.meta = inputs.ensure(
            self.spark, os.path.join(WORK, "inputs"), self.args.workload, self.args.seed)
        phase["input"] = time.monotonic()
        setups += [self.setup(traced=False) for _ in range(SETUPS - 1)]
        phase["setup"] = time.monotonic()
        if traced:  # only the traced run reports timings
            self.warm_up()
        phase["warm"] = time.monotonic()
        untraced, failed_calls = [], 0
        if traced:
            untraced, failed_calls = self.loop("untraced")
            self.setup(traced=True)
        from pyspark import SparkContext

        with PeakRss(SparkContext._gateway.proc.pid) as rss:
            units, failed = self.loop("traced" if traced else "job")
        failed_calls += failed
        phase["loop"] = time.monotonic()
        operator_s = self.operator_run() if traced else 0.0
        all_units = untraced + units
        bad = set(self.check(all_units))
        attempted = sum(u["units"] for u in all_units) + failed_calls
        failed = sum(u["units"] for u in all_units if u["label"] in bad) + failed_calls
        self.spark.stop()  # flushes the event log
        phase["checks"] = time.monotonic()
        marks = list(phase.items())
        print("phases (s):", {k: round(t - p, 1) for (_, p), (k, t) in zip(marks, marks[1:])},
              file=sys.stderr)
        print("units (s):", [round(b, 2) for u in units for b in u["batches"]],
              "cpu (s):", [round(u["cpu"], 2) for u in units],
              "turns/cpu-s:", [round(u["turns"] / u["cpu"], 1) for u in units],
              "setups (s):", [round(s, 2) for s in setups], file=sys.stderr)
        if not units:
            print("no unit of work finished", file=sys.stderr)
            return 1
        if traced:
            values = self.per_layer(untraced, units, operator_s)
        else:
            values = self.end_to_end(units, setups, rss.peak)
        # a metric of a layer the workload does not run reads 0
        units_of = _metric_units("per_layer" if traced else "end_to_end")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units_of.items()},
        }
        print(json.dumps(result))
        return 0 if failed == 0 else 1


def _metric_units(group: str) -> dict:
    """Metric name → unit for ``end_to_end`` or ``per_layer`` of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[group]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    bench = Bench(args)
    # everything Spark and the Python workers write stays in the checkout;
    # JAVA_TOOL_OPTIONS reaches the launcher JVM of spark-submit too, and
    # without perf data no JVM writes to the system temp dir
    os.environ["TMPDIR"] = os.path.join(bench.run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.run_dir, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        return bench.run()
    finally:
        _stop_jvm(bench.spark)
        shutil.rmtree(bench.run_dir, ignore_errors=True)


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
