"""Spark event log → per-layer metrics.

SQL executions are attributed to a phase by what their physical plan does
(the output path of a write, whether the Python UDF ran), never by the
call site, so the attribution survives code motion inside the program.
SQL-metric values are summed from the task-end accumulator updates of the
stages each execution's jobs ran, plus the driver-side updates posted for
it.  Accumulator ids are global, so a metric counts in the execution whose
tasks did the work even when another plan lists it: a cached plan's UDF
metrics land in the execution that filled the cache, and a
``foreachBatch`` micro-batch's in the nested execution that ran it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_ROWS = "number of output rows"
SCAN_TIME = "scan time"
FILES_SIZE = "size of files read"
WRITTEN = "written output"
DYN_PARTS = "number of dynamic part"

# the formatted plan lists a node's arguments below its header line
_WRITE_RE = re.compile(
    r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)")
_DUP_CHECK_RE = re.compile(r"count#\d+L? > 1\)")
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}  # → s, s, MB


def read_events(path: str) -> list:
    """Events of one application: a plain log file or a rolling-log dir."""
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
    else:
        files = [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.extend(json.loads(line) for line in fh if line.strip())
    return out


def _walk(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for c in plan.get("children", []):
        _walk(c, out)


class EventLog:
    def __init__(self, events: list) -> None:
        self.execs: dict = {}
        self.accs: dict = {}  # accumulator id → (plan node, metric, type)
        self.tasks: list = []
        self.blocks: dict = {}
        stage_exec: dict = {}
        driver: dict = {}
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = self.execs.setdefault(e["executionId"], {
                    "id": e["executionId"], "root": e["executionId"],
                    "start": None, "end": None, "plans": []})
                if "time" in e:
                    ex["start"] = e["time"] / 1e3
                    ex["root"] = e.get("rootExecutionId", e["executionId"])
                ex["plans"].append(e.get("physicalPlanDescription", ""))
                _walk(e["sparkPlanInfo"], self.accs)
            elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in e.get("sqlPlanMetrics", []):
                    self.accs.setdefault(m["accumulatorId"], ("", m["name"], m["metricType"]))
            elif kind == "SparkListenerSQLExecutionEnd":
                if e["executionId"] in self.execs:
                    self.execs[e["executionId"]]["end"] = e["time"] / 1e3
            elif kind == "SparkListenerDriverAccumUpdates":
                acc = driver.setdefault(e["executionId"], {})
                for aid, v in e["accumUpdates"]:
                    acc[aid] = acc.get(aid, 0) + float(v)
            elif kind == "SparkListenerJobStart":
                xid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if xid is not None:
                    for sid in e["Stage IDs"]:
                        stage_exec[sid] = int(xid)
            elif kind == "SparkListenerTaskEnd":
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                self.tasks.append({
                    "stage": e["Stage ID"],
                    "exec": stage_exec.get(e["Stage ID"]),
                    "launch": info["Launch Time"] / 1e3,
                    "finish": info["Finish Time"] / 1e3,
                    "run_s": tm.get("Executor Run Time", 0) / 1e3,
                    "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                    "spill_mb": (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0)) / 1e6,
                    "shuffle_mb": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6,
                    "acc": {a["ID"]: float(a["Update"]) for a in info.get("Accumulables", [])
                            if a.get("Metadata") == "sql" and "Update" in a},
                })
            elif kind == "SparkListenerBlockUpdated":
                b = e["Block Updated Info"]
                if b["Block ID"].startswith("rdd_"):
                    size = b["Memory Size"] + b["Disk Size"]
                    self.blocks[b["Block ID"]] = max(self.blocks.get(b["Block ID"], 0), size)
        for xid, acc in driver.items():
            if xid in self.execs:
                self.execs[xid]["driver"] = acc

    # -- selection -----------------------------------------------------

    def within(self, start: float, end: float) -> list:
        """Executions that ran inside the wall-clock window [start, end]."""
        return [x for x in self.execs.values()
                if x["start"] is not None and x["end"] is not None
                and x["start"] >= start - 0.05 and x["end"] <= end + 0.05]

    def tasks_of(self, execs) -> list:
        ids = {x["id"] for x in execs}
        return [t for t in self.tasks if t["exec"] in ids]

    def ids(self, name: str | None, node: str | None = None) -> dict:
        """Accumulator id → unit scale, for a metric (any, if ``name`` is
        None) of plan nodes whose name starts with ``node``."""
        return {aid: _SCALE.get(typ, 1.0) for aid, (n, nm, typ) in self.accs.items()
                if (name is None or nm == name) and (node is None or n.startswith(node))}

    def metric(self, execs, name: str, node: str | None = None) -> float:
        """Σ of one SQL metric over ``execs``, in s (timings) or MB (sizes)."""
        ids = self.ids(name, node)
        total = 0.0
        for t in self.tasks_of(execs):
            total += sum(v * ids[aid] for aid, v in t["acc"].items() if aid in ids)
        for x in execs:
            total += sum(v * ids[aid] for aid, v in x.get("driver", {}).items() if aid in ids)
        return total

    # -- classification --------------------------------------------------

    @staticmethod
    def write_target(x) -> str | None:
        for plan in x["plans"]:
            m = _WRITE_RE.search(plan)
            if m:
                return os.path.basename(m.group(1).rstrip("/"))
        return None

    def ran_udf(self, x) -> bool:
        return self.metric([x], PY_ROWS, node="ArrowEvalPython") > 0


def _dur(x) -> float:
    return x["end"] - x["start"]


def median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


PIPELINE_PHASES = {
    "turns_extracted": "pipeline.turns_write_s",
    "product_spans": "pipeline.spans_write_s",
    "lineage": "pipeline.lineage_s",
    "manifest": "pipeline.manifest_s",
}


def pipeline_metrics(log: EventLog, windows) -> dict:
    """Per ``run_extraction`` call (window = its span): phase walls, the
    wall no SQL execution covers, cache and shuffle volume.  Medians over
    calls."""
    from spans import covered

    per_job = []
    for start, end in windows:
        execs = log.within(start, end)
        row = {k: 0.0 for k in ("pipeline.extract_s", "pipeline.totals_s",
                                *PIPELINE_PHASES.values())}
        for x in execs:
            target = log.write_target(x)
            if target in PIPELINE_PHASES:
                key = PIPELINE_PHASES[target]
            elif target is None and log.ran_udf(x):
                key = "pipeline.extract_s"
            elif target is None:
                key = "pipeline.totals_s"
            else:
                continue
            row[key] += _dur(x)
        row["pipeline.driver_gap_s"] = (end - start) - covered(
            [(x["start"], x["end"]) for x in execs])
        row["pipeline.shuffle_mb"] = sum(t["shuffle_mb"] for t in log.tasks_of(execs))
        per_job.append(row)
    return {k: median(r[k] for r in per_job) for k in per_job[0]} if per_job else {}


def cached_mb(log: EventLog) -> float:
    """Median over cached RDDs of the bytes their blocks held."""
    by_rdd: dict = {}
    for bid, size in log.blocks.items():
        rdd = bid.split("_")[1]
        by_rdd[rdd] = by_rdd.get(rdd, 0) + size
    return median(v / 1e6 for v in by_rdd.values() if v > 0)


def extract_metrics(log: EventLog, windows, arrow_batch: int) -> dict:
    """L1: the ArrowEvalPython boundary, summed over the executions that ran
    the UDF inside each window; medians over windows."""
    rows = []
    for start, end in windows:
        udf = [x for x in log.within(start, end) if log.ran_udf(x)]
        if not udf:
            continue
        ids = log.ids(PY_ROWS, "ArrowEvalPython")
        # one Arrow batch per maxRecordsPerBatch rows of each task's input
        batches = sum(-(-int(v) // arrow_batch) for t in log.tasks_of(udf)
                      for aid, v in t["acc"].items() if aid in ids and v > 0)
        # tasks of the scan stage: cached-block reads also count as input
        # bytes, so select by updates to a Scan node's metrics instead
        scan_ids = log.ids(None, "Scan")
        scan = [t for t in log.tasks_of(udf) if scan_ids.keys() & t["acc"].keys()]
        rows.append({
            "extract.python_run_s": log.metric(udf, PY_RUN, "ArrowEvalPython"),
            "extract.python_init_s": log.metric(udf, PY_INIT, "ArrowEvalPython"),
            "extract.python_start_s": log.metric(udf, PY_START, "ArrowEvalPython"),
            "extract.to_python_mb": log.metric(udf, PY_SENT, "ArrowEvalPython"),
            "extract.from_python_mb": log.metric(udf, PY_RECV, "ArrowEvalPython"),
            "extract.arrow_batches": batches,
            "transcripts.scan_tasks": len(scan),
            "transcripts.scan_mb": log.metric(udf, FILES_SIZE, "Scan"),
            "transcripts.scan_s": log.metric(udf, SCAN_TIME, "Scan"),
            "tasks.skew": _skew(scan),
        })
    return {k: median(r[k] for r in rows) for k in rows[0]} if rows else {}


def _skew(tasks) -> float:
    durs = [t["run_s"] for t in tasks]
    med = median(durs)
    return max(durs) / med if durs and med > 0 else 0.0


def task_metrics(log: EventLog, windows, cores: int) -> dict:
    """Executor-wide: tasks, busy share of the cores, GC and spill, per
    window; medians over windows."""
    rows = []
    for start, end in windows:
        tasks = log.tasks_of(log.within(start, end))
        rows.append({
            "tasks.count": len(tasks),
            "tasks.busy_share": sum(t["run_s"] for t in tasks) / ((end - start) * cores),
            "tasks.gc_s": sum(t["gc_s"] for t in tasks),
            "tasks.spill_mb": sum(t["spill_mb"] for t in tasks),
        })
    return {k: median(r[k] for r in rows) for k in rows[0]} if rows else {}


def merge_metrics(log: EventLog, batch_windows, target: str) -> dict:
    """``merge_turns`` inside each micro-batch (window = the batch's trigger
    interval from the streaming progress): medians over batches."""
    rows = []
    for start, end in batch_windows:
        execs = log.within(start, end)
        writes = [x for x in execs if log.write_target(x) == target]
        ckpt = [x for x in execs if log.write_target(x) is None
                and any("LeftAnti" in p for p in x["plans"])]
        dup = [x for x in execs if log.write_target(x) is None
               and any(_DUP_CHECK_RE.search(p) for p in x["plans"])]
        rows.append({
            "merge.dup_check_s": sum(_dur(x) for x in dup),
            "merge.checkpoint_s": sum(_dur(x) for x in ckpt),
            "merge.write_s": sum(_dur(x) for x in writes),
            "merge.read_mb": log.metric(ckpt, FILES_SIZE, "Scan"),
            "merge.write_mb": log.metric(writes, WRITTEN),
            "merge.buckets_per_batch": log.metric(writes, DYN_PARTS),
        })
    return {k: median(r[k] for r in rows) for k in rows[0]} if rows else {}
