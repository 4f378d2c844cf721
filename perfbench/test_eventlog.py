"""Event-log parser and span arithmetic, on a small hand-made event log.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402


@pytest.fixture(scope="module")
def log():
    return eventlog.EventLog(eventlog.read_events(os.path.join(HERE, "fixtures", "eventlog.jsonl")))


def test_executions_attributed_by_plan(log):
    x = log.execs
    assert log.write_target(x[1]) == "turns_extracted"
    assert log.write_target(x[0]) is None
    assert log.ran_udf(x[0])
    # the write and the totals scan list the cached UDF node but did not run it
    assert not log.ran_udf(x[1]) and not log.ran_udf(x[2])


def test_sql_metrics_sum_task_and_driver_updates(log):
    x = log.execs
    assert log.metric([x[0]], eventlog.PY_RUN, "ArrowEvalPython") == pytest.approx(4.0)
    assert log.metric([x[0]], eventlog.SCAN_TIME, "Scan") == pytest.approx(0.2)
    assert log.metric([x[0]], eventlog.FILES_SIZE, "Scan") == pytest.approx(2.0)
    assert log.metric([x[1]], eventlog.WRITTEN) == pytest.approx(0.5)
    assert log.metric([x[1]], eventlog.DYN_PARTS) == 4


def test_metrics_follow_the_tasks_not_the_plan(log):
    """A nested execution (foreachBatch) that runs the UDF gets its metrics
    even though its own plan does not list the UDF node."""
    nested = log.execs[4]
    assert nested["root"] == 3
    assert log.ran_udf(nested)
    assert log.metric([nested], eventlog.PY_RUN, "ArrowEvalPython") == pytest.approx(0.7)


def test_pipeline_phases_cover_the_job_wall(log):
    m = eventlog.pipeline_metrics(log, [(1000.0, 1004.0)])
    assert m["pipeline.extract_s"] == pytest.approx(3.0)
    assert m["pipeline.turns_write_s"] == pytest.approx(0.5)
    assert m["pipeline.totals_s"] == pytest.approx(0.1)
    assert m["pipeline.spans_write_s"] == 0
    assert m["pipeline.driver_gap_s"] == pytest.approx(0.4)
    phases = [v for k, v in m.items() if k.endswith("_s")]
    assert sum(phases) == pytest.approx(4.0)


def test_boundary_and_task_metrics(log):
    m = eventlog.extract_metrics(log, [(1000.0, 1004.0)], arrow_batch=8192)
    assert m["extract.arrow_batches"] == 2  # 8192 rows → 1 batch, 100 rows → 1
    assert m["transcripts.scan_tasks"] == 2
    assert m["extract.to_python_mb"] == 0
    assert m["tasks.skew"] == pytest.approx(2.7 / 2.25)
    t = eventlog.task_metrics(log, [(1000.0, 1004.0)], cores=4)
    assert t["tasks.count"] == 4
    assert t["tasks.busy_share"] == pytest.approx((1.8 + 2.7 + 0.3 + 0.06) / 16)
    assert eventlog.cached_mb(log) == pytest.approx(3.0)


def test_self_time_subtracts_covered_children():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    tr = Tracer()
    job = tr.add("job", 0.0, 10.0, None)
    tr.add("sql", 1.0, 4.0, job["id"])
    tr.add("sql", 3.0, 5.0, job["id"])
    own = self_times(tr.spans)
    assert own["job"] == pytest.approx(6.0)
    assert own["sql"] == pytest.approx(5.0)
