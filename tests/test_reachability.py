"""Static reachability of the package: no top-level name without a user.

``jobs/reachability.py`` walks imports, attributes and calls with the
stdlib ``ast`` module (no Spark session) from every job, test, the
benchmark, the extraction entry point and the ``queries()`` /
``oracle_sql()`` registry.  A package name none of them
reaches is dead code; this test keeps the count at zero, and keeps the
committed ``REACHABILITY.md`` equal to a fresh render.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))

import reachability  # noqa: E402


def test_package_has_no_unreachable_names():
    inv = reachability.inventory()
    # every module of the package is inventoried, not just operators/
    assert "rules.py" in inv and "functions/udfs.py" in inv
    assert "operators/relational.py" in inv
    # streaming functions are reached only through their callers, never
    # by the module they live in: each one's roots are jobs, tests or bench
    streaming = inv["streaming/pipeline.py"]
    assert streaming and all(set(roots) <= {"jobs", "tests", "bench"}
                             for roots in streaming.values()), streaming
    assert reachability.unreachable(inv) == []
    with open(os.path.join(REPO, "REACHABILITY.md"), encoding="utf-8") as f:
        assert f.read() == reachability.render(inv), (
            "stale: python jobs/reachability.py > REACHABILITY.md")
