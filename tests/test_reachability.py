"""Static reachability of the package: no top-level name without a user.

``jobs/reachability.py`` walks imports, attributes and calls with the
stdlib ``ast`` module (no Spark session) from every job, test, the
benchmark, the extraction and streaming entry points and the
``queries()`` / ``oracle_sql()`` registry.  A package name none of them
reaches is dead code; this test keeps the count at zero.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
)

import reachability  # noqa: E402


def test_package_has_no_unreachable_names():
    inv = reachability.inventory()
    # every module of the package is inventoried, not just operators/
    assert "rules.py" in inv and "functions/udfs.py" in inv
    assert "operators/relational.py" in inv
    assert reachability.unreachable(inv) == []
