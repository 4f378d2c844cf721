"""Exactness, boundary, and plan-shape tests for the edit-distance
string-similarity join (operators/stringjoin.py)."""

from __future__ import annotations

import itertools
import re

import pytest

from text_extractor_for_bioeconomic_products_spark.operators import stringjoin
from text_extractor_for_bioeconomic_products_spark.operators.stringjoin import (
    edit_distance_pairs,
)


def _lev(s: str, t: str) -> int:
    """Reference Levenshtein (classic DP, unit costs)."""
    prev = list(range(len(t) + 1))
    for i, cs in enumerate(s, 1):
        cur = [i]
        for j, ct in enumerate(t, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct))
            )
        prev = cur
    return prev[-1]


def _brute(strs: dict[int, str], k: int, q: int) -> dict:
    min_len = q * k + q
    keep = {i: s for i, s in strs.items() if len(s) >= min_len}
    out = {}
    for a, b in itertools.combinations(sorted(keep), 2):
        d = _lev(keep[a], keep[b])
        if d <= k:
            out[(a, b)] = d
    return out


def _run(spark, strs: dict[int, str], k: int, q: int) -> dict:
    df = spark.createDataFrame(
        sorted(strs.items()), "id long, str string"
    )
    return {
        (r["d1"], r["d2"]): r["dist"]
        for r in edit_distance_pairs(df, k=k, q=q).collect()
    }


def test_edit_distance_join_is_exact_toy(spark):
    """Deterministic corpus with edits at every position class (head,
    middle, tail; insert/delete/substitute; exact dups) — the filtered
    join must equal brute force exactly."""
    base = "the quick brown fox"
    strs = {
        0: base,
        1: base,                          # dist 0
        2: "the quick brown fix",         # 1 sub
        3: "the quick brwn fox",          # 1 del
        4: "xthe quick brown fox",        # 1 head insert
        5: "the uqick brown fxo",         # transposition = 2 edits
        6: "a completely other one",      # far
        7: "the quick brown foxes here",  # tail insert run
        8: "short",                       # below min length for k=3,q=2
    }
    for k in (1, 2, 3):
        assert _run(spark, strs, k=k, q=2) == _brute(strs, k=k, q=2)


def test_edit_distance_threshold_boundary(spark):
    """dist == k must be kept, dist == k+1 dropped (<= semantics)."""
    strs = {0: "abcdefghij", 1: "abcdefghXY", 2: "abcdeZZZXY"}
    assert _lev(strs[0], strs[1]) == 2
    assert _lev(strs[1], strs[2]) == 3
    got = _run(spark, strs, k=2, q=2)
    assert got == {(0, 1): 2}  # (1,2) is dist k+1=3, (0,2) dist 5 — out
    got3 = _run(spark, strs, k=3, q=2)
    assert got3 == {(0, 1): 2, (1, 2): 3}


def test_edit_distance_join_property(spark):
    """Hypothesis battery: adversarial corpora over a 3-letter alphabet
    (maximal gram-value ties — the hard case for the monotone-matching
    prefix argument), varied lengths straddling the min-length guard,
    duplicates and near-misses.  Zero false negatives AND zero false
    positives at every k."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        data=st.lists(
            st.text(alphabet="abc", min_size=6, max_size=14),
            min_size=3,
            max_size=12,
        ),
        k=st.sampled_from([1, 2, 3]),
    )
    def check(data, k):
        strs = dict(enumerate(data))
        assert _run(spark, strs, k=k, q=2) == _brute(strs, k=k, q=2)

    check()


def test_edit_distance_join_plan_shape(spark, sf001_dir):
    """Candidates must come from an equi-join on gram value — no
    cartesian/nested-loop pair enumeration, and no Window (the global
    gram order is an in-row struct sort, not a rank window)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["edit_distance_join"](spark, sf001_dir)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final
    assert "Window" not in final, final
    assert "levenshtein" in final, final  # JVM-side verify, not a UDF
