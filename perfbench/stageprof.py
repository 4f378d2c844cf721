"""L0 profile of the extraction UDF body, in-process on one core.

Each stage is called the way ``functions.udfs._turn_features_frame`` calls
it, on the batch's distinct payloads and the previous stage's output, and
timed with ``time.process_time``.  The whole ``extract_turn_features``
body is timed separately on the same batches; the stage sum over it says
how much of the body the profile accounts for.  The order below must
follow the UDF: a change there is a change here.
"""

from __future__ import annotations

import time

import pandas as pd

from text_extractor_for_bioeconomic_products_spark import rules
from text_extractor_for_bioeconomic_products_spark.functions import udfs

STAGES = ("layout", "html_sniff", "strip_boilerplate", "clean_rich",
          "keyword_counts", "language", "relevance")


def _staged(batch: pd.Series, acc: dict, tracer) -> int:
    """Run one batch stage by stage; returns its distinct payload count."""
    clock = time.process_time

    def timed(name, fn):
        t0, w0 = clock(), time.time()
        out = fn()
        acc[name] = acc.get(name, 0.0) + clock() - t0
        if tracer is not None:
            tracer.add(f"rules.{name}" if name in STAGES else f"udfs.{name}",
                       w0, time.time(), tracer.current())
        return out

    text = batch.fillna("")
    codes, uniques = timed("factorize", lambda: udfs._factorize_exact(text))
    u = text if len(uniques) == len(text) else pd.Series(uniques, dtype="object")
    u, _pages = timed("layout", lambda: rules.layout_series(u))
    is_html = timed("html_sniff", lambda: u.map(rules.looks_like_html))

    def strip():
        stripped = u.copy()
        if bool(is_html.any()):
            stripped.loc[is_html] = udfs._safe_map(
                u.loc[is_html], rules.strip_boilerplate, None)
            failed = stripped.isna()
            stripped = stripped.where(~failed, u)
        return stripped

    stripped = timed("strip_boilerplate", strip)
    clean = timed("clean_rich", lambda: rules.clean_series_rich(stripped))

    # the shared lowercase pass is charged to keyword counts, its first user
    def kw_stage():
        lower = clean.str.lower()
        return lower, rules.keyword_counts_frame(lower)

    lower, kw = timed("keyword_counts", kw_stage)
    timed("language", lambda: rules.detect_language_frame(clean, lower=lower, kw_counts=kw))
    timed("relevance", lambda: rules.relevance_series(clean, lower=lower, kw_counts=kw))
    timed("tag_spans", lambda: udfs.tag_spans_series(clean, lower=lower))
    return len(uniques)


def profile(batches, tracer=None) -> dict:
    """µs per input turn for every stage and for the whole UDF body."""
    acc: dict = {}
    rows = uniq = 0
    body = 0.0
    body_fn = udfs.extract_turn_features.func
    for b in batches:
        s = pd.Series(b, dtype="object")
        t0 = time.process_time()
        body_fn(s)
        body += time.process_time() - t0
        uniq += _staged(s, acc, tracer)
        rows += len(b)
    per = 1e6 / rows
    out = {f"rules.{k}_us": acc[k] * per for k in STAGES}
    out["udfs.factorize_us"] = acc["factorize"] * per
    out["udfs.tag_spans_us"] = acc["tag_spans"] * per
    out["udfs.body_us"] = body * per
    out["udfs.unique_share"] = uniq / rows
    out["udfs.stage_sum_over_body"] = sum(acc.values()) / body
    return out
