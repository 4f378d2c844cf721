"""The extraction pandas/Arrow UDF — the only Python on the executor hot path.

It wraps the shared rules core (rules.py).  Regexes and gazetteers
compile once per Python worker at module import (broadcast-free closure
state — SURVEY §4.2.1).  Per input_hint, there are no row-at-a-time Python
UDFs anywhere in the engine.

Error tolerance mirrors the reference's per-file try/except-continue
(pdf_processor.py:112-119): a poison row never fails the job — the batch
falls back to per-element application and the failing row degrades to
empty output (its error is countable downstream via length guards).
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules

# ---------------------------------------------------------------------------
# Return schemas (explicit — no inference, SURVEY §1.3)
# ---------------------------------------------------------------------------

SPAN_TYPE = T.StructType([
    T.StructField("span_seq", T.IntegerType(), False),
    T.StructField("nome_popular", T.StringType(), False),
    T.StructField("nome_canonico", T.StringType(), False),
    T.StructField("nome_cientifico", T.StringType(), True),
    T.StructField("begin", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("paises", T.ArrayType(T.StringType(), False), False),
    T.StructField("tipos_uso", T.ArrayType(T.StringType(), False), False),
    T.StructField("categoria", T.StringType(), False),
    T.StructField("confianca", T.DoubleType(), False),
])

TURN_FEATURES_TYPE = T.StructType([
    T.StructField("clean_text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("lang_conf", T.DoubleType(), False),
    T.StructField("relevance", T.DoubleType(), False),
    T.StructField("n_tokens", T.IntegerType(), False),
    T.StructField("n_pages", T.IntegerType(), False),
    T.StructField("is_html", T.BooleanType(), False),
    T.StructField("parse_error", T.BooleanType(), False),
    T.StructField("spans", T.ArrayType(SPAN_TYPE, False), False),
])


def _safe_map(s: pd.Series, fn: Callable[[Any], Any], default: Any) -> pd.Series:
    """Per-element apply with per-row error tolerance (S5 semantics)."""
    def guarded(v):
        try:
            return fn(v)
        except Exception:
            return default
    return s.map(guarded)


def tag_spans_series(clean: pd.Series, lower: pd.Series) -> pd.Series:
    """Span tagging with a vectorized any-gazetteer-hit prefilter: rows
    mentioning no product term (the common case at corpus scale) skip the
    per-row tagger entirely.  ``lower`` is ``clean.str.lower()``, shared
    with the other stages."""
    spans = pd.Series([[]] * len(clean), index=clean.index, dtype="object")
    # lowered prefilter (plain scan, non-capturing pattern); rows where
    # lowercasing changes length bypass it — the tagger handles those with
    # its IGNORECASE fallback, so no false negatives
    mask = lower.str.contains(rules.PRODUCT_ANY_RE.pattern, regex=True) | (
        lower.str.len() != clean.str.len()
    )
    if bool(mask.any()):
        spans.loc[mask] = _safe_map(clean[mask], rules.tag_product_spans, [])
    return spans


# ---------------------------------------------------------------------------
# Single-pass turn featurizer: one Arrow round trip per batch computes every
# per-turn derived column (clean text, language, relevance, token count,
# spans).  This is the X1-replacement extract operator (SURVEY §2.10).
# ---------------------------------------------------------------------------

@F.pandas_udf(TURN_FEATURES_TYPE)
def extract_turn_features(text: pd.Series) -> pd.DataFrame:
    text = text.fillna("")
    # Compute-on-uniques: featurization is a pure function of the text and
    # conversation corpora repeat payloads heavily (quoted turns, template
    # boilerplate — the bench corpus is ~54% exact repeats), so each
    # distinct payload in the Arrow batch is featurized once and the rows
    # gathered back positionally.  Byte-identical to the per-row path
    # (bench.py's cross-level output hash and the pytest pandas-oracle
    # equality suite both pin it).
    codes, uniques = _factorize_exact(text)
    if len(uniques) == len(text):
        return _turn_features_frame(text)
    out = _turn_features_frame(pd.Series(uniques, dtype="object"))
    return out.iloc[codes].reset_index(drop=True)


def _factorize_exact(text: pd.Series):
    """dict-based exact factorize.  NOT ``pd.factorize``: pandas routes
    all-string batches through its NUL-terminated C-string hash table, so
    two distinct strings sharing a prefix up to an embedded ``\\x00`` are
    conflated into one code (observed live on the control-character dirty
    wrappers; pytest pins the hazard).  Python ``dict`` hashing is exact.
    """
    import numpy as np

    first: dict = {}
    uniques: list = []
    codes = np.empty(len(text), dtype=np.int64)
    for i, s in enumerate(text):
        j = first.setdefault(s, len(uniques))
        if j == len(uniques):
            uniques.append(s)
        codes[i] = j
    return codes, uniques


def _turn_features_frame(text: pd.Series) -> pd.DataFrame:
    # PDF/layout artifact repair first (dehyphenate wraps, form feeds →
    # paragraph breaks + page count) — identity on clean text
    text, n_pages = rules.layout_series(text)
    is_html = text.map(rules.looks_like_html)
    parse_error = pd.Series(False, index=text.index)

    # boilerplate strip only where markup detected (HTML parser is the
    # expensive path; plain turns stay fully vectorized)
    stripped = text.copy()
    if bool(is_html.any()):
        mask = is_html
        stripped.loc[mask] = _safe_map(
            text.loc[mask], rules.strip_boilerplate, None
        )
        failed = stripped.isna()
        if bool(failed.any()):
            parse_error = parse_error | failed
            stripped = stripped.where(~failed, text)

    clean = rules.clean_series_rich(stripped)
    clean_lower = clean.str.lower()  # one lowercase pass, shared by stages
    kw = rules.keyword_counts_frame(clean_lower)  # one tokenize pass, ditto
    langf = rules.detect_language_frame(clean, lower=clean_lower, kw_counts=kw)
    relevance = rules.relevance_series(clean, lower=clean_lower, kw_counts=kw)
    n_tokens = (clean.str.len() // 4).astype("int32")
    spans = tag_spans_series(clean, lower=clean_lower)

    return pd.DataFrame({
        "clean_text": clean,
        "lang": langf["lang"],
        "lang_conf": langf["lang_conf"],
        "relevance": relevance,
        "n_tokens": n_tokens,
        "n_pages": n_pages,
        "is_html": is_html,
        "parse_error": parse_error,
        "spans": spans.map(
            lambda sl: [
                (
                    sp["span_seq"], sp["nome_popular"], sp["nome_canonico"],
                    sp["nome_cientifico"], sp["begin"], sp["end"],
                    sp["paises"], sp["tipos_uso"], sp["categoria"],
                    sp["confianca"],
                )
                for sp in sl
            ]
        ),
    })
