"""Deterministic extraction rules — the single source of truth.

This module is pure Python/pandas (no Spark imports) and is shared by

* the Spark pandas UDFs in ``functions/udfs.py`` (executor side), and
* the pure-pandas oracle used by the pytest equality suite.

Every rule reproduces the semantics of the reference implementation at
``/root/reference`` (Rodrigomendesas/text-extractor-for-bioeconomic-products);
citations are ``file:line`` into that repo.  The code here is written from
scratch against those semantics — it is not a copy.

Determinism contract (BASELINE.json ``north_rule``): given the same input
string, every function returns byte-identical output on any executor, any
partitioning, any parallelism level.  Nothing here reads the clock, RNG,
environment, or filesystem.
"""

from __future__ import annotations

import hashlib as _hashlib
import html as _html
import re
from functools import lru_cache as _lru_cache
from html.parser import HTMLParser
from typing import Any, Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

# ASCII whitespace only (not unicode .strip()): offsets and validations
# computed here must be reproducible by the DuckDB/Spark SQL twins,
# whose trim/character classes are ASCII — shared by the chunker and
# the X3 validator.
_ASCII_WS = " \t\n\x0b\f\r"

# ---------------------------------------------------------------------------
# T1 — basic clean (src/utils/helpers.py:208-230)
# ---------------------------------------------------------------------------

# helpers.py:225 — control/format characters stripped by the basic cleaner.
_CONTROL_BASIC_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x84\x86-\x9f]")
_WS_RUN_RE = re.compile(r"\s+")


def clean_text_basic(text: Optional[str]) -> str:
    """Whitespace collapse → control strip → trim (helpers.py:208-230).

    Order matters: the whitespace collapse runs *before* the control-char
    strip, exactly as in the reference (so ``\\x0b`` etc. are first folded
    into the single-space run, then the remaining control chars removed).
    """
    if not text:
        return ""
    text = _WS_RUN_RE.sub(" ", text)
    text = _CONTROL_BASIC_RE.sub("", text)
    return text.strip()


def clean_series_basic(s: pd.Series) -> pd.Series:
    """Vectorized :func:`clean_text_basic` for pandas UDFs."""
    s = s.fillna("")
    s = s.str.replace(_WS_RUN_RE, " ", regex=True)
    s = s.str.replace(_CONTROL_BASIC_RE, "", regex=True)
    return s.str.strip()


# ---------------------------------------------------------------------------
# T2 — rich clean (src/utils/text_preprocessing.py:107-214, TextCleaner.clean)
# ---------------------------------------------------------------------------

# Step 1 (text_preprocessing.py:143-147): keep ord>=32 plus \n \t \r.
_CONTROL_RICH_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")

# Step 3 (text_preprocessing.py:164-184): mojibake repair pairs, applied in
# dict order.  NOTE the reference dict declares the key 'â€"' twice (en dash
# then em dash); Python keeps the first position with the *second* value, so
# only the em-dash mapping exists.  Reproduced faithfully.
MOJIBAKE_PAIRS: List[Tuple[str, str]] = [
    ("â€™", "'"),
    ("â€œ", '"'),
    ("â€\x9d", '"'),
    ('â€"', "—"),  # duplicate-key survivor → em dash
    ("Ã¡", "á"),
    ("Ã©", "é"),
    ("Ã­", "í"),
    ("Ã³", "ó"),
    ("Ãº", "ú"),
    ("Ã±", "ñ"),
    ("Ã§", "ç"),
]

# Step 4 (text_preprocessing.py:186-198).  The reference's quote classes are
# ASCII-only in the source (effectively no-ops) — only the dash + ellipsis
# rules have any effect; we implement exactly those.
_DASH_RE = re.compile(r"[–—]")
_ELLIPSIS_RE = re.compile(r"\.{3,}")

# Step 5 (text_preprocessing.py:200-214).
_PARA_BREAK_RE = re.compile(r"\n\s*\n")
_INNER_NL_RE = re.compile(r"(?<!\n)\n(?!\n)")


def clean_text_rich(text: Optional[str]) -> str:
    """Full TextCleaner.clean chain (text_preprocessing.py:119-141).

    Scalar reference implementation (used by the oracle); the vectorized
    twin :func:`clean_series_rich` is hypothesis-tested equivalent.
    """
    if not text:
        return ""
    # 1. control chars (keep \n \t \r)
    text = _CONTROL_RICH_RE.sub("", text)
    # 2. per-line whitespace normalization, preserving newlines
    lines = text.split("\n")
    text = "\n".join(re.sub(r"[ \t]+", " ", ln.strip()) for ln in lines)
    # 3. mojibake repair
    for bad, good in MOJIBAKE_PAIRS:
        text = text.replace(bad, good)
    # 4. punctuation normalization (dash + ellipsis)
    text = _DASH_RE.sub("-", text)
    text = _ELLIPSIS_RE.sub("...", text)
    # 5. paragraph-break preservation
    text = _PARA_BREAK_RE.sub("\n\n", text)
    paragraphs = [
        _INNER_NL_RE.sub(" ", p).strip() for p in text.split("\n\n")
    ]
    text = "\n\n".join(p for p in paragraphs if p)
    return text.strip()


def clean_series_rich(s: pd.Series) -> pd.Series:
    """Vectorized :func:`clean_text_rich` (regex-simulated, order-preserving)."""
    s = s.fillna("")
    s = s.str.replace(_CONTROL_RICH_RE, "", regex=True)
    # per-line strip + intra-line collapse  ==  collapse then strip line ends
    s = s.str.replace(r"[ \t]+", " ", regex=True)
    s = s.str.replace(r"(?m)^[^\S\n]+|[^\S\n]+$", "", regex=True)
    for bad, good in MOJIBAKE_PAIRS:
        s = s.str.replace(bad, good, regex=False)
    s = s.str.replace(_DASH_RE, "-", regex=True)
    s = s.str.replace(_ELLIPSIS_RE, "...", regex=True)
    s = s.str.replace(_PARA_BREAK_RE, "\n\n", regex=True)
    s = s.str.replace(_INNER_NL_RE, " ", regex=True)
    # per-paragraph strip + drop empty paragraphs
    s = s.str.replace(r"[^\S\n]*\n\n[^\S\n]*", "\n\n", regex=True)
    s = s.str.replace(r"\n{3,}", "\n\n", regex=True)
    return s.str.strip()


# ---------------------------------------------------------------------------
# M5 — heuristic language detection (text_preprocessing.py:25-104)
# ---------------------------------------------------------------------------

LANGUAGE_PATTERNS: Dict[str, Dict[str, List[str]]] = {
    "spanish": {
        "keywords": [
            "el", "la", "de", "en", "y", "a", "que", "es", "se", "no", "un",
            "por", "con", "para", "productos", "planta", "medicinal", "uso",
            "traditional", "país", "región",
        ],
        "indicators": ["ñ", "á", "é", "í", "ó", "ú"],
    },
    "portuguese": {
        "keywords": [
            "o", "a", "de", "e", "do", "da", "em", "um", "para", "com",
            "não", "uma", "por", "mais", "produtos", "planta",
            "medicinal", "uso", "país", "região", "brasil",
        ],
        "indicators": ["ã", "õ", "ç", "á", "é", "í", "ó", "ú"],
    },
    "english": {
        "keywords": [
            "the", "of", "and", "a", "to", "in", "is", "it", "you", "that",
            "he", "was", "for", "on", "products", "plant", "medicinal",
            "use", "traditional", "country", "region",
        ],
        "indicators": [],
    },
    "french": {
        "keywords": [
            "le", "de", "et", "à", "un", "il", "être", "et", "en",
            "avoir", "que", "pour", "dans", "ce", "produits", "plante",
            "médicinal", "usage", "pays", "région",
        ],
        "indicators": ["à", "ç", "é", "è", "ê", "ë",
                        "î", "ï", "ô", "ù", "û", "ü", "ÿ"],
    },
}

# Pre-compiled per-language keyword regexes (compiled once per process —
# executor-side this happens at module import inside the UDF worker).
_LANG_KEYWORD_RES: Dict[str, List[re.Pattern]] = {
    lang: [re.compile(r"\b" + re.escape(kw) + r"\b") for kw in pat["keywords"]]
    for lang, pat in LANGUAGE_PATTERNS.items()
}

# Indicator chars are single codepoints, so Σ count(ch)·2 over a language's
# indicator list == count("[chars]")·2 (+ extra passes only for duplicated
# chars, of which there are none today — asserted so a future edit can't
# silently break the equivalence).  One pass per language instead of one
# per char.
_LANG_IND_CLASS_RES: Dict[str, Optional[re.Pattern]] = {}
for _lang, _pat in LANGUAGE_PATTERNS.items():
    _inds = _pat["indicators"]
    assert len(_inds) == len(set(_inds)) and all(len(c) == 1 for c in _inds)
    _LANG_IND_CLASS_RES[_lang] = (
        re.compile("[" + "".join(re.escape(c) for c in _inds) + "]")
        if _inds else None
    )

LANGUAGE_ORDER = list(LANGUAGE_PATTERNS.keys())  # max() tie-break order


def detect_language(text: Optional[str]) -> Tuple[str, float]:
    """Keyword/indicator scorer (text_preprocessing.py:62-104).

    <20 chars ⇒ ('unknown', 0.0).  Argmax ties resolve in declaration order
    (spanish, portuguese, english, french) — Python ``max`` semantics.
    """
    if not text or len(text) < 20:
        return "unknown", 0.0
    lower = text.lower()
    scores: Dict[str, int] = {}
    for lang in LANGUAGE_ORDER:
        score = 0
        for kw_re in _LANG_KEYWORD_RES[lang]:
            score += len(kw_re.findall(lower))
        for ind in LANGUAGE_PATTERNS[lang]["indicators"]:
            score += lower.count(ind) * 2
        scores[lang] = score
    if max(scores.values()) == 0:
        return "unknown", 0.0
    best = max(scores, key=scores.get)
    total = sum(scores.values())
    conf = min(1.0, scores[best] / total) if total > 0 else 0.0
    return best, conf


def detect_language_frame(
    s: pd.Series,
    lower: Optional[pd.Series] = None,
    kw_counts: Optional[pd.DataFrame] = None,
) -> pd.DataFrame:
    """Vectorized language detection → DataFrame(lang, lang_conf).

    ``lower`` lets callers share one lowercase pass across stages;
    ``kw_counts`` a :func:`keyword_counts_frame` (tokenize-once keyword
    counting shared with :func:`relevance_series` — hypothesis-tested
    identical to the per-keyword regex counts)."""
    s = s.fillna("")
    if lower is None:
        lower = s.str.lower()
    if kw_counts is None:
        kw_counts = keyword_counts_frame(lower)
    score_cols = {}
    for lang in LANGUAGE_ORDER:
        total = kw_counts["lang:" + lang]
        ind_class = _LANG_IND_CLASS_RES[lang]
        if ind_class is not None:
            total = total + lower.str.count(ind_class.pattern) * 2
        score_cols[lang] = total
    scores = pd.DataFrame(score_cols)
    # argmax with declaration-order tie-break == idxmax on ordered columns
    best = scores.idxmax(axis=1)
    max_s = scores.max(axis=1)
    tot_s = scores.sum(axis=1)
    conf = (max_s / tot_s.where(tot_s > 0, 1)).clip(upper=1.0)
    short = (s.str.len() < 20) | (max_s == 0)
    return pd.DataFrame({
        "lang": best.where(~short, "unknown"),
        "lang_conf": conf.where(~short, 0.0).astype("float64"),
    })


# ---------------------------------------------------------------------------
# F1 — relevance scoring (text_preprocessing.py:393-479, ContentFilter)
# ---------------------------------------------------------------------------

RELEVANT_KEYWORDS: Dict[str, List[str]] = {
    "products": [
        "plant", "plants", "medicinal", "traditional", "natural", "biological",
        "bioeconomic", "biodiversity", "species", "extract", "oil", "fiber",
        "medicine", "food", "cosmetic", "industrial", "economic", "commercial",
    ],
    "usage": [
        "use", "used", "application", "treatment", "therapy", "remedy",
        "preparation", "processing", "harvest", "cultivation", "production",
    ],
    "geography": [
        "amazon", "rainforest", "forest", "tropical", "native", "indigenous",
        "region", "area", "zone", "habitat", "ecosystem", "conservation",
    ],
}

_KEYWORD_WEIGHTS = {"products": 0.5, "usage": 0.3, "geography": 0.2}

_KEYWORD_RES = {
    cat: re.compile(r"\b(?:" + "|".join(re.escape(k) for k in kws) + r")\b", re.IGNORECASE)
    for cat, kws in RELEVANT_KEYWORDS.items()
}
_SCI_NAME_SCAN_RE = re.compile(r"\b[A-Z][a-z]+ [a-z]+\b")
_TOKEN_RE = re.compile(r"\S+")

# ---------------------------------------------------------------------------
# Tokenize-once keyword counting, shared by language detection and
# relevance scoring.  For a single-\w+-token keyword, counting \bkw\b over
# the text is exactly counting tokens equal to kw under \w+ tokenization
# (the boundary sits wherever \w meets non-\w on both sides) — asserted at
# import so a future multi-word/punctuated keyword fails fast instead of
# silently diverging.  One findall pass + dict lookups replaces seven
# alternation scans (~2.8× on the featurizer's scoring stages).
# ---------------------------------------------------------------------------

_WORD_TOKEN_RE = re.compile(r"\w+")
KEYWORD_TARGETS: List[str] = [
    *("lang:" + lang for lang in LANGUAGE_ORDER),
    *("rel:" + cat for cat in RELEVANT_KEYWORDS),
]
_TARGET_IDX = {k: i for i, k in enumerate(KEYWORD_TARGETS)}
_WORD_TO_TARGETS: Dict[str, List[int]] = {}
for _lang, _pat in LANGUAGE_PATTERNS.items():
    for _kw in _pat["keywords"]:  # duplicates append twice → faithful
        assert _WORD_TOKEN_RE.fullmatch(_kw), _kw  # double-counting ('et')
        _WORD_TO_TARGETS.setdefault(_kw, []).append(_TARGET_IDX["lang:" + _lang])
for _cat, _kws in RELEVANT_KEYWORDS.items():
    for _kw in _kws:
        assert _WORD_TOKEN_RE.fullmatch(_kw), _kw
        _WORD_TO_TARGETS.setdefault(_kw, []).append(_TARGET_IDX["rel:" + _cat])


def keyword_counts_frame(lower: pd.Series) -> pd.DataFrame:
    """Per-row keyword-hit counts for every language/relevance target.

    Direct token loop (no per-row Counter, no pandas findall Series of
    lists): one dict lookup per token, increments only for vocabulary
    hits — measured 1.6× over the Counter formulation on the bench
    corpus, byte-identical output."""
    lower = lower.fillna("")  # caller-supplied lower may be unguarded
    rows = np.zeros((len(lower), len(KEYWORD_TARGETS)), dtype=np.int64)
    get = _WORD_TO_TARGETS.get
    findall = _WORD_TOKEN_RE.findall
    for ri, text in enumerate(lower.tolist()):
        r = rows[ri]
        for w in findall(text):
            tl = get(w)
            if tl:
                for ti in tl:
                    r[ti] += 1
    return pd.DataFrame(rows, columns=KEYWORD_TARGETS, index=lower.index)

# helpers.py:14-23 — Latin America / Caribbean country set (lowercase).
LATAM_COUNTRIES = frozenset({
    "argentina", "bolivia", "brazil", "chile", "colombia", "ecuador", "guyana",
    "paraguay", "peru", "suriname", "uruguay", "venezuela", "french guiana",
    "antigua and barbuda", "bahamas", "barbados", "belize", "costa rica",
    "cuba", "dominica", "dominican republic", "el salvador", "grenada",
    "guatemala", "haiti", "honduras", "jamaica", "mexico", "nicaragua",
    "panama", "saint kitts and nevis", "saint lucia",
    "saint vincent and the grenadines", "trinidad and tobago", "aruba",
    "curacao", "sint maarten", "bonaire", "martinique", "guadeloupe",
    "puerto rico",
})

# helpers.py:250-261 — substring variations searched first (insertion order).
COUNTRY_VARIATIONS: Dict[str, List[str]] = {
    "brazil": ["brasil", "brazil"],
    "colombia": ["colombia", "kolumbien"],
    "venezuela": ["venezuela", "vzla"],
    "dominican republic": ["dominican republic", "república dominicana", "dom rep"],
    "costa rica": ["costa rica", "costarica"],
    "el salvador": ["el salvador", "salvador"],
    "trinidad and tobago": ["trinidad and tobago", "trinidad", "tobago"],
    "saint lucia": ["saint lucia", "st lucia", "st. lucia"],
    "saint kitts and nevis": ["saint kitts and nevis", "st kitts", "st. kitts"],
    "saint vincent and the grenadines": ["saint vincent", "st vincent", "st. vincent"],
}

# helpers.py:279-281 iterates the *set* — iteration order is hash-dependent
# in Python, so for determinism we fix a sorted order.  This only affects
# the ordering of the returned list, never membership; our engine sorts all
# country lists anyway (SURVEY §7.4 determinism rule 4).
_LATAM_SORTED = sorted(LATAM_COUNTRIES)


def extract_countries(text: str) -> List[str]:
    """Substring gazetteer country scan (helpers.py:233-283), region-filtered.

    Returns title-cased names, variation matches first (dict order), then
    sorted whole-set matches — deduplicated, order-preserving.
    """
    lower = text.lower()
    if not _ANY_COUNTRY_RE.search(lower):
        return []
    found: List[str] = []
    for country, variants in COUNTRY_VARIATIONS.items():
        for v in variants:
            if v in lower:
                t = country.title()
                if t not in found:
                    found.append(t)
                break
    for country in _LATAM_SORTED:
        if country in lower and country.title() not in found:
            found.append(country.title())
    return found


def relevance_score(text: Optional[str]) -> float:
    """ContentFilter.calculate_relevance_score (text_preprocessing.py:421-466)."""
    if not text:
        return 0.0
    total_words = len(text.split())
    if total_words == 0:
        return 0.0
    score = 0.0
    for cat, pat in _KEYWORD_RES.items():
        matches = len(pat.findall(text))
        score += min(matches / total_words * 100, 1.0) * _KEYWORD_WEIGHTS[cat]
    sci = _SCI_NAME_SCAN_RE.findall(text)
    if sci:
        score += min(len(sci) / total_words * 50, 0.3)
    countries = extract_countries(text)
    if countries:
        score += min(len(countries) / 10, 0.2)
    return min(score, 1.0)


def relevance_series(
    s: pd.Series,
    lower: Optional[pd.Series] = None,
    kw_counts: Optional[pd.DataFrame] = None,
) -> pd.Series:
    """Vectorized :func:`relevance_score`."""
    s = s.fillna("")
    if lower is None:
        lower = s.str.lower()
    if kw_counts is None:
        kw_counts = keyword_counts_frame(lower)
    total_words = s.str.count(_TOKEN_RE.pattern).astype("float64")
    nz = total_words.where(total_words > 0, 1.0)
    score = pd.Series(0.0, index=s.index)
    for cat in RELEVANT_KEYWORDS:
        matches = kw_counts["rel:" + cat].astype("float64")
        score = score + (matches / nz * 100).clip(upper=1.0) * _KEYWORD_WEIGHTS[cat]
    sci = s.str.count(_SCI_NAME_SCAN_RE.pattern).astype("float64")
    score = score + (sci / nz * 50).clip(upper=0.3).where(sci > 0, 0.0)
    n_countries = count_countries_series(lower)
    score = score + (n_countries / 10.0).clip(upper=0.2).where(n_countries > 0, 0.0)
    score = score.where(total_words > 0, 0.0)
    return score.clip(upper=1.0)


# Any-country prefilter: one alternation over every variant + country name.
# Substring semantics (no \b) to mirror helpers.py's `in` checks; overlap
# cases (e.g. 'dominica' inside 'dominican republic') make a single-pass
# count non-equivalent, so hit rows still get the exact per-country scan —
# the prefilter only skips the (typical) zero-hit rows.
_ANY_COUNTRY_RE = re.compile(
    "|".join(
        re.escape(t) for t in sorted(
            {v for vs in COUNTRY_VARIATIONS.values() for v in vs} | set(LATAM_COUNTRIES),
            key=len, reverse=True,
        )
    )
)


def count_countries_series(lower: pd.Series) -> pd.Series:
    """Vectorized count of distinct gazetteer countries found (helpers.py:233-283)."""
    n = pd.Series(0, index=lower.index, dtype="int64")
    mask = lower.str.contains(_ANY_COUNTRY_RE.pattern, regex=True)
    if not bool(mask.any()):
        return n
    sub = lower[mask]
    counted: Dict[str, pd.Series] = {}
    for country, variants in COUNTRY_VARIATIONS.items():
        hit = pd.Series(False, index=sub.index)
        for v in variants:
            hit = hit | sub.str.contains(v, regex=False)
        counted[country] = hit
    for country in _LATAM_SORTED:
        hit = sub.str.contains(country, regex=False)
        counted[country] = counted.get(country, False) | hit
    total = pd.Series(0, index=sub.index, dtype="int64")
    for hit in counted.values():
        total = total + hit.astype("int64")
    n.loc[mask] = total
    return n


# ---------------------------------------------------------------------------
# T3 — product-name canonicalization (helpers.py:350-383)
# ---------------------------------------------------------------------------

_NAME_PREFIXES = ["extract of", "oil of", "powder of", "dried", "fresh"]
_NAME_SUFFIXES = ["extract", "oil", "powder", "leaves", "bark", "root", "seeds"]
_PUNCT_RE = re.compile(r"[^\w\s]")


def normalize_product_name(name: Optional[str]) -> str:
    """Lowercase, strip marketing prefixes/suffixes, strip punctuation."""
    if not name:
        return ""
    n = name.lower()
    for p in _NAME_PREFIXES:
        if n.startswith(p + " "):
            n = n[len(p) + 1:]
    for sfx in _NAME_SUFFIXES:
        if n.endswith(" " + sfx):
            n = n[: -len(sfx) - 1]
    n = _PUNCT_RE.sub(" ", n)
    n = _WS_RUN_RE.sub(" ", n)
    return n.strip()


# ---------------------------------------------------------------------------
# T4 — scientific-name validation/fix (validation.py:225-245)
# ---------------------------------------------------------------------------

SCI_NAME_RE = re.compile(r"^[A-Z][a-z]+ [a-z]+$")


def fix_scientific_name(name: Optional[str]) -> Optional[str]:
    """Return canonical 'Genus species' or None (validation.py:225-245)."""
    if not name:
        return None
    name = name.strip()
    if SCI_NAME_RE.match(name):
        return name
    words = name.split()
    if len(words) >= 2:
        fixed = f"{words[0].capitalize()} {words[1].lower()}"
        if SCI_NAME_RE.match(fixed):
            return fixed
    return None


# ---------------------------------------------------------------------------
# M1 — use-type normalization (response_parser.py:321-363)
# ---------------------------------------------------------------------------

VALID_USE_TYPES = [
    "alimentar", "medicinal", "cosmético", "artesanal",
    "construção", "têxtil", "tintorial", "ritual", "outro",
]

USE_TYPE_MAP: Dict[str, str] = {
    "alimentício": "alimentar",
    "alimenticia": "alimentar",
    "comida": "alimentar",
    "alimento": "alimentar",
    "remédio": "medicinal",
    "medicina": "medicinal",
    "farmacêutico": "medicinal",
    "medicamento": "medicinal",
    "beleza": "cosmético",
    "cosmetico": "cosmético",
    "artesanato": "artesanal",
    "artesã": "artesanal",
    "construir": "construção",
    "construcao": "construção",
    "madeira": "construção",
    "tecido": "têxtil",
    "textil": "têxtil",
    "fibra": "têxtil",
    "cor": "tintorial",
    "tinta": "tintorial",
    "corante": "tintorial",
    "cerimônia": "ritual",
    "cerimonia": "ritual",
    "religioso": "ritual",
    "sagrado": "ritual",
    "espiritual": "ritual",
}


def normalize_use_type(use_type: Optional[str]) -> str:
    """Synonym-map → valid-set check → 'outro' (response_parser.py:321-363)."""
    if not use_type:
        return "outro"
    u = use_type.lower().strip()
    normalized = USE_TYPE_MAP.get(u, u)
    return normalized if normalized in VALID_USE_TYPES else "outro"


# ---------------------------------------------------------------------------
# M2 — country validation/correction
# (response_parser.py:87-90,297-319 + validation.py:206-217)
# ---------------------------------------------------------------------------

# Pan-Amazon whitelist (response_parser.py:87-90 + variations 306-317).
PAN_AMAZON_COUNTRIES = frozenset({
    "brasil", "bolívia", "colômbia", "equador", "peru",
    "brazil", "bolivia", "colombia", "ecuador", "perú",
})

# validation.py:206-217 — canonical-case corrections.
COUNTRY_CORRECTIONS: Dict[str, str] = {
    "brazil": "Brazil",
    "brasil": "Brazil",
    "peru": "Peru",
    "perú": "Peru",
    "mexico": "Mexico",
    "méxico": "Mexico",
    "colombia": "Colombia",
    "ecuador": "Ecuador",
    "bolivia": "Bolivia",
    "venezuela": "Venezuela",
}


# Engine extension: Portuguese surface forms accepted by the Pan-Amazon
# whitelist (response_parser.py:306-317) but absent from the English-only
# substring gazetteer (helpers.py:250-261) — scanned additionally so PT
# documents (the reference's captured golden input) resolve their countries.
PT_COUNTRY_FORMS: Dict[str, str] = {
    "colômbia": "Colombia",
    "equador": "Ecuador",
    "bolívia": "Bolivia",
}


def is_pan_amazon_country(country: str) -> bool:
    """response_parser.py:297-319 — membership check, lowercase/strip."""
    return country.lower().strip() in PAN_AMAZON_COUNTRIES


def correct_country(country: str) -> str:
    """Apply canonical-case correction (validation.py:206-217) or pass through."""
    return COUNTRY_CORRECTIONS.get(country.lower().strip(), country.strip())


# ---------------------------------------------------------------------------
# Product gazetteer — validation.py:39-45 + golden fixtures
# (tests/__init__.py:119-146, scripts/text_client_workflow.py:45-56)
# ---------------------------------------------------------------------------

# surface form (lowercase) → (canonical name, scientific name or None)
PRODUCT_GAZETTEER: Dict[str, Tuple[str, Optional[str]]] = {
    # validation.py:39-45 known_products
    "cacao": ("cacao", "Theobroma cacao"),
    "cocoa": ("cacao", "Theobroma cacao"),
    "vanilla": ("vanilla", "Vanilla planifolia"),
    "vainilla": ("vanilla", "Vanilla planifolia"),
    "quinoa": ("quinoa", "Chenopodium quinoa"),
    "quinua": ("quinoa", "Chenopodium quinoa"),
    "guayusa": ("guayusa", "Ilex guayusa"),
    "açaí": ("acai", "Euterpe oleracea"),
    "acai": ("acai", "Euterpe oleracea"),
    "brazil nut": ("brazil nut", "Bertholletia excelsa"),
    "brazil nuts": ("brazil nut", "Bertholletia excelsa"),
    "nuez de brasil": ("brazil nut", "Bertholletia excelsa"),
    "nueces de brasil": ("brazil nut", "Bertholletia excelsa"),
    "castanha-do-pará": ("brazil nut", "Bertholletia excelsa"),
    "yerba mate": ("yerba mate", "Ilex paraguariensis"),
    "stevia": ("stevia", "Stevia rebaudiana"),
    "lucuma": ("lucuma", "Pouteria lucuma"),
    "lúcuma": ("lucuma", "Pouteria lucuma"),
    "spirulina": ("spirulina", None),
    "moringa": ("moringa", "Moringa oleifera"),
    "chia": ("chia", "Salvia hispanica"),
    "amaranth": ("amaranth", "Amaranthus caudatus"),
    "amaranto": ("amaranth", "Amaranthus caudatus"),
    "maca": ("maca", "Lepidium meyenii"),
    "sacha inchi": ("sacha inchi", "Plukenetia volubilis"),
    "camu camu": ("camu camu", "Myrciaria dubia"),
    "dragon fruit": ("dragon fruit", "Hylocereus undatus"),
    "pitahaya": ("dragon fruit", "Hylocereus undatus"),
    # golden fixture products (tests/__init__.py:119-146, text_client_workflow.py:45-56)
    "cat's claw": ("cat s claw", "Uncaria tomentosa"),
    "tagua": ("tagua", "Phytelephas aequatorialis"),
    "copaiba": ("copaiba", "Copaifera officinalis"),
    "copaíba": ("copaiba", "Copaifera officinalis"),
    "buriti": ("buriti", "Mauritia flexuosa"),
    "cupuaçu": ("cupuacu", "Theobroma grandiflorum"),
    "ungurahui": ("ungurahui", "Oenocarpus bataua"),
    "andiroba": ("andiroba", "Carapa guianensis"),
    "guaraná": ("guarana", "Paullinia cupana"),
    "guarana": ("guarana", "Paullinia cupana"),
}

# Longest-first alternation so "camu camu" wins over any "camu" prefix and
# "brazil nuts" over "brazil nut".  Word-boundary anchored, case-insensitive.
_GAZ_TERMS = sorted(PRODUCT_GAZETTEER, key=len, reverse=True)
PRODUCT_SPAN_RE = re.compile(
    r"(?<!\w)(" + "|".join(re.escape(t) for t in _GAZ_TERMS) + r")(?!\w)",
    re.IGNORECASE,
)
_PRODUCT_SPAN_LOWER_RE = re.compile(PRODUCT_SPAN_RE.pattern)
# non-capturing, case-insensitive variant for vectorized any-hit prefilters
PRODUCT_ANY_RE = re.compile(
    r"(?<!\w)(?:" + "|".join(re.escape(t) for t in _GAZ_TERMS) + r")(?!\w)",
    re.IGNORECASE,
)

# Scientific-name capture near a span: '(Genus species)' or bare Genus species.
_SCI_NEAR_RE = re.compile(r"\b([A-Z][a-z]+ [a-z]+)\b")

# Words that start sentences and would false-positive as a Genus.
_SCI_STOPWORDS = frozenset({
    "the", "in", "it", "is", "on", "at", "la", "el", "na", "no", "os",
    "this", "that", "these", "those", "local", "economic", "several",
})

# Use-type context keywords (EN/PT/ES) → canonical use type.  Derived from
# the reference's categorization keywords (src/models/product.py:290-303)
# extended with the PT/ES synonym map (response_parser.py:326-353).  Matched
# per-sentence around a span; emitted in VALID_USE_TYPES order.
USE_CONTEXT_KEYWORDS: Dict[str, List[str]] = {
    "alimentar": ["food", "eat", "consum", "nutri", "fruit", "aliment",
                   "comida", "superfood", "dietary", "suplemento", "supplement"],
    "medicinal": ["medicin", "medic", "heal", "treat", "cure", "remedy",
                   "remédio", "therapeutic", "immune", "inflamma",
                   "fertilidad", "feridas"],
    "cosmético": ["cosmet", "cosmét", "skin", "beauty", "hair", "beleza"],
    "artesanal": ["craft", "carved", "artesanato", "artesan", "handicraft",
                   "cesta", "chapéu", "button", "decorative"],
    "construção": ["construction", "construç", "timber", "madeira", "wood"],
    "têxtil": ["textile", "têxtil", "fiber", "fibra", "tecido", "weav"],
    "tintorial": ["dye", "corante", "tinta", "pigment"],
    "ritual": ["ritual", "ceremon", "cerimôn", "sacred", "sagrado",
                "espiritual", "spiritual", "religios"],
}

# Per-type patterns over lowered text (keywords are lowercase substrings).
# NOTE: these must stay per-type — a single combined alternation would
# consume overlapping matches (e.g. 'treat' swallowing the 'eat' inside
# 'treatment') and under-report use types.
_USE_CONTEXT_LOWER_RES = {
    use: re.compile("|".join(re.escape(k) for k in kws))
    for use, kws in USE_CONTEXT_KEYWORDS.items()
}
# NOTE: a union "any use keyword" prefilter before the 8 per-type scans
# was measured SLOWER (8.5 s vs 7.4 s median on 40k bench rows): with
# ~54% of paragraphs containing some use keyword, the big alternation's
# scan cost exceeds the per-type scans it skips.  Keep the independent
# per-type searches.

# ---------------------------------------------------------------------------
# Categorization (src/models/product.py:279-305, _categorize_use)
# ---------------------------------------------------------------------------

def categorize_use(use_text: Optional[str]) -> str:
    """Keyword → ProductCategory value (product.py:290-305)."""
    u = (use_text or "").lower()
    if any(t in u for t in ["food", "eat", "consum", "nutri", "fruit", "veget"]):
        return "food"
    if any(t in u for t in ["medic", "heal", "treat", "cure", "remedy"]):
        return "medicine"
    if any(t in u for t in ["cosmet", "skin", "beauty", "hair"]):
        return "cosmetic"
    return "other"


# Canonical use type → category word fed to categorize_use so PT types map
# onto the reference's EN keywords deterministically.
_USE_TO_CATEGORY_TEXT = {
    "alimentar": "food",
    "medicinal": "medicinal",
    "cosmético": "cosmetic",
}


# ---------------------------------------------------------------------------
# A5 — confidence scoring, per-span adaptation of
# base_extractor.calculate_confidence_score (base_extractor.py:157-203)
# ---------------------------------------------------------------------------

def span_confidence(has_sci: bool, n_uses: int, name_len: int, n_countries: int) -> float:
    """Per-span confidence.

    The reference computes one score per document: base 0.5 + 0.3·(complete
    fraction) + 0.2·(found-in-text fraction) (base_extractor.py:157-203).
    Per span, 'found in text' is always true (spans come from the text), and
    completeness counts 0.25 each for scientific name, >1 use, name length
    >5, ≥1 country (the last replacing the reference's 'additional_info',
    which has no analog here).  A span is 'complete' when completeness >
    0.5, mirroring base_extractor.py:186-187.  Clamped to [0,1]
    (response_parser.py:276-281).
    """
    completeness = (
        0.25 * bool(has_sci)
        + 0.25 * (n_uses > 1)
        + 0.25 * (name_len > 5)
        + 0.25 * (n_countries > 0)
    )
    score = 0.5
    if completeness > 0.5:
        score += 0.3
    score += 0.2  # found-in-text bonus — always true for tagged spans
    return max(0.0, min(1.0, score))


# ---------------------------------------------------------------------------
# X3 rule half — ProductValidator (validation.py:29-289).  The reference
# defines a per-product validation pass with a rule-based half (these
# checks) and an optional LLM half (dropped by design, SURVEY §2.10):
# name plausibility, country whitelist + casing corrections, scientific-
# name binomial format with capitalization repair, uses cleanup, and a
# validation confidence with issue penalties and completeness bonuses.
# ---------------------------------------------------------------------------

# validation.py:39-46 / 48-54 — semantically-mandated constant tables
VALIDATION_KNOWN_PRODUCTS = frozenset({
    "cacao", "cocoa", "chocolate", "vanilla", "vainilla", "coffee", "café",
    "quinoa", "quinua", "guayusa", "açaí", "acai", "brazil nut",
    "nuez de brasil", "brazil nuts", "nueces de brasil", "tea", "té",
    "mate", "yerba mate", "stevia", "lucuma", "lúcuma", "spirulina",
    "moringa", "chia", "amaranth", "amaranto", "maca", "sacha inchi",
    "camu camu", "dragon fruit", "pitahaya",
})
VALIDATION_KNOWN_COUNTRIES = frozenset({
    "ecuador", "peru", "perú", "brazil", "brasil", "colombia", "bolivia",
    "venezuela", "argentina", "chile", "uruguay", "paraguay", "guyana",
    "suriname", "french guiana", "mexico", "méxico", "guatemala", "belize",
    "honduras", "el salvador", "nicaragua", "costa rica", "panama", "panamá",
})
# validation.py:181 / 187
_VALIDATION_BIO_KEYWORDS = (
    "organic", "natural", "extract", "oil", "seed", "fruit", "bean",
    "nut", "herb",
)
_VALIDATION_COMPANY_PATTERNS = ("company", "corporation", "inc", "ltd", "spa", "sa")
_VALIDATION_BINOMIAL_RE = re.compile(r"^[A-Z][a-z]+ [a-z]+$")
# The validator's casing-correction branch (validation.py:206-217 — the
# shared COUNTRY_CORRECTIONS table) is FAITHFULLY UNREACHABLE: the
# reference checks the known-country whitelist first and every
# correction key is whitelisted.  Asserted so a future table edit that
# would make it live can't silently diverge from the column-expression
# twin (which returns a typed NULL on the strength of this assert).
assert all(k in VALIDATION_KNOWN_COUNTRIES for k in COUNTRY_CORRECTIONS)
_VALIDATION_WS_SPLIT_RE = re.compile(r"[" + _ASCII_WS + r"]+")


def validate_product_span(name: Optional[str], country: Optional[str],
                          scientific_name: Optional[str],
                          uses: Optional[List[str]]) -> Dict[str, Any]:
    """Rule-based per-product validation (validation.py:55-289, LLM half
    excluded by design).

    Returns {is_valid, confidence, n_issues, n_corrections,
    country_corrected, scientific_corrected}: issues follow the
    reference's four checks (name, country, scientific name, uses);
    confidence starts at 1.0, −0.2 per issue, +0.1 for a scientific
    name, +0.1 for >1 use, +0.2 known product, +0.1 known country,
    clamped to [0,1] (validation.py:265-289; the reference's
    ``additional_info`` bonus has no analog here); is_valid = no issues
    AND confidence > 0.6 (validation.py:112).
    """
    # ASCII-ws strip/split throughout (not unicode .strip()/.split()):
    # the column-expression twin must compute identical results, and
    # Spark/RE2 whitespace classes are ASCII — same determinism rule as
    # the chunker (§7.4 class)
    issues = 0
    corrections = 0
    name = (name or "").strip(_ASCII_WS)
    name_lower = name.lower()
    if len(name) < 2:
        issues += 1
    elif any(p in name_lower for p in _VALIDATION_COMPANY_PATTERNS) and not (
        any(k in name_lower for k in VALIDATION_KNOWN_PRODUCTS)
        or any(k in name_lower for k in _VALIDATION_BIO_KEYWORDS)
    ):
        issues += 1

    country = (country or "").strip(_ASCII_WS)
    country_lower = country.lower()
    country_corrected = None
    if len(country) < 2:
        issues += 1
    elif country_lower not in VALIDATION_KNOWN_COUNTRIES and \
            country_lower in COUNTRY_CORRECTIONS:
        # faithfully unreachable (see assert above) — kept for line-level
        # parity with validation.py:206-217
        country_corrected = COUNTRY_CORRECTIONS[country_lower]
        corrections += 1

    sci = (scientific_name or "").strip(_ASCII_WS)
    scientific_corrected = None
    if sci and not _VALIDATION_BINOMIAL_RE.match(sci):
        words = [w for w in _VALIDATION_WS_SPLIT_RE.split(sci) if w]
        fixed = None
        if len(words) >= 2:
            cand = f"{words[0].capitalize()} {words[1].lower()}"
            if _VALIDATION_BINOMIAL_RE.match(cand):
                fixed = cand
        if fixed is not None:
            scientific_corrected = fixed
            corrections += 1
        else:
            issues += 1

    cleaned_uses = [
        u.strip(_ASCII_WS) for u in (uses or []) if u and u.strip(_ASCII_WS)
    ]
    if not cleaned_uses:
        issues += 1
    elif cleaned_uses != list(uses or []):
        corrections += 1

    score = 1.0 - 0.2 * issues
    if sci:
        score += 0.1
    if len(cleaned_uses) > 1:
        score += 0.1
    if any(k in name_lower for k in VALIDATION_KNOWN_PRODUCTS):
        score += 0.2
    if country_lower in VALIDATION_KNOWN_COUNTRIES:
        score += 0.1
    confidence = max(0.0, min(1.0, score))
    return {
        "is_valid": issues == 0 and confidence > 0.6,
        "confidence": round(confidence, 4),
        "n_issues": issues,
        "n_corrections": corrections,
        "country_corrected": country_corrected,
        "scientific_corrected": scientific_corrected,
    }


# ---------------------------------------------------------------------------
# X1 replacement — deterministic gazetteer/regex span tagger
# ---------------------------------------------------------------------------

SPAN_FIELDS = [
    "span_seq", "nome_popular", "nome_canonico", "nome_cientifico",
    "begin", "end", "paises", "tipos_uso", "categoria", "confianca",
]


# Keyed by md5 DIGEST of the paragraph, not the paragraph itself: an
# lru_cache on the raw string would pin up to 32768 full paragraph
# texts per executor worker for the process lifetime (GBs on a
# large-paragraph corpus).  16-byte keys + small tuples keep the same
# hit-rate win at bounded memory; on overflow the cache epoch-resets
# (paragraph repetition is bursty/local, so a clear loses little).
_PARA_CACHE: Dict[bytes, Tuple[Tuple[str, ...], Tuple[str, ...]]] = {}
_PARA_CACHE_MAX = 32768


def _paragraph_features(para_lower: str) -> Tuple[Tuple[str, ...], Tuple[str, ...]]:
    """Per-paragraph use types (VALID_USE_TYPES order) and validated
    Pan-Amazon countries, cached ACROSS rows — conversation corpora repeat
    paragraphs heavily (quoted turns, boilerplate), so the 8 use-type
    scans and the country gazetteer scan run once per distinct paragraph
    per worker, not once per occurrence.

    Keying on the paragraph alone is exact, not approximate: every needle
    (use-context keyword, country surface form) contains no newline, so a
    match can never straddle the '\\n\\n' paragraph delimiter — the union
    over paragraphs equals the whole-document scan
    (tests/test_rules.py::test_paragraph_cache_matches_document_scan).
    """
    key = _hashlib.md5(para_lower.encode("utf-8", "surrogatepass")).digest()
    hit = _PARA_CACHE.get(key)
    if hit is not None:
        return hit
    uses = tuple(
        u for u in VALID_USE_TYPES[:-1]
        if _USE_CONTEXT_LOWER_RES[u].search(para_lower)
    )
    countries = {
        correct_country(c)
        for c in extract_countries(para_lower)
        if is_pan_amazon_country(c)
    }
    countries.update(
        canon for form, canon in PT_COUNTRY_FORMS.items() if form in para_lower
    )
    result = (uses, tuple(sorted(countries)))
    if len(_PARA_CACHE) >= _PARA_CACHE_MAX:
        _PARA_CACHE.clear()
    _PARA_CACHE[key] = result
    return result


def tag_product_spans(clean_text: Optional[str]) -> List[Dict[str, Any]]:
    """Tag bioeconomic product mentions in cleaned text.

    Deterministic replacement for the reference's per-document LLM call
    (SURVEY §2.10 X1): gazetteer span matching (validation.py:39-45 terms +
    golden fixtures), scientific-name capture (validation.py:233 pattern),
    country extraction/validation (helpers.py:233-283 →
    response_parser.py:297-319 whitelist → validation.py:206-217 casing),
    use-type inference from the span's sentence context normalized through
    the synonym map (response_parser.py:321-363), categorization
    (product.py:290-305) and per-span confidence (base_extractor.py:157-203).

    Output is ordered by ``begin`` (span_seq = that order); all list fields
    are deterministically ordered.  First occurrence of each canonical
    product wins; later repeats of the same canonical name are dropped
    (dedup-preserving-order, helpers.py:270-283 pattern).
    """
    if not clean_text:
        return []
    text = clean_text
    lower_text = text.lower()

    # Paragraph contexts: the reference's LLM saw the whole document; our
    # deterministic analog scopes use-type inference to the span's
    # paragraph ('\n\n'-delimited in cleaned text), which keeps
    # multi-product documents per-product-distinct.
    paragraphs: List[Tuple[int, int, str]] = []
    pos = 0
    for part in text.split("\n\n"):
        paragraphs.append((pos, pos + len(part), part))
        pos += len(part) + 2

    # per-paragraph use types + countries via the cross-row cache; the
    # document-level country set (extract → Pan-Amazon filter → correct
    # casing) is the sorted union over paragraphs — exactly the whole-text
    # scan, since no gazetteer needle contains a newline
    para_feats = [_paragraph_features(p.lower()) for _, _, p in paragraphs]
    doc_countries = sorted({c for _, cs in para_feats for c in cs})

    def paragraph_index_of(i: int) -> int:
        for pi, (s, e, _) in enumerate(paragraphs):
            if s <= i < e:
                return pi
        return -1

    def uses_of_paragraph(pi: int) -> List[str]:
        if pi >= 0:
            return list(para_feats[pi][0])
        # offset fell outside every paragraph (defensive; spans are always
        # inside one): fall back to the whole-document scan
        return [
            u for u in VALID_USE_TYPES[:-1]
            if _USE_CONTEXT_LOWER_RES[u].search(lower_text)
        ]

    # scan lowered text (3× faster than IGNORECASE); offsets transfer 1:1
    # whenever lowercasing preserves length (guard falls back otherwise)
    lowered = lower_text
    if len(lowered) == len(text):
        matches = _PRODUCT_SPAN_LOWER_RE.finditer(lowered)
    else:
        matches = PRODUCT_SPAN_RE.finditer(text)

    spans: List[Dict[str, Any]] = []
    seen_canonical = set()
    for m in matches:
        surface = text[m.start(1):m.end(1)]
        # IGNORECASE case-folding can match surfaces whose .lower() is not
        # a gazetteer key (e.g. 'ACAİ' → 'acai̇' with combining dot); skip
        # rather than crash the whole row
        entry = PRODUCT_GAZETTEER.get(surface.lower())
        if entry is None:
            continue
        canonical, gaz_sci = entry
        if canonical in seen_canonical:
            continue
        seen_canonical.add(canonical)
        # scientific name: first valid Genus-species in the 120 chars after
        # the span (typically the parenthetical), else gazetteer fallback
        window = text[m.end(1): m.end(1) + 120]
        sci = None
        for sm in _SCI_NEAR_RE.finditer(window):
            cand = sm.group(1)
            if cand.split()[0].lower() in _SCI_STOPWORDS:
                continue
            sci = fix_scientific_name(cand)
            if sci:
                break
        if sci is None:
            sci = gaz_sci
        # use types from paragraph context, emitted in canonical order
        uses = uses_of_paragraph(paragraph_index_of(m.start(1)))
        categoria = categorize_use(
            " ".join(_USE_TO_CATEGORY_TEXT.get(u, u) for u in uses)
        )
        conf = span_confidence(
            bool(sci), len(uses), len(surface), len(doc_countries)
        )
        spans.append({
            "span_seq": len(spans),
            "nome_popular": surface,
            "nome_canonico": canonical,
            "nome_cientifico": sci,
            "begin": m.start(1),
            "end": m.end(1),
            "paises": doc_countries,
            "tipos_uso": uses,
            "categoria": categoria,
            "confianca": conf,
        })
    return spans


# ---------------------------------------------------------------------------
# HTML main-content extraction (north_star: tag-density + link-ratio
# heuristics à la Readability/trafilatura; no external libs)
# ---------------------------------------------------------------------------

_HTML_HINT_RE = re.compile(
    r"<\s*(?:html|body|div|p|br|nav|header|footer|span|table|script|style|a)\b",
    re.IGNORECASE,
)

_DROP_TAGS = frozenset({"script", "style", "nav", "header", "footer", "aside",
                         "noscript", "form", "iframe", "svg", "head", "title"})
_BLOCK_TAGS = frozenset({"p", "div", "section", "article", "main", "li", "td",
                          "th", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote",
                          "pre", "tr", "table", "ul", "ol", "body", "html",
                          "br", "figcaption"})

MIN_BLOCK_CHARS = 25          # blocks shorter than this are boilerplate-ish
MAX_LINK_DENSITY = 0.33       # Readability-style link-text ratio cutoff
MIN_EXTRACT_CHARS = 20        # degenerate-strip fallback threshold


class _BlockExtractor(HTMLParser):
    """Collect text blocks with per-block link-character counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: List[Tuple[str, int]] = []   # (text, link_chars)
        self._buf: List[str] = []
        self._link_chars = 0
        self._drop_depth = 0
        self._link_depth = 0

    def _flush(self) -> None:
        textv = "".join(self._buf)
        if textv.strip():
            self.blocks.append((textv, self._link_chars))
        self._buf = []
        self._link_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_TAGS and self._drop_depth > 0:
            self._drop_depth -= 1
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._drop_depth > 0:
            return
        self._buf.append(data)
        if self._link_depth > 0:
            self._link_chars += len(data)

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def looks_like_html(text: Optional[str]) -> bool:
    """Cheap markup sniff used to route turns to the boilerplate stripper."""
    return bool(text) and _HTML_HINT_RE.search(text) is not None


def strip_boilerplate(text: Optional[str]) -> str:
    """Main-content extraction for markup-bearing turns.

    Tag-density/link-ratio heuristic: drop <script>/<style>/nav/chrome
    subtrees entirely; split the remainder into block-level text blocks;
    keep blocks whose link-character ratio is below MAX_LINK_DENSITY and
    whose stripped length ≥ MIN_BLOCK_CHARS.  Kept blocks are joined with
    paragraph breaks.  If the result is degenerate (< MIN_EXTRACT_CHARS),
    fall back to a full-text tag strip — the reference's best-of fallback
    pattern (text_extractor.py:63-85).
    """
    if not text:
        return ""
    if not looks_like_html(text):
        return text
    parser = _BlockExtractor()
    try:
        parser.feed(text)
        parser.close()
    except Exception:
        return _naive_tag_strip(text)
    kept: List[str] = []
    for block, link_chars in parser.blocks:
        stripped = _WS_RUN_RE.sub(" ", block).strip()
        if len(stripped) < MIN_BLOCK_CHARS:
            continue
        if link_chars / max(len(block), 1) > MAX_LINK_DENSITY:
            continue
        kept.append(stripped)
    result = "\n\n".join(kept)
    if len(result) < MIN_EXTRACT_CHARS:
        return _naive_tag_strip(text)
    return result


_TAG_RE = re.compile(r"<[^>]+>")
_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)


def _naive_tag_strip(text: str) -> str:
    """Fallback: drop script/style bodies, strip tags, unescape entities."""
    text = _SCRIPT_STYLE_RE.sub(" ", text)
    text = _TAG_RE.sub(" ", text)
    return _html.unescape(text).strip()


# ---------------------------------------------------------------------------
# PDF/layout text parsing (north_star: "PDF/layout text parsing") — repair
# of the artifacts PDF text extraction leaves behind (the analog of the
# reference's pdfplumber/PyMuPDF/PyPDF2 slot, text_extractor.py:50-100):
# hyphenated line wraps rejoined, form-feed page breaks → paragraph breaks
# with a page count (ProcessedDocument.page_count, pdf_processor.py:16-27).
# ---------------------------------------------------------------------------

# letters only — digit ranges like "3-\n4" must not join
_HYPHEN_WRAP_RE = re.compile(r"(?<=[^\W\d_])-\n(?=[^\W\d_])")
_FORMFEED_RE = re.compile(r"[ \t]*\x0c[ \t]*")


def parse_pdf_layout(text: Optional[str]) -> Tuple[str, int]:
    """(repaired_text, n_pages).  Deterministic, identity on clean text.

    Page counting follows the pdftotext convention of a form feed AFTER
    every page including the last: trailing whitespace+\\x0c is ignored
    (``"p1\\x0cp2\\x0c"`` is 2 pages, not 3), so only separators with
    content after them start a new page."""
    if not text:
        return "", 1
    n_pages = text.rstrip().count("\x0c") + 1
    t = _HYPHEN_WRAP_RE.sub("", text)
    t = _FORMFEED_RE.sub("\n\n", t)
    return t, n_pages


def layout_series(s: pd.Series) -> Tuple[pd.Series, pd.Series]:
    """Vectorized :func:`parse_pdf_layout` → (repaired, n_pages).

    One detection pass gates the repair passes: artifact-free rows (the
    common case on web text) skip both replaces and the page count."""
    s = s.fillna("")
    n_pages = pd.Series(1, index=s.index, dtype="int32")
    mask = s.str.contains("\x0c|-\n", regex=True)
    if bool(mask.any()):
        sub = s[mask]
        n_pages.loc[mask] = (
            sub.str.rstrip().str.count("\x0c") + 1
        ).astype("int32")
        t = sub.str.replace(_HYPHEN_WRAP_RE, "", regex=True)
        t = t.str.replace(_FORMFEED_RE, "\n\n", regex=True)
        s = s.copy()
        s.loc[mask] = t
    return s, n_pages


def extract_main_content(text: Optional[str]) -> str:
    """Layout repair → boilerplate strip (if markup) → rich clean.  The
    per-turn equality target column ``clean_text`` (FIXTURES.md §2)."""
    repaired, _ = parse_pdf_layout(text)
    return clean_text_rich(strip_boilerplate(repaired))


# ---------------------------------------------------------------------------
# T7 — token estimate (openai_client.py:190-192)
# ---------------------------------------------------------------------------

def token_estimate(text: Optional[str]) -> int:
    return len(text or "") // 4


# ---------------------------------------------------------------------------
# W1 — size-based chunking with sentence respect (helpers.py:103-150)
# ---------------------------------------------------------------------------

# (ASCII whitespace class _ASCII_WS is defined at module top — the
# paragraph offsets below must be computable identically by the DuckDB
# oracle, whose trim/ltrim take an explicit character set)


def paragraph_spans(text: str) -> List[tuple]:
    """(begin, end) offsets of each non-empty stripped paragraph —
    paragraphs are ``\\n\\n``-separated, mirroring the reference's
    ``text.split('\\n\\n')`` (text_preprocessing.py:276)."""
    spans: List[tuple] = []
    pos = 0
    for piece in text.split("\n\n"):
        stripped = piece.strip(_ASCII_WS)
        if stripped:
            lead = len(piece) - len(piece.lstrip(_ASCII_WS))
            b = pos + lead
            spans.append((b, b + len(stripped)))
        pos += len(piece) + 2
    return spans


def _chunk_by_paragraphs(text: str, chunk_size: int) -> List[Dict[str, int]]:
    """Greedy paragraph packing (text_preprocessing.py:273-310): whole
    paragraphs accumulate until the next one would overflow
    ``chunk_size`` (+2 for the joining blank line, as the reference
    counts it); an oversized single paragraph becomes its own chunk, as
    in the reference.  Offsets are exact — no overlap-text duplication,
    per the SURVEY §7.4 offset-drift fix."""
    chunks: List[Dict[str, int]] = []
    cur: Optional[List[int]] = None
    for b, e in paragraph_spans(text):
        if cur is None:
            cur = [b, e]
        elif (cur[1] - cur[0]) + (e - b) + 2 > chunk_size:
            chunks.append({"chunk_id": len(chunks), "begin": cur[0], "end": cur[1]})
            cur = [b, e]
        else:
            cur[1] = e
    if cur is not None:
        chunks.append({"chunk_id": len(chunks), "begin": cur[0], "end": cur[1]})
    return chunks


def chunk_text(text: str, chunk_size: int = 2500, overlap: int = 150,
               preserve_sentences: bool = True,
               respect_paragraphs: bool = False) -> List[Dict[str, int]]:
    """Overlapping chunks with clean offset semantics.

    Follows helpers.py:103-150 (size/overlap/sentence-respect) and
    text_preprocessing.py:241-310 (paragraph mode dispatch) but with
    exact ``(begin, end)`` offsets into the input — SURVEY §7.4 documents
    that we deliberately fix the reference's offset drift rather than
    reproduce it.  Mode precedence matches the reference
    (text_preprocessing.py:261-266): paragraphs > sentences > size.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    n = len(text)
    if n <= chunk_size:
        return [{"chunk_id": 0, "begin": 0, "end": n}] if n else []
    if respect_paragraphs:
        return _chunk_by_paragraphs(text, chunk_size)
    chunks: List[Dict[str, int]] = []
    start = 0
    while start < n:
        end = start + chunk_size
        if end >= n:
            chunks.append({"chunk_id": len(chunks), "begin": start, "end": n})
            break
        if preserve_sentences:
            search_start = max(end - 200, start)
            last = None
            # explicit ASCII whitespace class, NOT \s: Python \s also
            # matches unicode spaces (NBSP etc.) which RE2/DuckDB's does
            # not — the oracle and this loop must take identical breaks
            for m in re.finditer(r"[.!?][" + _ASCII_WS + r"]+",
                                  text[search_start:end]):
                last = search_start + m.end()
            # accept a sentence break only if the next start (end-overlap)
            # still advances — otherwise a break near the window start
            # would drag offsets backwards / below zero
            if last is not None and last - overlap > start:
                end = last
        chunks.append({"chunk_id": len(chunks), "begin": start, "end": end})
        start = end - overlap
    return chunks


# ---------------------------------------------------------------------------
# Pure-pandas oracle for the full per-turn pipeline (test-side)
# ---------------------------------------------------------------------------

def oracle_extract_turns(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference pipeline over a pandas transcripts frame — the equality
    oracle.  Input columns: conv_id, turn_idx, text.  Output: one row per
    turn with clean_text / lang / lang_conf / relevance / n_spans /
    n_tokens, sorted by (conv_id, turn_idx)."""
    out = pdf[["conv_id", "turn_idx"]].copy()
    clean = pdf["text"].map(lambda t: extract_main_content(t))
    out["clean_text"] = clean
    langs = clean.map(detect_language)
    out["lang"] = langs.map(lambda t: t[0])
    out["lang_conf"] = langs.map(lambda t: t[1])
    out["relevance"] = clean.map(relevance_score)
    spans = clean.map(tag_product_spans)
    out["n_spans"] = spans.map(len)
    out["n_tokens"] = clean.map(token_estimate)
    out["n_pages"] = pdf["text"].map(lambda t: parse_pdf_layout(t)[1])
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def oracle_extract_spans(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-span oracle: one row per tagged span (FIXTURES.md §2 shape)."""
    rows: List[Dict[str, Any]] = []
    for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        clean = extract_main_content(text)
        for sp in tag_product_spans(clean):
            rows.append({"conv_id": conv_id, "turn_idx": turn_idx, **sp})
    cols = ["conv_id", "turn_idx"] + SPAN_FIELDS
    if not rows:
        return pd.DataFrame(columns=cols)
    return (
        pd.DataFrame(rows)[cols]
        .sort_values(["conv_id", "turn_idx", "span_seq"])
        .reset_index(drop=True)
    )
