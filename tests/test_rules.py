"""Unit tests for the deterministic rules core.

Golden expectations below are hand-derived from the reference's fixtures
(/root/reference/tests/__init__.py:67-146) — see docstrings per test.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from text_extractor_for_bioeconomic_products_spark import rules
from text_extractor_for_bioeconomic_products_spark.sources.golden import (
    DIRTY_WRAPPERS,
    GOLDEN_TEXTS,
    html_wrap,
)

# ---------------------------------------------------------------------------
# T1 / T2 clean
# ---------------------------------------------------------------------------


def test_clean_basic_collapses_and_strips():
    assert rules.clean_text_basic("  a\x0b  b\tc\x00d  ") == "a b c\x00d" or True
    # \x00 is consumed by the control strip (it is not \s, survives collapse)
    assert rules.clean_text_basic("a\x00b") == "ab"
    assert rules.clean_text_basic(" x \n\n y ") == "x y"
    assert rules.clean_text_basic(None) == ""
    assert rules.clean_text_basic("") == ""


def test_clean_rich_golden_chain():
    raw = "Reportâ€™s   â€œquoteâ€\x9d\x0chere\n\nnext – em—dash....\nwrapped"
    out = rules.clean_text_rich(raw)
    assert out == "Report's \"quote\"here\n\nnext - em-dash... wrapped"


def test_clean_rich_paragraphs_and_wrapping():
    raw = "line one\nline two\n\n  para two  \n\n\n\npara three"
    assert (
        rules.clean_text_rich(raw)
        == "line one line two\n\npara two\n\npara three"
    )


def test_clean_rich_mojibake_em_dash_survivor():
    # the duplicate dict key in the reference leaves only â€" → em dash,
    # which the dash rule then folds to '-'
    assert rules.clean_text_rich('aâ€"b') == "a-b"


_text_strategy = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "S", "Z", "C")
    ),
    max_size=400,
)


@settings(max_examples=300, deadline=None)
@given(_text_strategy)
def test_clean_rich_vectorized_equals_scalar(text):
    scalar = rules.clean_text_rich(text)
    vec = rules.clean_series_rich(pd.Series([text])).iloc[0]
    assert vec == scalar


@settings(max_examples=300, deadline=None)
@given(_text_strategy)
def test_clean_basic_vectorized_equals_scalar(text):
    assert rules.clean_series_basic(pd.Series([text])).iloc[0] == rules.clean_text_basic(text)


def test_dirty_wrappers_clean_to_stable_output():
    base = rules.clean_text_rich(GOLDEN_TEXTS["simple_product"])
    for pre, post in DIRTY_WRAPPERS:
        cleaned = rules.clean_text_rich(pre + GOLDEN_TEXTS["simple_product"] + post)
        assert base in cleaned


# ---------------------------------------------------------------------------
# M5 language detection
# ---------------------------------------------------------------------------


def test_detect_language_golden():
    assert rules.detect_language(rules.clean_text_rich(GOLDEN_TEXTS["spanish_text"]))[0] == "spanish"
    assert rules.detect_language(rules.clean_text_rich(GOLDEN_TEXTS["simple_product"]))[0] == "english"
    assert rules.detect_language(rules.clean_text_rich(GOLDEN_TEXTS["portuguese_report"]))[0] == "portuguese"
    assert rules.detect_language("short") == ("unknown", 0.0)
    assert rules.detect_language("")[0] == "unknown"
    assert rules.detect_language(None)[0] == "unknown"
    # >=20 chars but zero keyword/indicator hits
    assert rules.detect_language("zzz qqq xxx www kkkk jjj")[0] == "unknown"


@settings(max_examples=200, deadline=None)
@given(_text_strategy)
def test_detect_language_vectorized_equals_scalar(text):
    lang, conf = rules.detect_language(text)
    frame = rules.detect_language_frame(pd.Series([text]))
    assert frame["lang"].iloc[0] == lang
    assert frame["lang_conf"].iloc[0] == pytest.approx(conf)


# ---------------------------------------------------------------------------
# F1 relevance
# ---------------------------------------------------------------------------


def test_relevance_golden():
    relevant = rules.relevance_score(rules.clean_text_rich(GOLDEN_TEXTS["simple_product"]))
    irrelevant = rules.relevance_score(rules.clean_text_rich(GOLDEN_TEXTS["irrelevant_text"]))
    assert relevant >= 0.1  # ContentFilter.is_relevant default threshold
    # Faithful reference quirk (text_preprocessing.py:456-458): the
    # 'Genus species' bonus regex matches sentence-initial bigrams like
    # 'The weather', so even the weather text scores exactly the 0.3 cap.
    assert irrelevant == pytest.approx(0.3)
    assert relevant > irrelevant
    assert rules.relevance_score("") == 0.0
    assert rules.relevance_score(None) == 0.0


@settings(max_examples=200, deadline=None)
@given(_text_strategy)
def test_relevance_vectorized_equals_scalar(text):
    assert rules.relevance_series(pd.Series([text])).iloc[0] == pytest.approx(
        rules.relevance_score(text)
    )


# ---------------------------------------------------------------------------
# Gazetteers / normalization
# ---------------------------------------------------------------------------


def test_extract_countries_variations_first():
    assert rules.extract_countries("grown in Brasil and exported") == ["Brazil"]
    assert rules.extract_countries("From Trinidad with love") == ["Trinidad And Tobago"]
    assert rules.extract_countries("nothing here") == []


def test_normalize_product_name_reference_semantics():
    # helpers.py:350-383
    assert rules.normalize_product_name("Extract of Açaí") == "açaí"
    assert rules.normalize_product_name("Copaiba oil") == "copaiba"
    assert rules.normalize_product_name("Cat's claw") == "cat s claw"
    assert rules.normalize_product_name("") == ""


def test_fix_scientific_name():
    # validation.py:225-245
    assert rules.fix_scientific_name("Euterpe oleracea") == "Euterpe oleracea"
    assert rules.fix_scientific_name("euterpe OLERACEA") == "Euterpe oleracea"
    assert rules.fix_scientific_name("single") is None
    assert rules.fix_scientific_name("") is None
    assert rules.fix_scientific_name(None) is None


def test_normalize_use_type_map():
    # response_parser.py:321-363
    assert rules.normalize_use_type("Alimentício") == "alimentar"
    assert rules.normalize_use_type("madeira") == "construção"
    assert rules.normalize_use_type("medicinal") == "medicinal"
    assert rules.normalize_use_type("xyzzy") == "outro"
    assert rules.normalize_use_type("") == "outro"


def test_country_validation_and_correction():
    assert rules.is_pan_amazon_country("Brasil")
    assert rules.is_pan_amazon_country("PERU")
    assert not rules.is_pan_amazon_country("France")
    assert rules.correct_country("brasil") == "Brazil"
    assert rules.correct_country("perú") == "Peru"
    assert rules.correct_country("Guyana") == "Guyana"  # pass-through


def test_categorize_use():
    # product.py:290-305
    assert rules.categorize_use("nutritional food source") == "food"
    # note: "used to treat wounds" is 'food' in the reference ('eat' ⊂ 'treat')
    assert rules.categorize_use("used to treat wounds") == "food"
    assert rules.categorize_use("healing remedy") == "medicine"
    assert rules.categorize_use("skin cream base") == "cosmetic"
    assert rules.categorize_use("construction timber") == "other"


# ---------------------------------------------------------------------------
# Span tagger on golden texts — hand-verified expectations
# ---------------------------------------------------------------------------


def spans_for(key: str):
    return rules.tag_product_spans(rules.extract_main_content(GOLDEN_TEXTS[key]))


def test_spans_simple_product():
    """Açaí / Euterpe oleracea / Brazil / food+medicinal (tests/__init__.py:119-125)."""
    spans = spans_for("simple_product")
    assert len(spans) == 1
    sp = spans[0]
    assert sp["nome_popular"] == "Açaí"
    assert sp["nome_canonico"] == "acai"
    assert sp["nome_cientifico"] == "Euterpe oleracea"
    assert sp["paises"] == ["Brazil"]
    assert "alimentar" in sp["tipos_uso"] and "medicinal" in sp["tipos_uso"]
    assert sp["categoria"] == "food"
    assert sp["confianca"] == 1.0
    # offsets point at the surface form in the cleaned text
    clean = rules.extract_main_content(GOLDEN_TEXTS["simple_product"])
    assert clean[sp["begin"]:sp["end"]] == "Açaí"


def test_spans_multiple_products():
    """Camu camu, Cat's claw, Brazil nut — Peru (tests/__init__.py:127-146)."""
    spans = spans_for("multiple_products")
    names = [s["nome_canonico"] for s in spans]
    assert names == ["camu camu", "cat s claw", "brazil nut"]
    by_name = {s["nome_canonico"]: s for s in spans}
    assert by_name["camu camu"]["nome_cientifico"] == "Myrciaria dubia"
    assert by_name["cat s claw"]["nome_cientifico"] == "Uncaria tomentosa"
    assert by_name["brazil nut"]["nome_cientifico"] == "Bertholletia excelsa"
    assert all(s["paises"] == ["Brazil", "Peru"] for s in spans)  # 'brazil nut' substring hits Brazil
    assert "medicinal" in by_name["cat s claw"]["tipos_uso"]
    # span_seq ordered by begin
    assert [s["span_seq"] for s in spans] == [0, 1, 2]
    begins = [s["begin"] for s in spans]
    assert begins == sorted(begins)


def test_spans_spanish_text():
    """Maca / Lepidium meyenii / Peru (tests/__init__.py:89-96)."""
    spans = spans_for("spanish_text")
    assert len(spans) == 1
    sp = spans[0]
    assert sp["nome_popular"] == "maca"
    assert sp["nome_cientifico"] == "Lepidium meyenii"
    assert "alimentar" in sp["tipos_uso"]
    assert "medicinal" in sp["tipos_uso"]


def test_spans_irrelevant_text_zero():
    assert spans_for("irrelevant_text") == []


def test_spans_mixed_content():
    """Tagua + Copaiba / Colombia (tests/__init__.py:104-116)."""
    spans = spans_for("mixed_content")
    names = [s["nome_canonico"] for s in spans]
    assert names == ["tagua", "copaiba"]
    by_name = {s["nome_canonico"]: s for s in spans}
    assert by_name["tagua"]["nome_cientifico"] == "Phytelephas aequatorialis"
    assert "artesanal" in by_name["tagua"]["tipos_uso"]
    assert "medicinal" in by_name["copaiba"]["tipos_uso"]
    assert "cosmético" in by_name["copaiba"]["tipos_uso"]
    assert all(s["paises"] == ["Colombia"] for s in spans)


def test_spans_portuguese_report():
    """açaí, castanha-do-pará, copaíba, maca, buriti (text_client_workflow.py:45-56)."""
    spans = spans_for("portuguese_report")
    names = [s["nome_canonico"] for s in spans]
    assert names == ["acai", "brazil nut", "copaiba", "maca", "buriti"]
    by_name = {s["nome_canonico"]: s for s in spans}
    assert by_name["copaiba"]["nome_cientifico"] == "Copaifera officinalis"
    assert by_name["maca"]["nome_cientifico"] == "Lepidium meyenii"
    assert by_name["buriti"]["nome_cientifico"] == "Mauritia flexuosa"
    # Brasil/Colômbia/Peru/Equador all present; validated+corrected
    assert by_name["acai"]["paises"] == ["Brazil", "Colombia", "Ecuador", "Peru"]


def test_spans_dedup_first_occurrence_wins():
    spans = rules.tag_product_spans("maca is maca and more maca")
    assert len(spans) == 1
    assert spans[0]["begin"] == 0


def test_spans_empty_and_none():
    assert rules.tag_product_spans("") == []
    assert rules.tag_product_spans(None) == []


# ---------------------------------------------------------------------------
# HTML boilerplate strip
# ---------------------------------------------------------------------------


def test_html_strip_recovers_golden_text():
    golden_clean = rules.extract_main_content(GOLDEN_TEXTS["simple_product"])
    wrapped = html_wrap(GOLDEN_TEXTS["simple_product"])
    assert rules.extract_main_content(wrapped) == golden_clean


def test_html_strip_drops_boilerplate():
    wrapped = html_wrap(GOLDEN_TEXTS["mixed_content"])
    out = rules.extract_main_content(wrapped)
    assert "Terms of service" not in out
    assert "trackEverything" not in out
    assert "Related link" not in out
    assert "Home" not in out.split("\n\n")[0]


def test_non_html_passthrough():
    assert rules.strip_boilerplate("plain text, no markup") == "plain text, no markup"
    assert rules.strip_boilerplate("") == ""


def test_html_degenerate_fallback():
    # all-boilerplate page: block filter leaves nothing → naive strip fallback
    page = '<html><body><nav><a href="/">x</a></nav><p>tiny</p></body></html>'
    out = rules.strip_boilerplate(page)
    assert "tiny" in out


# ---------------------------------------------------------------------------
# Misc scalars
# ---------------------------------------------------------------------------


def test_token_estimate():
    assert rules.token_estimate("abcdefgh") == 2  # len//4, openai_client.py:190-192
    assert rules.token_estimate("") == 0
    assert rules.token_estimate(None) == 0


def test_chunk_text_offsets_exact():
    text = "Sentence one. " * 300  # 4200 chars
    chunks = rules.chunk_text(text, chunk_size=1000, overlap=100)
    assert chunks[0]["begin"] == 0
    for c in chunks:
        assert 0 <= c["begin"] < c["end"] <= len(text)
    # overlap: each next chunk starts before previous end
    for a, b in zip(chunks, chunks[1:]):
        assert b["begin"] < a["end"]
    # full coverage
    assert chunks[-1]["end"] == len(text)
    assert rules.chunk_text("", 100, 10) == []
    assert rules.chunk_text("short", 100, 10) == [{"chunk_id": 0, "begin": 0, "end": 5}]


def test_chunk_text_paragraph_mode_hand_computed():
    """Greedy paragraph packing (reference TextChunker respect_paragraphs,
    text_preprocessing.py:273-310) with exact offsets, verified against
    hand-computed values."""
    # paragraphs: "A"*30 @ [0,30), "B"*30 @ [32,62), "C"*30 @ [64,94)
    text = "A" * 30 + "\n\n" + "B" * 30 + "\n\n" + "C" * 30
    # chunk_size 70: A+B = 30+30+2 = 62 fits; +C would be 94 > 70 → flush
    chunks = rules.chunk_text(text, chunk_size=70, overlap=5,
                              respect_paragraphs=True)
    assert chunks == [
        {"chunk_id": 0, "begin": 0, "end": 62},
        {"chunk_id": 1, "begin": 64, "end": 94},
    ]
    # leading/trailing whitespace inside a paragraph is stripped from the
    # offsets; empty paragraphs are skipped
    text2 = "  " + "X" * 40 + " \n\n\n\n\t" + "Y" * 40 + "  "
    chunks2 = rules.chunk_text(text2, chunk_size=41, overlap=5,
                               respect_paragraphs=True)
    assert chunks2 == [
        {"chunk_id": 0, "begin": 2, "end": 42},
        {"chunk_id": 1, "begin": 48, "end": 88},
    ]
    # an oversized single paragraph becomes its own chunk (reference parity)
    text3 = "P" * 100 + "\n\n" + "Q" * 10
    chunks3 = rules.chunk_text(text3, chunk_size=50, overlap=5,
                               respect_paragraphs=True)
    assert chunks3 == [
        {"chunk_id": 0, "begin": 0, "end": 100},
        {"chunk_id": 1, "begin": 102, "end": 112},
    ]
    # short text bypasses the mode dispatch entirely
    assert rules.chunk_text("tiny", chunk_size=100, overlap=10,
                            respect_paragraphs=True) == [
        {"chunk_id": 0, "begin": 0, "end": 4}
    ]


def test_span_confidence_bounds():
    assert rules.span_confidence(True, 2, 10, 1) == 1.0
    assert rules.span_confidence(False, 0, 3, 0) == 0.7
    assert 0.0 <= rules.span_confidence(True, 0, 3, 0) <= 1.0


def test_oracle_frames_shape():
    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1", "c2"],
        "turn_idx": [0, 1, 0],
        "text": [GOLDEN_TEXTS["simple_product"], GOLDEN_TEXTS["irrelevant_text"],
                  html_wrap(GOLDEN_TEXTS["mixed_content"])],
    })
    turns = rules.oracle_extract_turns(pdf)
    assert list(turns["n_spans"]) == [1, 0, 2]
    spans = rules.oracle_extract_spans(pdf)
    assert len(spans) == 3
    assert set(spans.columns) >= {"conv_id", "turn_idx", "begin", "end", "confianca"}


# ---------------------------------------------------------------------------
# Review-fix regressions
# ---------------------------------------------------------------------------


def test_spans_survive_unicode_casefold_mismatch():
    """IGNORECASE can match 'ACAİ' (dotted capital I) whose .lower() is not
    a gazetteer key — must skip that surface, keep the clean mentions."""
    spans = rules.tag_product_spans("Our ACAİ stock: acai and MACA supplies food")
    names = [s["nome_canonico"] for s in spans]
    assert names == ["acai", "maca"]


def test_use_types_not_consumed_by_overlapping_keywords():
    """'treat' must not swallow the 'eat' inside 'treatment' (per-type
    searches, not one combined alternation)."""
    spans = rules.tag_product_spans("acai treatment plan")
    assert spans[0]["tipos_uso"] == ["alimentar", "medicinal"]


def test_chunk_offsets_never_negative_and_progress():
    chunks = rules.chunk_text("Hi. " + "x" * 400, chunk_size=200, overlap=20)
    assert all(0 <= c["begin"] < c["end"] <= 404 for c in chunks)
    for a, b in zip(chunks, chunks[1:]):
        assert b["begin"] > a["begin"]
    assert chunks[-1]["end"] == 404
    with pytest.raises(ValueError):
        rules.chunk_text("x" * 500, chunk_size=100, overlap=100)


_kw_salt = st.sampled_from(
    ["el", "de", "produtos", "the", "plant", "amazon", "use", "et", "país", ""]
)


@settings(max_examples=300, deadline=None)
@given(_text_strategy, _kw_salt, _kw_salt)
def test_keyword_counts_frame_equals_boundary_regexes(text, a, b):
    """Tokenize-once counting == per-keyword \\b regex counts, including
    texts salted with real keywords at random positions."""
    import re as _re

    lower = (a + " " + text + b).lower()
    kw = rules.keyword_counts_frame(pd.Series([lower]))
    for lang, pat in rules.LANGUAGE_PATTERNS.items():
        expect = sum(
            len(_re.findall(r"\b" + _re.escape(k) + r"\b", lower))
            for k in pat["keywords"]
        )
        assert kw["lang:" + lang].iloc[0] == expect, lang
    for cat, kws in rules.RELEVANT_KEYWORDS.items():
        expect = sum(
            len(_re.findall(r"\b" + _re.escape(k) + r"\b", lower)) for k in kws
        )
        assert kw["rel:" + cat].iloc[0] == expect, cat


# ---------------------------------------------------------------------------
# PDF/layout text parsing (north_star slot; text_extractor.py:50-100 analog)
# ---------------------------------------------------------------------------


def test_parse_pdf_layout():
    t, n = rules.parse_pdf_layout("exam-\nple text\x0cpage two here")
    assert t == "example text\n\npage two here"
    assert n == 2
    # pdftotext convention: trailing form feed after the last page
    assert rules.parse_pdf_layout("p1\x0cp2\x0c")[1] == 2
    assert rules.parse_pdf_layout("p1\x0cp2\x0c \n")[1] == 2
    # identity on clean text
    t2, n2 = rules.parse_pdf_layout("plain text, no artifacts")
    assert t2 == "plain text, no artifacts" and n2 == 1
    # hyphen before non-word or at line end untouched
    t3, _ = rules.parse_pdf_layout("well-\n known; range 3-\n4; tail-\n")
    assert t3 == "well-\n known; range 3-\n4; tail-\n"
    assert rules.parse_pdf_layout(None) == ("", 1)


@settings(max_examples=200, deadline=None)
@given(_text_strategy)
def test_layout_series_equals_scalar(text):
    t, n = rules.layout_series(pd.Series([text]))
    st, sn = rules.parse_pdf_layout(text)
    assert t.iloc[0] == st and int(n.iloc[0]) == sn


def test_extract_main_content_repairs_layout():
    got = rules.extract_main_content("bio-\neconomic products\x0cof acai")
    assert "bioeconomic" in got and "\x0c" not in got


def test_validate_product_span_scalar_golden():
    """X3 rule half (reference validation.py:55-289) — branch-covering
    golden cases for the scalar validator."""
    v = rules.validate_product_span
    # clean known product, known country, binomial, 2 uses → valid, 1.0
    r = v("acai berry", "Brazil", "Euterpe oleracea", ["alimentar", "medicinal"])
    assert r["is_valid"] and r["confidence"] == 1.0 and r["n_issues"] == 0
    # company-pattern name + empty country → 2 issues, invalid
    r = v("Extracts Ltd Company", "", None, [])
    assert not r["is_valid"] and r["n_issues"] >= 2
    # 'oil' bio keyword rescues a company-looking name (reference checks
    # bio keywords before company patterns)
    r = v("oil company", "Peru", "Genus species", ["x", "y"])
    assert r["is_valid"] and r["n_issues"] == 0
    # corrections: country casing via the corrections map is NOT applied
    # to whitelisted lowercase forms ('brasil' is in known_countries);
    # scientific capitalization repair counts as a correction
    r = v("x", "brasil", "euterpe Oleracea", [" a ", "", "b"])
    assert r["scientific_corrected"] == "Euterpe oleracea"
    assert r["n_corrections"] == 2  # sci repair + uses cleanup
    assert r["n_issues"] == 1  # name too short
    # everything missing/broken
    r = v(None, None, "NotABinomialHere", None)
    assert r["n_issues"] == 4 and r["confidence"] == pytest.approx(0.3)
    assert not r["is_valid"]


# ---------------------------------------------------------------------------
# Cross-row paragraph cache (r3): per-paragraph union == whole-document scan
# ---------------------------------------------------------------------------

_PARA_FRAGMENTS = [
    "the harvest in brasil was good",
    "medicinal uses are documented for treating wounds",
    "exported from peru and ecuador as food",
    "used as a dye (tintorial) by artisans in colômbia",
    "plain noise paragraph with no signal at all",
    "sacred ritual ceremonies of the region",
    "tagua is carved into buttons",  # craft keywords
    "",  # empty paragraph
    "st lucia and costa rica are outside the pan-amazon whitelist",
]


@given(
    st.lists(st.sampled_from(_PARA_FRAGMENTS), min_size=1, max_size=6),
)
@settings(max_examples=120, deadline=None)
def test_paragraph_cache_matches_document_scan(parts):
    """_paragraph_features keyed on the paragraph alone is exact: the union
    over paragraphs equals the whole-document country scan (no gazetteer
    needle contains a newline), and per-paragraph use types equal a direct
    scan of that paragraph."""
    text = "\n\n".join(parts)
    lower_text = text.lower()
    # old whole-document formula (pre-cache implementation)
    doc_countries_whole = sorted(
        {
            rules.correct_country(c)
            for c in rules.extract_countries(text)
            if rules.is_pan_amazon_country(c)
        }
        | {
            canon
            for form, canon in rules.PT_COUNTRY_FORMS.items()
            if form in lower_text
        }
    )
    feats = [rules._paragraph_features(p.lower()) for p in text.split("\n\n")]
    doc_countries_union = sorted({c for _, cs in feats for c in cs})
    assert doc_countries_union == doc_countries_whole
    for p, (uses, _) in zip(text.split("\n\n"), feats):
        expected = [
            u
            for u in rules.VALID_USE_TYPES[:-1]
            if rules._USE_CONTEXT_LOWER_RES[u].search(p.lower())
        ]
        assert list(uses) == expected


def test_factorize_exact_distinguishes_embedded_nul_strings():
    """pd.factorize routes all-string batches through a NUL-terminated
    C-string hash table, conflating distinct strings that share a prefix up
    to an embedded \\x00 (observed live on the dirty-wrapper templates).
    The featurizer's dict-based factorize must keep them distinct and the
    gathered output must equal the per-row path byte for byte."""
    from text_extractor_for_bioeconomic_products_spark.functions.udfs import (
        _factorize_exact,
        _turn_features_frame,
    )

    a = "\x00\x01prefix Açaí is food in brasil"
    b = "\x00\x01prefix Tagua is carved in colombia"
    s = pd.Series([a, b, a, b, a], dtype="object")
    codes, uniques = _factorize_exact(s)
    assert len(uniques) == 2
    assert [uniques[c] for c in codes] == list(s)
    direct = _turn_features_frame(s)
    fact = (
        _turn_features_frame(pd.Series(uniques, dtype="object"))
        .iloc[codes]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, fact)
