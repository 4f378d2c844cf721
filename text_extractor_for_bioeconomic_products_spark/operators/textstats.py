"""Text-analysis operators over the ``documents`` table.

Large-scale training-data-pipeline operators: language ID, quality
scoring, token counting, fingerprinting — each SQL-expressible so the
DuckDB oracle can check it, plus the faithful-UDF extraction query
(rows-only check; its byte-exactness is covered by the pytest oracle).

The SQL-expressible language detector is generated programmatically from
rules.LANGUAGE_PATTERNS in BOTH dialects, so Spark and DuckDB evaluate
the identical formula.  (The Python-regex detector inside the extraction
UDF in functions/udfs.py remains the engine's faithful default; on the
ASCII documents corpus the two are equivalent.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules
from ..functions.udfs import extract_turn_features
from ..sources.tables import load

# ---------------------------------------------------------------------------
# T1 clean — native regexp chain (JVM/codegen path; ASCII-safe subset)
# ---------------------------------------------------------------------------

_CONTROL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x84\x86-\x9f]"


def q_doc_clean_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace("text", r"\s+", " "), _CONTROL_CLASS, "")
    )
    return (
        docs.select("doc_id", cleaned.alias("clean_text"))
        .orderBy("doc_id")
    )


ORACLE_DOC_CLEAN = f"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g'), '{_CONTROL_CLASS}', '', 'g')) AS clean_text
    FROM documents
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# T7 token counting + corpus stats per language
# ---------------------------------------------------------------------------

def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.floor(F.length("text") / 4)).alias("est_tokens"),
            F.sum(F.size(F.split("text", " "))).alias("n_words"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


ORACLE_DOC_TOKEN_STATS = """
    -- CAST must wrap the sum: DuckDB sum(BIGINT) yields HUGEINT regardless
    -- of the input cast; Spark yields BIGINT.
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(floor(length(text) / 4)) AS BIGINT) AS est_tokens,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# M5 language detection — dual-dialect generated SQL
# ---------------------------------------------------------------------------

def _lang_score_sql(lang: str, dialect: str) -> str:
    """Score = Σ whole-word keyword counts + 2·Σ indicator char counts.

    NOTE (r3, measured): hoisting lower(text) into an inner projection is
    NOT faster — whole-stage codegen's subexpression elimination already
    shares the ~12 inline occurrences (steady-state 1.50 s inline vs
    1.77 s hoisted at sf0.1) and the extra projection ~tripled the cold
    codegen-compile time.  Keep the inline form."""
    pat = rules.LANGUAGE_PATTERNS[lang]
    kw_alt = "|".join(re.escape(k) for k in pat["keywords"])
    # identical RE2/Java-compatible pattern in both dialects; Spark SQL
    # string literals process backslash escapes, DuckDB's do not
    regex = rf"\b(?:{kw_alt})\b"
    if dialect == "spark":
        kw = f"size(regexp_extract_all(lower(text), '{regex.replace(chr(92), chr(92) * 2)}', 0))"
    else:
        kw = f"len(regexp_extract_all(lower(text), '{regex}'))"
    parts = [kw]
    for ind in pat["indicators"]:
        parts.append(
            f"2 * (length(lower(text)) - length(replace(lower(text), '{ind}', '')))"
        )
    return " + ".join(parts)


def lang_detect_sql(table: str, id_col: str, dialect: str) -> str:
    """Generate the full argmax query (declaration-order tie-break)."""
    s = {lang: _lang_score_sql(lang, dialect) for lang in rules.LANGUAGE_ORDER}
    return f"""
        SELECT {id_col},
               CASE
                 WHEN length(text) < 20 THEN 'unknown'
                 WHEN s_es = 0 AND s_pt = 0 AND s_en = 0 AND s_fr = 0 THEN 'unknown'
                 WHEN s_es >= s_pt AND s_es >= s_en AND s_es >= s_fr THEN 'spanish'
                 WHEN s_pt >= s_en AND s_pt >= s_fr THEN 'portuguese'
                 WHEN s_en >= s_fr THEN 'english'
                 ELSE 'french'
               END AS lang_detected
        FROM (
            SELECT {id_col}, text,
                   {s['spanish']} AS s_es,
                   {s['portuguese']} AS s_pt,
                   {s['english']} AS s_en,
                   {s['french']} AS s_fr
            FROM {table}
        )
        ORDER BY {id_col}
    """


def q_doc_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_lang_src")
    return spark.sql(lang_detect_sql("documents_lang_src", "doc_id", "spark"))


ORACLE_DOC_LANG_DETECT = lang_detect_sql("documents", "doc_id", "duckdb")


# Classifier-evaluation shape: the detector's confusion matrix against
# the table's labeled lang column — the census you run before trusting a
# language filter at corpus scale.  Both sides reuse the SAME generated
# dual-dialect detector SQL (the doc_lang_detect contract), so this
# query can only disagree across engines if the detector itself does.
_LANG_LABEL_MAP = {
    "en": "english", "es": "spanish", "fr": "french", "pt": "portuguese",
}


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_lang_src")
    detected = spark.sql(
        lang_detect_sql("documents_lang_src", "doc_id", "spark")
    )
    label_full = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in _LANG_LABEL_MAP.items() for x in kv]
        )[F.col("lang")],
        F.col("lang"),
    )
    joined = docs.select("doc_id", label_full.alias("lang_label")).join(
        detected, "doc_id"
    )
    agg = joined.groupBy("lang_label", "lang_detected").agg(
        F.count("*").alias("n_docs")
    )
    total_per_label = Window.partitionBy("lang_label")
    return (
        agg.withColumn(
            "share_of_label",
            F.round(
                (F.col("n_docs") / F.sum("n_docs").over(total_per_label))
                .cast("decimal(18,10)"),
                4,
            ).cast("double"),
        )
        .orderBy("lang_label", "lang_detected")
    )


def _lang_confusion_oracle() -> str:
    case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _LANG_LABEL_MAP.items()
    )
    return f"""
        WITH det AS ({lang_detect_sql("documents", "doc_id", "duckdb")}),
        lab AS (
            SELECT doc_id, CASE lang {case} ELSE lang END AS lang_label
            FROM documents
        ),
        agg AS (
            SELECT l.lang_label, d.lang_detected, count(*) AS n_docs
            FROM lab l JOIN det d USING (doc_id)
            GROUP BY l.lang_label, d.lang_detected
        )
        SELECT lang_label, lang_detected, n_docs,
               CAST(round(CAST(n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY lang_label)
                               AS DECIMAL(18,10)), 4) AS DOUBLE) AS share_of_label
        FROM agg
        ORDER BY lang_label, lang_detected
    """


# ---------------------------------------------------------------------------
# Quality scoring — length / punctuation / stopword ratios
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
_STOP_RE = r"\b(?:" + "|".join(_STOPWORDS) + r")\b"


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality: word count, mean word length, stopword
    ratio, alpha ratio — the heuristics a pretraining filter applies."""
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_stop = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_STOP_RE), 0))
    alpha_chars = F.length(F.regexp_replace("text", r"[^a-zA-Z]", ""))
    # rounding goes through DECIMAL(18,10): double round() breaks .xxxx5
    # ties differently across engines (Spark HALF_UP vs DuckDB half-even,
    # seen live at sf0.1 — quality 0.31375 → 0.3138 vs 0.3137); decimal
    # rounding is HALF_UP in both
    quality = F.round(
        (
            F.least(n_words / 100.0, F.lit(1.0)) * 0.4
            + (n_stop / F.greatest(n_words, F.lit(1))) * 0.3
            + (alpha_chars / F.greatest(F.length("text"), F.lit(1))) * 0.3
        ).cast("decimal(18,10)"),
        4,
    ).cast("double")
    alpha_ratio = F.round(
        (alpha_chars / F.greatest(F.length("text"), F.lit(1))).cast("decimal(18,10)"), 4
    ).cast("double")
    return (
        docs.select(
            "doc_id",
            n_words.alias("n_words"),
            n_stop.alias("n_stopwords"),
            alpha_ratio.alias("alpha_ratio"),
            quality.alias("quality"),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_QUALITY = f"""
    SELECT doc_id,
           n_words,
           n_stopwords,
           CAST(round(CAST(alpha_chars / greatest(length(text), 1)
                      AS DECIMAL(18,10)), 4) AS DOUBLE) AS alpha_ratio,
           CAST(round(CAST(least(n_words / 100.0, 1.0) * 0.4
                 + (n_stopwords / greatest(n_words, 1)) * 0.3
                 + (alpha_chars / greatest(length(text), 1)) * 0.3
                 AS DECIMAL(18,10)), 4) AS DOUBLE) AS quality
    FROM (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_words,
               len(regexp_extract_all(lower(text), '{_STOP_RE}')) AS n_stopwords,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_chars
        FROM documents
    )
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Document fingerprinting (md5 whole-text + prefix band)
# ---------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        docs.select(
            "doc_id",
            F.md5(norm).alias("fingerprint"),
            F.substring(F.md5(norm), 1, 8).alias("band"),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_FINGERPRINT = """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS fingerprint,
           substr(md5(lower(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))), 1, 8) AS band
    FROM documents
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Full faithful extraction over documents (rows-only driver check; byte
# exactness covered by the pytest pandas-oracle suite)
# ---------------------------------------------------------------------------

def q_doc_extract_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    feat = F.col("_feat")
    return (
        docs.withColumn("_feat", extract_turn_features(F.col("text")))
        .select(
            "doc_id",
            feat["clean_text"].alias("clean_text"),
            feat["lang"].alias("lang_detected"),
            F.round(feat["relevance"], 4).alias("relevance"),
            feat["n_tokens"].alias("n_tokens"),
            F.size(feat["spans"]).alias("n_spans"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# W1 — overlapping chunk offsets (rows-only; loop semantics not in SQL)
# ---------------------------------------------------------------------------

# chunk settings for the driver-checked query: 200/20 (vs the 2500/150
# production defaults, config/settings.py:114-124) so the short-doc
# corpus actually produces multi-chunk output with overlaps
_CHUNK_SIZE = 200
_CHUNK_OVERLAP = 20
CHUNK_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("begin", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]),
    False,
)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunk_text offsets (helpers.py:103-150; text_preprocessing.py
    217-390 TextChunker) — UDTF shape via explode of the chunk array;
    offsets are exact (SURVEY §7.4 documents the deliberate fix of the
    reference's overlap drift).

    Both chunker modes are exercised NON-vacuously: the corpus has no
    punctuation or newlines at all, so structure is planted
    deterministically, identically in the DuckDB oracle (the same
    pattern as the PII / contamination seeding): every ``" fast"``
    becomes ``". fast"`` (842 real sentence breaks at sf0.01 → the
    sentence-respect branch fires), and for ``paragraph`` mode those
    breaks are then promoted to blank lines (multi-paragraph docs → the
    greedy packing branch fires)."""
    def _chunk_sent(text):
        return text.fillna("").map(
            lambda t: [
                (c["chunk_id"], c["begin"], c["end"])
                for c in rules.chunk_text(
                    t, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
                )
            ]
        )

    def _chunk_para(text):
        return text.fillna("").map(
            lambda t: [
                (c["chunk_id"], c["begin"], c["end"])
                for c in rules.chunk_text(
                    t, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP,
                    respect_paragraphs=True,
                )
            ]
        )

    chunk_sent = F.pandas_udf(_chunk_sent, CHUNK_TYPE)
    chunk_para = F.pandas_udf(_chunk_para, CHUNK_TYPE)

    docs = load(spark, sf_dir, "documents")
    c = F.col("chunk")

    def _shape(df, mode_name):
        return df.select(
            "doc_id",
            F.lit(mode_name).alias("mode"),
            c["chunk_id"].alias("chunk_id"),
            c["begin"].alias("begin"),
            c["end"].alias("end"),
        )

    sent_src = docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" fast"), F.lit(". fast")).alias("stext"),
    )
    sent = _shape(
        sent_src.select("doc_id", F.explode(chunk_sent(F.col("stext"))).alias("chunk")),
        "sentence",
    )
    para_src = sent_src.select(
        "doc_id",
        F.replace(F.col("stext"), F.lit(". "), F.lit(".\n\n")).alias("ptext"),
    )
    para = _shape(
        para_src.select("doc_id", F.explode(chunk_para(F.col("ptext"))).alias("chunk")),
        "paragraph",
    )
    return sent.unionByName(para).orderBy("mode", "doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# Flagship transcript extraction as a driver-checked query (rows-only —
# the transcripts table has no DuckDB view; byte-exactness is covered by
# the pytest pandas-oracle suite at two scale tiers)
# ---------------------------------------------------------------------------

def q_transcript_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the deterministic transcript corpus (seed 42, 50 convs)
    and run the full per-turn pipeline — per-language rollup of the
    extraction output, the engine's flagship end-to-end flow."""
    from ..operators.extract import extract_turns
    from ..sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=50, seed=42)
    turns = extract_turns(t)
    return (
        turns.groupBy("lang")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.avg("relevance"), 4).alias("avg_relevance"),
        )
        .orderBy("lang")
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token histogram, top 50 — the vocab-induction shape.
    Hot tokens ('the', 'de') are the skewed keys; the explode feeds a
    partial (map-side) count so each task pre-reduces its own hot-token
    mass before the single shuffle — the same salting-free skew answer
    Spark's partial aggregation gives for free on high-cardinality-ish
    group keys.  TakeOrderedAndProject caps the result."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+")
        ).alias("token")
    ).filter(F.length("token") > 0)
    return (
        tokens.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


# deterministic per-language sampling rates (percent) — the curation
# knob: downsample the dominant language (en is ~41% of the documents
# corpus), keep the scarce ones at a higher rate; languages outside the
# map fall through to 100 (never silently dropped)
_SAMPLE_PCT = {"en": 10, "de": 40, "es": 40, "fr": 40, "zh": 40}
_SAMPLE_DEFAULT_PCT = 100


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-data curation:
    keep doc iff doc_id % 100 < rate(lang) — reproducible across runs,
    engines, and cluster sizes (no RNG, no shuffle; the filter pushes
    into the scan).  Output: per-language kept/total census."""
    docs = load(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _SAMPLE_PCT.items()],
        F.lit(_SAMPLE_DEFAULT_PCT),
    )
    return (
        docs.withColumn("kept", (F.pmod(F.col("doc_id"), F.lit(100)) < rate).cast("int"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.round(
                (F.sum("kept") / F.count("*")).cast("decimal(18,10)"), 4
            ).cast("double").alias("kept_frac"),  # decimal-safe tie rounding
        )
        .orderBy("lang")
    )


TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document characteristic terms: top-3 by tf·idf, idf =
    ln(N/df).  The classic three-stage shape — explode→(doc,term) tf
    [shuffle 1, map-side partial], term df [shuffle 2, partial], tf⋈df
    on term + per-doc window rank [shuffle 3 on doc_id].  Hot terms
    carry high df and are pre-reduced map-side, so the term shuffle is
    vocabulary-sized, not corpus-sized; the doc-count scalar rides a
    broadcast crossJoin (no driver collect).  Ranking compares the
    4-decimal-rounded score (engine-portable; raw ln may differ in the
    last ulp between libm and the JVM) with term as the tie-break."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).cast(
                    "decimal(18,10)"
                ),
                4,
            ).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


# --- PMI collocations (corpus lexical statistics) ---------------------------
#
# Pointwise mutual information of token pairs by document co-occurrence:
# pmi(x,y) = ln(N·n_xy / (n_x·n_y)) over presence counts — the classic
# collocation/phrase-mining signal.  Spark-first shape: the pair set is
# generated IN-ROW from each doc's sorted distinct token array (nested
# transform over array slices), so there
# is NO doc-keyed self-join; the only shuffles are the two map-side
# partial counts (pairs, unigrams) and both are vocabulary²-/vocabulary-
# sized.  At 100 TB the knob is capping per-doc distinct tokens (top-N
# by tf) before pairing, which bounds in-row pair fan-out at N²/2.
# Scores are 4-decimal-rounded before ranking (libm-vs-JVM ln ulps, the
# tf-idf precedent) with the pair as tie-break.
PMI_MIN_PAIR_DOCS = 5
PMI_TOP_K = 20


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda x: F.length(x) > 0,
            )
        )
    )
    with_toks = docs.select("doc_id", toks.alias("toks"))
    pairs = with_toks.select(
        F.explode(
            F.expr(
                "flatten(transform(toks, (x, i) -> "
                "transform(slice(toks, i + 2, size(toks)), "
                "y -> named_struct('t1', x, 't2', y))))"
            )
        ).alias("p")
    ).select("p.t1", "p.t2")
    n_xy = pairs.groupBy("t1", "t2").agg(F.count("*").alias("n_xy"))
    uni = (
        with_toks.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n_t"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        n_xy.filter(F.col("n_xy") >= PMI_MIN_PAIR_DOCS)
        .join(F.broadcast(uni.withColumnRenamed("t", "t1")
                          .withColumnRenamed("n_t", "n_x")), "t1")
        .join(F.broadcast(uni.withColumnRenamed("t", "t2")
                          .withColumnRenamed("n_t", "n_y")), "t2")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("n_docs") * F.col("n_xy")
                    / (F.col("n_x") * F.col("n_y"))
                ).cast("decimal(18,10)"),
                4,
            ).cast("double"),
        )
    )
    return (
        scored.select("t1", "t2", "n_xy", "pmi")
        .orderBy(F.desc("pmi"), "t1", "t2")
        .limit(PMI_TOP_K)
    )


ORACLE_TOKEN_PMI = f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, term
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
            FROM documents
        )
        WHERE length(term) > 0
    ),
    pair AS (
        SELECT a.term AS t1, b.term AS t2, count(*) AS n_xy
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
        HAVING count(*) >= {PMI_MIN_PAIR_DOCS}
    ),
    uni AS (SELECT term, count(*) AS n_t FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT p.t1, p.t2, p.n_xy,
           CAST(round(CAST(ln(n.n_docs * 1.0 * p.n_xy / (x.n_t * 1.0 * y.n_t))
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS pmi
    FROM pair p
    JOIN uni x ON p.t1 = x.term
    JOIN uni y ON p.t2 = y.term
    CROSS JOIN n
    ORDER BY pmi DESC, t1, t2
    LIMIT {PMI_TOP_K}
"""


ORACLE_TFIDF_TOP_TERMS = f"""
    WITH tok AS (
        SELECT doc_id, term
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
            FROM documents
        )
        WHERE length(term) > 0
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(round(CAST(tf.tf * ln(n.n_docs * 1.0 / dfreq.df)
                               AS DECIMAL(18,10)), 4) AS DOUBLE) AS tfidf
        FROM tf
        JOIN dfreq ON tf.term = dfreq.term
        CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) AS rn
        FROM scored
    )
    WHERE rn <= {TFIDF_TOP_K}
    ORDER BY doc_id, tfidf DESC, term
"""


LM_VOCAB_K = 20


def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score — the rule-based analog of
    KenLM-perplexity filtering (CCNet/Gopher-style): score each document
    by the mean token surprisal −ln p(w) under the corpus unigram model,
    with the vocabulary capped at the LM_VOCAB_K most frequent terms and
    out-of-vocabulary tokens floored at count 1 (max surprisal).  High
    scores flag rare-token-heavy (noisy) documents; oov_frac is the
    companion diagnostic.

    Scale shape: term counts are a vocabulary-sized partial agg; the
    capped vocab is a TakeOrderedAndProject (distributed top-k, never a
    single-partition global sort) that BROADCASTS into the token stream,
    so scoring never shuffles tokens on the term key; the only
    row-volume shuffle is the final doc_id rollup of pre-aggregated
    partials.  Cross-engine exactness: per-token surprisal is rounded to
    DECIMAL(18,6) (ln may differ in the last ulp between the JVM and
    libm) and summed as decimal — exact and partition-order-independent
    — then divided in double."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.length("term") > 0)
    counts = tokens.groupBy("term").agg(F.count("*").alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("n_total"))
    vocab = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(LM_VOCAB_K)
    scored = (
        tokens.join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.round(
                (F.log("n_total") - F.log(F.coalesce(F.col("cnt"), F.lit(1))))
                .cast("decimal(18,10)"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("neglogp"),
            F.when(F.col("cnt").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("neglogp").alias("_s"),
            F.sum("oov").alias("_o"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                (F.col("_s").cast("double") / F.col("n_tokens")).cast(
                    "decimal(18,10)"
                ),
                4,
            )
            .cast("double")
            .alias("lm_score"),
            F.round(
                (F.col("_o").cast("double") / F.col("n_tokens")).cast(
                    "decimal(18,10)"
                ),
                4,
            )
            .cast("double")
            .alias("oov_frac"),
        )
        .orderBy("doc_id")
    )


def q_doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model cross-entropy per document — the order-2
    extension of `q_doc_lm_score`'s unigram model and the closest
    rule-based analog of the KenLM-perplexity gate used by CCNet-style
    curation.  Each adjacent token pair is scored by its add-one-smoothed
    conditional surprisal −ln p(w₂|w₁) = ln(c(w₁·)+|V|) − ln(c(w₁,w₂)+1)
    under the corpus's own bigram counts; a document's score is the mean
    over its bigrams, so formulaic/repetitive text (predictable
    continuations) scores low and incoherent token salad scores high.

    Scale shape: bigrams are generated IN-ROW (transform over the token
    array — no explode-then-self-join on position, which would shuffle
    the token stream twice); the count tables are vocabulary²-bounded
    partial aggs that broadcast back into the bigram stream, and the
    only row-volume shuffle is the final doc_id rollup.  Cross-engine
    exactness: per-bigram surprisal rounds to DECIMAL(18,6) before the
    sum (the `q_doc_lm_score` idiom — decimal addition is exact and
    partition-order-independent), then divides in double."""
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: F.length(x) > 0,
    )
    with_toks = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = with_toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1), (x, i) -> "
                "named_struct('w1', x, 'w2', element_at(toks, i + 2)))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    cxy = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
    c1 = bigrams.groupBy("w1").agg(F.count("*").alias("n_w1"))
    vocab = (
        with_toks.select(F.explode("toks").alias("t"))
        .agg(F.countDistinct("t").alias("vsz"))
    )
    scored = (
        bigrams.join(F.broadcast(cxy), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                (
                    F.log(F.col("n_w1") + F.col("vsz"))
                    - F.log(F.col("n_xy") + F.lit(1))
                ).cast("decimal(18,10)"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("neglogp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("neglogp").alias("_s"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                (F.col("_s").cast("double") / F.col("n_bigrams")).cast(
                    "decimal(18,10)"
                ),
                4,
            )
            .cast("double")
            .alias("bigram_ce"),
        )
        .orderBy("doc_id")
    )


def q_source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: Jensen-Shannon divergence between
    each source's unigram token distribution and the corpus-wide one —
    the curation dashboard for 'which ingest stream changed under us'
    (a source whose JSD jumps between snapshots has shifted vocabulary:
    new boilerplate, a scraper bug, a language drift).  JSD is used over
    KL because it is symmetric, finite even when a source lacks corpus
    terms, and bounded by ln 2.

    Scale shape: the only row-volume work is the two token-count
    aggregates ((source, term) and (term) — map-side partials, uniform
    keys); the JSD itself runs on the |sources|×|vocab| grid built from
    two broadcast aggregates, never on row-level data, so the 100 TB
    cost is one pass over the token stream.  Cross-engine exactness:
    per-term contributions round to DECIMAL(18,8) before the sum
    (finer than the LM idiom's 6dp because single contributions are
    O(jsd/|vocab|)), then the total rounds to 6dp."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.length("term") > 0)
    src_counts = tokens.groupBy("source", "term").agg(
        F.count("*").alias("n_st")
    )
    src_totals = tokens.groupBy("source").agg(F.count("*").alias("n_s"))
    corpus = tokens.groupBy("term").agg(F.count("*").alias("n_t"))
    n_total = tokens.agg(F.count("*").alias("n")).collect()[0][0]
    grid = src_totals.crossJoin(F.broadcast(corpus)).join(
        src_counts, ["source", "term"], "left"
    )
    p = F.coalesce(F.col("n_st"), F.lit(0)).cast("double") / F.col("n_s")
    q = F.col("n_t").cast("double") / F.lit(float(n_total))
    m = (p + q) / 2
    contrib = (
        F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + 0.5 * q * F.log(q / m)
    )
    return (
        grid.select(
            "source",
            F.col("n_s"),
            F.round(contrib.cast("decimal(18,12)"), 8)
            .cast("decimal(18,8)")
            .alias("c8"),
        )
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_tokens"),
            F.round(F.sum("c8").cast("decimal(18,10)"), 6)
            .cast("double")
            .alias("jsd"),
        )
        .orderBy("source")
    )


ORACLE_SOURCE_TOKEN_DIVERGENCE = """
    WITH tok AS (
        SELECT source, term
        FROM (
            SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
            FROM documents
        )
        WHERE length(term) > 0
    ),
    src_counts AS (
        SELECT source, term, count(*) AS n_st FROM tok GROUP BY source, term
    ),
    src_totals AS (SELECT source, count(*) AS n_s FROM tok GROUP BY source),
    corpus AS (SELECT term, count(*) AS n_t FROM tok GROUP BY term),
    tot AS (SELECT count(*) AS n FROM tok),
    grid AS (
        SELECT st.source, st.n_s, c.term, c.n_t,
               COALESCE(sc.n_st, 0) AS n_st
        FROM src_totals st
        CROSS JOIN corpus c
        LEFT JOIN src_counts sc
          ON sc.source = st.source AND sc.term = c.term
    ),
    contrib AS (
        SELECT source, n_s,
               CAST(round(CAST(
                   CASE WHEN n_st > 0
                        THEN 0.5 * (n_st * 1.0 / n_s)
                             * ln((n_st * 1.0 / n_s)
                                  / ((n_st * 1.0 / n_s + n_t * 1.0 / tot.n) / 2))
                        ELSE 0.0 END
                   + 0.5 * (n_t * 1.0 / tot.n)
                     * ln((n_t * 1.0 / tot.n)
                          / ((n_st * 1.0 / n_s + n_t * 1.0 / tot.n) / 2))
                   AS DECIMAL(18,12)), 8) AS DECIMAL(18,8)) AS c8
        FROM grid CROSS JOIN tot
    )
    SELECT source,
           CAST(any_value(n_s) AS BIGINT) AS n_tokens,
           CAST(round(CAST(sum(c8) AS DECIMAL(18,10)), 6) AS DOUBLE) AS jsd
    FROM contrib
    GROUP BY source
    ORDER BY source
"""


# CCNet-style quality bucketing (Wenzek et al. 2020): per-language
# head/middle/tail terciles of the LM score — the canonical "keep the
# head, sample the middle, drop the tail" curation split.  Thresholds
# are per-language (CCNet's key design point: absolute perplexity is
# not comparable across languages), computed over the |langs|-row
# aggregate; everything heavy is the shared LM scoring pipeline.
_TERCILES = (1 / 3, 2 / 3)


def q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = q_doc_lm_score(spark, sf_dir).select("doc_id", "lm_score")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    j = lm.join(docs, "doc_id")
    thr = j.groupBy("lang").agg(
        F.percentile("lm_score", F.lit(_TERCILES[0])).alias("t1"),
        F.percentile("lm_score", F.lit(_TERCILES[1])).alias("t2"),
    )
    bucket = (
        F.when(F.col("lm_score") <= F.col("t1"), "head")
        .when(F.col("lm_score") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        j.join(F.broadcast(thr), "lang")
        .select("lang", bucket.alias("bucket"), "lm_score")
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.avg(F.col("lm_score").cast("decimal(18,10)")), 4
            ).cast("double").alias("mean_lm_score"),
        )
        .orderBy("lang", "bucket")
    )


ORACLE_DOC_LM_SCORE = f"""
    WITH tok AS (
        SELECT doc_id, term
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
            FROM documents
        )
        WHERE length(term) > 0
    ),
    counts AS (
        SELECT term, count(*) AS cnt FROM tok GROUP BY term
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts),
    vocab AS (
        SELECT term, cnt FROM counts ORDER BY cnt DESC, term ASC LIMIT {LM_VOCAB_K}
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(round(CAST(ln(tot.n_total) - ln(COALESCE(v.cnt, 1))
                               AS DECIMAL(18,10)), 6) AS DECIMAL(18,6)) AS neglogp,
               CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        FROM tok t
        LEFT JOIN vocab v ON t.term = v.term
        CROSS JOIN tot
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(round(CAST(CAST(SUM(neglogp) AS DOUBLE) / count(*)
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS lm_score,
           CAST(round(CAST(CAST(SUM(oov) AS DOUBLE) / count(*)
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS oov_frac
    FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# Bigrams via unnest-with-subscripts + ord+1 self-join (SQL has no
# in-row transform); the Spark side generates them in-row.  Same
# DECIMAL(18,6)-before-sum exactness idiom as ORACLE_DOC_LM_SCORE.
ORACLE_DOC_BIGRAM_LM = """
    WITH lists AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    tokpos AS (
        SELECT doc_id, unnest(toks) AS term,
               generate_subscripts(toks, 1) AS ord
        FROM lists WHERE len(toks) >= 2
    ),
    big AS (
        SELECT a.doc_id, a.term AS w1, b.term AS w2
        FROM tokpos a JOIN tokpos b
          ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
    ),
    cxy AS (SELECT w1, w2, count(*) AS n_xy FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n_w1 FROM big GROUP BY w1),
    v AS (SELECT count(DISTINCT term) AS vsz FROM tokpos),
    scored AS (
        SELECT g.doc_id,
               CAST(round(CAST(ln(c1.n_w1 + v.vsz) - ln(cxy.n_xy + 1)
                               AS DECIMAL(18,10)), 6) AS DECIMAL(18,6)) AS neglogp
        FROM big g
        JOIN cxy ON g.w1 = cxy.w1 AND g.w2 = cxy.w2
        JOIN c1 ON g.w1 = c1.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(round(CAST(CAST(SUM(neglogp) AS DOUBLE) / count(*)
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS bigram_ce
    FROM scored GROUP BY doc_id ORDER BY doc_id
"""


ORACLE_TOP_TOKENS = """
    SELECT token, count(*) AS n
    FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
        FROM documents
    )
    WHERE length(token) > 0
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 50
"""

# generated from _SAMPLE_PCT so the Spark query and the oracle can never
# diverge when the rate map is edited
_SAMPLE_CASE_SQL = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_PCT.items()
)

ORACLE_STRATIFIED_SAMPLE = f"""
    -- CAST(sum AS BIGINT): DuckDB sum(INTEGER) yields HUGEINT; Spark yields BIGINT.
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(round(CAST(sum(kept) / count(*) AS DECIMAL(18,10)), 4)
                AS DOUBLE) AS kept_frac
    FROM (
        SELECT lang,
               CASE WHEN doc_id % 100 <
                    CASE lang {_SAMPLE_CASE_SQL} ELSE {_SAMPLE_DEFAULT_PCT} END
                    THEN 1 ELSE 0 END AS kept
        FROM documents
    )
    GROUP BY lang
    ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules): fraction of duplicate
# words / word-2-grams / word-3-grams within each document.  High values
# mark boilerplate/generated text a pretraining pipeline drops.  The
# corpus has no newlines or sentence punctuation, so the line- and
# sentence-level Gopher variants would be vacuous here and are omitted.
# ---------------------------------------------------------------------------


def word_ngrams(words, n: int):
    """Array of space-joined word n-grams as a narrow per-row expression
    (guarded: Spark's sequence(1, k) is DESCENDING for k<1, so short rows
    explicitly yield an empty array).  Pass ``words`` as a column the
    caller has already selected, not as an expression: the lambda reads
    it once per n-gram, so an inline ``split`` would re-split the text
    each time, quadratic in document length."""
    cnt = F.size(words) - (n - 1)
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))


def _dup_frac(arr):
    """1 - distinct/total over an array, DECIMAL-routed round; 0.0 for
    empty arrays (a short doc is not 'all duplicates')."""
    return F.when(
        F.size(arr) > 0,
        F.round(
            (
                F.lit(1.0) - F.size(F.array_distinct(arr)) / F.size(arr)
            ).cast("decimal(18,10)"),
            4,
        ).cast("double"),
    ).otherwise(F.lit(0.0))


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition census — all narrow column math, zero shuffle
    before the final sort; at 100 TB this runs as a pure map alongside
    the other quality signals."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("words")
    )
    words = F.col("words")
    return (
        docs.select(
            "doc_id",
            F.size(words).alias("n_words"),
            _dup_frac(words).alias("dup_word_frac"),
            _dup_frac(word_ngrams(words, 2)).alias("dup_2gram_frac"),
            _dup_frac(word_ngrams(words, 3)).alias("dup_3gram_frac"),
        )
        .orderBy("doc_id")
    )


def _duck_ngrams(w: str, n: int) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({w}) - {n - 1}, 0)),"
        f" i -> array_to_string({w}[i:i+{n - 1}], ' '))"
    )


def _duck_dup_frac(arr: str) -> str:
    return f"""
        CASE WHEN len({arr}) > 0
             THEN CAST(round(CAST(1.0 - len(list_distinct({arr}))::DOUBLE / len({arr})
                       AS DECIMAL(18,10)), 4) AS DOUBLE)
             ELSE 0.0 END
    """


ORACLE_DOC_REPETITION = f"""
    SELECT doc_id,
           CAST(len(w) AS INT) AS n_words,
           {_duck_dup_frac('w')} AS dup_word_frac,
           {_duck_dup_frac(_duck_ngrams('w', 2))} AS dup_2gram_frac,
           {_duck_dup_frac(_duck_ngrams('w', 3))} AS dup_3gram_frac
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Gopher rule battery (Rae et al. 2021 §A1.1): the canonical pretraining
# document filter, emitted as per-doc signals + pass/fail flags so the
# filter's selectivity is an oracle-checked number.  Complements
# q_doc_quality (one composite score) and q_doc_repetition (duplicate
# fractions): this is the bounds-based keep/drop battery itself.  The
# symbol-ratio and bullet/ellipsis-line rules are vacuous on this corpus
# (no '#', '…', or newlines — same rationale as the omitted line-level
# repetition variants above) and are omitted rather than shipped untested.
# ---------------------------------------------------------------------------

# Gopher's required-stopword set; a kept doc must contain >= 2 distinct.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 2


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Per-doc Gopher filter flags — pure narrow column math (array
    lambdas, no UDF, no shuffle); at 100 TB this is a map stage fused
    with the other quality signals.  Flags are INT 0/1 (not BOOLEAN) so
    both engines hash identically.

    On the synthetic word-salad corpus every document fails the
    required-stopword rule (only 'the' from the Gopher set occurs), so
    corpus-wide ``keep`` is honestly 0 — the battery correctly rejects
    word salad; `test_gopher_rules_keep_path` drives a realistic planted
    document through the keep=1 path instead.
    """
    words = F.split(F.lower("text"), " ")
    n_words = F.size(words)
    total_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mwl = F.round(
        (total_chars / F.greatest(n_words, F.lit(1))).cast("decimal(18,10)"), 4
    ).cast("double")
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_frac = F.round(
        (alpha_words / F.greatest(n_words, F.lit(1))).cast("decimal(18,10)"), 4
    ).cast("double")
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(words, s),
        )
    )
    sig = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    flag = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0))  # noqa: E731
    flagged = sig.select(
        "*",
        flag(
            F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        ).alias("flag_words"),
        flag(
            F.col("mean_word_len").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        ).alias("flag_mwl"),
        flag(F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC).alias("flag_alpha"),
        flag(F.col("stop_hits") >= GOPHER_MIN_STOP_HITS).alias("flag_stop"),
    )
    return flagged.withColumn(
        "keep",
        F.least("flag_words", "flag_mwl", "flag_alpha", "flag_stop").cast("int"),
    )


def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_flags(load(spark, sf_dir, "documents")).orderBy("doc_id")


_DUCK_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"

ORACLE_DOC_GOPHER_RULES = f"""
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stop_hits,
           flag_words, flag_mwl, flag_alpha, flag_stop,
           CAST(least(flag_words, flag_mwl, flag_alpha, flag_stop) AS INT) AS keep
    FROM (
        SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stop_hits,
               CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                    THEN 1 ELSE 0 END AS flag_words,
               CASE WHEN mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                    THEN 1 ELSE 0 END AS flag_mwl,
               CASE WHEN alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}
                    THEN 1 ELSE 0 END AS flag_alpha,
               CASE WHEN stop_hits >= {GOPHER_MIN_STOP_HITS}
                    THEN 1 ELSE 0 END AS flag_stop
        FROM (
            SELECT doc_id,
                   CAST(len(w) AS INT) AS n_words,
                   CAST(round(CAST(list_sum(list_transform(w, x -> length(x)))::DOUBLE
                              / greatest(len(w), 1) AS DECIMAL(18,10)), 4)
                        AS DOUBLE) AS mean_word_len,
                   CAST(round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                              / greatest(len(w), 1) AS DECIMAL(18,10)), 4)
                        AS DOUBLE) AS alpha_word_frac,
                   CAST(len(list_filter({_DUCK_STOP_LIST},
                                        s -> list_contains(w, s))) AS INT) AS stop_hits
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        )
    )
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# doc_chunks oracle — both chunker modes as recursive CTEs
# ---------------------------------------------------------------------------

# explicit ASCII class (real control chars embedded, not escapes — DuckDB
# string literals don't process backslashes); mirrors rules._ASCII_WS
_WS_CHARS = " \t\n\x0b\f\r"
_SENT_BREAK_PAT = f"[.!?][{_WS_CHARS}]+"
# greedy (.*) pins the capture to the LAST sentence break in the window,
# so length(group 1) == Python's final m.end() over re.finditer
_SENT_GREEDY_PAT = f"^(.*[.!?][{_WS_CHARS}]+).*$"


def _sent_end_expr(b: str, n: str) -> str:
    """SQL for the chunk-end rule of rules.chunk_text at 200/20: take the
    last sentence break in text[b:b+200] iff it advances past the
    overlap, else hard-cut at b+200; final chunk ends at n."""
    seg = f"substr(text, {b} + 1, {_CHUNK_SIZE})"
    last_len = f"length(regexp_replace({seg}, '{_SENT_GREEDY_PAT}', '\\1', 's'))"
    return f"""
        CASE WHEN {b} + {_CHUNK_SIZE} >= {n} THEN {n}
             WHEN regexp_matches({seg}, '{_SENT_BREAK_PAT}')
                  AND {last_len} > {_CHUNK_OVERLAP}
             THEN {b} + {last_len}
             ELSE {b} + {_CHUNK_SIZE} END
    """


_PARA_OVERFLOW = (
    f"(s.cur_e - s.cur_b) + (p.pe - p.pb) + 2 > {_CHUNK_SIZE}"
)

ORACLE_DOC_CHUNKS = f"""
    WITH RECURSIVE ssrc AS (
        -- planted structure (corpus has none): ' fast' -> '. fast' seeds
        -- real sentence breaks, identically to the Spark query
        SELECT doc_id, replace(text, ' fast', '. fast') AS text
        FROM documents WHERE length(text) > 0
    ),
    sent AS (
        SELECT doc_id, text, length(text) AS n, 0 AS chunk_id, 0 AS b,
               CASE WHEN length(text) <= {_CHUNK_SIZE} THEN length(text)
                    ELSE {_sent_end_expr('0', 'length(text)')} END AS e
        FROM ssrc
      UNION ALL
        SELECT doc_id, text, n, chunk_id + 1, e - {_CHUNK_OVERLAP},
               {_sent_end_expr(f'(e - {_CHUNK_OVERLAP})', 'n')}
        FROM sent WHERE e < n
    ),
    psrc AS (
        SELECT doc_id, replace(text, '. ', '.' || chr(10) || chr(10)) AS ptext
        FROM ssrc
    ),
    single_para AS (
        -- n <= chunk_size short-circuits to one whole-text chunk before
        -- the paragraph dispatch, as in rules.chunk_text
        SELECT doc_id, 0 AS chunk_id, 0 AS b, length(ptext) AS e
        FROM psrc WHERE length(ptext) <= {_CHUNK_SIZE}
    ),
    pieces AS (
        SELECT doc_id,
               unnest(string_split(ptext, chr(10) || chr(10))) AS piece,
               generate_subscripts(string_split(ptext, chr(10) || chr(10)), 1) AS idx
        FROM psrc WHERE length(ptext) > {_CHUNK_SIZE}
    ),
    offs AS (
        SELECT doc_id, idx, piece,
               CAST(coalesce(sum(length(piece) + 2) OVER (
                   PARTITION BY doc_id ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS pos
        FROM pieces
    ),
    paras AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS rn,
               pos + length(piece) - length(ltrim(piece, '{_WS_CHARS}')) AS pb,
               pos + length(piece) - length(ltrim(piece, '{_WS_CHARS}'))
                   + length(trim(piece, '{_WS_CHARS}')) AS pe
        FROM offs
        WHERE length(trim(piece, '{_WS_CHARS}')) > 0
    ),
    maxrn AS (SELECT doc_id, max(rn) AS mx FROM paras GROUP BY doc_id),
    pack AS (
        -- greedy paragraph packing is inherently sequential — one
        -- recursion step per paragraph; a chunk is emitted when the next
        -- paragraph would overflow (+2 for the joining blank line)
        SELECT doc_id, rn, pb AS cur_b, pe AS cur_e,
               CAST(NULL AS BIGINT) AS emit_b, CAST(NULL AS BIGINT) AS emit_e
        FROM paras WHERE rn = 1
      UNION ALL
        SELECT p.doc_id, p.rn,
               CASE WHEN {_PARA_OVERFLOW} THEN p.pb ELSE s.cur_b END,
               p.pe,
               CASE WHEN {_PARA_OVERFLOW} THEN s.cur_b END,
               CASE WHEN {_PARA_OVERFLOW} THEN s.cur_e END
        FROM pack s JOIN paras p ON p.doc_id = s.doc_id AND p.rn = s.rn + 1
    ),
    para_chunks_raw AS (
        SELECT doc_id, emit_b AS b, emit_e AS e FROM pack WHERE emit_b IS NOT NULL
        UNION ALL
        SELECT s.doc_id, s.cur_b, s.cur_e
        FROM pack s JOIN maxrn m ON s.doc_id = m.doc_id AND s.rn = m.mx
    ),
    para_chunks AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS chunk_id,
               b, e
        FROM para_chunks_raw
        UNION ALL
        SELECT doc_id, chunk_id, b, e FROM single_para
    )
    SELECT doc_id, mode,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(b AS INT) AS begin,
           CAST(e AS INT) AS "end"
    FROM (
        SELECT doc_id, 'sentence' AS mode, chunk_id, b, e FROM sent
        UNION ALL
        SELECT doc_id, 'paragraph' AS mode, chunk_id, b, e FROM para_chunks
    )
    ORDER BY mode, doc_id, chunk_id
"""




ORACLE_LM_QUALITY_BUCKETS = f"""
    WITH lm AS ({ORACLE_DOC_LM_SCORE}),
    j AS (
        SELECT d.lang, lm.lm_score
        FROM lm JOIN documents d USING (doc_id)
    ),
    thr AS (
        SELECT lang,
               quantile_cont(lm_score, {_TERCILES[0]!r}) AS t1,
               quantile_cont(lm_score, {_TERCILES[1]!r}) AS t2
        FROM j GROUP BY lang
    )
    SELECT j.lang,
           CASE WHEN lm_score <= t1 THEN 'head'
                WHEN lm_score <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(round(avg(CAST(lm_score AS DECIMAL(18,10))), 4) AS DOUBLE)
             AS mean_lm_score
    FROM j JOIN thr USING (lang)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Compression-ratio quality signal.  zlib ratio (compressed/raw bytes)
# is the classic cheap repetition detector (Dolma/Gopher-family
# curation stacks use it alongside the n-gram repetition rules in
# q_doc_repetition): boilerplate, template spam, and char-level
# repetition compress far below prose.  DEFLATE is not expressible as a
# Catalyst expression, so this is an Arrow-batched pandas UDF — the
# sanctioned slow path — and the query is rows-only (no DuckDB zlib);
# byte-exactness vs the same CPython zlib is test-pinned.
# Reference analog: the run-collapse guards in the reference's
# cleaning pass (src/utils/text_preprocessing.py:196-203 — ellipsis
# runs, blank-line runs) — generalized to a single content-agnostic
# signal.
# ---------------------------------------------------------------------------

COMPRESS_REPETITIVE_MAX = 0.35  # below this, flag as repetitive


def doc_compression_signal(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc zlib compression ratio: (doc_id, n_bytes, n_compressed,
    compress_ratio).  One Arrow-batched map over the text column — no
    shuffle; at 100 TB the only wide op is whatever rollup the caller
    adds over the emitted narrow struct.  Empty/null text is vacuously
    incompressible (ratio 1.0) so downstream thresholds never flag it."""
    def _z(texts):
        import pandas as pd
        import zlib

        filled = texts.fillna("")
        raw = filled.map(lambda t: len(t.encode("utf-8")))
        comp = filled.map(lambda t: len(zlib.compress(t.encode("utf-8"), 6)))
        return pd.DataFrame({"n_bytes": raw, "n_compressed": comp})

    zudf = F.pandas_udf(_z, "struct<n_bytes:long,n_compressed:long>")
    z = docs.select("doc_id", zudf(F.col(text_col)).alias("z"))
    return z.select(
        "doc_id",
        F.col("z.n_bytes").alias("n_bytes"),
        F.col("z.n_compressed").alias("n_compressed"),
        F.when(F.col("z.n_bytes") == 0, F.lit(1.0))
        .otherwise(
            F.round(
                (F.col("z.n_compressed") / F.col("z.n_bytes")).cast(
                    "decimal(18,10)"
                ),
                4,
            ).cast("double")
        )
        .alias("compress_ratio"),
    )


def q_doc_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compression census: the curation dashboard for
    template/boilerplate-heavy sources.  Rows-only by design (DEFLATE
    has no SQL twin); determinism and byte-exactness are test-pinned."""
    docs = load(spark, sf_dir, "documents")
    sig = doc_compression_signal(docs)
    return (
        docs.select("doc_id", "source")
        .join(sig, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_compressed").alias("total_compressed"),
            F.round(F.avg(F.col("compress_ratio").cast("decimal(18,10)")), 4)
            .cast("double")
            .alias("mean_ratio"),
            F.sum(
                F.when(
                    F.col("compress_ratio") < COMPRESS_REPETITIVE_MAX, 1
                ).otherwise(0)
            ).alias("n_repetitive"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Character-level entropy + charset composition (gibberish / binary-blob
# curation gate beside the zlib compression signal)
# ---------------------------------------------------------------------------

# Shannon entropy thresholds (bits/char) for the census flags: English
# prose sits ≈ 4.0-4.5 over its character distribution; far below is
# repetitive/templated, far above (toward log2(95) ≈ 6.6 for uniform
# printable ASCII) is random-looking — base64 blobs, keys, minified
# noise.  Both are the rows a pretraining filter drops first.
ENTROPY_REPETITIVE_MAX = 2.5
ENTROPY_GIBBERISH_MIN = 5.5


def char_entropy_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc character-distribution Shannon entropy (bits/char) and
    charset composition fractions — pure IN-ROW expressions, no Python
    and no shuffle: per-char counts are the run lengths of the doc's
    sorted char array (``sort_array``, then the positions where the next
    char differs), so a row costs O(len · log len) however large its
    alphabet — CJK text included.

    Cross-engine float discipline: each char's entropy term is rounded
    to DECIMAL(18,6) BEFORE summation, so the in-row fold (sorted-char
    order) and DuckDB's arbitrary GROUP BY order produce the
    identical exact sum — the ``doc_lm_score`` surprisal convention.
    Composition fractions route through DECIMAL(18,10)/round(4) like
    every ratio oracle in this module.  Empty/null text is excluded
    (oracle-parity with the unnest-based twin)."""
    # Staged projections: the length, the sorted chars and the run ends
    # are columns, so the lambdas below read them instead of re-measuring
    # or re-sorting the text once per element.
    length = F.length(F.col(text_col))
    staged = docs.filter(F.col(text_col).isNotNull() & (length > 0)).select(
        "doc_id", text_col, length.alias("_n"),
        F.sort_array(F.split(F.col(text_col), "")).alias("_chars"),
    )
    n = F.col("_n")
    chars = F.col("_chars")
    k = F.size(chars)
    # 1-based position of the last char of each run of equal chars; CASE
    # guards the lookup past the end that ANSI mode would raise on
    staged = staged.withColumn("_ends", F.filter(
        F.sequence(F.lit(1), k),
        lambda i: F.when(i == k, True).otherwise(
            F.element_at(chars, i) != F.element_at(chars, i + 1)
        ),
    ))
    ends = F.col("_ends")
    # run lengths: differences of consecutive run ends
    counts = F.transform(
        ends, lambda e, j: F.when(j == 0, e).otherwise(e - ends[j - 1])
    )

    def _term(cnt):
        p = cnt / n
        # DECIMAL(18,10) before the round — the module's ratio-oracle
        # convention, so both engines round the identical decimal
        return F.round((-p * F.log2(p)).cast("decimal(18,10)"), 6).cast(
            "decimal(18,6)"
        )

    entropy = F.aggregate(
        counts,
        F.lit(0).cast("decimal(28,6)"),
        # decimal + widens to (29,6); cast back so the fold keeps the
        # accumulator type (exact — terms are ≤ 0.531, sum ≤ log2|Σ|)
        lambda acc, cnt: (acc + _term(cnt)).cast("decimal(28,6)"),
    ).cast("double")

    def _frac(pattern):
        cnt = n - F.length(F.regexp_replace(F.col(text_col), pattern, ""))
        return (
            F.round((cnt / n).cast("decimal(18,10)"), 4).cast("double")
        )

    return staged.select(
        "doc_id",
        n.alias("n_chars"),
        F.size(ends).alias("n_distinct_chars"),
        entropy.alias("entropy_bits"),
        _frac("[A-Za-z]").alias("alpha_frac"),
        _frac("[0-9]").alias("digit_frac"),
        _frac(r"\s").alias("space_frac"),
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc entropy/charset table, ordered for the oracle compare.
    NOT a ``queries()`` entry: ``jobs/run_datacard.py`` calls
    ``char_entropy_stats`` directly; oracle parity vs ORACLE_CHAR_ENTROPY
    is pinned in tests/test_driver_contract.py."""
    return char_entropy_stats(load(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


ORACLE_CHAR_ENTROPY = """
    WITH chars AS (
        SELECT doc_id, length(text) AS n_chars,
               unnest(string_split(text, '')) AS c
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
    ),
    counts AS (
        SELECT doc_id, n_chars, c, count(*) AS cnt
        FROM chars GROUP BY doc_id, n_chars, c
    ),
    ent AS (
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_distinct_chars,
               CAST(sum(CAST(round(CAST(
                   -(cnt / CAST(n_chars AS DOUBLE))
                   * log2(cnt / CAST(n_chars AS DOUBLE))
                   AS DECIMAL(18,10)), 6)
                   AS DECIMAL(18,6))) AS DOUBLE) AS entropy_bits
        FROM counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           length(d.text) AS n_chars,
           e.n_distinct_chars,
           e.entropy_bits,
           CAST(round(CAST(
               (length(d.text) - length(regexp_replace(d.text, '[A-Za-z]', '', 'g')))
               / CAST(length(d.text) AS DOUBLE) AS DECIMAL(18,10)), 4) AS DOUBLE)
               AS alpha_frac,
           CAST(round(CAST(
               (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')))
               / CAST(length(d.text) AS DOUBLE) AS DECIMAL(18,10)), 4) AS DOUBLE)
               AS digit_frac,
           CAST(round(CAST(
               (length(d.text) - length(regexp_replace(d.text, '\\s', '', 'g')))
               / CAST(length(d.text) AS DOUBLE) AS DECIMAL(18,10)), 4) AS DOUBLE)
               AS space_frac
    FROM documents d JOIN ent e USING (doc_id)
    ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Flesch readability (deterministic vowel-group syllable heuristic)
# ---------------------------------------------------------------------------


def doc_readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Flesch Reading Ease + Flesch-Kincaid grade — the classic
    prose-complexity curation signal, as pure native regexp counting
    (zero Python, fuses into the scan's map stage):

    * words      — whitespace-delimited non-empty tokens
    * sentences  — ``[.!?]+`` terminator groups, floored at 1 (a
      fragment is one sentence)
    * syllables  — vowel groups ``[aeiouyAEIOUY]+``, floored at the
      word count (the standard every-word-has-a-syllable correction)

    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words);
    FK grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    This is the heuristic variant every large-scale pipeline uses (true
    syllabification needs a dictionary); deterministic and identically
    computable in DuckDB, so the whole score is oracle-checked — both
    ratios route through DECIMAL(18,10)/round(4) like every ratio
    oracle in this module.  Zero-word docs are excluded."""
    t = F.col(text_col)
    n_words = F.size(
        F.filter(F.split(t, r"\s+"), lambda w: F.length(w) > 0)
    )
    n_sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    n_syll = F.greatest(
        F.regexp_count(t, F.lit("[aeiouyAEIOUY]+")), n_words
    )
    wps = (n_words / n_sents).cast("decimal(18,10)")
    spw = (n_syll / n_words).cast("decimal(18,10)")
    fre = F.round(
        (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).cast(
            "decimal(18,10)"
        ),
        4,
    ).cast("double")
    fk = F.round(
        (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)).cast(
            "decimal(18,10)"
        ),
        4,
    ).cast("double")
    return docs.filter(t.isNotNull()).select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        fre.alias("flesch_reading_ease"),
        fk.alias("fk_grade"),
    ).filter(F.col("n_words") > 0)


def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc readability table (oracle compare order).  NOT a
    ``queries()`` entry: ``jobs/run_datacard.py`` calls
    ``doc_readability`` directly; parity is pinned in
    tests/test_driver_contract.py."""
    return doc_readability(load(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


ORACLE_DOC_READABILITY = r"""
    WITH counts AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                               w -> length(w) > 0)) AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sentences,
               len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS raw_syll
        FROM documents
        WHERE text IS NOT NULL
    ),
    base AS (
        SELECT doc_id, n_words, n_sentences,
               greatest(raw_syll, n_words) AS n_syllables,
               CAST(n_words / CAST(n_sentences AS DOUBLE)
                    AS DECIMAL(18,10)) AS wps,
               CAST(greatest(raw_syll, n_words) / CAST(n_words AS DOUBLE)
                    AS DECIMAL(18,10)) AS spw
        FROM counts WHERE n_words > 0
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           CAST(n_sentences AS INT) AS n_sentences,
           CAST(n_syllables AS INT) AS n_syllables,
           -- constants cast to DOUBLE: DuckDB parses bare 1.015 as
           -- DECIMAL and would do exact-decimal math where Spark's
           -- double literals do IEEE math — the chain must be double
           -- on both engines for the round-4 to agree
           CAST(round(CAST(CAST(206.835 AS DOUBLE)
                           - CAST(1.015 AS DOUBLE) * wps
                           - CAST(84.6 AS DOUBLE) * spw
                           AS DECIMAL(18,10)), 4) AS DOUBLE)
               AS flesch_reading_ease,
           CAST(round(CAST(CAST(0.39 AS DOUBLE) * wps
                           + CAST(11.8 AS DOUBLE) * spw
                           - CAST(15.59 AS DOUBLE)
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS fk_grade
    FROM base
    ORDER BY doc_id
"""


QUERIES = {
    "doc_compress_ratio": q_doc_compress_ratio,
    "lm_quality_buckets": q_lm_quality_buckets,
    "lang_confusion": q_lang_confusion,
    "token_pmi": q_token_pmi,
    "tfidf_top_terms": q_tfidf_top_terms,
    "doc_lm_score": q_doc_lm_score,
    "doc_bigram_lm": q_doc_bigram_lm,
    "source_token_divergence": q_source_token_divergence,
    "top_tokens": q_top_tokens,
    "doc_repetition": q_doc_repetition,
    "doc_gopher_rules": q_doc_gopher_rules,
    "stratified_sample": q_stratified_sample,
    "transcript_extraction": q_transcript_extraction,
    "doc_clean_basic": q_doc_clean_basic,
    "doc_chunks": q_doc_chunks,
    "doc_token_stats": q_doc_token_stats,
    "doc_lang_detect": q_doc_lang_detect,
    "doc_quality": q_doc_quality,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_extract_full": q_doc_extract_full,
}

ORACLE_SQL = {
    "lm_quality_buckets": ORACLE_LM_QUALITY_BUCKETS,
    "lang_confusion": _lang_confusion_oracle(),
    "token_pmi": ORACLE_TOKEN_PMI,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "doc_lm_score": ORACLE_DOC_LM_SCORE,
    "doc_bigram_lm": ORACLE_DOC_BIGRAM_LM,
    "source_token_divergence": ORACLE_SOURCE_TOKEN_DIVERGENCE,
    "top_tokens": ORACLE_TOP_TOKENS,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "doc_clean_basic": ORACLE_DOC_CLEAN,
    "doc_token_stats": ORACLE_DOC_TOKEN_STATS,
    "doc_lang_detect": ORACLE_DOC_LANG_DETECT,
    "doc_quality": ORACLE_DOC_QUALITY,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "doc_chunks": ORACLE_DOC_CHUNKS,
    "doc_repetition": ORACLE_DOC_REPETITION,
    "doc_gopher_rules": ORACLE_DOC_GOPHER_RULES,
    # doc_extract_full: intentionally no oracle (UDF pipeline; rows-only)
}
