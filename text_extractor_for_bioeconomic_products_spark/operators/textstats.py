"""Text-analysis operators over the ``documents`` table.

The paper's per-document stages as queries: cleaning, token counts,
language ID, quality scoring, fingerprinting and chunking — each
SQL-expressible so the DuckDB oracle can check it — plus the
faithful-UDF extraction queries (rows-only check; their byte-exactness
is covered by the pytest oracle) and the compression, entropy and
readability signals ``run_datacard`` and the tests drive.

The SQL-expressible language detector is generated programmatically from
rules.LANGUAGE_PATTERNS in BOTH dialects, so Spark and DuckDB evaluate
the identical formula.  (The Python-regex detector inside the extraction
UDF in functions/udfs.py remains the engine's faithful default; on the
ASCII documents corpus the two are equivalent.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
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


# ---------------------------------------------------------------------------
# Compression-ratio quality signal.  zlib ratio (compressed/raw bytes)
# is the classic cheap repetition detector: boilerplate, template
# spam, and char-level repetition compress far below prose.  DEFLATE is not expressible as a
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
    identical exact sum.
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
    "doc_clean_basic": ORACLE_DOC_CLEAN,
    "doc_token_stats": ORACLE_DOC_TOKEN_STATS,
    "doc_lang_detect": ORACLE_DOC_LANG_DETECT,
    "doc_quality": ORACLE_DOC_QUALITY,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "doc_chunks": ORACLE_DOC_CHUNKS,
    # doc_extract_full: intentionally no oracle (UDF pipeline; rows-only)
}
