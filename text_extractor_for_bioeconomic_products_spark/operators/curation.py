"""Training-data curation operators (graft extension beyond SURVEY §2).

The ops a 100 TB pretraining pipeline runs after extraction/dedup:
sequence packing (context-window binning), PII scrubbing (regex
redaction — native regexp_replace, JVM codegen, no Python), and
benchmark-contamination detection (sentence-hash semi-join against an
eval set).  Each is SQL-expressible, so the DuckDB oracle checks it
end-to-end at sf0.01.

Scale notes:
* ``sequence_packing`` — one window per ``source`` group (the natural
  shard key); cumulative sums are a single shuffle on source.  At 100 TB
  the same window runs per input shard and bins never cross shards.
* ``doc_pii_scrub`` — narrow map, three regexp_replace passes fused into
  one whole-stage-codegen projection; no Python workers at all.
* ``benchmark_contamination`` — the benchmark side is tiny (an eval
  suite), so the hash join broadcasts; the corpus side explodes to
  sentences but aggregates back per doc before any shuffle-heavy work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load

CTX_TOKENS = 512  # context-window size for packing (tokens, len//4 estimate)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-boundary sequence packing: docs ordered by doc_id within each
    source are laid head-to-tail; a doc's bin is its cumulative start
    offset // CTX_TOKENS.  Deterministic (no greedy state), one window
    shuffle, reproducible across cluster sizes.  Output: per-(source,
    bin) census with fill ratio."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = (F.length("text") / F.lit(4)).cast("bigint")
    w = Window.partitionBy("source").orderBy("doc_id")
    binned = (
        docs.select("source", "doc_id", n_tokens.alias("n_tokens"))
        .withColumn(
            "cum_start",
            F.coalesce(
                F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn("bin", (F.col("cum_start") / F.lit(CTX_TOKENS)).cast("bigint"))
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .withColumn(
            # ratio rounds route through DECIMAL(18,10): double round() breaks
            # .xxxx5 half-ties differently across engines (seen live at sf0.1)
            "fill_ratio",
            F.round(
                (F.col("bin_tokens") / F.lit(CTX_TOKENS)).cast("decimal(18,10)"), 4
            ).cast("double"),
        )
        .orderBy("source", "bin")
    )


# PII patterns valid in both Java regex (Spark) and RE2 (DuckDB): no
# backrefs, no lookaround.  Replacement order matters (emails contain
# digits a phone pattern could nibble) — email first on both sides.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction — emails/phones/IPv4 → typed placeholder
    tokens.  Entirely native regexp_replace (whole-stage codegen; the
    UDF path is never needed for redaction).  The corpus is synthetic and
    PII-free, so every 10th doc gets a deterministic seeded email/phone
    appended BEFORE scrubbing — the oracle then proves real redactions,
    not just pass-through.  Output: doc_id, md5 of scrubbed text,
    per-type redaction counts."""
    docs = load(spark, sf_dir, "documents")
    seeded = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user-"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-5309 host 10.0.0.1"),
        ),
    ).otherwise(F.col("text"))
    # counts follow the replacement cascade: each stage counts on the text
    # the PREVIOUS stage already scrubbed, so a digit run consumed by the
    # email redaction is never also reported as a phone/IP redaction
    after_email = F.regexp_replace(seeded, _PII_EMAIL, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, _PII_PHONE, "<PHONE>")
    scrubbed = F.regexp_replace(after_phone, _PII_IPV4, "<IP>")
    n_email = F.size(F.regexp_extract_all(seeded, F.lit(_PII_EMAIL), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(after_email, F.lit(_PII_PHONE), F.lit(0)))
    n_ip = F.size(F.regexp_extract_all(after_phone, F.lit(_PII_IPV4), F.lit(0)))
    return (
        docs.select(
            "doc_id",
            F.md5(scrubbed).alias("scrubbed_md5"),
            n_email.alias("n_email"),
            n_phone.alias("n_phone"),
            n_ip.alias("n_ip"),
        )
        .orderBy("doc_id")
    )


# contamination: sentence-level exact-hash overlap with an "eval set"
# (docs 0-19 stand in for a benchmark suite); sentences under 20 chars
# are too generic to count
_SENT_SPLIT = r"[.!?]"
_MIN_SENT_CHARS = 20
_BENCH_MAX_DOC_ID = 20


# leading '.' terminates the host doc's final (punctuation-free) segment
# so the planted sentence splits out identically everywhere
_PLANT = ". The planted benchmark sentence used to validate contamination detection."


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check: a corpus doc is contaminated iff it shares
    ≥1 normalized sentence (md5, ≥20 chars) with the benchmark set.  The
    benchmark sentence-hash side is tiny → broadcast left-semi join;
    corpus sentences aggregate back to doc granularity before the final
    per-source census.

    The synthetic corpus has no natural cross-doc sentence overlap, so a
    known sentence is planted on every 97th doc (doc 0 is in the
    benchmark split) — the check then proves real detections instead of
    passing vacuously on two empty sides."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 97 == 0, F.concat(F.col("text"), F.lit(_PLANT)))
        .otherwise(F.col("text")),
    )
    sent = F.explode(F.split(F.col("text"), _SENT_SPLIT)).alias("sent")

    def sentences(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", "source", sent)
            .select(
                "doc_id", "source",
                F.md5(F.lower(F.trim(F.col("sent")))).alias("sent_md5"),
                F.length(F.trim(F.col("sent"))).alias("sent_len"),
            )
            .filter(F.col("sent_len") >= _MIN_SENT_CHARS)
        )

    bench = sentences(docs.filter(F.col("doc_id") < _BENCH_MAX_DOC_ID)) \
        .select("sent_md5").distinct()
    corpus = sentences(docs.filter(F.col("doc_id") >= _BENCH_MAX_DOC_ID))
    contaminated = (
        corpus.join(F.broadcast(bench), "sent_md5", "left_semi")
        .select("doc_id", "source").distinct()
    )
    return (
        contaminated.groupBy("source")
        .agg(F.count("*").alias("n_contaminated_docs"))
        .orderBy("source")
    )


# n-gram-level decontamination: sentence hashing misses partial overlap
# (a benchmark question embedded mid-paragraph), so production pipelines
# also check fixed-length word-n-gram overlap; 8 is the common choice.
_CONTAM_N = 8


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


def q_benchmark_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-gram decontamination: a corpus doc is contaminated iff it shares
    ≥1 lowercased word-8-gram (md5) with the benchmark split (doc_id <
    20).  Same plant seeding as the sentence variant — the planted
    sentence contributes two fully-internal 8-grams, so detections are
    real, not vacuous.  Benchmark gram set is tiny → broadcast semi-join;
    gram construction is a narrow per-row expression (no corpus-sized
    pre-shuffle)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 97 == 0, F.concat(F.col("text"), F.lit(_PLANT)))
        .otherwise(F.col("text")),
    ).withColumn(
        "words",
        F.filter(F.split(F.lower("text"), r"[^a-z0-9]+"), lambda w: w != ""),
    )
    grams = docs.select(
        "doc_id", "source",
        F.explode(word_ngrams(F.col("words"), _CONTAM_N)).alias("gram"),
    ).select("doc_id", "source", F.md5("gram").alias("gram_md5"))
    bench = grams.filter(F.col("doc_id") < _BENCH_MAX_DOC_ID) \
        .select("gram_md5").distinct()
    corpus = grams.filter(F.col("doc_id") >= _BENCH_MAX_DOC_ID)
    contaminated = (
        corpus.join(F.broadcast(bench), "gram_md5", "left_semi")
        .select("doc_id", "source").distinct()
    )
    return (
        contaminated.groupBy("source")
        .agg(F.count("*").alias("n_contaminated_docs"))
        .orderBy("source")
    )


_DUCK_NGRAM_WORDS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"
)

ORACLE_CONTAMINATION_NGRAM = f"""
    WITH seeded AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 97 = 0 THEN text || '{_PLANT}' ELSE text END AS text
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               md5(array_to_string(w[i:i+{_CONTAM_N - 1}], ' ')) AS gram_md5
        FROM (SELECT doc_id, source, {_DUCK_NGRAM_WORDS} AS w FROM seeded),
             unnest(generate_series(1, greatest(len(w) - {_CONTAM_N - 1}, 0))) AS t(i)
    ),
    bench AS (
        SELECT DISTINCT gram_md5 FROM grams WHERE doc_id < {_BENCH_MAX_DOC_ID}
    )
    SELECT source, count(*) AS n_contaminated_docs
    FROM (
        SELECT DISTINCT doc_id, source
        FROM grams
        WHERE doc_id >= {_BENCH_MAX_DOC_ID}
          AND gram_md5 IN (SELECT gram_md5 FROM bench)
    )
    GROUP BY source
    ORDER BY source
"""


MIX_TEMPERATURE = 0.7  # UnifiedQA/Pile-style temperature for source mixing


def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing weights (the pretraining-mix
    knob): w_s ∝ (n_s/N)^(1/T), T=0.7 — upweights scarce sources,
    tempers dominant ones.  The per-source census is a full map-side
    partial aggregate (one shuffle, |sources| rows out); the two
    normalizing windows then run over the tiny aggregate, not the
    corpus, so the unpartitioned window is O(|sources|) — scale-safe at
    100 TB because nothing after the first shuffle touches row-level
    data.  Output: weight plus the expected post-mix document count."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w_all = Window.partitionBy()
    share = F.col("n_docs") / F.sum("n_docs").over(w_all)
    w_raw = F.pow(share, F.lit(1.0 / MIX_TEMPERATURE))
    return (
        counts.withColumn("_w_raw", w_raw)
        .withColumn("_total", F.sum("n_docs").over(w_all))
        .withColumn("_w_norm", F.col("_w_raw") / F.sum("_w_raw").over(w_all))
        .select(
            "source",
            "n_docs",
            F.round(F.col("_w_norm").cast("decimal(18,10)"), 6)
            .cast("double")
            .alias("mix_weight"),
            F.round(
                (F.col("_w_norm") * F.col("_total")).cast("decimal(18,10)"), 4
            )
            .cast("double")
            .alias("expected_docs"),
        )
        .orderBy("source")
    )


ORACLE_SOURCE_MIX = f"""
    WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    t AS (
        SELECT source, n_docs,
               pow(n_docs * 1.0 / sum(n_docs) OVER (), 1.0 / {MIX_TEMPERATURE}) AS w_raw,
               sum(n_docs) OVER () AS total
        FROM counts
    )
    SELECT source, n_docs,
           CAST(round(CAST(w_raw / sum(w_raw) OVER () AS DECIMAL(18,10)), 6) AS DOUBLE) AS mix_weight,
           CAST(round(CAST(w_raw / sum(w_raw) OVER () * total AS DECIMAL(18,10)), 4) AS DOUBLE) AS expected_docs
    FROM t
    ORDER BY source
"""


# Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006):
# priority = u^(1/w) with u uniform per item; the top-k priorities are
# exactly a weighted sample without replacement.  Distributed shape: the
# priority is a pure narrow expression and the top-k is
# TakeOrderedAndProject — no shuffle beyond the distributed top-k merge,
# which is the property that makes this THE sampling primitive at
# 100 TB (q_quality_weighted_sample's keep-prob coin is Bernoulli WITH
# independent inclusion; this one hits an exact target count).  u comes
# from the salted-md5 idiom, so the sample is a pure function of doc_id
# — reproducible across runs, partitionings, and engines.
WSAMP_K = 50


def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("double")
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
            + 1
        )
        / 1000001.0
    )
    # rank on the LOG-domain key ln(u)/w — a monotone transform of the
    # classic u^(1/w) priority that does not saturate toward 1.0 for
    # heavy items (u^(1/w) at w≈100 rounds to 1.0000 and ties collapse);
    # rounded to 8 decimals so libm-vs-JVM ln ulps cannot flip ranks
    # (the tf-idf precedent, with resolution matched to the key's scale),
    # doc_id as the tie-break
    priority = F.round(
        (F.log(u) / n_words).cast("decimal(18,10)"), 8
    ).cast("double")
    return (
        docs.select(
            "doc_id",
            n_words.cast("bigint").alias("n_words"),
            priority.alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(WSAMP_K)
    )


ORACLE_WEIGHTED_SAMPLE_TOPK = f"""
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(round(CAST(ln(u) / n_words AS DECIMAL(18,10)), 8)
                AS DOUBLE) AS priority
    FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
               (CAST(('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 1000000 + 1) / 1000001.0 AS u
        FROM documents
    )
    ORDER BY priority DESC, doc_id ASC
    LIMIT {WSAMP_K}
"""


def split_assignment() -> "F.Column":
    """The deterministic 80/10/10 split column (pure function of doc_id;
    see q_train_val_test_split for why that property matters)."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment + stratification
    census: the split is a pure function of doc_id (salted md5 bucket
    mod 100 — content- and partitioning-independent, so re-runs, scale
    changes, and late-arriving shards never move a document between
    splits, the property that prevents train/test leakage over time),
    and the output is the per-(split, lang) census with within-split
    shares a user audits for stratification balance.  Narrow map +
    one ~|splits×langs|-row aggregate; hex→bigint via the same
    cross-engine md5 idiom as the minhash oracle."""
    docs = load(spark, sf_dir, "documents")
    split = split_assignment()
    agg = (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("split")
    return (
        agg.select(
            "split",
            "lang",
            "n_docs",
            F.round(
                (F.col("n_docs") / F.sum("n_docs").over(w)).cast(
                    "decimal(18,10)"
                ),
                4,
            )
            .cast("double")
            .alias("share"),
        )
        .orderBy("split", "lang")
    )


def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level importance sampling: keep probability proportional to a
    quality signal — the per-document companion to the source-level
    temperature mixing (`source_mix_weights`).  A pretraining pipeline
    uses exactly this to downsample low-quality documents smoothly
    instead of hard-filtering at a threshold.

    Keep probability p = min(1, n_words/100); the coin is the same
    salted-md5 uniform as `train_val_test_split` — a pure function of
    doc_id, so the SAMPLE ITSELF is deterministic across re-runs,
    repartitions, and scale changes (no rand(): a reshuffled rerun would
    silently select a different corpus).  Pure narrow map + one
    |sources|-row aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda w: F.length(w) > 0,
    )
    p = F.least(F.lit(1.0), F.size(words) / F.lit(100.0))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qsamp:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    ) / 1000000.0
    kept = F.when(u < p, 1).otherwise(0)
    return (
        docs.select("source", p.alias("p"), kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.round(F.avg(F.col("p").cast("decimal(18,10)")), 4)
            .cast("double")
            .alias("mean_keep_prob"),
            F.round(
                (F.sum("kept") / F.count("*")).cast("decimal(18,10)"), 4
            )
            .cast("double")
            .alias("kept_frac"),
        )
        .orderBy("source")
    )


DSIR_BUCKETS = 256      # hashed-feature dimensionality (web scale would use ~10k)
DSIR_ALPHA = 0.5        # Laplace smoothing per bucket
DSIR_TOP_K = 40
DSIR_TARGET_LANG = "en"


def dsir_log_ratio(feats: DataFrame, is_target) -> DataFrame:
    """The DSIR bucket-weight table: per hashed-feature-bucket
    log( p̂_target(b) / p̂_raw(b) ) with add-α smoothing, as an exact
    DECIMAL(18,10) so downstream per-document sums are order-independent
    (decimal addition is exact; a double sum's rounding would depend on
    partitioning).  One groupBy over ≤DSIR_BUCKETS keys — map-side
    partials reduce each task to ≤256 rows regardless of corpus size."""
    dist = feats.groupBy("b").agg(
        F.count("*").alias("nq"),
        F.sum(F.when(is_target, 1).otherwise(0)).alias("np"),
    )
    tot = dist.agg(F.sum("nq").alias("nq_tot"), F.sum("np").alias("np_tot"))
    denom = float(DSIR_BUCKETS * DSIR_ALPHA)
    return dist.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("np") + F.lit(DSIR_ALPHA))
                  / (F.col("np_tot") + F.lit(denom)))
            - F.log((F.col("nq") + F.lit(DSIR_ALPHA))
                    / (F.col("nq_tot") + F.lit(denom)))
        ).cast("decimal(18,10)").alias("wf"),
    )


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much its hashed-n-gram profile looks like a target
    distribution, then resample with deterministic Gumbel top-k.  The
    method a pretraining pipeline uses to pull target-domain-like
    documents out of a 100 TB crawl without training a classifier.

    Features are unigrams + adjacent bigrams hashed into DSIR_BUCKETS
    buckets (generated IN-ROW before the explode, like the minhash
    shingles); the target here is the `lang = 'en'` slice of the same
    corpus (self-contained — no external data).  Importance log-weight
    logw(d) = Σ_features log(p̂_tgt(b)/p̂_raw(b)) with add-α smoothing;
    the per-bucket weight is a rounded DECIMAL so the per-doc sum is
    exact and partitioning-independent.  Selection = top-k by
    logw + Gumbel(g), g = -ln(-ln(u)) with the same salted-md5 uniform
    coin as `train_val_test_split` — a pure function of doc_id, so the
    SELECTED SET is identical across re-runs, repartitions, and engines
    (this is exactly DSIR's Gumbel-top-k resampling trick, made
    deterministic).

    Scale shape: narrow map → explode(features) → 256-row bucket agg
    (map-side combined) → broadcast the tiny ratio table back onto the
    feature stream → one shuffle on doc_id → TakeOrderedAndProject.
    No join of two large sides anywhere; the only wide exchange is the
    per-doc aggregation, keyed on the uniform doc_id.

    Reference analog: the keyword relevance scorer at
    src/utils/text_preprocessing.py:421 (calculate_relevance_score);
    DSIR generalizes it to distribution matching over hashed n-grams."""
    docs = load(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda w: F.length(w) > 0,
    )
    base = docs.select("doc_id", "lang", "source", words.alias("w"))
    # Bigrams in-row: sequence(1, size-1) is only valid when size >= 2
    # (Spark's sequence(1, 0) counts DOWN, unlike DuckDB's empty range).
    bigrams = F.when(
        F.size("w") >= 2,
        F.expr(
            "transform(sequence(1, size(w) - 1), "
            "i -> concat(element_at(w, i), '_', element_at(w, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = base.select(
        "doc_id", "lang", "source",
        F.explode(F.concat(F.col("w"), bigrams)).alias("f"),
    ).select(
        "doc_id", "lang", "source",
        (F.conv(F.substring(F.md5("f"), 1, 4), 16, 10).cast("long")
         % DSIR_BUCKETS).alias("b"),
    )
    ratio = dsir_log_ratio(feats, F.col("lang") == DSIR_TARGET_LANG)
    docw = (
        feats.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(F.count("*").alias("n_feats"), F.sum("wf").alias("logw_dec"))
    )
    logw = F.round(F.col("logw_dec"), 4).cast("double")
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("dsir:"),
                                 F.col("doc_id").cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        )
        + F.lit(0.5)
    ) / 1000000.0
    gumbel = -F.log(-F.log(u))
    scored = docw.select(
        "doc_id", "lang", "source", "n_feats",
        logw.alias("logw"),
        F.round((logw + gumbel).cast("decimal(18,10)"), 4)
        .cast("double")
        .alias("sample_key"),
    )
    return scored.orderBy(F.desc("sample_key"), "doc_id").limit(DSIR_TOP_K)


ORACLE_DSIR_IMPORTANCE = f"""
    WITH base AS (
        SELECT doc_id, lang, source,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> length(x) > 0) AS w
        FROM documents
    ),
    feat AS (
        SELECT doc_id, lang, source,
               CAST(('0x' || substr(md5(f), 1, 4)) AS BIGINT)
                   % {DSIR_BUCKETS} AS b
        FROM (
            SELECT doc_id, lang, source,
                   unnest(list_concat(w,
                       list_transform(range(1, len(w)),
                                      i -> w[i] || '_' || w[i + 1]))) AS f
            FROM base
        )
    ),
    dist AS (
        SELECT b, count(*) AS nq,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS np
        FROM feat GROUP BY b
    ),
    tot AS (SELECT sum(nq) AS nq_tot, sum(np) AS np_tot FROM dist),
    ratio AS (
        SELECT b,
               CAST(ln((np + {DSIR_ALPHA})
                       / (np_tot + {DSIR_BUCKETS * DSIR_ALPHA}))
                  - ln((nq + {DSIR_ALPHA})
                       / (nq_tot + {DSIR_BUCKETS * DSIR_ALPHA}))
                    AS DECIMAL(18,10)) AS wf
        FROM dist CROSS JOIN tot
    ),
    docw AS (
        SELECT f.doc_id, f.lang, f.source,
               count(*) AS n_feats, sum(r.wf) AS logw_dec
        FROM feat f JOIN ratio r USING (b)
        GROUP BY f.doc_id, f.lang, f.source
    ),
    scored AS (
        SELECT doc_id, lang, source, n_feats,
               CAST(round(logw_dec, 4) AS DOUBLE) AS logw,
               CAST(round(CAST(
                   CAST(round(logw_dec, 4) AS DOUBLE)
                   + (-ln(-ln(
                       ((CAST(('0x' || substr(md5('dsir:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 1000000) + 0.5) / 1000000.0)))
                   AS DECIMAL(18,10)), 4) AS DOUBLE) AS sample_key
        FROM docw
    )
    SELECT doc_id, lang, source, n_feats, logw, sample_key
    FROM scored
    ORDER BY sample_key DESC, doc_id
    LIMIT {DSIR_TOP_K}
"""


ORACLE_QUALITY_WEIGHTED_SAMPLE = """
    WITH scored AS (
        SELECT source,
               least(1.0, len(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   w -> len(w) > 0)) / 100.0) AS p,
               CASE WHEN (CAST(('0x' || substr(md5('qsamp:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 1000000) / 1000000.0
                         < least(1.0, len(list_filter(
                               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               w -> len(w) > 0)) / 100.0)
                    THEN 1 ELSE 0 END AS kept
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(round(avg(CAST(p AS DECIMAL(18,10))), 4) AS DOUBLE) AS mean_keep_prob,
           CAST(round(CAST(sum(kept)::DOUBLE / count(*) AS DECIMAL(18,10)), 4) AS DOUBLE) AS kept_frac
    FROM scored
    GROUP BY source
    ORDER BY source
"""


ORACLE_TRAIN_VAL_TEST_SPLIT = """
    WITH assigned AS (
        SELECT lang,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT lang,
                   CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS b
            FROM documents
        )
    ),
    agg AS (
        SELECT split, lang, count(*) AS n_docs FROM assigned GROUP BY split, lang
    )
    SELECT split, lang, n_docs,
           CAST(round(CAST(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY split)
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS share
    FROM agg ORDER BY split, lang
"""


# Per-source document cap: no single source (domain) may contribute more
# than this many documents — the classic "cap any one domain's share"
# pretraining guard against a crawler loop or a dominant site flooding
# the mix.  CAP binds at both test tiers (25 docs/source at sf0.01).
CAP_PER_SOURCE = 20


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source reservoir: keep the CAP_PER_SOURCE docs
    with the smallest salted-md5 coin within each source — a uniform
    without-replacement sample per source that is a pure function of
    doc_id (re-runs, repartitions, and scale changes select the SAME
    documents; `rand()` would not).  kept_id_sum is the census proof
    that both engines selected the identical document set, not merely
    the same count.

    Scale shape: the window partitions by source — each source's rows
    sort locally after one hash exchange, no global ordering anywhere;
    a pathologically hot source is exactly the case the cap exists for,
    and its sort is a top-K (the optimizer needs only the K smallest
    coins).  Output is |sources| rows."""
    docs = load(spark, sf_dir, "documents")
    coin = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("source").orderBy("coin", "doc_id")
    ranked = docs.select(
        "doc_id", "source", coin.alias("coin")
    ).withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") <= CAP_PER_SOURCE, 1).otherwise(0)
    return (
        ranked.select(
            "source",
            kept.alias("kept"),
            (F.col("doc_id") * kept).alias("kept_id"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.sum("kept_id").cast("bigint").alias("kept_id_sum"),
        )
        .orderBy("source")
    )


ORACLE_PER_SOURCE_CAP = f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT), doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rn <= {CAP_PER_SOURCE} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= {CAP_PER_SOURCE} THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM ranked
    GROUP BY source
    ORDER BY source
"""


ORACLE_SQL = {
    "weighted_sample_topk": ORACLE_WEIGHTED_SAMPLE_TOPK,
    "train_val_test_split": ORACLE_TRAIN_VAL_TEST_SPLIT,
    "quality_weighted_sample": ORACLE_QUALITY_WEIGHTED_SAMPLE,
    "source_mix_weights": ORACLE_SOURCE_MIX,
    "sequence_packing": f"""
        -- CAST(sum AS BIGINT): DuckDB sum(BIGINT) yields HUGEINT; Spark yields BIGINT.
        SELECT source, bin,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
               CAST(round(CAST(sum(n_tokens) / {CTX_TOKENS} AS DECIMAL(18,10)), 4) AS DOUBLE) AS fill_ratio
        FROM (
            SELECT source, doc_id, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {CTX_TOKENS} AS BIGINT) AS bin
            FROM (
                -- // floors like Spark's cast-from-double truncation
                -- (CAST(double AS BIGINT) would ROUND in DuckDB)
                SELECT source, doc_id, length(text) // 4 AS n_tokens
                FROM documents
            )
        )
        GROUP BY source, bin
        ORDER BY source, bin
    """,
    "doc_pii_scrub": f"""
        SELECT doc_id,
               md5(regexp_replace(after_phone, '{_PII_IPV4}', '<IP>', 'g')) AS scrubbed_md5,
               n_email, n_phone,
               len(regexp_extract_all(after_phone, '{_PII_IPV4}')) AS n_ip
        FROM (
            SELECT doc_id, n_email,
                   regexp_replace(after_email, '{_PII_PHONE}', '<PHONE>', 'g') AS after_phone,
                   len(regexp_extract_all(after_email, '{_PII_PHONE}')) AS n_phone
            FROM (
                SELECT doc_id,
                       regexp_replace(seeded, '{_PII_EMAIL}', '<EMAIL>', 'g') AS after_email,
                       len(regexp_extract_all(seeded, '{_PII_EMAIL}')) AS n_email
                FROM (
                    SELECT doc_id,
                           CASE WHEN doc_id % 10 = 0
                                THEN text || ' contact user-' || CAST(doc_id AS VARCHAR)
                                     || '@example.com or 555-867-5309 host 10.0.0.1'
                                ELSE text END AS seeded
                    FROM documents
                )
            )
        )
        ORDER BY doc_id
    """,
    "benchmark_contamination": f"""
        WITH sent AS (
            SELECT doc_id, source,
                   md5(lower(trim(s))) AS sent_md5,
                   length(trim(s)) AS sent_len
            FROM (
                SELECT doc_id, source,
                       unnest(regexp_split_to_array(text, '{_SENT_SPLIT}')) AS s
                FROM (
                    SELECT doc_id, source,
                           CASE WHEN doc_id % 97 = 0
                                THEN text || '{_PLANT}'
                                ELSE text END AS text
                    FROM documents
                )
            )
            WHERE length(trim(s)) >= {_MIN_SENT_CHARS}
        ),
        bench AS (
            SELECT DISTINCT sent_md5 FROM sent WHERE doc_id < {_BENCH_MAX_DOC_ID}
        )
        SELECT source, count(*) AS n_contaminated_docs
        FROM (
            SELECT DISTINCT doc_id, source
            FROM sent
            WHERE doc_id >= {_BENCH_MAX_DOC_ID}
              AND sent_md5 IN (SELECT sent_md5 FROM bench)
        )
        GROUP BY source
        ORDER BY source
    """,
    "benchmark_contamination_ngram": ORACLE_CONTAMINATION_NGRAM,
    "dsir_importance": ORACLE_DSIR_IMPORTANCE,
    "per_source_cap": ORACLE_PER_SOURCE_CAP,
}

QUERIES = {
    "weighted_sample_topk": q_weighted_sample_topk,
    "train_val_test_split": q_train_val_test_split,
    "quality_weighted_sample": q_quality_weighted_sample,
    "source_mix_weights": q_source_mix_weights,
    "sequence_packing": q_sequence_packing,
    "doc_pii_scrub": q_doc_pii_scrub,
    "benchmark_contamination": q_benchmark_contamination,
    "benchmark_contamination_ngram": q_benchmark_contamination_ngram,
    "dsir_importance": q_dsir_importance,
    "per_source_cap": q_per_source_cap,
}
