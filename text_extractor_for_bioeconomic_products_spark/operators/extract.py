"""Extraction pipeline operators (DataFrame → DataFrame).

The Spark shape of the reference flagship flow (SURVEY §3.1):

    transcripts → extract_turns (narrow, single UDF pass)
                → explode_spans (narrow)
                → conversation/corpus aggregations (shuffled, salted)

Scale notes (100 TB design):
* ``extract_turns`` is a pure map — NO shuffle.  The reference's thread
  pool (direct_batch_process.py:164) becomes task parallelism over input
  splits; repartitioning before a map stage would only add cost.
* Aggregations that group by ``conv_id`` are exposed to mega-conversation
  skew (FIXTURES.md §1); ``conversation_stats`` therefore pre-aggregates
  on a salted key and re-aggregates — classic two-stage salted combine —
  alongside AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import extract_turn_features

# Columns of turns_extracted, in output order.
TURNS_EXTRACTED_COLS = [
    "conv_id", "turn_idx", "role", "tool", "ts",
    "clean_text", "lang", "lang_conf", "relevance",
    "n_tokens", "n_pages", "is_html", "parse_error", "n_spans",
]


def extract_turns(transcripts: DataFrame) -> DataFrame:
    """Per-turn extraction — one vectorized UDF pass, no shuffle.

    Output: turns_extracted (SURVEY §1.4) + a ``spans`` array column for
    downstream explode (kept nested so spans never need a re-join — the
    reference's N+1 uses-query anti-pattern eliminated, SURVEY §4.1).
    """
    feat = F.col("_feat")
    return (
        transcripts
        .withColumn("_feat", extract_turn_features(F.col("text")))
        .select(
            "conv_id", "turn_idx", "role", "tool", "ts",
            feat["clean_text"].alias("clean_text"),
            feat["lang"].alias("lang"),
            feat["lang_conf"].alias("lang_conf"),
            feat["relevance"].alias("relevance"),
            feat["n_tokens"].alias("n_tokens"),
            feat["n_pages"].alias("n_pages"),
            feat["is_html"].alias("is_html"),
            feat["parse_error"].alias("parse_error"),
            F.size(feat["spans"]).alias("n_spans"),
            feat["spans"].alias("spans"),
        )
    )


def explode_spans(turns: DataFrame) -> DataFrame:
    """product_spans: one row per tagged span (UDTF shape, SURVEY §2.10 X1).

    ``explode`` (inner) — turns with zero spans emit no span rows; the
    turn-level row in turns_extracted still records n_spans=0 (quarantine
    semantics of F6: nothing dropped silently).
    """
    sp = F.col("span")
    return (
        turns
        .select("conv_id", "turn_idx", F.explode("spans").alias("span"))
        .select(
            "conv_id", "turn_idx",
            sp["span_seq"].alias("span_seq"),
            sp["nome_popular"].alias("nome_popular"),
            sp["nome_canonico"].alias("nome_canonico"),
            sp["nome_cientifico"].alias("nome_cientifico"),
            sp["begin"].alias("begin"),
            sp["end"].alias("end"),
            sp["paises"].alias("paises"),
            sp["tipos_uso"].alias("tipos_uso"),
            sp["categoria"].alias("categoria"),
            sp["confianca"].alias("confianca"),
        )
    )


def cap_chunks(df: DataFrame, col: str = "chunks", max_chunks: int = 5) -> DataFrame:
    """O4 — first-N-chunks cost cap (batch_process.py:93-96), explicit not
    silent: ``n_chunks_dropped`` records the truncation per row so the
    lineage/metrics layer can surface it (SURVEY §2.6 O4)."""
    return (
        df
        .withColumn(
            "n_chunks_dropped",
            F.greatest(F.size(F.col(col)) - F.lit(max_chunks), F.lit(0)),
        )
        .withColumn(col, F.slice(F.col(col), 1, max_chunks))
    )


def conversation_stats(turns: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """A1/A2-analog per-conversation aggregate with two-stage salted combine.

    Mega conversations (one conv_id holding ~10% of rows) would make a
    single reducer hot; stage 1 aggregates (conv_id, salt) partials, stage
    2 merges the ≤ salt_buckets partials per conversation.
    """
    salted = turns.withColumn(
        "_salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("conv_id", "_salt").agg(
        F.count("*").alias("n_turns"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(F.when(F.col("relevance") >= 0.1, 1).otherwise(0)).alias("n_relevant"),
        F.sum(F.when(F.col("parse_error"), 1).otherwise(0)).alias("n_errors"),
        F.max("ts").alias("max_ts"),
        F.min("ts").alias("min_ts"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_relevant").alias("n_relevant"),
        F.sum("n_errors").alias("n_errors"),
        F.max("max_ts").alias("max_ts"),
        F.min("min_ts").alias("min_ts"),
    )


def quality_metrics(spans: DataFrame) -> DataFrame:
    """A4 validate_extraction_quality (response_parser.py:388-440) as a
    grouped aggregate per conversation: completeness-weighted score."""
    per_conv = spans.groupBy("conv_id").agg(
        F.count("*").alias("total_produtos"),
        F.avg("confianca").alias("confianca_media"),
        F.sum(F.when(F.col("nome_cientifico").isNotNull(), 1).otherwise(0)).alias("produtos_com_nome_cientifico"),
        F.sum(F.when(F.size("paises") > 0, 1).otherwise(0)).alias("produtos_com_paises"),
        F.sum(F.when(F.size("tipos_uso") > 0, 1).otherwise(0)).alias("produtos_com_usos"),
        F.sum(F.when(F.col("confianca") >= 0.7, 1).otherwise(0)).alias("produtos_alta_confianca"),
        F.sum(F.when(F.col("confianca") < 0.5, 1).otherwise(0)).alias("produtos_baixa_confianca"),
    )
    n = F.col("total_produtos").cast("double")
    # completeness weights per response_parser.py:418-424 (the
    # trecho_justificativo term has no analog for tagged spans; its 0.2
    # weight goes to span presence = 1.0, keeping the scale comparable)
    scored = per_conv.withColumn(
        "qualidade_geral",
        F.round(
            F.col("produtos_com_nome_cientifico") / n * 0.2
            + F.col("produtos_com_paises") / n * 0.2
            + F.col("produtos_com_usos") / n * 0.2
            + 0.2
            + F.col("confianca_media") * 0.2,
            2,
        ),
    )
    # rule-driven observations (response_parser.py:429-437), same
    # thresholds and strings, as a deterministic array column
    obs = F.array_compact(F.array(
        F.when(
            F.col("produtos_baixa_confianca") > n * 0.3,
            F.lit("Muitos produtos com baixa confiança"),
        ),
        F.when(
            F.col("produtos_com_nome_cientifico") < n * 0.5,
            F.lit("Poucos nomes científicos identificados"),
        ),
        F.when(
            F.col("confianca_media") >= 0.8,
            F.lit("Boa qualidade geral dos dados"),
        ),
    ))
    return scored.withColumn("observacoes", obs)


def stable_turn_order(turns: DataFrame) -> DataFrame:
    """W2 — the ordering contract: row_number over (conv_id, turn_idx).

    Used by equality checks and any cross-turn feature (lag of previous
    role).  Per-turn equality is defined under this ordering
    (BASELINE.json north_rule).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        turns
        .withColumn("turn_rank", F.row_number().over(w))
        .withColumn("prev_role", F.lag("role").over(w))
    )
