"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction query on /root/testdata/sf0.001.
``queries()`` — one callable per registered query: the extraction flow,
its per-document text stages (cleaning, token counts, language,
quality, fingerprint, chunks), exact dedup and duplicate clustering,
and the curation queries.  The scalar SURVEY.md §2 rules are checked by
tests/test_rules.py, not through the registry.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twins for every
SQL-expressible query; UDF-pipeline queries are rows-only by design
(their byte-exactness is covered by tests/test_extraction_equality.py's
pandas oracle).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from text_extractor_for_bioeconomic_products_spark.operators import (  # noqa: E402
    bpe,
    conversation,
    curation,
    graph,
    dedup,
    profiling,
    stringjoin,
    textstats,
)
from text_extractor_for_bioeconomic_products_spark.sources import (  # noqa: E402
    avro,
    layout,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's end-to-end flow (SURVEY §3.1) over the
    sf0.001 documents table mapped to the transcript shape — clean →
    language → relevance → span tagging → per-language rollup."""
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        extract_turns,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1767225600) + F.col("doc_id")).alias("ts"),
    )
    turns = extract_turns(transcripts)
    return (
        turns.groupBy("lang")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("relevance"), 4).alias("avg_relevance"),
            F.sum("n_spans").alias("total_spans"),
        )
        .orderBy("lang")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    q.update(curation.QUERIES)
    q.update(textstats.QUERIES)
    q.update(dedup.QUERIES)
    q.update(stringjoin.QUERIES)
    q.update(conversation.QUERIES)
    q.update(bpe.QUERIES)
    q.update(graph.QUERIES)
    q.update(profiling.QUERIES)
    q.update(layout.QUERIES)
    q.update(avro.QUERIES)
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o.update(curation.ORACLE_SQL)
    o.update(textstats.ORACLE_SQL)
    o.update(dedup.ORACLE_SQL)
    o.update(stringjoin.ORACLE_SQL)
    o.update(conversation.ORACLE_SQL)
    o.update(graph.ORACLE_SQL)
    o.update(profiling.ORACLE_SQL)
    o.update(layout.ORACLE_SQL)
    o.update(avro.ORACLE_SQL)
    return o
