"""PySpark-native bioeconomic-product extraction engine.

A from-scratch, Spark-first re-implementation of the query/data-processing
capabilities of Rodrigomendesas/text-extractor-for-bioeconomic-products
(reference snapshot at /root/reference — semantics only, no code reuse).

Layout:
    rules        — pure deterministic extraction rules (no Spark imports)
    session      — SparkSession factory with scale-tuned defaults
    functions/   — Spark column expressions + vectorized pandas UDFs
    operators/   — DataFrame-level operators (extract, relational, dedup,
                   textstats, multimodal)
    sources/     — transcript synthesis + readers/sinks
    plans/       — end-to-end jobs (repartition/salt/checkpoint/lineage)
    streaming/   — Structured Streaming variant of the pipeline
"""

__version__ = "0.1.0"
