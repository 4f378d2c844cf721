"""Bucketed table layout — shuffle elimination via storage layout.

The reference re-reads its own stored rows for follow-up queries
(``src/storage/export_manager.py:69-249`` writes per-run exports that
``src/storage/database.py:290-364`` ``search_products`` re-queries).  At
100 TB that repeat
workload is dominated by re-shuffling the same fact tables on the same
join key every run.  The Spark-native answer is to bake the join key
into the FILE LAYOUT once: ``bucketBy(key)`` at write time hash-places
every row into a fixed bucket file, so any later equi-join between two
tables bucketed on the same key with the same bucket count is
**map-side** — Catalyst plans a SortMergeJoin with ZERO Exchange
(pinned in ``tests/test_plans.py::test_bucketed_join_no_shuffle``), and
an equality filter on the bucket column prunes to 1/n_buckets of the
files before any task launches (``SelectedBucketsCount`` in the scan).

Pay the shuffle once at write, never again at read: the write itself
shuffles on the bucket key, which is why this only wins for
write-once-join-many workloads — exactly the export/re-query loop above.

At 100 TB: n_buckets is sized so one bucket ≈ one executor-core's
working set (e.g. 4096 buckets for a 10 TB fact table ⇒ ~2.5 GB/bucket);
both fact tables MUST use the same n_buckets or Spark falls back to a
full shuffle on the smaller-bucketed side.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 4  # sandbox-sized; see module docstring for 100 TB sizing


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = N_BUCKETS,
    path: str | None = None,
) -> None:
    """Write ``df`` as a bucketed+sorted parquet table registered as
    ``name`` in the session catalog (external when ``path`` is given).

    ``sortBy(key)`` additionally orders rows inside each bucket file so
    a downstream SortMergeJoin can skip its sort when Spark reads one
    file per bucket.
    """
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def _sf_tag(sf_dir: str) -> str:
    return re.sub(r"\W+", "_", os.path.basename(os.path.normpath(sf_dir)))


def ensure_bucketed_orders_lineitem(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Materialize orders + lineitem bucketed on the orderkey, once per
    (session, scale factor) — the write-once half of the layout's
    pay-the-shuffle-once contract: repeat calls (every correctness-sweep
    run of `bucketed_join_stats`) find the catalog entry and skip
    straight to the shuffle-free join.

    The external path includes the Spark applicationId so concurrent
    sessions (parallel pytest workers, a sweep next to a job) never
    overwrite each other's bucket files mid-read."""
    tag = _sf_tag(sf_dir)
    o_name, l_name = f"orders_b_{tag}", f"lineitem_b_{tag}"
    if spark.catalog.tableExists(o_name) and spark.catalog.tableExists(l_name):
        return o_name, l_name
    app_id = spark.sparkContext.applicationId
    base = os.path.join(
        tempfile.gettempdir(), "spark_graft_bucketed", app_id, tag
    )
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    write_bucketed(orders, o_name, "o_orderkey", path=os.path.join(base, "orders"))
    write_bucketed(li, l_name, "l_orderkey", path=os.path.join(base, "lineitem"))
    return o_name, l_name


def colocated_join(spark: SparkSession, o_name: str, l_name: str) -> DataFrame:
    """The co-located fact-fact join over the bucketed tables: same key,
    same bucket count on both sides ⇒ no Exchange in the plan."""
    orders = spark.table(o_name)
    li = spark.table(l_name)
    return orders.join(li, orders.o_orderkey == li.l_orderkey)


def q_bucketed_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem per-orderstatus census via the bucketed layout —
    write once, join many times without the shuffle a plain join of the
    parquet tables pays every run.  Result is layout-independent, so the
    DuckDB oracle is the plain join; what the layout changes is the PLAN
    (no Exchange for the join — plan-pinned), not the answer.
    """
    o_name, l_name = ensure_bucketed_orders_lineitem(spark, sf_dir)
    return (
        colocated_join(spark, o_name, l_name)
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(12,2)")), 4
            ).cast("double").alias("total_qty"),
        )
        .orderBy("o_orderstatus")
    )


# --- Partition-directory pruning: the scan-side twin of bucketing.
# Bucketing kills the JOIN shuffle; partitioning-by-ingest-day kills the
# SCAN itself for time-sliced queries.  At 100 TB with daily ingest, a
# one-day query over a day-partitioned table launches tasks for 1/365th
# of the files — the directory listing does the filtering before any
# byte is read (PartitionFilters in the scan node, plan-pinned by
# tests/test_plans.py::test_day_partition_prunes_scan).

PRUNE_DAY = "2024-01-01"  # first ingest day of the deterministic corpus


def ensure_date_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events partitioned by event_day (date of ts), once per
    (application, scale factor) — same write-once contract and same
    concurrent-session isolation (applicationId in the path) as the
    bucketed layout above."""
    tag = _sf_tag(sf_dir)
    app_id = spark.sparkContext.applicationId
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_partitioned", app_id, tag, "events"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        (
            events.withColumn("event_day", F.to_date("ts"))
            .repartition("event_day")  # one writer wave, one file per day
            .write.mode("overwrite")
            .partitionBy("event_day")
            .parquet(path)
        )
    return path


def q_events_day_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type census of ONE ingest day read through the day-partitioned
    layout.  The answer is layout-independent (the oracle filters the flat
    table); the layout changes the PLAN — the day predicate becomes a
    PartitionFilter resolved at file-listing time, so only that day's
    directory is ever scanned."""
    path = ensure_date_partitioned_events(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("event_day") == F.lit(PRUNE_DAY).cast("date"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")), 4
            ).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --- Target-sized output files -----------------------------------------
#
# The third layout failure mode (after re-shuffled joins and unpruned
# time scans): output file sizing.  A 1000-executor job writing one file
# per task emits 100k tiny files per run (NameNode/listing pressure,
# unsplittable overhead per scan task); a coalesce(1)-style write emits
# multi-GB monsters that serialize downstream parallelism.  The fix is
# to size the partition count from MEASURED bytes-per-row, not guesses.

SIZE_SAMPLE_ROWS = 2048


def estimate_row_bytes(
    df: DataFrame, sample_rows: int = SIZE_SAMPLE_ROWS, codec: str = "zstd"
) -> float:
    """Measured parquet bytes/row: write a bounded sample through the
    real encoder (dictionary+compression included — a to_json length
    estimate misses both) and divide.  Cost is one tiny local write,
    amortized over the full-table write it sizes."""
    with tempfile.TemporaryDirectory() as tmp:
        sample_path = os.path.join(tmp, "sample")
        sample = df.limit(sample_rows).coalesce(1)
        sample.write.mode("overwrite").option("compression", codec).parquet(
            sample_path
        )
        n = max(
            1,
            sample.sparkSession.read.parquet(sample_path).count(),
        )
        nbytes = sum(
            os.path.getsize(os.path.join(sample_path, f))
            for f in os.listdir(sample_path)
            if f.endswith(".parquet")
        )
    return nbytes / n


def write_target_sized(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    row_bytes: float | None = None,
    codec: str = "zstd",
) -> dict:
    """Write ``df`` as parquet files of ≈``target_file_bytes`` each:
    n_files = ceil(rows × measured_bytes_per_row / target), round-robin
    repartition (even sizes regardless of input skew), one write.

    At 100 TB with a 128 MB target this yields ~800k evenly-sized files
    — splittable, listable, and sized to one scan-task each; the
    repartition is the one extra shuffle this costs, which is the price
    of decoupling output layout from whatever partitioning the job
    ended on.  Returns the sizing telemetry so callers can log it."""
    if row_bytes is None:
        row_bytes = estimate_row_bytes(df, codec=codec)
    n_rows = df.count()
    n_files = max(1, -(-int(n_rows * row_bytes) // target_file_bytes))
    # zstd default: at fleet scale the codec IS a capacity knob (~25-30%
    # smaller than snappy on text-heavy tables at similar scan speed);
    # the sizing sample above used the SAME codec so bytes/row is honest
    df.repartition(n_files).write.mode("overwrite").option(
        "compression", codec
    ).parquet(path)
    return {
        "n_rows": n_rows,
        "row_bytes_est": round(row_bytes, 2),
        "n_files": n_files,
        "target_file_bytes": target_file_bytes,
        "codec": codec,
    }


QUERIES = {
    "bucketed_join_stats": q_bucketed_join_stats,
    "events_day_pruned": q_events_day_pruned,
}

ORACLE_SQL = {
    "bucketed_join_stats": """
        SELECT o_orderstatus,
               count(DISTINCT o_orderkey) AS n_orders,
               count(*) AS n_items,
               CAST(round(sum(l_quantity::DECIMAL(12,2)), 4) AS DOUBLE) AS total_qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "events_day_pruned": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                 AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) = DATE '2024-01-01'
        GROUP BY event_type
        ORDER BY event_type
    """,
}
