"""End-to-end extraction job with checkpoint-resume and lineage.

north_rule mechanics: bucket-partitioned idempotent output, a
processed-bucket manifest enabling restart-without-recompute, and
per-partition lineage counters — the Spark generalization of the
reference's per-file JSON outputs + combined run stats
(direct_batch_process.py:107-110, 184-208).

Layout under ``out_dir``:
    turns_extracted/   parquet, partitioned by bucket=pmod(xxhash64(conv_id), N);
                       rows in (conv_id, turn_idx) order within each file
    product_spans/     parquet, same bucketing; rows in
                       (conv_id, turn_idx, span_seq) order
    lineage/           one row per (run, bucket): counters only, no timings
    manifest/          processed-bucket ids (the checkpoint)

Every bucketed file is written the way Iceberg writes a table with a
declared sort order: zstd pages and ``ts`` as an INT64 microsecond
timestamp adjusted to UTC (``session.get_spark``), rows sorted on the
table key (``_write_bucketed``).  So a file's bytes depend only on the
rows it holds, not on the order in which the input was scanned.

Idempotency: writes use dynamic partition overwrite — re-running a bucket
replaces exactly that bucket's files (the parquet analog of Iceberg
``MERGE INTO`` keyed on (conv_id, turn_idx); swap the writer for Iceberg
`writeTo(...).overwritePartitions()` on a cluster with an Iceberg catalog).

Scale: the bucket column is both the resume unit and the output partition
key.  Extraction itself stays a narrow map.  The job adds one keyed
exchange after it, ``REBALANCE`` on bucket (``_cluster_by_bucket``), so
each bucketed write emits one file per bucket instead of one per scan
task × bucket; AQE coalesces small buckets into one task and splits a
bucket larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
across several.  The only other wide operation is the resume semi-join
against the (tiny, broadcast) manifest.

Python runs only inside the extract UDF.  The driver-side tables (the
lineage and manifest rows, ``merge_turns``'s ``_meta`` sidecar) reach the
JVM as Arrow (``_local_table``), so they plan as ``LocalTableScan`` and
start no Python task.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import List, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..operators.extract import explode_spans, extract_turns

N_BUCKETS_DEFAULT = 64


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set one SQL conf for a block and restore the session's own value
    (or unset it) afterwards."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def _dynamic_partition_overwrite(spark: SparkSession):
    """Scope partitionOverwriteMode=dynamic to one write job.  Leaving it
    set on the shared session would silently turn a later plain
    mode('overwrite').partitionBy(...) elsewhere into a per-partition
    overwrite that leaves stale partitions behind."""
    return _scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic")


@dataclass
class RunResult:
    run_id: str
    n_buckets: int
    buckets_processed: int
    buckets_skipped: int
    n_turns: int
    n_spans: int
    wall_sec: float


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _cluster_by_bucket(df: DataFrame) -> DataFrame:
    """One keyed exchange on ``bucket`` ahead of a ``partitionBy("bucket")``
    write: every bucket lands in one task (or, when it is larger than the
    AQE advisory partition size, a few), so the write emits about one file
    per bucket rather than one per input task × bucket."""
    return df.hint("rebalance", "bucket")


def _write_bucketed(df: DataFrame, path: str, *tiebreak: str) -> None:
    """Overwrite ``df`` into ``path`` partitioned by bucket, each file's
    rows in ``(conv_id, turn_idx, *tiebreak)`` order: the one physical
    layout of every bucketed output.  Call under
    ``_dynamic_partition_overwrite``.

    A partitioned write plans a sort on ``bucket`` alone in its own
    stage; this states the whole key in that same place, so the write
    still sorts once.  A sort placed earlier is lost before the write:
    the explode of the spans and ``merge_turns``'s checkpoint of an
    adaptive plan both drop the ordering, and the writer's bucket-only
    sort is not stable once it spills."""
    (
        df.sortWithinPartitions("bucket", "conv_id", "turn_idx", *tiebreak)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def _local_table(
    spark: SparkSession, rows: Sequence[tuple], schema: Union[StructType, str]
) -> DataFrame:
    """A small driver-side table handed to the JVM as Arrow: it plans as
    a ``LocalTableScan`` and runs no Python task.  ``createDataFrame``
    of a Python list would add a PythonRDD stage instead, and the pandas
    path silently falls back to that stage when conversion fails."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _processed_buckets(spark: SparkSession, manifest_dir: str) -> List[int]:
    # existence pre-check: probing a fresh dir via read.parquet would be
    # caught below anyway, but the JVM logs the AnalysisException stack
    # to stderr — needless alarm on every first run (local paths only;
    # an object-store deployment swaps in its own listing call)
    if not os.path.isdir(manifest_dir):
        return []
    try:
        return [
            r["bucket"]
            for r in spark.read.parquet(manifest_dir).select("bucket").distinct().collect()
        ]
    except Exception:
        return []  # manifest unreadable/partial — treat as fresh run


def merge_turns(
    spark: SparkSession,
    turns_dir: str,
    new_turns: DataFrame,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> dict:
    """Keyed upsert into the bucketed turns dataset — the parquet analog
    of Iceberg ``MERGE INTO turns t USING new n ON t.conv_id = n.conv_id
    AND t.turn_idx = n.turn_idx WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    THEN INSERT`` (the north_rule resumability primitive at row
    granularity; ``run_extraction``'s manifest covers bucket granularity).

    Only buckets containing new keys are read and rewritten: existing rows
    in those buckets survive via an anti join on the key, everything else
    on disk is untouched (dynamic partition overwrite).  ``new_turns`` is
    extraction output (``extract_turns(...).drop("spans")``).
    """
    new_b = _with_bucket(new_turns, n_buckets).persist()
    # MERGE contract: the source must be key-unique (Iceberg raises
    # "multiple matching rows"; silently keeping both would corrupt the
    # target's key uniqueness)
    dup_keys = (
        new_b.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    if dup_keys:
        new_b.unpersist()
        raise ValueError(
            f"merge_turns: {dup_keys} duplicate (conv_id, turn_idx) keys in new_turns"
        )
    affected = sorted(
        r["bucket"] for r in new_b.select("bucket").distinct().collect()
    )
    n_upserted = new_b.count()
    # the bucket modulus is part of the dataset layout: merging with a
    # different n_buckets would hash matched keys into unscanned buckets
    # and duplicate them silently — validate against the sidecar.  Only
    # a missing path means "not there"; any other read error (permissions,
    # corrupt footer) must NOT fall through to a write that would
    # dynamic-overwrite existing buckets with partial data.
    def _missing_path(ex: Exception) -> bool:
        msg = str(ex)
        return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg

    meta_dir = turns_dir.rstrip("/") + "_meta"
    stored = None
    # pre-check local existence so the fresh-target path never fires an
    # AnalysisException (the JVM logs its stack to stderr on every first
    # micro-batch otherwise); the _missing_path fallback stays for
    # non-local URIs where isdir() can't see the store
    if os.path.isdir(meta_dir) or "://" in meta_dir:
        try:
            stored = int(spark.read.json(meta_dir).collect()[0]["n_buckets"])
        except Exception as ex:
            if not _missing_path(ex):
                new_b.unpersist()
                raise
    if stored is not None and stored != n_buckets:
        new_b.unpersist()
        raise ValueError(
            f"merge_turns: dataset written with n_buckets={stored}, "
            f"merge called with {n_buckets}"
        )
    existing = None  # first write — plain insert
    if os.path.isdir(turns_dir) or "://" in turns_dir:
        try:
            existing = spark.read.parquet(turns_dir).filter(
                F.col("bucket").isin(affected)
            )
        except Exception as ex:
            if not _missing_path(ex):
                new_b.unpersist()
                raise
    if existing is not None:
        keys = new_b.select("conv_id", "turn_idx").distinct()
        kept = existing.join(keys, ["conv_id", "turn_idx"], "left_anti")
        merged = kept.unionByName(new_b.select(*kept.columns))
    else:
        merged = new_b
    # the merged affected buckets must be fully materialized before the
    # overwrite deletes their source files
    merged = _cluster_by_bucket(merged).localCheckpoint(eager=True)
    with _dynamic_partition_overwrite(spark):
        _write_bucketed(merged, turns_dir)
    if stored is None:
        # first write, or adopting a pre-sidecar dataset at the caller's
        # declared modulus
        _local_table(spark, [(n_buckets,)], "n_buckets int") \
            .coalesce(1).write.mode("overwrite").json(meta_dir)
    new_b.unpersist()
    return {"buckets_rewritten": affected, "n_upserted": n_upserted}


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    n_buckets: int = N_BUCKETS_DEFAULT,
    resume: bool = True,
) -> RunResult:
    """Execute the full extract job, skipping already-processed buckets.

    ``run_id`` is caller-supplied (deterministic; never from the clock —
    SURVEY §7.4 rule 4 keeps lineage out of the equality path).
    """
    t0 = time.monotonic()

    turns_dir = os.path.join(out_dir, "turns_extracted")
    spans_dir = os.path.join(out_dir, "product_spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    manifest_dir = os.path.join(out_dir, "manifest")

    df = _with_bucket(transcripts, n_buckets)

    done = _processed_buckets(spark, manifest_dir) if resume else []
    if done:
        df = df.filter(~F.col("bucket").isin(done))

    turns = _cluster_by_bucket(_with_bucket(extract_turns(df), n_buckets))
    # the cached plan is fixed at persist(): AQE may coalesce small buckets
    # and split one larger than the advisory size only if that plan is
    # allowed to change its output partitioning
    with _scoped_conf(
        spark, "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    ):
        turns.persist()

    # per-bucket lineage counters (A7 generalization), collected to the
    # driver (at most n_buckets rows): the one action that fills the cache
    # also yields the todo buckets and the run totals
    lineage = (
        turns.groupBy("bucket")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("parse_error"), 1).otherwise(0)).alias("n_errors"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
    lineage_rows = lineage.collect()
    todo = sorted(r["bucket"] for r in lineage_rows)
    if not todo:
        turns.unpersist()
        return RunResult(run_id, n_buckets, 0, len(done), 0, 0,
                          round(time.monotonic() - t0, 3))

    with _dynamic_partition_overwrite(spark):
        _write_bucketed(turns.drop("spans"), turns_dir)
        # bucket is a pure function of conv_id — recompute, don't re-join
        spans = explode_spans(turns).withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
        _write_bucketed(spans, spans_dir, "span_seq")
        # partitioned dynamic overwrite, NOT append — a crash-and-resume
        # rerun of a bucket replaces its lineage row instead of duplicating
        # it ("one row per bucket, from the attempt that durably wrote it")
        (
            _local_table(spark, lineage_rows, lineage.schema)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(lineage_dir)
        )

    # checkpoint LAST: a bucket enters the manifest only after its data,
    # spans, and lineage are durable (crash before this line ⇒ the bucket
    # reruns; dynamic overwrite makes the rerun idempotent)
    manifest = _local_table(
        spark, [(b, run_id) for b in todo], "bucket int, run_id string"
    )
    manifest.coalesce(1).write.mode("append").parquet(manifest_dir)

    turns.unpersist()
    return RunResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=len(todo),
        buckets_skipped=len(done),
        n_turns=sum(r["n_turns"] for r in lineage_rows),
        n_spans=sum(r["n_spans"] or 0 for r in lineage_rows),
        wall_sec=round(time.monotonic() - t0, 3),
    )
