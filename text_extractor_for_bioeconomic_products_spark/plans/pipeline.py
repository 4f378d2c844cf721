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
    lineage/lineage.parquet    one row per bucket (from the run that last
                       wrote it): counters only, no timings
    manifest/manifest.parquet  processed-bucket ids (the checkpoint)

Every bucketed file is written the way Iceberg writes a table with a
declared sort order: zstd pages and ``ts`` as an INT64 microsecond
timestamp adjusted to UTC (``session.get_spark``), rows sorted on the
table key (``_write_bucketed``).  So a file's bytes depend only on the
rows it holds, not on the order in which the input was scanned.

Idempotency: the data writes use dynamic partition overwrite — re-running
a bucket replaces exactly that bucket's files (the parquet analog of
Iceberg ``MERGE INTO`` keyed on (conv_id, turn_idx); swap the writer for
Iceberg `writeTo(...).overwritePartitions()` on a cluster with an Iceberg
catalog).

Commit order: data, then lineage, then the manifest.  Lineage and
manifest are tiny (≤ ``n_buckets`` rows) and stay one file each: the
driver reads the current rows, replaces those of the buckets this run
wrote, writes the result to a dot-named temp file beside the table and
renames it into place (``_commit_table``).  The rename is atomic, so a
reader sees the old table or the new one, and a crash before the
manifest's rename reruns the run's buckets.  These tables, and
``merge_turns``'s ``_meta`` sidecar, are written with pyarrow and
``json`` on the driver and run no Spark job; they need a local (or
locally mounted) path.

Scale: the bucket column is both the resume unit and the output partition
key.  Extraction itself stays a narrow map.  The job adds one keyed
exchange after it, ``REBALANCE`` on bucket (``_cluster_by_bucket``), so
each bucketed write emits one file per bucket instead of one per scan
task × bucket; AQE coalesces small buckets into one task and splits a
bucket larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
across several.  Nothing else is wide: resuming filters the input on
the manifest's bucket ids (``isin``).

Python runs on the executors only inside the extract UDF.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _table_files(path: str) -> List[str]:
    """The data files of a driver-written table, in name order: every
    entry of ``path`` that Spark and pyarrow read (names starting with
    ``.`` or ``_`` are temp and marker files); [] when ``path`` does not
    exist.  A partition directory is the per-bucket layout that earlier
    versions wrote; it is refused rather than mixed with one file."""
    if "://" in path:
        raise ValueError(f"{path}: driver-written tables need a local path")
    if not os.path.isdir(path):
        return []
    files = sorted(
        e.path for e in os.scandir(path) if not e.name.startswith((".", "_"))
    )
    for f in files:
        if os.path.isdir(f):
            raise ValueError(
                f"{path} holds {os.path.basename(f)}/, the per-bucket layout of "
                f"an earlier version; delete {path} and the manifest beside it "
                f"to rerun every bucket into the one-file layout"
            )
    return files


def _publish(path: str, name: str, write: Callable[[str], None]) -> None:
    """Commit one file: ``write`` fills a dot-named temp file in ``path``,
    which is then renamed onto ``path/name`` (atomic on a POSIX file
    system).  Every other file in ``path`` goes afterwards: the leftover
    of a crash mid-write, or the part files of an older layout."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.{uuid.uuid4().hex}.tmp")
    write(tmp)
    os.replace(tmp, os.path.join(path, name))
    for e in os.scandir(path):
        if e.name != name and e.is_file():
            os.remove(e.path)


def _commit_table(path: str, rows: pa.Table) -> None:
    """Replace the rows of the buckets in ``rows`` in the one-file table
    at ``path``: one row per bucket survives a rerun, from the run that
    wrote it last."""
    files = _table_files(path)
    if files:
        current = pq.read_table(files)
        rerun = pc.is_in(current["bucket"], rows["bucket"].combine_chunks())
        rows = pa.concat_tables([current.filter(pc.invert(rerun)), rows])
    rows = rows.sort_by("bucket")
    _publish(path, os.path.basename(path) + ".parquet",
             lambda tmp: pq.write_table(rows, tmp, compression="zstd"))


def _processed_buckets(manifest_dir: str) -> List[int]:
    try:
        files = _table_files(manifest_dir)
        if not files:
            return []
        return sorted(set(pq.read_table(files, columns=["bucket"])["bucket"].to_pylist()))
    except Exception:
        return []  # manifest unreadable/partial — treat as fresh run


def _stored_n_buckets(meta_dir: str) -> Optional[int]:
    """The modulus in ``merge_turns``'s sidecar: one JSON line
    ``{"n_buckets": N}``, the file this module writes or the ``part-*``
    file Spark wrote before; None when there is no sidecar.  Any other
    read error raises, so it never falls through to a write that would
    overwrite existing buckets with partial data."""
    for f in _table_files(meta_dir):
        with open(f) as fh:
            return int(json.loads(fh.readline())["n_buckets"])
    return None


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
    # the bucket modulus is part of the dataset layout: merging with a
    # different n_buckets would hash matched keys into unscanned buckets
    # and duplicate them silently — validate against the sidecar
    meta_dir = turns_dir.rstrip("/") + "_meta"
    stored = _stored_n_buckets(meta_dir)
    if stored is not None and stored != n_buckets:
        raise ValueError(
            f"merge_turns: dataset written with n_buckets={stored}, "
            f"merge called with {n_buckets}"
        )
    new_b = _with_bucket(new_turns, n_buckets).persist()
    # one aggregate gives the affected buckets, the row count and the
    # MERGE contract check: the source must be key-unique (Iceberg raises
    # "multiple matching rows"; silently keeping both would corrupt the
    # target's key uniqueness).  A key lies in one bucket, so the source
    # has duplicates exactly when Σ rows > Σ distinct keys; the key is
    # counted as a struct so that a null turn_idx is a key like any other.
    per_bucket = (
        new_b.groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct(F.struct("conv_id", "turn_idx")).alias("keys"),
        )
        .collect()
    )
    n_upserted = sum(r["rows"] for r in per_bucket)
    dup_rows = n_upserted - sum(r["keys"] for r in per_bucket)
    if dup_rows:
        new_b.unpersist()
        raise ValueError(
            f"merge_turns: {dup_rows} duplicate (conv_id, turn_idx) rows in new_turns"
        )
    affected = sorted(r["bucket"] for r in per_bucket)
    if os.path.isdir(turns_dir):
        existing = spark.read.parquet(turns_dir).filter(F.col("bucket").isin(affected))
        keys = new_b.select("conv_id", "turn_idx").distinct()
        kept = existing.join(keys, ["conv_id", "turn_idx"], "left_anti")
        merged = kept.unionByName(new_b.select(*kept.columns))
    else:
        merged = new_b  # first write — plain insert
    # the merged affected buckets must be fully materialized before the
    # overwrite deletes their source files
    merged = _cluster_by_bucket(merged).localCheckpoint(eager=True)
    with _dynamic_partition_overwrite(spark):
        _write_bucketed(merged, turns_dir)
    if stored is None:
        # first write, or adopting a pre-sidecar dataset at the caller's
        # declared modulus
        def write_meta(tmp: str) -> None:
            with open(tmp, "w") as fh:
                fh.write(json.dumps({"n_buckets": n_buckets}) + "\n")

        _publish(meta_dir, "n_buckets.json", write_meta)
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

    _table_files(lineage_dir)  # refuse an older layout before any work
    done = _processed_buckets(manifest_dir) if resume else []
    if set(range(n_buckets)) <= set(done):
        # every bucket is committed: nothing to scan
        return RunResult(run_id, n_buckets, 0, n_buckets, 0, 0,
                         round(time.monotonic() - t0, 3))

    df = _with_bucket(transcripts, n_buckets)
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
    # driver as Arrow (at most n_buckets rows): the one action that fills
    # the cache also yields the todo buckets and the run totals
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
        .toArrow()
    )
    todo = sorted(lineage["bucket"].to_pylist())
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
    turns.unpersist()

    # a rerun of a bucket replaces its lineage row instead of duplicating
    # it ("one row per bucket, from the attempt that durably wrote it")
    _commit_table(lineage_dir, lineage)
    # checkpoint LAST: a bucket enters the manifest only after its data,
    # spans, and lineage are durable (crash before this line ⇒ the bucket
    # reruns; dynamic overwrite makes the rerun idempotent)
    manifest = pa.table({
        "bucket": pa.array(todo, pa.int32()),
        "run_id": pa.array([run_id] * len(todo), pa.string()),
    })
    _commit_table(manifest_dir, manifest)

    return RunResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=len(todo),
        buckets_skipped=len(done),
        n_turns=pc.sum(lineage["n_turns"]).as_py(),
        n_spans=pc.sum(lineage["n_spans"]).as_py() or 0,
        wall_sec=round(time.monotonic() - t0, 3),
    )
