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
    manifest/manifest.parquet  ids of every bucket a run scanned, empty
                       ones included (the checkpoint)

Every bucketed file is written the way Iceberg writes a table with a
declared sort order: zstd pages and ``ts`` as an INT64 microsecond
timestamp adjusted to UTC (``session.get_spark``), rows sorted on the
table key (``_write_bucketed``).  So a file's bytes depend only on the
rows it holds, not on the order in which the input was scanned.

Idempotency: re-running a bucket replaces exactly that bucket's files
(the parquet analog of Iceberg ``MERGE INTO`` keyed on (conv_id,
turn_idx); swap the writer for Iceberg `writeTo(...).overwritePartitions()`
on a cluster with an Iceberg catalog).  Every bucketed write, here and in
``merge_turns``, commits the same way (``_write_bucketed``): Spark writes
the output into a hidden staging dir beside the live buckets, the driver
publishes a ``_pending.json`` record naming it, then renames each staged
bucket over the live one.  ``_finish_pending`` does that swap, and it is
idempotent, so each entry point runs it first: a crash before the record
leaves the old buckets, a crash after it rolls forward to the new ones.

Commit order: data, then lineage, then the manifest.  Lineage and
manifest are tiny (≤ ``n_buckets`` rows) and stay one file each: the
driver reads the current rows, replaces those of the buckets this run
wrote, writes the result to a dot-named temp file beside the table and
renames it into place (``_commit_table``).  The rename is atomic, so a
reader sees the old table or the new one, and a crash before the
manifest's rename reruns the run's buckets.  The commit records, these
tables and ``merge_turns``'s ``_meta`` sidecar are written with pyarrow
and ``json`` on the driver and run no Spark job; they need a local (or
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
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import explode_spans, extract_turns

N_BUCKETS_DEFAULT = 64
PENDING = "_pending.json"  # a bucketed table's commit record


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


@dataclass
class RunResult:
    """``buckets_processed`` counts the buckets this run scanned and
    committed (empty ones included), ``buckets_skipped`` those the
    manifest already held; the two add up to ``n_buckets``."""

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
    """Write ``df`` into ``path`` partitioned by bucket, each file's rows
    in ``(conv_id, turn_idx, *tiebreak)`` order, replacing exactly the
    buckets that ``df`` holds: the one physical layout, and the one
    commit path, of every bucketed output.

    Spark writes the whole output with a plain overwrite into a fresh
    ``path/.staging-<uuid>``, which readers of ``path`` skip.  The driver
    then publishes ``path/_pending.json`` naming that dir (the commit
    point) and swaps the staged buckets in (``_finish_pending``).  A crash
    before the record leaves the live buckets untouched; a crash after it
    rolls forward at the next entry.  No live file goes before the write
    has ended, so ``df`` may read ``path`` itself.

    A partitioned write plans a sort on ``bucket`` alone in its own
    stage; this states the whole key in that same place, so the write
    still sorts once.  A sort placed earlier is lost before the write:
    the explode of the spans and the bucket exchange both drop the
    ordering, and the writer's bucket-only sort is not stable once it
    spills."""
    staging = f".staging-{uuid.uuid4().hex}"
    (
        df.sortWithinPartitions("bucket", "conv_id", "turn_idx", *tiebreak)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, staging))
    )

    def write_record(tmp: str) -> None:
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"staging": staging}) + "\n")

    _publish(path, PENDING, write_record)
    _finish_pending(path)


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


def _finish_pending(path: str) -> None:
    """Complete the bucket swap that ``path/_pending.json`` records, then
    clear away what a crashed write left: the recovery run at every entry
    as well as the last step of ``_write_bucketed``.

    Each ``bucket=*`` dir of the named staging dir replaces the live dir
    of that name; a bucket moved by an earlier attempt is no longer
    staged, so a rerun skips it.  Then the staging dir and the record go,
    and so does any ``.staging-*`` dir that no record names (a write that
    crashed before its commit).  A no-op when ``path`` does not exist."""
    record = os.path.join(path, PENDING)
    if os.path.isfile(record):
        with open(record) as fh:
            staging = os.path.join(path, json.loads(fh.readline())["staging"])
        if os.path.isdir(staging):
            for name in sorted(os.listdir(staging)):
                if name.startswith("bucket="):
                    live = os.path.join(path, name)
                    if os.path.isdir(live):
                        shutil.rmtree(live)
                    os.rename(os.path.join(staging, name), live)
            shutil.rmtree(staging)
        os.remove(record)
    if os.path.isdir(path):
        for e in os.scandir(path):
            if e.name.startswith(".staging-"):
                shutil.rmtree(e.path)


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
    late_before: Optional[Column] = None,
) -> dict:
    """Keyed upsert into the bucketed turns dataset — the parquet analog
    of Iceberg ``MERGE INTO turns t USING new n ON t.conv_id = n.conv_id
    AND t.turn_idx = n.turn_idx WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    THEN INSERT`` (the north_rule resumability primitive at row
    granularity; ``run_extraction``'s manifest covers bucket granularity).

    Only buckets containing new keys are read and rewritten: existing rows
    in those buckets survive via an anti join on the key, everything else
    on disk is untouched.  The write reads the affected buckets' current
    files directly and commits through ``_write_bucketed``, so a crash
    at any point leaves either the old buckets or the merged ones, and a
    replay of the same batch gives the same table.  ``new_turns`` is
    extraction output (``extract_turns(...).drop("spans")``).

    Returns the rewritten buckets, the row count ``n_upserted``, the
    newest ``max_ts`` of ``new_turns`` (None when no row has a ``ts``)
    and ``n_late``: its rows with ``ts`` before the timestamp expression
    ``late_before`` (0 when None).  All come from the one aggregate that
    the contract check runs anyway.
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
    _finish_pending(turns_dir)  # roll an interrupted commit forward first
    new_b = _with_bucket(new_turns, n_buckets).persist()
    try:
        # one aggregate gives the affected buckets, the row count and the
        # MERGE contract check: the source must be key-unique (Iceberg
        # raises "multiple matching rows"; silently keeping both would
        # corrupt the target's key uniqueness).  A key lies in one bucket,
        # so the source has duplicates exactly when Σ rows > Σ distinct
        # keys; the key is counted as a struct so that a null turn_idx is a
        # key like any other.
        per_bucket = (
            new_b.groupBy("bucket")
            .agg(
                F.count("*").alias("rows"),
                F.countDistinct(F.struct("conv_id", "turn_idx")).alias("keys"),
                F.max("ts").alias("max_ts"),
                F.count_if(
                    F.lit(False) if late_before is None else F.col("ts") < late_before
                ).alias("late"),
            )
            .collect()
        )
        n_upserted = sum(r["rows"] for r in per_bucket)
        dup_rows = n_upserted - sum(r["keys"] for r in per_bucket)
        if dup_rows:
            raise ValueError(
                f"merge_turns: {dup_rows} duplicate (conv_id, turn_idx) rows in new_turns"
            )
        affected = sorted(r["bucket"] for r in per_bucket)
        if os.path.isdir(turns_dir) and any(
            n.startswith("bucket=") for n in os.listdir(turns_dir)
        ):
            existing = spark.read.parquet(turns_dir).filter(F.col("bucket").isin(affected))
            keys = new_b.select("conv_id", "turn_idx").distinct()
            kept = existing.join(keys, ["conv_id", "turn_idx"], "left_anti")
            merged = kept.unionByName(new_b.select(*kept.columns))
        else:
            # first write — plain insert, unioned onto an empty frame with
            # every column nullable, as the parquet read above is, so all
            # bucket files of the table share one schema.  A zero-partition
            # RDD, because the optimizer drops an empty local relation and
            # then writes the columns it proves non-null as REQUIRED.
            nullable = T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in new_b.schema]
            )
            empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), nullable)
            merged = empty.unionByName(new_b)
        _write_bucketed(_cluster_by_bucket(merged), turns_dir)
    finally:
        new_b.unpersist()
    if stored is None:
        # first write, or adopting a pre-sidecar dataset at the caller's
        # declared modulus
        def write_meta(tmp: str) -> None:
            with open(tmp, "w") as fh:
                fh.write(json.dumps({"n_buckets": n_buckets}) + "\n")

        _publish(meta_dir, "n_buckets.json", write_meta)
    max_ts = [r["max_ts"] for r in per_bucket if r["max_ts"] is not None]
    return {
        "buckets_rewritten": affected,
        "n_upserted": n_upserted,
        "max_ts": max(max_ts, default=None),
        "n_late": sum(r["late"] for r in per_bucket),
    }


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    n_buckets: int = N_BUCKETS_DEFAULT,
    resume: bool = True,
) -> RunResult:
    """Execute the full extract job, skipping already-processed buckets.

    Every bucket the run scans enters the manifest, a bucket the input
    has no rows for included, so a resume over the same input scans
    nothing.  The manifest assumes the input does not change
    between runs: rows that a later input adds to a committed bucket are
    not read.  ``resume=False`` rescans and rewrites every bucket.

    ``run_id`` is caller-supplied (deterministic; never from the clock —
    SURVEY §7.4 rule 4 keeps lineage out of the equality path).
    """
    t0 = time.monotonic()

    turns_dir = os.path.join(out_dir, "turns_extracted")
    spans_dir = os.path.join(out_dir, "product_spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    manifest_dir = os.path.join(out_dir, "manifest")

    _table_files(lineage_dir)  # refuse an older layout before any work
    # a data write that a crash interrupted is rolled forward (or cleared
    # away) before the manifest is trusted
    _finish_pending(turns_dir)
    _finish_pending(spans_dir)
    done = _processed_buckets(manifest_dir) if resume else []
    scanned = sorted(set(range(n_buckets)) - set(done))
    if not scanned:
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

    try:
        # per-bucket lineage counters (A7 generalization), collected to the
        # driver as Arrow (at most n_buckets rows): the one action that
        # fills the cache also yields the run totals.  Only buckets with
        # turns have a row.
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
        if lineage.num_rows:
            _write_bucketed(turns.drop("spans"), turns_dir)
            # bucket is a pure function of conv_id — recompute, don't re-join
            spans = explode_spans(turns).withColumn(
                "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
            )
            _write_bucketed(spans, spans_dir, "span_seq")
            # a rerun of a bucket replaces its lineage row instead of
            # duplicating it ("one row per bucket, from the attempt that
            # durably wrote it")
            _commit_table(lineage_dir, lineage)
    finally:
        turns.unpersist()

    # checkpoint LAST: a bucket enters the manifest only after its data,
    # spans, and lineage are durable (crash before this line ⇒ the bucket
    # reruns, and its rewrite replaces exactly that bucket)
    manifest = pa.table({
        "bucket": pa.array(scanned, pa.int32()),
        "run_id": pa.array([run_id] * len(scanned), pa.string()),
    })
    _commit_table(manifest_dir, manifest)

    return RunResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=len(scanned),
        buckets_skipped=n_buckets - len(scanned),
        n_turns=pc.sum(lineage["n_turns"]).as_py() or 0,
        n_spans=pc.sum(lineage["n_spans"]).as_py() or 0,
        wall_sec=round(time.monotonic() - t0, 3),
    )
