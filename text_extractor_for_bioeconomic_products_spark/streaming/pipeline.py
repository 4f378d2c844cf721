"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY §2.11); this module is the
engine's forward-looking stream path, two foreachBatch sinks over one
transcripts file stream (``jobs/run_streaming.py`` runs them):

* ``run_streaming_merge_upsert`` applies ``extract_turns`` (a narrow
  map, streaming-safe with no state store) and keyed-MERGEs each
  micro-batch into the bucketed turns table.  It needs no watermark:
  the upsert drops nothing, and its lateness census only reports what a
  watermark would have dropped.
* ``run_streaming_near_dup_admission`` admits a text only if none of
  its LSH bands already stand in the admitted corpus.

Both are replay-idempotent under the checkpoint's at-least-once
delivery.  ``Trigger.AvailableNow`` gives batch-equivalent semantics for
backfill — the test suite asserts the merged table == batch
``extract_turns`` output on the same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_turns
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_dir: str,
                            max_files_per_trigger: int) -> DataFrame:
    """File-source stream over a transcripts parquet directory.

    maxFilesPerTrigger bounds per-micro-batch work (the streaming analog
    of spark.sql.files.maxPartitionBytes).
    """
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


class InjectedCrash(RuntimeError):
    """Test hook: simulates the driver dying between a completed merge
    and the streaming checkpoint commit — the window where a naive sink
    would double-apply the batch on restart."""


def run_streaming_merge_upsert(
    spark: SparkSession,
    input_dir: str,
    turns_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    max_files_per_trigger: int = 1,
    crash_after_batches: int | None = None,
    timeout_sec: int = 300,
    allowed_lateness_sec: int = 3600,
) -> dict:
    """Stream transcripts → extract → **keyed MERGE upsert** via
    foreachBatch — the streaming face of ``plans.pipeline.merge_turns``
    (the Iceberg ``MERGE INTO`` analog; reference's batch-only SQLite
    upsert is `src/storage/database.py:188-253`, lifted here to a
    continuously-maintained table).

    Delivery semantics: the file-source checkpoint gives at-least-once
    foreachBatch invocations (a batch whose merge succeeded but whose
    offset commit did not is REPLAYED with identical content on
    restart); ``merge_turns`` is a keyed upsert, so re-applying the same
    rows rewrites the same values — effectively-once table state without
    a transactional sink.  That idempotent-merge-under-replay property
    is exactly what ``crash_after_batches`` lets the tests drive.

    The same holds for at-least-once INPUT: a row redelivered in a later
    micro-batch (say, a file copied into the input dir twice) converges
    to one row per ``(conv_id, turn_idx)``.  The upsert keeps the last
    copy of a key where a first-wins stream dedup keeps the first; for
    identical redelivered rows the two are the same.  A key repeated
    INSIDE one micro-batch raises ``ValueError`` (the MERGE contract:
    one source row per target key), so file-level redelivery needs the
    copies in separate micro-batches — ``max_files_per_trigger=1``, the
    default here.

    At 100 TB the shape holds: each micro-batch merge touches only the
    hash buckets containing its keys (bounded read-modify-write), and
    bucket count scales with the table, not the stream rate.

    Telemetry includes a **lateness census** (the lineage discipline
    applied to event time): per micro-batch, how many rows arrived with
    ``ts`` older than the high-water mark of all PRIOR batches minus
    ``allowed_lateness_sec`` — i.e. the rows a watermarked stateful
    operator with that delay threshold would have silently dropped.
    This MERGE path drops nothing (the keyed upsert is watermark-free),
    so the counter is pure observability: when it is non-zero, a
    downstream watermark needs at least that much allowed lateness.
    """
    from pyspark.sql import functions as F

    from ..plans.pipeline import merge_turns

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    turns = extract_turns(stream).drop("spans")
    seen = {
        "batches": 0,
        "rows": 0,
        "late_rows": 0,
        "late_by_batch": [],
        "allowed_lateness_sec": allowed_lateness_sec,
    }
    high_water = {"ts": None}  # event-time max over all prior batches

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the lateness census rides on merge_turns' one aggregate
        hw = high_water["ts"]
        late_before = None if hw is None else F.lit(hw) - F.expr(
            f"INTERVAL {int(allowed_lateness_sec)} SECONDS"
        )
        res = merge_turns(
            spark, turns_dir, batch_df, n_buckets=n_buckets, late_before=late_before
        )
        late, batch_max = res["n_late"], res["max_ts"]
        if batch_max is not None and (hw is None or batch_max > hw):
            high_water["ts"] = batch_max
        seen["batches"] += 1
        seen["rows"] += res["n_upserted"]
        seen["late_rows"] += late
        seen["late_by_batch"].append(late)
        if (
            crash_after_batches is not None
            and seen["batches"] >= crash_after_batches
        ):
            # merge done, checkpoint commit for this batch never happens
            raise InjectedCrash(f"after batch {batch_id}")

    q = (
        turns.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    return seen


def run_streaming_near_dup_admission(
    spark: SparkSession,
    input_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    crash_after_batches: int | None = None,
    timeout_sec: int = 300,
) -> dict:
    """NEAR-duplicate corpus admission — the streaming composition of the
    batch fuzzy-dedup stack (`minhash_signatures` → `lsh_band_keys` →
    `connected_components` → keep-min, all reused verbatim from
    ``operators.dedup``): a micro-batch row is admitted only if it is the
    (conv_id, turn_idx)-minimal member of its within-batch near-dup
    cluster AND none of its LSH bands already stand in the admitted
    corpus.

    Band collision IS the rejection decision (the Gopher/RefinedWeb
    convention; the batch-side `dup_components` pairs docs on the same
    band keys).  Exact duplicates are subsumed: identical text ⇒ identical
    signatures ⇒ identical bands ⇒ same cluster.  Signatures tokenize
    ``array_distinct(split(lower(text), " "))``, so texts equal after
    ``lower`` are rejected too, within a batch and against the standing
    corpus.  Texts that differ only in whitespace (``"a  b"`` vs
    ``"a b"``, ``"a\\nb"`` vs ``"a b"``) tokenize differently and are NOT
    guaranteed to collide: this sink does not normalize whitespace.

    Replay idempotency comes from the semantics, not a transactional
    sink: a batch whose append committed but whose offset did not
    re-derives the same survivors on restart, and every one of them now
    collides with its own standing bands — the replay admits nothing.
    (The MERGE sink above gets the same property from key-conditioned
    overwrite; admission gets it from its own rejection rule.)

    100 TB shape: signatures/bands are narrow per-row expressions (zero
    shuffle before the band key — the plan-pinned property of
    `minhash_signatures`); the standing side reduces to its distinct
    band keys (the column-pruned band INDEX of the admitted table, which
    a deployment maintains incrementally); within-batch clustering runs
    on star edges (member → band-min), bounded by micro-batch size.

    The index is DERIVED from the admitted table rather than dual-written
    to its own directory on purpose: with two non-atomic appends, a crash
    between them either loses rows (index-first: the replay rejects rows
    the corpus never got) or duplicates them (corpus-first: the replay's
    index misses what the corpus holds) depending on write order.  One
    physical commit point keeps replay exact; a deployment that wants a
    materialized index commits corpus + index in one atomic snapshot (one
    table-format commit, e.g. an Iceberg snapshot), which no job here
    needs.
    """
    from pyspark.sql import Window

    from pyspark.errors import AnalysisException

    from ..operators.dedup import (
        connected_components,
        lsh_band_keys,
        minhash_signatures,
    )

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    seen = {"batches": 0, "admitted": 0, "rejected_within_batch": 0,
            "rejected_standing": 0, "rejected_null_text": 0,
            "admitted_by_batch": []}

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        n_input = batch_df.count()
        # numeric row key: connected_components' convergence check sums
        # labels as decimal, so node ids must be numeric; keep-first
        # determinism does NOT ride on this key (the component window
        # below orders by the real (conv_id, turn_idx))
        rows = batch_df.filter(F.col("text").isNotNull()).withColumn(
            "row_key", F.xxhash64("conv_id", "turn_idx")
        )
        sigs = minhash_signatures(rows, id_col="row_key").withColumn(
            "bands", lsh_band_keys()
        ).select("row_key", "bands")
        rows = rows.join(sigs, "row_key").persist()
        n_rows = rows.count()
        exploded = rows.select("row_key", F.explode("bands").alias("band"))
        # within-batch star edges: every band member links to the band min
        band_min = F.min("row_key").over(Window.partitionBy("band"))
        edges = (
            exploded.withColumn("m", band_min)
            .filter(F.col("row_key") != F.col("m"))
            .select(F.col("row_key").alias("doc_a"), F.col("m").alias("doc_b"))
            .distinct()
        )
        comps = connected_components(edges)
        # drop every clustered member except the (conv_id, turn_idx) min
        # (members is the comma-joined string form the CC contract emits)
        member = comps.select(
            F.col("component"),
            F.explode(
                F.transform(F.split("members", ","), lambda x: x.cast("long"))
            ).alias("row_key"),
        ).join(rows.select("row_key", "conv_id", "turn_idx"), "row_key")
        rn = F.row_number().over(
            Window.partitionBy("component").orderBy("conv_id", "turn_idx")
        )
        losers = (
            member.withColumn("rn", rn).filter(F.col("rn") > 1)
            .select("row_key")
        )
        survivors = rows.join(losers, "row_key", "left_anti")
        try:
            standing_bands = (
                spark.read.parquet(admitted_dir)
                .select(F.explode("bands").alias("band")).distinct()
            )
            collided = (
                survivors.select("row_key", F.explode("bands").alias("band"))
                .join(standing_bands, "band", "left_semi")
                .select("row_key").distinct()
            )
            fresh = survivors.join(collided, "row_key", "left_anti").persist()
        except AnalysisException:  # first batch: no admitted output yet
            fresh = survivors.persist()
        n_fresh = fresh.count()
        n_survivors = survivors.count()
        fresh.drop("row_key").write.mode("append").parquet(admitted_dir)
        fresh.unpersist()
        rows.unpersist()
        batch_df.unpersist()
        seen["batches"] += 1
        seen["admitted"] += n_fresh
        seen["rejected_within_batch"] += n_rows - n_survivors
        seen["rejected_standing"] += n_survivors - n_fresh
        seen["rejected_null_text"] += n_input - n_rows
        seen["admitted_by_batch"].append(n_fresh)
        if (
            crash_after_batches is not None
            and seen["batches"] >= crash_after_batches
        ):
            raise InjectedCrash(f"after batch {batch_id}")

    q = (
        stream.writeStream.foreachBatch(admit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    return seen

