"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY §2.11); this module is the
engine's forward-looking stream path: the same stateless extraction
operators applied via ``readStream`` → ``writeStream``.  Because
``extract_turns`` is a narrow map, it is streaming-safe with no state
store; per-conversation aggregation uses a watermark on ``ts``.  Every
stream here reads transcripts; ``jobs/run_streaming.py`` runs the modes.

``Trigger.AvailableNow`` gives batch-equivalent semantics for backfill —
the test suite asserts stream output == batch output on the same input.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_turns
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_dir: str,
                            max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream over a transcripts parquet directory.

    maxFilesPerTrigger bounds per-micro-batch work (the streaming analog
    of spark.sql.files.maxPartitionBytes).
    """
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_streaming_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    available_now: bool = True,
    timeout_sec: int = 300,
) -> None:
    """Stream transcripts → extract → parquet sink, exactly-once via the
    streaming checkpoint (offset log + file-sink manifest)."""
    stream = read_transcript_stream(spark, input_dir)
    turns = extract_turns(stream).drop("spans")
    writer = (
        turns.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "turns_extracted_stream"))
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.trigger(processingTime="10 seconds").start()
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


def run_stateful_conversation_tracker(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    timeout_sec: int = 300,
) -> None:
    """Custom stateful streaming operator via applyInPandasWithState:
    running per-conversation totals (turns seen, spans seen, last
    turn_idx) maintained across micro-batches in the state store — the
    arbitrary-stateful-processing surface the graft requires."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_transcript_stream(spark, input_dir)
    turns = extract_turns(stream).select("conv_id", "turn_idx", "n_spans")

    out_schema = (
        "conv_id string, turns_seen long, spans_seen long, max_turn_idx int"
    )
    state_schema = "turns_seen long, spans_seen long, max_turn_idx int"

    def track(key, pdfs, state: GroupState):
        turns_seen, spans_seen, max_idx = (
            state.get if state.exists else (0, 0, -1)
        )
        for pdf in pdfs:
            turns_seen += len(pdf)
            spans_seen += int(pdf["n_spans"].sum())
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns_seen, spans_seen, max_idx))
        yield pd.DataFrame({
            "conv_id": [key[0]],
            "turns_seen": [turns_seen],
            "spans_seen": [spans_seen],
            "max_turn_idx": [max_idx],
        })

    tracked = turns.groupBy("conv_id").applyInPandasWithState(
        track, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )
    # update-mode state op needs an update-mode sink; the parquet file
    # sink is append-only, so route through foreachBatch (the standard
    # pattern for update-mode stateful output to files)
    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(
            os.path.join(out_dir, "conv_tracker_stream")
        )

    q = (
        tracked.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_tracker_checkpoint"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


def streaming_conversation_counts(
    spark: SparkSession, input_dir: str, out_dir: str, timeout_sec: int = 300
) -> None:
    """Watermarked windowed aggregate: spans per conversation per 10-min
    event-time window, late data beyond 30 min dropped — the stateful-op
    pattern (watermark + window) on the extraction output."""
    stream = read_transcript_stream(spark, input_dir)
    turns = extract_turns(stream)
    agg = (
        turns.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes"), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "conv_counts_stream"))
        .option("checkpointLocation", os.path.join(out_dir, "_agg_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


def run_streaming_dedup_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    timeout_sec: int = 300,
) -> None:
    """Exactly-once per-key output under at-least-once input: stateful
    streaming dedup on (conv_id, turn_idx), then the extraction map.

    ``dropDuplicatesWithinWatermark`` is the correct primitive here: it
    evicts per-key state once the key's event time falls behind the
    watermark WITHOUT requiring the event-time column in the key, and —
    unlike watermark + plain ``dropDuplicates`` — does not discard a
    never-seen late row outright (plain dropDuplicates with a watermark
    but no event-time key would filter late rows pre-dedup and never
    evict state)."""
    stream = read_transcript_stream(spark, input_dir)
    unique = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    turns = extract_turns(unique).drop("spans")
    q = (
        turns.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "turns_dedup_stream"))
        .option("checkpointLocation", os.path.join(out_dir, "_dedup_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


class InjectedCrash(RuntimeError):
    """Test hook: simulates the driver dying between a completed merge
    and the streaming checkpoint commit — the window where a naive sink
    would double-apply the batch on restart."""


def run_streaming_dedup_admission(
    spark: SparkSession,
    input_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    crash_after_batches: int | None = None,
    timeout_sec: int = 300,
) -> dict:
    """Continuous corpus admission by exact content: each micro-batch
    keeps ONE row per normalized-content hash (keep-first within the
    batch, deterministic (conv_id, turn_idx) order) and anti-joins the
    standing ADMITTED corpus on that hash before appending — so the
    admitted table never holds two rows with the same content.

    Delivery semantics: the file-source checkpoint gives at-least-once
    foreachBatch invocations; here the admission predicate ITSELF is the
    idempotency mechanism.  If the driver dies after a batch's append
    but before its offset commit (the ``crash_after_batches`` window),
    the replayed batch re-derives the same candidate set and the
    anti-join now rejects every row the dead attempt already admitted —
    replay converges to the identical corpus instead of duplicating it.
    The MERGE sink above needs key-conditioned overwrite for this
    property; admission gets it from its own semantics.

    100 TB shape: the standing side reduces to its ``content_hash``
    column before the join (32-hex uniform key, column-pruned read of
    the admitted parquet); at deployment scale that column is the
    incrementally-maintained hash index a real pipeline keeps alongside
    the corpus, not a rescan.  Within-batch keep-first and the
    membership join key on the SAME hash, so the window reuses the
    join's partitioning — one shuffle of the (small) micro-batch.
    Reference analog: the reference's batch scan loop
    (`src/core/pdf_processor.py:90` `process_directory`) paired with
    its per-file content-hash identity (`src/utils/helpers.py:83`
    `get_file_hash`), lifted to a continuously-ingested corpus.
    """
    from pyspark.sql import Window

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    seen = {"batches": 0, "admitted": 0, "rejected_standing": 0,
            "rejected_within_batch": 0, "admitted_by_batch": []}

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
        cand = batch_df.withColumn("content_hash", F.md5(norm)).persist()
        n_batch = cand.count()
        first = F.row_number().over(
            Window.partitionBy("content_hash").orderBy("conv_id", "turn_idx")
        )
        uniq = (
            cand.withColumn("__rn", first)
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        n_uniq = uniq.count()
        from pyspark.errors import AnalysisException

        try:
            # schema read lists the dir eagerly, snapshotting the standing
            # corpus BEFORE this batch's own append lands
            standing = (
                spark.read.parquet(admitted_dir)
                .select("content_hash").distinct()
            )
            fresh = uniq.join(standing, "content_hash", "left_anti").persist()
        except AnalysisException:  # first batch: no admitted output yet
            fresh = uniq.persist()
        n_fresh = fresh.count()
        fresh.write.mode("append").parquet(admitted_dir)
        fresh.unpersist()
        cand.unpersist()
        seen["batches"] += 1
        seen["admitted"] += n_fresh
        seen["rejected_standing"] += n_uniq - n_fresh
        seen["rejected_within_batch"] += n_batch - n_uniq
        seen["admitted_by_batch"].append(n_fresh)
        if (
            crash_after_batches is not None
            and seen["batches"] >= crash_after_batches
        ):
            # append done, checkpoint commit for this batch never happens
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
    signatures ⇒ identical bands ⇒ same cluster.

    Replay idempotency again comes from the semantics, not a
    transactional sink: a batch whose append committed but whose offset
    did not re-derives the same survivors on restart, and every one of
    them now collides with its own standing bands — the replay admits
    nothing.  (Same property as the exact-hash sink above, one level up
    the similarity hierarchy.)

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

