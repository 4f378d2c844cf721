"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (SURVEY §2.11); this module is the
engine's forward-looking stream path: the same stateless extraction
operators applied via ``readStream`` → ``writeStream``.  Because
``extract_turns`` is a narrow map, it is streaming-safe with no state
store; per-conversation aggregation uses a watermark on ``ts``.

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
    """Continuous corpus admission — the streaming face of
    ``operators.dedup.incremental_dedup_census`` (which is the batch
    census of the same decision): each micro-batch keeps ONE row per
    normalized-content hash (keep-first within the batch, deterministic
    (conv_id, turn_idx) order) and anti-joins the standing ADMITTED
    corpus on that hash before appending — so the admitted table never
    holds two rows with the same content.

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
        batch_df = batch_df.persist()
        res = merge_turns(spark, turns_dir, batch_df, n_buckets=n_buckets)
        hw = high_water["ts"]
        if hw is None:
            late, batch_max = 0, batch_df.agg(F.max("ts")).collect()[0][0]
        else:
            threshold = F.lit(hw) - F.expr(
                f"INTERVAL {int(allowed_lateness_sec)} SECONDS"
            )
            row = batch_df.agg(
                F.sum(F.when(F.col("ts") < threshold, 1).otherwise(0)).alias(
                    "late"
                ),
                F.max("ts").alias("mx"),
            ).collect()[0]
            late, batch_max = int(row["late"] or 0), row["mx"]
        if batch_max is not None and (hw is None or batch_max > hw):
            high_water["ts"] = batch_max
        batch_df.unpersist()
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
    batch fuzzy-dedup stack (`minhash_signatures` → band keys →
    `connected_components` → keep-min, all reused verbatim from
    ``operators.dedup``): a micro-batch row is admitted only if it is the
    (conv_id, turn_idx)-minimal member of its within-batch near-dup
    cluster AND none of its LSH bands already stand in the admitted
    corpus.

    Band collision IS the rejection decision (the Gopher/RefinedWeb
    convention; the batch-side `dup_components` applies the same rule,
    with its recall/precision characteristics measured in the ANN/dedup
    ledgers).  Exact duplicates are subsumed: identical text ⇒ identical
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
    materialized index commits corpus + index in one atomic snapshot —
    exactly what ``plans.versioned.commit_merge`` provides.
    """
    from pyspark.sql import Window

    from pyspark.errors import AnalysisException

    from ..operators.dedup import (
        LSH_BAND_ROWS,
        N_LSH_BANDS,
        connected_components,
        minhash_signatures,
    )

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    seen = {"batches": 0, "admitted": 0, "rejected_within_batch": 0,
            "rejected_standing": 0, "rejected_null_text": 0,
            "admitted_by_batch": []}

    # identical band-key construction to minhash_band_census, over the
    # sig_ columns minhash_signatures emits
    band_array = F.array(*[
        F.concat(
            F.lit(f"{b}:"),
            F.concat_ws(
                "|",
                *[
                    F.substring(f"sig_{LSH_BAND_ROWS * b + j}", 1, 8)
                    for j in range(LSH_BAND_ROWS)
                ],
            ),
        )
        for b in range(N_LSH_BANDS)
    ])

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
            "bands", band_array
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


EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double"
)


def streaming_purchase_followups(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window_s: int = 86400,
    watermark: str = "30 days",
    timeout_sec: int = 300,
) -> None:
    """Watermarked STREAM-STREAM interval join — the streaming twin of
    ``operators.temporal.interval_join``: purchases joined to the same
    user's events within ``(purchase_ts, purchase_ts + window]``, both
    sides file-source streams over the same events directory.

    The watermark bounds join state: a buffered purchase can be evicted
    once the touch-side watermark passes ``purchase_ts + window`` (Spark
    derives the state-cleanup condition from the time-range predicate),
    so state is O(events within the window + lateness horizon), not
    O(stream history).  With ``availableNow`` and a watermark covering
    the fixture's full time span, output is exactly the batch
    ``interval_join`` pair set — pinned by
    ``test_stream_stream_interval_join_matches_batch``."""

    def src() -> DataFrame:
        # watermarks require TIMESTAMP (tz-aware); the events table stores
        # TIMESTAMP_NTZ — cast is deterministic under the session's fixed
        # UTC timezone (session.py)
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    purchases = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    touches = src().withWatermark("ts", watermark)
    joined = purchases.join(
        touches,
        F.expr(
            f"user_id = p_user_id AND ts > purchase_ts "
            f"AND ts <= purchase_ts + INTERVAL {int(window_s)} SECOND"
        ),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "event_id", "ts", "value")
    q = (
        joined.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "followups_stream"))
        .option(
            "checkpointLocation", os.path.join(out_dir, "_followups_checkpoint")
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


def measure_streaming_rate(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    timeout_sec: int = 120,
) -> dict:
    """Continuous micro-batch run (processingTime=0) over a pre-split
    input directory; returns per-batch telemetry from the query's
    progress log — the streaming-latency twin of bench.py's batch
    throughput measurement.

    Output: {n_batches, n_rows, complete, batch_ms (sorted, batch 0
    excluded — first-trigger JVM/worker warmup), median_batch_ms,
    rows_per_sec_per_batch}.  ``complete`` is False when the deadline
    expired before every input row was processed — telemetry from such a
    run is partial and must not be read as a full-corpus measurement.
    """
    import json as _json
    import time as _time

    total = spark.read.parquet(input_dir).count()
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    turns = extract_turns(stream).drop("spans")
    q = (
        turns.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "rate_stream"))
        .option("checkpointLocation", os.path.join(out_dir, "_rate_checkpoint"))
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    # recentProgress is a ring buffer (spark.sql.streaming.
    # numRecentProgressUpdates, default 100): merge each poll's snapshot
    # into a dict keyed by batchId so runs of >100 micro-batches neither
    # hang the completion check nor drop early batches from telemetry
    seen: dict = {}
    deadline = _time.monotonic() + timeout_sec
    while _time.monotonic() < deadline:
        for p in q.recentProgress:
            d = _json.loads(p.json)
            seen[d["batchId"]] = d
        if (
            sum(p["numInputRows"] for p in seen.values()) >= total
            and not q.status["isDataAvailable"]
        ):
            break
        _time.sleep(0.3)
    for p in q.recentProgress:
        d = _json.loads(p.json)
        seen[d["batchId"]] = d
    ps = [p for p in seen.values() if p["numInputRows"] > 0]
    q.stop()
    steady = [p for p in ps if p["batchId"] > 0]
    batch_ms = sorted(p["durationMs"]["triggerExecution"] for p in steady)
    n_rows = sum(p["numInputRows"] for p in ps)
    return {
        "n_batches": len(ps),
        "n_rows": n_rows,
        "complete": n_rows >= total,
        "batch_ms": batch_ms,
        "median_batch_ms": batch_ms[len(batch_ms) // 2] if batch_ms else None,
        "rows_per_sec_per_batch": [
            round(p["processedRowsPerSecond"], 1) for p in steady
        ],
    }


def read_event_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over an events parquet directory (the
    ``events`` table schema)."""
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_streaming_sessionizer(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    gap_sec: int = 1800,
    watermark: str = "10 seconds",
    timeout_sec: int = 300,
) -> dict:
    """Event-time SESSION WINDOWS via ``applyInPandasWithState`` +
    ``EventTimeTimeout`` — the canonical arbitrary-stateful pattern the
    built-in window functions cannot express incrementally: a session
    has no fixed width, it closes only when the event-time watermark
    passes ``last_event + gap``.

    Per user, state is the OPEN session (start/last epoch, count, exact
    micro-unit value sum, first event id).  Each micro-batch merges its
    (sorted) events into the open session, emits every session CLOSED
    by an in-batch gap immediately, keeps the tail open, and arms an
    event-time timeout at ``last + gap``; when the watermark passes it,
    the timeout callback emits the final session and drops the state —
    so state is O(open sessions), never O(history).

    Semantics match the batch ``relational.sessionize`` exactly (strict
    ``> gap_sec`` split on INTEGER epoch seconds; session_value as a
    DECIMAL(18,6)-quantized exact sum rounded to 4 — micro-units here,
    pytest-pinned stream == batch on multi-batch input).  Emitted rows
    carry ``closed_by`` ∈ {gap, timeout} for observability.

    At 10^12-turn scale this is the shape that matters: per-key state is
    five numbers regardless of session length, the state store shuffles
    once on user_id.  Lateness: each batch sorts ITS OWN events, and a
    cross-batch late event merges order-aware into the open session
    (start = min, last = max — never regressing the session clock); a
    straggler older than an already-CLOSED session necessarily starts a
    new one (sessions are emitted append-mode and cannot reopen — the
    standard online-sessionization boundary, same as Spark's built-in
    session_window)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_event_stream(spark, input_dir).withWatermark(
        "ts", watermark
    )

    out_schema = (
        "user_id long, n_events long, session_value double, "
        "first_event_id long, start_epoch long, end_epoch long, "
        "closed_by string"
    )
    state_schema = (
        "start_epoch long, last_epoch long, n_events long, "
        "value_micro long, first_event_id long"
    )

    def _row(user_id, sess, closed_by):
        start, last, n, micro, first_eid = sess
        # DECIMAL(18,6)-exact sum → HALF_UP round to 4 (the batch
        # sessionize contract: sum(cast(value as decimal(18,6)))→round 4)
        import decimal
        val = float(
            (decimal.Decimal(micro) / decimal.Decimal(1_000_000)).quantize(
                decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
            )
        )
        return (user_id, n, val, first_eid, start, last, closed_by)

    def track(key, pdfs, state: GroupState):
        import decimal
        user_id = key[0]
        if state.hasTimedOut:
            sess = state.get
            state.remove()
            yield pd.DataFrame(
                [_row(user_id, sess, "timeout")],
                columns=["user_id", "n_events", "session_value",
                         "first_event_id", "start_epoch", "end_epoch",
                         "closed_by"],
            )
            return
        rows = []
        for pdf in pdfs:
            for eid, ts, val in zip(pdf["event_id"], pdf["ts"], pdf["value"]):
                if ts is None or ts != ts:  # NaT: batch sessionize's
                    continue               # window also never sees it
                # INTEGER epoch seconds — the unix_timestamp contract
                rows.append((int(ts.timestamp()), int(eid), float(val)))
        rows.sort()
        open_sess = tuple(state.get) if state.exists else None
        closed = []
        for epoch, eid, val in rows:
            # null value: counts toward n_events, adds 0 to the sum —
            # the SQL sum-ignores-nulls contract
            micro = 0 if val != val else int(
                decimal.Decimal(str(val)).quantize(
                    decimal.Decimal("0.000001"),
                    rounding=decimal.ROUND_HALF_UP,
                ) * 1_000_000
            )
            if open_sess is None:
                open_sess = (epoch, epoch, 1, micro, eid)
            elif epoch - open_sess[1] > gap_sec:
                closed.append(_row(user_id, open_sess, "gap"))
                open_sess = (epoch, epoch, 1, micro, eid)
            else:
                # ORDER-AWARE merge: a cross-batch LATE event (epoch <
                # open last) must extend the session's membership, never
                # regress its clock — last = max, start = min (the naive
                # last = epoch would shrink last and make the NEXT gap
                # check measure against the late straggler, splitting a
                # session batch mode keeps whole)
                start, last, n, vm, first_eid = open_sess
                open_sess = (min(start, epoch), max(last, epoch), n + 1,
                             vm + micro, min(first_eid, eid))
        if open_sess is None:
            # only null-ts events for a key with no state: nothing to
            # open, and state.update(None) would kill the query
            return
        state.update(open_sess)
        # arm the close timer; must stay ahead of the current watermark
        desired_ms = (open_sess[1] + gap_sec) * 1000 + 1
        state.setTimeoutTimestamp(
            max(desired_ms, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "n_events", "session_value",
                         "first_event_id", "start_epoch", "end_epoch",
                         "closed_by"],
            )

    sessions = events.groupBy("user_id").applyInPandasWithState(
        track, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(
            os.path.join(out_dir, "sessions_stream")
        )

    q = (
        sessions.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation",
                os.path.join(out_dir, "_sessionizer_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    # state-store telemetry per micro-batch (read BEFORE stop — the
    # progress ring dies with the query): numRowsTotal is the count of
    # OPEN sessions, the probe's boundedness evidence (state must track
    # open keys, never event history)
    import json as _json
    telemetry = []
    for p in q.recentProgress:
        d = _json.loads(p.json)
        ops = d.get("stateOperators") or [{}]
        telemetry.append({
            "batch_id": d["batchId"],
            "n_input_rows": d["numInputRows"],
            "state_rows": ops[0].get("numRowsTotal"),
            "trigger_ms": d["durationMs"].get("triggerExecution"),
        })
    if q.isActive:
        q.stop()
    if not finished:
        raise RuntimeError(
            f"streaming sessionizer did not finish within {timeout_sec}s — "
            "output and telemetry are truncated, not measurements"
        )
    return {"batches": telemetry}
