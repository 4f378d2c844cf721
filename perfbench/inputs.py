"""Seeded workload inputs, built untimed and cached by (workload, seed).

Every file count is pinned: the corpus write runs its sort shuffle at
exactly the wanted partition count with AQE coalescing off, so the scan
task count (and with it the job's output file fan-out) does not drift
with data size.  ``meta.json`` beside each input records what was built.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow.parquet as pq

from text_extractor_for_bioeconomic_products_spark.operators.extract import extract_turns
from text_extractor_for_bioeconomic_products_spark.plans.pipeline import merge_turns
from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
    read_transcripts,
    synthesize_transcripts,
    write_transcripts,
)

VERSION = 6  # of the input layout: a cached input of another version is rebuilt
ARROW_BATCH = 8192  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py

BULK_CONVS = 450  # 19,933 turns: a job takes 4-6 s on 4 vCPUs
BULK_FILES = 4  # one scan task per core of local[4]
BULK_BUCKETS = 4

STREAM_BASE_CONVS = 150  # 6,599 turns in the target table
STREAM_DELTAS = 8  # one micro-batch each (maxFilesPerTrigger=1)
STREAM_BASE_FILES = 2  # merged untimed into an empty table: the target
STREAM_HALF = 1  # conversations per delta already in the target; as many new
STREAM_BUCKETS = 8
DELTA_SEED_OFFSET = 7919  # deltas re-draw the payload of keys they update


def _pinned_write(spark, df, path: str, n_files: int) -> None:
    """``write_transcripts`` with exactly ``n_files`` parquet files."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    prior = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], str(n_files))
    spark.conf.set(keys[1], "false")
    try:
        write_transcripts(df, path)
    finally:
        for k, v in zip(keys, prior):
            spark.conf.set(k, v)
    got = len(glob.glob(os.path.join(path, "*.parquet")))
    if got != n_files:
        raise RuntimeError(f"{path}: wrote {got} files, wanted {n_files}")


def dir_stats(path: str) -> tuple:
    """(data files, MB) under ``path``; Spark's hidden side files excluded."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            size += os.path.getsize(fp)
            if f.endswith(".parquet") or f.endswith(".json"):
                n += 1
    return n, size / 1e6


def unique_share(batches) -> float:
    """Distinct payloads ÷ rows, over the UDF's Arrow batches."""
    rows = sum(len(b) for b in batches)
    uniq = sum(len(set(b)) for b in batches)
    return uniq / rows if rows else 0.0


def text_batches(files, limit_rows: int | None = None) -> list:
    """The ``text`` column of ``files``, cut into the UDF's batches: each
    scan task reads its own file, so batches never span two files."""
    out, n = [], 0
    for f in files:
        col = pq.read_table(f, columns=["text"]).column("text").to_pylist()
        col = ["" if t is None else t for t in col]
        for i in range(0, len(col), ARROW_BATCH):
            out.append(col[i:i + ARROW_BATCH])
            n += len(out[-1])
            if limit_rows is not None and n >= limit_rows:
                return out
    return out


def _sample_rows(files, conv_ids) -> list:
    rows = []
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx", "text"]).to_pylist()
        rows.extend(r for r in t if r["conv_id"] in conv_ids)
    return rows


def _finish(d: str, meta: dict) -> dict:
    meta["version"] = VERSION
    with open(os.path.join(d, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    return meta


def build_bulk(spark, d: str, seed: int) -> dict:
    corpus = os.path.join(d, "corpus")
    _pinned_write(
        spark, synthesize_transcripts(spark, n_convs=BULK_CONVS, seed=seed),
        corpus, BULK_FILES,
    )
    files = sorted(glob.glob(os.path.join(corpus, "*.parquet")))
    n_files, mb = dir_stats(corpus)
    batches = text_batches(files)
    # oracle sample: the first non-mega conversations (conv 0 is the mega one)
    sample_ids = {f"conv-{i:06d}" for i in range(1, 5)}
    return _finish(d, {
        "workload": "bulk_extract", "seed": seed,
        "corpus": "corpus", "turns": sum(len(b) for b in batches),
        "files": n_files, "mb": round(mb, 3),
        "unique_share": round(unique_share(batches), 4),
        "n_buckets": BULK_BUCKETS,
        "oracle_sample": _sample_rows(files, sample_ids),
    })


def build_stream(spark, d: str, seed: int) -> dict:
    """Base transcripts, the target turns table merged from them, and
    ``STREAM_DELTAS`` delta files.

    Delta ``i`` holds ``STREAM_HALF`` conversations already in the target,
    re-drawn under another seed so the upsert really changes them, and
    ``STREAM_HALF`` new ones.  Deltas share no key, so the merged state
    does not depend on the order the micro-batches apply in."""
    from pyspark.sql import functions as F

    base_dir = os.path.join(d, "base")
    _pinned_write(
        spark, synthesize_transcripts(spark, n_convs=STREAM_BASE_CONVS, seed=seed),
        base_dir, STREAM_BASE_FILES,
    )

    n_upd = STREAM_DELTAS * STREAM_HALF
    if n_upd >= STREAM_BASE_CONVS:
        raise ValueError("deltas would update more conversations than exist")
    gen = synthesize_transcripts(
        spark, n_convs=STREAM_BASE_CONVS + n_upd, seed=seed + DELTA_SEED_OFFSET
    )
    num = F.substring("conv_id", 6, 6).cast("int")
    delta_id = (
        F.when((num >= 1) & (num <= n_upd), F.floor((num - 1) / STREAM_HALF))
        .when(num >= STREAM_BASE_CONVS, F.floor((num - STREAM_BASE_CONVS) / STREAM_HALF))
        .cast("int")
    )
    staging = os.path.join(d, "staging")
    (
        gen.withColumn("delta_id", delta_id)
        .filter(F.col("delta_id").isNotNull())
        .repartition(1)  # one writer task: one file per delta
        .write.mode("overwrite").partitionBy("delta_id").parquet(staging)
    )
    deltas = os.path.join(d, "deltas")
    os.makedirs(deltas)
    for i in range(STREAM_DELTAS):
        (src,) = glob.glob(os.path.join(staging, f"delta_id={i}", "*.parquet"))
        dst = os.path.join(deltas, f"delta-{i:03d}.parquet")
        shutil.move(src, dst)
        # the file source orders a trigger's candidates by modification time
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    shutil.rmtree(staging)

    delta_files = sorted(glob.glob(os.path.join(deltas, "*.parquet")))
    base_files = sorted(glob.glob(os.path.join(base_dir, "*.parquet")))
    batches = text_batches(delta_files)
    delta_rows = [
        r for f in delta_files
        for r in pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pylist()
    ]
    base_keys = {
        (r["conv_id"], r["turn_idx"]) for f in base_files
        for r in pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pylist()
    }
    delta_keys = {(r["conv_id"], r["turn_idx"]) for r in delta_rows}
    # oracle sample: updated by the first and the last delta, new, untouched
    updated = ["conv-000001", f"conv-{n_upd:06d}"]
    new = [f"conv-{STREAM_BASE_CONVS:06d}"]
    untouched = [f"conv-{STREAM_BASE_CONVS - 1:06d}"]
    from_deltas = _sample_rows(delta_files, set(updated + new))
    from_base = _sample_rows(base_files, set(untouched))
    # the target table, built once and copied before each timed pass
    merge_turns(spark, os.path.join(d, "target", "turns"),
                extract_turns(read_transcripts(spark, base_dir)).drop("spans"),
                n_buckets=STREAM_BUCKETS)
    n_files, mb = dir_stats(deltas)
    return _finish(d, {
        "workload": "stream_upsert", "seed": seed,
        "base": "base", "deltas": "deltas", "target": "target",
        "turns": len(delta_rows), "files": n_files, "mb": round(mb, 3),
        "unique_share": round(unique_share(batches), 4),
        "base_turns": len(base_keys),
        "updated_turns": len(delta_keys & base_keys),
        "final_turns": len(base_keys | delta_keys),
        "n_buckets": STREAM_BUCKETS,
        "oracle_sample": from_deltas + from_base,
    })


BUILDERS = {"bulk_extract": build_bulk, "stream_upsert": build_stream}


def ensure(spark, root: str, workload: str, seed: int) -> tuple:
    """Directory and meta of the (workload, seed) input, building it once."""
    d = os.path.join(root, f"{workload}-{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("version") == VERSION:
            return d, meta
    shutil.rmtree(d, ignore_errors=True)  # a build cut short leaves no meta
    os.makedirs(d)
    return d, BUILDERS[workload](spark, d, seed)
