"""Output checks, run after timing.

* content hash: the decimal sum of ``xxhash64`` over ``TURNS_EXTRACTED_COLS``
  must equal the value pinned for the (workload, seed) in ``pinned.json``
  when there is one, and be the same for every job of the run;
* counts reconcile: turns = input, spans = Σ n_spans, lineage Σ n_turns =
  turns, one manifest row per written bucket; keys are unique;
* a fixed sample of conversations equals the pure-pandas oracle
  ``rules.oracle_extract_turns``.

Each function returns a list of failure messages, empty when all hold.
"""

from __future__ import annotations

import functools
import json
import math
import os

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from text_extractor_for_bioeconomic_products_spark import rules
from text_extractor_for_bioeconomic_products_spark.operators.extract import (
    TURNS_EXTRACTED_COLS,
)

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def content_hash():
    return F.sum(F.xxhash64(*TURNS_EXTRACTED_COLS).cast("decimal(38,0)"))


def pinned_hash(workload: str, seed: int):
    with open(PINNED) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def _per_dir(spark, dirs: dict, sub: str, *aggs) -> dict:
    """One aggregate per labelled output dir, in a single Spark job."""
    parts = [spark.read.parquet(os.path.join(d, sub)).withColumn("_dir", F.lit(label))
             for label, d in dirs.items()]
    df = functools.reduce(lambda a, b: a.unionByName(b), parts)
    got = {r["_dir"]: r for r in df.groupBy("_dir").agg(*aggs).collect()}
    return {label: got.get(label) for label in dirs}


def check_hashes(hashes: dict, workload: str, seed: int) -> dict:
    """label → failures, for the content-hash rule."""
    pinned = pinned_hash(workload, seed)
    values = set(hashes.values())
    out = {}
    for label, h in hashes.items():
        fails = []
        if pinned is not None and str(h) != pinned:
            fails.append(f"{label}: content hash {h} != pinned {pinned}")
        if len(values) > 1:
            fails.append(f"{label}: content hash differs between jobs: {sorted(map(str, values))}")
        out[label] = fails
    return out


def _arrow(path: str, col: str) -> list:
    """One column of a (bucket-partitioned) parquet output, via pyarrow."""
    return pq.read_table(path, columns=[col]).column(col).to_pylist()


def check_extraction_outputs(spark, outs: dict, meta: dict, seed: int) -> dict:
    """``run_extraction`` outputs, one dir per job: label → failures.

    The content hash needs Spark's ``xxhash64``; the plain counts of the
    small side outputs are read with pyarrow, which saves a Spark job each."""
    turns = _per_dir(
        spark, outs, "turns_extracted",
        F.count("*").alias("n"), content_hash().alias("h"),
        F.countDistinct("conv_id", "turn_idx").alias("keys"),
        F.sum("n_spans").alias("spans"), F.countDistinct("bucket").alias("buckets"),
    )
    fails = {}
    for label, d in outs.items():
        t, f = turns[label], []
        if t is None:
            fails[label] = [f"{label}: no turns_extracted output"]
            continue
        if t["n"] != meta["turns"]:
            f.append(f"{label}: {t['n']} turns written, input has {meta['turns']}")
        if t["keys"] != t["n"]:
            f.append(f"{label}: {t['n'] - t['keys']} duplicate keys")
        spans = len(_arrow(os.path.join(d, "product_spans"), "conv_id"))
        if spans != (t["spans"] or 0):
            f.append(f"{label}: span rows {spans} != Σ n_spans {t['spans']}")
        lineage = sum(_arrow(os.path.join(d, "lineage"), "n_turns"))
        if lineage != t["n"]:
            f.append(f"{label}: lineage Σ n_turns {lineage} != {t['n']}")
        manifest = _arrow(os.path.join(d, "manifest"), "bucket")
        if not (len(manifest) == len(set(manifest)) == t["buckets"]):
            f.append(f"{label}: manifest buckets {sorted(manifest)} != {t['buckets']} written")
        fails[label] = f
    for label, f in check_hashes({k: turns[k]["h"] for k in outs if turns[k]},
                                 meta["workload"], seed).items():
        fails[label].extend(f)
    return fails


def check_merged_tables(spark, tables: dict, meta: dict, seed: int) -> dict:
    """Merged turns tables, one per stream pass: label → failures."""
    got = _per_dir(
        spark, {k: os.path.dirname(v) for k, v in tables.items()},
        os.path.basename(next(iter(tables.values()))),
        F.count("*").alias("n"), content_hash().alias("h"),
        F.countDistinct("conv_id", "turn_idx").alias("keys"),
    )
    fails = {}
    for label, t in got.items():
        f = []
        if t is None:
            fails[label] = [f"{label}: merged table unreadable"]
            continue
        if t["n"] != meta["final_turns"]:
            f.append(f"{label}: {t['n']} rows after merge, expected {meta['final_turns']}")
        if t["keys"] != t["n"]:
            f.append(f"{label}: {t['n'] - t['keys']} duplicate keys after merge")
        fails[label] = f
    for label, f in check_hashes({k: got[k]["h"] for k in got if got[k]},
                                 meta["workload"], seed).items():
        fails[label].extend(f)
    return fails


def check_oracle(spark, turns_dir: str, sample: list) -> list:
    """The sample's rows in ``turns_dir`` against the pandas oracle."""
    pdf = pd.DataFrame(sample)
    exp = rules.oracle_extract_turns(pdf)
    cols = ["conv_id", "turn_idx", "clean_text", "lang", "lang_conf",
            "relevance", "n_tokens", "n_spans", "n_pages"]
    got = (
        spark.read.parquet(turns_dir)
        .filter(F.col("conv_id").isin(sorted(set(pdf["conv_id"]))))
        .select(*cols).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    if len(got) != len(exp):
        return [f"oracle sample: {len(got)} rows written, oracle has {len(exp)}"]
    fails = []
    for col in ["conv_id", "turn_idx", "clean_text", "lang", "n_tokens", "n_spans", "n_pages"]:
        bad = int((got[col].values != exp[col].values).sum())
        if bad:
            fails.append(f"oracle sample: {bad}/{len(exp)} rows differ in {col}")
    for col in ["lang_conf", "relevance"]:
        bad = sum(not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
                  for a, b in zip(got[col], exp[col]))
        if bad:
            fails.append(f"oracle sample: {bad}/{len(exp)} rows differ in {col}")
    return fails
