#!/usr/bin/env python
"""Regenerate PLANS.md — formatted physical plans of flagship operators.

Usage: python jobs/dump_plans.py [> PLANS.md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        extract_turns,
    )
    from text_extractor_for_bioeconomic_products_spark.session import get_spark
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        synthesize_transcripts,
    )
    import __spark_entry__ as entry_mod

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    qs = entry_mod.queries()
    sections = [
        ("extract_turns (the extraction map)",
         "No shuffle exchange: scan → broadcast template join → "
         "ArrowEvalPython → project. At 100 TB this is scan → UDF → sink, "
         "embarrassingly parallel.",
         extract_turns(synthesize_transcripts(spark, n_convs=20, seed=42))),
        ("topk_urgent_orders (O1 top-k search)",
         "Predicates pushed into the parquet scan (PushedFilters), 3-column "
         "ReadSchema, TakeOrderedAndProject instead of global sort.",
         qs["topk_urgent_orders"](spark, SF)),
        ("revenue_by_priority (fact-fact join + agg)",
         "AQE picks broadcast at this scale; at 100 TB both sides are "
         "bucketed on orderkey so the join is co-located (see "
         "sources/layout.py and the bucketed section below).",
         qs["revenue_by_priority"](spark, SF)),
        ("dedup_minhash_lsh (shuffle-free signatures → band-keyed census)",
         "Round-2 rewrite: minhash signatures are narrow per-row expressions\n"
         "(`array_min(transform(words, w -> md5(seed‖w)))`) fused into the scan's\n"
         "projection — the plan's FIRST exchange is already keyed by the LSH band.\n"
         "The prior explode(words)→groupBy(doc_id) formulation moved every\n"
         "(doc, word) pair through an all-to-all the size of the tokenized corpus\n"
         "before any banding.  Pinned by `test_minhash_signatures_are_shuffle_free`\n"
         "and `test_lsh_band_census_shuffles_only_on_band`.",
         qs["dedup_minhash_lsh"](spark, SF)),
        ("purchase_attribution (distributed as-of join)",
         "Union-merge as-of: both sides project into one keyed stream, a\n"
         "single hash Exchange partitions on the key, and the window's\n"
         "`last(payload, ignorenulls)` carries the most recent build row\n"
         "forward — no range-explosion join, no second shuffle for the\n"
         "window (it reuses the Exchange's partitioning).  The outer\n"
         "rangepartitioning Exchange below is only the query's ORDER BY for\n"
         "deterministic output; the as-of mechanism itself shuffles once.\n"
         "Pinned by `test_asof_join_single_shuffle`.",
         qs["purchase_attribution"](spark, SF)),
        ("doc_lm_score (capped-vocab broadcast into the token stream)",
         "Unigram-LM scoring: the vocab cap is a TakeOrderedAndProject\n"
         "(distributed top-k — never a single-partition global sort) whose\n"
         "output BROADCASTS into a LeftOuter hash join against the token\n"
         "stream, so tokens are never hash-shuffled on the term key; the\n"
         "only term-keyed exchanges carry vocabulary-sized partial-agg\n"
         "output, and the one row-volume shuffle is the final doc_id\n"
         "rollup.  Pinned by `test_lm_score_vocab_broadcasts_into_token_stream`.",
         qs["doc_lm_score"](spark, SF)),
        ("duplicate_passages (cross-doc passage census)",
         "Grams are deduped AND hashed in-row, so the Generate emits\n"
         "(doc_id, int64) pairs — never passage strings; the gram\n"
         "document-frequency groupBy has a map-side partial below its\n"
         "Exchange, and both the dup-gram set and the per-doc dup counts\n"
         "ride BroadcastExchanges back into the row stream.  Pinned by\n"
         "`test_duplicate_passages_hashes_before_explode`.",
         qs["duplicate_passages"](spark, SF)),
        ("ann_lsh_multiprobe (query-side Hamming-1 probing)",
         "The corpus side is a narrow map to one (vec_id, bucket) row per\n"
         "vector — the only Generate (the probe-key explode) sits under\n"
         "the BroadcastExchange, so probe fan-out costs no corpus bytes;\n"
         "one BroadcastHashJoin selects candidates, TakeOrderedAndProject\n"
         "keeps k.  Pinned by `test_ann_multiprobe_corpus_not_exploded`.",
         qs["ann_lsh_multiprobe"](spark, SF)),
        ("semantic_dedup (cluster-local embedding near-dup removal)",
         "K-means assignment is a narrow map (centroid literals — no\n"
         "Exchange); the duplicate-pair self-join shuffles ONLY on the\n"
         "cluster key (pair work cluster-local, never all-pairs) and the\n"
         "8-row cluster-size table rides a BroadcastExchange.  Pinned by\n"
         "`test_semantic_dedup_pair_join_cluster_local`.",
         qs["semantic_dedup"](spark, SF)),
        ("conversation_context_pack (per-group stateful fold)",
         "Greedy packing is one FlatMapGroupsInPandas over the conv_id\n"
         "Exchange — the running fill-reset can't be a Window, so the\n"
         "plan's shape IS the operator: shuffle once on the group key,\n"
         "fold inside Arrow batches, nothing else.",
         qs["conversation_context_pack"](spark, SF)),
        ("ann_ivf_kmeans (IVF over the learned quantizer)",
         "Cell assignment is a narrow map over the scan; the probed-cell\n"
         "set (n_probe rows) and the query vector reach the corpus via\n"
         "broadcast; no hashpartitioning anywhere — at 100 TB the cell\n"
         "becomes a partition column and the probe prunes at the scan.\n"
         "Pinned by `test_ann_ivf_kmeans_corpus_never_hash_shuffles`.",
         qs["ann_ivf_kmeans"](spark, SF)),
        ("set_similarity_join (exact PPJoin prefix filtering)",
         "The global rarest-first token order is built IN-ROW: the df\n"
         "table rides a BroadcastExchange into the token stream and each\n"
         "doc array_sorts its own (df, tok) structs — no rank Window, no\n"
         "single partition.  Only the per-doc PREFIX explodes into the\n"
         "candidate self-join; the full token sets come back by doc_id for\n"
         "the exact Jaccard verify.  Exactness pinned by\n"
         "`test_set_similarity_prefix_filter_is_exact` (+ hypothesis\n"
         "battery); plan pinned by\n"
         "`test_set_similarity_join_plan_no_global_window`.",
         qs["set_similarity_join"](spark, SF)),
        ("revenue_rollup (grouping sets from one fact scan)",
         "ROLLUP plans as a single orders scan feeding one Expand (a row\n"
         "per grouping set BEFORE the exchange, so map-side partial agg\n"
         "still applies) with all three dim joins broadcast — one fact\n"
         "pass where the naive per-level formulation scans three times.\n"
         "Pinned by `test_revenue_rollup_single_fact_scan_plan`.",
         qs["revenue_rollup"](spark, SF)),
        ("edit_distance_join (exact Ed-Join prefix filtering)",
         "The edit-distance complement of set_similarity_join: only the\n"
         "q*k+1 RAREST positional q-grams per string (rarity broadcast,\n"
         "in-row struct sort — no Window anywhere) enter the candidate\n"
         "equi-join, with |Δpos|<=k and |Δlen|<=k pruning inside it; the\n"
         "JVM-side levenshtein verify touches candidates only.  Exactness\n"
         "pinned by the hypothesis brute-force battery in\n"
         "`tests/test_stringjoin.py`; plan pinned by\n"
         "`test_edit_distance_join_plan_shape`.",
         qs["edit_distance_join"](spark, SF)),
        ("table_profile (one-pass column census)",
         "All per-column aggregates (null counts, exact distincts, ranges,\n"
         "mean lengths) plan as a SINGLE FileScan feeding one Expand (the\n"
         "multi-count(distinct) rewrite, map-side partials intact), then a\n"
         "literal stack unpivots the one aggregate row — never one scan per\n"
         "column.  Pinned by `test_table_profile_single_scan_plan`.",
         qs["table_profile"](spark, SF)),
        ("snm_candidates (sorted-neighborhood dedup)",
         "One block-partitioned Window generates every candidate — no\n"
         "self-join, no cartesian anywhere; the (W-1)·n bound is structural\n"
         "(each row emits at most W-1 lead() neighbors).  Pinned by\n"
         "`test_snm_plan_single_window_no_cartesian`.",
         qs["snm_candidates"](spark, SF)),
        ("triangle_census (degree-ordered wedge join)",
         "Wedges form in a self-join on the ORIENTED source node and close\n"
         "via a left-semi join — all plain hash/sort-merge joins on node\n"
         "keys, no nested loop; the single-row census frames combine via\n"
         "broadcast nested loop at the very top (three one-row tables).\n"
         "Orientation bounds the join fan-out at O(√m) per key (measured:\n"
         "40,049-degree hub → out-degree 49, `jobs/probe_scale.py triangle`).",
         qs["triangle_census"](spark, SF)),
        ("winnowing_pairs (local fingerprints → bucket-capped pair join)",
         "The fingerprint stage is ONE narrow projection — no Exchange, no\n"
         "Generate: overlapping grams and strided hash windows each come\n"
         "from a single regex-lookahead pass, and no lambda body references\n"
         "a column, so a consumer filter pushed through the projection\n"
         "inlines at constant factor instead of per-element re-evaluation\n"
         "(the measured O(n²)+ hazard documented in the docstring).  The\n"
         "pair stage explodes only the deduped fingerprint set, removes\n"
         ">64-doc buckets BEFORE the self-join (boilerplate stopwords),\n"
         "and aggregates shared counts with a map-side partial.  Pinned by\n"
         "`test_winnowing_guarantee_and_plan` (Exchange/Generate-free map)\n"
         "and `test_winnowing_pairs_hand_computed` (no CartesianProduct).",
         qs["winnowing_pairs"](spark, SF)),
    ]
    # Bucketed co-located join: rendered eagerly under no-broadcast so the
    # SortMergeJoin-with-zero-Exchange shape (the layout's whole point) is
    # what's captured, without changing the other sections' planning.
    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        colocated_join,
        ensure_bucketed_orders_lineitem,
    )

    o_name, l_name = ensure_bucketed_orders_lineitem(spark, SF)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed_plan = formatted_plan(colocated_join(spark, o_name, l_name))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # Runtime bloom filter: needs broadcast off (a broadcast join already
    # prunes for free) and the sandbox-scale application threshold.
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", "1KB")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT")
        bloom_plan = formatted_plan(
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select("l_orderkey", "o_orderpriority"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold")
    sections.append(
        ("runtime bloom-filter fact-scan pruning",
         "A selective dim filter feeds the join, so Catalyst injects\n"
         "`bloom_filter_agg` on the dim side and `might_contain()` directly\n"
         "above the FACT scan — non-joining rows die before the Exchange.\n"
         "Captured with broadcast off and the application-side threshold\n"
         "lowered to sandbox scale (the defaults fire at 10 GB scans — the\n"
         "regime this exists for).  Pinned by\n"
         "`test_runtime_bloom_filter_prunes_fact_scan`.",
         bloom_plan),
    )

    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        ensure_date_partitioned_events,
        PRUNE_DAY,
    )

    day_path = ensure_date_partitioned_events(spark, SF)
    day_df = spark.read.parquet(day_path).filter(
        F.col("event_day") == F.lit(PRUNE_DAY).cast("date")
    ).select("event_type", "value")
    sections.append(
        ("day-partitioned scan pruning (events_day_pruned)",
         "The day predicate is consumed ENTIRELY at file-listing time:\n"
         "`PartitionFilters` on the scan, empty `PushedFilters`, 1 of 30 day\n"
         "directories opened (physically pinned via the scan's numFiles/\n"
         "numPartitions metrics in `test_day_partition_prunes_scan`).",
         day_df),
    )

    sections.append(
        ("bucketed colocated join (write-once-join-many layout)",
         "Both fact tables written `bucketBy(orderkey)` — the join plans as\n"
         "SortMergeJoin with ZERO Exchange (the scans' bucket layout already\n"
         "satisfies the join's distribution; `Bucketed: true` on both scans).\n"
         "Captured with broadcast disabled to show the shape that matters at\n"
         "100 TB, where neither fact side broadcasts.  Pinned by\n"
         "`test_bucketed_join_no_shuffle`.",
         bucketed_plan),
    )
    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        image_phashes,
        phash_near_dup_pairs,
    )
    from text_extractor_for_bioeconomic_products_spark.operators.multimodal import (
        synthesize_media,
    )

    sections.append(
        ("perceptual-hash banded near-dup join (media_dedup)",
         "Image bytes never reach an Exchange: the dHash is computed inside\n"
         "the decode mapInPandas pass, so the first shuffle is already keyed\n"
         "by the 16-bit band value; verification is JVM `bit_count(xor)`.\n"
         "Hot bands are excluded by a tiny bucket-census join before the\n"
         "self-join (the LSH cap discipline).  Pinned by\n"
         "`test_image_phash_near_dup_pipeline` (banded == brute force).",
         phash_near_dup_pairs(
             image_phashes(synthesize_media(spark, n=60, seed=42))
         )),
    )
    out = [
        "# PLANS — formatted physical plans of flagship operators\n",
        "Captured with `.explain('formatted')` at sf0.01 (regenerate with\n"
        "`python jobs/dump_plans.py`; properties are pinned by "
        "`tests/test_plans.py`).\n",
    ]
    for title, note, df in sections:
        out.append(f"## {title}\n")
        out.append(note + "\n")
        plan = df if isinstance(df, str) else formatted_plan(df)
        out.append("```\n" + plan.rstrip()[:6000] + "\n```\n")
    print("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
