"""Physical-plan regression tests — the 100 TB design assertions.

These pin the plan shapes the engine is designed around: filters reach
the parquet scan, projections prune columns, dimension joins broadcast,
top-k plans TakeOrderedAndProject, and the extraction map stage has no
shuffle.  A regression here is a scale bug even if results stay correct.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_reaches_scan(spark):
    p = plan_of(spark, "doc_clean_basic")
    # only the two needed columns are read, not lang/source/n_chars
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_extract_stage_has_no_shuffle(spark, transcripts_df):
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        extract_turns,
    )
    p = extract_turns(transcripts_df)._jdf.queryExecution().executedPlan().toString()
    # narrow map — the core scale property: no shuffle exchange anywhere
    # (the synthesizer's template join is a BroadcastExchange, which is fine)
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "Exchange SinglePartition" not in p


def test_extract_uses_arrow_eval(spark, transcripts_df):
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        extract_turns,
    )
    p = extract_turns(transcripts_df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in p  # vectorized pandas UDF, not BatchEvalPython


def test_salted_agg_two_stages(spark, transcripts_df):
    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        conversation_stats,
        extract_turns,
    )
    p = (
        conversation_stats(extract_turns(transcripts_df))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # partial agg on (conv_id, salt) then final on conv_id
    assert p.count("HashAggregate") >= 4


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The 100 TB layout claim made real: orders+lineitem written bucketed
    on the join key co-locate — the join plans with NO shuffle exchange
    (SCALE.md §2; sinks bucket analogously on conv_id)."""
    from text_extractor_for_bioeconomic_products_spark.sources.tables import load
    from pyspark.sql import functions as F

    # warehouse dir is a static conf — the session default (gitignored
    # ./spark-warehouse) is used; tables are dropped in finally
    spark.sql("CREATE DATABASE IF NOT EXISTS buckdemo")
    try:
        (load(spark, SF, "orders").write.mode("overwrite")
         .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .saveAsTable("buckdemo.orders_b"))
        (load(spark, SF, "lineitem").write.mode("overwrite")
         .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .saveAsTable("buckdemo.lineitem_b"))
        o = spark.table("buckdemo.orders_b")
        li = spark.table("buckdemo.lineitem_b")
        joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
            "o_orderkey", "o_orderpriority", "l_extendedprice"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == load(spark, SF, "lineitem").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS buckdemo.lineitem_b")
        spark.sql("DROP TABLE IF EXISTS buckdemo.orders_b")
        spark.sql("DROP DATABASE IF EXISTS buckdemo")


def test_aqe_splits_skewed_join(spark):
    """The SCALE.md skew defence, evidenced: a hot join key lands one
    partition ~200× its siblings; AQE's runtime re-plan marks the
    sort-merge join skew=true and splits that partition (thresholds
    lowered to fire at test scale — the mechanism, not the defaults,
    is what carries to 100 TB)."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(200000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(5000).select((F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v"))
        )
        right = spark.range(51).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
        j = left.join(right, "k")
        assert len(j.collect()) == 205000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_signatures_are_shuffle_free(spark):
    """Signatures are narrow per-row expressions (array_min∘transform
    over the in-row word array) — zero Exchange.  The earlier
    explode+groupBy formulation shuffled every (doc, word) pair; a
    regression here re-introduces a corpus-sized all-to-all under the
    duplicate clustering and the streaming near-dup admission."""
    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        minhash_signatures,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.tables import load

    docs = load(spark, SF, "documents")
    p = minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, f"minhash_signatures plans a shuffle:\n{p}"


def test_ngram_contamination_broadcasts_benchmark_side(spark):
    """8-gram decontamination: the benchmark gram set broadcasts into a
    left-semi join; the corpus side never shuffles its exploded grams on
    the gram key."""
    p = plan_of(spark, "benchmark_contamination_ngram")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    # exactly one gram-keyed shuffle: the (tiny) benchmark side's
    # distinct feeding the BroadcastExchange — the corpus side's
    # exploded grams must NOT shuffle on the gram key
    assert p.count("Exchange hashpartitioning(gram_md5") == 1
    # the words are split once per doc on each side (benchmark, corpus),
    # staged below the 8-gram lambda rather than re-split per gram
    assert p.count("split(") == 2, p


def test_bucketed_join_no_shuffle(spark):
    """Two fact tables bucketed on the orderkey with the same bucket
    count ⇒ the equi-join is MAP-SIDE: SortMergeJoin with zero Exchange
    (the write-once-join-many storage layout SCALE.md promises), and an
    equality filter on the bucket column prunes to one bucket file set
    before any task launches."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        N_BUCKETS,
        colocated_join,
        ensure_bucketed_orders_lineitem,
    )

    o_name, l_name = ensure_bucketed_orders_lineitem(
        spark, "/root/testdata/sf0.001"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, o_name, l_name)
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        # and the join actually produces the fact-fact row count
        assert j.count() == spark.table(l_name).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # Bucket pruning: autoBucketedScan turns bucketed reads off for
    # non-join queries, so pin the pruning path with it disabled (at
    # scale a filter-heavy workload sets this once).
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        pruned = spark.table(o_name).filter(F.col("o_orderkey") == 7)
        pp = pruned._jdf.queryExecution().executedPlan().toString()
        assert f"SelectedBucketsCount: 1 out of {N_BUCKETS}" in pp, pp
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level pruning: when a selective dim-side filter feeds a
    shuffle join, Catalyst injects a bloom_filter_agg subquery on the dim
    side and a might_contain() filter directly above the FACT scan — rows
    that can't join die before the exchange.  At 100 TB this is the
    difference between shuffling the full lineitem table and shuffling
    the ~20% that survives the orders filter.  Thresholds are lowered so
    the injection fires at sandbox scale (defaults gate on a 10 GB
    application-side scan — the mechanism, not the thresholds, is what
    carries to the cluster); broadcast is disabled because a broadcast
    join already achieves the same pruning for free and suppresses the
    bloom path."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "1KB")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_orderpriority")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        # the might_contain filter must sit on the lineitem (fact) branch
        fact_side = plan[plan.find("might_contain"):]
        assert "l_orderkey" in fact_side[:200]
        # and the filtered join still returns the right rows
        assert j.count() == li.join(
            F.broadcast(orders), li.l_orderkey == orders.o_orderkey).count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_day_partition_prunes_scan(spark):
    """The day predicate over the date-partitioned layout must resolve at
    file-listing time: it appears as a PartitionFilter on the scan (not a
    data filter), and the files actually opened are exactly the one day's
    directory."""
    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        PRUNE_DAY,
        ensure_date_partitioned_events,
    )
    from pyspark.sql import functions as F

    path = ensure_date_partitioned_events(spark, SF)
    df = spark.read.parquet(path).filter(
        F.col("event_day") == F.lit(PRUNE_DAY).cast("date")
    ).select("event_type", "value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_day" in plan
    assert "(event_day" in plan.split("PartitionFilters:")[1][:120]
    # the predicate is fully consumed by pruning — nothing pushed as a
    # row-group filter, and only the pruned columns are read
    assert "ReadSchema: struct<event_type:string,value:double>" in plan
    # physical proof, not just plan text: after execution the scan's own
    # metrics show ONE file / ONE partition read of the 30 on disk
    # (inputFiles() can't be used here — it lists the relation pre-pruning)
    df.collect()
    scan = [n for n in _iter_nodes(df._jdf.queryExecution().executedPlan())
            if n.nodeName().startswith("Scan parquet")]
    assert scan, plan
    metrics = scan[0].metrics()
    n_files = metrics.apply("numFiles").value()
    n_parts = metrics.apply("numPartitions").value()
    assert (n_files, n_parts) == (1, 1), (n_files, n_parts)
    # layout changes the plan, not the answer
    flat = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.to_date("ts") == F.lit(PRUNE_DAY).cast("date")).count()
    assert df.count() == flat > 0


def _iter_nodes(jplan):
    """Depth-first walk of a JVM SparkPlan tree."""
    yield jplan
    for i in range(jplan.children().size()):
        yield from _iter_nodes(jplan.children().apply(i))


def test_write_target_sized_files(spark, sf01_dir, tmp_path):
    """Sizing from measured bytes/row: the write splits into >1 file,
    every file lands within a sane band of the target, and row content
    survives exactly."""
    import glob
    import os

    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        write_target_sized,
    )

    df = spark.read.parquet(os.path.join(sf01_dir, "lineitem.parquet"))
    out = str(tmp_path / "sized")
    target = 256 * 1024
    stats = write_target_sized(df, out, target_file_bytes=target)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert stats["n_files"] == len(files) and len(files) > 1, stats
    sizes = [os.path.getsize(f) for f in files]
    # round-robin repartition → near-uniform; the band is wide because
    # the sample's compression ratio differs from the full table's
    assert max(sizes) < 4 * target, (stats, max(sizes))
    assert min(sizes) > target // 8, (stats, min(sizes))
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    cols = sorted(df.columns)
    assert back.select(cols).exceptAll(df.select(cols)).count() == 0


def test_write_target_sized_empty_input(spark, sf001_dir, tmp_path):
    """An empty split (run_curation hits this on tiny corpora) must
    still produce a readable dataset: one file, zero rows, schema
    intact — not a crash and not a missing directory."""
    import os

    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        write_target_sized,
    )

    df = spark.read.parquet(os.path.join(sf001_dir, "lineitem.parquet"))
    empty = df.filter("l_orderkey < 0")
    out = str(tmp_path / "empty_sized")
    stats = write_target_sized(empty, out)
    assert stats["n_rows"] == 0 and stats["n_files"] == 1
    back = spark.read.parquet(out)
    assert back.count() == 0
    assert back.columns == df.columns


def test_write_target_sized_codec(spark, sf01_dir, tmp_path):
    """The codec knob reaches the files: zstd output is materially
    smaller than an uncompressed write of the same rows, and both read
    back identically."""
    import glob
    import os

    from text_extractor_for_bioeconomic_products_spark.sources.layout import (
        write_target_sized,
    )

    df = spark.read.parquet(os.path.join(sf01_dir, "documents.parquet"))
    z, u = str(tmp_path / "z"), str(tmp_path / "u")
    write_target_sized(df, z, codec="zstd")
    write_target_sized(df, u, codec="uncompressed")
    zb = sum(os.path.getsize(f) for f in glob.glob(os.path.join(z, "*.parquet")))
    ub = sum(os.path.getsize(f) for f in glob.glob(os.path.join(u, "*.parquet")))
    assert zb < 0.8 * ub, (zb, ub)
    assert spark.read.parquet(z).count() == spark.read.parquet(u).count() == df.count()


def test_dsir_ratio_broadcasts_and_topk_takes_ordered(spark):
    """DSIR's bucket-ratio table is <= DSIR_BUCKETS rows forever, so it
    must come back onto the feature stream as a broadcast — a sort-merge
    join there would shuffle the full exploded n-gram stream on the
    bucket key (256 hot keys at 100 TB: the worst possible exchange).
    The final selection must plan as TakeOrderedAndProject, not a global
    sort."""
    p = plan_of(spark, "dsir_importance")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "TakeOrderedAndProject" in p
    # only the single-row totals crossJoin may nest-loop
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_pagerank_iteration_shuffle_discipline(spark):
    """One PageRank iteration must (a) pre-reduce contributions map-side
    (partial_sum below the dst exchange — a hub's in-mass combines per
    partition before moving) and (b) read the static edge table from its
    checkpointed RDD, never recomputing the orders⋈lineitem lineage
    inside the loop.  The full query's own plan is lineage-severed by the
    per-iteration localCheckpoint, so the pin is on a manually built
    iteration over the same operators."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.graph import (
        pagerank,
    )

    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(1, 200)], "u long, v long"
    )
    sym = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .filter("src != dst")
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg"))
    linked = sym.join(deg, "src").localCheckpoint(eager=True)
    ranks = deg.select(F.col("src").alias("node"), F.lit(0.01).alias("rank"))
    contrib = (
        linked.join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("mass"))
    )
    contrib.collect()
    p = contrib._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in p
    assert "Exchange hashpartitioning(dst" in p
    assert "Scan ExistingRDD" in p  # checkpointed edges, no lineage replay
    # and the public operator agrees with the manual iteration's graph
    got = {r["node"]: r["degree"] for r in pagerank(edges).collect()}
    want = {r["src"]: r["outdeg"] for r in deg.collect()}
    assert got == want
