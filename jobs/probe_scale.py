#!/usr/bin/env python
"""100× scale probes for the round-3 operators — synthetic inputs ~100×
the sf0.1 tier, measuring the property each op's SCALE.md row claims.

    python jobs/probe_scale.py pack     # greedy context pack (stateful fold)
    python jobs/probe_scale.py bpe      # BPE merge rounds over a 1M-word vocab
    python jobs/probe_scale.py minhash  # band rows vs naive token shuffle, 1M docs
    python jobs/probe_scale.py cc       # star-CC per-round edge contraction, 9.1M edges
    python jobs/probe_scale.py pagerank # per-iteration rank shuffle on 2M nodes / 8M edges
    python jobs/probe_scale.py ssjoin   # prefix-filter candidate collapse, 1M docs
    python jobs/probe_scale.py triangle # degree-ordered wedge fan-out bound, 3M edges
    python jobs/probe_scale.py snm      # SNM (W-1)·n candidate bound, 4M docs
    python jobs/probe_scale.py phash    # perceptual-hash banded join, 1.1M hashes
    python jobs/probe_scale.py sessionizer  # streaming session-window state bound, 1M events

Deterministic inputs built from spark.range — no external data.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 10_000_000


def probe_pack(spark):
    """Greedy context pack over 500k conversations × 20 turns (10M rows):
    one conv_id shuffle feeding the applyInPandas fold."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.conversation import (
        greedy_pack_turns,
    )

    turns = (
        spark.range(N_ROWS)
        .select(
            F.concat(F.lit("c"), (F.col("id") % 500_000).cast("string")).alias(
                "conv_id"
            ),
            (F.col("id") / 500_000).cast("bigint").alias("turn_idx"),
            (F.pmod(F.xxhash64("id"), F.lit(120)) + 8).alias("n_tokens"),
        )
        .repartition(64)
        .persist()
    )
    turns.count()

    t0 = time.monotonic()
    packed = greedy_pack_turns(turns)
    n_examples = packed.count()
    dt = time.monotonic() - t0
    return {
        "probe": "context_pack",
        "n_rows": N_ROWS,
        "n_convs": 500_000,
        "n_examples": n_examples,
        "sec": round(dt, 1),
        "rows_per_sec": round(N_ROWS / dt),
    }


def probe_bpe(spark):
    """BPE merge rounds over a synthetic 1M-entry word-frequency table
    (Zipf-ish frequencies): the claim under test is that the loop is
    vocabulary-sized — per-round cost must not depend on any corpus."""
    import time as _t

    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.bpe import (
        bpe_train,
    )

    vocab = (
        spark.range(1_000_000)
        .select(
            F.concat(
                F.lit("w"),
                F.lower(F.hex(F.xxhash64("id"))),
            ).alias("w"),
            (F.lit(1_000_000) / (F.col("id") + 1)).cast("bigint").alias("freq"),
        )
        .repartition(64)
        .persist()
    )
    n_vocab = vocab.count()
    t0 = _t.monotonic()
    merges, _ = bpe_train(vocab, n_merges=4)
    dt = _t.monotonic() - t0
    return {
        "probe": "bpe_vocab_loop",
        "n_vocab": n_vocab,
        "n_merges": len(merges),
        "merges": [(a, b, n) for a, b, n in merges],
        "sec": round(dt, 1),
        "sec_per_round": round(dt / max(len(merges), 1), 1),
    }


def probe_minhash(spark):
    """MinHash banding at 1M synthetic docs (~40 distinct words each,
    ~1% planted duplicate pairs).  The claim under test (the docstring
    claim of `dedup.minhash_signatures`): signatures are narrow per-row
    expressions, so the ONLY rows the band census moves through an
    Exchange are the b band rows per doc — versus the explode(words) →
    groupBy(doc) formulation, which shuffles every distinct (doc, word)
    pair (the tokenized corpus).  Both row counts are measured from the
    same input; the planted pairs must surface in the census."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        N_LSH_BANDS,
        minhash_band_census,
    )

    n_docs = 1_000_000
    n_dup_pairs = 10_000
    # doc i and doc (n_docs - n_dup_pairs + k) share seed for the last
    # n_dup_pairs ids -> exactly n_dup_pairs planted identical-text pairs
    seed = F.when(
        F.col("id") >= n_docs - n_dup_pairs,
        F.col("id") - (n_docs - n_dup_pairs),
    ).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda j: F.lower(
            F.hex(F.pmod(F.xxhash64(seed * 40 + j), F.lit(500_000)))
        ),
    )
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", words).alias("text"),
        )
        .repartition(64)
        .persist()
    )
    docs.count()

    # rows the NAIVE formulation would move: every distinct (doc, word)
    naive_rows = (
        docs.select(
            F.explode(F.array_distinct(F.split(F.lower("text"), " ")))
        ).count()
    )

    t0 = time.monotonic()
    census = minhash_band_census(docs)
    buckets = census.count()
    dt = time.monotonic() - t0
    docs.unpersist()
    return {
        "probe": "minhash_band_rows",
        "n_docs": n_docs,
        "planted_dup_pairs": n_dup_pairs,
        "band_rows_through_exchange": n_docs * N_LSH_BANDS,
        "naive_token_rows_through_exchange": naive_rows,
        "shuffle_row_ratio": round(naive_rows / (n_docs * N_LSH_BANDS), 1),
        "candidate_buckets": buckets,
        "planted_pairs_surfaced": buckets >= n_dup_pairs,
        "census_sec": round(dt, 1),
    }


def probe_cc(spark):
    """Star-contraction CC on a 9.1M-edge graph (1M 10-node chains, the
    first 100k chains tied into one giant component by hub edges).  The
    claim under test: per-round shuffle volume is the LIVE edge count,
    which stays within a small constant factor of the input (never
    quadratic — the fixpoint is a union of stars with 2·(n−components)
    edges, so on a chain-heavy graph counts plateau rather than shrink;
    what contracts geometrically is the DIAMETER), and convergence takes
    O(log diameter) rounds.  The per-round counts come from the
    operator's own round_log hook; component census is verified exactly."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        connected_components_star,
    )

    n_chains = 1_000_000
    chain_len = 10
    n_hub = 100_000
    chain_edges = (
        spark.range(n_chains * chain_len)
        .filter(F.col("id") % chain_len != chain_len - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    hub_edges = (
        spark.range(1, n_hub + 1)
        .select(
            F.lit(0).cast("bigint").alias("doc_a"),
            (F.col("id") * chain_len).alias("doc_b"),
        )
    )
    pairs = chain_edges.union(hub_edges).repartition(64).persist()
    n_edges = pairs.count()

    rounds: list = []
    t0 = time.monotonic()
    comps = connected_components_star(pairs, round_log=rounds)
    agg = comps.agg(
        F.count("*").alias("n_components"),
        F.sum("n_docs").alias("n_nodes"),
        F.max("n_docs").alias("max_component"),
    ).collect()[0]
    dt = time.monotonic() - t0
    pairs.unpersist()
    expect_components = n_chains - n_hub  # 100k+1 chains merge into 1
    numeric = [r for r in rounds if isinstance(r, int)]
    return {
        "probe": "star_cc_rounds",
        "n_edges_in": n_edges,
        "rounds_edge_counts": rounds,
        "max_round_edges_over_input": round(
            max(numeric) / (2 * n_edges), 2
        ) if numeric else None,
        "n_rounds_to_converge": max(len(numeric) - 1, 0),
        "sec": round(dt, 1),
        "n_components": agg["n_components"],
        "expected_components": expect_components,
        "components_correct": agg["n_components"] == expect_components,
        "n_nodes": agg["n_nodes"],
        "max_component": agg["max_component"],
        "expected_max_component": (n_hub + 1) * chain_len,
    }


def probe_pagerank(spark):
    """PageRank on a 2M-node / ~8M-sym-edge graph with a planted
    100k-degree hub.  The claim under test: the per-iteration shuffle
    payload is the RANK TABLE (one row per node, constant across
    rounds) while the degree-carrying edge table sits static in its
    checkpoint — so iteration wall time stays flat instead of growing
    with lineage, and rank mass stays conserved (Σrank = 1) even under
    a 100k-degree skew key."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.graph import (
        pagerank,
    )

    n = 2_000_000
    n_hub = 100_000
    ring = spark.range(n).select(
        F.col("id").alias("u"), ((F.col("id") * 2 + 1) % n).alias("v")
    )
    cross = spark.range(n).select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % n).alias("v")
    )
    hub = spark.range(1, n_hub + 1).select(
        F.lit(0).cast("bigint").alias("u"),
        ((F.col("id") * 101) % n).alias("v"),
    )
    edges = ring.union(cross).union(hub).repartition(64).persist()
    n_edges_in = edges.count()

    rounds: list = []
    t0 = time.monotonic()
    pr = pagerank(edges, round_log=rounds)
    agg = pr.agg(
        F.count("*").alias("n_nodes"),
        F.sum("rank").alias("mass"),
        F.max("degree").alias("max_degree"),
    ).collect()[0]
    dt = time.monotonic() - t0
    hub_rank = pr.filter(F.col("node") == 0).collect()[0]["rank"]
    edges.unpersist()
    rank_rows = [r["n_rank_rows"] for r in rounds]
    secs = [r["sec"] for r in rounds]
    return {
        "probe": "pagerank_iterations",
        "n_edges_in": n_edges_in,
        "n_nodes": agg["n_nodes"],
        "per_iteration_rank_rows": rank_rows,
        "rank_rows_constant": len(set(rank_rows)) == 1
        and rank_rows[0] == agg["n_nodes"],
        "per_iteration_sec": secs,
        "mass_conserved": abs(agg["mass"] - 1.0) < 1e-6,
        "max_degree": agg["max_degree"],
        "hub_rank_over_uniform": round(hub_rank * agg["n_nodes"], 1),
        "sec": round(dt, 1),
    }


def probe_ssjoin(spark):
    """Exact set-similarity join (PPJoin prefix filtering) on 1M synthetic
    docs of 12 tokens from a 400k vocab, with 5k planted identical pairs.
    The claim under test (the docstring claim of
    `dedup.set_similarity_pairs`): at τ=0.9 the prefix is 2 of 12 tokens,
    so the candidate exchange moves ~⅙ of the token stream and the
    candidate-pair space collapses by ~(df_full/df_prefix)² per token —
    measured analytically from the df tables as Σ C(df,2) — while the
    verify stage still finds EVERY planted pair (exactness is
    pytest-pinned against brute force; here we check the planted count
    surfaces at scale)."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        set_similarity_pairs,
    )

    n_docs = 1_000_000
    n_planted = 5_000
    vocab = 400_000
    s = 12
    seed = F.when(
        F.col("id") >= n_docs - n_planted,
        F.col("id") - (n_docs - n_planted),
    ).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(s - 1)),
        lambda j: F.lower(
            F.hex(F.pmod(F.xxhash64(seed * s + j), F.lit(vocab)))
        ),
    )
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", words).alias("text"),
        )
        .repartition(64)
        .persist()
    )
    docs.count()

    tau = 0.9
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("t"),
    )
    # candidate pairs each strategy would generate, from the df tables:
    # Σ C(df, 2) over tokens — no need to materialize the naive join
    full_cand = (
        tok.groupBy("t").count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .collect()[0][0]
    )
    full_rows = tok.count()

    t0 = time.monotonic()
    pairs = set_similarity_pairs(docs, tau=tau).persist()
    n_pairs = pairs.count()
    n_exact = pairs.filter(F.col("jac") >= 0.999999).count()
    dt = time.monotonic() - t0
    # prefix stream volume: ceil-based prefix of an s-token set at tau
    import math

    prefix_len = s - math.ceil(tau * s) + 1  # 12 - 11 + 1 == 2
    prefix_rows = n_docs * prefix_len
    pairs.unpersist()
    docs.unpersist()
    return {
        "probe": "ssjoin_prefix_filter",
        "n_docs": n_docs,
        "planted_identical_pairs": n_planted,
        "tau": tau,
        "prefix_tokens_per_doc": prefix_len,
        "prefix_rows_through_exchange": prefix_rows,
        "full_token_rows_through_exchange": full_rows,
        "full_candidate_pairs_sum_c_df_2": int(full_cand),
        "verified_pairs": n_pairs,
        "planted_pairs_surfaced": n_exact >= n_planted,
        "join_sec": round(dt, 1),
    }


def probe_edjoin(spark):
    """Exact edit-distance join (Ed-Join positional prefix filtering) on
    1M synthetic 16-char strings with 5k planted distance-1 mutations.
    The claim under test (the docstring claim of
    `stringjoin.edit_distance_pairs`): at k=1, q=2 the prefix is 3 of 15
    gram occurrences, and on a diverse corpus the prefix lands on RARE
    grams, so the candidate pair space Σ C(df_prefix, 2) collapses by
    orders of magnitude versus the naive n(n-1)/2 — while the verify
    stage still surfaces EVERY planted pair (exactness is pytest-pinned
    against brute force; here we check the planted count at scale)."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.stringjoin import (
        edit_distance_pairs,
        prefix_occurrences,
    )

    n_strs = 1_000_000
    n_planted = 5_000
    # q must size the gram space to the corpus: 36^4 ≈ 1.7M values keeps
    # prefix-gram buckets O(1) at 1M strings, where q=2 over a hex
    # alphabet (256 values) would degenerate the candidate equi-join to
    # quadratic — the q-selection rule the operator docstring states
    k, q = 1, 4
    base_of = F.when(
        F.col("id") >= n_strs - n_planted,
        F.col("id") - (n_strs - n_planted),
    ).otherwise(F.col("id"))
    base = F.lpad(F.conv(F.abs(F.xxhash64(base_of)), 10, 36), 16, "0")
    # the planted copies substitute one middle char -> levenshtein 1
    mutated = F.when(
        F.col("id") >= n_strs - n_planted,
        F.concat(
            F.substring(base, 1, 7), F.lit("z"), F.substring(base, 9, 8)
        ),
    ).otherwise(base)
    strs = (
        spark.range(n_strs)
        .select("id", mutated.alias("str"))
        .repartition(64)
        .persist()
    )
    strs.count()

    sized = strs.select("id", "str", F.length("str").alias("slen"))
    pref = prefix_occurrences(sized, k=k, q=q)
    prefix_rows = pref.count()
    prefix_cand = (
        pref.groupBy("gram").count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .collect()[0][0]
    )

    t0 = time.monotonic()
    pairs = edit_distance_pairs(strs, k=k, q=q).persist()
    n_pairs = pairs.count()
    n_planted_found = pairs.filter(
        (F.col("d2") - F.col("d1") == n_strs - n_planted)
        & (F.col("dist") == 1)
    ).count()
    dt = time.monotonic() - t0
    pairs.unpersist()
    strs.unpersist()
    return {
        "probe": "edjoin_prefix_filter",
        "n_strings": n_strs,
        "planted_dist1_pairs": n_planted,
        "k": k,
        "q": q,
        "prefix_rows_through_exchange": prefix_rows,
        "prefix_candidate_pairs_sum_c_df_2": int(prefix_cand),
        "naive_pair_space": n_strs * (n_strs - 1) // 2,
        "verified_pairs": n_pairs,
        "planted_pairs_surfaced": n_planted_found >= n_planted,
        "join_sec": round(dt, 1),
    }


def probe_triangle(spark):
    """Degree-ordered triangle counting under a hub-heavy graph: the
    claim is that orientation bounds the wedge join's per-key fan-out
    by the oriented OUT-degree, not the raw degree — a 40k-degree hub
    must not emit C(40k, 2) wedges.

    Graph: 50 hubs, each wired to 40k spokes, plus a million-node ring
    (closes no hub triangles), plus hub-hub clique edges (the actual
    triangles).  ~3M edges, max raw degree ≈ 40k."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.graph import (
        triangle_census,
    )

    n_spokes, n_hubs, n_ring = 2_000_000, 50, 1_000_000
    spokes = spark.range(n_spokes).select(
        (F.col("id") % n_hubs).alias("u"),            # hub 0..49
        (F.col("id") + n_hubs).alias("v"),            # unique spoke
    )
    ring = spark.range(n_ring).select(
        (F.col("id") + n_hubs + n_spokes).alias("u"),
        (
            (F.col("id") + 1) % n_ring + n_hubs + n_spokes
        ).alias("v"),
    )
    hub_clique = spark.range(n_hubs * n_hubs).select(
        (F.col("id") % n_hubs).alias("u"),
        (F.floor(F.col("id") / n_hubs)).alias("v"),
    ).filter(F.col("u") < F.col("v"))
    edges = spokes.union(ring).union(hub_clique)

    t0 = time.monotonic()
    row = triangle_census(edges).collect()[0]
    census_sec = round(time.monotonic() - t0, 1)

    # re-derive the orientation to measure the fan-out bound directly
    e = edges.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    ).filter(F.col("x") != F.col("y")).distinct()
    deg = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .groupBy("node").agg(F.count("*").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("x"), F.col("deg").alias("dx")), "x"
    ).join(
        deg.select(F.col("node").alias("y"), F.col("deg").alias("dy")), "y"
    )
    lower_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    o = ed.select(
        F.when(lower_first, F.col("x")).otherwise(F.col("y")).alias("u")
    )
    outdeg = o.groupBy("u").agg(F.count("*").alias("od"))
    max_raw = deg.agg(F.max("deg")).collect()[0][0]
    max_oriented = outdeg.agg(F.max("od")).collect()[0][0]
    # wedges the join actually materializes = Σ C(outdeg, 2)
    wedge_rows = outdeg.agg(
        F.expr("sum(od * (od - 1)) div 2")
    ).collect()[0][0]
    return {
        "probe": "triangle_orientation",
        "n_edges": row["n_edges"],
        "n_triangles": row["n_triangles"],
        "expected_triangles": n_hubs * (n_hubs - 1) * (n_hubs - 2) // 6,
        "census_sec": census_sec,
        "max_raw_degree": max_raw,
        "max_oriented_outdegree": max_oriented,
        "naive_wedges_at_hub": max_raw * (max_raw - 1) // 2,
        "oriented_wedge_rows": wedge_rows,
    }


def probe_snm(spark):
    """Sorted-neighborhood at 4M docs: candidate volume must sit under
    the hard (W-1)·n bound whatever the data does — the property that
    makes SNM safe on corpora whose LSH band distribution is unknown."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        SNM_WINDOW,
        snm_candidate_pairs,
    )

    n = 4_000_000
    # every doc shares its 'family' prefix with ~40 siblings; odd ids
    # get a one-char tail mutation — dense near-dup neighborhoods, the
    # worst case for quadratic blockers
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lpad((F.col("id") % 100_000).cast("string"), 10, "0"),
            F.lit(" shared family body text segment "),
            F.when(F.col("id") % 2 == 1, F.lit("x")).otherwise(F.lit("")),
        ).alias("text"),
    )
    t0 = time.monotonic()
    n_pairs = snm_candidate_pairs(docs).count()
    sec = round(time.monotonic() - t0, 1)
    return {
        "probe": "snm_candidates",
        "n_docs": n,
        "n_candidate_pairs": n_pairs,
        "hard_bound": (SNM_WINDOW - 1) * n,
        "bound_held": n_pairs <= (SNM_WINDOW - 1) * n,
        "sec": sec,
        "docs_per_sec": round(n / sec, 0) if sec else None,
    }


def probe_winnow(spark):
    """Winnowing pair join under 100%-boilerplate skew, 200k docs.

    Every doc carries the same boilerplate sentence, so its fingerprints
    form mega-buckets of 200k docs each; 1,000 planted near-dup pairs
    share a unique 40-char passage.  Claims under test: (1) the
    WINNOW_MAX_BUCKET cap removes the boilerplate buckets BEFORE the
    self-join — the measured join input volume Σ nd² collapses by
    orders of magnitude vs the uncapped analytic volume; (2) every
    planted pair still surfaces (recall 1.0 — the planted buckets are
    size 2, untouched by the cap); (3) the fingerprint stage itself is
    one narrow shuffle-free projection over 38M chars."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.dedup import (
        WINNOW_MAX_BUCKET,
        winnow_fingerprints,
        winnowing_candidate_pairs,
    )

    n_docs, n_planted, offset = 200_000, 1_000, 100_000
    boiler = "subscribe to our newsletter for weekly updates and offers "
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler),
            F.md5(F.concat(F.lit("u"), F.col("id").cast("string"))),
            F.md5(F.concat(F.lit("v"), F.col("id").cast("string"))),
            F.md5(F.concat(F.lit("w"), F.col("id").cast("string"))),
            F.when(
                F.col("id") < n_planted,
                F.md5(F.concat(F.lit("p"), F.col("id").cast("string"))),
            )
            .when(
                (F.col("id") >= offset) & (F.col("id") < offset + n_planted),
                F.md5(
                    F.concat(
                        F.lit("p"), (F.col("id") - offset).cast("string")
                    )
                ),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    ).repartition(64).persist()
    n_chars = docs.select(F.sum(F.length("text"))).collect()[0][0]

    t0 = time.monotonic()
    fp = winnow_fingerprints(docs)
    n_fp = fp.select(F.sum(F.size("fingerprints"))).collect()[0][0]
    t_fp = time.monotonic() - t0

    dfp = (
        fp.select("doc_id", F.explode("fingerprints").alias("f"))
        .select("doc_id", F.col("f.h").alias("h"))
        .distinct()
        .persist()
    )
    sizes = dfp.groupBy("h").agg(F.count("*").alias("nd")).persist()
    vol = sizes.select(
        F.sum(F.col("nd") * F.col("nd")).alias("uncapped"),
        F.sum(
            F.when(
                (F.col("nd") >= 2) & (F.col("nd") <= WINNOW_MAX_BUCKET),
                F.col("nd") * F.col("nd"),
            ).otherwise(F.lit(0))
        ).alias("capped"),
    ).collect()[0]

    t1 = time.monotonic()
    pairs = winnowing_candidate_pairs(docs).persist()
    n_pairs = pairs.count()
    t_pairs = time.monotonic() - t1
    planted_found = pairs.filter(
        (F.col("doc_b") - F.col("doc_a") == offset)
        & (F.col("doc_a") < n_planted)
    ).count()

    docs.unpersist(); dfp.unpersist(); sizes.unpersist(); pairs.unpersist()
    return {
        "probe": "winnow_pairs_skew",
        "n_docs": n_docs,
        "n_chars": int(n_chars),
        "n_fingerprints": int(n_fp),
        "fingerprint_stage_sec": round(t_fp, 1),
        "chars_per_sec_fp_stage": int(n_chars / t_fp),
        "join_volume_uncapped": int(vol["uncapped"]),
        "join_volume_capped": int(vol["capped"]),
        "volume_collapse_ratio": round(vol["uncapped"] / max(vol["capped"], 1), 1),
        "pairs_found": n_pairs,
        "planted_pairs": n_planted,
        "planted_recall": round(planted_found / n_planted, 4),
        "pair_stage_sec": round(t_pairs, 1),
    }


def probe_avro(spark):
    """Distributed Avro OCF sink/scan at 1M turns (~0.6 GB text).  The
    claims under test: (1) the sink writes one file per ARROW BATCH
    from executors (no driver funnel; file sizes bounded by the Arrow
    batch size — the target-sized-files discipline for free), (2) the
    scan parallelizes on file count and returns EXACTLY the parquet
    rows (checksum equality), and (3) the pure-Python decode pays a
    bounded constant over the JVM parquet scan — the honest cost of
    the dependency-free path, measured not guessed."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.sources.avro import (
        read_avro,
        write_avro_distributed,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    base = os.path.join(tempfile.gettempdir(), "probe_avro")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    pq_dir, av_dir = os.path.join(base, "pq"), os.path.join(base, "avro")

    df = synthesize_transcripts(spark, n_convs=22000, seed=42).repartition(32)
    df.persist().count()

    t0 = time.monotonic()
    df.write.parquet(pq_dir)
    t_pq_write = time.monotonic() - t0
    t1 = time.monotonic()
    manifest = write_avro_distributed(df, av_dir)
    t_av_write = time.monotonic() - t1
    n_files = manifest.count()

    def checksum(frame):
        return frame.agg(
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("chars"),
            F.sum(F.xxhash64("conv_id", "turn_idx", "text")
                  .cast("decimal(38,0)")).alias("h"),
        ).collect()[0]

    t2 = time.monotonic()
    pq_sum = checksum(spark.read.parquet(pq_dir))
    t_pq_read = time.monotonic() - t2
    t3 = time.monotonic()
    av_sum = checksum(read_avro(spark, av_dir))
    t_av_read = time.monotonic() - t3

    shutil.rmtree(base, ignore_errors=True)
    return {
        "probe": "avro_vs_parquet",
        "n_rows": int(pq_sum["n"]),
        "n_partitions": 32,
        "avro_files": int(n_files),
        "one_file_per_arrow_batch": int(n_files) >= 32,
        "checksums_equal": tuple(pq_sum) == tuple(av_sum),
        "parquet_write_sec": round(t_pq_write, 1),
        "avro_write_sec": round(t_av_write, 1),
        "parquet_read_sec": round(t_pq_read, 1),
        "avro_read_sec": round(t_av_read, 1),
        "avro_read_rows_per_sec": int(pq_sum["n"] / max(t_av_read, 1e-9)),
        "python_decode_multiple": round(t_av_read / max(t_pq_read, 1e-9), 1),
    }


def probe_phash(spark):
    """Perceptual-hash banded join at 1.1M hashes + a pathological pile.

    Input: 1M uniform 64-bit 'distinct-image' hashes (xxhash64 of id),
    1,000 planted near-dup partners (base hash with ≤2 deterministic
    bit flips, hamming ≤ 2 ≤ the 3-bit threshold), and a 100k-row
    flat-image pile (every constant-color image dHashes to 0).  Claims
    under test: (1) candidate volume through the band exchange is
    bucket-occupancy-bounded — ~4·N²/2¹⁶ instead of the N²/2 naive
    all-pairs; (2) planted recall 1.0 (the pigeonhole guarantee);
    (3) the flat pile is excluded by MAX_BAND_MEDIA BEFORE the
    self-join (uncapped, its 4 bands alone would emit 4·C(100k,2) ≈
    2·10¹⁰ pairs) and surfaces in the phash_hot_bands census."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.media_dedup import (
        MAX_BAND_MEDIA,
        PHASH_BAND_BITS,
        PHASH_BANDS,
        phash_hot_bands,
        phash_near_dup_pairs,
    )

    n_base, n_planted, n_flat = 1_000_000, 1_000, 100_000
    base = spark.range(n_base).select(
        F.col("id").alias("media_id"),
        F.xxhash64(F.col("id")).alias("phash"),
        F.lit(True).alias("valid"),
    )
    planted = spark.range(n_planted).select(
        (F.col("id") + 2_000_000).alias("media_id"),
        F.xxhash64(F.col("id"))
        .bitwiseXOR(
            # SQL |, not Column | (which is boolean OR in pyspark)
            F.expr(
                "shiftleft(1L, cast(id % 64 as int)) | "
                "shiftleft(1L, cast((id * 31 + 7) % 64 as int))"
            )
        )
        .alias("phash"),
        F.lit(True).alias("valid"),
    )
    flat = spark.range(n_flat).select(
        (F.col("id") + 3_000_000).alias("media_id"),
        F.lit(0).cast("long").alias("phash"),
        F.lit(True).alias("valid"),
    )
    hashes = base.union(planted).union(flat).repartition(64).persist()
    n_total = hashes.count()

    # candidate volume through the band exchange (pre-verification),
    # measured with the operator's own banding shape + cap
    mask = (1 << PHASH_BAND_BITS) - 1
    band_structs = F.array(*[
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftrightunsigned("phash", PHASH_BAND_BITS * i)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for i in range(PHASH_BANDS)
    ])
    bands = hashes.select(
        "media_id", F.explode(band_structs).alias("band")
    ).select("media_id", "band.band_idx", "band.band_val")
    sizes = bands.groupBy("band_idx", "band_val").agg(
        F.count("*").alias("n_in_band")
    )
    capped = bands.join(
        sizes.filter(F.col("n_in_band") <= MAX_BAND_MEDIA),
        ["band_idx", "band_val"],
    )
    t0 = time.monotonic()
    candidates = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .count()
    )
    pairs = phash_near_dup_pairs(hashes).persist()
    planted_found = pairs.filter(
        (F.col("media_b") == F.col("media_a") + 2_000_000)
        & (F.col("media_a") < n_planted)
    ).count()
    sec = round(time.monotonic() - t0, 1)
    hot = phash_hot_bands(hashes).collect()
    pairs.unpersist()
    hashes.unpersist()
    naive_pairs = n_total * (n_total - 1) // 2
    return {
        "probe": "phash_banded_join",
        "n_hashes": n_total,
        "candidate_pairs_banded": candidates,
        "candidate_pairs_naive": naive_pairs,
        "collapse_factor": round(naive_pairs / max(candidates, 1), 1),
        "planted_recall": round(planted_found / n_planted, 4),
        "hot_bands_reported": len(hot),
        "hot_band_max_size": max((r["n_in_band"] for r in hot), default=0),
        "flat_pile_size": n_flat,
        "sec": sec,
    }


def probe_sessionizer(spark):
    """Streaming session windows at 1M events / 100k users: the claim
    under test is STATE BOUNDEDNESS — the applyInPandasWithState store
    holds one row per OPEN session (<= n_users at every micro-batch),
    never event history, while sessions spanning micro-batch boundaries
    still close exactly.

    Input: every user emits 10 events in 2 sessions (intra-gap 600 s,
    inter-gap 4800 s > the 1800 s threshold), written as 5 time-ordered
    parquet files (each micro-batch carries 2 events/user) plus a
    far-future watermark pusher.  Expected: exactly 2 closed sessions
    per user (200k emitted), state_rows <= 100,001 at every batch."""
    import datetime as dt
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.streaming.pipeline import (
        run_streaming_sessionizer,
    )

    n_users, per_user = 100_000, 10
    base = "/tmp/spark_graft_probe_sessionizer"
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir = f"{base}/in", f"{base}/out"
    t0_epoch = 1_700_000_000
    # event k: session 1 at k*600 (k<5), session 2 offset +4800 (k>=5)
    for fidx, ks in enumerate([(0, 1), (2, 3), (4, 5), (6, 7), (8, 9)]):
        df = (
            spark.range(n_users)
            .select(
                F.col("id").alias("user_id"),
                F.explode(F.array(*[F.lit(k) for k in ks])).alias("k"),
            )
            .select(
                (F.col("user_id") * per_user + F.col("k")).alias("event_id"),
                F.timestamp_seconds(
                    F.lit(t0_epoch) + F.col("k") * 600
                    + F.when(F.col("k") >= 5, 4800).otherwise(0)
                ).alias("ts"),
                "user_id",
                F.lit("e").alias("event_type"),
                (F.col("k") * 1.5).alias("value"),
                F.lit("{}").alias("props"),
            )
        )
        df.coalesce(4).write.mode("append").parquet(in_dir)
        _time.sleep(1.1)  # file source orders batches by mtime
    pusher = spark.createDataFrame(
        [(99_999_999, dt.datetime.fromtimestamp(
            t0_epoch + 30 * 86400, dt.timezone.utc
        ).replace(tzinfo=None), 100_000_000, "e", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    _time.sleep(1.1)
    pusher.coalesce(1).write.mode("append").parquet(in_dir)

    t0 = time.monotonic()
    tel = run_streaming_sessionizer(
        spark, in_dir, out_dir, gap_sec=1800, timeout_sec=580
    )
    sec = round(time.monotonic() - t0, 1)
    sessions = spark.read.parquet(f"{out_dir}/sessions_stream").filter(
        F.col("user_id") < n_users
    )
    n_sessions = sessions.count()
    per_user_ok = (
        sessions.groupBy("user_id").count().filter("count != 2").count()
    )
    state_rows = [b["state_rows"] for b in tel["batches"]
                  if b["state_rows"] is not None]
    return {
        "probe": "streaming_sessionizer",
        "n_events": n_users * per_user + 1,
        "n_users": n_users,
        "n_sessions_emitted": n_sessions,
        "expected_sessions": 2 * n_users,
        "users_with_wrong_session_count": per_user_ok,
        "state_rows_by_batch": state_rows,
        "state_rows_max": max(state_rows, default=None),
        "state_bound": n_users + 1,
        "n_batches": len(tel["batches"]),
        "events_per_sec": round(n_users * per_user / sec, 1),
        "sec": sec,
    }


PROBES = {
    "sessionizer": probe_sessionizer,
    "phash": probe_phash,
    "avro": probe_avro,
    "winnow": probe_winnow,
    "triangle": probe_triangle,
    "snm": probe_snm,
    "pack": probe_pack,
    "bpe": probe_bpe,
    "minhash": probe_minhash,
    "cc": probe_cc,
    "pagerank": probe_pagerank,
    "ssjoin": probe_ssjoin,
    "edjoin": probe_edjoin,
}


def main() -> None:
    from text_extractor_for_bioeconomic_products_spark.session import get_spark

    which = sys.argv[1] if len(sys.argv) > 1 else "pack"
    spark = get_spark(
        app_name=f"probe_{which}", master="local[32]", shuffle_partitions=64
    )
    out = PROBES[which](spark)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
