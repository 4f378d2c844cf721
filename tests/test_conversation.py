"""applyInPandas grouped operators + stateful streaming tracker."""

from __future__ import annotations

import os

import pytest

from text_extractor_for_bioeconomic_products_spark.operators.conversation import (
    consecutive_turn_similarity,
    conversation_echo_stats,
    dedup_turns_within_conversation,
)
from text_extractor_for_bioeconomic_products_spark.operators.extract import (
    extract_turns,
)


@pytest.fixture(scope="module")
def turns(transcripts_df):
    df = extract_turns(transcripts_df).drop("spans")
    df.cache()
    df.count()
    return df


def test_consecutive_similarity_matches_scalar_oracle(spark, turns):
    from text_extractor_for_bioeconomic_products_spark import rules

    sims = consecutive_turn_similarity(turns)
    got = {
        (r["conv_id"], r["turn_idx"]): r["sim_to_prev"]
        for r in sims.collect()
    }
    pdf = (
        turns.select("conv_id", "turn_idx", "clean_text")
        .toPandas().sort_values(["conv_id", "turn_idx"])
    )
    n_checked = 0
    for conv_id, grp in pdf.groupby("conv_id"):
        texts = grp["clean_text"].tolist()
        idxs = grp["turn_idx"].tolist()
        for i in range(1, len(texts)):
            exp = rules.text_similarity(texts[i], texts[i - 1])
            assert got[(conv_id, idxs[i])] == pytest.approx(exp)
            n_checked += 1
    assert n_checked == len(got) > 0


def test_echo_stats_shape(spark, turns):
    stats = conversation_echo_stats(turns).collect()
    assert len(stats) == turns.select("conv_id").distinct().count()
    for r in stats:
        assert 0 <= r["n_echoes"] <= r["n_pairs"]
        assert 0.0 <= r["avg_sim"] <= 1.0


def test_dedup_within_conversation(spark, turns):
    from pyspark.sql import functions as F

    deduped = dedup_turns_within_conversation(turns)
    assert deduped.count() <= turns.count()
    # no (conv_id, clean_text) appears twice afterwards
    dups = (
        deduped.groupBy("conv_id", F.md5("clean_text")).count()
        .filter("count > 1").count()
    )
    assert dups == 0
    # kept row is the earliest turn_idx of its group
    first = turns.groupBy("conv_id", F.md5("clean_text").alias("h")).agg(
        F.min("turn_idx").alias("turn_idx")
    )
    assert deduped.count() == first.count()


def test_stateful_tracker_stream(spark, transcripts_df, tmp_path):
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        write_transcripts,
    )
    from text_extractor_for_bioeconomic_products_spark.streaming.pipeline import (
        run_stateful_conversation_tracker,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_transcripts(transcripts_df, in_dir)
    run_stateful_conversation_tracker(spark, in_dir, out_dir, timeout_sec=180)
    got = spark.read.parquet(os.path.join(out_dir, "conv_tracker_stream"))
    # final state per conversation (last update wins) == batch totals
    final = (
        got.groupBy("conv_id")
        .agg(F.max("turns_seen").alias("turns_seen"),
             F.max("spans_seen").alias("spans_seen"))
    )
    batch = (
        extract_turns(transcripts_df)
        .groupBy("conv_id")
        .agg(F.count("*").alias("bt"), F.sum("n_spans").alias("bs"))
    )
    joined = final.join(batch, "conv_id").collect()
    assert len(joined) == transcripts_df.select("conv_id").distinct().count()
    for r in joined:
        assert r["turns_seen"] == r["bt"]
        assert r["spans_seen"] == r["bs"]


def test_greedy_pack_boundaries_and_oversize(spark):
    """Hand-computed greedy fold: fill resets at overflow, a turn never
    splits, an oversize turn gets its own example and the flag."""
    from text_extractor_for_bioeconomic_products_spark.operators.conversation import (
        greedy_pack_turns,
    )

    rows = [
        # ctx=10: [4,5] fill 9 | [3,6] 9 | [30 oversize] | [2]
        ("a", 0, 4), ("a", 1, 5), ("a", 2, 3), ("a", 3, 6),
        ("a", 4, 30), ("a", 5, 2),
        # exact fit: 10 stays, next starts new
        ("b", 0, 10), ("b", 1, 1),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, n_tokens long")
    got = {
        (r["conv_id"], r["example_id"]): (
            r["n_turns"], r["example_tokens"], r["n_oversize"]
        )
        for r in greedy_pack_turns(df, ctx=10).collect()
    }
    assert got == {
        ("a", 0): (2, 9, 0),
        ("a", 1): (2, 9, 0),
        ("a", 2): (1, 30, 1),
        ("a", 3): (1, 2, 0),
        ("b", 0): (1, 10, 0),
        ("b", 1): (1, 1, 0),
    }
    # stateful fold is a pure function of (conv_id, turn_idx) order:
    # identical under a different input partitioning
    got_rep = {
        (r["conv_id"], r["example_id"]): (
            r["n_turns"], r["example_tokens"], r["n_oversize"]
        )
        for r in greedy_pack_turns(df.repartition(7), ctx=10).collect()
    }
    assert got_rep == got


def test_context_pack_query_nonvacuous(spark, sf001_dir):
    """The driver query must exercise both the multi-example split and
    the planted oversize path on the real corpus."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["conversation_context_pack"](
        spark, sf001_dir
    ).collect()
    assert any(r["example_id"] > 0 for r in rows), "no conversation split"
    assert any(r["n_oversize"] > 0 for r in rows), "oversize path never driven"
    from text_extractor_for_bioeconomic_products_spark.operators.conversation import (
        PACK_CTX_TOKENS,
    )
    for r in rows:
        # no example exceeds the window unless it contains an oversize turn
        if r["n_oversize"] == 0:
            assert r["example_tokens"] <= PACK_CTX_TOKENS, r


def test_greedy_pack_fold_invariants_hypothesis():
    """Property test over random token sequences: turns conserved,
    order preserved (prefix sums reconstruct), no example exceeds ctx
    unless it contains an oversize turn, oversize turns sit in the
    example where they arrived, and no example is empty."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from text_extractor_for_bioeconomic_products_spark.operators.conversation import (
        greedy_pack_fold,
    )

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=50), max_size=60),
        st.integers(min_value=1, max_value=20),
    )
    def check(tokens, ctx):
        examples = greedy_pack_fold(tokens, ctx)
        assert sum(e[0] for e in examples) == len(tokens)
        assert sum(e[1] for e in examples) == sum(tokens)
        assert all(e[0] > 0 for e in examples)
        # reconstruct: walking the examples consumes tokens in order
        i = 0
        for n_turns, tok_sum, n_over in examples:
            chunk = tokens[i:i + n_turns]
            assert sum(chunk) == tok_sum
            assert sum(1 for t in chunk if t > ctx) == n_over
            if n_over == 0:
                assert tok_sum <= ctx
            i += n_turns
        assert i == len(tokens)
        # greedy maximality — the defining property: example j+1's first
        # turn did not fit in example j's budget (fill of an example ==
        # its token sum, since the fill only resets at a boundary)
        i = 0
        for j in range(len(examples) - 1):
            i += examples[j][0]
            assert examples[j][1] + tokens[i] > ctx

    check()
