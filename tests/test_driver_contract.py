"""Mirror of the driver's correctness gate: every queries() entry runs at
sf0.01 and, where an oracle exists, matches DuckDB on row count, column
names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck(sf01_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf01_dir}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    """Sort columns by name, normalize value types, sort rows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (list, tuple)):
                v = tuple(v)
            else:
                try:
                    import decimal
                    if isinstance(v, decimal.Decimal):
                        v = round(float(v), 6)
                except Exception:
                    pass
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def test_user_sessions_subsecond_epoch_parity(spark, tmp_path):
    """Both engines must integer-truncate epoch seconds: a fractional gap
    of 1800.8 s truncates to exactly 1800 (= the 30-min threshold, NOT
    exceeded) — raw DuckDB epoch() would split this session while Spark's
    unix_timestamp would not.  The synthetic corpus is whole-second, so
    without this fixture the oracle passes vacuously."""
    import datetime as dt

    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        sessionize,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0, 100000)  # .1 s
    rows = pd.DataFrame({
        "event_id": [1, 2, 3],
        # gaps: 1800.8 s (trunc 1800 → same session), 1801.1 s (trunc
        # 1801 → new session)
        "ts": [
            base,
            base + dt.timedelta(seconds=1800.8),
            base + dt.timedelta(seconds=1800.8 + 1801.1),
        ],
        "user_id": [7, 7, 7],
        "event_type": ["view"] * 3,
        "value": [1.0, 2.0, 3.0],
        "props": ["{}"] * 3,
    })
    pq = str(tmp_path / "events.parquet")
    rows.to_parquet(pq)

    sdf = spark.createDataFrame(rows)
    got = {
        (r["session_id"], r["n_events"]) for r in sessionize(sdf).collect()
    }
    assert got == {(0, 2), (1, 1)}, got

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{pq}'")
    oracle_rows = con.execute(entry_mod.oracle_sql()["user_sessions"]).fetchall()
    cols = [d[0] for d in con.execute(
        entry_mod.oracle_sql()["user_sessions"]).description]
    si, ne = cols.index("session_id"), cols.index("n_events")
    assert {(r[si], r[ne]) for r in oracle_rows} == got


def test_doc_chunks_exercises_both_modes_nonvacuously(spark, sf01_dir):
    """The corpus ships with no punctuation/newlines, so doc_chunks
    plants structure; this guard fails if a future corpus/seed change
    silently turns either mode back into a trivial single-chunk pass."""
    from pyspark.sql import functions as F

    df = entry_mod.queries()["doc_chunks"](spark, sf01_dir)
    per_doc = df.groupBy("mode", "doc_id").agg(
        F.count("*").alias("n_chunks"), F.max("end").alias("max_end")
    )
    multi = {
        r["mode"]: r["n"]
        for r in per_doc.filter("n_chunks > 1").groupBy("mode")
        .agg(F.count("*").alias("n")).collect()
    }
    # paragraph packing produced multi-chunk docs (packing branch fired)
    assert multi.get("paragraph", 0) > 0, multi
    # sentence-respect fired: some non-final sentence chunk ends off the
    # hard-cut grid (break at a planted '. ', not at begin+200)
    sent = df.filter("mode = 'sentence'")
    w = sent.join(
        sent.groupBy("doc_id").agg(F.max("chunk_id").alias("last")), "doc_id"
    )
    off_grid = w.filter(
        (F.col("chunk_id") < F.col("last"))
        & ((F.col("end") - F.col("begin")) != 200)
    ).count()
    assert off_grid > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None
    assert len(rows) > 0  # documents exist → at least one language group


ALL_QUERIES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_against_oracle(spark, duck, sf01_dir, name):
    q = entry_mod.queries()[name]
    df = q(spark, sf01_dir)
    spark_rows = df.collect()
    spark_cols = df.columns
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    rel = duck.sql(oracle)
    # The driver's hash is representation-strict: DuckDB HUGEINT (its
    # sum(INTEGER/BIGINT) result type) reaches pandas as float/object and
    # hash-mismatches Spark's BIGINT even when values are equal.  Forbid it
    # outright, and forbid float oracle columns where Spark is integral.
    duck_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    huge = [c for c, t in duck_types.items() if "HUGEINT" in t]
    assert not huge, (
        f"{name}: oracle emits HUGEINT column(s) {huge} — wrap the aggregate "
        f"with CAST(... AS BIGINT)"
    )
    spark_integral = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() in ("integer", "long", "short", "byte")
    }
    drift = [
        c for c in spark_integral
        if c in duck_types and duck_types[c] in ("FLOAT", "DOUBLE")
    ]
    assert not drift, (
        f"{name}: Spark integral column(s) {drift} are FLOAT/DOUBLE in the "
        f"oracle — align the declared types"
    )
    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} value mismatches; first: "
        f"{ns[mismatches[0]]} vs {nd[mismatches[0]]}"
    )


def test_query_names_unique_across_modules():
    """__spark_entry__ merges per-module QUERIES/ORACLE_SQL dicts with
    .update() — a duplicated name would silently shadow an operator and
    shrink coverage without any failure."""
    from text_extractor_for_bioeconomic_products_spark.operators import (
        curation, dedup, normalize, relational, similarity, textstats,
    )

    mods = [relational, curation, textstats, dedup, similarity, normalize]
    seen: dict = {}
    for m in mods:
        for k in m.QUERIES:
            assert k not in seen, f"query '{k}' defined in both {seen[k]} and {m.__name__}"
            seen[k] = m.__name__
    # every oracle key has a query in the SAME module (no cross-module strays)
    for m in mods:
        extra = set(getattr(m, "ORACLE_SQL", {})) - set(m.QUERIES)
        assert not extra, f"{m.__name__}: oracles without queries {extra}"


def test_char_entropy_matches_duckdb(spark, duck, sf01_dir):
    """char_entropy_stats (in-row entropy fold, DECIMAL-rounded terms)
    vs the unnest-and-GROUP-BY DuckDB twin at sf0.01 — full per-doc
    equality.  Deliberately NOT a queries() entry (final-round policy:
    the driver window is frozen with every entry verified); this test
    carries the oracle evidence instead."""
    from text_extractor_for_bioeconomic_products_spark.operators.textstats import (
        ORACLE_CHAR_ENTROPY,
        q_char_entropy,
    )

    sdf = q_char_entropy(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_CHAR_ENTROPY)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mismatches, (
        f"{len(mismatches)} mismatches; first: "
        f"{ns[mismatches[0]]} vs {nd[mismatches[0]]}"
    )


def test_char_entropy_hand_fixture(spark):
    """Pinned arithmetic on known strings: 'aaaa' → 0 bits; 'abab' → 1
    bit; 'abcd' → 2 bits; '0a b' mixes the charset classes (alpha ½,
    digit ¼, space ¼); a 64-char base64-ish string clears the gibberish
    threshold while 'aaaa...' sits below the repetitive one."""
    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.textstats import (
        ENTROPY_GIBBERISH_MIN,
        ENTROPY_REPETITIVE_MAX,
        char_entropy_stats,
    )

    b64ish = "".join(chr(33 + i) for i in range(64))  # 64 distinct → 6 bits
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": ["aaaa", "abab", "abcd", "0a b", "a" * 200, b64ish],
    })
    got = {
        r["doc_id"]: r
        for r in char_entropy_stats(spark.createDataFrame(pdf)).collect()
    }
    assert got[1]["entropy_bits"] == 0.0 and got[1]["n_distinct_chars"] == 1
    assert got[2]["entropy_bits"] == 1.0
    assert got[3]["entropy_bits"] == 2.0
    assert got[4]["alpha_frac"] == 0.5
    assert got[4]["digit_frac"] == 0.25
    assert got[4]["space_frac"] == 0.25
    assert got[5]["entropy_bits"] < ENTROPY_REPETITIVE_MAX
    assert got[6]["entropy_bits"] > ENTROPY_GIBBERISH_MIN
    # null/empty text rows are excluded, not nulled through
    pdf2 = pd.DataFrame({"doc_id": [7, 8], "text": [None, ""]})
    assert char_entropy_stats(spark.createDataFrame(pdf2)).count() == 0


def test_doc_readability_matches_duckdb(spark, duck, sf01_dir):
    """doc_readability (native regexp counting + double-chain score) vs
    the DuckDB twin at sf0.01 — full per-doc equality.  Outside
    queries() by the same frozen-window policy as char entropy."""
    from text_extractor_for_bioeconomic_products_spark.operators.textstats import (
        ORACLE_DOC_READABILITY,
        q_doc_readability,
    )

    sdf = q_doc_readability(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_DOC_READABILITY)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mismatches, (
        f"{len(mismatches)} mismatches; first: "
        f"{ns[mismatches[0]]} vs {nd[mismatches[0]]}"
    )


def test_doc_readability_hand_fixture(spark):
    """Pinned arithmetic: 'The cat sat.' → 3 words / 1 sentence / 3
    vowel groups → FRE = 206.835 − 1.015·3 − 84.6·1 = 119.19;
    a no-vowel fragment exercises the syllable floor; a multi-sentence
    doc exercises the terminator-group count ('?!' is ONE group)."""
    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.textstats import (
        doc_readability,
    )

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["The cat sat.", "hmm pfft", "Go now?! Yes. Stop", None],
    })
    got = {
        r["doc_id"]: r
        for r in doc_readability(spark.createDataFrame(pdf)).collect()
    }
    assert set(got) == {1, 2, 3}  # null text excluded
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (3, 1, 3)
    assert r1["flesch_reading_ease"] == 119.19
    r2 = got[2]  # zero vowel groups → floored at word count
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (2, 1, 2)
    r3 = got[3]  # '?!' is one terminator group; trailing fragment
    assert (r3["n_words"], r3["n_sentences"]) == (4, 2)


def test_user_value_trend_matches_duckdb(spark, duck, sf01_dir):
    """user_value_trend (exact decimal moments → one fixed IEEE chain)
    vs the DuckDB twin at sf0.01 — per-user equality.  Outside
    queries() by the frozen-window policy."""
    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        ORACLE_USER_VALUE_TREND,
        q_user_value_trend,
    )

    sdf = q_user_value_trend(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_USER_VALUE_TREND)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mismatches, (
        f"{len(mismatches)} mismatches; first: "
        f"{ns[mismatches[0]]} vs {nd[mismatches[0]]}"
    )


def test_user_value_trend_hand_fixture(spark):
    """Planted exact lines: user 1 rises 2.5 per hour (y = 2.5/3600·x),
    user 2 is flat (slope 0), user 3 has one event (excluded), user 4
    has two events at the SAME second (zero x-variance — excluded),
    null values ignored."""
    import datetime as dt

    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        user_value_trend,
    )

    base = dt.datetime(2024, 1, 1)

    def row(eid, user, sec, val):
        return (eid, base + dt.timedelta(seconds=sec), user, "e", val, "{}")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    rows = [
        row(1, 1, 0, 10.0), row(2, 1, 3600, 12.5), row(3, 1, 7200, 15.0),
        row(4, 2, 0, 7.0), row(5, 2, 5000, 7.0),
        row(6, 3, 0, 1.0),
        row(7, 4, 100, 1.0), row(8, 4, 100, 9.0),
        row(9, 1, 1800, None),  # null value ignored
    ]
    got = {
        r["user_id"]: r
        for r in user_value_trend(spark.createDataFrame(rows, schema)).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["n_events"] == 3 and got[1]["slope_per_hour"] == 2.5
    assert got[2]["slope_per_hour"] == 0.0


def test_numeric_corr_matches_duckdb(spark, duck, sf01_dir):
    """numeric_corr_matrix (exact decimal moments, one table pass) vs
    the DuckDB twin at sf0.01.  Outside queries() by the frozen-window
    policy."""
    from text_extractor_for_bioeconomic_products_spark.operators.profiling import (
        ORACLE_NUMERIC_CORR,
        q_numeric_corr,
    )

    sdf = q_numeric_corr(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_NUMERIC_CORR)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) == 6  # C(4,2) pairs
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    assert ns == nd


def test_numeric_corr_hand_fixture(spark):
    """Planted exact geometry: y = 2x → corr 1; z = −x → corr(x,z) −1;
    w constant → zero variance → NULL corr for every w pair; and a
    null-bearing row is excluded globally (consistent n across pairs)."""
    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.profiling import (
        numeric_corr_matrix,
    )

    pdf = pd.DataFrame({
        "x": [1.0, 2.0, 3.0, 4.0, None],
        "y": [2.0, 4.0, 6.0, 8.0, 1.0],
        "z": [-1.0, -2.0, -3.0, -4.0, 1.0],
        "w": [5.0, 5.0, 5.0, 5.0, 5.0],
    })
    rows = {
        (r["col_x"], r["col_y"]): r
        for r in numeric_corr_matrix(
            spark.createDataFrame(pdf), cols=("x", "y", "z", "w")
        ).collect()
    }
    assert len(rows) == 6
    assert all(r["n_rows"] == 4 for r in rows.values())
    assert rows[("x", "y")]["corr"] == 1.0
    assert rows[("x", "z")]["corr"] == -1.0
    assert rows[("y", "z")]["corr"] == -1.0
    assert rows[("x", "w")]["corr"] is None
    assert rows[("y", "w")]["corr"] is None
    assert rows[("z", "w")]["corr"] is None


def test_chi_square_matches_duckdb(spark, duck, sf01_dir):
    """chi_square_cells (full grid incl. zero-observed cells, fixed
    IEEE chains over exact counts) vs the DuckDB twin at sf0.01.
    Outside queries() by the frozen-window policy."""
    from text_extractor_for_bioeconomic_products_spark.operators.profiling import (
        ORACLE_CHI_SQUARE,
        q_chi_square_source_lang,
    )

    sdf = q_chi_square_source_lang(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_CHI_SQUARE)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mismatches, (
        f"{len(mismatches)} mismatches; first: "
        f"{ns[mismatches[0]]} vs {nd[mismatches[0]]}"
    )


def test_chi_square_hand_fixture(spark):
    """Pinned arithmetic: a planted dependent 2×2 (30/10 vs 10/30 →
    every cell E=20, contribution 5.0), plus a source whose only lang
    is absent elsewhere — the zero-observed grid cells must appear
    with E>0 (chi-square without them understates dependence)."""
    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.profiling import (
        chi_square_cells,
    )

    rows = (
        [("A", "en")] * 30 + [("A", "fr")] * 10
        + [("B", "en")] * 10 + [("B", "fr")] * 30
        + [("C", "de")] * 20
    )
    pdf = pd.DataFrame(rows, columns=["source", "lang"])
    got = {
        (r["source"], r["lang"]): r
        for r in chi_square_cells(spark.createDataFrame(pdf)).collect()
    }
    assert len(got) == 9  # 3 sources × 3 langs, zero cells included
    # dependent 2×2 block: E = 40*40/100 = 16 → (30-16)²/16 = 12.25
    assert got[("A", "en")]["expected"] == 16.0
    assert got[("A", "en")]["contribution"] == 12.25
    assert got[("B", "fr")]["contribution"] == 12.25
    # zero-observed grid cell with E > 0
    c_en = got[("C", "en")]
    assert c_en["observed"] == 0 and c_en["expected"] == 8.0
    assert c_en["contribution"] == 8.0  # (0-8)²/8
    # C is the only 'de' source: E = 20*20/100 = 4, O = 20 → 64
    assert got[("C", "de")]["contribution"] == 64.0


def test_benford_matches_duckdb(spark, duck, sf01_dir):
    """benford_digit_census (decimal-string digit extraction — the only
    engine-portable route; double-to-string formats differ) vs the
    DuckDB twin at sf0.01.  Outside queries() by the frozen-window
    policy."""
    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        ORACLE_BENFORD,
        q_benford_order_totals,
    )

    sdf = q_benford_order_totals(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_BENFORD)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    assert ns == nd


def test_benford_hand_fixture(spark):
    """Planted exact distribution: 30×'1xx', 20×'2x', 10×'9xxx' →
    shares 0.5/0.333333/0.166667; Benford expectation for digit 1 is
    log10(2); amounts < 1 and NULL excluded; 9.5 and 9.997 both take
    digit 9 from the truncated integer part (a DECIMAL(18,2) quantize
    would round 9.997 HALF_UP to '10.00', digit 1)."""
    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        benford_digit_census,
    )

    amounts = (
        [150.0] * 30 + [25.0] * 20 + [9000.0] * 8 + [9.5, 9.997] + [0.5, None]
    )
    pdf = pd.DataFrame({"o_totalprice": amounts})
    got = {
        r["digit"]: r
        for r in benford_digit_census(spark.createDataFrame(pdf)).collect()
    }
    assert set(got) == {1, 2, 9}
    assert got[1]["n_rows"] == 30 and got[1]["observed_share"] == 0.5
    assert got[2]["observed_share"] == 0.333333
    assert got[9]["n_rows"] == 10  # 8 big + the 9.5 and 9.997 edges
    assert got[1]["benford_share"] == 0.30103  # log10(2) to 6dp


def test_revenue_gini_matches_duckdb(spark, duck, sf01_dir):
    """gini_concentration (ranked exact-moment Gini) vs the DuckDB twin
    at sf0.01.  Outside queries() by the frozen-window policy."""
    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        ORACLE_REVENUE_GINI,
        q_revenue_gini,
    )

    sdf = q_revenue_gini(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_REVENUE_GINI)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    assert ns == nd


def test_revenue_gini_hand_fixture(spark):
    """Pinned geometry: equal values → Gini exactly 0; one row holding
    ALL the mass among n=4 → exactly 1 − 1/n = 0.75; negative and NULL
    rows excluded."""
    import pandas as pd

    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        gini_concentration,
    )

    pdf = pd.DataFrame({
        "o_orderkey": range(10),
        "o_orderpriority": ["flat"] * 4 + ["concentrated"] * 4 + ["flat"] * 2,
        "o_totalprice": [50.0] * 4 + [0.0, 0.0, 0.0, 10.0] + [None, -5.0],
    })
    got = {
        r["o_orderpriority"]: r
        for r in gini_concentration(spark.createDataFrame(pdf)).collect()
    }
    assert got["flat"]["n_rows"] == 4  # null + negative excluded
    assert got["flat"]["gini"] == 0.0
    assert got["flat"]["total_value"] == 200.0
    assert got["concentrated"]["gini"] == 0.75


def test_seasonality_matches_duckdb(spark, duck, sf01_dir):
    """seasonality_census (integer-epoch calendar arithmetic — immune
    to the engines' conflicting dayofweek conventions) vs the DuckDB
    twin at sf0.01.  Outside queries() by the frozen-window policy."""
    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        ORACLE_EVENT_SEASONALITY,
        q_event_seasonality,
    )

    sdf = q_event_seasonality(spark, sf01_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(ORACLE_EVENT_SEASONALITY)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    assert ns == nd


def test_seasonality_hand_fixture(spark):
    """Known instants pin the arithmetic: 1970-01-01 (epoch 0) is a
    THURSDAY (dow 4 under 0=Sunday) hour 0; 2024-03-03 was a Sunday
    (dow 0); 23:59:59 lands in hour 23; shares sum to 1."""
    import datetime as dt

    from text_extractor_for_bioeconomic_products_spark.operators.relational import (
        seasonality_census,
    )

    rows = [
        (1, dt.datetime(1970, 1, 1, 0, 0, 0), 1, "e", 1.0, "{}"),
        (2, dt.datetime(2024, 3, 3, 12, 30, 0), 1, "e", 1.0, "{}"),
        (3, dt.datetime(2024, 3, 3, 23, 59, 59), 1, "e", 1.0, "{}"),
        (4, dt.datetime(2024, 3, 4, 9, 0, 0), 1, "e", 1.0, "{}"),  # Monday
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {
        (r["dow"], r["hour"]): r
        for r in seasonality_census(spark.createDataFrame(rows, schema)).collect()
    }
    assert set(got) == {(4, 0), (0, 12), (0, 23), (1, 9)}
    assert all(r["share"] == 0.25 for r in got.values())
