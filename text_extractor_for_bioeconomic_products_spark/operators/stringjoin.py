"""Exact edit-distance string-similarity self-join (Ed-Join-style
positional q-gram prefix filtering).

The reference fuzzy-matches extracted product names with difflib ratios
(src/core/product_validator.py:118 via rules.py:1340's SequenceMatcher
twin) — a per-pair, driver-side primitive.  A web-scale entity-resolution
pass needs the JOIN form of that primitive: find ALL string pairs within
edit distance k without evaluating the quadratic pair space.  This module
implements the q-gram prefix-filtered edit-distance join of Gravano et
al. (VLDB 2001, approximate string joins) / Xiao, Wang & Lin's Ed-Join
(PVLDB 2008) as a pure DataFrame composition.

Completeness guarantee (why the prefix filter drops nothing):

* Count bound: if ed(s, t) <= k, the strings share at least
  ``G - q*k`` positional q-grams matched with position offset <= k,
  where ``G = len - q + 1`` is the per-string gram count (each edit
  destroys at most q grams).  So each side has at most ``q*k``
  unmatched gram occurrences.
* Prefix bound: order every string's gram occurrences by ONE global
  order — (corpus frequency, gram, position), rarest first.  Equal-gram
  occurrences are contiguous in both strings' orders, so a positional
  matching can be re-paired monotone (crossing pairs (a1,b2),(a2,b1)
  with |a-b|<=k re-pair to (a1,b1),(a2,b2) with offsets bounded by the
  originals).  In a monotone matching the earliest matched occurrence
  on each side belongs to the SAME pair, and with <= q*k unmatched
  occurrences per side that pair sits within the first ``q*k + 1``
  entries of both strings.  Exploding only that prefix therefore yields
  a candidate superset with ZERO false negatives; the exact
  ``levenshtein(s, t) <= k`` verify makes the join identical to brute
  force.  (Strings shorter than ``q*k + q`` have fewer than q*k + 1
  grams, where the bound is vacuous — the operator filters them out and
  the oracle applies the same guard.)

Scale shape (the part that must survive 10^12 strings):

* Gram frequencies are a |Σ|^q-sized partial agg BROADCAST back into
  the gram stream; each string sorts its own occurrences IN-ROW by the
  (freq, gram, pos) struct order — no global rank window, no single
  partition anywhere).
* Only the q*k+1-gram PREFIX enters the candidate self-join, keyed by
  gram value — the one superlinear exchange, and it shrinks as the
  vocabulary diversifies because prefixes land on the rarest grams.
  The |Δpos| <= k and |Δlen| <= k predicates prune inside the join.
* q sizes the gram space to the corpus: candidate volume is
  Σ C(df_prefix, 2) over gram buckets, so |Σ|^q must comfortably
  exceed n_strings / O(1) or the equi-join degenerates toward
  quadratic (measured: q=2 over a hex alphabet collapses at 1M
  strings; q=4 keeps buckets O(1); SCALE.md §2).
* Verification re-joins the two string columns by id and evaluates
  JVM-side ``levenshtein`` (whole-stage codegen) on candidates only.

Exactness is pinned two ways: a hypothesis battery brute-force-compares
against itertools pairs on adversarial small-alphabet corpora
(tests/test_stringjoin.py), and the driver oracle computes the same
census from an all-pairs DuckDB levenshtein join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load

# Census parameters: normalized 16-char document prefixes, threshold 3.
EDJOIN_K = 3
EDJOIN_Q = 2
EDJOIN_PREFIX_CHARS = 16
# Deterministic subsample modulus bounding the DuckDB oracle's all-pairs
# verify (one corpus for both engines).
EDJOIN_MOD = 2


def prefix_occurrences(s: DataFrame, k: int, q: int) -> DataFrame:
    """The q*k+1 rarest positional q-gram occurrences per string —
    the only rows the candidate self-join exchanges.  ``s`` must carry
    (id, str, slen); returns (id, slen, gram, pos).  Shared by
    :func:`edit_distance_pairs` and its tests."""
    prefix_grams = q * k + 1
    # positional gram stream: (id, pos, gram) for pos in 1..len-q+1
    occ = s.select(
        "id",
        "slen",
        F.explode(
            F.expr(
                f"transform(sequence(1, slen - {q} + 1), "
                f"p -> struct(p AS pos, substring(str, p, {q}) AS gram))"
            )
        ).alias("o"),
    ).select("id", "slen", F.col("o.pos").alias("pos"), F.col("o.gram").alias("gram"))
    freq = occ.groupBy("gram").agg(F.count("*").alias("freq"))
    # rarest-first IN-ROW ordering: the struct order of (freq, gram, pos)
    # IS the global occurrence order; slice the q*k+1 prefix per string
    return (
        occ.join(F.broadcast(freq), "gram")
        .groupBy("id", "slen")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("freq", "gram", "pos"))
                ),
                1,
                prefix_grams,
            ).alias("pref")
        )
        .select(
            "id",
            "slen",
            F.explode("pref").alias("o"),
        )
        .select(
            "id", "slen",
            F.col("o.gram").alias("gram"), F.col("o.pos").alias("pos"),
        )
    )


def edit_distance_pairs(
    strs: DataFrame, k: int = EDJOIN_K, q: int = EDJOIN_Q
) -> DataFrame:
    """EXACT self-join of ``strs`` (columns ``id``, ``str``) returning
    every pair with ``levenshtein <= k`` as (d1, d2, dist), d1 < d2.

    Strings shorter than ``q*k + q`` characters are dropped (the prefix
    bound is vacuous below q*k + 1 grams); completeness holds over the
    retained strings.  See the module docstring for the guarantee and
    the shuffle discipline.
    """
    min_len = q * k + q
    s = strs.filter(F.length("str") >= min_len).select(
        "id", "str", F.length("str").alias("slen")
    )
    prefixes = prefix_occurrences(s, k, q)
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.pos") - F.col("b.pos")) <= k)
            & (F.abs(F.col("a.slen") - F.col("b.slen")) <= k),
        )
        .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
        .distinct()
    )
    s1 = s.select(F.col("id").alias("d1"), F.col("str").alias("s1"))
    s2 = s.select(F.col("id").alias("d2"), F.col("str").alias("s2"))
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("dist", F.levenshtein("s1", "s2"))
        .filter(F.col("dist") <= k)
        .select("d1", "d2", "dist")
    )


def _doc_prefix_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The census corpus: normalized EDJOIN_PREFIX_CHARS-char document
    prefixes on the deterministic ``doc_id % EDJOIN_MOD`` subsample —
    word-salad leading words collide across documents, so the corpus
    carries genuine near-pairs at every distance 0..k."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % EDJOIN_MOD == 0
    )
    return docs.select(
        F.col("doc_id").alias("id"),
        F.substring(
            F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")),
            1,
            EDJOIN_PREFIX_CHARS,
        ).alias("str"),
    )


def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-distance census of the exact k=3 edit-distance self-join.
    The oracle computes the SAME pairs from an all-pairs levenshtein
    join, so a green row proves the positional prefix filter dropped no
    qualifying pair."""
    pairs = edit_distance_pairs(_doc_prefix_strings(spark, sf_dir))
    per_dist = pairs.groupBy("dist").agg(F.count("*").alias("n_pairs"))
    members = (
        pairs.select("dist", F.col("d1").alias("d"))
        .unionByName(pairs.select("dist", F.col("d2").alias("d")))
        .groupBy("dist")
        .agg(F.countDistinct("d").alias("n_strings"))
    )
    return (
        per_dist.join(members, "dist")
        .select(
            F.col("dist").cast("int").alias("dist"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_strings").cast("long").alias("n_strings"),
        )
        .orderBy("dist")
    )


ORACLE_EDIT_DISTANCE_JOIN = f"""
    WITH s AS (
        SELECT doc_id AS id,
               substr(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')),
                      1, {EDJOIN_PREFIX_CHARS}) AS str
        FROM documents
        WHERE doc_id % {EDJOIN_MOD} = 0
    ), sized AS (
        SELECT id, str FROM s
        WHERE length(str) >= {EDJOIN_Q * EDJOIN_K + EDJOIN_Q}
    ), pairs AS (
        SELECT a.id AS d1, b.id AS d2, levenshtein(a.str, b.str) AS dist
        FROM sized a JOIN sized b
          ON a.id < b.id
         AND abs(length(a.str) - length(b.str)) <= {EDJOIN_K}
    ), hits AS (
        SELECT * FROM pairs WHERE dist <= {EDJOIN_K}
    ), members AS (
        SELECT dist, d FROM (
            SELECT dist, d1 AS d FROM hits
            UNION ALL
            SELECT dist, d2 AS d FROM hits
        ) GROUP BY dist, d
    )
    SELECT CAST(h.dist AS INTEGER) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(m.n_strings AS BIGINT) AS n_strings
    FROM hits h
    JOIN (SELECT dist, count(*) AS n_strings FROM members GROUP BY dist) m
      ON h.dist = m.dist
    GROUP BY h.dist, m.n_strings
    ORDER BY dist
"""


QUERIES = {
    "edit_distance_join": q_edit_distance_join,
}

ORACLE_SQL = {
    "edit_distance_join": ORACLE_EDIT_DISTANCE_JOIN,
}
