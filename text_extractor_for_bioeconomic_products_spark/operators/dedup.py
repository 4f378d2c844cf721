"""Deduplication operators over the ``documents`` table.

What the jobs run: the exact-hash census (``run_datacard``), MinHash
signatures with LSH band keys (the streaming near-dup admission), the
banded word-set Jaccard candidates → connected components → keep-min
victims (``run_curation``), and the star-contraction components
(``media_dedup``).  The registry holds the two of these that have a
DuckDB oracle: ``dedup_exact`` and ``dup_components``.  All are pure
DataFrame/SQL — JVM-side, no Python in the hot path.

Scale design: every variant reduces to (signature → shuffle on signature
→ within-bucket work).  At 100 TB the signature shuffle is the only
all-to-all movement; candidate verification (Jaccard) runs only within
LSH buckets, never as a global cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy (the baseline)
# ---------------------------------------------------------------------------


def exact_duplicate_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """md5-of-normalized-text groups; map-side partial count then shuffle
    on the 32-hex key — uniform by construction (no skew)."""
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    return (
        docs.select(F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        exact_duplicate_groups(docs)
        .select(
            F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(0)).alias("duplicate_docs"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("duplicate_groups"),
            F.count("*").alias("distinct_texts"),
        )
    )


ORACLE_DEDUP_EXACT = """
    -- CAST(sum(..) AS BIGINT): DuckDB sum(INTEGER/BIGINT) yields HUGEINT;
    -- Spark yields BIGINT.
    SELECT CAST(sum(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END) AS BIGINT) AS duplicate_docs,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate_groups,
           count(*) AS distinct_texts
    FROM (
        SELECT md5(lower(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS content_hash,
               count(*) AS n_docs
        FROM documents
        GROUP BY content_hash
    )
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
# Signature: for seed i, sig_i(doc) = min over word shingles of
# md5(i || shingle) — lexicographic min of hex digests is an order-
# isomorphic stand-in for min over a hash permutation, identical in Spark
# and DuckDB (both emit lowercase hex).  Banding: one band per seed pair.

N_MINHASH = 4


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n_hashes: int = N_MINHASH) -> DataFrame:
    """One row per doc: sig_0..sig_{n-1} (word-level shingles).

    Narrow per-row expression: ``array_min(transform(words, w ->
    md5(i || w)))`` — zero shuffle.  The earlier explode(words) →
    groupBy(doc) formulation moved every (doc, word) pair through an
    all-to-all the size of the tokenized corpus; this computes the same
    lexicographic min entirely inside the scan's projection, so nothing
    built on these signatures shuffles before its band key.
    """
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), " "))

    # factory (not default-arg lambdas): pyspark inspects lambda arity, and a
    # second parameter would be taken for the optional index argument
    def _seed_hash(seed: int):
        return lambda w: F.md5(F.concat(F.lit(str(seed)), w))

    sigs = [
        F.array_min(F.transform(words, _seed_hash(i))).alias(f"sig_{i}")
        for i in range(n_hashes)
    ]
    # NULL text yields no signature row (the explode-based formulation and
    # the oracle's unnest both drop such docs; keeping them would group
    # every NULL-text doc into one spurious NULL band)
    return docs.filter(F.col(text_col).isNotNull()).select(F.col(id_col), *sigs)


# b bands × r rows from the N_MINHASH signatures (b·r = N_MINHASH):
# a pair of near-dups is a candidate iff SOME band's r signatures all
# agree — banding is the OR that buys recall (a single band silently
# misses every near-dup whose first two signatures diverge; the planted
# pair in tests/test_pipeline.py::test_minhash_second_band_recall is
# caught by band 1 only).  Reference analog: the banded-dedup settings
# the reference declares but never implemented (config/settings.py:149-156).
N_LSH_BANDS = 2
LSH_BAND_ROWS = N_MINHASH // N_LSH_BANDS


def lsh_band_keys() -> Column:
    """Array of the N_LSH_BANDS band keys over the ``sig_`` columns
    :func:`minhash_signatures` emits: ``'<band>:'`` then the band's
    LSH_BAND_ROWS 8-hex signature prefixes joined by ``|``."""
    return F.array(*[
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


def _minhash_sql_duckdb(n_hashes: int = N_MINHASH) -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}' || w)) AS sig_{i}" for i in range(n_hashes)
    )
    return f"""
        SELECT doc_id, {sig_cols}
        FROM (
            SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS w
            FROM documents
        )
        GROUP BY doc_id
    """


def _minhash_band_union_sql() -> str:
    """(doc_id, band) rows, one per band of each doc in the ``sigs`` CTE —
    the DuckDB twin of exploding :func:`lsh_band_keys`."""
    # stride mirrors the Spark side's LSH_BAND_ROWS (NOT a literal 2):
    # both sides iterate the same r rows per band by construction
    selects = [
        "SELECT doc_id, '{}:' || {} AS band FROM sigs".format(
            b,
            " || '|' || ".join(
                f"substr(sig_{LSH_BAND_ROWS * b + j}, 1, 8)"
                for j in range(LSH_BAND_ROWS)
            ),
        )
        for b in range(N_LSH_BANDS)
    ]
    return " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# n-gram Jaccard over LSH candidate pairs
# ---------------------------------------------------------------------------


# A band holding B docs generates B² verification pairs — the classic LSH
# hot-bucket failure (seen live: one band → 5.2M pairs, 280 s at sf0.1).
# Bands over this cap skip pairwise verification entirely: sharing a
# minhash band prefix among dozens+ of docs already implies duplication,
# so dup_components emits the whole band as one cluster directly.
MAX_BAND_DOCS = 64


def _banded_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, band) rows over every LSH band — the key the streaming
    near-dup admission rejects on, so batch and stream pair the same
    docs."""
    return minhash_signatures(docs).select(
        "doc_id", F.explode(lsh_band_keys()).alias("band")
    )


def _jaccard_pairs_from(docs: DataFrame, banded: DataFrame) -> DataFrame:
    """Candidate pairs + word-set Jaccard for docs sharing a ≤cap band.

    The self-join runs on the band key (bucket-local), never all-pairs;
    bands over MAX_BAND_DOCS are excluded (see above) so per-bucket work
    is bounded by MAX_BAND_DOCS² regardless of corpus skew.  The round
    goes through DECIMAL(18,10) — double round() breaks .xxxx5 ties
    differently across engines (same hardening as doc_quality), and the
    rounded value feeds dup_components' edge threshold.
    """
    band_sizes = banded.groupBy("band").agg(F.count("*").alias("band_n"))
    small = banded.join(
        band_sizes.filter(F.col("band_n") <= MAX_BAND_DOCS), "band", "left_semi"
    )
    words = docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))).alias("words"),
    )
    small = small.join(words, "doc_id")
    a = small.select(
        F.col("band"), F.col("doc_id").alias("doc_a"), F.col("words").alias("words_a")
    )
    b = small.select(
        F.col("band"), F.col("doc_id").alias("doc_b"), F.col("words").alias("words_b")
    )
    pairs = a.join(b, "band").filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("words_a", "words_b"))
    union = F.size(F.array_union("words_a", "words_b"))
    jac = F.round(
        (inter / F.greatest(union, F.lit(1))).cast("decimal(18,10)"), 4
    ).cast("double")
    return (
        pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


_JACCARD_BODY_SQL = f"""
    WITH sigs AS ({_minhash_sql_duckdb()}),
    banded_all AS (
        SELECT b.doc_id, b.band,
               list_sort(list_distinct(string_split(lower(d.text), ' '))) AS words
        FROM ({_minhash_band_union_sql()}) b JOIN documents d USING (doc_id)
    ),
    banded AS (
        SELECT * FROM banded_all
        WHERE band IN (
            SELECT band FROM banded_all GROUP BY band
            HAVING count(*) <= {MAX_BAND_DOCS}
        )
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(round(CAST(len(list_intersect(a.words, b.words))::DOUBLE
                 / greatest(len(list_distinct(list_concat(a.words, b.words))), 1)
                 AS DECIMAL(18,10)), 4) AS DOUBLE) AS jaccard
    FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# Connected-components duplicate clustering (iterative min-label
# propagation) — the graph step after candidate generation: near-dup
# pairs form edges; a cluster keeps one canonical doc.
# ---------------------------------------------------------------------------

DUP_EDGE_THRESHOLD = 0.5
_MAX_CC_ITERS = 20


def connected_components(pairs: DataFrame) -> DataFrame:
    """Min-label propagation with pointer jumping over undirected edges
    ``(doc_a, doc_b)`` → one row per component: (component, n_docs,
    members).

    label(v) ← min(label(v), min label of neighbors, label(label(v)))
    until fixpoint.  Deterministic (min is order-free); the pointer-jump
    step (every label value is itself a node) halves path lengths, so
    convergence takes O(log diameter) rounds — a 2^20-long chain fits in
    _MAX_CC_ITERS.  At 100 TB use :func:`connected_components_star`
    (alternating large-star/small-star, implemented below and tested
    output-identical) — it bounds per-round shuffle volume; each
    iteration here is two keyed joins + one groupBy-min.
    """
    pairs = pairs.persist()
    bidir = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = (
        bidir.select(F.col("doc_a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    def _label_sum(df: DataFrame):
        # decimal(38,0): sum of 10^9+ doc-id labels overflows int64 (and
        # Spark 4 ANSI mode would raise rather than wrap)
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    try:
        prev_sum = _label_sum(labels)
        for _ in range(_MAX_CC_ITERS):
            neigh = bidir.join(labels, bidir.doc_a == labels.node).select(
                F.col("doc_b").alias("node"), "label"
            )
            hop = (
                labels.select("node", "label").union(neigh)
                .groupBy("node").agg(F.min("label").alias("label"))
            )
            jump = hop.select(
                F.col("node").alias("jnode"), F.col("label").alias("jlabel")
            )
            # localCheckpoint each round: the hop self-join doubles the
            # logical plan per iteration, and without severing it Catalyst
            # analysis alone blows up (measured 26 s → 147 s at sf0.01
            # when this was a plain persist).  Cost: checkpoint blocks are
            # freed by GC rather than the explicit unpersist — bounded at
            # O(log diameter) small (node,label) snapshots.
            merged = (
                hop.join(jump, hop.label == jump.jnode, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            # convergence check without a join against the previous
            # labels: per-node labels are non-increasing, so the label
            # sum strictly decreases iff any node changed this round —
            # one aggregate job instead of join+filter+count
            cur_sum = _label_sum(merged)
            labels.unpersist()
            labels = merged
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            raise RuntimeError("label propagation did not converge")
        return (
            labels.groupBy(F.col("label").alias("component"))
            .agg(
                F.count("*").alias("n_docs"),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_set("node")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("members"),
            )
            .orderBy("component")
            .localCheckpoint(eager=True)
        )
    finally:
        pairs.unpersist()
        bidir.unpersist()
        labels.unpersist()


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """(node, label) for every node in ``edges`` via deterministic
    union-find; label = the component's minimum node.  Only called on an
    edge set whose exact size was just counted and is under
    DRIVER_FINISH_MAX_EDGES — a bounded collect, not an unbounded one."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for row in edges.collect():
        a, b = row[0], row[1]
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so every root IS its component's minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = sorted((n, find(n)) for n in nodes)
    node_type = edges.schema["u"].dataType
    schema = T.StructType([
        T.StructField("node", node_type, False),
        T.StructField("label", node_type, False),
    ])
    return edges.sparkSession.createDataFrame(labels, schema)


# Edge-count bound below which the star loop hands the REMAINING graph to
# a driver-side union-find: ~100k edges is a few MB — a bounded, known-size
# collect (the convergence signature already counts the live edge set every
# round, so the check is free).  At 100 TB the loop contracts distributedly
# until the survivor graph fits, then finishes in one pass instead of
# paying O(log diameter) more full-shuffle rounds whose per-round fixed
# cost exceeds the work left.  Set to 0 to force the all-distributed path
# (the pytest equivalence twins do).
DRIVER_FINISH_MAX_EDGES = 100_000


def connected_components_star(pairs: DataFrame,
                              max_iters: int = _MAX_CC_ITERS,
                              driver_finish_max_edges: int = DRIVER_FINISH_MAX_EDGES,
                              ) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — the 100 TB variant
    of :func:`connected_components`, same output contract: one row per
    component (component, n_docs, members).

    Per round, every node u with neighborhood Γ(u) and
    m = min(Γ(u) ∪ {u}):
    * **large-star**: rewire each strictly-larger neighbor v > u to m
    * **small-star**: rewire each neighbor v ≤ u, and u itself, to m

    Both operations preserve connectivity and strictly shrink star
    heights; per-round cost is one groupBy-min plus one join keyed by
    node (no pointer-jump self-join on labels), which is the property
    that bounds shuffle volume at 10^12-edge scale.  Convergence when
    the edge multiset stops changing (checked by an exact count +
    decimal hash-sum signature — labels-only, no exceptAll).

    Hybrid finish (round 3): distributed rounds run only while the live
    edge count (free — the convergence signature counts it) exceeds
    ``driver_finish_max_edges``; under the bound the survivor graph is a
    few MB, and a deterministic driver union-find finishes in one pass
    instead of O(log diameter) more rounds whose fixed per-round cost
    exceeds the remaining work.  Tested equivalent to the
    pointer-jumping implementation on the real candidate edges and on
    adversarial graphs (chain, star, clique, isolated pairs) on BOTH
    paths (hybrid and forced all-distributed).
    """
    # persist before the two-direction union — otherwise the upstream
    # lineage (e.g. the banded-jaccard candidate pipeline) executes twice
    # inside the eager checkpoint (connected_components persists for the
    # same reason)
    pairs = pairs.persist()
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes appearing ONLY in self-pairs have no edge rows but are still
    # singleton components under the pointer-jumping contract
    all_nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()

    def _signature(e: DataFrame):
        # order-insensitive multiset signature of the edge set
        return e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]

    def _star(e: DataFrame, large: bool, checkpoint: bool = True) -> DataFrame:
        mins = e.groupBy("u").agg(F.min("v").alias("mn"))
        m = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        j = e.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
            # keep u's own link to m so lower neighbors aren't lost
            out = out.union(m.select(F.col("u"), F.col("m").alias("v")))
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(m.select(F.col("u"), F.col("m").alias("v")))
        sym = out.union(out.select(F.col("v").alias("u"), F.col("u").alias("v")))
        dedup = sym.filter(F.col("u") != F.col("v")).distinct()
        # sever per-round plan growth — ONE eager checkpoint per
        # large+small round (the intermediate large-star plan is depth-
        # bounded, so materializing it separately would only add a
        # blocking job per round; these tiny-latency rounds are the CC
        # wall-clock at bench scale)
        return dedup.localCheckpoint(eager=True) if checkpoint else dedup

    sig = _signature(edges)
    edge_labels = None
    for _ in range(max_iters):
        if driver_finish_max_edges and (sig["n"] or 0) <= driver_finish_max_edges:
            edge_labels = _driver_union_find(edges)
            break
        edges = _star(_star(edges, large=True, checkpoint=False), large=False)
        new_sig = _signature(edges)
        if (new_sig["n"], new_sig["h"]) == (sig["n"], sig["h"]):
            break
        sig = new_sig
    else:
        raise RuntimeError("star contraction did not converge")

    if edge_labels is None:
        # at fixpoint the graph is a union of stars centered on each
        # component's minimum: label every node by its min neighbor-or-self;
        # edge-less nodes (self-pair-only inputs) label themselves
        edge_labels = (
            edges.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select(F.col("u").alias("node"), F.least("mn", F.col("u")).alias("label"))
        )
    labels = (
        all_nodes.join(edge_labels, "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
    )
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .orderBy("component")
    )


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dup_components` over the ``documents`` table of ``sf_dir``."""
    return dup_components(load(spark, sf_dir, "documents"))


def dup_components(docs: DataFrame) -> DataFrame:
    """Duplicate clusters of ``docs`` (``doc_id``, ``text``): connected
    components over jaccard-candidate edges (≥ DUP_EDGE_THRESHOLD) via
    :func:`connected_components_star` — the default is the
    large-star/small-star variant because its per-round cost is one
    groupBy-min plus one node-keyed join, while pointer jumping's hop
    self-join doubles shuffle volume per round (the pytest-pinned
    equivalence twin, :func:`connected_components`, keeps the simpler
    algorithm as the oracle of record) — UNIONed with the
    over-full LSH bands, each emitted directly as one cluster (their
    pairwise verification is skipped by design).  Candidates share ANY
    band (:func:`lsh_band_keys`, the streaming admission's key), so a
    doc in several over-full bands, or in one and in a verified
    component, is a member of each of those clusters.  Output: one row
    per cluster with its canonical (minimum) doc_id and sorted members;
    checked against a DuckDB recursive-CTE oracle."""
    # banding (doc scan + word explode + minhash shuffle — the costly
    # subtree) materializes ONCE and feeds both the capped candidate
    # pairs and the mega-band aggregation
    banded = _banded_docs(docs).persist()
    pairs = _jaccard_pairs_from(docs, banded) \
        .filter(F.col("jaccard") >= DUP_EDGE_THRESHOLD) \
        .select("doc_a", "doc_b")
    cc = connected_components_star(pairs)
    mega = (
        banded
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("component"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("n_docs") > MAX_BAND_DOCS)
        .select("component", "n_docs", "members")
    )
    out = cc.unionByName(mega).orderBy("component").localCheckpoint(eager=True)
    banded.unpersist()
    return out


ORACLE_DUP_COMPONENTS = f"""
    WITH RECURSIVE cand AS (
        SELECT doc_a, doc_b FROM ({_JACCARD_BODY_SQL})
        WHERE jaccard >= {DUP_EDGE_THRESHOLD}
    ),
    bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM cand
        UNION
        SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach(a, b) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
    ),
    lab AS (
        SELECT a AS node, least(a, min(b)) AS component
        FROM reach GROUP BY a
    ),
    sigs AS ({_minhash_sql_duckdb()}),
    mega AS (
        SELECT min(doc_id) AS component,
               count(*) AS n_docs,
               array_to_string(list_sort(list(doc_id)), ',') AS members
        FROM ({_minhash_band_union_sql()})
        GROUP BY band
        HAVING count(*) > {MAX_BAND_DOCS}
    )
    SELECT component,
           count(*) AS n_docs,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM lab
    GROUP BY component
    UNION ALL
    SELECT component, n_docs, members FROM mega
    ORDER BY component
"""


def fuzzy_dedup_victims(docs: DataFrame) -> DataFrame:
    """doc_ids of ``docs`` to DROP under the fuzzy-dedup decision: every
    doc of a group of :func:`dup_components` clusters linked through
    shared members, except the group's minimum.  Over-full bands emit
    clusters that overlap (a doc can sit in the band-0 and the band-1
    cluster), so the (component, member) edges run through connected
    components once more: a transitively linked group keeps one doc, as
    the streaming near-dup admission does.  The cluster table is the
    small side by construction, so consumers broadcast-anti-join the
    victims against the corpus scan."""
    clusters = dup_components(docs)
    edges = clusters.select(
        "component", F.explode(F.split("members", ",")).alias("member")
    ).select(
        F.col("component").cast("bigint").alias("doc_a"),
        F.col("member").cast("bigint").alias("doc_b"),
    )
    groups = connected_components_star(edges)
    return (
        groups.select(
            "component", F.explode(F.split("members", ",")).alias("member")
        )
        .select("component", F.col("member").cast("bigint").alias("doc_id"))
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dup_components": q_dup_components,
}

ORACLE_SQL = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dup_components": ORACLE_DUP_COMPONENTS,
}
