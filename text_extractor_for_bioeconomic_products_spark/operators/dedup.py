"""Deduplication operators over the ``documents`` table.

Training-data-pipeline dedup family (graft requirement): exact hash,
MinHash+LSH, SimHash, n-gram Jaccard.  All are pure DataFrame/SQL —
JVM-side, whole-stage-codegen'd, no Python in the hot path.

Scale design: every variant reduces to (signature → shuffle on signature
→ within-bucket work).  At 100 TB the signature shuffle is the only
all-to-all movement; candidate verification (Jaccard) runs only within
LSH buckets, never as a global cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
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
    lexicographic min entirely inside the scan's projection, so the five
    dedup queries built on these signatures shuffle nothing before their
    band key.
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


def minhash_band_census(docs: DataFrame) -> DataFrame:
    """LSH bucket census over ALL bands: band key = band_id ':' the band's
    r=2 signature prefixes; buckets holding >1 doc are near-dup candidate
    groups.  One narrow explode (b rows per doc) before the single shuffle
    on the band key — the same scale shape as the one-band version, with b×
    the shuffle rows."""
    sigs = minhash_signatures(docs)
    # generic over r=LSH_BAND_ROWS so the constants can move without the
    # key construction (or its oracle twin below) silently desyncing
    bands = F.array(*[
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
    return (
        sigs.select(F.explode(bands).alias("band"))
        .groupBy("band")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "band")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_band_census(load(spark, sf_dir, "documents"))


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
    # stride mirrors the Spark side's LSH_BAND_ROWS (NOT a literal 2):
    # both sides iterate the same r rows per band by construction
    selects = [
        "SELECT '{}:' || {} AS band FROM sigs".format(
            b,
            " || '|' || ".join(
                f"substr(sig_{LSH_BAND_ROWS * b + j}, 1, 8)"
                for j in range(LSH_BAND_ROWS)
            ),
        )
        for b in range(N_LSH_BANDS)
    ]
    return " UNION ALL ".join(selects)


ORACLE_DEDUP_MINHASH_LSH = f"""
    WITH sigs AS ({_minhash_sql_duckdb()})
    SELECT band, count(*) AS n_docs
    FROM ({_minhash_band_union_sql()})
    GROUP BY band
    HAVING count(*) > 1
    ORDER BY n_docs DESC, band
"""


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-derived word hashes — dialect-portable)
# ---------------------------------------------------------------------------


def simhash16(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash: word hash = first 15 hex of md5 → bigint; bit b of
    the signature is 1 iff Σ_words (±1 per word-bit) > 0.

    Narrow per-row expression — hash the word array once with
    ``transform``, then one ``aggregate`` per bit over the in-row array.
    Zero shuffle (the earlier explode → groupBy moved the whole tokenized
    corpus through an all-to-all); identical results, same oracle."""
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
    hs = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )
    # NULL text drops (parity with the oracle's unnest and the old
    # explode+groupBy shape — see minhash_signatures)
    hashed = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), hs.alias("hs")
    )
    # factory (not default-arg lambdas): pyspark inspects lambda arity and
    # would reject a 3-parameter merge function
    def _bit_merge(bit: int):
        return lambda acc, x: acc + F.when(
            F.shiftright(x, bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_sums = [
        F.aggregate(F.col("hs"), F.lit(0), _bit_merge(b)).alias(f"b{b}")
        for b in range(16)
    ]
    with_bits = hashed.select(id_col, *bit_sums)
    sig = None
    for b in range(16):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return with_bits.select(id_col, sig.alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return simhash16(docs).orderBy("doc_id")


def _simhash_sql_duckdb() -> str:
    bit_sum_cols = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    sig = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
        SELECT doc_id, {sig} AS simhash
        FROM (
            SELECT doc_id, {bit_sum_cols}
            FROM (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
                FROM (
                    SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS w
                    FROM documents
                )
            )
            GROUP BY doc_id
        )
        ORDER BY doc_id
    """


ORACLE_DEDUP_SIMHASH = _simhash_sql_duckdb()


# ---------------------------------------------------------------------------
# SimHash hamming-neighbor census (completes the SimHash flow:
# signatures → banded candidates → verified distance)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4          # 4 bands × 4 bits; hamming ≤ 3 ⇒ ≥1 band equal
HAMMING_MAX = 3


def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup rate census by hamming distance: banded self-join on
    4-bit simhash bands (pigeonhole-complete for hamming ≤ 3), exact
    ``bit_count(xor)`` verification, pair counts per distance.

    Output is the 4-row histogram, not the pair list — the synthetic
    corpus's 20-word vocabulary makes most docs genuine near-neighbors
    (≈2M qualifying pairs at sf0.1), and the census is the curation
    diagnostic a pipeline actually reads ("what fraction of the corpus
    is near-duplicate?") before committing to a full dedup pass.
    At 100 TB: widen the signature (64-bit, 8 bands) and cap hot bands
    exactly as ``_jaccard_pairs_from`` does (MAX_BAND_DOCS + mega-band
    direct emission); a 16-bit signature is keep-first-grouping width,
    not pair-candidate width."""
    sh = simhash16(load(spark, sf_dir, "documents"))
    band_structs = F.array(*[
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftright("simhash", 4 * i).bitwiseAND(F.lit(15)).alias("band_val"),
        )
        for i in range(SIMHASH_BANDS)
    ])
    bands = sh.select(
        "doc_id", "simhash", F.explode(band_structs).alias("band")
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return (
        pairs.filter(F.col("hamming") <= HAMMING_MAX)
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


ORACLE_SIMHASH_HAMMING = f"""
    WITH sh AS ({_simhash_sql_duckdb()}),
    bands AS (
        SELECT doc_id, simhash, i AS band_idx,
               (simhash >> (4 * i)) & 15 AS band_val
        FROM sh, unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS t(i)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
               CAST(bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) AS INT) AS hamming
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
    )
    SELECT hamming, count(*) AS n_pairs
    FROM pairs
    WHERE hamming <= {HAMMING_MAX}
    GROUP BY hamming
    ORDER BY hamming
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard over LSH candidate pairs
# ---------------------------------------------------------------------------


# A band holding B docs generates B² verification pairs — the classic LSH
# hot-bucket failure (seen live: one band → 5.2M pairs, 280 s at sf0.1).
# Bands over this cap skip pairwise verification entirely: sharing a
# minhash band prefix among dozens+ of docs already implies duplication,
# so dup_components emits the whole band as one cluster directly.
MAX_BAND_DOCS = 64


def _banded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    band = F.concat(F.substring("sig_0", 1, 8), F.lit("|"), F.substring("sig_1", 1, 8))
    return sigs.select("doc_id", band.alias("band"))


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


def q_dedup_jaccard_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return _jaccard_pairs_from(docs, _banded_docs(spark, sf_dir))


_JACCARD_BODY_SQL = f"""
    WITH sigs AS ({_minhash_sql_duckdb()}),
    banded_all AS (
        SELECT s.doc_id,
               substr(s.sig_0, 1, 8) || '|' || substr(s.sig_1, 1, 8) AS band,
               list_sort(list_distinct(string_split(lower(d.text), ' '))) AS words
        FROM sigs s JOIN documents d USING (doc_id)
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

ORACLE_DEDUP_JACCARD = _JACCARD_BODY_SQL + " ORDER BY doc_a, doc_b"


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
                              round_log: list | None = None) -> DataFrame:
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
    if round_log is not None:
        # observability hook (jobs/probe_scale.py): live (symmetric,
        # deduped) edge rows entering each round — i.e. the rows the
        # round's groupBy-min + node-keyed join move through their
        # Exchanges.  Entry 0 is the input edge set.
        round_log.append(int(sig["n"] or 0))
    edge_labels = None
    for _ in range(max_iters):
        if driver_finish_max_edges and (sig["n"] or 0) <= driver_finish_max_edges:
            edge_labels = _driver_union_find(edges)
            if round_log is not None:
                round_log.append({"driver_finish_edges": int(sig["n"] or 0)})
            break
        edges = _star(_star(edges, large=True, checkpoint=False), large=False)
        new_sig = _signature(edges)
        if round_log is not None:
            round_log.append(int(new_sig["n"] or 0))
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
    """Duplicate clusters: connected components over jaccard-candidate
    edges (≥ DUP_EDGE_THRESHOLD) via :func:`connected_components_star` —
    the default is the large-star/small-star variant because its per-round
    cost is one groupBy-min plus one node-keyed join, while pointer
    jumping's hop self-join doubles shuffle volume per round (the
    pytest-pinned equivalence twin, :func:`connected_components`, keeps
    the simpler algorithm as the oracle of record) — UNIONed with the
    over-full LSH bands, each emitted directly as one cluster (their
    pairwise verification is skipped by design; the candidate band key is
    single-band, so a doc has exactly one band and the two cluster
    sources never overlap).  Output: one row per cluster with its
    canonical (minimum) doc_id and sorted members; checked against a
    DuckDB recursive-CTE oracle."""
    # banding (doc scan + word explode + minhash shuffle — the costly
    # subtree) materializes ONCE and feeds both the capped candidate
    # pairs and the mega-band aggregation
    docs = load(spark, sf_dir, "documents")
    banded = _banded_docs(spark, sf_dir).persist()
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
    sigs2 AS ({_minhash_sql_duckdb()}),
    mega AS (
        SELECT min(doc_id) AS component,
               count(*) AS n_docs,
               array_to_string(list_sort(list(doc_id)), ',') AS members
        FROM (
            SELECT doc_id,
                   substr(sig_0, 1, 8) || '|' || substr(sig_1, 1, 8) AS band
            FROM sigs2
        )
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


def fuzzy_dedup_victims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_ids to DROP under the fuzzy-dedup decision: every
    `dup_components` cluster member except the canonical (minimum).
    Extraction runs over the cluster table — the small side by
    construction — so consumers broadcast-anti-join it against the
    corpus scan."""
    clusters = q_dup_components(spark, sf_dir)
    return (
        clusters.select(
            "component",
            F.explode(F.split("members", ",")).alias("member"),
        )
        .select("component", F.col("member").cast("bigint").alias("doc_id"))
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
        .distinct()
    )


def q_fuzzy_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census → ACTION: materialize the fuzzy-dedup decision.  Every doc
    in a `dup_components` cluster except the canonical (minimum) member
    is a victim; the kept corpus is an anti-join against that victim
    set.  Victim extraction runs over the CLUSTER table (corpus-scale
    independent — clusters are the small side by construction), so at
    100 TB this adds one broadcast anti-join to the corpus scan on top
    of the clustering cost.  Output: per-source kept/dropped census —
    the number a curation run reports before committing the drop."""
    docs = load(spark, sf_dir, "documents")
    victims = (
        fuzzy_dedup_victims(spark, sf_dir)
        .withColumn("is_victim", F.lit(1))
    )
    return (
        docs.join(F.broadcast(victims), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("is_victim"), F.lit(0))).alias("n_dropped"),
            F.sum(
                F.when(F.col("is_victim").isNull(), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("source")
    )


ORACLE_FUZZY_DEDUP_APPLY = f"""
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
    sigs2 AS ({_minhash_sql_duckdb()}),
    banded AS (
        SELECT doc_id,
               substr(sig_0, 1, 8) || '|' || substr(sig_1, 1, 8) AS band
        FROM sigs2
    ),
    mega_nodes AS (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY band) AS component,
               count(*) OVER (PARTITION BY band) AS n
        FROM banded
    ),
    victims AS (
        SELECT node AS doc_id FROM lab WHERE node <> component
        UNION
        SELECT doc_id FROM mega_nodes
        WHERE n > {MAX_BAND_DOCS} AND doc_id <> component
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(sum(CASE WHEN v.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM documents d LEFT JOIN victims v ON d.doc_id = v.doc_id
    GROUP BY d.source
    ORDER BY d.source
"""


# ---------------------------------------------------------------------------
# Keep-first canonical selection (the dedup output a pipeline consumes)
# ---------------------------------------------------------------------------


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One canonical row per near-dup group: group key = (lang, simhash);
    the kept doc is the lowest doc_id (deterministic) — window rank over
    the group, the standard 'representative per duplicate cluster' shape."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    sh = simhash16(docs)
    joined = docs.join(sh, "doc_id").select("doc_id", "lang", "simhash")
    w = Window.partitionBy("lang", "simhash").orderBy("doc_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", "simhash")
        .orderBy("doc_id")
    )


ORACLE_DEDUP_KEEP_FIRST = f"""
    WITH sh AS ({_simhash_sql_duckdb()})
    SELECT doc_id, lang, simhash FROM (
        SELECT d.doc_id, d.lang, sh.simhash,
               row_number() OVER (PARTITION BY d.lang, sh.simhash ORDER BY d.doc_id) AS rk
        FROM documents d JOIN sh USING (doc_id)
    ) WHERE rk = 1
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Composed curation pipeline — the end-to-end training-data use case:
# quality filter → language filter → dedup keep-first → per-language census
# ---------------------------------------------------------------------------

MIN_WORDS = 20


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (≥MIN_WORDS words) → keep-first per (lang, simhash) →
    per-language counts + token totals.  One scan, one signature shuffle,
    one window, one final agg — the whole curation pass in a single plan
    Catalyst can pipeline."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= MIN_WORDS
    )
    sh = simhash16(docs)
    joined = docs.join(sh, "doc_id")
    w = Window.partitionBy("lang", "simhash").orderBy("doc_id")
    kept = (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.floor(F.length("text") / 4)).alias("est_tokens"),
        )
        .orderBy("lang")
    )


def _curation_sql_duckdb() -> str:
    bit_sum_cols = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    sig = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
        WITH filtered AS (
            SELECT * FROM documents
            WHERE len(string_split(text, ' ')) >= {MIN_WORDS}
        ),
        sh AS (
            SELECT doc_id, {sig} AS simhash
            FROM (
                SELECT doc_id, {bit_sum_cols}
                FROM (
                    SELECT doc_id,
                           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
                    FROM (
                        SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS w
                        FROM filtered
                    )
                )
                GROUP BY doc_id
            )
        ),
        kept AS (
            SELECT d.lang, d.text FROM (
                SELECT d.doc_id,
                       row_number() OVER (PARTITION BY d.lang, sh.simhash ORDER BY d.doc_id) AS rk
                FROM filtered d JOIN sh USING (doc_id)
            ) r JOIN filtered d ON r.doc_id = d.doc_id
            WHERE r.rk = 1
        )
        -- CAST must wrap the sum: DuckDB sum(BIGINT) yields HUGEINT
        -- regardless of the input cast; Spark yields BIGINT.
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(floor(length(text) / 4)) AS BIGINT) AS est_tokens
        FROM kept
        GROUP BY lang
        ORDER BY lang
    """


# ---------------------------------------------------------------------------
# Cross-document duplicate-passage census (Lee et al., "Deduplicating
# Training Data Makes Language Models Better" — the approximate
# passage-level analog).  Distinct from the existing family members:
# `doc_repetition` measures WITHIN-doc repeats; the contamination queries
# compare against a broadcast benchmark side; this one finds word
# n-grams shared ACROSS corpus documents — the boilerplate/mirror signal
# a pretraining pipeline subtracts before training.
# ---------------------------------------------------------------------------

PASSAGE_N = 5  # words per passage gram (Lee et al. use 50 BPE tokens;
               # sized down for the short-doc fixture corpus — a knob)


def _passage_grams(text_col) -> F.Column:
    """Per-row DISTINCT word n-grams as an in-row array — a narrow
    expression (split → slice windows → join), so the corpus-sized
    explode below carries already-deduped grams and nothing else."""
    words = F.filter(
        F.split(F.lower(text_col), "[^a-z0-9]+"), lambda w: F.length(w) > 0
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (PASSAGE_N - 1)),
        lambda i: F.array_join(F.slice(words, i, PASSAGE_N), " "),
    )
    # sequence(1, n) DESCENDS when n < 1 — guard short docs to empty
    return F.array_distinct(
        F.when(F.size(words) >= PASSAGE_N, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


def duplicate_passage_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc count/fraction of passage grams that also occur in ≥1
    OTHER document.

    Scale shape: grams are deduped in-row (narrow) before the explode;
    the (doc, gram) stream shuffles ONCE on ``xxhash64(gram)`` (8-byte
    key, not the passage string) for the document-frequency groupBy
    (map-side partials — a boilerplate gram held by millions of docs
    still reduces to one row per partition before the shuffle).  The
    dup-gram set then hash-joins back against the pair stream on the
    same 8-byte key (AQE skew-splits hot grams), and the per-doc rollup
    shuffles only doc_id + counts.  ``n_grams`` is computed in-row
    before any shuffle, so gram-less docs survive with dup_frac 0.
    """
    per_doc = docs.select(
        "doc_id",
        _passage_grams(F.col(text_col)).alias("grams"),
    ).withColumn("n_grams", F.size("grams"))
    pairs = per_doc.select(
        "doc_id",
        # hash in-row BEFORE the explode so the generator emits 8-byte
        # keys, never passage strings
        F.explode(F.transform("grams", lambda g: F.xxhash64(g))).alias(
            "gram_h"
        ),
    )
    dup_grams = (
        pairs.groupBy("gram_h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram_h")
    )
    dup_counts = (
        pairs.join(dup_grams, "gram_h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_grams"))
    )
    return (
        per_doc.join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
        )
        .withColumn(
            "dup_frac",
            F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                F.round(
                    (F.col("n_dup_grams") / F.col("n_grams")).cast(
                        "decimal(18,10)"
                    ),
                    4,
                ).cast("double")
            ),
        )
    )


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup of the passage census (the dashboard a
    curation run reads before choosing a removal threshold), plus the
    flagged-doc count at the 50% level."""
    docs = load(spark, sf_dir, "documents")
    stats = duplicate_passage_stats(docs)
    return stats.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_grams").alias("total_grams"),
        F.sum("n_dup_grams").alias("total_dup_grams"),
        F.round(
            F.avg(F.col("dup_frac").cast("decimal(18,10)")), 4
        ).cast("double").alias("mean_dup_frac"),
        F.sum(
            F.when(F.col("dup_frac") >= 0.5, 1).otherwise(0)
        ).alias("n_flagged"),
    )


ORACLE_DUPLICATE_PASSAGES = f"""
    WITH per_doc AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(words) >= {PASSAGE_N}
                        THEN list_transform(
                            range(1, len(words) - {PASSAGE_N} + 2),
                            i -> array_to_string(
                                list_slice(words, i, i + {PASSAGE_N} - 1), ' ')
                        )
                        ELSE [] END
               ) AS grams
        FROM (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       w -> len(w) > 0
                   ) AS words
            FROM documents
        )
    ),
    sized AS (SELECT doc_id, grams, len(grams) AS n_grams FROM per_doc),
    pairs AS (SELECT doc_id, unnest(grams) AS gram FROM sized),
    dup_grams AS (
        SELECT gram FROM pairs GROUP BY gram HAVING count(*) >= 2
    ),
    dup_counts AS (
        SELECT doc_id, count(*) AS n_dup_grams
        FROM pairs JOIN dup_grams USING (gram)
        GROUP BY doc_id
    ),
    stats AS (
        SELECT s.doc_id, s.n_grams,
               COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
               CASE WHEN s.n_grams = 0 THEN 0.0
                    ELSE CAST(round(CAST(COALESCE(d.n_dup_grams, 0)::DOUBLE
                              / s.n_grams AS DECIMAL(18,10)), 4) AS DOUBLE)
               END AS dup_frac
        FROM sized s LEFT JOIN dup_counts d USING (doc_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST(sum(n_dup_grams) AS BIGINT) AS total_dup_grams,
           CAST(round(avg(CAST(dup_frac AS DECIMAL(18,10))), 4) AS DOUBLE)
               AS mean_dup_frac,
           CAST(sum(CASE WHEN dup_frac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM stats
"""


# ---------------------------------------------------------------------------
# Incremental (cross-run) dedup: the daily-ingest operation — a new
# batch of arrivals is admitted only where its content hash is unseen in
# the standing corpus AND first-of-hash within the batch.  The reference
# processes directories batch-at-a-time with no memory across runs
# (scripts/direct_batch_process.py re-reads everything); at 100 TB the
# standing corpus IS the state, and the admission check must be a join,
# not a rescan.
# ---------------------------------------------------------------------------

NEW_BATCH_MOD = 5  # doc_id % 5 == 0 → the "new arrivals" batch (~20%)


def incremental_dedup_census(
    corpus: DataFrame, batch: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Admission census for a new batch against a standing corpus.

    Scale shape: both sides reduce to 32-hex content hashes (uniform
    key, no skew).  The membership join and the within-batch keep-first
    window both key on that SAME hash, so the window reuses the join's
    hash partitioning — one shuffle of the batch, one of the corpus's
    distinct hashes (at 100 TB the corpus side is the pre-materialized
    hash index a real deployment maintains incrementally, not a rescan).
    """
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    corpus_h = corpus.select(F.md5(norm).alias("h")).distinct()
    batch_h = batch.select("doc_id", F.md5(norm).alias("h"))
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id")
    )
    flagged = (
        batch_h.join(
            corpus_h.withColumn("in_corpus", F.lit(1)), "h", "left"
        )
        .withColumn("rn", rn)
        .select(
            F.when(F.col("in_corpus").isNotNull(), "dup_vs_corpus")
            .when(F.col("rn") > 1, "dup_within_batch")
            .otherwise("kept")
            .alias("outcome"),
        )
    )
    return flagged.agg(
        F.count("*").alias("n_batch"),
        F.sum(F.when(F.col("outcome") == "dup_vs_corpus", 1).otherwise(0)).alias(
            "n_dup_vs_corpus"
        ),
        F.sum(
            F.when(F.col("outcome") == "dup_within_batch", 1).otherwise(0)
        ).alias("n_dup_within"),
        F.sum(F.when(F.col("outcome") == "kept", 1).otherwise(0)).alias(
            "n_kept"
        ),
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents split deterministically into standing corpus
    (doc_id % NEW_BATCH_MOD != 0) and new arrivals (== 0)."""
    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % NEW_BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % NEW_BATCH_MOD != 0)
    return incremental_dedup_census(corpus, batch)


ORACLE_INCREMENTAL_DEDUP = f"""
    WITH hashed AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS h,
               (doc_id % {NEW_BATCH_MOD} = 0) AS is_batch
        FROM documents
    ),
    corpus_h AS (SELECT DISTINCT h FROM hashed WHERE NOT is_batch),
    b AS (
        -- EXISTS, not IN: 'h IN (...)' is NULL (not false) when h is
        -- NULL or corpus_h holds a NULL (a NULL-text doc), which would
        -- silently drop rows from every outcome bucket; EXISTS with an
        -- equality matches Spark's left-join-miss semantics exactly
        SELECT doc_id, h,
               EXISTS (SELECT 1 FROM corpus_h c WHERE c.h = hashed.h)
                   AS in_corpus,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM hashed WHERE is_batch
    )
    SELECT count(*) AS n_batch,
           CAST(sum(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_vs_corpus,
           CAST(sum(CASE WHEN NOT in_corpus AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_within,
           CAST(sum(CASE WHEN NOT in_corpus AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM b
"""


# ---------------------------------------------------------------------------
# Bloom-filter membership (relational formulation)
# ---------------------------------------------------------------------------

BLOOM_K = 3          # hash functions per item
BLOOM_HEX = 5        # cell key = 5 hex chars ⇒ 16^5 = 1,048,576 cells


def _bloom_positions(hcol, k: int = BLOOM_K, hex_chars: int = BLOOM_HEX):
    """k cell keys per item: substr(md5('bloom<i>:' || h), 1, hex_chars).
    String cells instead of bit offsets so the construction is byte-
    identical in Spark and DuckDB (no hex→int conversion, whose
    width/sign semantics differ between engines)."""
    return F.array(*[
        F.substring(
            F.md5(F.concat(F.lit(f"bloom{i}:"), hcol)), 1, hex_chars
        )
        for i in range(k)
    ])


def bloom_membership_census(
    corpus: DataFrame, batch: DataFrame, text_col: str = "text",
    k: int = BLOOM_K, hex_chars: int = BLOOM_HEX,
) -> DataFrame:
    """Bloom-filter admission census — the O(cells) membership path for
    when even the content-hash index is too big to join: the standing
    corpus reduces to its DISTINCT set cells (≤ 16^5 rows FOREVER,
    regardless of corpus size — the compaction a bit array gives,
    expressed relationally so it stays a plain equi-join Catalyst can
    broadcast), and a batch row "might be a member" iff all k of its
    cells are set.  False positives are the price; this census measures
    them against the exact twin IN-BAND — the same
    approximate-op-ships-its-error discipline as the GK percentile
    sketch (`relational.py`) and the ANN recall ledgers.

    Deterministic across engines: cells are md5-derived strings, so the
    measured fp_rate is itself oracle-checked, and fp_expected =
    load_factor^k (the classic bound with k independent probes) ships
    alongside for the comparison a deployment tunes cells/k against.
    Reference analog: the reference's only duplicate-identity facility
    is the per-file content hash (`src/utils/helpers.py:83`
    `get_file_hash`) — this is that identity as an admission census,
    with the seen-set replaced by a fixed-size structure for when it
    no longer fits.
    """
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    corpus_h = corpus.filter(F.col(text_col).isNotNull()).select(
        F.md5(norm).alias("h")
    )
    batch_h = batch.filter(F.col(text_col).isNotNull()).select(
        "doc_id", F.md5(norm).alias("h")
    )
    cells = (
        corpus_h.select(F.explode(_bloom_positions(F.col("h"), k, hex_chars)).alias("cell"))
        .distinct()
    )
    batch_cells = batch_h.select(
        "doc_id", F.explode(_bloom_positions(F.col("h"), k, hex_chars)).alias("cell")
    )
    hits = (
        batch_cells.join(cells, "cell", "left_semi")
        .groupBy("doc_id").agg(F.count("*").alias("hits"))
    )
    exact = corpus_h.distinct().withColumn("in_corpus", F.lit(1))
    flagged = (
        batch_h.join(hits, "doc_id", "left")
        .join(exact, "h", "left")
        .select(
            (F.coalesce(F.col("hits"), F.lit(0)) == k).alias("might"),
            F.col("in_corpus").isNotNull().alias("member"),
        )
    )
    n_cells = F.lit(16 ** hex_chars)
    agg = flagged.agg(
        F.count("*").alias("n_batch"),
        F.sum(F.when(F.col("member"), 1).otherwise(0)).alias("n_exact_members"),
        F.sum(F.when(F.col("might"), 1).otherwise(0)).alias("n_might_contain"),
        F.sum(
            F.when(F.col("might") & ~F.col("member"), 1).otherwise(0)
        ).alias("n_false_positives"),
    )
    bits = cells.agg(F.count("*").alias("cells_set"))
    return agg.crossJoin(F.broadcast(bits)).select(
        "n_batch", "n_exact_members", "n_might_contain", "n_false_positives",
        F.round(
            (
                F.col("n_false_positives")
                / F.greatest(F.col("n_batch") - F.col("n_exact_members"), F.lit(1))
            ).cast("decimal(18,10)"),
            4,
        ).cast("double").alias("fp_rate"),
        "cells_set",
        F.round(
            (F.col("cells_set") / n_cells).cast("decimal(18,10)"), 4
        ).cast("double").alias("load_factor"),
        F.round(
            F.pow(F.col("cells_set") / n_cells, F.lit(k))
            .cast("decimal(18,10)"),
            4,
        ).cast("double").alias("fp_expected"),
    )


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents split by the incremental-dedup convention: standing
    corpus (doc_id % NEW_BATCH_MOD != 0) vs new arrivals (== 0)."""
    docs = load(spark, sf_dir, "documents")
    return bloom_membership_census(
        docs.filter(F.col("doc_id") % NEW_BATCH_MOD != 0),
        docs.filter(F.col("doc_id") % NEW_BATCH_MOD == 0),
    )


ORACLE_BLOOM_MEMBERSHIP = f"""
    WITH hashed AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS h,
               (doc_id % {NEW_BATCH_MOD} = 0) AS is_batch
        FROM documents WHERE text IS NOT NULL
    ),
    seeds AS (SELECT unnest(range({BLOOM_K})) AS i),
    cells AS (
        SELECT DISTINCT substr(md5('bloom' || CAST(i AS VARCHAR) || ':' || h),
                               1, {BLOOM_HEX}) AS cell
        FROM hashed, seeds WHERE NOT is_batch
    ),
    bhits AS (
        SELECT bp.doc_id, count(c.cell) AS hits
        FROM (
            SELECT doc_id,
                   substr(md5('bloom' || CAST(i AS VARCHAR) || ':' || h),
                          1, {BLOOM_HEX}) AS cell
            FROM hashed, seeds WHERE is_batch
        ) bp LEFT JOIN cells c ON bp.cell = c.cell
        GROUP BY bp.doc_id
    ),
    flagged AS (
        SELECT (bh.hits = {BLOOM_K}) AS might,
               b.h IN (SELECT h FROM hashed WHERE NOT is_batch) AS member
        FROM hashed b JOIN bhits bh USING (doc_id)
        WHERE b.is_batch
    ),
    agg AS (
        SELECT count(*) AS n_batch,
               CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_members,
               CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT) AS n_might_contain,
               CAST(sum(CASE WHEN might AND NOT member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
        FROM flagged
    )
    SELECT n_batch, n_exact_members, n_might_contain, n_false_positives,
           CAST(round(CAST(n_false_positives::DOUBLE
                 / greatest(n_batch - n_exact_members, 1) AS DECIMAL(18,10)), 4)
                AS DOUBLE) AS fp_rate,
           (SELECT count(*) FROM cells) AS cells_set,
           CAST(round(CAST((SELECT count(*) FROM cells)::DOUBLE
                 / {16 ** BLOOM_HEX} AS DECIMAL(18,10)), 4) AS DOUBLE) AS load_factor,
           CAST(round(CAST(pow((SELECT count(*) FROM cells)::DOUBLE
                 / {16 ** BLOOM_HEX}, {BLOOM_K}) AS DECIMAL(18,10)), 4)
                AS DOUBLE) AS fp_expected
    FROM agg
"""


# ---------------------------------------------------------------------------
# Gram-novelty census: first-occurrence attribution over ingest order.
# duplicate_passages asks "how much of this doc exists elsewhere";
# novelty asks the curation-side question "which docs/sources CONTRIBUTE
# content the corpus hasn't seen yet" — each distinct passage gram is
# attributed to its first holder (min doc_id = ingest order, matching
# the keep-first convention above), and a document's novelty is the
# share of its grams it owns.  This is the dashboard behind
# ingest-ordering decisions (a source whose novelty decays to ~0 is
# re-crawling known content).  Reference analog: the reference re-reads
# whole directories per run with no cross-run memory
# (scripts/direct_batch_process.py:124-158) — this census is the
# cross-run attribution that absence calls for, at passage granularity.
# ---------------------------------------------------------------------------


def gram_novelty_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc novelty: (doc_id, n_grams, n_novel, novelty).

    Scale shape — identical single-shuffle discipline to
    :func:`duplicate_passage_stats`: grams dedupe in-row, the exploded
    stream carries only (doc_id, xxhash64(gram)), the first-owner
    attribution is ONE groupBy-min with map-side partials, and the
    ownership check joins back on the same 8-byte key (AQE splits hot
    grams).  Gram-less docs are vacuously novel (novelty 1.0): they
    contribute nothing already seen.
    """
    per_doc = docs.select(
        "doc_id", _passage_grams(F.col(text_col)).alias("grams")
    ).withColumn("n_grams", F.size("grams"))
    pairs = per_doc.select(
        "doc_id",
        F.explode(F.transform("grams", lambda g: F.xxhash64(g))).alias(
            "gram_h"
        ),
    )
    first_owner = pairs.groupBy("gram_h").agg(
        F.min("doc_id").alias("first_doc")
    )
    novel_counts = (
        pairs.join(first_owner, "gram_h")
        .filter(F.col("doc_id") == F.col("first_doc"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        per_doc.join(novel_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.when(F.col("n_grams") == 0, F.lit(1.0)).otherwise(
                F.round(
                    (F.col("n_novel") / F.col("n_grams")).cast(
                        "decimal(18,10)"
                    ),
                    4,
                ).cast("double")
            ),
        )
    )


def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novelty rollup: which sources still contribute unseen
    passages, in ingest (doc_id) order of attribution."""
    docs = load(spark, sf_dir, "documents")
    stats = gram_novelty_stats(docs)
    return (
        docs.select("doc_id", "source")
        .join(stats, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_novel").alias("total_novel"),
            F.round(F.avg(F.col("novelty").cast("decimal(18,10)")), 4)
            .cast("double")
            .alias("mean_novelty"),
            F.sum(F.when(F.col("novelty") < 0.5, 1).otherwise(0)).alias(
                "n_stale"
            ),
        )
        .orderBy("source")
    )


ORACLE_GRAM_NOVELTY = f"""
    WITH per_doc AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(words) >= {PASSAGE_N}
                        THEN list_transform(
                            range(1, len(words) - {PASSAGE_N} + 2),
                            i -> array_to_string(
                                list_slice(words, i, i + {PASSAGE_N} - 1), ' ')
                        )
                        ELSE [] END
               ) AS grams
        FROM (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       w -> len(w) > 0
                   ) AS words
            FROM documents
        )
    ),
    sized AS (SELECT doc_id, grams, len(grams) AS n_grams FROM per_doc),
    pairs AS (SELECT doc_id, unnest(grams) AS gram FROM sized),
    first_owner AS (
        SELECT gram, min(doc_id) AS first_doc FROM pairs GROUP BY gram
    ),
    novel_counts AS (
        SELECT doc_id, count(*) AS n_novel
        FROM pairs JOIN first_owner USING (gram)
        WHERE doc_id = first_doc
        GROUP BY doc_id
    ),
    stats AS (
        SELECT s.doc_id, s.n_grams,
               COALESCE(n.n_novel, 0) AS n_novel,
               CASE WHEN s.n_grams = 0 THEN 1.0
                    ELSE CAST(round(CAST(COALESCE(n.n_novel, 0)::DOUBLE
                              / s.n_grams AS DECIMAL(18,10)), 4) AS DOUBLE)
               END AS novelty
        FROM sized s LEFT JOIN novel_counts n USING (doc_id)
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(st.n_grams) AS BIGINT) AS total_grams,
           CAST(sum(st.n_novel) AS BIGINT) AS total_novel,
           CAST(round(avg(CAST(st.novelty AS DECIMAL(18,10))), 4) AS DOUBLE)
               AS mean_novelty,
           CAST(sum(CASE WHEN st.novelty < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stale
    FROM documents d JOIN stats st USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
"""


# ---------------------------------------------------------------------------
# Exact set-similarity join (PPJoin-style prefix filtering)
# ---------------------------------------------------------------------------

# Jaccard threshold for the exact join.  The synthetic corpus draws from a
# ~40-word vocabulary, so pairwise Jaccard is high across the board
# (p50 ≈ 0.60); 0.9 keeps the verified-pair set selective (~1% of pairs).
SSJOIN_TAU = 0.9
# Deterministic subsample modulus: bounds the DuckDB oracle's
# candidate-pair join (the oracle generates candidates from EVERY shared
# token; with a 40-word vocab that is quadratic in the subsample size).
# The Spark side applies the same filter so both engines see one corpus.
SSJOIN_MOD = 4


def set_similarity_pairs(
    docs: DataFrame, tau: float = SSJOIN_TAU, text_col: str = "text"
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    PPJoin family, Xiao et al. 2008) — the exact complement of the
    approximate LSH candidates in `q_dedup_jaccard_candidates`.

    Guarantee: two token SETS with |A∩B|/|A∪B| ≥ τ must share at least
    one token among the first |A| − ⌈τ·|A|⌉ + 1 tokens of A when both
    sets are ordered by the SAME global token order — so exploding only
    that prefix generates a candidate superset with ZERO false
    negatives, and the exact Jaccard verify makes the result identical
    to the brute-force all-pairs join.

    Scale shape: the global order is ascending document frequency
    (rarest first — minimizes candidate fan-out because prefixes land on
    the rarest tokens); df is a |V|-sized partial agg broadcast into the
    token stream, and each document sorts its own tokens IN-ROW by
    (df, token) struct order — no global rank window, no single
    partition anywhere.  The candidate exchange shuffles only prefix
    tokens (≈(1−τ)·|doc| of them), verification joins the two
    doc→token-set maps back by id.  At 100 TB the prefix explode is the
    only superlinear term and it shrinks as τ → 1; skewed prefix tokens
    are exactly the rare ones, so bucket sizes stay bounded by
    construction.  Returns (d1, d2, jaccard) with d1 < d2."""
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda x: F.length(x) > 0,
            )
        )
    )
    sets = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    tok_stream = sets.select("doc_id", F.explode("toks").alias("tok"))
    dfreq = tok_stream.groupBy("tok").agg(F.count("*").alias("df"))
    # order each doc's tokens rarest-first: collect (df, tok) structs and
    # array_sort's lexicographic struct order IS the global token order
    ordered = (
        tok_stream.join(F.broadcast(dfreq), "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("by_rarity")
        )
        .select(
            "doc_id",
            F.expr("transform(by_rarity, s -> s.tok)").alias("ordered"),
        )
    )
    prefix_len = (
        F.size("ordered")
        - F.ceil(F.lit(tau) * F.size("ordered")).cast("int")
        + F.lit(1)
    )
    prefixes = ordered.select(
        "doc_id", F.explode(F.slice("ordered", 1, prefix_len)).alias("tok")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    s1 = sets.select(F.col("doc_id").alias("d1"), F.col("toks").alias("t1"))
    s2 = sets.select(F.col("doc_id").alias("d2"), F.col("toks").alias("t2"))
    inter = F.size(F.array_intersect("t1", "t2"))
    union = F.size("t1") + F.size("t2") - inter
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jac", inter.cast("double") / union)
        .filter(F.col("jac") >= tau)
        .select("d1", "d2", "jac")
    )


def q_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the exact τ-Jaccard self-join on the deterministic
    doc_id % SSJOIN_MOD subsample.  The oracle computes the SAME pairs
    brute-force (candidates from every shared token + exact verify), so
    a green row proves the prefix filter dropped no qualifying pair."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SSJOIN_MOD == 0
    )
    pairs = set_similarity_pairs(docs).select(
        "d1",
        "d2",
        # round surprisal-style to DECIMAL(18,6) so the avg below is a
        # partition-order-independent exact decimal sum on both engines
        F.round(F.col("jac").cast("decimal(18,10)"), 6)
        .cast("decimal(18,6)")
        .alias("j6"),
    )
    n_docs = (
        pairs.select(F.col("d1").alias("d"))
        .unionByName(pairs.select(F.col("d2").alias("d")))
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    return (
        pairs.agg(
            F.count("*").alias("n_pairs"),
            F.round(
                (F.sum("j6").cast("double") / F.count("*")).cast(
                    "decimal(18,10)"
                ),
                4,
            )
            .cast("double")
            .alias("avg_jaccard"),
            F.max("j6").cast("double").alias("max_jaccard"),
            F.min("j6").cast("double").alias("min_jaccard"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select("n_pairs", "n_docs", "avg_jaccard", "max_jaccard", "min_jaccard")
    )


# Brute-force twin: candidates from EVERY shared token (not just the
# prefix) + the same exact verify — any qualifying pair the Spark-side
# prefix filter missed would show up here as a count/value mismatch.
ORACLE_SET_SIMILARITY_JOIN = f"""
    WITH sub AS (
        SELECT doc_id, text FROM documents WHERE doc_id % {SSJOIN_MOD} = 0
    ),
    tok AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
            FROM sub
        ) WHERE length(term) > 0
    ),
    sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT d1, d2,
               CAST(round(CAST(i * 1.0 / (s1.s + s2.s - i)
                               AS DECIMAL(18,10)), 6) AS DECIMAL(18,6)) AS j6
        FROM inter
        JOIN sz s1 ON inter.d1 = s1.doc_id
        JOIN sz s2 ON inter.d2 = s2.doc_id
        WHERE i * 1.0 / (s1.s + s2.s - i) >= {SSJOIN_TAU}
    )
    SELECT count(*) AS n_pairs,
           (SELECT count(*) FROM
               (SELECT d1 AS d FROM pairs UNION SELECT d2 FROM pairs)) AS n_docs,
           CAST(round(CAST(CAST(sum(j6) AS DOUBLE) / count(*)
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS avg_jaccard,
           CAST(max(j6) AS DOUBLE) AS max_jaccard,
           CAST(min(j6) AS DOUBLE) AS min_jaccard
    FROM pairs
"""


# ---------------------------------------------------------------------------
# Asymmetric containment join (quote/subset detection)
# ---------------------------------------------------------------------------

# Containment threshold: C(A→B) = |A∩B|/|A| ≥ θ flags documents whose
# token set is (near-)contained in another's — the asymmetric dual of
# the Jaccard join above (a short doc quoted inside a long one has low
# Jaccard but containment ≈ 1, so a symmetric join misses it).
CONTAIN_THETA = 0.95


def containment_pairs(
    docs: DataFrame, theta: float = CONTAIN_THETA, text_col: str = "text"
) -> DataFrame:
    """EXACT directed containment self-join via asymmetric prefix
    filtering.  If |A∩B| ≥ θ·|A| then A misses at most |A|−⌈θ·|A|⌉ of
    its own tokens from B, so among any |A|−⌈θ·|A|⌉+1 tokens of A at
    least one is in B — probe-side A explodes only that prefix (in the
    global rarest-first order), build-side B explodes ALL tokens (the
    PPJoin containment variant: the probe prefix bound does not apply
    to the build side).  Zero false negatives; exact verify after.

    Scale shape: identical discipline to `set_similarity_pairs` — df is
    a broadcast |V|-row agg, per-doc ordering is in-row, no windows.
    The build-side full explode is the token stream itself (the same
    volume every inverted-index build moves); the probe side shrinks
    with θ.  Returns (d1, d2, containment) for d1 ≠ d2, where d1 is the
    (near-)contained document."""
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda x: F.length(x) > 0,
            )
        )
    )
    sets = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    tok_stream = sets.select("doc_id", F.explode("toks").alias("tok"))
    dfreq = tok_stream.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        tok_stream.join(F.broadcast(dfreq), "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("by_rarity")
        )
        .select(
            "doc_id",
            F.expr("transform(by_rarity, s -> s.tok)").alias("ordered"),
        )
    )
    prefix_len = (
        F.size("ordered")
        - F.ceil(F.lit(theta) * F.size("ordered")).cast("int")
        + F.lit(1)
    )
    probe = ordered.select(
        F.col("doc_id").alias("d1"),
        F.explode(F.slice("ordered", 1, prefix_len)).alias("tok"),
    )
    build = tok_stream.select(
        F.col("doc_id").alias("d2"), F.col("tok")
    )
    cand = (
        probe.join(build, (probe.tok == build.tok)
                   & (F.col("d1") != F.col("d2")))
        .select("d1", "d2")
        .distinct()
    )
    s1 = sets.select(F.col("doc_id").alias("d1"), F.col("toks").alias("t1"))
    s2 = sets.select(F.col("doc_id").alias("d2"), F.col("toks").alias("t2"))
    contain = F.size(F.array_intersect("t1", "t2")).cast("double") / F.size("t1")
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("containment", contain)
        .filter(F.col("containment") >= theta)
        .select("d1", "d2", "containment")
    )


def q_containment_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the exact directed θ-containment join on the same
    deterministic subsample as `set_similarity_join`; the oracle is the
    all-shared-token brute force, so green == the asymmetric prefix
    filter dropped no qualifying (contained, container) pair."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SSJOIN_MOD == 0
    )
    pairs = containment_pairs(docs).select(
        "d1",
        "d2",
        F.round(F.col("containment").cast("decimal(18,10)"), 6)
        .cast("decimal(18,6)")
        .alias("c6"),
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("d1").alias("n_contained_docs"),
        F.sum((F.col("c6") >= 1.0).cast("bigint")).alias("n_full"),
        F.round(
            (F.sum("c6").cast("double") / F.count("*")).cast("decimal(18,10)"),
            4,
        )
        .cast("double")
        .alias("avg_containment"),
        F.min("c6").cast("double").alias("min_containment"),
    )


ORACLE_CONTAINMENT_CENSUS = f"""
    WITH sub AS (
        SELECT doc_id, text FROM documents WHERE doc_id % {SSJOIN_MOD} = 0
    ),
    tok AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
            FROM sub
        ) WHERE length(term) > 0
    ),
    sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT d1, d2,
               CAST(round(CAST(i * 1.0 / s1.s AS DECIMAL(18,10)), 6)
                    AS DECIMAL(18,6)) AS c6
        FROM inter JOIN sz s1 ON inter.d1 = s1.doc_id
        WHERE i * 1.0 / s1.s >= {CONTAIN_THETA}
    )
    SELECT count(*) AS n_pairs,
           count(DISTINCT d1) AS n_contained_docs,
           CAST(sum(CASE WHEN c6 >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
           CAST(round(CAST(CAST(sum(c6) AS DOUBLE) / count(*)
                           AS DECIMAL(18,10)), 4) AS DOUBLE) AS avg_containment,
           CAST(min(c6) AS DOUBLE) AS min_containment
    FROM pairs
"""


# ---------------------------------------------------------------------------
# Cross-source passage-overlap matrix: which SOURCES share content —
# the corpus-level contamination census.  duplicate_passage_stats asks
# "how much of each DOC is duplicated somewhere"; this asks the question
# a mixing-weight decision needs: "which source PAIRS overlap, and by
# how much" (mirror sites, syndicated feeds, re-crawls).  Reference
# analog: none — the reference's duplicate identity is a single
# source-blind per-file hash (src/utils/helpers.py:83 get_file_hash).
# ---------------------------------------------------------------------------


def source_overlap_matrix(docs: DataFrame, text_col: str = "text",
                          source_col: str = "source") -> DataFrame:
    """Pairwise source-overlap census over distinct passage grams: for
    every source pair sharing ≥ 1 gram, the shared-distinct-gram count
    and the gram-set Jaccard.

    Scale shape: grams dedupe in-row, then (source, xxhash64(gram))
    dedupes in one shuffle — the matrix join runs on DISTINCT
    (source, gram_h) pairs keyed by the 8-byte hash.  Per-gram pair
    fan-out is bounded by C(|sources|, 2), not corpus size; a
    deployment with thousands of sources additionally caps universal
    boilerplate grams by document frequency before pairing (the same
    hot-band cap as the LSH path).  Per-source set sizes broadcast back
    onto the |sources|²-bounded matrix.
    """
    sg = (
        docs.select(
            F.col(source_col).alias("s"),
            F.explode(_passage_grams(F.col(text_col))).alias("gram"),
        )
        .select("s", F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    sizes = sg.groupBy("s").agg(F.count("*").alias("n_grams"))
    shared = (
        sg.select(F.col("s").alias("sa"), "gh")
        .join(sg.select(F.col("s").alias("sb"), "gh"), "gh")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("s").alias("sa"),
                                     F.col("n_grams").alias("grams_a"))),
            "sa",
        )
        .join(
            F.broadcast(sizes.select(F.col("s").alias("sb"),
                                     F.col("n_grams").alias("grams_b"))),
            "sb",
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("grams_a").cast("long").alias("grams_a"),
            F.col("grams_b").cast("long").alias("grams_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                (
                    F.col("n_shared")
                    / (F.col("grams_a") + F.col("grams_b") - F.col("n_shared"))
                ).cast("decimal(18,10)"),
                6,
            ).cast("double").alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return source_overlap_matrix(docs)


ORACLE_SOURCE_OVERLAP = f"""
    WITH per_doc AS (
        SELECT source AS s,
               list_distinct(
                   CASE WHEN len(words) >= {PASSAGE_N}
                        THEN list_transform(
                            range(1, len(words) - {PASSAGE_N} + 2),
                            i -> array_to_string(
                                list_slice(words, i, i + {PASSAGE_N} - 1), ' ')
                        )
                        ELSE [] END
               ) AS grams
        FROM (
            SELECT source,
                   list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       w -> len(w) > 0
                   ) AS words
            FROM documents
        )
    ),
    sg AS (
        SELECT DISTINCT s, unnest(grams) AS gram FROM per_doc
    ),
    sizes AS (SELECT s, count(*) AS n_grams FROM sg GROUP BY s),
    shared AS (
        SELECT a.s AS sa, b.s AS sb, count(*) AS n_shared
        FROM sg a JOIN sg b ON a.gram = b.gram AND a.s < b.s
        GROUP BY 1, 2
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(za.n_grams AS BIGINT) AS grams_a,
           CAST(zb.n_grams AS BIGINT) AS grams_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(round(CAST(CAST(n_shared AS DOUBLE)
                           / (za.n_grams + zb.n_grams - n_shared)
                           AS DECIMAL(18,10)), 6) AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes za ON za.s = sa
    JOIN sizes zb ON zb.s = sb
    ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# Sorted-neighborhood near-dup candidates (Hernández & Stolfo 1995, the
# "sorted blocks" variant of Draisbach & Naumann): sort by a content
# prefix key, compare each row only to its next W-1 neighbors in sort
# order.  The THIRD blocking geometry in this module — minhash/LSH
# buckets by set similarity, simhash bands by bit similarity; SNM
# catches the near-dups both can under-weigh (shared long prefixes with
# a divergent tail) at strictly linear candidate volume: ≤ (W-1)·n
# pairs by construction, no hot-bucket blowup possible.
# ---------------------------------------------------------------------------

SNM_WINDOW = 4       # compare each doc to its next 3 sort neighbors
SNM_KEY_CHARS = 32   # sort key: normalized-text prefix
SNM_BLOCK_CHARS = 4  # sorted-blocks partition prefix (parallelism unit)
SNM_CMP_CHARS = 64   # edit-distance comparison prefix
SNM_LEV_MAX = 16     # integer threshold — no float surface at all


def snm_candidate_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Sorted-neighborhood candidate pairs: (doc_a, doc_b, lev) for
    every pair within SNM_WINDOW in (sort_key, doc_id) order whose
    SNM_CMP_CHARS-char normalized prefixes are within SNM_LEV_MAX edits.

    Scale shape: ONE shuffle — the per-block window sort.  Blocks are
    the SNM_BLOCK_CHARS-char key prefix, so the global sort the classic
    algorithm demands becomes |blocks| independent sorted runs (the
    published "sorted blocks" tradeoff: pairs straddling a block
    boundary are lost; at 100 TB block granularity is tuned so blocks
    hold thousands of docs each, and a boundary-overlap pass of W rows
    per block edge recovers the seam pairs at negligible cost).
    Candidate volume is hard-bounded at (W-1)·n — the property that
    makes SNM the safe first pass on corpora whose LSH band
    distribution is unknown.  The levenshtein guard runs on fixed-width
    prefixes, so per-pair cost is O(SNM_CMP_CHARS²) constant.
    """
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    keyed = docs.select(
        "doc_id",
        F.substring(norm, 1, SNM_KEY_CHARS).alias("sk"),
        F.substring(norm, 1, SNM_CMP_CHARS).alias("cmp"),
    ).withColumn("blk", F.substring("sk", 1, SNM_BLOCK_CHARS))
    w = Window.partitionBy("blk").orderBy("sk", "doc_id")
    with_next = keyed.select(
        "doc_id",
        "cmp",
        F.array(
            *[
                F.lead(F.struct(F.col("doc_id").alias("d"),
                                F.col("cmp").alias("c")), i).over(w)
                for i in range(1, SNM_WINDOW)
            ]
        ).alias("nbrs"),
    )
    pairs = with_next.select(
        F.col("doc_id").alias("doc_a"),
        "cmp",
        F.explode("nbrs").alias("nb"),
    ).filter(F.col("nb").isNotNull())
    return (
        pairs.select(
            "doc_a",
            F.col("nb.d").alias("doc_b"),
            F.levenshtein("cmp", F.col("nb.c")).alias("lev"),
        )
        .filter(F.col("lev") <= SNM_LEV_MAX)
        .orderBy("doc_a", "doc_b")
    )


def q_snm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return snm_candidate_pairs(docs)


_SNM_LEADS = ",\n               ".join(
    f"lead(doc_id, {i}) OVER w AS d{i}, lead(cmp, {i}) OVER w AS c{i}"
    for i in range(1, SNM_WINDOW)
)
_SNM_ARMS = "\n            UNION ALL\n".join(
    f"""            SELECT doc_id AS doc_a, d{i} AS doc_b,
                   levenshtein(cmp, c{i}) AS lev
            FROM leads WHERE d{i} IS NOT NULL"""
    for i in range(1, SNM_WINDOW)
)
ORACLE_SNM_CANDIDATES = f"""
    WITH keyed AS (
        SELECT doc_id,
               substr(n, 1, {SNM_KEY_CHARS}) AS sk,
               substr(n, 1, {SNM_CMP_CHARS}) AS cmp,
               substr(n, 1, {SNM_BLOCK_CHARS}) AS blk
        FROM (
            SELECT doc_id,
                   lower(trim(regexp_replace(
                       text, '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS n
            FROM documents
        )
    ),
    leads AS (
        SELECT doc_id, cmp,
               {_SNM_LEADS}
        FROM keyed
        WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id)
    ),
    arms AS (
{_SNM_ARMS}
    )
    SELECT doc_a, doc_b, CAST(lev AS INT) AS lev
    FROM arms WHERE lev <= {SNM_LEV_MAX}
    ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — local document fingerprinting
# ---------------------------------------------------------------------------

WINNOW_K = 8   # char k-gram length over the normalized text
WINNOW_W = 4   # window of consecutive k-gram hashes per selection
# ⇒ guarantee threshold t = K + W - 1 = 11: any shared normalized
#   substring of ≥ 11 chars shares at least one selected fingerprint


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): normalize (lowercase, strip
    non-alphanumerics), hash every char k-gram, slide a window of ``w``
    consecutive hashes, and select each window's minimum (RIGHTMOST
    position on ties — the robust variant, so a long run of equal
    hashes yields one fingerprint, not ``w``).  Selected (hash, pos)
    pairs dedupe into the document's fingerprint set, which is LOCAL:
    unlike MinHash (a global random sample of the gram set), winnowing
    guarantees any two documents sharing a normalized substring of
    length ≥ k + w - 1 share a fingerprint — the property plagiarism /
    near-verbatim-contamination detection needs and sampling sketches
    cannot give.  Expected density is 2/(w+1) of grams.

    Scale shape: the whole selection is IN-ROW (nested higher-order
    functions over the gram-hash array — one narrow projection, no
    explode, no shuffle); only the deduped fingerprint set leaves the
    row, ~2n/(w+1) entries per doc.  The reference's fingerprint slot
    is the per-file content hash (src/utils/helpers.py:83
    get_file_hash) — an exact-match-only signal this operator strictly
    generalizes.

    Docs with at least one gram but fewer than ``w`` windows get one
    window spanning all grams (every gram-bearing doc yields ≥ 1
    fingerprint).  Hashes are the first 8 hex chars of md5 — the
    engine-identical construction, compared lexicographically, so the
    fingerprint sets hash-check against the SQL oracle.

    Returns the input columns + ``n_grams`` (int) + ``fingerprints``
    (array<struct<h:string, p:int>>).

    Expression-shape constraint (load-bearing): NO lambda body below
    references a COLUMN — only its own lambda variables.  Catalyst's
    filter pushdown (PushPredicateThroughNonJoin) substitutes project
    aliases into pushed predicates unconditionally; an alias referenced
    inside a higher-order-function lambda is then re-evaluated PER
    ELEMENT, turning any consumer ``.filter()`` over a derived column
    into an O(n²)+ plan (measured: an `element_at(_hs, j)`-style fold
    hung at 3k-char docs once a filter pushed through it).  With
    column references only at top level, full inlining costs a bounded
    constant factor.  The same discipline avoids two other measured
    cliffs: ``substring(_s, i, k)`` positional gram extraction (UTF8
    char lookup is a byte walk → Σi = O(n²); a zero-width-lookahead
    regexp extracts all overlapping grams in one O(n·k) pass) and
    ``array_distinct`` over struct arrays (O(n²) pairwise equality;
    rightmost-tie-break selections are non-decreasing in position, so
    duplicates are adjacent runs and a keep-if-changed zip equals the
    distinct set in O(n)).
    """
    H = 8  # md5-prefix width in hex chars (fixed; grams hash to this)
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    d = docs.withColumn("_s", norm).withColumn(
        "_n", F.length("_s") - F.lit(k) + 1
    )
    # every overlapping char k-gram in ONE regex pass (zero-width
    # lookahead advances a single char per match), hashed to 8 hex
    # chars and concatenated: gram i lives at _hstr[H·i+1 .. H·i+H]
    d = d.withColumn(
        "_hstr",
        F.expr(
            f"array_join(transform("
            f"regexp_extract_all(_s, '(?=(.{{{k}}}))', 1), "
            f"g -> substr(md5(g), 1, {H})), '')"
        ),
    )
    # Sliding windows of w consecutive hashes = the (H·w)-char
    # substrings of _hstr at H-aligned offsets: the lookahead CAPTURES
    # H·w chars while the match CONSUMES H, so find() strides one hash
    # per match and the match index IS the 0-based gram index (no
    # over-extraction at unaligned offsets, no stride filter).  Each
    # window's rightmost-min is unrolled over its w fixed-position
    # chunks (w² short string compares, no fold state).
    chunks = [f"substr(s.win, {H * j + 1}, {H})" for j in range(w)]
    m = f"least({', '.join(chunks)})"
    idx = (
        "CASE "
        + " ".join(
            f"WHEN {chunks[j]} = {m} THEN {j}" for j in range(w - 1, 0, -1)
        )
        + " ELSE 0 END"
    )
    main = (
        f"transform(transform("
        f"regexp_extract_all(_hstr, '(?=(.{{{H * w}}})).{{{H}}}', 1), "
        f"(x, i) -> named_struct('win', x, 'off', i)), "
        f"s -> named_struct('h', {m}, "
        f"'p', CAST(s.off + ({idx}) + 1 AS INT)))"
    )
    # fewer grams than one window: a single window spanning all grams
    # (nullif guards the missing chunks; least/CASE skip nulls)
    schunks = [
        f"nullif(substr(_hstr, {H * j + 1}, {H}), '')" for j in range(w)
    ]
    sm = f"least({', '.join(schunks)})"
    sidx = (
        "CASE "
        + " ".join(
            f"WHEN {schunks[j]} = {sm} THEN {j}" for j in range(w - 1, 0, -1)
        )
        + " ELSE 0 END"
    )
    small = f"array(named_struct('h', {sm}, 'p', CAST(({sidx}) + 1 AS INT)))"
    sel = (
        f"CASE WHEN _n >= {w} THEN {main} "
        f"WHEN _n >= 1 THEN {small} ELSE array() END"
    )
    # keep-if-changed dedupe: zip each selection with its predecessor
    # (top-level refs only), keep position changes, drop the null gaps
    dedup = (
        "CASE WHEN size(_sa) <= 1 THEN _sa ELSE "
        "filter(zip_with(_sa, "
        "concat(array(named_struct('h', '', 'p', 0)), "
        "slice(_sa, 1, size(_sa) - 1)), "
        "(cur, prev) -> CASE WHEN cur.p != prev.p THEN cur END), "
        "x -> x IS NOT NULL) END"
    )
    return (
        d.withColumn("_sa", F.expr(sel))
        .withColumn("fingerprints", F.expr(dedup))
        .withColumn("n_grams", F.greatest("_n", F.lit(0)))
        .drop("_s", "_n", "_hstr", "_sa")
    )


def q_winnowing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winnowing census: gram volume, selected-fingerprint
    volume (the ~2/(w+1) density check is the in-band invariant), the
    source's distinct fingerprint vocabulary, and how much of that
    vocabulary also appears in OTHER sources — the near-verbatim
    cross-source contamination signal `source_overlap` measures with
    passages, here at fingerprint (≥ 11-char match) granularity."""
    docs = load(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs)
    per_doc = fp.select(
        "source", "doc_id", "n_grams", F.explode_outer("fingerprints").alias("f")
    )
    grams = fp.groupBy("source").agg(
        F.sum("n_grams").cast("long").alias("total_grams")
    )
    flat = per_doc.filter(F.col("f").isNotNull()).select(
        "source", "doc_id", F.col("f.h").alias("h")
    )
    src_h = flat.select("source", "h").distinct()
    shared = (
        src_h.groupBy("h")
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select("h")
    )
    shared_per_src = (
        src_h.join(F.broadcast(shared), "h")
        .groupBy("source")
        .agg(F.count("*").alias("n_shared_fp"))
    )
    census = flat.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_fingerprints"),
        F.countDistinct("h").alias("n_distinct_fp"),
    )
    return (
        census.join(grams, "source")
        .join(shared_per_src, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "total_grams",
            F.col("n_fingerprints").cast("long").alias("n_fingerprints"),
            F.col("n_distinct_fp").cast("long").alias("n_distinct_fp"),
            F.coalesce("n_shared_fp", F.lit(0)).cast("long").alias("n_shared_fp"),
            F.round(
                (F.col("n_fingerprints") / F.col("total_grams")).cast(
                    "decimal(18,10)"
                ),
                4,
            ).cast("double").alias("density"),
        )
        .orderBy("source")
    )


# independent formulation: the oracle derives the same fingerprints via
# unnest + a windowed min + a rightmost-argmin join — positional SQL,
# not the in-row lambda fold — so a hash match proves the selection.
# Shared CTE chain ending in fp(doc_id, source, h, p); both winnowing
# oracles compose over it.
_WINNOW_FP_CTES = f"""sized AS (
        SELECT doc_id, source,
               regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s,
               length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   - {WINNOW_K} + 1 AS n
        FROM documents
    ),
    gpos AS (
        SELECT doc_id, source, s, n,
               unnest(generate_series(1, greatest(n, 0))) AS pos
        FROM sized
    ),
    grams AS (
        SELECT doc_id, source, n, pos,
               substr(md5(substring(s, pos, {WINNOW_K})), 1, 8) AS h
        FROM gpos
    ),
    wins AS (
        SELECT doc_id, source, n,
               unnest(generate_series(1, greatest(n - {WINNOW_W} + 1, 1)))
                   AS wi
        FROM (SELECT DISTINCT doc_id, source, n FROM grams)
    ),
    wmin AS (
        SELECT w.doc_id, w.source, w.n, w.wi, min(g.h) AS mh
        FROM wins w
        JOIN grams g ON g.doc_id = w.doc_id
                    AND g.pos BETWEEN w.wi
                                  AND least(w.wi + {WINNOW_W} - 1, w.n)
        GROUP BY 1, 2, 3, 4
    ),
    sel AS (
        SELECT w.doc_id, w.source, w.mh AS h, max(g.pos) AS p
        FROM wmin w
        JOIN grams g ON g.doc_id = w.doc_id AND g.h = w.mh
                    AND g.pos BETWEEN w.wi
                                  AND least(w.wi + {WINNOW_W} - 1, w.n)
        GROUP BY w.doc_id, w.source, w.wi, w.mh
    ),
    fp AS (SELECT DISTINCT doc_id, source, h, p FROM sel)"""

ORACLE_WINNOWING_CENSUS = f"""
    WITH {_WINNOW_FP_CTES},
    grams_per_src AS (
        SELECT source, CAST(sum(greatest(n, 0)) AS BIGINT) AS total_grams
        FROM sized GROUP BY source
    ),
    src_h AS (SELECT DISTINCT source, h FROM fp),
    shared AS (
        SELECT h FROM src_h GROUP BY h HAVING count(*) >= 2
    ),
    shared_per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_shared_fp
        FROM src_h JOIN shared USING (h) GROUP BY source
    ),
    census AS (
        SELECT source,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_fingerprints,
               CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_fp
        FROM fp GROUP BY source
    )
    SELECT c.source, c.n_docs, g.total_grams, c.n_fingerprints,
           c.n_distinct_fp,
           COALESCE(s.n_shared_fp, 0) AS n_shared_fp,
           CAST(round(CAST(c.n_fingerprints::DOUBLE / g.total_grams
                      AS DECIMAL(18,10)), 4) AS DOUBLE) AS density
    FROM census c
    JOIN grams_per_src g USING (source)
    LEFT JOIN shared_per_src s USING (source)
    ORDER BY c.source
"""


WINNOW_MAX_BUCKET = 64   # fingerprints shared by more docs are stopwords
WINNOW_MIN_SHARED = 2    # report pairs sharing ≥ 2 distinct fingerprints


def winnowing_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Near-verbatim candidate pairs via shared winnowing fingerprints:
    docs sharing ≥ ``WINNOW_MIN_SHARED`` distinct fingerprint hashes —
    i.e. at least two independent ≥ (k+w-1)-char verbatim regions —
    plus the overlap coefficient |shared| / min(|fp_a|, |fp_b|), the
    containment-style score that stays high when a small doc is
    embedded in a large one (Jaccard would dilute it).

    Scale shape: the same bucketed discipline as the MinHash band join
    (`_jaccard_pairs_from`): fingerprints shared by more than
    ``WINNOW_MAX_BUCKET`` docs are boilerplate stopwords and are
    excluded BEFORE the self-join, so per-bucket work is bounded by
    WINNOW_MAX_BUCKET² regardless of corpus skew and the pair exchange
    never sees the all-pairs cross product.  Per-doc fingerprint counts
    (the overlap denominator) come from the pre-cap sets, so stopword
    exclusion lowers recall but never inflates the score — the same
    conservative accounting as the near-dup recall ledger.
    """
    fp = winnow_fingerprints(docs)
    dfp = fp.select(
        "doc_id", F.explode("fingerprints").alias("f")
    ).select("doc_id", F.col("f.h").alias("h")).distinct()
    per_doc = dfp.groupBy("doc_id").agg(F.count("*").alias("nf"))
    ok = (
        dfp.groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= WINNOW_MAX_BUCKET))
        .select("h")
    )
    small = dfp.join(ok, "h", "left_semi")
    a = small.select(F.col("h"), F.col("doc_id").alias("doc_a"))
    b = small.select(F.col("h"), F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    na = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("nf_a"))
    nb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nf_b"))
    overlap = F.round(
        (F.col("n_shared") / F.least("nf_a", "nf_b")).cast("decimal(18,10)"), 4
    ).cast("double")
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            overlap.alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    )


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_candidate_pairs(load(spark, sf_dir, "documents"))


ORACLE_WINNOWING_PAIRS = f"""
    WITH {_WINNOW_FP_CTES},
    dfp AS (SELECT DISTINCT doc_id, h FROM fp),
    per_doc AS (SELECT doc_id, count(*) AS nf FROM dfp GROUP BY doc_id),
    ok AS (
        SELECT h FROM dfp GROUP BY h
        HAVING count(*) BETWEEN 2 AND {WINNOW_MAX_BUCKET}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM dfp a
        JOIN ok USING (h)
        JOIN dfp b USING (h)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           CAST(round(CAST(p.n_shared::DOUBLE / least(na.nf, nb.nf)
                      AS DECIMAL(18,10)), 4) AS DOUBLE) AS overlap
    FROM pairs p
    JOIN per_doc na ON na.doc_id = p.doc_a
    JOIN per_doc nb ON nb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_keep_first": q_dedup_keep_first,
    "curation_pipeline": q_curation_pipeline,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_hamming": q_dedup_simhash_hamming,
    "dedup_jaccard_candidates": q_dedup_jaccard_candidates,
    "dup_components": q_dup_components,
    "fuzzy_dedup_apply": q_fuzzy_dedup_apply,
    "duplicate_passages": q_duplicate_passages,
    "incremental_dedup": q_incremental_dedup,
    "bloom_membership": q_bloom_membership,
    "gram_novelty": q_gram_novelty,
    "set_similarity_join": q_set_similarity_join,
    "containment_census": q_containment_census,
    "source_overlap": q_source_overlap,
    "snm_candidates": q_snm_candidates,
    "winnowing_census": q_winnowing_census,
    "winnowing_pairs": q_winnowing_pairs,
}

ORACLE_SQL = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_keep_first": ORACLE_DEDUP_KEEP_FIRST,
    "curation_pipeline": _curation_sql_duckdb(),
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_simhash_hamming": ORACLE_SIMHASH_HAMMING,
    "dedup_jaccard_candidates": ORACLE_DEDUP_JACCARD,
    "dup_components": ORACLE_DUP_COMPONENTS,
    "fuzzy_dedup_apply": ORACLE_FUZZY_DEDUP_APPLY,
    "duplicate_passages": ORACLE_DUPLICATE_PASSAGES,
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "bloom_membership": ORACLE_BLOOM_MEMBERSHIP,
    "gram_novelty": ORACLE_GRAM_NOVELTY,
    "set_similarity_join": ORACLE_SET_SIMILARITY_JOIN,
    "containment_census": ORACLE_CONTAINMENT_CENSUS,
    "source_overlap": ORACLE_SOURCE_OVERLAP,
    "snm_candidates": ORACLE_SNM_CANDIDATES,
    "winnowing_census": ORACLE_WINNOWING_CENSUS,
    "winnowing_pairs": ORACLE_WINNOWING_PAIRS,
}
