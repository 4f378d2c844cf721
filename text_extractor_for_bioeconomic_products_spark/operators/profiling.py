"""Table profiling (graft extension): the one-pass column-statistics
census every ingest pipeline runs before trusting a new drop of data.

The reference validates inputs field-by-field with per-row Python
checks (src/utils/helpers.py:153 ``validate_file_path``, :233
``extract_countries`` region gate); at 100 TB the equivalent health
check is a COLUMN census: null counts, distinct cardinalities, numeric
ranges, string lengths — computed in ONE pass over the table, not one
scan per column.

Scale shape: all per-column aggregates are expressed in a single
``agg(...)`` so Catalyst plans one scan; the multiple exact
``count(distinct)`` terms plan through a single Expand (row
multiplication by #distinct-aggregates, map-side partials intact) —
one wide stage instead of N scans.  At 100 TB the exact distincts
would swap to ``approx_count_distinct`` (HLL, mergeable and
one-pass); exact is
kept here because it is what a DuckDB twin can hash-check.  The final
unpivot to one row per column is a literal ``stack`` over the single
aggregate row — no second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load


def profile_table(df: DataFrame,
                  numeric_cols: list[str],
                  string_cols: list[str],
                  timestamp_cols: list[str]) -> DataFrame:
    """One-pass profile: a row per column with
    (column, n_rows, n_nulls, n_distinct, min_num, max_num, avg_len).
    Numeric/timestamp columns report their range as doubles (timestamps
    as epoch seconds); string columns report mean length; the unused
    slots are null."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in numeric_cols + string_cols + timestamp_cols:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"mx_{c}"))
    for c in timestamp_cols:
        # NTZ has no direct numeric cast; route via TIMESTAMP — the
        # session pins spark.sql.session.timeZone=UTC (session.py), so
        # the wall-clock value maps to the same epoch seconds DuckDB's
        # epoch_ms assigns a naive timestamp
        ts = F.col(c).cast("timestamp").cast("double")
        aggs.append(F.min(ts).alias(f"mn_{c}"))
        aggs.append(F.max(ts).alias(f"mx_{c}"))
    for c in string_cols:
        aggs.append(
            F.round(
                F.avg(F.length(F.col(c)).cast("decimal(18,10)")), 4
            ).cast("double").alias(f"al_{c}")
        )
    one = df.agg(*aggs)

    parts = []
    for c in numeric_cols + timestamp_cols:
        parts.append(
            f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}, CAST(NULL AS DOUBLE)"
        )
    for c in string_cols:
        parts.append(
            f"'{c}', nn_{c}, nd_{c}, CAST(NULL AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), al_{c}"
        )
    n = len(numeric_cols) + len(string_cols) + len(timestamp_cols)
    stacked = one.select(
        "__rows",
        F.expr(
            f"stack({n}, {', '.join(parts)}) AS "
            "(column, n_non_null, n_distinct, min_num, max_num, avg_len)"
        ),
    )
    return stacked.select(
        F.col("column"),
        F.col("__rows").alias("n_rows"),
        (F.col("__rows") - F.col("n_non_null")).alias("n_nulls"),
        "n_distinct",
        "min_num",
        "max_num",
        "avg_len",
    ).orderBy("column")


ORDERS_NUMERIC = ["o_orderkey", "o_custkey", "o_totalprice"]
ORDERS_STRING = ["o_orderstatus", "o_orderpriority"]
ORDERS_TIMESTAMP = ["o_orderdate"]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface: the full-column profile of the orders table."""
    return profile_table(
        load(spark, sf_dir, "orders"),
        ORDERS_NUMERIC,
        ORDERS_STRING,
        ORDERS_TIMESTAMP,
    )


def _profile_sql_duckdb() -> str:
    selects = []
    for c in ORDERS_NUMERIC:
        selects.append(f"""
    SELECT '{c}' AS "column", count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS DOUBLE) AS min_num,
           CAST(max({c}) AS DOUBLE) AS max_num,
           CAST(NULL AS DOUBLE) AS avg_len
    FROM orders""")
    for c in ORDERS_TIMESTAMP:
        selects.append(f"""
    SELECT '{c}', count(*), count(*) - count({c}), count(DISTINCT {c}),
           CAST(epoch_ms(min({c})) AS DOUBLE) / 1000,
           CAST(epoch_ms(max({c})) AS DOUBLE) / 1000,
           CAST(NULL AS DOUBLE)
    FROM orders""")
    for c in ORDERS_STRING:
        selects.append(f"""
    SELECT '{c}', count(*), count(*) - count({c}), count(DISTINCT {c}),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(round(avg(CAST(len({c}) AS DECIMAL(18,10))), 4) AS DOUBLE)
    FROM orders""")
    body = "\n    UNION ALL".join(selects)
    return f'{body}\n    ORDER BY "column"'


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation matrix (exact-moment, order-free)
# ---------------------------------------------------------------------------

CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def numeric_corr_matrix(df: DataFrame, cols=CORR_COLS) -> DataFrame:
    """Pairwise Pearson correlations between numeric columns in ONE
    table pass — the profiling companion to ``profile_table``: which
    measures actually co-vary before anyone fits on them.

    Spark's ``corr``/``regr_*`` aggregates fold doubles in partition
    order, so their low bits drift run to run; here every moment
    (n, Σx, Σx², Σxy per pair) is an EXACT decimal sum over
    DECIMAL(18,6)-quantized values (the ``user_value_trend``
    discipline), reduced map-side to a single row, and the correlation
    derives through one fixed IEEE chain identical in the DuckDB twin.
    Output: one row per unordered column pair (col_x, col_y, n, corr),
    corr DECIMAL(18,10)-routed round 6.  NULL-row policy: rows with a
    null in ANY profiled column are excluded once, globally — moments
    for every pair then share one consistent n."""
    q = [F.col(c).cast("decimal(18,6)").alias(c) for c in cols]
    base = df.select(*q).na.drop(subset=list(cols))
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    m = base.agg(*aggs)

    def corr_expr(a, b):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = (
            F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        )
        sab = F.col(f"sp_{a}_{b}").cast("double")
        num = n * sab - sa * sb
        den = F.sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb))
        return (
            F.when(den == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round((num / den).cast("decimal(18,10)"), 6).cast("double")
            )
        )

    pair_rows = [
        m.select(
            F.lit(a).alias("col_x"),
            F.lit(b).alias("col_y"),
            F.col("n").alias("n_rows"),
            corr_expr(a, b).alias("corr"),
        )
        for i, a in enumerate(cols)
        for b in cols[i + 1:]
    ]
    out = pair_rows[0]
    for p in pair_rows[1:]:
        out = out.unionByName(p)
    return out.orderBy("col_x", "col_y")


def q_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT a ``queries()`` entry (frozen-window policy); DuckDB parity
    pinned in tests/test_driver_contract.py."""
    return numeric_corr_matrix(load(spark, sf_dir, "lineitem"))


def _corr_sql_duckdb(cols=CORR_COLS) -> str:
    # quantization is (18,6) — identical to Spark — but the MULTIPLY
    # operands widen to (19,6): DuckDB executes width-18 products in
    # int64 and overflows, while 19+19 forces the int128 path with
    # result width exactly 38 (the legal maximum); the values are
    # unchanged, so the exact sums still match Spark's (37,12) products
    moments = ["count(*) AS n"]
    q6 = "CAST(CAST({c} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
    for c in cols:
        moments.append(f"sum(CAST({c} AS DECIMAL(18,6))) AS s_{c}")
        moments.append(
            f"sum({q6.format(c=c)} * {q6.format(c=c)}) AS ss_{c}"
        )
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            moments.append(
                f"sum({q6.format(c=a)} * {q6.format(c=b)}) AS sp_{a}_{b}"
            )
            pairs.append((a, b))
    nn = "CAST(n AS DOUBLE)"
    selects = []
    for a, b in pairs:
        sa, sb = f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
        ssa, ssb = f"CAST(ss_{a} AS DOUBLE)", f"CAST(ss_{b} AS DOUBLE)"
        sab = f"CAST(sp_{a}_{b} AS DOUBLE)"
        den = f"sqrt(({nn}*{ssa} - {sa}*{sa}) * ({nn}*{ssb} - {sb}*{sb}))"
        selects.append(f"""
            SELECT '{a}' AS col_x, '{b}' AS col_y,
                   CAST(n AS BIGINT) AS n_rows,
                   CASE WHEN {den} = 0 THEN NULL
                        ELSE CAST(round(CAST(({nn}*{sab} - {sa}*{sb}) / {den}
                                   AS DECIMAL(18,10)), 6) AS DOUBLE)
                   END AS corr
            FROM m""")
    where = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    body = "\n            UNION ALL".join(selects)
    return f"""
        WITH m AS (
            SELECT {", ".join(moments)}
            FROM lineitem WHERE {where}
        )
        {body}
        ORDER BY col_x, col_y
    """


ORACLE_NUMERIC_CORR = _corr_sql_duckdb()


# ---------------------------------------------------------------------------
# Chi-square independence census (source x lang)
# ---------------------------------------------------------------------------


def chi_square_cells(
    df: DataFrame, row_col: str = "source", col_col: str = "lang"
) -> DataFrame:
    """Per-cell chi-square contributions for the independence of two
    categorical columns — the drift diagnostic a curation run reads
    before trusting a per-source language mix ("is lang independent of
    source, and if not, WHICH cells carry the dependence?").

    One corpus-scale pass (the groupBy count); everything after runs on
    the |rows|x|cols| cell table: marginals re-aggregate it, the FULL
    cross product (zero-observed cells included — chi-square needs
    them) comes from crossing the two tiny marginal frames, and N joins
    in as a broadcast single-row aggregate (the module's crossJoin
    discipline).  expected = row_total*col_total/N and the contribution
    (O-E)^2/E are fixed IEEE chains over exact integer counts, rounded
    through DECIMAL(18,10) — deterministic on both engines.  The total
    statistic is the exact sum of the DECIMAL-rounded contributions,
    left to the consumer (order-free by construction)."""
    # NULL categories are excluded UP FRONT: a (source, NULL) cell
    # survives the groupBy but the grid LEFT JOIN can never match it
    # (NULL != NULL), so its observations would vanish while still
    # inflating the marginals and N — skewing every expected value
    df = df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
    cells = df.groupBy(row_col, col_col).agg(F.count("*").alias("observed"))
    row_t = cells.groupBy(row_col).agg(F.sum("observed").alias("row_total"))
    col_t = cells.groupBy(col_col).agg(F.sum("observed").alias("col_total"))
    tot = cells.agg(F.sum("observed").alias("n_total"))
    full = (
        row_t.crossJoin(col_t)
        .join(cells, [row_col, col_col], "left")
        .withColumn("observed", F.coalesce(F.col("observed"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    expected = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("n_total").cast("double")
    )
    obs = F.col("observed").cast("double")
    contrib = (obs - expected) * (obs - expected) / expected
    return full.select(
        row_col,
        col_col,
        "observed",
        F.round(expected.cast("decimal(18,10)"), 4).cast("double")
        .alias("expected"),
        F.round(contrib.cast("decimal(18,10)"), 6).cast("double")
        .alias("contribution"),
    ).orderBy(row_col, col_col)


def q_chi_square_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT a ``queries()`` entry (frozen-window policy); DuckDB parity
    pinned in tests/test_driver_contract.py."""
    return chi_square_cells(load(spark, sf_dir, "documents"))


ORACLE_CHI_SQUARE = """
    WITH cells AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS observed
        FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL
        GROUP BY source, lang
    ),
    row_t AS (
        SELECT source, CAST(sum(observed) AS BIGINT) AS row_total
        FROM cells GROUP BY source
    ),
    col_t AS (
        SELECT lang, CAST(sum(observed) AS BIGINT) AS col_total
        FROM cells GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM cells),
    full_grid AS (
        SELECT r.source, c.lang, r.row_total, c.col_total,
               COALESCE(x.observed, 0) AS observed, t.n_total
        FROM row_t r CROSS JOIN col_t c
        LEFT JOIN cells x ON x.source = r.source AND x.lang = c.lang
        CROSS JOIN tot t
    )
    SELECT source, lang, observed,
           CAST(round(CAST(
               CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
               / CAST(n_total AS DOUBLE)
               AS DECIMAL(18,10)), 4) AS DOUBLE) AS expected,
           CAST(round(CAST(
               (CAST(observed AS DOUBLE)
                - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                  / CAST(n_total AS DOUBLE))
               * (CAST(observed AS DOUBLE)
                  - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                    / CAST(n_total AS DOUBLE))
               / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                  / CAST(n_total AS DOUBLE))
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS contribution
    FROM full_grid
    ORDER BY source, lang
"""


ORACLE_SQL = {
    "table_profile": _profile_sql_duckdb(),
}

QUERIES = {
    "table_profile": q_table_profile,
}
