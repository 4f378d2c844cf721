"""Data-card censuses over the testdata tables.

The trend, Benford, Gini and seasonality censuses feed
``jobs/run_datacard.py`` and carry ``ORACLE_*`` twins (runnable by
DuckDB on the same parquet views).  Column aliases match exactly between
both sides (the parity tests compare by sorted column name).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load


# ---------------------------------------------------------------------------
# Per-user value trend: exact-moment least squares (regr_slope twin)
# ---------------------------------------------------------------------------

# fixed x-origin (2020-01-01 UTC): slope is shift-invariant, and
# centering epoch seconds keeps every exact moment far inside
# DECIMAL(38) on both engines ((sx)^2 would overflow DuckDB's width
# rules on raw epochs)
TREND_X0 = 1_577_836_800


def user_value_trend(events: DataFrame) -> DataFrame:
    """Per-user least-squares trend of ``value`` over time — the drift
    census a metrics pipeline runs per entity (is this user's spend
    rising?).  Spark ships ``regr_slope``, but its double accumulation
    is partition-order-dependent; this computes the five moments
    (n, Σx, Σy, Σxy, Σx²) as EXACT decimal sums (x = centered integer
    epoch seconds, y quantized DECIMAL(18,6)) so the shuffle order
    cannot move a bit, then derives the slope through one fixed IEEE
    expression both engines evaluate identically.

    Output: (user_id, n_events, slope_per_hour) for users with ≥ 2
    distinct-time events (a degenerate x-variance has no slope);
    slope_per_hour = slope·3600, DECIMAL(18,10)-routed round 6."""
    x = (F.unix_timestamp("ts") - F.lit(TREND_X0)).cast("decimal(18,0)")
    y = F.col("value").cast("decimal(18,6)")
    m = (
        # ts AND value both required: a null-ts row would count into n
        # but vanish from sum(x)/sum(xy)/sum(xx) (SQL sums skip nulls),
        # mixing a 3-row count with 2-row moments into a wrong slope
        events.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    return (
        m.filter((F.col("n") >= 2) & (denom != 0))
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.round((slope * F.lit(3600.0)).cast("decimal(18,10)"), 6)
            .cast("double")
            .alias("slope_per_hour"),
        )
        .orderBy("user_id")
    )


def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return user_value_trend(load(spark, sf_dir, "events"))


ORACLE_USER_VALUE_TREND = f"""
    WITH pts AS (
        SELECT user_id,
               CAST(CAST(floor(epoch(ts)) AS BIGINT) - {TREND_X0}
                    AS DECIMAL(18,0)) AS x,
               CAST(value AS DECIMAL(18,6)) AS y
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    m AS (
        SELECT user_id, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts GROUP BY user_id
    ),
    d AS (
        SELECT user_id, n,
               CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
               CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
               CAST(sxx AS DOUBLE) AS sxxd
        FROM m
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(round(CAST(
               ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd))
               * CAST(3600.0 AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS slope_per_hour
    FROM d
    WHERE n >= 2 AND (nd * sxxd - sxd * sxd) <> 0
    ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit census
# ---------------------------------------------------------------------------


def benford_digit_census(
    df: DataFrame, amount_col: str = "o_totalprice"
) -> DataFrame:
    """First-significant-digit distribution of an amount column vs the
    Benford expectation log10(1+1/d) — the classic fabricated-data /
    unit-mixing audit (naturally-grown multiplicative amounts follow
    Benford; synthetic uniforms and copy-pastes don't).

    Engine-portable digit extraction: the TRUNCATED integer part
    (``floor``) is cast through DECIMAL(18,0) to STRING — decimal-to-string
    is exact and renders identically on both engines, where
    double-to-string formatting does NOT (Spark '1.0E5' vs DuckDB
    '100000.0'); its first character is the digit, exact for every
    amount >= 1.  Quantizing to DECIMAL(18,2) instead would round
    HALF_UP first and move 9.997 to '10.00', digit 1.  Shares and the
    expectation are fixed IEEE chains over exact counts, rounded
    through DECIMAL(18,10).  Rows with NULL or < 1 amounts are excluded
    (no first significant digit in this simple extraction)."""
    amt = F.col(amount_col)
    digit = F.substring(
        F.floor(amt).cast("decimal(18,0)").cast("string"), 1, 1
    ).cast("int")
    per_digit = (
        df.filter(amt.isNotNull() & (amt >= 1))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n_rows"))
    )
    tot = per_digit.agg(F.sum("n_rows").alias("n_total"))
    observed = F.col("n_rows").cast("double") / F.col("n_total").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return (
        per_digit.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_rows",
            F.round(observed.cast("decimal(18,10)"), 6).cast("double")
            .alias("observed_share"),
            F.round(expected.cast("decimal(18,10)"), 6).cast("double")
            .alias("benford_share"),
            F.round(
                (observed - expected).cast("decimal(18,10)"), 6
            ).cast("double").alias("deviation"),
        )
        .orderBy("digit")
    )


def q_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return benford_digit_census(load(spark, sf_dir, "orders"))


ORACLE_BENFORD = """
    WITH pd AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS DECIMAL(18,0))
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM pd)
    SELECT digit, n_rows,
           CAST(round(CAST(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS observed_share,
           CAST(round(CAST(log10(CAST(1.0 AS DOUBLE)
                   + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS benford_share,
           CAST(round(CAST(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE)
                   - log10(CAST(1.0 AS DOUBLE)
                           + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS deviation
    FROM pd CROSS JOIN tot
    ORDER BY digit
"""


# ---------------------------------------------------------------------------
# Gini concentration census (revenue inequality per group)
# ---------------------------------------------------------------------------


def gini_concentration(
    df: DataFrame,
    group_col: str = "o_orderpriority",
    value_col: str = "o_totalprice",
    key_col: str = "o_orderkey",
) -> DataFrame:
    """Per-group Gini coefficient of a value column — the concentration
    census behind "is this source/priority dominated by a few huge
    rows?", asked of VALUE mass).

    G = 2·Σ(i·x_i) / (n·Σx) − (n+1)/n over values ranked ascending
    (row_number with a deterministic ``value, natural-key`` tie-break —
    tied values contribute the same Σ i·x_i under any tie order, so the
    tie-break only pins the plan, not the answer).  Σx and Σ(i·x_i) are
    EXACT decimal sums (values quantized DECIMAL(18,2)); the final G is
    one fixed IEEE chain — deterministic on both engines.  One shuffle
    on the group key (the rank window), then a group-sized aggregate.
    NULL and negative values are excluded (Gini is defined on
    non-negative mass)."""
    x = F.col(value_col).cast("decimal(18,2)")
    # rank on the RAW value (the oracle does too): ranking the quantized
    # x instead could order two rows differing only past 2 decimals
    # differently between the engines
    w = Window.partitionBy(group_col).orderBy(
        F.col("_raw"), F.col(key_col)
    )
    ranked = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) >= 0))
        .select(
            group_col, key_col, x.alias("x"),
            F.col(value_col).alias("_raw"),
        )
        .withColumn("i", F.row_number().over(w))
    )
    m = ranked.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("x")).alias("six"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    six = F.col("six").cast("double")
    gini = (
        F.lit(2.0) * six / (n * sx) - (n + F.lit(1.0)) / n
    )
    return (
        m.filter(F.col("sx") > 0)
        .select(
            group_col,
            F.col("n").alias("n_rows"),
            F.round(F.col("sx"), 2).cast("double").alias("total_value"),
            F.round(gini.cast("decimal(18,10)"), 6).cast("double")
            .alias("gini"),
        )
        .orderBy(group_col)
    )


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return gini_concentration(load(spark, sf_dir, "orders"))


ORACLE_REVENUE_GINI = """
    WITH ranked AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DECIMAL(18,2)) AS x,
               -- DECIMAL(19,0), not (18,0): DuckDB executes width-18
               -- decimal products in int64 and overflows (the
               -- numeric_corr_matrix finding); 19+18 forces int128
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
               ) AS DECIMAL(19,0)) AS i
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
    ),
    m AS (
        SELECT o_orderpriority, count(*) AS n,
               sum(x) AS sx, sum(i * x) AS six
        FROM ranked GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_rows,
           CAST(round(sx, 2) AS DOUBLE) AS total_value,
           CAST(round(CAST(
               CAST(2.0 AS DOUBLE) * CAST(six AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
               - (CAST(n AS DOUBLE) + CAST(1.0 AS DOUBLE))
                 / CAST(n AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS gini
    FROM m
    WHERE sx > 0
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Weekday x hour seasonality census
# ---------------------------------------------------------------------------


def seasonality_census(events: DataFrame) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the load-shape
    census behind capacity planning and bot detection (human traffic
    has a diurnal/weekly shape; scripted traffic is flat).

    Calendar fields are PURE INTEGER-EPOCH ARITHMETIC, not calendar
    functions: Spark's ``dayofweek`` counts 1=Sunday while DuckDB's
    ``dow`` counts 0=Sunday — a silent off-by-one an oracle would only
    catch by luck — so both engines compute
    ``dow = (epoch_days + 4) % 7`` (epoch day 0 = Thursday; +4 ⇒
    0=Sunday) and ``hour = (epoch % 86400) / 3600`` under the pinned
    UTC session.  Counts are exact; shares are one fixed IEEE division
    against a broadcast single-row total.  168-row output."""
    epoch = F.unix_timestamp("ts")
    cells = (
        events.filter(F.col("ts").isNotNull())
        .select(
            ((F.floor(epoch / 86400) + 4) % 7).cast("int").alias("dow"),
            F.floor((epoch % 86400) / 3600).cast("int").alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count("*").alias("n_events"))
    )
    tot = cells.agg(F.sum("n_events").alias("n_total"))
    share = F.col("n_events").cast("double") / F.col("n_total").cast("double")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n_events",
            F.round(share.cast("decimal(18,10)"), 6).cast("double")
            .alias("share"),
        )
        .orderBy("dow", "hour")
    )


def q_event_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return seasonality_census(load(spark, sf_dir, "events"))


ORACLE_EVENT_SEASONALITY = """
    WITH cells AS (
        SELECT CAST((CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) + 4) % 7
                    AS INT) AS dow,
               CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 3600)
                    AS INT) AS hour,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM cells)
    SELECT dow, hour, n_events,
           CAST(round(CAST(CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS share
    FROM cells CROSS JOIN tot
    ORDER BY dow, hour
"""

