"""The flagship analytics query: funding stats (SURVEY.md §3.2).

Reference dataflow (funding_stats_etl.py:63-128): scan the funding-rate
time series, filter to a lookback window, and per symbol compute the
newest rate (annualized ×3×365) plus guarded last-N rolling means for
N ∈ {3,9,21,42,90,270} (24h/3d/7d/14d/30d/90d at 3 fundings/day); then
inner-join a live dimension snapshot for 24h volume + predicted rate,
annualize, project a fixed column order, overwrite the stats table.

The reference runs a per-symbol Python loop with the join INSIDE the
loop (O(n²) quirk — SURVEY.md §3.2 says do not replicate). Here the
whole query is one declarative plan: a single shuffle for the grouped
window stats, a broadcast join for the dimension.

Fixture mapping (FIXTURES.md §A): events plays kucoin_funding_rates with
symbol := user_id || '-' || event_type, funding_time := ts,
funding_rate := value; the dimension snapshot is derived from the same
stream (latest value = predicted rate, 24h sum = volume), standing in
for the REST contracts/active snapshot.

Determinism: the reference's (symbol, funding_time) PK guarantees a
total time order; arbitrary data does not, so event_id is the explicit
tiebreak everywhere. Anchoring "now" at max(ts) (instead of
current_date at funding_stats_etl.py:26) keeps the query reproducible
on static fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funding_monitoring_spark.functions.scalars import (
    DAYS_PER_YEAR,
    FUNDING_SESSIONS_PER_DAY,
)
from funding_monitoring_spark.operators.rolling import guarded_recent_means
from funding_monitoring_spark.sources.tables import load_table

#: output column → number of newest rows averaged (3 fundings/day)
FUNDING_WINDOWS: dict[str, int] = {
    "funding_24h": 3,
    "funding_3d": 9,
    "funding_7d": 21,
    "funding_14d": 42,
    "funding_30d": 90,
    "funding_90d": 270,
}

ANNUALIZE = FUNDING_SESSIONS_PER_DAY * DAYS_PER_YEAR  # ×3×365 (C12)
ROUND = 6  # defuse Spark-vs-oracle float summation-order noise


def rates_from_events(events: DataFrame) -> DataFrame:
    """events → funding-rates shape (FIXTURES.md reference-table mapping)."""
    return events.select(
        F.concat_ws("-", F.col("user_id"), F.col("event_type")).alias("symbol"),
        F.col("ts").alias("funding_time"),
        F.col("value").alias("funding_rate"),
        F.col("event_id"),
    )


def with_anchor(rates: DataFrame) -> DataFrame:
    """Attach scalar max(funding_time) as an ``anchor`` column via a
    broadcast cross join — no driver collect, scales to any input
    size."""
    anchor = rates.agg(F.max("funding_time").alias("anchor"))
    return rates.crossJoin(F.broadcast(anchor))


def funding_stats_query(
    spark: SparkSession, sf_dir: str, lookback_days: int = 21
) -> DataFrame:
    """Full flagship plan. Column order mirrors funding_stats_etl.py:105-118
    (runtime schema: dollar_volume_24h, not the ORM's volume)."""
    events = load_table(spark, sf_dir, "events")
    return funding_stats_from_rates(rates_from_events(events), lookback_days)


def funding_stats_from_rates(
    rates: DataFrame, lookback_days: int = 21
) -> DataFrame:
    """The stats computation over an already-shaped rates frame
    (symbol, funding_time, funding_rate, event_id) — shared by the
    batch query above and the per-tick streaming recompute
    (streaming/pipelines.py), mirroring the reference's
    recompute-over-stored-table pattern (SURVEY.md §2.9)."""
    rates = with_anchor(rates)

    lookback = F.expr(f"INTERVAL {lookback_days} DAYS")
    window_rates = rates.filter(
        F.col("funding_time") >= F.col("anchor") - lookback
    )

    # Per-symbol newest rate + guarded last-N means, PLUS the dimension
    # snapshot aggregates (24h volume, predicted = latest rate) — all in
    # ONE ranking + ONE groupBy, a single shuffle on symbol.
    #
    # The reference joins a separately-scanned dimension (J1,
    # funding_stats_etl.py:101); under the fixture mapping the dimension
    # is derived from the same stream, and restricting it to the
    # lookback window is exact: the inner join keeps only symbols with
    # window history, a symbol's global newest row IS its newest row in
    # the window, and the 24h sum is a subset of the window. Folding the
    # join away halves the scans and removes a shuffle — the general
    # broadcast-dim join J1 still exists as its own operator
    # (suites/batch_ops.py broadcast_join_dim).
    one_day = F.expr("INTERVAL 1 DAYS")
    stats = guarded_recent_means(
        window_rates,
        group_cols=["symbol"],
        time_col="funding_time",
        value_col="funding_rate",
        windows=FUNDING_WINDOWS,
        tiebreak_cols=["event_id"],
        scale=ANNUALIZE,
        latest_col="funding_8h",
        round_digits=ROUND,
        extra_aggs=[
            F.round(
                F.sum(
                    F.when(
                        F.col("funding_time") >= F.col("anchor") - one_day,
                        F.col("funding_rate"),
                    )
                ),
                ROUND,
            ).alias("dollar_volume_24h"),
            F.round(
                F.max(
                    F.when(F.col("__rn") == 1, F.col("funding_rate"))
                )
                * ANNUALIZE,
                ROUND,
            ).alias("predicted_funding_rate"),
        ],
    )

    return stats.select(
        "symbol",
        "dollar_volume_24h",
        "predicted_funding_rate",
        "funding_8h",
        "funding_24h",
        "funding_3d",
        "funding_7d",
        "funding_14d",
        "funding_30d",
        "funding_90d",
    )


#: default rates CTE body — the fixture mapping over raw events.
#: Dialect-neutral on purpose (STRING, ||, INTERVAL, window functions
#: are identical in Spark SQL and DuckDB): the sql_funding_stats query
#: runs this very text through BOTH engines.
RATES_CTE = """
    SELECT CAST(user_id AS STRING) || '-' || event_type AS symbol,
           ts AS funding_time, value AS funding_rate, event_id,
           (SELECT MAX(ts) FROM events) AS anchor
    FROM events
"""


def funding_stats_oracle_sql(
    lookback_days: int = 21, rates_cte: str = RATES_CTE
) -> str:
    """DuckDB twin of funding_stats_query for the differential oracle.
    rates_cte can be overridden (e.g. deduplicated rates for the
    streaming pipeline's store)."""
    n24, n3d, n7d, n14d, n30d, n90d = (
        FUNDING_WINDOWS["funding_24h"],
        FUNDING_WINDOWS["funding_3d"],
        FUNDING_WINDOWS["funding_7d"],
        FUNDING_WINDOWS["funding_14d"],
        FUNDING_WINDOWS["funding_30d"],
        FUNDING_WINDOWS["funding_90d"],
    )

    def guarded(n: int, alias: str) -> str:
        # non-null count within the window, matching
        # operators.rolling.guarded_recent_means (pandas rolling(n)
        # min_periods semantics: a NULL among the n newest → NULL)
        return (
            f"ROUND(CASE WHEN "
            f"COUNT(CASE WHEN rn <= {n} THEN funding_rate END) >= {n} THEN "
            f"AVG(CASE WHEN rn <= {n} THEN funding_rate END) * {ANNUALIZE} "
            f"END, {ROUND}) AS {alias}"
        )

    return f"""
WITH rates AS (
{rates_cte}
),
windowed AS (
    SELECT *, ROW_NUMBER() OVER (
               PARTITION BY symbol
               ORDER BY funding_time DESC, event_id DESC) AS rn
    FROM rates
    WHERE funding_time >= anchor - INTERVAL {lookback_days} DAY
),
stats AS (
    SELECT symbol,
           ROUND(MAX(CASE WHEN rn = 1 THEN funding_rate END) * {ANNUALIZE},
                 {ROUND}) AS funding_8h,
           {guarded(n24, "funding_24h")},
           {guarded(n3d, "funding_3d")},
           {guarded(n7d, "funding_7d")},
           {guarded(n14d, "funding_14d")},
           {guarded(n30d, "funding_30d")},
           {guarded(n90d, "funding_90d")}
    FROM windowed GROUP BY symbol
),
ranked_all AS (
    SELECT *, ROW_NUMBER() OVER (
               PARTITION BY symbol
               ORDER BY funding_time DESC, event_id DESC) AS rn
    FROM rates
),
dim AS (
    SELECT symbol,
           ROUND(SUM(CASE WHEN funding_time >= anchor - INTERVAL 1 DAY
                          THEN funding_rate END), {ROUND}) AS dollar_volume_24h,
           ROUND(MAX(CASE WHEN rn = 1 THEN funding_rate END) * {ANNUALIZE},
                 {ROUND}) AS predicted_funding_rate
    FROM ranked_all GROUP BY symbol
)
SELECT s.symbol, d.dollar_volume_24h, d.predicted_funding_rate,
       s.funding_8h, s.funding_24h, s.funding_3d, s.funding_7d,
       s.funding_14d, s.funding_30d, s.funding_90d
FROM stats s JOIN dim d ON s.symbol = d.symbol
"""
