"""Query catalog: the driver-facing registry.

One entry per implemented operator from SURVEY.md §2, each with a
DuckDB oracle (oracles.py). The Spark side composes the model layer;
the SQL side mirrors it expression-for-expression. Output columns are
identically named and identically rounded on both sides (see oracles.py
header for the cross-engine determinism rules).
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import oracles, tables
from .functions.indicators import flag
from .models.mapping import (
    bars_from_lineitem,
    constituents_from_part,
    universe_daily_from_tpch,
)
from .models.marts import (
    SMALL,
    IndicatorParams,
    agg_daily_market_breadth,
    dim_securities_current,
    fct_trading_momentum,
)
from .operators.qualify import top_n_per_group

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

DEFAULT = IndicatorParams()


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # tables.load footer-asserts semantically-loaded layouts (the
    # round-5 lesson) — ONE read boundary, not two diverging copies
    return tables.load(spark, sf_dir, name)


def _r(col, n=6):
    return F.round(col, n)


# ---------------------------------------------------------------------
# Staging / projection / filter operators (SURVEY.md §2.2 P1-P4)
# ---------------------------------------------------------------------

@q("stg_projection_flags", """
SELECT l_orderkey AS order_id, l_linenumber AS line_no,
       CAST(l_quantity AS BIGINT) AS qty,
       l_extendedprice AS price,
       l_discount AS discount,
       CAST(l_shipdate AS DATE) AS trade_date,
       CASE WHEN l_quantity > 0 THEN 1 ELSE 0 END AS has_volume,
       CASE WHEN l_extendedprice > 0 AND l_quantity > 0
                 AND l_discount >= 0 AND l_discount <= 1 AND l_tax >= 0
            THEN 1 ELSE 0 END AS is_valid_record
FROM lineitem
WHERE l_shipdate IS NOT NULL
""")
def stg_projection_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 rename-projection+cast, P2 NOT NULL filter, P3/P4 0/1 flags
    (stg_daily_stocks.sql:2-25)."""
    li = _t(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (F.col(c) for c in
                             ["l_quantity", "l_extendedprice",
                              "l_discount", "l_tax"])
    return (
        li.where(F.col("l_shipdate").isNotNull())
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_no"),
            qty.cast("long").alias("qty"),
            price.alias("price"),
            disc.alias("discount"),
            F.col("l_shipdate").cast("date").alias("trade_date"),
            flag(qty > 0).alias("has_volume"),
            flag((price > 0) & (qty > 0) & (disc >= 0) & (disc <= 1)
                 & (tax >= 0)).alias("is_valid_record"),
        )
    )


@q("bars_ohlcv", oracles.BARS_SQL)
def bars_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bar construction from trades: groupBy to (ticker, trade_date)
    grain (models/mapping.py; plays RAW.DAILY_STOCKS)."""
    return bars_from_lineitem(_t(spark, sf_dir, "lineitem"))


@q("constituents_snapshots", oracles.CONSTITUENTS_SQL)
def constituents_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 UNION ALL snapshot stacking with literal validity intervals
    (stg_russell3000__constituents.sql:6-53)."""
    return constituents_from_part(_t(spark, sf_dir, "part"))


@q("universe_daily", oracles.UNIVERSE_SQL)
def universe_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int_russell3000__daily full build: A9 dedup, J1/J2 as-of interval
    join, W5 lag, W9 row_number, W10 first-row flag."""
    return universe_daily_from_tpch(spark, sf_dir)


# ---------------------------------------------------------------------
# The momentum fact + downstream marts (SURVEY.md §2.5, §2.4)
# ---------------------------------------------------------------------

_MOMENTUM_ROUND = {
    "close": 4, "yesterday_close": 4, "rel_volume": 6,
}
# sma_*/avg_gain/avg_loss/rsi are decimal-sum deterministic and emitted
# unrounded (see oracles.MOMENTUM_PROJECTION for the rationale)
_MOMENTUM_KEEP = [
    "ticker", "trade_date", "volume", "n_trades", "company", "sector",
    "index_weight", "consecutive_trading_days", "is_new_to_index",
    "sma_s", "sma_m", "sma_l", "avg_gain", "avg_loss", "rsi",
    "roll_high", "roll_low", "bullish_crossover", "bearish_crossover",
    "golden_cross", "death_cross", "is_new_high", "is_new_low",
]


def _momentum_projection(fct: DataFrame) -> DataFrame:
    cols = [F.col(c) for c in _MOMENTUM_KEEP]
    cols += [_r(F.col(c), n).alias(c) for c, n in _MOMENTUM_ROUND.items()]
    return fct.select(*cols)


def _momentum(spark: SparkSession, sf_dir: str,
              p: IndicatorParams) -> DataFrame:
    return fct_trading_momentum(universe_daily_from_tpch(spark, sf_dir), p)


@q("fct_trading_momentum", oracles.momentum_sql(DEFAULT))
def momentum_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fct_trading_momentum with the reference's window lengths
    (20/50/200 SMA, 252 high/low, 14 RSI, 20 rel-vol): W1-W8."""
    return _momentum_projection(_momentum(spark, sf_dir, DEFAULT))


@q("fct_trading_momentum_small", oracles.momentum_sql(SMALL))
def momentum_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same model, scaled-down windows so every indicator populates on
    the ~30-rows-per-ticker test data (non-NULL paths exercised)."""
    return _momentum_projection(_momentum(spark, sf_dir, SMALL))


@q("gap_fill_daily", """
WITH bars0 AS ({bars}),
bars AS (
  SELECT * FROM bars0
  WHERE trade_date BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
),
spans AS (
  SELECT ticker, MIN(trade_date) AS d0, MAX(trade_date) AS d1
  FROM bars GROUP BY ticker
),
days AS (
  SELECT ticker,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
           AS trade_date
  FROM spans
),
joined AS (
  SELECT d.ticker, d.trade_date, b.close AS close_raw
  FROM days d LEFT JOIN bars b
    ON d.ticker = b.ticker AND d.trade_date = b.trade_date
)
SELECT ticker, trade_date,
       last_value(close_raw IGNORE NULLS) OVER (
         PARTITION BY ticker ORDER BY trade_date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
       close_raw,
       CASE WHEN close_raw IS NULL THEN 1 ELSE 0 END AS is_gap_fill
FROM joined
""".format(bars=oracles.BARS_SQL))
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with forward-fill: reindex each ticker to a
    continuous daily calendar (sequence-explode), carry the last known
    close (last IGNORE NULLS), flag synthetic rows — the resample/
    align primitive the reference's pre-bucketed feed never needed.
    Windowed to one year so the oracle compare stays collect-sized."""
    from .operators.resample import fill_daily_gaps

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).where(
        F.col("trade_date").between("1995-01-01", "1995-12-31"))
    return fill_daily_gaps(bars)


@q("resample_weekly_ohlc", """
WITH bars AS ({bars})
SELECT ticker,
       CAST(date_trunc('week', trade_date) AS DATE) AS bucket_start,
       arg_min(close, trade_date) AS open,
       MAX(high) AS high,
       MIN(low) AS low,
       arg_max(close, trade_date) AS close,
       CAST(SUM(volume) AS BIGINT) AS volume,
       COUNT(*) AS n_days
FROM bars
GROUP BY 1, 2
""".format(bars=oracles.BARS_SQL))
def resample_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling to weekly bars via min_by/max_by (exact
    first/last per bucket, no sort) — the hypertable-rollup shape."""
    from .operators.resample import resample_ohlc

    return resample_ohlc(bars_from_lineitem(_t(spark, sf_dir, "lineitem")),
                         every="week")


@q("scd2_constituents", """
WITH attrs AS (
  SELECT p_partkey AS ticker, p_name AS company, p_brand AS sector,
         (p_partkey % 97) / 10.0 AS w1,
         CASE WHEN p_partkey % 7 = 0 THEN ((p_partkey % 97) + 1) / 10.0
              ELSE (p_partkey % 97) / 10.0 END AS w2,
         p_partkey % 10 AS m10, p_partkey % 7 AS m7
  FROM part
)
SELECT ticker, company, sector, w1 AS index_weight,
       DATE '1996-01-01' AS dbt_valid_from,
       DATE '1997-01-01' AS dbt_valid_to
FROM attrs WHERE m10 = 1                       -- hard-deleted in snap2
UNION ALL
SELECT ticker, company, sector, w2,
       DATE '1997-01-01', NULL
FROM attrs WHERE m10 = 0                       -- new in snap2
UNION ALL
SELECT ticker, company, sector, w1,
       DATE '1996-01-01', DATE '1997-01-01'
FROM attrs WHERE m10 NOT IN (0, 1) AND m7 = 0  -- changed: closed row
UNION ALL
SELECT ticker, company, sector, w2,
       DATE '1997-01-01', NULL
FROM attrs WHERE m10 NOT IN (0, 1) AND m7 = 0  -- changed: new version
UNION ALL
SELECT ticker, company, sector, w1,
       DATE '1996-01-01', NULL
FROM attrs WHERE m10 NOT IN (0, 1) AND m7 != 0 -- unchanged
""")
def scd2_constituents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 snapshot MERGE (russell3000_constituents_snapshot.sql:4-12):
    two membership snapshots applied with the check strategy on
    (company, sector, index_weight) + hard-delete invalidation. The
    oracle enumerates the expected history directly from the synthetic
    membership/weight rules."""
    from .snapshots import scd2_apply

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    base = part.select(
        k.alias("ticker"),
        F.col("p_name").alias("company"),
        F.col("p_brand").alias("sector"),
        ((k % 97) / F.lit(10.0)).alias("w1"),
        F.when(k % 7 == 0, ((k % 97) + 1) / F.lit(10.0))
        .otherwise((k % 97) / F.lit(10.0)).alias("w2"),
    )
    snap1 = (base.where(F.col("ticker") % 10 != 0)
             .select("ticker", "company", "sector",
                     F.col("w1").alias("index_weight")))
    snap2 = (base.where(F.col("ticker") % 10 != 1)
             .select("ticker", "company", "sector",
                     F.col("w2").alias("index_weight")))
    check = ["company", "sector", "index_weight"]
    hist = scd2_apply(None, snap1, "ticker", check, "1996-01-01")
    hist = scd2_apply(hist, snap2, "ticker", check, "1997-01-01")
    return hist


@q("updown_streaks", """
WITH bars AS ({bars}),
d AS (
  SELECT ticker, trade_date, close,
         CASE WHEN LAG(close) OVER w IS NULL THEN 0
              WHEN close > LAG(close) OVER w THEN 1
              WHEN close < LAG(close) OVER w THEN -1
              ELSE 0 END AS direction
  FROM bars
  WINDOW w AS (PARTITION BY ticker ORDER BY trade_date)
),
g AS (
  SELECT ticker, trade_date, close, direction,
         ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY trade_date)
         - ROW_NUMBER() OVER (PARTITION BY ticker, direction
                              ORDER BY trade_date) AS island
  FROM d
)
SELECT ticker, trade_date, direction,
       CAST(ROW_NUMBER() OVER (PARTITION BY ticker, direction, island
                               ORDER BY trade_date) AS BIGINT)
         AS streak_len
FROM g
""".format(bars=oracles.BARS_SQL))
def updown_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive up/down-day streaks — the gaps-and-islands idiom:
    direction from a LAG, island id = difference of two ROW_NUMBERs
    (global minus per-direction), running streak length within the
    island. All four windows share the per-ticker partitioning, so the
    whole pattern costs the one Exchange the momentum windows already
    pay. The momentum-scanner primitive ("N up days in a row")."""
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
    w = Window.partitionBy("ticker").orderBy("trade_date")
    prev = F.lag("close").over(w)
    direction = (F.when(prev.isNull(), 0)
                 .when(F.col("close") > prev, 1)
                 .when(F.col("close") < prev, -1).otherwise(0))
    d = bars.select("ticker", "trade_date", "close",
                    direction.alias("direction"))
    island = (F.row_number().over(w)
              - F.row_number().over(
                  Window.partitionBy("ticker", "direction")
                  .orderBy("trade_date")))
    g = d.withColumn("island", island)
    streak = F.row_number().over(
        Window.partitionBy("ticker", "direction", "island")
        .orderBy("trade_date"))
    return g.select("ticker", "trade_date", "direction",
                    streak.cast("long").alias("streak_len"))


@q("ranking_functions", """
SELECT p_brand AS sector, p_partkey AS ticker, p_retailprice AS price,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS price_dense_rank,
       CAST(NTILE(4) OVER w2 AS BIGINT) AS price_quartile,
       CUME_DIST() OVER w2 AS price_cume_dist
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC),
       w2 AS (PARTITION BY p_brand ORDER BY p_retailprice DESC,
              p_partkey)
""")
def ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking family in one pass: DENSE_RANK (tie-
    aware — prices repeat within a brand, so ranks collapse), NTILE
    quartiles and CUME_DIST (both over a UNIQUE ordering — ntile
    splits ties arbitrarily, so the tiebreaker column is what makes
    the result well-defined on both engines). Both orderings share
    the per-brand exchange."""
    pt = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    w2 = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey"))
    return pt.select(
        F.col("p_brand").alias("sector"),
        F.col("p_partkey").alias("ticker"),
        F.col("p_retailprice").alias("price"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(w2).cast("long").alias("price_quartile"),
        F.cume_dist().over(w2).alias("price_cume_dist"))


@q("vwap_rolling", """
WITH bars AS ({bars}),
x AS (
  SELECT ticker, trade_date, close, volume,
         SUM(CAST(close AS DECIMAL(12,3)) * volume) OVER w AS pv,
         SUM(volume) OVER w AS vv,
         COUNT(close) OVER w AS cnt
  FROM bars
  WINDOW w AS (PARTITION BY ticker ORDER BY trade_date
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT ticker, trade_date, close, volume,
       CASE WHEN cnt >= 5 AND vv != 0
            THEN CAST(CAST(pv AS DECIMAL(38,3)) AS DOUBLE)
                 / CAST(vv AS DOUBLE)
       END AS vwap_5
FROM x
""".format(bars=oracles.BARS_SQL))
def vwap_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row rolling VWAP per ticker: SUM(price*volume)/SUM(volume)
    with an EXACT decimal numerator (3-dp close x integer volume) and
    integer denominator — both association-order-free — and the
    window-fill guard idiom (NULL until 5 rows). One more column on
    the shared per-ticker window exchange."""
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
    w = (Window.partitionBy("ticker").orderBy("trade_date")
         .rowsBetween(-4, 0))
    pv = F.sum(F.col("close").cast("decimal(12,3)")
               * F.col("volume")).over(w)
    vv = F.sum("volume").over(w)
    cnt = F.count("close").over(w)
    vwap = F.when((cnt >= 5) & (vv != 0),
                  pv.cast("decimal(38,3)").cast("double")
                  / vv.cast("double"))
    return bars.select("ticker", "trade_date", "close", "volume",
                       vwap.alias("vwap_5"))


@q("bollinger_bands", """
WITH bars AS ({bars}),
x AS (
  SELECT ticker, trade_date, close,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
         COUNT(y) OVER w AS n
  FROM (SELECT ticker, trade_date, close,
               CAST(CAST(close AS DECIMAL(12,3)) * 1000 AS BIGINT) AS y
        FROM bars)
  WINDOW w AS (PARTITION BY ticker ORDER BY trade_date
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT ticker, trade_date, close,
       CASE WHEN n >= 20
            THEN CAST(sy AS DOUBLE) / CAST(n * 1000 AS DOUBLE) END
         AS bb_mid,
       CASE WHEN n >= 20
            THEN CAST(sy AS DOUBLE) / CAST(n * 1000 AS DOUBLE)
                 + 2.0 * (sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                               / (CAST(n AS DOUBLE)
                                  * (CAST(n AS DOUBLE) - 1.0))) / 1000.0)
       END AS bb_upper,
       CASE WHEN n >= 20
            THEN CAST(sy AS DOUBLE) / CAST(n * 1000 AS DOUBLE)
                 - 2.0 * (sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                               / (CAST(n AS DOUBLE)
                                  * (CAST(n AS DOUBLE) - 1.0))) / 1000.0)
       END AS bb_lower
FROM x
""".format(bars=oracles.BARS_SQL))
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-row SMA +/- 2 sigma) from EXACT integer-
    millis moment sums: raw window STDDEV hash-mismatches in 21% of
    cells (Spark's streaming update vs DuckDB's differ at ulp scale),
    but n*Sum(y^2)-(Sum y)^2 over exact ints followed by one identical
    double expression tree is bit-stable. Same guarded-window NULL
    idiom as the SMAs; rides the shared per-ticker exchange."""
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
    y = (F.col("close").cast("decimal(12,3)") * 1000).cast("long")
    w = (Window.partitionBy("ticker").orderBy("trade_date")
         .rowsBetween(-19, 0))
    base = bars.select("ticker", "trade_date", "close", y.alias("y"))
    x = base.select(
        "ticker", "trade_date", "close",
        F.sum("y").over(w).alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).over(w)
        .cast("long").alias("syy"),
        F.count("y").over(w).alias("n"))
    n_d = F.col("n").cast("double")
    sy_d = F.col("sy").cast("double")
    syy_d = F.col("syy").cast("double")
    mid = sy_d / (F.col("n") * 1000).cast("double")
    sd = F.sqrt((n_d * syy_d - sy_d * sy_d)
                / (n_d * (n_d - F.lit(1.0)))) / F.lit(1000.0)
    guard = F.col("n") >= 20
    return x.select(
        "ticker", "trade_date", "close",
        F.when(guard, mid).alias("bb_mid"),
        F.when(guard, mid + 2.0 * sd).alias("bb_upper"),
        F.when(guard, mid - 2.0 * sd).alias("bb_lower"))


@q("constituents_diff", """
WITH attrs AS (
  SELECT p_partkey AS ticker, p_name AS company, p_brand AS sector,
         (p_partkey % 97) / 10.0 AS w1,
         CASE WHEN p_partkey % 7 = 0 THEN ((p_partkey % 97) + 1) / 10.0
              ELSE (p_partkey % 97) / 10.0 END AS w2,
         p_partkey % 10 AS m10, p_partkey % 7 AS m7
  FROM part
),
snap1 AS (SELECT ticker, company, sector, w1 AS index_weight
          FROM attrs WHERE m10 != 0),
snap2 AS (SELECT ticker, company, sector, w2 AS index_weight
          FROM attrs WHERE m10 != 1)
SELECT COALESCE(o.ticker, n.ticker) AS ticker,
       CASE WHEN o.ticker IS NULL THEN 'added'
            WHEN n.ticker IS NULL THEN 'removed'
            WHEN o.index_weight IS NOT DISTINCT FROM n.index_weight
             AND o.company IS NOT DISTINCT FROM n.company
             AND o.sector IS NOT DISTINCT FROM n.sector
            THEN 'unchanged' ELSE 'changed' END AS change_type,
       o.company AS old_company, n.company AS new_company,
       o.sector AS old_sector, n.sector AS new_sector,
       o.index_weight AS old_index_weight,
       n.index_weight AS new_index_weight
FROM snap1 o FULL OUTER JOIN snap2 n ON o.ticker = n.ticker
""")
def constituents_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff (change-data-feed): membership + weight delta
    between the two constituents snapshots — added / removed /
    changed / unchanged per ticker from ONE co-partitioned full outer
    join, NULL-safe comparisons. The operational primitive behind
    snapshot validation and CDC emission; with both sides bucketed on
    the key (operators/layout.py) it runs shuffle-free."""
    from .operators.diff import table_diff

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    base = part.select(
        k.alias("ticker"),
        F.col("p_name").alias("company"),
        F.col("p_brand").alias("sector"),
        ((k % 97) / F.lit(10.0)).alias("w1"),
        F.when(k % 7 == 0, ((k % 97) + 1) / F.lit(10.0))
        .otherwise((k % 97) / F.lit(10.0)).alias("w2"),
    )
    snap1 = (base.where(F.col("ticker") % 10 != 0)
             .select("ticker", "company", "sector",
                     F.col("w1").alias("index_weight")))
    snap2 = (base.where(F.col("ticker") % 10 != 1)
             .select("ticker", "company", "sector",
                     F.col("w2").alias("index_weight")))
    return table_diff(snap1, snap2, keys=["ticker"],
                      compare=["company", "sector", "index_weight"])


SCD2_ASOF_SQL = """
WITH attrs AS (
  SELECT p_partkey AS ticker, p_name AS company, p_brand AS sector,
         (p_partkey % 97) / 10.0 AS w1,
         CASE WHEN p_partkey % 7 = 0 THEN ((p_partkey % 97) + 1) / 10.0
              ELSE (p_partkey % 97) / 10.0 END AS w2,
         p_partkey % 10 AS m10, p_partkey % 7 AS m7
  FROM part
)
-- state AS OF 1996-06-30: snap1 membership with snap1 weights
SELECT ticker, company, sector, w1 AS index_weight
FROM attrs WHERE m10 != 0
""".strip()


@q("scd2_asof_snapshot", SCD2_ASOF_SQL)
def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time read of the SCD-2 history: dimension state AS OF
    an arbitrary historical date (here 1996-06-30, inside the snap1
    era) via the half-open validity predicate — the time-travel query
    the SCD-2 merge exists to serve. The oracle enumerates snap1
    membership directly, so a wrong valid_from/valid_to in the merge
    (off-by-one, unclosed row) shows up as a membership diff."""
    hist = QUERIES["scd2_constituents"](spark, sf_dir)
    at = F.lit("1996-06-30").cast("date")
    return (hist.where((F.col("dbt_valid_from") <= at)
                       & (F.col("dbt_valid_to").isNull()
                          | (F.col("dbt_valid_to") > at)))
            .select("ticker", "company", "sector", "index_weight"))


@q("fct_trading_momentum_valid", oracles.momentum_sql(SMALL, valid_only=True))
def momentum_valid_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: the incremental-run ``is_valid_record = 1`` filter
    (fct_trading_momentum.sql:213) applied before the indicator windows;
    flags come from the staging layer (stg_daily_stocks.sql:14-23)."""
    fct = fct_trading_momentum(universe_daily_from_tpch(spark, sf_dir),
                               SMALL, valid_only=True)
    return _momentum_projection(fct)


@q("fct_momentum_incremental", oracles.momentum_sql(SMALL))
def momentum_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE runs (§2.9) through the engine's DEFAULT
    transactional write path: the fact materialized up to a first
    split date becomes a ManifestTable; TWO successive incremental
    runs then advance it — each discovers its own cutoff from the
    table's zone maps, recomputes the trailing-4-day slice with
    window-sufficient warmup, and MERGEs on (ticker, trade_date) with
    one atomic multi-partition commit (int_russell3000__daily.sql:
    19-26, fct_trading_momentum.sql:2-7, 209-214).  The oracle is the
    FULL REBUILD — hash equality proves that REPEATED incremental runs
    converge to rebuild, not just one (the advancing-as_of half a
    single-run check can't see).  Crash atomicity of the underlying
    commit is pinned by tests/test_manifest.py."""
    from .incremental import incremental_momentum_run, materialize_momentum
    from .scratch import scratch_dir

    universe = universe_daily_from_tpch(spark, sf_dir)
    split1, split2 = "1997-05-31", "1997-06-30"
    table = materialize_momentum(
        spark, universe.where(F.col("trade_date") <= F.lit(split1)),
        scratch_dir("fct_momentum_incr_"), SMALL)
    # run 1: the source has advanced to split2; run 2: to the end
    incremental_momentum_run(
        spark, universe.where(F.col("trade_date") <= F.lit(split2)),
        table, SMALL, lookback_days=4)
    final = incremental_momentum_run(spark, universe, table, SMALL,
                                     lookback_days=4)
    return _momentum_projection(final.drop("trade_month"))


@q("manifest_momentum_merge", oracles.momentum_sql(SMALL))
def manifest_momentum_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional incremental MERGE (§2.9) through the manifest-
    commit layer (manifest.py): the pre-split fact is materialized as
    a ManifestTable, the trailing slice is recomputed with warmup and
    MERGEd with one atomic multi-partition commit — the plain-parquet
    analog of the reference's transactional Snowflake MERGE
    (fct_trading_momentum.sql:2-7). The oracle is the FULL REBUILD, so
    hash equality proves manifest-merge == rebuild; the crash-safety
    half of the contract is pinned by tests/test_manifest.py.

    Layout: MONTH-grain partitions, not day — a daily fact's day dirs
    are KB-scale at any realistic per-day volume ÷ partition count,
    and the first cut of this entry measured exactly that pathology
    (911 day dirs, one ~2 KB file each, per-partition overhead
    dominating the run).  Month partitions bound the partition count
    while day-grain pruning still comes from the per-file trade_date
    zone maps; the merge prunes its read to the touched months.  The
    trade_month duplicate is derived from the immutable trade_date, so
    the key-stability precondition (a key never moves partitions)
    holds by construction.

    The incremental cutoff comes from the manifest's zone maps — a
    driver-side fold over footer stats; the .agg(MAX) fallback would
    recompute the entire momentum lineage a second time just for one
    scalar (measured: ~35 s of the entry's sf1 time before this).
    Both pieces live in incremental.materialize_momentum /
    incremental_momentum_run — the same functions every production
    incremental caller uses (VERDICT r7 #1: the atomic layer IS the
    default path, not a parallel one)."""
    from .incremental import incremental_momentum_run, materialize_momentum
    from .scratch import scratch_dir

    universe = universe_daily_from_tpch(spark, sf_dir)
    split = "1997-06-30"
    table = materialize_momentum(
        spark, universe.where(F.col("trade_date") <= F.lit(split)),
        scratch_dir("manifest_momentum_"), SMALL)
    final = incremental_momentum_run(spark, universe, table, SMALL,
                                     lookback_days=4)
    return _momentum_projection(final.drop("trade_month"))


MANIFEST_SCAN_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE trade_date BETWEEN DATE '1997-04-01' AND DATE '1997-06-30'
""".strip()


@q("manifest_pruned_scan", MANIFEST_SCAN_SQL)
def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned snapshot read through the manifest layer
    (manifest.py): the bars fact is laid out the way a 100 TB table
    would be — MONTH-grain partitions (bounded partition count), with
    DATE-grain zone maps carried as per-file footer min/max in the
    manifest — and a one-quarter read resolves only the files whose
    partition value or stats can intersect the range, no directory
    listing, no footer round-trips at plan time.  The entry RAISES if
    the manifest failed to prune (so green == skipping actually
    happened), then applies the exact predicate; the oracle is the
    full bar build filtered in SQL, so hash equality proves the
    file-granular superset + residual filter loses nothing.  Plays the
    warehouse's partition pruning on RAW.DAILY_STOCKS date filters
    (fct_trading_momentum.sql:209-214 incremental WHERE)."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    lo, hi = "1997-04-01", "1997-06-30"
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_scan_"), ts="trade_month")
    where = {"trade_month": ("1997-04", "1997-06"),
             "trade_date": (lo, hi)}
    plan = table.scan_plan(where)
    if not (plan["partitions_pruned"] > 0 and plan["skipped"] > 0
            and plan["files"]):
        raise RuntimeError(f"manifest pruning ineffective: "
                           f"{plan['partitions_pruned']} partitions / "
                           f"{plan['skipped']} files skipped")
    return (table.read(spark, where=where)
            .where(F.col("trade_date").between(lo, hi))
            .drop("trade_month"))


MANIFEST_DELETE_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE trade_date NOT BETWEEN DATE '1997-05-15' AND DATE '1997-07-15'
""".strip()


@q("manifest_delete_where", MANIFEST_DELETE_SQL)
def manifest_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional DELETE through the manifest layer (§2.9's
    remaining MERGE clause — WHEN MATCHED DELETE / ``DELETE FROM t
    WHERE``, the op behind the reference's snapshot invalidation,
    snapshots/russell3000_constituents_snapshot.sql:4-12): the bars
    fact is materialized month-partitioned, then a date range
    straddling month boundaries is deleted in ONE atomic
    multi-partition commit.  The write plan is pinned in-entry: the
    fully-covered month (1997-06) must be DROPPED without writing a
    byte, the partially-covered boundary months REWRITTEN, everything
    else carried by shard ref — the entry RAISES otherwise.  The
    oracle is the bar build with the range filtered out in SQL, so
    hash equality proves the rewrite dropped exactly the matching
    rows.  Crash atomicity is pinned by tests/test_manifest.py."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    lo, hi = "1997-05-15", "1997-07-15"
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_delete_"), ts="trade_month")
    out = table.delete_where(
        spark, F.col("trade_date").between(lo, hi),
        where={"trade_month": ("1997-05", "1997-07"),
               "trade_date": (lo, hi)})
    if not (out["partitions_dropped"] >= 1
            and out["partitions_rewritten"] >= 1
            and out["rows_deleted"] > 0):
        raise RuntimeError(f"delete write plan not partition-shaped: {out}")
    return table.read(spark).drop("trade_month")


MANIFEST_DELETE_DV_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE NOT (ticker % 7 = 3)
""".strip()


@q("manifest_delete_dv", MANIFEST_DELETE_DV_SQL)
def manifest_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete via deletion vectors (Delta deletion
    vectors / Iceberg positional deletes; ``delete_where(mode='dv')``,
    manifest.py): a key-scattered predicate (one ticker residue class,
    ~1/7 of rows in EVERY month partition) is deleted with ZERO data
    files rewritten — the commit attaches tiny (rel, row_index)
    sidecars to each touched ref, and every subsequent read anti-joins
    them away.  This is the 100 TB GDPR-delete shape: rewrite mode
    would rewrite every partition the key touches (here: all of them);
    dv mode costs O(matching rows) sidecar bytes + one metadata
    commit.  The entry RAISES unless the write plan is actually
    merge-on-read (no partition rewritten, the live data-file set
    bit-identical before and after, deletion vectors present on the
    refs).  The oracle filters the same residue class in SQL, so hash
    equality proves the positional addresses removed exactly the
    matching rows — through the SAME pinned-schema read path every
    consumer uses (no special dv-aware reader API).  Crash atomicity,
    vacuum liveness, compaction materialization and the conflict
    matrix are pinned by tests/test_manifest_dv.py."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_dv_"), ts="trade_month")
    mf = table._raw()
    files_before = sorted(e["path"] for v in mf["partitions"]
                          for e in table._entries(mf, v))
    out = table.delete_where(spark, F.expr("pmod(ticker, 7) = 3"),
                             mode="dv")
    if out["partitions_rewritten"] != 0 or out["rows_deleted"] == 0:
        raise RuntimeError(f"not merge-on-read: {out}")
    mf2 = table._raw()
    files_after = sorted(e["path"] for v in mf2["partitions"]
                         for e in table._entries(mf2, v))
    if files_after != files_before:
        raise RuntimeError("dv delete changed the data file set")
    n_dv = sum(r.get("dv_rows", 0) for r in mf2["partitions"].values())
    if n_dv != out["rows_deleted"]:
        raise RuntimeError(
            f"deletion vectors account for {n_dv} rows, delete "
            f"reported {out['rows_deleted']}")
    return table.read(spark).drop("trade_month")


MANIFEST_UPDATE_DV_SQL = f"""
SELECT ticker, trade_date, low, high,
       CASE WHEN ticker % 11 = 5 THEN close + 1.0 ELSE close END
           AS close,
       volume, n_trades, has_volume, is_valid_record
FROM ({oracles.BARS_SQL}) b
""".strip()


@q("manifest_update_dv", MANIFEST_UPDATE_DV_SQL)
def manifest_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ row-level UPDATE (``update_where``, manifest.py —
    Delta's UPDATE with deletion vectors): a key-scattered predicate's
    rows (one ticker residue class across every month partition) get a
    column reassigned with ZERO existing data files rewritten — the
    matched rows' old positions are dead-marked by (rel, row_index)
    sidecars and their updated images appended, ONE atomic commit.
    Rewrite-mode would rewrite every partition the class touches; this
    costs O(matching rows).  Assignments cast to the pinned column
    type (SQL UPDATE semantics) and evaluate per matched row
    (close -> close + 1.0, one IEEE double add on both engines).  The
    entry RAISES unless the plan is merge-on-read (no partition
    rewritten, every pre-update data file still live, dv_rows ==
    rows_updated).  The oracle applies the same CASE WHEN in SQL, so
    hash equality proves positional dead-marking + appended images
    compose to exactly an UPDATE.  Crash/conflict/move-across-
    partitions semantics pinned by tests/test_manifest_dv.py."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_upd_"), ts="trade_month")
    mf = table._raw()
    files_before = {e["path"] for v in mf["partitions"]
                    for e in table._entries(mf, v)}
    out = table.update_where(spark, {"close": "close + 1.0"},
                             F.expr("pmod(ticker, 11) = 5"))
    if out["partitions_rewritten"] != 0 or out["rows_updated"] == 0:
        raise RuntimeError(f"not merge-on-read: {out}")
    mf2 = table._raw()
    files_after = {e["path"] for v in mf2["partitions"]
                   for e in table._entries(mf2, v)}
    if not files_before <= files_after:
        raise RuntimeError("update_where dropped pre-update data files")
    n_dv = sum(r.get("dv_rows", 0) for r in mf2["partitions"].values())
    if n_dv != out["rows_updated"]:
        raise RuntimeError(
            f"dv rows {n_dv} != rows_updated {out['rows_updated']}")
    return table.read(spark).drop("trade_month")


MANIFEST_MERGE_DV_SQL = f"""
SELECT ticker, trade_date, low, high,
       CASE WHEN ticker % 13 = 3 THEN close + 5.0 ELSE close END
           AS close,
       volume, n_trades, has_volume, is_valid_record
FROM ({oracles.BARS_SQL}) b
""".strip()


@q("manifest_merge_dv", MANIFEST_MERGE_DV_SQL)
def manifest_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOW-SHUFFLE keyed MERGE (``merge(mode='dv')``, manifest.py —
    Databricks low-shuffle merge / merge-on-read upsert): an update
    frame touching one ticker residue class in EVERY month partition
    merges with ZERO partition rewrites — matched live rows are
    dead-marked by deletion-vector sidecars, update rows append as new
    files, one atomic commit.  Rewrite-mode merge (the engine's
    default, `manifest_momentum_merge`) re-stages every touched
    partition: correct, but a 10-row upsert into a 10 GB partition
    costs 10 GB; this costs O(matched + update rows).  Visible
    semantics are pinned EQUAL to rewrite merge by
    tests/test_manifest_dv.py (same-input equality, delete clause,
    CDF classification, duplicate update rows) and by the random-op
    model test driving both modes.  The entry RAISES unless the plan
    is merge-on-read (every pre-merge file still live, dv rows ==
    matched rows == appended rows for this pure-update frame).  The
    oracle applies the replacement as a CASE WHEN, so hash equality
    proves dead-marking + appended images compose to exactly a keyed
    upsert."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_mdv_"), ts="trade_month")
    upd = (table.read(spark)
           .where(F.expr("pmod(ticker, 13) = 3"))
           .withColumn("close", F.col("close") + F.lit(5.0)))
    files_before = {e["path"] for v in table._raw()["partitions"]
                    for e in table._entries(table._raw(), v)}
    out = table.merge(spark, upd, ["ticker", "trade_date"], mode="dv")
    if out["rows_dead"] == 0 or out["rows_dead"] != out["rows_appended"]:
        raise RuntimeError(f"not a pure-update low-shuffle merge: {out}")
    mf2 = table._raw()
    files_after = {e["path"] for v in mf2["partitions"]
                   for e in table._entries(mf2, v)}
    if not files_before <= files_after:
        raise RuntimeError("low-shuffle merge dropped pre-merge files")
    n_dv = sum(r.get("dv_rows", 0) for r in mf2["partitions"].values())
    if n_dv != out["rows_dead"]:
        raise RuntimeError(f"dv rows {n_dv} != rows_dead {out}")
    return table.read(spark).drop("trade_month")


MANIFEST_FULL_SYNC_SQL = f"""
WITH b AS ({oracles.BARS_SQL}),
     mx AS (SELECT max(strftime(trade_date, '%Y-%m')) AS m FROM b)
SELECT ticker, trade_date, low, high,
       CASE WHEN ticker % 7 = 2
                 OR strftime(trade_date, '%Y-%m') = (SELECT m FROM mx)
            THEN close ELSE close + 2.0 END AS close,
       volume, n_trades, has_volume,
       CASE WHEN ticker % 7 = 2
                 OR strftime(trade_date, '%Y-%m') = (SELECT m FROM mx)
            THEN 0 ELSE is_valid_record END AS is_valid_record
FROM b
""".strip()


@q("manifest_merge_full_sync", MANIFEST_FULL_SYNC_SQL)
def manifest_merge_full_sync(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """MERGE WHEN NOT MATCHED BY SOURCE (VERDICT r10 #3 — Delta's
    third clause family; the reference's full-snapshot SCD-2
    hard-delete invalidation,
    snapshots/russell3000_constituents_snapshot.sql:4-12
    ``invalidate_hard_deletes: true``, done table-natively): a "new
    full snapshot" source that UPDATES every surviving row
    (close + 2.0) while two row populations have VANISHED from it —
    one ticker residue class scattered across every month, plus the
    entire last month — merges in ONE atomic commit that upserts the
    source rows AND close-out-flags the vanished rows
    (``not_matched_by_source_update={{'is_valid_record': '0'}}``),
    low-shuffle (``mode='dv'``): vanished + matched rows are
    dead-marked by deletion-vector sidecars and their new images
    appended, ZERO data files rewritten.  The vanished-month
    partition is found by the clause's column-pruned anti-join probe
    (it is OUTSIDE the update's touched set — the path a naive
    touched-partitions-only merge would silently skip).  The entry
    RAISES unless the plan is merge-on-read (every pre-merge file of
    a surviving partition still live, rows_dead == rows_appended >
    0) and the vanished month survived WITH deletion vectors.  The
    oracle expresses the synced state as one CASE over the bar
    build, so hash equality proves the three clause families
    composed exactly."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_sync_"), ts="trade_month")
    mf = table._raw()
    files_before = {v: {e["path"] for e in table._entries(mf, v)}
                    for v in mf["partitions"]}
    maxm = max(mf["partitions"])        # partition values are months
    source = (table.read(spark)
              .where((F.col("trade_month") != maxm)
                     & (F.expr("pmod(ticker, 7) != 2")))
              .withColumn("close", F.col("close") + F.lit(2.0)))
    out = table.merge(spark, source, ["ticker", "trade_date"],
                      not_matched_by_source_update={
                          "is_valid_record": "0"},
                      mode="dv")
    if not (out["rows_dead"] == out["rows_appended"] > 0):
        raise RuntimeError(f"full sync not merge-on-read-shaped: {out}")
    mf2 = table._raw()
    for v, before in files_before.items():
        if v not in mf2["partitions"]:
            raise RuntimeError(f"close-out dropped partition {v}")
        after = {e["path"] for e in table._entries(mf2, v)}
        if not before <= after:
            raise RuntimeError(f"partition {v} was rewritten")
    if not mf2["partitions"][maxm].get("dv"):
        raise RuntimeError(
            "vanished month carries no deletion vectors — the "
            "by-source probe missed the out-of-touched partition")
    return table.read(spark).drop("trade_month")


MANIFEST_COLMAP_SQL = f"""
SELECT ticker, trade_date, low, high, close AS px_close,
       volume, n_trades, CAST(has_volume AS BIGINT) AS has_volume,
       is_valid_record
FROM ({oracles.BARS_SQL}) b
""".strip()


@q("manifest_column_mapping", MANIFEST_COLMAP_SQL)
def manifest_column_mapping(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """COLUMN MAPPING (VERDICT r10 #6 — Delta column-mapping /
    Iceberg type-promotion analogs; the reference renames columns by
    editing the dbt model and rebuilding the table, stg_daily_stocks
    SELECT-list renames): the bar fact's ``close`` is RENAMED to
    ``px_close`` and ``has_volume`` WIDENED int->bigint with TWO
    metadata-only commits — the entry RAISES if either touched a
    single data file.  Old (pre-rename, narrow) files and a
    subsequently appended slice (written under the new logical name
    and wide type) read back as ONE uniform frame: readers read by
    stable PHYSICAL name with the pinned wide type and alias to the
    logical name; on disk every file still says ``close``/int (also
    entry-RAISE-checked via the parquet footer).  Predicate pruning
    keeps working through the rename (scan_plan translates
    logical->physical before probing zone maps — RAISE-guarded with
    a month-range plan).  Time travel at v1 serves the OLD name
    (RAISE-guarded).  At 100 TB this is a rename costing one JSON
    write instead of a table rewrite.  The oracle renames/casts in
    SQL, so hash equality proves the mapping is pure metadata."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    early = bars.where(F.col("trade_month") < "1997-07")
    late = (bars.where(F.col("trade_month") >= "1997-07")
            .withColumnRenamed("close", "px_close")
            .withColumn("has_volume",
                        F.col("has_volume").cast("bigint")))
    table = ManifestTable.create(
        early, scratch_dir("manifest_cm_"), ts="trade_month")
    mf1 = table._raw()
    files_before = {e["path"] for v in mf1["partitions"]
                    for e in table._entries(mf1, v)}
    table.rename_column("close", "px_close")       # v2: metadata only
    table.widen_column("has_volume", "bigint")     # v3: metadata only
    mf3 = table._raw()
    files_after = {e["path"] for v in mf3["partitions"]
                   for e in table._entries(mf3, v)}
    if files_before != files_after:
        raise RuntimeError("rename/widen touched data files")
    table.append(late)                             # v4: new-name slice
    # on disk, EVERY file still carries the stable physical name
    import os

    import pyarrow.parquet as pq
    mf4 = table._raw()
    probe_file = next(e["path"] for v in sorted(mf4["partitions"])
                      for e in table._entries(mf4, v))
    cols_on_disk = pq.read_schema(
        os.path.join(table.root, probe_file)).names
    if "px_close" in cols_on_disk or "close" not in cols_on_disk:
        raise RuntimeError(
            f"physical layout drifted: {cols_on_disk}")
    # pruning translates through the mapping
    plan = table.scan_plan({"trade_month": ("1997-03", "1997-04"),
                            "px_close": (0.0, None)})
    total = sum(r["files"] for r in mf4["partitions"].values())
    if not (0 < len(plan["files"]) < total):
        raise RuntimeError(f"post-rename pruning failed: "
                           f"{len(plan['files'])}/{total}")
    # time travel serves the version's OWN name
    v1_cols = table.read(spark, manifest_name=table._mname(1)).columns
    if "close" not in v1_cols or "px_close" in v1_cols:
        raise RuntimeError(f"v1 columns drifted: {v1_cols}")
    out = table.read(spark).drop("trade_month")
    if dict(out.dtypes)["has_volume"] != "bigint":
        raise RuntimeError("widen did not re-type the read")
    return out


MANIFEST_DROP_COLUMN_SQL = f"""
SELECT ticker, trade_date, low, high, close, volume, has_volume,
       is_valid_record, CAST(NULL AS BIGINT) AS n_trades
FROM ({oracles.BARS_SQL}) b
""".strip()


@q("manifest_drop_column", MANIFEST_DROP_COLUMN_SQL)
def manifest_drop_column(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """METADATA-ONLY DROP COLUMN + collision-safe re-add (VERDICT r13
    "Next round" #3 — the Delta column-mapping drop semantics; the
    reference removes a column by editing the dbt model and
    rebuilding the whole table): the bar fact's ``n_trades`` is
    DROPPED with one commit — the entry RAISES if a single data file
    was touched — after which a post-drop slice appends WITHOUT the
    column and the same name is RE-ADDED via ``add_columns``.  The
    re-add must bind to a FRESH physical name through the colmap
    (``n_trades -> n_trades__p1``, RAISE-checked) because every
    pre-drop file still physically holds the old values: reading the
    retired physical would resurrect dropped data.  The entry RAISES
    unless (a) the drop retired the physical name in the commit
    object, (b) post-re-add reads are ALL-NULL for the column (both
    eras), and (c) time travel at v1 still serves the original
    values.  At 100 TB this turns "remove a column" from a
    full-table rewrite into one JSON write — the bytes shed lazily
    at the next compaction.  The oracle rebuilds the bars with
    ``CAST(NULL AS BIGINT)`` in the column's place, so hash equality
    proves the NULL-fill is exact and nothing resurrected."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    early = bars.where(F.col("trade_month") < "1997-07")
    late = (bars.where(F.col("trade_month") >= "1997-07")
            .drop("n_trades"))
    table = ManifestTable.create(
        early, scratch_dir("manifest_drop_"), ts="trade_month")
    mf1 = table._raw()
    files_before = {e["path"] for v in mf1["partitions"]
                    for e in table._entries(mf1, v)}
    n_trades_v1 = early.agg(
        F.sum("n_trades").cast("long")).collect()[0][0]
    table.drop_column("n_trades")                  # v2: metadata only
    mf2 = table._raw()
    files_after = {e["path"] for v in mf2["partitions"]
                   for e in table._entries(mf2, v)}
    if files_before != files_after:
        raise RuntimeError("drop_column touched data files")
    if mf2.get("retired") != ["n_trades"]:
        raise RuntimeError(
            f"physical name not retired: {mf2.get('retired')}")
    table.append(late)                             # v3: post-drop era
    table.add_columns([("n_trades", "bigint")])    # v4: re-add
    mf4 = table._raw()
    if (mf4.get("colmap") or {}).get("n_trades") != "n_trades__p1":
        raise RuntimeError(
            f"re-add did not map to a fresh physical: "
            f"{mf4.get('colmap')} — dropped values would resurrect")
    out = table.read(spark)
    if out.where(F.col("n_trades").isNotNull()).count() != 0:
        raise RuntimeError("dropped values resurrected on re-add")
    # time travel: the pre-drop snapshot still serves the real values
    v1_sum = (table.read(spark, manifest_name=table._mname(1))
              .agg(F.sum("n_trades").cast("long")).collect()[0][0])
    if v1_sum != n_trades_v1:
        raise RuntimeError(
            f"v1 time travel drifted: {v1_sum} != {n_trades_v1}")
    return out.drop("trade_month")


MANIFEST_RESTORE_SQL = f"""
{oracles.BARS_SQL}
""".strip()


@q("manifest_restore", MANIFEST_RESTORE_SQL)
def manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RESTORE (Delta's RESTORE TABLE ... TO VERSION; the
    operational answer to a bad backfill — the reference's recovery
    story is re-running the dbt build, which rewrites everything):
    the bars fact is materialized, a quarter is transactionally
    DELETED, then the table is restored to v1 with one METADATA-ONLY
    commit (the entry RAISES if the restore wrote any new data shard
    or failed to drop rows first).  The oracle is the untouched full
    bar build, so hash equality proves the restore resurrected
    exactly the original snapshot — no byte moved, history preserved
    (the restore itself is a new version)."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_restore_"), ts="trade_month")
    v1_refs = {v: r["shard"]
               for v, r in table._raw()["partitions"].items()}
    out = table.delete_where(
        spark, F.col("trade_date").between("1997-04-01", "1997-06-30"),
        where={"trade_month": ("1997-04", "1997-06"),
               "trade_date": ("1997-04-01", "1997-06-30")})
    if out["rows_deleted"] == 0:
        raise RuntimeError("delete removed nothing; restore untested")
    table.restore(1)
    if {v: r["shard"] for v, r in
            table._raw()["partitions"].items()} != v1_refs:
        raise RuntimeError("restore must re-point v1's shards exactly")
    return table.read(spark).drop("trade_month")


MANIFEST_WAP_SQL = f"""
{oracles.BARS_SQL}
""".strip()


@q("manifest_wap_publish", MANIFEST_WAP_SQL)
def manifest_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH through a manifest branch (Iceberg branch
    + fast-forward; the isolation the reference's dbt build-test-swap
    lacks — ``dbt run`` publishes the mart BEFORE ``dbt test`` judges
    it, so a failed audit leaves the bad build live, §3.2): the bars
    fact is created from the pre-1997 months, the 1997+ backfill is
    appended to an invisible ``audit`` branch, AUDITED there (row
    delta, NULL-free close — the dbt-generic-test shape), and only
    then fast-forward-published in one atomic metadata commit.  The
    entry RAISES unless isolation actually held (main's version AND
    row count unchanged while the branch carried the backfill), the
    publish was exactly base+1, and the published commit's change
    feed replays exactly the appended rows (single-commit branches
    keep their CDF through the publish — metadata-only to verify).
    Branch cut and publish write one small JSON each — on the 100 TB
    table this flow costs the backfill's own bytes plus two metadata
    files, never a copy of the table.  The oracle is the full bar
    build, so hash equality proves the published snapshot is
    byte-equal to the never-branched build."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    base, backfill = (bars.where(F.col("trade_month") < "1997-01"),
                      bars.where(F.col("trade_month") >= "1997-01"))
    table = ManifestTable.create(
        base, scratch_dir("manifest_wap_"), ts="trade_month")
    v0, n_base = table.version(), table.read(spark).count()
    branch = table.create_branch("audit")
    branch.append(backfill, cdf=True)
    # -- audit (on the branch, invisible to main) --------------------
    audited = branch.read(spark)
    n_new = audited.count() - n_base
    if n_new <= 0 or n_new != backfill.count():
        raise RuntimeError(f"audit failed: branch row delta {n_new}")
    if audited.where(F.col("close").isNull()).count():
        raise RuntimeError("audit failed: NULL close on the branch")
    # -- isolation: main never saw the unaudited write ---------------
    if table.version() != v0 or table.read(spark).count() != n_base:
        raise RuntimeError("branch write leaked into main pre-publish")
    out = table.publish_branch("audit")
    if out != {"published_version": v0 + 1, "commits": 1}:
        raise RuntimeError(f"publish was not a clean fast-forward: {out}")
    if table.changes(spark, v0 + 1).count() != n_new:
        raise RuntimeError("published commit lost the branch's CDF")
    return table.read(spark).drop("trade_month")


MANIFEST_META_SQL = f"""
SELECT strftime(trade_date, '%Y-%m') AS trade_month,
       CAST(COUNT(*) AS BIGINT) AS physical_rows,
       CAST(SUM(CASE WHEN ticker % 7 = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS deleted_rows,
       CAST(SUM(CASE WHEN ticker % 7 = 3 THEN 0 ELSE 1 END)
            AS BIGINT) AS live_rows
FROM ({oracles.BARS_SQL}) b
GROUP BY 1
""".strip()


@q("manifest_meta_tables", MANIFEST_META_SQL)
def manifest_meta_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA INSPECTION tables (Iceberg ``db.t.partitions`` /
    ``db.t.files`` / ``DESCRIBE HISTORY``; SURVEY §2.11): after a
    merge-on-read DV delete, ``meta_partitions`` reports per-partition
    physical/live/dead-marked rows straight from the COMMIT OBJECT —
    zero data I/O, O(#partitions) driver work at any table size — and
    this entry returns THOSE numbers, oracled against DuckDB counting
    the real data.  Hash equality proves the table's own metadata
    bookkeeping (file stats at commit, DV row accounting at delete)
    is physically true, which is the property every metadata-driven
    fast path (count_where, stat_bounds, incremental cutoffs, vacuum)
    stands on.  In-entry gates: the three inspection surfaces must
    agree with each other (files' physical rows fold to partitions';
    snapshots' live totals match v0 -> v1), with the DV delete's own
    report, and with an actual read."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_meta_"), ts="trade_month")
    v0 = table.version()
    out = table.delete_where(spark, F.expr("pmod(ticker, 7) = 3"),
                             mode="dv")
    parts = table.meta_partitions(spark).collect()
    files = table.meta_files(spark).collect()
    snaps = sorted(table.meta_snapshots(spark).collect(),
                   key=lambda r: r["version"])
    phys = {r["partition"]: r["live_rows"] + r["deleted_rows"]
            for r in parts}
    file_phys: dict[str, int] = {}
    for r in files:
        file_phys[r["partition"]] = file_phys.get(r["partition"], 0) \
            + r["rows"]
    if file_phys != phys:
        raise RuntimeError("files table disagrees with partitions table")
    n_live, n_dead = (sum(r["live_rows"] for r in parts),
                      sum(r["deleted_rows"] for r in parts))
    if n_dead != out["rows_deleted"]:
        raise RuntimeError(
            f"partitions table shows {n_dead} dead rows, delete "
            f"reported {out['rows_deleted']}")
    if [(s["version"], s["rows"]) for s in snaps] != \
            [(v0, n_live + n_dead), (v0 + 1, n_live)]:
        raise RuntimeError(f"snapshot history wrong: {snaps}")
    if n_live != table.read(spark).count():
        raise RuntimeError("metadata live count != actual read")
    # refs table (Iceberg db.t.refs): main head + snapshot tags
    table.create_tag("audited")
    refs = {(r["name"], r["type"]): r["version"]
            for r in table.meta_refs(spark).collect()}
    if refs != {("main", "branch"): v0 + 1,
                ("audited", "tag"): v0 + 1}:
        raise RuntimeError(f"refs table wrong: {refs}")
    return spark.createDataFrame(
        [(r["partition"], r["live_rows"] + r["deleted_rows"],
          r["deleted_rows"], r["live_rows"]) for r in parts],
        schema="trade_month string, physical_rows bigint, "
               "deleted_rows bigint, live_rows bigint")


DATASOURCE_MANIFEST_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE NOT (ticker % 7 = 3)
  AND trade_date BETWEEN DATE '1997-03-01' AND DATE '1997-08-31'
  AND ticker IN (5, 20, 40)
""".strip()


@q("datasource_manifest_scan", DATASOURCE_MANIFEST_SQL)
def datasource_manifest_scan(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """ManifestTable as a FIRST-CLASS Spark source
    (`spark.read.format("manifest")`, manifest_datasource.py — Spark 4
    Python DataSource with Catalyst filter pushdown): a plain
    `df.where(...)` on the loaded frame hands its conjuncts to the
    source, which replays them through `scan_plan` — partition-value
    pruning on the month, zone maps, and per-file BLOOM membership
    probes for the ticker IN-list — and plans the surviving files
    into byte-budget tasks (``packFiles=auto``, the r17 default),
    with each file's deletion vectors applied executor-side as a
    positional mask.  The entry RAISES unless a packing-off probe
    plans EXACTLY one task per surviving scan_plan file (pruning
    actually reached Spark's scheduler), the default packed read
    plans exactly the packer's deterministic bin count over the same
    pruned set, months outside the range were partition-pruned, and
    the bloom index skipped files the zone maps could not.  The
    oracle applies the same predicates AND the DV'd residue-class
    delete in SQL: hash equality proves pushdown pruned a superset
    and Spark's residual filter did the exact cut — on a 100 TB
    table this is the difference between touching 3 tickers' files
    and scanning every file of six months."""
    from .manifest import ManifestTable
    from .manifest_datasource import (ManifestDataSource,
                                      expected_scan_tasks)
    from .scratch import scratch_dir

    lineitem = _t(spark, sf_dir, "lineitem")
    bars = bars_from_lineitem(lineitem).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    # Bloom sized to the PER-FILE key cardinality (~bars per month ≈
    # lineitem rows / 84 months, 16 bits per element): a fixed m
    # saturates as sf grows (at sf0.1, ~7k distinct tickers in a
    # 2^14-bit filter sets ~88% of bits — no probe can exclude), and
    # an oversized m bloats every shard.  The count is a parquet
    # metadata read, not a scan.
    m = 1 << 14
    while m < 16 * lineitem.count() // 84 and m < (1 << 22):
        m <<= 1
    table = ManifestTable.create(
        bars, scratch_dir("manifest_ds_"), ts="trade_month",
        bloom={"cols": ["ticker"], "m": m, "k": 5})
    table.delete_where(spark, F.expr("pmod(ticker, 7) = 3"), mode="dv")

    lo, hi, keys = "1997-03-01", "1997-08-31", [5, 20, 40]
    plan = table.scan_plan({"trade_month": ("1997-03", "1997-08"),
                            "trade_date": (lo, hi), "ticker": keys})
    total = sum(r["files"] for r in table._raw()["partitions"].values())
    if not (plan["partitions_pruned"] > 0 and plan["bloom_skipped"] > 0
            and 0 < len(plan["files"]) < total):
        raise RuntimeError(f"scan not pruned: {plan} of {total} files")

    spark.dataSource.register(ManifestDataSource)
    key_, prior = ("spark.sql.python.filterPushdown.enabled",
                   spark.conf.get("spark.sql.python.filterPushdown."
                                  "enabled", "false"))
    spark.conf.set(key_, "true")
    try:
        pred = (F.col("trade_date").between(lo, hi)
                & F.col("ticker").isin(keys)
                & F.col("trade_month").between("1997-03", "1997-08"))
        # exact pushdown proof, plan-time only (getNumPartitions runs
        # the reader's partition planning, no data is read): with
        # packing OFF the task count must equal scan_plan's surviving
        # file list at any scale factor
        probe = (spark.read.format("manifest")
                 .option("packFiles", "0").load(table.root)
                 .where(pred))
        ntasks = probe.rdd.getNumPartitions()
        if ntasks != len(plan["files"]):
            raise RuntimeError(
                f"pushdown did not reach the scheduler: {ntasks} "
                f"tasks vs {len(plan['files'])} planned files")
        # the read that actually executes uses the r17 default
        # (packFiles=auto — byte-budget bins over the pruned set,
        # fewer JVM<->Python crossings); gate it against the packer's
        # own deterministic bin count so a lost pushdown (bins over
        # the FULL file set) still RAISES here
        out = (spark.read.format("manifest").load(table.root)
               .where(pred))
        npacked = out.rdd.getNumPartitions()
        expect = expected_scan_tasks(
            table, {"trade_month": ("1997-03", "1997-08"),
                    "trade_date": (lo, hi), "ticker": keys})
        if npacked != expect or npacked > ntasks:
            raise RuntimeError(
                f"packed plan diverged from the deterministic bin "
                f"count: {npacked} tasks vs {expect} expected "
                f"(unpacked {ntasks})")
        # materialize inside the conf scope: the lazy frame would
        # otherwise re-plan after `prior` is restored
        out = out.drop("trade_month").localCheckpoint(eager=True)
    finally:
        spark.conf.set(key_, prior)
    return out


MANIFEST_SQL_SELECT_SQL = f"""
WITH b AS ({oracles.BARS_SQL})
SELECT ticker, trade_date, close, volume
FROM b
WHERE strftime(trade_date, '%Y-%m') BETWEEN '1997-03' AND '1997-05'
  AND ticker % 7 != 3 AND volume >= 50
ORDER BY trade_date, ticker
""".strip()


@q("manifest_sql_select", MANIFEST_SQL_SELECT_SQL)
def manifest_sql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-ADDRESSABLE manifest tables (VERDICT r10 #2 — the
    reference's entire serving tier speaks raw SQL strings,
    data-viz/utilities/snowflake_helper.py:42-51, screener SQL
    assembly 2_Universe_Screener.py:58-77; until now our engine
    required the DataFrame wrapper or a manual temp view):
    ``ManifestTable.register(spark, name)`` binds the table as a
    view over the DSv2 pushdown path, and a dashboard-shaped
    ``spark.sql("SELECT ... WHERE month range AND volume >= k")``
    plans straight into the table's own pruning — the entry RAISES
    unless a packing-off probe view's task count equals
    ``scan_plan``'s surviving-file list (pushdown reached the
    scheduler THROUGH the SQL front door), the serving view's
    default packed read plans the packer's deterministic bin count
    over the same pruned set, and months outside the range were
    pruned.  A
    prior merge-on-read DV delete is invisible to the SQL consumer
    (executor-side masks).  Time travel gets the LITERAL Delta
    syntax via :func:`manifest_sql` — ``FROM bars VERSION AS OF 1``
    rewrites to an option-bound per-version view; the entry RAISES
    unless v1 still counts the pre-delete rows.  The oracle applies
    the same predicates + the residue-class delete in SQL: hash
    equality proves the raw-SQL path serves exactly the governed
    table state."""
    from .manifest import ManifestTable
    from .manifest_datasource import expected_scan_tasks, manifest_sql
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_sqlv_"), ts="trade_month")
    n_before = table.read(spark).count()
    table.delete_where(spark, F.expr("pmod(ticker, 7) = 3"),
                       mode="dv")

    key_, prior = ("spark.sql.python.filterPushdown.enabled",
                   spark.conf.get("spark.sql.python.filterPushdown."
                                  "enabled", "false"))
    try:
        table.register(spark, "bars_sql")   # sets pushdown conf
        # Delta's literal VERSION AS OF syntax over the SAME name
        tt = manifest_sql(
            spark, "SELECT COUNT(*) AS n FROM bars_sql "
                   "VERSION AS OF 1", {"bars_sql": table})
        if tt.collect()[0]["n"] != n_before:
            raise RuntimeError(
                "VERSION AS OF 1 did not serve the pre-delete "
                "snapshot through spark.sql")
        where = {"trade_month": ("1997-03", "1997-05"),
                 "volume": (50, None)}
        plan = table.scan_plan(where)
        total = sum(r["files"]
                    for r in table._raw()["partitions"].values())
        if not (0 < len(plan["files"]) < total):
            raise RuntimeError(
                f"scan not pruned: {len(plan['files'])}/{total}")
        # exact pushdown proof THROUGH THE SQL FRONT DOOR, plan-time
        # only: a probe view bound with packing OFF must plan one
        # task per surviving file at any scale factor
        table.register(spark, "bars_sql_probe",
                       reader_options={"packFiles": "0"})
        probe = spark.sql(
            "SELECT * FROM bars_sql_probe WHERE trade_month BETWEEN "
            "'1997-03' AND '1997-05' AND volume >= 50")
        ntasks = probe.rdd.getNumPartitions()
        if ntasks != len(plan["files"]):
            raise RuntimeError(
                f"SQL pushdown did not reach the scheduler: "
                f"{ntasks} tasks vs {len(plan['files'])} files")
        # the serving view itself uses the r17 default (packFiles=
        # auto); gate its plan against the packer's deterministic bin
        # count — a lost pushdown bins the FULL file set and RAISES
        packed = spark.sql(
            "SELECT * FROM bars_sql WHERE trade_month BETWEEN "
            "'1997-03' AND '1997-05' AND volume >= 50")
        npacked = packed.rdd.getNumPartitions()
        expect = expected_scan_tasks(table, where)
        if npacked != expect or npacked > ntasks:
            raise RuntimeError(
                f"SQL packed plan diverged from the deterministic "
                f"bin count: {npacked} tasks vs {expect} expected "
                f"(unpacked {ntasks})")
        out = spark.sql(
            "SELECT ticker, trade_date, close, volume FROM bars_sql "
            "WHERE trade_month BETWEEN '1997-03' AND '1997-05' "
            "AND volume >= 50 ORDER BY trade_date, ticker")
        # materialize inside the conf scope: the lazy frame would
        # otherwise re-plan after `prior` is restored
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set(key_, prior)
    return out


BACKFILL_CHUNKED_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE strftime(trade_date, '%Y-%m') BETWEEN '1997-07' AND '1997-12'
""".strip()


@q("stream_backfill_chunked", BACKFILL_CHUNKED_SQL)
def stream_backfill_chunked(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """CHUNKED deep backfill through the streaming source (VERDICT
    r10 #7 — Delta chunks availableNow by maxFilesPerTrigger; the
    Python DSv2 protocol captures latestOffset once per run, so our
    engine chunks by STEPPING ``endingVersion`` across bounded
    availableNow runs, ``backfill_manifest_stream``): six monthly
    backfill commits land through a 2-file-per-run budget as
    MULTIPLE bounded batches against ONE checkpoint — the entry
    RAISES unless the helper took >= 2 runs, the checkpoint holds
    exactly one commit per run, and a RE-INVOKED backfill resumes
    at the checkpoint with ZERO runs (exactly-once, no re-read).
    At 100 TB this is what keeps a month-long catch-up from landing
    as one executor-swamping batch.  The oracle is the backfilled
    slice of the bar build: hash equality proves the chunked runs
    reassemble it exactly once."""
    from .manifest import ManifestTable
    from .manifest_datasource import backfill_manifest_stream
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    months = [f"1997-{m:02d}" for m in range(7, 13)]
    base = bars.where(~F.col("trade_month").isin(months))
    table = ManifestTable.create(
        base, scratch_dir("bf_chunk_"), ts="trade_month")
    for m in months:                            # v2..v7, 1 file each
        table.append(bars.where(F.col("trade_month") == m))
    ckpt = os.path.join(scratch_dir("bf_chunk_ck_"), "ck")
    out = scratch_dir("bf_chunk_out_")

    def start(df):
        return (df.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    runs = backfill_manifest_stream(
        spark, table.root, start, step_files=2, starting_version=1,
        checkpoint=ckpt)
    if runs < 2:
        raise RuntimeError(
            f"backfill landed in {runs} run(s) — not chunked")
    commits = [c for c in os.listdir(ckpt + "/commits")
               if not c.startswith(".")]
    if len(commits) != runs:
        raise RuntimeError(
            f"{len(commits)} checkpoint commits for {runs} runs")
    rerun = backfill_manifest_stream(
        spark, table.root, start, step_files=2, starting_version=1,
        checkpoint=ckpt)
    if rerun != 0:
        raise RuntimeError(
            f"re-invoked backfill re-ran {rerun} run(s) — the "
            f"checkpoint resume failed")
    return spark.read.parquet(out).drop("trade_month")


DATASINK_AUTO_LAYOUT_SQL = oracles.BARS_SQL


@q("datasink_auto_layout", DATASINK_AUTO_LAYOUT_SQL)
def datasink_auto_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-OWNED write layout (VERDICT r10 #4): the DSv2 seam
    cannot inject a shuffle, so an unrepartitioned N-task frame
    spanning M partition values would spray ~N×M sliver files —
    until this round, only a catalog entry asserted the
    repartition-first rule.  Now the engine owns it twice over:
    ``write_manifest(df, root, ...)`` injects the
    repartition-by-partition-value itself (the entry writes the
    deliberately multi-task bar build through it and RAISES unless
    every month landed EXACTLY ONE file), and a raw
    ``df.write.format("manifest")`` of the same sprayed frame is
    REFUSED at commit with the fix named (RAISE-checked here too —
    nothing published, metadata-only detection).  At 1000 executors
    × 2,500 daily partitions this is 2,500 files instead of 2.5M.
    The oracle is the bar build itself: hash equality proves the
    engine-injected shuffle changed the LAYOUT, not one row."""
    from .manifest import ManifestTable
    from .manifest_datasource import write_manifest
    from .scratch import scratch_dir

    bars = (bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
            .withColumn("trade_month",
                        F.date_format("trade_date", "yyyy-MM"))
            .repartition(32))           # deliberately sprayed layout
    root = scratch_dir("auto_layout_")
    table = write_manifest(bars, root, ts="trade_month")
    mf = table._raw()
    per_value = {v: len(table._entries(mf, v))
                 for v in mf["partitions"]}
    if any(n != 1 for n in per_value.values()):
        raise RuntimeError(
            f"write_manifest layout not 1 file/value: {per_value}")
    # the raw seam REFUSES the same sprayed frame, fix named
    root2 = scratch_dir("auto_layout_raw_")
    try:
        bars.write.format("manifest").option("ts", "trade_month") \
            .mode("append").save(root2)
        raise RuntimeError("sprayed DSv2 write was not refused")
    except Exception as e:
        if "write_manifest" not in str(e):
            raise
    if os.path.isdir(os.path.join(root2, "_manifests")):
        raise RuntimeError("refused write still published a manifest")
    return table.read(spark).drop("trade_month")


STREAM_MANIFEST_SOURCE_SQL = oracles.BARS_SQL


@q("stream_manifest_source", STREAM_MANIFEST_SOURCE_SQL)
def stream_manifest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest table as a STRUCTURED STREAMING SOURCE
    (`spark.readStream.format("manifest")`, manifest_datasource.py —
    the Delta streaming-source analog; §2.9's ordered-replay shape
    promoted to a first-class source): offsets are table VERSIONS in
    Spark's own checkpoint, each micro-batch plans only the files
    ADDED in (start, end] via the sharded manifest diff — O(changed
    partitions) planning and O(change volume) reads at any table
    size, which is what lets a downstream pipeline tail a 100 TB
    table without rescanning it.  Three availableNow runs against ONE
    checkpoint: the first replays the pre-1997 base, the second picks
    up exactly the two backfill commits' rows (the entry RAISES if
    the delta isn't precisely the appended rows — a rescan would
    double-count the base), the third emits ZERO (restart
    idempotency).  The oracle is the full bar build: hash equality
    proves replay + two incremental batches reassemble the table
    exactly."""
    from .manifest import ManifestTable
    from .manifest_datasource import ManifestDataSource
    from .scratch import scratch_dir

    # the bar build feeds SIX consumers below (three slice counts, the
    # create, two appends): persist the aggregate so the lineitem scan
    # + groupBy shuffle run once per invocation instead of six times
    # (guide §5 — reuse > recompute here; unpersisted before return,
    # nothing survives the entry)
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM")).persist()
    try:
        base = bars.where(F.col("trade_month") < "1997-01")
        slice2 = bars.where(F.col("trade_month").between("1997-01",
                                                         "1997-06"))
        slice3 = bars.where(F.col("trade_month") > "1997-06")
        table = ManifestTable.create(
            base, scratch_dir("stream_src_"), ts="trade_month")
        ckpt, sink = scratch_dir("stream_src_ck_"), scratch_dir(
            "stream_src_out_")

        spark.dataSource.register(ManifestDataSource)
        # ONE streaming frame reused across the three query starts:
        # a restart re-plans the SOURCE from the checkpoint either
        # way (offsets pin the batches), and rebuilding the reader
        # per run paid pyspark's schema-resolution worker (~0.15 s)
        # three times for the identical plan (r17, guide §5 fixed
        # costs; the remaining ~1.2 s/start is pyspark's Python-DSv2
        # query-start machinery — measured floor, OPTIMIZATION_r17.md
        # §7).  packFiles=auto: micro-batch planning is unchanged
        # (offsets are versions; a batch's file set is unordered) —
        # the small per-month files just pack into byte-budget
        # Python tasks
        sdf = (spark.readStream.format("manifest")
               .option("packFiles", "auto").load(table.root))

        def run_once() -> int:
            q_ = (sdf.writeStream.format("parquet")
                  .option("path", sink)
                  .option("checkpointLocation", ckpt)
                  .trigger(availableNow=True).start())
            q_.awaitTermination(300)
            if q_.exception():
                raise RuntimeError(str(q_.exception()))
            return spark.read.parquet(sink).count()

        n_base = run_once()
        if n_base != base.count():
            raise RuntimeError(f"replay read {n_base} rows")
        table.append(slice2)
        table.append(slice3)
        n_after = run_once()
        if n_after - n_base != slice2.count() + slice3.count():
            raise RuntimeError(
                f"incremental batch was not exactly the appended rows: "
                f"{n_after - n_base}")
        if run_once() != n_after:
            raise RuntimeError("an empty trigger re-emitted rows")
    finally:
        # a gate RuntimeError above must not leak the cache block
        # into the shared session
        bars.unpersist()
    return spark.read.parquet(sink).drop("trade_month")


MANIFEST_TIME_TRAVEL_SQL = oracles.BARS_SQL


@q("manifest_time_travel", MANIFEST_TIME_TRAVEL_SQL)
def manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL through the DataSource (`option("versionAsOf", N)`
    / `option("tag", name)`, manifest_datasource.py — Delta's reader
    options + Iceberg's snapshot tags; the recovery/repro story the
    reference lacks entirely, its dbt rebuild being the only way
    back): the bars fact is created (v1) and TAGGED `pre_delete`,
    then a residue class is merge-on-read DELETED (v2) and the schema
    evolved (v3), then `vacuum(0)` reclaims all untagged history.
    The tag read must resurrect every row AND the pre-evolution
    schema — version pins data, deletion vectors, pruning metadata
    and schema to ONE commit object.  The entry RAISES unless the
    live read reflects the delete, `versionAsOf=1` equals the tag
    read, the evolved column is absent from the pinned read, and the
    tag survived the vacuum (a tag is the explicit keep-this-version
    retention signal — on a 100 TB table it is what makes `reproduce
    last quarter's training set` a metadata lookup instead of a
    rebuild).  The oracle is the untouched full bar build: hash
    equality proves the pinned snapshot is byte-identical to
    pre-delete state."""
    from .manifest import ManifestTable
    from .manifest_datasource import ManifestDataSource
    from .scratch import scratch_dir

    # two consumers (the count gate and the create) — persist so the
    # lineitem scan + bar groupBy run once; unpersisted right after
    # the create, before any read-side work
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM")).persist()
    try:
        n_total = bars.count()
        table = ManifestTable.create(
            bars, scratch_dir("manifest_tt_"), ts="trade_month")  # v1
    finally:
        # unpersist even if create raises — no leaked cache block
        bars.unpersist()
    table.create_tag("pre_delete")
    out = table.delete_where(spark, F.expr("pmod(ticker, 9) = 4"),
                             mode="dv")                          # v2
    if out["rows_deleted"] == 0:
        raise RuntimeError("delete removed nothing; travel untested")
    table.add_columns([("adjusted", "double")])                  # v3
    table.vacuum(retention_seconds=0.0)
    if table.tags() != {"pre_delete": {"version": 1}}:
        raise RuntimeError(f"tag lost across vacuum: {table.tags()}")

    spark.dataSource.register(ManifestDataSource)
    key_, prior = ("spark.sql.python.filterPushdown.enabled",
                   spark.conf.get("spark.sql.python.filterPushdown."
                                  "enabled", "false"))
    spark.conf.set(key_, "true")
    try:
        # packFiles=auto: this entry's three snapshot reads carry no
        # task-count pruning gate (unlike datasource_manifest_scan),
        # so the small per-month files pack into byte-budget Python
        # tasks — same rows, ~1/6 the JVM<->Python crossings (r16;
        # guide §4)
        tagged = (spark.read.format("manifest")
                  .option("tag", "pre_delete")
                  .option("packFiles", "auto").load(table.root))
        if "adjusted" in tagged.columns:
            raise RuntimeError(
                "tag read leaked post-pin schema evolution")
        live = (spark.read.format("manifest")
                .option("packFiles", "auto").load(table.root))
        if live.count() != n_total - out["rows_deleted"]:
            raise RuntimeError(
                "live read does not reflect the DV delete")
        if (spark.read.format("manifest").option("versionAsOf", 1)
                .option("packFiles", "auto")
                .load(table.root).count()) != n_total:
            raise RuntimeError("versionAsOf=1 missed pre-delete rows")
        # materialize inside the conf scope: the lazy frame would
        # otherwise re-plan after `prior` is restored
        out_df = (tagged.drop("trade_month")
                  .localCheckpoint(eager=True))
    finally:
        spark.conf.set(key_, prior)
    return out_df


DATASINK_MANIFEST_SQL = oracles.BARS_SQL


@q("datasink_manifest_write", DATASINK_MANIFEST_SQL)
def datasink_manifest_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ManifestTable as a first-class Spark SINK
    (`df.write.format("manifest")`, manifest_datasource.py — the DSv2
    two-phase write driven through the manifest commit protocol):
    executor tasks stage parquet straight into an invisible
    ``data/txn-*/`` grouped by partition value (step 1 — one Arrow
    ParquetWriter per value per task, no extra shuffle beyond the
    plan's own), the driver's ``commit(messages)`` folds footer stats
    into shard entries and publishes ONE manifest through the backend
    CAS (steps 2+3) — a failed task/job publishes NOTHING (abort
    reclaims the txn dir; a crash leaves vacuum orphans).  First
    write on a fresh root CREATES the table (pins schema + partition
    column from options); later appends are BLIND (old files all
    kept, DVs carried, CommitConflict rebases — appends commute).
    The entry writes the pre-1997 bars (create, v1) then the 1997+
    backfill (append, v2) and RAISES unless versions/rows/file-set
    monotonicity hold and the pinned schema matches the frame; the
    oracle is the full bar build — hash equality proves two DSv2
    writes reassemble the table exactly."""
    from .manifest import ManifestTable
    from .manifest_datasource import ManifestDataSource
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    # the DSv2 seam cannot inject a shuffle: each task writes one file
    # per partition value it holds, so the writer-side layout rule is
    # REPARTITION BY THE PARTITION COLUMN first (the same clustering
    # _stage applies internally) — without it a 2,656-task plan over
    # 84 months sprays ~every(task, month) sliver files
    base = (bars.where(F.col("trade_month") < "1997-01")
            .repartition(F.col("trade_month")))
    backfill = (bars.where(F.col("trade_month") >= "1997-01")
                .repartition(F.col("trade_month")))
    root = scratch_dir("manifest_sink_")
    spark.dataSource.register(ManifestDataSource)

    base.write.format("manifest").option("ts", "trade_month") \
        .mode("append").save(root)                           # creates v1
    t = ManifestTable(root, "trade_month")
    mf1 = t._raw()
    if mf1["version"] != 1 or mf1["ts"] != "trade_month":
        raise RuntimeError(f"create-on-first-write broken: {mf1['version']}")
    want_sig = [[f.name, f.dataType.simpleString()]
                for f in bars.schema.fields]
    if sorted(map(tuple, mf1["schema"])) != sorted(map(tuple, want_sig)):
        raise RuntimeError("first write did not pin the frame schema")
    files_v1 = {e["path"] for v in mf1["partitions"]
                for e in t._entries(mf1, v)}

    backfill.write.format("manifest").mode("append").save(root)  # v2
    mf2 = t._raw()
    files_v2 = {e["path"] for v in mf2["partitions"]
                for e in t._entries(mf2, v)}
    if mf2["version"] != 2 or not files_v1 < files_v2:
        raise RuntimeError("append rewrote or dropped v1 files")
    # the repartition-by-partition-column discipline held: each month
    # carries at most one file per write that touched it
    if len(files_v2) > 2 * len(mf2["partitions"]):
        raise RuntimeError(
            f"writer sprayed sliver files: {len(files_v2)} files for "
            f"{len(mf2['partitions'])} partitions")
    return t.read(spark).drop("trade_month")


STREAM_MANIFEST_SINK_SQL = oracles.BARS_SQL


@q("stream_manifest_sink", STREAM_MANIFEST_SINK_SQL)
def stream_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest table as an EXACTLY-ONCE STREAMING SINK
    (`writeStream.format("manifest")`, manifest_datasource.py — the
    Delta sink analog in DSv2 position): every micro-batch commits
    its staged files AND its (stream id, batch id) ledger entry in
    ONE manifest publish, so there is no crash window between "data
    written" and "batch remembered" — the same atomic-ledger
    guarantee `merge_batch`/`append_batch` give foreachBatch callers,
    now available to a plain `writeStream` pipeline with zero user
    code.  Two availableNow runs against one checkpoint land the
    pre-1997 base then exactly the backfill (the entry RAISES unless
    ledger batch ids advanced 0→1, rows are exactly base+backfill,
    and a DIRECT replay of an already-committed batch id is dropped
    without publishing); the oracle is the full bar build — hash
    equality proves the streamed table equals the batch-built one."""
    from .manifest import ManifestTable
    from .manifest_datasource import ManifestDataSource, _commit_staged
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    base = bars.where(F.col("trade_month") < "1997-01")
    backfill = bars.where(F.col("trade_month") >= "1997-01")
    root = scratch_dir("stream_sink_")
    srcdir = scratch_dir("stream_sink_src_")
    ckpt = scratch_dir("stream_sink_ck_")
    spark.dataSource.register(ManifestDataSource)

    def run_once() -> None:
        q_ = (spark.readStream.schema(bars.schema)
              .parquet(srcdir + "/*")
              # writer-side layout rule (stateless shuffle, legal in
              # a stream): cluster by the partition column so each
              # micro-batch lands one file per touched month
              .repartition(F.col("trade_month"))
              .writeStream.format("manifest")
              .option("path", root).option("ts", "trade_month")
              .option("streamId", "bars").option("cdf", "true")
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
        q_.awaitTermination(300)
        if q_.exception():
            raise RuntimeError(str(q_.exception()))

    base.write.parquet(srcdir + "/b1")
    run_once()
    t = ManifestTable(root, "trade_month")
    n_base, want_base = t.read(spark).count(), base.count()
    if t._raw()["streams"] != {"bars": 0} or n_base != want_base:
        raise RuntimeError(
            f"batch 0 not exactly the base: {n_base} rows, "
            f"ledger {t._raw()['streams']}")
    backfill.write.parquet(srcdir + "/b2")
    run_once()
    mf = t._raw()
    if mf["streams"] != {"bars": 1}:
        raise RuntimeError(f"ledger did not advance: {mf['streams']}")
    if t.read(spark).count() - n_base != backfill.count():
        raise RuntimeError("batch 1 was not exactly the backfill")
    # a replayed batch id is recognized from the ledger and dropped
    if _commit_staged(root, "trade_month", {}, mf["schema"], False,
                      stream=("bars", 1)) is not False:
        raise RuntimeError("replayed batch id was not dropped")
    if t.version() != mf["version"]:
        raise RuntimeError("replay published a version")
    # option("cdf"): each batch committed its row-level change feed
    # atomically with the files (insert_files kind, zero extra bytes)
    if (t.changes(spark, 1).count() != n_base
            or t.changes(spark, 2)
            .where(F.col("_change_type") != "insert").count() != 0):
        raise RuntimeError("sink change feed is not the batch delta")
    return t.read(spark).drop("trade_month")


STREAM_CHANGE_FEED_SQL = f"""
SELECT b.*, 'insert' AS _change_type,
       CAST(2 AS BIGINT) AS _commit_version
FROM ({oracles.BARS_SQL}) b
WHERE trade_date >= DATE '1997-01-01'
UNION ALL
SELECT b.*, 'delete' AS _change_type,
       CAST(3 AS BIGINT) AS _commit_version
FROM ({oracles.BARS_SQL}) b
WHERE ticker % 9 = 4
""".strip()


@q("stream_change_feed", STREAM_CHANGE_FEED_SQL)
def stream_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING the ROW-LEVEL change feed
    (`option("readChangeFeed", "true")`, manifest_datasource.py —
    Delta's readChangeFeed in DSv2 position): the stream emits each
    commit's classified change rows (table schema + `_change_type` +
    `_commit_version`) straight from the change-set files the writes
    committed — an append's feed at ZERO extra bytes (insert_files
    kind), a DV delete's as its real removed rows — so a downstream
    incremental view folds O(changes) per trigger instead of
    rescanning the table (the IVM consumption shape, now wired to a
    plain readStream).  The entry creates the pre-1997 bars (v1),
    appends the 1997+ backfill with cdf (v2), merge-on-read DELETES a
    ticker residue class with cdf (v3), streams the feed from
    startingVersion=1, and RAISES unless the fold invariant holds:
    v1 snapshot + inserts - deletes == the live table, row-for-row
    count.  The oracle reproduces the exact feed relation (inserts =
    the backfill tagged v2; deletes = the residue class tagged v3) —
    hash equality proves the streamed feed is byte-true to the
    writes."""
    from .manifest import ManifestTable
    from .manifest_datasource import ManifestDataSource
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    base = bars.where(F.col("trade_month") < "1997-01")
    backfill = bars.where(F.col("trade_month") >= "1997-01")
    table = ManifestTable.create(
        base, scratch_dir("stream_cdf_"), ts="trade_month")     # v1
    table.append(backfill, cdf=True)                            # v2
    out = table.delete_where(spark, F.expr("pmod(ticker, 9) = 4"),
                             cdf=True, mode="dv")               # v3
    if out["rows_deleted"] == 0:
        raise RuntimeError("delete removed nothing; feed untested")
    sink, ckpt = (scratch_dir("stream_cdf_out_"),
                  scratch_dir("stream_cdf_ck_"))
    spark.dataSource.register(ManifestDataSource)
    q_ = (spark.readStream.format("manifest")
          .option("readChangeFeed", "true")
          .option("startingVersion", "1").load(table.root)
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q_.awaitTermination(300)
    if q_.exception():
        raise RuntimeError(str(q_.exception()))
    feed = spark.read.parquet(sink)
    n_ins = feed.where(F.col("_change_type") == "insert").count()
    n_del = feed.where(F.col("_change_type") == "delete").count()
    if n_ins != backfill.count() or n_del != out["rows_deleted"]:
        raise RuntimeError(
            f"feed is not the writes: {n_ins} inserts, {n_del} deletes")
    # fold invariant: base + inserts - deletes == live table
    if base.count() + n_ins - n_del != table.read(spark).count():
        raise RuntimeError("feed does not fold to the live table")
    return feed.drop("trade_month")


STREAM_IVM_SQL = f"""
WITH b AS ({oracles.BARS_SQL}),
post AS (SELECT ticker,
                CASE WHEN ticker % 13 = 3 THEN close + 5.0
                     ELSE close END AS close
         FROM b)
SELECT ticker,
       CAST(SUM(CAST(FLOOR(close * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_close_micros,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM post GROUP BY ticker
""".strip()


@q("stream_ivm_view", STREAM_IVM_SQL)
def stream_ivm_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance — the change-feed
    stream and the IVM fold wired end-to-end (readChangeFeed →
    foreachBatch → operators/ivm.apply_cdf_delta): a per-ticker
    SUM/COUNT view is built ONCE from the v1 snapshot, then a cdf
    APPEND (the 1997+ backfill) and a cdf merge-on-read UPDATE
    (close += 5 on a ticker residue class) land on the table, and a
    `readChangeFeed` stream folds their classified rows into the
    view — preimages subtract, postimages/inserts add, integer-micros
    exact — WITHOUT ever rescanning the base.  This is the 100 TB
    materialized-view maintenance loop as one plain Structured
    Streaming pipeline: per trigger the view update costs
    O(changes) + O(view), and the entry RAISES unless the change
    volume was strictly smaller than the table and both commits'
    versions flowed through the stream.  Oracle: a from-scratch SQL
    rebuild of the post-write aggregate — hash equality proves the
    streamed fold reproduced it exactly."""
    from .manifest import ManifestTable
    from .manifest_datasource import ManifestDataSource
    from .operators.ivm import apply_cdf_delta, sum_count_view
    from .scratch import scratch_dir

    bars = (bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
            .withColumn("trade_month",
                        F.date_format("trade_date", "yyyy-MM")))
    base = bars.where(F.col("trade_month") < "1997-01")
    backfill = bars.where(F.col("trade_month") >= "1997-01")
    table = ManifestTable.create(
        base, scratch_dir("stream_ivm_"), ts="trade_month")     # v1
    # materialize the initial view BEFORE later writes: the folded
    # state must never lazily re-plan over a moved-on table
    view = sum_count_view(table.read(spark), ["ticker"],
                          ["close"]).localCheckpoint(eager=True)

    table.append(backfill, cdf=True)                            # v2
    out = table.update_where(
        spark, {"close": F.col("close") + F.lit(5.0)},
        F.expr("pmod(ticker, 13) = 3"), cdf=True)               # v3
    if out["rows_updated"] == 0:
        raise RuntimeError("update matched nothing; IVM untested")

    state = {"view": view, "changes": 0, "versions": set()}

    def fold(batch_df, batch_id) -> None:
        state["changes"] += batch_df.count()
        state["versions"] |= {
            r["_commit_version"] for r in
            batch_df.select("_commit_version").distinct().collect()}
        state["view"] = apply_cdf_delta(
            state["view"], batch_df.drop("_commit_version"),
            ["ticker"], ["close"]).localCheckpoint(eager=True)

    spark.dataSource.register(ManifestDataSource)
    q_ = (spark.readStream.format("manifest")
          .option("readChangeFeed", "true")
          .option("startingVersion", "1").load(table.root)
          .writeStream.foreachBatch(fold)
          .option("checkpointLocation", scratch_dir("stream_ivm_ck_"))
          .trigger(availableNow=True).start())
    q_.awaitTermination(300)
    if q_.exception():
        raise RuntimeError(str(q_.exception()))
    n_table = sum(r["rows"]
                  for r in table._raw()["partitions"].values())
    if not 0 < state["changes"] < n_table:
        raise RuntimeError(
            f"IVM read not bounded: {state['changes']} change rows "
            f"vs {n_table} table rows")
    if state["versions"] != {2, 3}:
        raise RuntimeError(
            f"stream missed commits: saw {state['versions']}")
    return state["view"]


STREAM_APPLY_CHANGES_SQL = f"""
SELECT ticker, trade_date, low, high,
       CASE WHEN ticker % 13 = 3 THEN close + 5.0 ELSE close END
         AS close,
       volume, n_trades, has_volume, is_valid_record
FROM ({oracles.BARS_SQL}) b
WHERE NOT (ticker % 9 = 4)
""".strip()


@q("stream_apply_changes", STREAM_APPLY_CHANGES_SQL)
def stream_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC REPLICATION — APPLY CHANGES INTO (Delta Live Tables'
    apply_changes / the Debezium-consumer shape) composed from this
    engine's own pieces: a TARGET replica bootstrapped from the
    source's v1 snapshot stays synchronized by streaming the source's
    `readChangeFeed` and applying each micro-batch with the
    exactly-once tombstone MERGE (`merge_batch` +
    `when_matched_delete`) — sequencing per key by `_commit_version`
    (latest action wins when one batch carries an update AND a delete
    for the same key), deletes folded to a NULL-close sentinel the
    merge's third clause routes to WHEN MATCHED DELETE, batch id +
    upserts + deletes in ONE target commit.  The source takes a cdf
    append (v2), a cdf merge-on-read UPDATE (v3) and a cdf DV DELETE
    (v4); the entry RAISES unless the replica converges to the
    source's live row count with zero sentinel leakage (an unmatched
    tombstone would INSERT a null row — the named hazard) and the
    target's ledger proves the exactly-once path was used.  Oracle:
    the post-writes state in SQL — hash equality proves the replica
    IS the source."""
    from .manifest import ManifestTable
    from .manifest_datasource import ManifestDataSource
    from .scratch import scratch_dir
    from pyspark.sql.window import Window

    bars = (bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
            .withColumn("trade_month",
                        F.date_format("trade_date", "yyyy-MM")))
    base = bars.where(F.col("trade_month") < "1997-01")
    backfill = bars.where(F.col("trade_month") >= "1997-01")
    source = ManifestTable.create(
        base, scratch_dir("cdc_src_"), ts="trade_month")        # v1
    target = ManifestTable.create(
        base, scratch_dir("cdc_tgt_"), ts="trade_month")
    source.append(backfill, cdf=True)                           # v2
    source.update_where(
        spark, {"close": F.col("close") + F.lit(5.0)},
        F.expr("pmod(ticker, 13) = 3"), cdf=True)               # v3
    out = source.delete_where(spark, F.expr("pmod(ticker, 9) = 4"),
                              cdf=True, mode="dv")              # v4
    if out["rows_deleted"] == 0:
        raise RuntimeError("delete removed nothing; CDC untested")

    keys = ["ticker", "trade_date"]

    def apply(batch_df, batch_id) -> None:
        # APPLY CHANGES sequencing: latest action per key wins
        # (_commit_version is the sequence_by column); preimages are
        # bookkeeping for aggregate folds, not row states
        w = Window.partitionBy(*keys).orderBy(
            F.desc("_commit_version"))
        latest = (batch_df
                  .where(F.col("_change_type") != "update_preimage")
                  .withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") == 1).drop("__rn"))
        marked = (latest.withColumn(
            "close", F.when(F.col("_change_type") == "delete",
                            F.lit(None).cast("double"))
            .otherwise(F.col("close")))
            .drop("_change_type", "_commit_version"))
        target.merge_batch(
            spark, marked, keys, "cdc", batch_id,
            when_matched_delete=F.col("close").isNull())

    spark.dataSource.register(ManifestDataSource)
    q_ = (spark.readStream.format("manifest")
          .option("readChangeFeed", "true")
          .option("startingVersion", "1").load(source.root)
          .writeStream.foreachBatch(apply)
          .option("checkpointLocation", scratch_dir("cdc_ck_"))
          .trigger(availableNow=True).start())
    q_.awaitTermination(300)
    if q_.exception():
        raise RuntimeError(str(q_.exception()))
    replica = target.read(spark)
    if replica.count() != source.read(spark).count():
        raise RuntimeError("replica diverged from the source")
    if replica.where(F.col("close").isNull()).count():
        raise RuntimeError("tombstone sentinel leaked into the replica")
    if "cdc" not in target._raw().get("streams", {}):
        raise RuntimeError("replication bypassed the exactly-once path")
    return replica.drop("trade_month")


RUNNER_WAP_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE trade_date < DATE '1997-07-01'
""".strip()


@q("runner_wap_audit", RUNNER_WAP_SQL)
def runner_wap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model runner's blocking `dbt test` stage (S11 + §3.2): an
    incremental mart declares checks.py-shaped AUDITS, and the runner
    lands every refresh on an invisible manifest branch, audits the
    full post-write state there, and fast-forward-publishes only on a
    clean verdict — the reference's DAG runs `dbt run` then `dbt
    test` (daily_stock_pipeline_dag.py:30-55), so its failed test
    leaves the bad mart already live.  Three runs: the pre-1997 base
    CREATES the table (audited pre-create — nothing is live to
    isolate), a POISONED backfill (NULL closes) must raise
    AuditFailed while main's version, rows and branch list stay
    byte-untouched, then the clean backfill publishes as exactly one
    fast-forward commit.  The oracle is the straight bar build over
    the full range, so hash equality proves the audited, branched,
    twice-attempted pipeline converges to the never-failed build."""
    from .manifest import ManifestTable
    from .runner import AuditFailed, Model, Runner
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    base = bars.where(F.col("trade_month") < "1997-01")
    good = bars.where(F.col("trade_month").between("1997-01", "1997-06"))
    poisoned = good.withColumn("close", F.lit(None).cast("double"))
    audits = {
        "not_null_close": lambda df: df.where(F.col("close").isNull()),
        "volume_non_negative": lambda df: df.where(F.col("volume") < 0),
    }
    wh = scratch_dir("runner_wap_")

    def run_once(batch):
        r = Runner(spark, wh)
        r.register(Model(
            "bars_wap", lambda s, built: batch,
            materialization="incremental",
            unique_key=["ticker", "trade_date", "trade_month"],
            partition_by=["trade_month"], audits=audits))
        return r.run()["bars_wap"]

    run_once(base)
    table = ManifestTable(f"{wh}/bars_wap", "trade_month")
    v0, n0 = table.version(), table.read(spark).count()
    try:
        run_once(poisoned)
    except AuditFailed as e:
        if "not_null_close" not in e.failures:
            raise RuntimeError(f"wrong audit verdict: {e.failures}")
    else:
        raise RuntimeError("poisoned backfill was published")
    if (table.version(), table.read(spark).count()) != (v0, n0):
        raise RuntimeError("failed audit mutated the live table")
    if table.branches():
        raise RuntimeError("failed audit left its branch behind")
    run_once(good)
    if table.version() != v0 + 1:
        raise RuntimeError(
            f"publish was not one fast-forward commit: "
            f"v{v0} -> v{table.version()}")
    return table.read(spark).drop("trade_month")


MANIFEST_SERVE_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE ticker BETWEEN 1 AND 40
  AND trade_date BETWEEN DATE '1997-04-01' AND DATE '1997-06-30'
""".strip()


@q("serving_manifest_ticker_range", MANIFEST_SERVE_SQL)
def serving_manifest_ticker_range(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The dashboard P9 lookup (key IN-list + date range — serve.py's
    ticker_range shape, 2_single_stock_dashboard.py:21-33) served
    THROUGH the table layer: the bars fact is month-partitioned and
    ticker-clustered (compact(cluster_by=['ticker']) chunks each month
    into ticker-tight files), so the manifest resolves the query to a
    handful of files — months pruned by partition value, files by
    ticker zone maps against the IN-list — before Spark opens
    anything.  The entry RAISES unless BOTH prunings actually bit; the
    oracle is the same predicate in SQL over the unpartitioned build,
    so hash equality proves the clustered layout loses no rows.  This
    is the 100 TB dashboard path: metadata-bounded I/O for a
    key+range probe, no directory listing."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    lo, hi = "1997-04-01", "1997-06-30"
    tickers = list(range(1, 41))
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_serve_"), ts="trade_month")
    n_rows = sum(r["rows"]
                 for r in table._raw()["partitions"].values())
    n_parts = len(table._raw()["partitions"])
    table.compact(spark, cluster_by=["ticker"],
                  max_records_per_file=max(1, n_rows // (n_parts * 8)))
    where = {"trade_month": ("1997-04", "1997-06"),
             "trade_date": (lo, hi), "ticker": tickers}
    plan = table.scan_plan(where)
    if not (plan["partitions_pruned"] > 0 and plan["skipped"] > 0
            and plan["files"]):
        raise RuntimeError(f"manifest serving plan not pruned: {plan}")
    return (table.read(spark, where=where)
            .where(F.col("ticker").isin(tickers)
                   & F.col("trade_date").between(lo, hi))
            .drop("trade_month"))


MANIFEST_ZORDER_SQL = f"""
WITH b AS ({oracles.BARS_SQL})
SELECT * FROM b
WHERE close <= (SELECT MIN(close) + (MAX(close) - MIN(close)) * 0.1
                FROM b)
""".strip()


@q("manifest_zorder_scan", MANIFEST_ZORDER_SQL)
def manifest_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Z-ORDER end-to-end (Delta OPTIMIZE ZORDER; the Snowflake
    analog is multi-column clustering keys, the reference's
    cluster_by=['ticker'] one dimension up): the bars fact is
    compacted along a Morton curve over (close, volume) into ~16
    tiles, and the entry RAISES unless a selective predicate on
    EITHER dimension then skips files from the footer zone maps — the
    property a lexicographic sort cannot give the trailing column.
    The returned result is the close-range slice (cutoff = min + 10%%
    of the domain, computed from the manifest's exact zone-map bounds
    with the same double arithmetic the oracle's scalar subquery
    uses), residual-filtered, so hash equality also proves the tiled
    layout lost no rows."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_zorder_"), ts=None)
    n_rows = sum(r["rows"]
                 for r in table._raw()["partitions"].values())
    table.compact(spark, zorder_by=["close", "volume"],
                  max_records_per_file=max(1, -(-n_rows // 16)))
    c_lo, c_hi = table.stat_bounds("close")
    v_lo, v_hi = table.stat_bounds("volume")
    cutoff = c_lo + (c_hi - c_lo) * 0.1
    plan_c = table.scan_plan({"close": (None, cutoff)})
    plan_v = table.scan_plan(
        {"volume": (None, v_lo + (v_hi - v_lo) * 0.1)})
    if not (plan_c["skipped"] > 0 and plan_v["skipped"] > 0):
        raise RuntimeError(
            f"z-order skipping ineffective: close skipped "
            f"{plan_c['skipped']}, volume skipped {plan_v['skipped']}")
    return (table.read(spark, where={"close": (None, cutoff)})
            .where(F.col("close") <= cutoff))


MANIFEST_CHANGES_SQL = f"""
SELECT * FROM ({oracles.BARS_SQL}) b
WHERE trade_date >= DATE '1997-07-01'
""".strip()


@q("manifest_change_feed", MANIFEST_CHANGES_SQL)
def manifest_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level CHANGE FEED (§2.9 ordered replay, consumer side —
    the reference's downstream consumers re-pull whole tables; this is
    the bounded-read upgrade): the bars fact is materialized up to a
    split (v1), two exactly-once batches append the post-split months,
    and ``read_incremental(since_version=1)`` returns precisely the
    appended rows — the read is bounded by CHANGE volume, never table
    size (the entry RAISES unless the change set's file list is a
    strict subset of the live table's).  Oracle: the post-split slice
    built in SQL, hash-compared."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    split = "1997-07-01"
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars.where(F.col("trade_date") < F.lit(split)),
        scratch_dir("manifest_cdc_"), ts="trade_month")
    post = bars.where(F.col("trade_date") >= F.lit(split))
    table.append_batch(post.where(F.col("trade_month") <= "1997-08"),
                       "backfill", 0)
    table.append_batch(post.where(F.col("trade_month") > "1997-08"),
                       "backfill", 1)
    added = table.added_files(1)
    total = len(table.scan_plan()["files"])
    if not (0 < len(added) < total):
        raise RuntimeError(
            f"change feed not bounded: {len(added)} of {total} files")
    return table.read_incremental(spark, 1).drop("trade_month")


MANIFEST_CDF_SQL = f"""
WITH b AS ({oracles.BARS_SQL}),
base AS (SELECT ticker, trade_date, close, volume FROM b),
u AS (SELECT ticker, trade_date, close * 2 AS close, volume
      FROM base
      WHERE trade_date BETWEEN DATE '1997-06-01' AND DATE '1997-07-31')
SELECT ticker, trade_date, close, volume,
       'update_preimage' AS _change_type
FROM base
WHERE trade_date BETWEEN DATE '1997-06-01' AND DATE '1997-06-30'
UNION ALL
SELECT ticker, trade_date, close, volume,
       'update_postimage' AS _change_type
FROM u WHERE trade_date < DATE '1997-07-01'
UNION ALL
SELECT ticker, trade_date, close, volume, 'insert' AS _change_type
FROM u WHERE trade_date >= DATE '1997-07-01'
""".strip()


@q("manifest_cdf_rows", MANIFEST_CDF_SQL)
def manifest_cdf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL change feed (VERDICT r8 #6 — Delta CDF shape; the
    file-level feed `manifest_change_feed` is exact for appends but
    only partition-granular for merges): the bars fact is
    materialized up to a July split, then ONE ``merge(cdf=True)``
    doubles June's closes (updates) and inserts July (new keys).  The
    classified change rows (insert / update_preimage /
    update_postimage per key) stage beside the data and publish in
    the SAME atomic commit; the entry returns ``changes(version)``
    and RAISES unless all three change types are present and the
    post-merge table state equals pre + applied changes by count.
    Oracle: the pre/post diff constructed directly in SQL — the
    full-outer-diff shape a downstream MERGE consumer would otherwise
    recompute from two whole snapshots, which is exactly the cost the
    captured feed avoids at 100 TB (the feed is bounded by CHANGE
    volume, the diff by TABLE size)."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    split = "1997-07-01"
    bars = (bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
            .select("ticker", "trade_date", "close", "volume")
            .withColumn("trade_month",
                        F.date_format("trade_date", "yyyy-MM")))
    table = ManifestTable.create(
        bars.where(F.col("trade_date") < F.lit(split)),
        scratch_dir("manifest_cdf_"), ts="trade_month")
    pre_rows = sum(r["rows"]
                   for r in table._raw()["partitions"].values())
    upd = (bars.where(F.col("trade_date")
                      .between("1997-06-01", "1997-07-31"))
           .withColumn("close", F.col("close") * 2))
    table.merge(spark, upd, ["ticker", "trade_date"], cdf=True)
    feed = table.changes(spark, table.version()).drop("trade_month")
    kinds = {r["_change_type"]: r["n"] for r in
             feed.groupBy("_change_type").count()
             .withColumnRenamed("count", "n").collect()}
    if set(kinds) != {"insert", "update_preimage", "update_postimage"}:
        raise RuntimeError(f"change feed incomplete: {kinds}")
    if kinds["update_preimage"] != kinds["update_postimage"]:
        raise RuntimeError(f"pre/post image counts differ: {kinds}")
    post_rows = sum(r["rows"]
                    for r in table._raw()["partitions"].values())
    if post_rows != pre_rows + kinds["insert"]:
        raise RuntimeError(
            f"feed does not reconcile: {pre_rows} + {kinds['insert']} "
            f"inserts != {post_rows} live rows")
    return feed


_ZMIX_SYMS = [f"T{i:04d}" for i in range(1, 61, 2)]

MANIFEST_COUNT_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
FROM ({oracles.BARS_SQL}) b
WHERE trade_date BETWEEN DATE '1996-03-15' AND DATE '1997-09-15'
""".strip()


@q("manifest_count_pushdown", MANIFEST_COUNT_SQL)
def manifest_count_pushdown(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Aggregate pushdown into table metadata: ``COUNT(*) WHERE
    trade_date BETWEEN ...`` over the month-partitioned bars fact,
    answered from manifest row counts for every partition/file whose
    zone map lies FULLY inside the range (null-free proven from the
    footer ``nn`` fold — min/max ignore NULLs, so containment without
    that proof would overcount), reading ONLY the range-boundary
    files.  At 100 TB this is the difference between a dashboard
    count costing O(boundary files) and O(whole range).  The entry
    RAISES unless the metadata actually answered most of the count
    (interior months) and the boundary read stayed a small fraction
    of the file set.  Oracle: the same COUNT(*) in SQL — equality
    proves the metadata rows + exact boundary count reproduce the
    true answer."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    lo, hi = "1996-03-15", "1997-09-15"
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_count_"), ts="trade_month")
    out = table.count_where(spark, "trade_date", lo, hi)
    if not (out["rows_from_metadata"] > out["count"] // 2
            and 0 < out["files_read"] < out["files_total"] // 4):
        raise RuntimeError(
            f"count pushdown ineffective: {out}")
    return spark.createDataFrame([(out["count"],)], "n_rows bigint")


#: the third MERGE clause's delete condition, written once in the
#: dialect both engines parse identically: odd ticker ids delete
_MERGE_DEL_COND = "ticker % 2 = 1"

MANIFEST_MERGE_DELETE_SQL = f"""
WITH b AS ({oracles.BARS_SQL}),
pre AS (SELECT ticker, trade_date, close, volume FROM b
        WHERE trade_date < DATE '1997-07-01'),
upd AS (SELECT ticker, trade_date, close * 2 AS close, volume FROM b
        WHERE trade_date BETWEEN DATE '1997-06-01'
                             AND DATE '1997-07-31'),
dels AS (SELECT * FROM upd WHERE {_MERGE_DEL_COND}),
ups  AS (SELECT * FROM upd WHERE NOT COALESCE({_MERGE_DEL_COND},
                                              FALSE)),
kept AS (SELECT pre.* FROM pre ANTI JOIN dels USING (ticker, trade_date)),
post AS (SELECT kept.* FROM kept ANTI JOIN ups USING (ticker, trade_date)
         UNION ALL SELECT * FROM ups)
SELECT ticker,
       CAST(SUM(CAST(FLOOR(close * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_close_micros,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM post GROUP BY ticker
""".strip()


@q("manifest_merge_delete", MANIFEST_MERGE_DELETE_SQL)
def manifest_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD SQL MERGE clause — WHEN MATCHED AND <cond> THEN
    DELETE (``merge(when_matched_delete=...)``; Snowflake's full
    three-clause MERGE is the reference's statement shape, Delta's
    ``whenMatchedDelete`` the open analog): ONE atomic commit routes
    every update row per-row — matched odd-id tickers DELETE,
    matched even-id tickers UPDATE (close doubled), unmatched rows
    INSERT (July) or no-op (unmatched deletes).  ``cdf=True``
    captures the same commit's row-level feed, and the entry RAISES
    unless all FOUR change kinds are present, pre/post image counts
    agree, and the feed reconciles the table's row-count delta
    exactly (post = pre + inserts - deletes).  Oracle: the three
    clauses composed directly in SQL (delete → anti join, upsert →
    anti join + union) over the same bars source — aggregate hash
    equality proves the clause routing reproduced the SQL MERGE
    semantics."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    split = "1997-07-01"
    bars = (bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
            .select("ticker", "trade_date", "close", "volume")
            .withColumn("trade_month",
                        F.date_format("trade_date", "yyyy-MM")))
    table = ManifestTable.create(
        bars.where(F.col("trade_date") < F.lit(split)),
        scratch_dir("manifest_mdel_"), ts="trade_month")
    pre_rows = sum(r["rows"]
                   for r in table._raw()["partitions"].values())
    upd = (bars.where(F.col("trade_date")
                      .between("1997-06-01", "1997-07-31"))
           .withColumn("close", F.col("close") * 2))
    table.merge(spark, upd, ["ticker", "trade_date"], cdf=True,
                when_matched_delete=F.expr(_MERGE_DEL_COND))
    kinds = {r["_change_type"]: r["n"] for r in
             table.changes(spark, table.version())
             .groupBy("_change_type").count()
             .withColumnRenamed("count", "n").collect()}
    if set(kinds) != {"insert", "update_preimage",
                      "update_postimage", "delete"}:
        raise RuntimeError(f"merge-delete feed incomplete: {kinds}")
    if kinds["update_preimage"] != kinds["update_postimage"]:
        raise RuntimeError(f"pre/post image counts differ: {kinds}")
    post_rows = sum(r["rows"]
                    for r in table._raw()["partitions"].values())
    if post_rows != pre_rows + kinds["insert"] - kinds["delete"]:
        raise RuntimeError(
            f"clauses do not reconcile: {pre_rows} + "
            f"{kinds['insert']} - {kinds['delete']} != {post_rows}")
    return (table.read(spark).groupBy("ticker")
            .agg(F.sum(F.floor(F.col("close") * 1000000.0)
                       .cast("long")).cast("long")
                 .alias("sum_close_micros"),
                 F.count(F.lit(1)).cast("long").alias("n_rows")))


MANIFEST_BLOOM_SQL = """
WITH ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM documents
),
ids AS (
  SELECT doc_id FROM ranked
  WHERE rn = 1 OR rn = GREATEST(n // 2, 1) OR rn = n
)
SELECT d.doc_id, d.source, d.lang,
       CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM ids)
ORDER BY d.doc_id
""".strip()


@q("manifest_bloom_pointlookup", MANIFEST_BLOOM_SQL)
def manifest_bloom_pointlookup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-file Bloom membership skipping (manifest.py set_bloom —
    Delta BLOOMFILTER INDEX / Parquet bloom-page analog): the
    documents table is written DELIBERATELY hash-scattered on doc_id
    (shuffled by md5 before staging, many files per source
    partition), so every file's [min, max] on doc_id spans nearly the
    whole id domain and zone maps can prune almost nothing — the
    needle-in-haystack id-lookup shape where min/max skipping is
    structurally blind.  A 3-id point lookup then resolves through
    the per-file Bloom filters built at write time (md5 double-
    hashed, bit_or-aggregated JVM-side), opening only the files that
    can contain a probed id.  The entry RAISES unless the Bloom —
    not the zone maps — did the skipping (bloom_skipped must carry
    the skip count) and the kept set stayed a small fraction of the
    file set: at 100 TB this is the difference between a key lookup
    costing O(files with the key) and O(all files in the partition).
    The probed ids are rank 1, n//2 and n of the sorted id domain
    (min / median / max — deterministic at any SF).  Oracle: the
    same 3-id lookup in SQL over the full table — equality proves
    Bloom skipping lost no rows."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars")
    n = docs.count()
    ids = [
        docs.agg(F.min("doc_id")).first()[0],
        (docs.select("doc_id").orderBy("doc_id")
         .limit(max(n // 2, 1)).agg(F.max("doc_id")).first()[0]),
        docs.agg(F.max("doc_id")).first()[0],
    ]
    shuffled = docs.orderBy(F.md5(F.col("doc_id").cast("string")))
    table = ManifestTable.create(
        shuffled, scratch_dir("manifest_bloom_"), ts="source",
        bloom={"cols": ["doc_id"], "m": 1 << 16, "k": 7},
        max_records_per_file=max(256, n // 24))
    plan = table.scan_plan(where={"doc_id": ids})
    files_total = len(plan["files"]) + plan["skipped"]
    if not (plan["bloom_skipped"] * 2 >= plan["skipped"]
            and len(plan["files"]) * 3 <= files_total
            and plan["bloom_skipped"] > 0):
        raise RuntimeError(
            f"bloom skipping ineffective on {files_total} files: {plan}")
    return (table.read(spark, where={"doc_id": ids})
            .where(F.col("doc_id").isin(ids))
            .select("doc_id", "source", "lang",
                    F.col("n_chars").cast("long").alias("n_chars"))
            .orderBy("doc_id"))


MANIFEST_IVM_SQL = f"""
WITH b AS ({oracles.BARS_SQL}),
base AS (SELECT ticker, trade_date, close, volume FROM b
         WHERE trade_date < DATE '1997-07-01'),
u AS (SELECT ticker, trade_date, close * 2 AS close, volume
      FROM base
      WHERE trade_date >= DATE '1997-06-01'
      UNION ALL
      SELECT ticker, trade_date, close * 2 AS close, volume FROM b
      WHERE trade_date BETWEEN DATE '1997-07-01' AND DATE '1997-07-31'),
post AS (
  SELECT base.* FROM base
  ANTI JOIN u USING (ticker, trade_date)
  UNION ALL
  SELECT * FROM u
)
SELECT ticker,
       CAST(SUM(CAST(FLOOR(close * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_close_micros,
       CAST(SUM(CAST(FLOOR(volume * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_volume_micros,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM post GROUP BY ticker
""".strip()


@q("manifest_ivm_from_cdf", MANIFEST_IVM_SQL)
def manifest_ivm_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance from the row-level change feed —
    the CDF's consumer side (operators/ivm.py): a per-ticker
    SUM/COUNT view is built ONCE from the pre-split bars table, then a
    ``merge(cdf=True)`` doubles June's closes and inserts July, and
    the view is brought current by folding ONLY the change feed
    (preimages subtract, postimages/inserts add; integer-micros sums
    keep the delta algebra exact and associative).  The entry RAISES
    unless the change set is strictly smaller than the table (the
    bounded-read claim: update cost is O(changes) + O(view), never a
    table rescan — the 100 TB reason a downstream aggregate consumes
    CDF instead of the file-level feed's rewritten partitions).
    Oracle: a from-scratch rebuild of the post-merge aggregate in SQL
    — hash equality proves the incremental fold reproduced the
    rebuild exactly."""
    from .manifest import ManifestTable
    from .operators.ivm import apply_cdf_delta, sum_count_view
    from .scratch import scratch_dir

    split = "1997-07-01"
    bars = (bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
            .select("ticker", "trade_date", "close", "volume")
            .withColumn("trade_month",
                        F.date_format("trade_date", "yyyy-MM")))
    table = ManifestTable.create(
        bars.where(F.col("trade_date") < F.lit(split)),
        scratch_dir("manifest_ivm_"), ts="trade_month")
    view = sum_count_view(table.read(spark), ["ticker"],
                          ["close", "volume"])
    upd = (bars.where(F.col("trade_date")
                      .between("1997-06-01", "1997-07-31"))
           .withColumn("close", F.col("close") * 2))
    table.merge(spark, upd, ["ticker", "trade_date"], cdf=True)
    feed = table.changes(spark, table.version())
    n_changes = feed.count()
    n_table = sum(r["rows"]
                  for r in table._raw()["partitions"].values())
    if not 0 < n_changes < n_table:
        raise RuntimeError(
            f"IVM read not bounded: {n_changes} change rows vs "
            f"{n_table} table rows")
    return apply_cdf_delta(view, feed, ["ticker"],
                           ["close", "volume"])


MANIFEST_ZMIX_SQL = f"""
WITH b AS ({oracles.BARS_SQL})
SELECT 'T' || lpad(CAST(ticker AS VARCHAR), 4, '0') AS sym,
       trade_date, close
FROM b
WHERE 'T' || lpad(CAST(ticker AS VARCHAR), 4, '0')
        IN ({", ".join(f"'{s}'" for s in _ZMIX_SYMS)})
  AND trade_date BETWEEN DATE '1996-07-01' AND DATE '1997-06-30'
""".strip()


@q("manifest_zorder_mixed", MANIFEST_ZMIX_SQL)
def manifest_zorder_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER over a MIXED (date, string) key (VERDICT r8 #5 — the
    reference's own cluster key is (trade_date, string ticker),
    fct_trading_momentum.sql:5): the bars fact with a STRING symbol
    is compacted along a Morton curve whose ranks auto-derive —
    epoch-days for the date dimension, a stable 64-bit hash for the
    string (manifest._zvalue_col; no hand-derived numeric key).  The
    entry RAISES unless a date RANGE probe and a symbol EQUALITY
    probe each skip files from the zone maps — range-shaped benefit
    on the ordered dimension, equality-shaped on the hashed one
    (string ranges are hash-scattered by design; equality is the
    dashboard's actual probe shape).  Result: a 3-symbol quarter
    slice, residual-filtered; oracle applies the same predicate in
    SQL, so hash equality proves the tiled layout lost no rows."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    lo, hi = "1996-07-01", "1997-06-30"
    syms = _ZMIX_SYMS
    bars = (bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
            .select(
                F.concat(F.lit("T"),
                         F.lpad(F.col("ticker").cast("string"), 4, "0")
                         ).alias("sym"),
                "trade_date", "close"))
    table = ManifestTable.create(
        bars, scratch_dir("manifest_zmix_"), ts=None)
    n_rows = sum(r["rows"]
                 for r in table._raw()["partitions"].values())
    table.compact(spark, zorder_by=["trade_date", "sym"],
                  max_records_per_file=max(1, -(-n_rows // 16)))
    nfiles = len(table.scan_plan()["files"])
    plan_d = table.scan_plan({"trade_date": (lo, hi)})
    # the hashed dimension's benefit is EQUALITY-shaped: probe ONE
    # symbol (the dashboard shape) — a wide IN-list legitimately
    # touches most hash tiles, exactly like Delta's hash-scattered
    # string z-order
    plan_s = table.scan_plan({"sym": [syms[0]]})
    if not (plan_d["skipped"] > 0 and plan_s["skipped"] > 0):
        raise RuntimeError(
            f"mixed-key z-order skipping ineffective over {nfiles} "
            f"files: date skipped {plan_d['skipped']}, single-sym "
            f"skipped {plan_s['skipped']}")
    return (table.read(spark, where={"sym": syms,
                                     "trade_date": (lo, hi)})
            .where(F.col("sym").isin(syms)
                   & F.col("trade_date").between(lo, hi)))


MANIFEST_EVOLVE_SQL = f"""
WITH b AS ({oracles.BARS_SQL})
SELECT b.*, CAST(NULL AS VARCHAR) AS venue
FROM b WHERE trade_date < DATE '1997-07-01'
UNION ALL
SELECT b.*, 'XNYS' AS venue
FROM b WHERE trade_date >= DATE '1997-07-01'
""".strip()


@q("manifest_schema_evolution", MANIFEST_EVOLVE_SQL)
def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only schema evolution (Delta's ALTER TABLE ADD
    COLUMNS; the reference's warehouse tables evolve the same way —
    new dbt model columns appear without rewriting history): the bars
    fact is materialized month-partitioned, a ``venue`` column is
    added in ONE metadata commit (the entry RAISES if any shard was
    rewritten — the evolution must not touch a data file), and the
    post-split slice is appended WITH the column.  Reads reconcile old
    and new files through the pinned schema, so pre-evolution rows
    surface venue = NULL; the oracle builds the same union in SQL, so
    hash equality proves the NULL-fill and the old/new reconciliation
    are exact."""
    from .manifest import ManifestTable
    from .scratch import scratch_dir

    split = "1997-07-01"
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).withColumn(
        "trade_month", F.date_format("trade_date", "yyyy-MM"))
    table = ManifestTable.create(
        bars.where(F.col("trade_date") < F.lit(split)),
        scratch_dir("manifest_evolve_"), ts="trade_month")
    refs_before = {v: r["shard"]
                   for v, r in table._raw()["partitions"].items()}
    table.add_columns([("venue", "string")])
    refs_after = {v: r["shard"]
                  for v, r in table._raw()["partitions"].items()}
    if refs_after != refs_before:
        raise RuntimeError(
            "schema evolution rewrote data shards — must be "
            "metadata-only")
    table.append(bars.where(F.col("trade_date") >= F.lit(split))
                 .withColumn("venue", F.lit("XNYS")))
    return table.read(spark).drop("trade_month")


@q("agg_daily_market_breadth", oracles.breadth_sql(SMALL))
def breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_daily_market_breadth: A1-A3 conditional aggs, W12 running
    A/D line, W13 smoothed high/low index, O1 ordered output."""
    fct = _momentum(spark, sf_dir, SMALL)
    out = agg_daily_market_breadth(fct, SMALL)
    return out.select(
        "trade_date", "stocks_traded", "advances", "declines", "unchanged",
        "advancing_volume", "declining_volume", "total_volume",
        "new_highs", "new_lows",
        _r(F.col("pct_above_sma_s")).alias("pct_above_sma_s"),
        _r(F.col("pct_above_sma_m")).alias("pct_above_sma_m"),
        _r(F.col("pct_above_sma_l")).alias("pct_above_sma_l"),
        _r(F.col("market_rsi"), 4).alias("market_rsi"),
        "net_advances", "ad_line",
        _r(F.col("ad_ratio")).alias("ad_ratio"),
        _r(F.col("ad_percentage")).alias("ad_percentage"),
        _r(F.col("high_low_ratio")).alias("high_low_ratio"),
        _r(F.col("high_low_index_smoothed")).alias("high_low_index_smoothed"),
    )


@q("dim_securities_current", oracles.securities_dim_sql(SMALL))
def securities_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_securities_current: W6 lag returns, W11 QUALIFY emulation,
    W14 sector window AVG, W15 NULL-segregated percent_rank, A4-A7
    aggregates, J5 chained dim joins, J6 scalar max-date subquery."""
    fct = _momentum(spark, sf_dir, SMALL)
    dim = dim_securities_current(fct, SMALL)
    return dim.select(
        "ticker", "trade_date", "volume", "company", "sector",
        "trading_days", "window_rows", "last_golden_cross",
        "last_death_cross", "last_bullish_crossover",
        _r(F.col("close"), 4).alias("close"),
        _r(F.col("sma_s"), 4).alias("sma_s"),
        _r(F.col("sma_m"), 4).alias("sma_m"),
        _r(F.col("sma_l"), 4).alias("sma_l"),
        "roll_high", "roll_low",
        _r(F.col("rsi")).alias("rsi"),
        _r(F.col("return_s")).alias("return_s"),
        _r(F.col("return_m")).alias("return_m"),
        _r(F.col("return_l")).alias("return_l"),
        _r(F.col("return_y")).alias("return_y"),
        _r(F.col("volatility_ann")).alias("volatility_ann"),
        "avg_volume",
        _r(F.col("performance_percentile")).alias("performance_percentile"),
        _r(F.col("sector_return_m")).alias("sector_return_m"),
        "days_since_golden_cross", "days_since_death_cross",
    )


# ---------------------------------------------------------------------
# Join operators (SURVEY.md §2.3)
# ---------------------------------------------------------------------

@q("self_lag_join", """
WITH bars AS ({bars})
SELECT b.ticker, b.trade_date, b.close, p.close AS prev_close_joined
FROM bars b
LEFT JOIN bars p
  ON b.ticker = p.ticker AND p.trade_date = b.trade_date - 1
""".format(bars=oracles.BARS_SQL))
def self_lag_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: recover prev-day close by equi-joining on (key, date - 1) —
    the reference's incremental-boundary lag
    (int_russell3000__daily.sql:110-116)."""
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
    b, p = bars.alias("b"), bars.alias("p")
    return b.join(
        p,
        (F.col("b.ticker") == F.col("p.ticker"))
        & (F.col("p.trade_date") == F.date_sub(F.col("b.trade_date"), 1)),
        "left",
    ).select(
        F.col("b.ticker").alias("ticker"),
        F.col("b.trade_date").alias("trade_date"),
        F.col("b.close").alias("close"),
        F.col("p.close").alias("prev_close_joined"),
    )


@q("scalar_max_filter", """
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(o_orderdate AS DATE) AS order_date
FROM orders
WHERE CAST(o_orderdate AS DATE) =
      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)
""")
def scalar_max_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/A7: filter to the latest date via scalar subquery
    (dim_securities_current.sql:27) — expressed through Spark SQL so
    Catalyst plans the subquery natively."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(o_orderdate AS DATE) AS order_date
        FROM orders
        WHERE CAST(o_orderdate AS DATE) =
              (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)
    """)


@q("agg_alignment_join", """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 4) AS day_total
  FROM orders GROUP BY 1
),
l AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(l_quantity) AS BIGINT) AS shipped_qty
  FROM lineitem GROUP BY 1
)
SELECT o.d AS trade_date, o.n_orders, o.day_total, l.shipped_qty
FROM o LEFT JOIN l ON o.d = l.d
""")
def agg_alignment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: LEFT-join independently computed per-day aggregates on the
    date key (agg_daily_market_breadth.sql:134-138)."""
    o = (_t(spark, sf_dir, "orders")
         .groupBy(F.col("o_orderdate").cast("date").alias("d"))
         .agg(F.count(F.lit(1)).alias("n_orders"),
              _r(F.sum("o_totalprice"), 4).alias("day_total")))
    l = (_t(spark, sf_dir, "lineitem")
         .groupBy(F.col("l_shipdate").cast("date").alias("d"))
         .agg(F.sum("l_quantity").cast("long").alias("shipped_qty")))
    return (o.join(l, "d", "left")
            .select(F.col("d").alias("trade_date"),
                    "n_orders", "day_total", "shipped_qty"))


@q("multiway_dim_join", """
WITH cust_orders AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 4) AS total_spend,
         MAX(CAST(o_orderdate AS DATE)) AS last_order_date
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region,
       co.n_orders, co.total_spend, co.last_order_date
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
LEFT JOIN cust_orders co ON c.c_custkey = co.o_custkey
""")
def multiway_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: chained LEFT joins assembling a wide dimension
    (dim_securities_current.sql:219-231); small sides broadcast."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    co = (_t(spark, sf_dir, "orders")
          .groupBy("o_custkey")
          .agg(F.count(F.lit(1)).alias("n_orders"),
               _r(F.sum("o_totalprice"), 4).alias("total_spend"),
               F.max(F.col("o_orderdate").cast("date"))
               .alias("last_order_date")))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .join(co, c.c_custkey == co.o_custkey, "left")
        .select(
            "c_custkey", "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "n_orders", "total_spend", "last_order_date",
        )
    )


# ---------------------------------------------------------------------
# Windows / sorts / top-k (SURVEY.md §2.5, §2.6)
# ---------------------------------------------------------------------

@q("qualify_latest_per_key", """
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       o_totalprice
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
  FROM orders)
WHERE rn = 1
""")
def qualify_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: QUALIFY ROW_NUMBER()=1 emulation — latest order per customer
    (dim_securities_current.sql:38,82); o_orderkey tie-break for
    determinism."""
    o = _t(spark, sf_dir, "orders")
    return top_n_per_group(
        o, "o_custkey",
        [F.col("o_orderdate").cast("date").desc(), F.col("o_orderkey").desc()],
    ).select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_totalprice",
    )


@q("topk_by_metric", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""")
def topk_by_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k by metric with unique tie-break — Spark plans
    TakeOrderedAndProject (2_Universe_Screener.py:105-106)."""
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100)
            .select("o_orderkey", "o_custkey", "o_totalprice"))


@q("screener_filter", """
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
FROM part
WHERE p_size IN (5, 10, 15, 20, 25)
  AND p_retailprice BETWEEN 900 AND 1500
  AND p_type ILIKE '%anda%'
ORDER BY p_retailprice DESC, p_partkey
LIMIT 50
""")
def screener_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: dynamic screener predicate set — IN list, BETWEEN, ILIKE,
    AND-combined, ordered top-k (2_Universe_Screener.py:58-77).
    '%anda%' infix-matches the synthetic p_type domain's STANDARD
    case-insensitively (round 1's '%brass%' could never match, making
    the oracle check vacuous)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(
            F.col("p_size").isin(5, 10, 15, 20, 25)
            & F.col("p_retailprice").between(900, 1500)
            & F.col("p_type").ilike("%anda%")
        )
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(50)
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size",
                "p_retailprice")
    )


@q("distinct_ordered", """
SELECT DISTINCT p_brand AS sector FROM part ORDER BY sector
""")
def distinct_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: distinct pick-list, ordered (2_Universe_Screener.py:21-25)."""
    return (_t(spark, sf_dir, "part")
            .select(F.col("p_brand").alias("sector"))
            .distinct().orderBy("sector"))


@q("running_total", """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS trade_date, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT trade_date, n_orders,
       CAST(SUM(n_orders) OVER (ORDER BY trade_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       AS cumulative_orders
FROM daily
""")
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: unbounded running sum over a global ordered window, computed
    at day grain so the single partition stays tiny
    (agg_daily_market_breadth.sql:86-88)."""
    daily = (_t(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").cast("date").alias("trade_date"))
             .agg(F.count(F.lit(1)).alias("n_orders")))
    w = Window.orderBy("trade_date").rowsBetween(
        Window.unboundedPreceding, 0)
    return daily.withColumn(
        "cumulative_orders", F.sum("n_orders").over(w))


@q("smoothed_daily_index", """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS trade_date, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT trade_date, n_orders,
       ROUND(AVG(n_orders) OVER (ORDER BY trade_date
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS smoothed
FROM daily
""")
def smoothed_daily_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: 10-row smoothed average over a global ordered day-grain
    window (agg_daily_market_breadth.sql:123-132)."""
    daily = (_t(spark, sf_dir, "orders")
             .groupBy(F.col("o_orderdate").cast("date").alias("trade_date"))
             .agg(F.count(F.lit(1)).alias("n_orders")))
    w = Window.orderBy("trade_date").rowsBetween(-9, 0)
    return daily.withColumn("smoothed", _r(F.avg("n_orders").over(w)))


@q("percent_rank_null_segregated", """
WITH cust_orders AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
),
base AS (
  SELECT c.c_custkey, co.n_orders
  FROM customer c LEFT JOIN cust_orders co ON c.c_custkey = co.o_custkey
)
SELECT c_custkey, n_orders,
       ROUND(CASE WHEN n_orders IS NOT NULL THEN
         PERCENT_RANK() OVER (
           PARTITION BY (CASE WHEN n_orders IS NOT NULL THEN 1 ELSE 0 END)
           ORDER BY n_orders) END, 6) AS activity_percentile
FROM base
""")
def percent_rank_null_segregated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: PERCENT_RANK with NULL rows segregated into their own
    partition and nulled out (dim_securities_current.sql:74-80)."""
    co = (_t(spark, sf_dir, "orders")
          .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders")))
    c = _t(spark, sf_dir, "customer")
    base = c.join(co, c.c_custkey == co.o_custkey, "left") \
            .select("c_custkey", "n_orders")
    notnull = F.when(F.col("n_orders").isNotNull(), 1).otherwise(0)
    w = Window.partitionBy(notnull).orderBy("n_orders")
    return base.withColumn(
        "activity_percentile",
        _r(F.when(F.col("n_orders").isNotNull(), F.percent_rank().over(w))))


@q("partition_window_avg", """
SELECT p_partkey, p_brand,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
            OVER (PARTITION BY p_brand) AS DOUBLE)
         / COUNT(p_retailprice) OVER (PARTITION BY p_brand)
       AS brand_avg_price
FROM part
""")
def partition_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14: whole-partition analytic AVG, no ORDER BY
    (dim_securities_current.sql:72). AVG expressed as exact decimal SUM
    over COUNT so the value is association-order-independent — a raw
    double AVG hash-mismatched at 96/2000 cells in round 1."""
    wb = Window.partitionBy("p_brand")
    price = F.col("p_retailprice")
    return _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand",
        (F.sum(price.cast("decimal(18,2)")).over(wb).cast("double")
         / F.count(price).over(wb)).alias("brand_avg_price"))


# ---------------------------------------------------------------------
# Aggregation operators (SURVEY.md §2.4)
# ---------------------------------------------------------------------

@q("conditional_agg_daily", """
SELECT CAST(o_orderdate AS DATE) AS trade_date,
       COUNT(DISTINCT o_custkey) AS active_customers,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS finished_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                THEN CAST(o_totalprice AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_value,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_order_value
FROM orders
GROUP BY 1
""")
def conditional_agg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3: per-day COUNT DISTINCT + conditional SUM/ratio aggregates
    (agg_daily_market_breadth.sql:6-17,60-69). Money sums go through
    exact decimals: round 1 compared raw double sums (urgent_value) and
    half-boundary ROUNDed averages — both association-order-dependent."""
    o = _t(spark, sf_dir, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("trade_date"))
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.sum(flag(F.col("o_orderstatus") == "F")).cast("long")
            .alias("finished_orders"),
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", price_dec)
                  .otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("double").alias("urgent_value"),
            (F.sum(price_dec).cast("double") / F.count(F.lit(1)))
            .alias("avg_order_value"),
        )
    )


@q("volatility_by_key", """
WITH bars AS ({bars}),
with_prev AS (
  SELECT *, LAG(close) OVER (PARTITION BY ticker ORDER BY trade_date)
        AS prev_close
  FROM bars
)
SELECT ticker,
  ROUND(STDDEV_SAMP(CASE WHEN prev_close IS NOT NULL AND prev_close != 0
                          AND close / prev_close > 0
                         THEN LN(close / prev_close) END) * SQRT(252), 6)
    AS volatility_ann,
  AVG(volume) AS avg_volume,
  COUNT(*) AS n_days
FROM with_prev
GROUP BY ticker
""".format(bars=oracles.BARS_SQL))
def volatility_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: STDDEV(LN(close/prev)) * SQRT(252) annualized volatility
    (dim_securities_current.sql:85-94)."""
    import math
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
    w = Window.partitionBy("ticker").orderBy("trade_date")
    with_prev = bars.withColumn("prev_close", F.lag("close").over(w))
    log_ret = F.when(
        F.col("prev_close").isNotNull() & (F.col("prev_close") != 0)
        & (F.col("close") / F.col("prev_close") > 0),
        F.log(F.col("close") / F.col("prev_close")))
    return with_prev.groupBy("ticker").agg(
        _r(F.stddev_samp(log_ret) * F.lit(math.sqrt(252)))
        .alias("volatility_ann"),
        F.avg("volume").alias("avg_volume"),
        F.count(F.lit(1)).alias("n_days"),
    )


@q("conditional_signal_dates", """
SELECT o_custkey,
  COALESCE(MAX(CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_orderdate AS DATE) END),
           MIN(CASE WHEN o_totalprice > 0
                    THEN CAST(o_orderdate AS DATE) END)) AS last_signal_date,
  MAX(CASE WHEN o_orderpriority = '1-URGENT'
           THEN CAST(o_orderdate AS DATE) END) AS last_urgent_date
FROM orders
GROUP BY o_custkey
""")
def conditional_signal_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: conditional MAX/MIN dates with COALESCE fallback
    (dim_securities_current.sql:114-154)."""
    o = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    return o.groupBy("o_custkey").agg(
        F.coalesce(
            F.max(F.when(F.col("o_orderstatus") == "F", od)),
            F.min(F.when(F.col("o_totalprice") > 0, od)),
        ).alias("last_signal_date"),
        F.max(F.when(F.col("o_orderpriority") == "1-URGENT", od))
        .alias("last_urgent_date"),
    )


@q("median_summary", """
SELECT p_brand,
       ROUND(MEDIAN(p_retailprice), 6) AS median_price,
       ROUND(AVG(CASE WHEN p_size > 25 THEN 1 ELSE 0 END), 6)
         AS large_fraction,
       COUNT(*) AS n_parts
FROM part
GROUP BY p_brand
""")
def median_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: median + mean-of-flag summary stats
    (2_Universe_Screener.py:120-127), pushed into the engine as exact
    MEDIAN instead of client-side pandas."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        _r(F.median("p_retailprice")).alias("median_price"),
        _r(F.avg(flag(F.col("p_size") > 25))).alias("large_fraction"),
        F.count(F.lit(1)).alias("n_parts"),
    )


@q("trend_slope_by_key", """
WITH bars AS ({bars}),
xy AS (
  SELECT ticker,
         CAST(date_diff('day', DATE '1992-01-01', trade_date) AS BIGINT) AS x,
         CAST(close AS DECIMAL(18,6)) AS y
  FROM bars
),
sums AS (
  SELECT ticker, COUNT(*) AS n,
         SUM(x) AS sx, SUM(x * x) AS sxx,
         SUM(y) AS sy, SUM(x * y) AS sxy
  FROM xy GROUP BY ticker
)
SELECT ticker, n,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       END AS slope
FROM sums
""".format(bars=oracles.BARS_SQL))
def trend_slope_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker least-squares trend slope of close over calendar-day
    index — the regression aggregate, computed from EXACT integer/
    decimal moment sums instead of the built-in regr_slope (whose
    double covariances are association-order-dependent and would break
    the bit-exact oracle)."""
    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem"))
    x = F.datediff(F.col("trade_date"), F.lit("1992-01-01")).cast("long")
    y = F.col("close").cast("decimal(18,6)")
    sums = (bars.select("ticker", x.alias("x"), y.alias("y"))
            .groupBy("ticker")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x").alias("sx"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx"),
                 F.sum("y").alias("sy"),
                 F.sum(F.col("x") * F.col("y")).alias("sxy")))
    # cast each EXACT sum to double first, then combine with identical
    # elementary IEEE ops on both engines (mixed bigint x decimal(38,6)
    # products overflow DuckDB's decimal width and silently fall back
    # to double mid-expression, drifting from Spark's exact path)
    n_d, sx_d, sxx_d, sy_d, sxy_d = (
        F.col(c).cast("double") for c in ["n", "sx", "sxx", "sy", "sxy"])
    denom = n_d * sxx_d - sx_d * sx_d
    numer = n_d * sxy_d - sx_d * sy_d
    return sums.select(
        "ticker", "n",
        F.when(denom != 0, numer / denom).alias("slope"))



@q("pairwise_correlation", """
WITH bars0 AS ({bars}),
bars AS (
  SELECT * FROM bars0
  WHERE ticker % 211 = 3
    AND trade_date BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
),
spans AS (
  SELECT ticker, MIN(trade_date) AS d0, MAX(trade_date) AS d1
  FROM bars GROUP BY ticker
),
days AS (
  SELECT ticker,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
           AS trade_date
  FROM spans
),
filled AS (
  SELECT d.ticker, d.trade_date,
         last_value(b.close IGNORE NULLS) OVER (
           PARTITION BY d.ticker ORDER BY d.trade_date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close
  FROM days d LEFT JOIN bars b
    ON d.ticker = b.ticker AND d.trade_date = b.trade_date
),
sub AS (
  SELECT ticker, trade_date,
         CAST(CAST(close AS DECIMAL(12,3)) * 1000 AS BIGINT) AS y
  FROM filled
),
pairs AS (
  SELECT a.ticker AS ticker_a, b.ticker AS ticker_b,
         COUNT(*) AS n,
         CAST(SUM(a.y) AS BIGINT) AS sx, CAST(SUM(b.y) AS BIGINT) AS sy,
         CAST(SUM(a.y * a.y) AS BIGINT) AS sxx,
         CAST(SUM(b.y * b.y) AS BIGINT) AS syy,
         CAST(SUM(a.y * b.y) AS BIGINT) AS sxy
  FROM sub a JOIN sub b
    ON a.trade_date = b.trade_date AND a.ticker < b.ticker
  GROUP BY 1, 2
)
SELECT ticker_a, ticker_b, n,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr
FROM pairs
WHERE n >= 30
""".format(bars=oracles.BARS_SQL))
def pairwise_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise price-series correlation across a ticker subset: the
    cross-sectional quant primitive. Equi-join on trade_date (never a
    cartesian — pairs form WITHIN each date), exact decimal moment
    sums, then the corr formula combined in doubles with an identical
    op tree on both engines (the trend_slope pattern; built-in corr()
    is an order-dependent double covariance and can't hash-match).

    Scale: the date join's fan-out is |subset|^2 per date — production
    bounds the subset (a top-k universe or per-sector blocks) exactly
    as here (ticker % 211 = 3 picks ~1/200 of tickers); the join and
    aggregate shuffle on date / pair keys, no driver-side state."""
    from .operators.resample import fill_daily_gaps

    bars = bars_from_lineitem(_t(spark, sf_dir, "lineitem")).where(
        (F.col("ticker") % 211 == 3)
        & F.col("trade_date").between("1995-01-01", "1995-12-31"))
    filled = fill_daily_gaps(bars)
    # closes are <= 3-dp: integer MILLIS are exact, and every moment
    # sum is then a plain integer whose int->double cast is a SINGLE
    # correctly-rounded conversion on both engines. (Decimal sums at
    # this magnitude hash-mismatch: DuckDB converts decimal->double as
    # scaled-int / 10^scale — a double-rounding — while Spark converts
    # via BigDecimal correctly rounded.) Products peak ~7.5e15 (int64-
    # safe); product SUMS go through decimal(38,0) Spark-side so a
    # longer window cannot silently overflow the long sum.
    sub = filled.select(
        "ticker", "trade_date",
        (F.col("close").cast("decimal(12,3)") * 1000)
        .cast("long").alias("y"))
    a, b = sub.alias("a"), sub.alias("b")
    ay, by = F.col("a.y"), F.col("b.y")
    d38 = "decimal(38,0)"
    sums = (
        a.join(b, (F.col("a.trade_date") == F.col("b.trade_date"))
               & (F.col("a.ticker") < F.col("b.ticker")))
        .groupBy(F.col("a.ticker").alias("ticker_a"),
                 F.col("b.ticker").alias("ticker_b"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(ay).alias("sx"), F.sum(by).alias("sy"),
             F.sum((ay * ay).cast(d38)).cast("long").alias("sxx"),
             F.sum((by * by).cast(d38)).cast("long").alias("syy"),
             F.sum((ay * by).cast(d38)).cast("long").alias("sxy"))
        .where(F.col("n") >= 30)
    )
    n_d, sx_d, sy_d, sxx_d, syy_d, sxy_d = (
        F.col(c).cast("double")
        for c in ["n", "sx", "sy", "sxx", "syy", "sxy"])
    dx = n_d * sxx_d - sx_d * sx_d
    dy = n_d * syy_d - sy_d * sy_d
    corr = F.when((dx > 0) & (dy > 0),
                  (n_d * sxy_d - sx_d * sy_d)
                  / (F.sqrt(dx) * F.sqrt(dy)))
    return sums.select("ticker_a", "ticker_b", "n", corr.alias("corr"))


@q("rollup_revenue", """
SELECT r_name AS region, n_name AS nation,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation via ROLLUP (region -> nation -> grand
    total in one pass): Spark computes all grouping sets in a single
    shuffle — the scale-correct alternative to unioning three
    aggregations. Decimal sums keep every level deterministic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (o.join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .select(F.col("r_name").alias("region"),
                      F.col("n_name").alias("nation"),
                      F.col("o_totalprice").cast("decimal(18,2)")
                      .alias("price")))
    return (joined.rollup("region", "nation")
            .agg(F.sum("price").cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))


# ---------------------------------------------------------------------
# TPC-H classics (bench headliners; exercise scan+agg and join+agg+topk)
# ---------------------------------------------------------------------

@q("tpch_q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + wide aggregate (TPC-H Q1 shape): the canonical
    map-side-combine benchmark query."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _r(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            _r(F.avg("l_quantity")).alias("avg_qty"),
            _r(F.avg("l_extendedprice")).alias("avg_price"),
            _r(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q("tpch_q3_topk_revenue", """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(o_orderdate AS DATE) AS order_date
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + ordered top-k (TPC-H Q3 shape); revenue is
    rounded BEFORE the sort so the top-k row set is stable across
    engines."""
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").cast("date") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").cast("date") > F.lit("1995-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey",
                 F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "order_date")
    )



@q("tpch_q5_local_supplier", """
SELECT n_name AS nation,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1994-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
GROUP BY n_name
ORDER BY revenue DESC, nation
""")
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join (two big facts + four dims) with
    the local-supplier correlation (customer and supplier in the same
    nation). Dims broadcast (region/nation/supplier/customer after
    the selective region filter); the only repartition-joins are on
    orderkey. Revenue goes through DECIMAL(18,4) — the discount
    product has 4 exact decimal digits — so the big sum is
    association-order-free."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate").cast("date") >= F.lit("1994-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-01-01")))
    li = _t(spark, sf_dir, "lineitem")
    sn = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
          .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(c),
              (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == F.col("s_nationkey")))
    )
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")).cast("double")
    return (joined.groupBy(F.col("n_name").alias("nation"))
            .agg(rev.alias("revenue"), F.count("*").alias("n_items"))
            .orderBy(F.desc("revenue"), F.asc("nation")))


# ---------------------------------------------------------------------
# extension registries (import side effect registers their entries)
# ---------------------------------------------------------------------

from . import catalog_llm  # noqa: E402,F401  (registers llm/* entries)
from . import catalog_ext  # noqa: E402,F401  (streaming + ingest entries)
from . import catalog_events  # noqa: E402,F401  (event-stream operators)
from . import catalog_rel  # noqa: E402,F401  (pivot/cube/unpivot/histogram)
from . import catalog_table  # noqa: E402,F401  (constraints/clone/stats/DFP/text index)
from . import catalog_tpch  # noqa: E402,F401  (TPC-H q4/q7/q8/q13/q15/q16/q18/q19/q22 shapes)


# ---------------------------------------------------------------------
# driver-window registration order
# ---------------------------------------------------------------------
# The driver's correctness gate oracles the FIRST 50 registered entries
# only (CORRECTNESS_r02.json == registration indices 0-49 exactly).
# Round 2 registered 87 entries, so the 37 newest (streaming, serving,
# ingest, ANN, events, reshaping, text folds) never received a
# driver-green row.  Reorder so those 37 — plus every entry whose
# semantics changed this round — occupy the first 50 slots; rounds
# r02 + r03 together then cover the full oracle surface.  The reorder
# mutates the existing dict objects in place (insertion order is the
# registration order) so every `from .catalog import QUERIES` alias
# observes the same ordering.

# ROTATION POLICY (tested by tests/test_registration_order.py): the
# window is rebuilt every round by tools/gen_driver_window.py as
# (1) entries whose semantics/plan changed this round, (2) entries
# with NO driver-green row yet (FIFO: first registered, first
# checked), (3) the stalest previously-green entries, oldest round
# first, until the 50 slots fill.  Invariant the test asserts: any
# previously-green entry LEFT OUT must have a green row within the
# last ceil(N/50) driver rounds — the tightest bound a 50-slot
# round-robin over N entries can meet (the original flat-2 bound
# became arithmetically unsatisfiable once the catalog outgrew 100
# entries; VERDICT r12 "Next round" #1 mandated encoding the real
# achievable schedule).

# -- round 18 window (generated by tools/gen_driver_window.py) --
# Rebuild this list after every round that adds a CORRECTNESS_r*.json:
# a reused window re-checks the same cohort and ages the one outside
# it past the ceil(194/50)=4 bound.
# group 0: the six entries whose DSv2 read path changed since they
#   were last driver-green (scan_plan's per-file records are now the
#   one file plan, _file_partitions the one planner, _conform the one
#   Arrow reconciliation), fronted so the driver re-proves them:
#   datasource_manifest_scan (batch pushdown plan through scan_plan),
#   manifest_sql_select (SQL view over the same batch reader),
#   stream_manifest_source (stream micro-batches planned from
#   added-file records), stream_backfill_chunked (stepped
#   endingVersion runs through that stream planner),
#   manifest_time_travel (versionAsOf/tag plans pin the one snapshot
#   scan_plan reads) and manifest_adopt_parquet (the adopted-dir fill
#   moved into manifest.py and is applied by _conform);
# group 1: none — every entry has a driver-green row;
# group 2: the stalest previously-green entries — all 44 last green at
#   r13 (fct_trading_momentum_valid, agg_daily_market_breadth,
#   dim_securities_current, 18 manifest_*/datasink_*/serving_*
#   storage entries, 5 text/sketch/embedding entries and 18 TPC-H
#   queries), FIFO by registration.
# The six r14 entries this pushes out sit at age 4, within the bound.
_DRIVER_WINDOW_FIRST = [
    "datasource_manifest_scan", "manifest_sql_select",
    "stream_manifest_source", "stream_backfill_chunked",
    "manifest_time_travel", "manifest_adopt_parquet",
    "fct_trading_momentum_valid", "manifest_momentum_merge",
    "manifest_pruned_scan", "serving_manifest_ticker_range",
    "manifest_zorder_scan", "manifest_cdf_rows",
    "manifest_merge_delete", "manifest_zorder_mixed",
    "agg_daily_market_breadth", "dim_securities_current",
    "text_boilerplate_scrub", "embedding_kmeans_clusters",
    "sketch_hll_daily_users", "manifest_constraints",
    "manifest_clone_scan", "manifest_analyze_stats",
    "manifest_join_pruning", "text_search_scan",
    "manifest_hidden_partitioning", "manifest_bucket_transform",
    "manifest_partition_evolution", "datasink_evolved_write",
    "manifest_sql_merge", "manifest_sql_dml",
    "manifest_analyze_incremental", "sketch_cms_key_skew",
    "tpch_q4_priority_semijoin", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q13_order_distribution",
    "tpch_q15_top_supplier", "tpch_q16_supplier_cnt",
    "tpch_q18_large_orders", "tpch_q19_disjunctive_rev",
    "tpch_q22_anti_join", "tpch_q17_small_qty_revenue",
    "tpch_q20_excess_suppliers", "tpch_q21_waiting_suppliers",
    "tpch_q6_forecast_revenue", "tpch_q14_promo_effect",
    "tpch_q10_returned_items", "tpch_q9_product_profit",
    "tpch_q11_important_stock", "tpch_q2_min_cost_supplier",
]

#: never-green overflow ledger (FIFO).  EMPTY this round: no entry
#: lacks a driver-green row, the 50 slots hold the six changed
#: entries plus the full r13 cohort, and every outside entry sits
#: within the ceil(194/50)=4 staleness bound at round-18 accounting.
_DRIVER_WINDOW_DEFERRED: list[str] = [
]


def _reorder_registration() -> None:
    front = [n for n in _DRIVER_WINDOW_FIRST if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    for registry in (QUERIES, ORACLES):
        snapshot = dict(registry)
        registry.clear()
        for name in front + rest:
            if name in snapshot:
                registry[name] = snapshot[name]


_reorder_registration()
