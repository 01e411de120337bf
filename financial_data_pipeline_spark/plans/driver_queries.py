"""Driver-contract query inventory (SURVEY.md §2 coverage).

Each entry pairs a Spark DataFrame plan (``QUERIES[name]``, callable
``(spark, sf_dir) -> DataFrame``) with a DuckDB oracle SQL twin
(``ORACLES[name]``) producing identical column names and values — the
driver's correctness gate compares row count + schema + order-
insensitive value hash at sf0.01.

Float policy: counts/keys/min/max are exact; sums/averages and anything
downstream of them are rounded to a fixed decimal in BOTH engines so
summation-order ULP noise can't break the hash (SURVEY.md §7.4 item 2).
Timestamps are emitted as epoch-microsecond BIGINTs (``unix_micros`` /
``epoch_us``) — exact, timezone-unambiguous, identical schema.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financial_data_pipeline_spark.functions.timefeatures import day_of_week_pandas
from financial_data_pipeline_spark.operators.text import ws_tokens
from financial_data_pipeline_spark.operators import (
    cleaning,
    indicators,
    normalize,
    resample,
    stats,
)
from financial_data_pipeline_spark.sources.adapters import (
    events_as_ohlcv,
    events_as_ohlcv_sql,
    load_table,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

BARS_CTE = "WITH bars AS (" + events_as_ohlcv_sql(60).strip() + ")"


def _java_round_sql(sql: str) -> str:
    """Rewrite every ``round(expr[, n])`` in an oracle to Java-faithful
    rounding.

    Spark's ``F.round`` goes through ``BigDecimal.valueOf(double)`` —
    i.e. it rounds the SHORTEST DECIMAL representation of the double —
    while DuckDB's ``round`` scales-and-rounds the raw binary. The two
    disagree whenever the intended decimal value sits exactly on the
    round-half grid (sum = 2586332.655 → Spark .66, DuckDB .65), which
    real 2-4-decimal money data hits at ~1%/group (fuzzed-table
    finding; driver data had simply never landed on a critical value).
    The rewrite reproduces Java semantics inside DuckDB:

        round(E, n)  →  coalesce(
            round(TRY_CAST(s AS DECIMAL(38,24)), n)::DOUBLE,   -- |E| < 1e14
            round(TRY_CAST(s AS DECIMAL(38,15)), n)::DOUBLE,   -- |E| < 1e23
            round((E), n))          -- NaN / ±Inf / huge: binary round
        with s = TRY_CAST((E) AS VARCHAR)

    ``double::VARCHAR`` is the shortest-repr string (same algorithm as
    ``Double.toString``), the DECIMAL parse is exact, and decimal
    rounding is HALF_UP in both engines. The scale-24 leg keeps the
    full 17-significant-digit repr of sub-1e-7 values (a single
    scale-15 leg pre-rounded them — double rounding, caught by the
    sf0.01 sweep on ``triple_barrier_labels``); magnitudes past each
    leg's decimal range fall through via TRY_CAST → NULL, and at those
    magnitudes the grain is below one ULP anyway (FUZZ.md's
    dynamic-range doctrine). Applied once at registration, bottom-up
    so nested rounds transform cleanly."""
    MARK = "__RND@("

    def find_innermost(s: str) -> int:
        i = 0
        while True:
            j = s.find("round(", i)
            if j < 0:
                return -1
            if j > 0 and (s[j - 1].isalnum() or s[j - 1] == "_"):
                i = j + 6
                continue
            # innermost-first: skip if the argument span contains
            # another plain round(
            k = j + 6
            depth = 1
            while k < len(s) and depth:
                if s[k] == "(":
                    depth += 1
                elif s[k] == ")":
                    depth -= 1
                elif s[k] == "'":
                    k += 1
                    while k < len(s) and s[k] != "'":
                        k += 1
                k += 1
            inner = s[j + 6 : k - 1]
            if "round(" in inner:
                i = j + 6
                continue
            return j

    def split_args(a: str) -> list[str]:
        parts, depth, cur, i = [], 0, [], 0
        while i < len(a):
            c = a[i]
            if c == "'":
                cur.append(c)
                i += 1
                while i < len(a) and a[i] != "'":
                    cur.append(a[i])
                    i += 1
                if i < len(a):
                    cur.append(a[i])
            elif c in "([":
                depth += 1
                cur.append(c)
            elif c in ")]":
                depth -= 1
                cur.append(c)
            elif c == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(c)
            i += 1
        parts.append("".join(cur))
        return parts

    while True:
        j = find_innermost(sql)
        if j < 0:
            break
        k = j + 6
        depth = 1
        while k < len(sql) and depth:
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            elif sql[k] == "'":
                k += 1
                while k < len(sql) and sql[k] != "'":
                    k += 1
            k += 1
        args = split_args(sql[j + 6 : k - 1])
        e = args[0].strip()
        n = args[1].strip() if len(args) > 1 else None
        tail = f", {n})" if n is not None else ")"
        svc = f"TRY_CAST(({e}) AS VARCHAR)"
        repl = (
            f"coalesce("
            f"{MARK}TRY_CAST({svc} AS DECIMAL(38,24)){tail}::DOUBLE, "
            f"{MARK}TRY_CAST({svc} AS DECIMAL(38,15)){tail}::DOUBLE, "
            f"{MARK}({e}){tail})"
        )
        sql = sql[:j] + repl + sql[k:]
    return sql.replace(MARK, "round(")


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = _java_round_sql(oracle)
        return fn

    return deco


def _ts_us(col: str = "timestamp") -> F.Column:
    return F.unix_micros(F.col(col))


# ---------------------------------------------------------------------------
# Scans + flagship aggregation family (S8, A1, A3)
# ---------------------------------------------------------------------------


@query(
    "ohlcv_bars",
    BARS_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us, open, high, low, close,
       round(volume, 6) AS volume
FROM bars
""",
)
def q_ohlcv_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-scan + A1-shaped bucket agg: events ticks → hourly OHLCV bars."""
    bars = events_as_ohlcv(spark, sf_dir)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 6).alias("volume"),
    )


@query(
    "symbol_stats",
    BARS_CTE
    + """
SELECT symbol,
       count(*) AS record_count,
       epoch_us(min(timestamp)) AS first_ts_us,
       epoch_us(max(timestamp)) AS last_ts_us,
       min(close) AS min_close,
       max(close) AS max_close,
       round(avg(close), 6) AS avg_close,
       round(sum(volume), 4) AS total_volume
FROM bars GROUP BY symbol
""",
)
def q_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 per-symbol summary (``timeseries_db.py:349-397``)."""
    bars = events_as_ohlcv(spark, sf_dir)
    return stats.symbol_stats(bars).select(
        "symbol",
        "record_count",
        F.unix_micros("first_timestamp").alias("first_ts_us"),
        F.unix_micros("last_timestamp").alias("last_ts_us"),
        "min_close",
        "max_close",
        F.round("avg_close", 6).alias("avg_close"),
        F.round("total_volume", 4).alias("total_volume"),
    )


@query(
    "resample_4h",
    BARS_CTE
    + """
SELECT symbol,
       epoch_us(make_timestamp((epoch_us(timestamp) // 14400000000) * 14400000000)) AS bucket_us,
       arg_min(open, epoch_us(timestamp)) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, epoch_us(timestamp)) AS close,
       round(sum(volume), 4) AS volume
FROM bars GROUP BY 1, 2
""",
)
def q_resample_4h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: OHLCV re-aggregation 1h → 4h (no gap fill)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = resample.resample_ohlcv(bars, "4h", fill_gaps=False)
    return out.select(
        "symbol",
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
    )


@query(
    "resample_4h_filled",
    BARS_CTE
    + """
, agg AS (
  SELECT symbol,
         make_timestamp((epoch_us(timestamp) // 14400000000) * 14400000000) AS bucket_ts,
         arg_min(open, epoch_us(timestamp)) AS open,
         max(high) AS high,
         min(low) AS low,
         arg_max(close, epoch_us(timestamp)) AS close,
         sum(volume) AS volume
  FROM bars GROUP BY 1, 2
), cal AS (
  SELECT symbol, unnest(generate_series(lo, hi, INTERVAL 4 HOUR)) AS bucket_ts
  FROM (SELECT symbol, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM agg GROUP BY symbol)
), joined AS (
  SELECT cal.symbol, cal.bucket_ts, agg.open, agg.high, agg.low, agg.close,
         coalesce(agg.volume, 0.0) AS volume
  FROM cal LEFT JOIN agg ON cal.symbol = agg.symbol AND cal.bucket_ts = agg.bucket_ts
)
SELECT symbol, epoch_us(bucket_ts) AS bucket_us,
       last_value(open IGNORE NULLS) OVER w AS open,
       last_value(high IGNORE NULLS) OVER w AS high,
       last_value(low IGNORE NULLS) OVER w AS low,
       last_value(close IGNORE NULLS) OVER w AS close,
       round(volume, 4) AS volume
FROM joined
WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q_resample_4h_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + J4: resample WITH pandas empty-bucket semantics (calendar
    left-join + per-column ffill, volume→0)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = resample.resample_ohlcv(bars, "4h", fill_gaps=True)
    return out.select(
        "symbol",
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
    )


# ---------------------------------------------------------------------------
# Scalar functions / projections (F2, F3, P2)
# ---------------------------------------------------------------------------


@query(
    "time_features",
    """
SELECT event_id,
       epoch_us(ts) AS ts_us,
       hour(ts)::INT AS hour,
       (isodow(ts) - 1)::INT AS day_of_week,
       month(ts)::INT AS month,
       year(ts)::INT AS year
FROM events
""",
)
def q_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 time features with the pandas day-of-week encoding (Mon=0)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        _ts_us("ts").alias("ts_us"),
        F.hour("ts").cast("int").alias("hour"),
        day_of_week_pandas(F.col("ts")).alias("day_of_week"),
        F.month("ts").cast("int").alias("month"),
        F.year("ts").cast("int").alias("year"),
    )


# ---------------------------------------------------------------------------
# Dedup / imputation (P10, F4)
# ---------------------------------------------------------------------------


@query(
    "dedup_keep_first",
    """
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
""",
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 deterministic keep-first dedup (vs nondeterministic
    ``dropDuplicates``): first event per (user, type) by (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    out = cleaning.dedup_keep_first(
        ev, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    )
    return out.select(
        "user_id", "event_type", "event_id", _ts_us("ts").alias("ts_us"), "value"
    )


@query(
    "ffill_impute",
    """
SELECT event_id,
       last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
FROM events
""",
)
def q_ffill_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 forward-fill: null out 'error' readings, ffill per user."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value",
        F.when(F.col("event_type") != "error", F.col("value")),
    )
    out = cleaning.ffill(
        ev, ["value"], partition_by=["user_id"], order_by=["ts", "event_id"]
    )
    return out.select("event_id", F.col("value").alias("value_filled"))


# ---------------------------------------------------------------------------
# Outlier handling (F5/A6) + normalization (F10–F12)
# ---------------------------------------------------------------------------


@query(
    "iqr_clip",
    BARS_CTE
    + """
, q AS (
  SELECT symbol,
         quantile_cont(close, 0.25) AS q1,
         quantile_cont(close, 0.75) AS q3
  FROM bars GROUP BY symbol
)
SELECT b.symbol, epoch_us(b.timestamp) AS ts_us,
       round(greatest(q.q1 - 1.5 * (q.q3 - q.q1),
                      least(q.q3 + 1.5 * (q.q3 - q.q1), b.close)), 6) AS close_clipped
FROM bars b JOIN q USING (symbol)
""",
)
def q_iqr_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 IQR winsorization of close, per symbol (exact quantiles)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = cleaning.iqr_clip(bars, cols=["close"], factor=1.5)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("close", 6).alias("close_clipped"),
    )


@query(
    "normalize_zscore",
    BARS_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round((close - avg(close) OVER (PARTITION BY symbol))
             / stddev_samp(close) OVER (PARTITION BY symbol), 6) AS close_z,
       round((volume - min(volume) OVER (PARTITION BY symbol))
             / (max(volume) OVER (PARTITION BY symbol)
                - min(volume) OVER (PARTITION BY symbol)), 6) AS volume_mm,
       round(ln(1 + close), 6) AS close_log1p
FROM bars
""",
)
def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11/F12: z-score, min-max and log1p in one projection.

    Composed sequentially on ONE fact lineage: each normalize() adds a
    tiny per-symbol fit aggregate broadcast back onto the same frame —
    the fact table is never joined to itself (the previous version
    built three full-fact frames and re-joined them on
    (symbol, timestamp): two wide fact⋈fact joins for nothing)."""
    bars = events_as_ohlcv(spark, sf_dir)
    prepped = bars.select(
        "symbol",
        "timestamp",
        F.col("close").alias("close_z"),
        F.col("volume").alias("volume_mm"),
        F.log1p("close").alias("close_log1p"),
    )
    out = normalize.normalize(prepped, ["close_z"], "zscore")
    out = normalize.normalize(out, ["volume_mm"], "minmax")
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("close_z", 6).alias("close_z"),
        F.round("volume_mm", 6).alias("volume_mm"),
        F.round("close_log1p", 6).alias("close_log1p"),
    )


# ---------------------------------------------------------------------------
# Validation counters / interval stats / quality (P11, A10, A11)
# ---------------------------------------------------------------------------


@query(
    "validation_counters",
    BARS_CTE
    + """
, iv AS (
  SELECT symbol, open, high, low, close, volume,
         (epoch_us(timestamp) - epoch_us(lag(timestamp) OVER w)) / 1000000.0 AS iv_s,
         abs(close / lag(close) OVER w - 1.0) AS chg
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), med AS (
  SELECT symbol, quantile_cont(iv_s, 0.5) AS med_iv FROM iv GROUP BY symbol
)
SELECT iv.symbol,
       sum((iv.open = 0 OR iv.high = 0 OR iv.low = 0 OR iv.close = 0)::INT)::BIGINT AS zero_price_rows,
       sum((iv.volume = 0)::INT)::BIGINT AS zero_volume_rows,
       sum((iv.chg > 0.2)::INT)::BIGINT AS extreme_price_changes,
       sum((iv.iv_s > 6 * med.med_iv)::INT)::BIGINT AS time_gaps,
       count(*) AS valid_records
FROM iv JOIN med USING (symbol)
GROUP BY iv.symbol
""",
)
def q_validation_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 report counters as one aggregate pass per symbol."""
    bars = events_as_ohlcv(spark, sf_dir)
    return stats.zero_extreme_counts(bars, extreme_threshold=0.2)


@query(
    "interval_mode",
    BARS_CTE
    + """
, iv AS (
  SELECT symbol,
         (epoch_us(timestamp) - epoch_us(lag(timestamp)
            OVER (PARTITION BY symbol ORDER BY timestamp))) / 1000000.0 AS iv_s
  FROM bars
), mode AS (
  SELECT symbol, iv_s AS most_common_interval_seconds
  FROM (SELECT symbol, iv_s, count(*) AS n FROM iv WHERE iv_s IS NOT NULL GROUP BY 1, 2)
  QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY n DESC, iv_s ASC) = 1
)
SELECT iv.symbol, mode.most_common_interval_seconds,
       sum((iv.iv_s != mode.most_common_interval_seconds)::INT)::BIGINT AS irregular_intervals
FROM iv JOIN mode USING (symbol)
WHERE iv.iv_s IS NOT NULL
GROUP BY 1, 2
""",
)
def q_interval_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 interval mode + irregular count per symbol."""
    bars = events_as_ohlcv(spark, sf_dir)
    return stats.interval_mode(bars)


@query(
    "quality_score",
    BARS_CTE
    + """
, iv AS (
  SELECT *, (epoch_us(timestamp) - epoch_us(lag(timestamp)
     OVER (PARTITION BY symbol ORDER BY timestamp))) / 1000000.0 AS iv_s
  FROM bars
)
SELECT symbol,
       round(1.0 - (sum((open IS NULL)::INT) + sum((high IS NULL)::INT) + sum((low IS NULL)::INT)
              + sum((close IS NULL)::INT) + sum((volume IS NULL)::INT)) / (count(*) * 5.0), 6) AS completeness,
       round(avg((high >= low AND open >= low AND open <= high AND close >= low AND close <= high)::INT), 6) AS ohlc_valid,
       round(sum((iv_s <= 3600)::INT) / count(*)::DOUBLE, 6) AS temporal_continuity,
       round(avg((volume > 0)::INT), 6) AS volume_valid,
       round((1.0 - (sum((open IS NULL)::INT) + sum((high IS NULL)::INT) + sum((low IS NULL)::INT)
              + sum((close IS NULL)::INT) + sum((volume IS NULL)::INT)) / (count(*) * 5.0)) * 0.3
             + avg((high >= low AND open >= low AND open <= high AND close >= low AND close <= high)::INT) * 0.3
             + (sum((iv_s <= 3600)::INT) / count(*)::DOUBLE) * 0.2
             + avg((volume > 0)::INT) * 0.2, 6) AS quality_score
FROM iv GROUP BY symbol
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 weighted quality score (weights .3/.3/.2/.2,
    ``data_validator.py:135-186``)."""
    out = stats.quality_score(
        events_as_ohlcv(spark, sf_dir), expected_interval_seconds=3600
    )
    return out.select(
        "symbol",
        *[
            F.round(c, 6).alias(c)
            for c in [
                "completeness",
                "ohlc_valid",
                "temporal_continuity",
                "volume_valid",
                "quality_score",
            ]
        ],
    )


# ---------------------------------------------------------------------------
# Window-function indicators (W1, W3, W5, W6) — SQL-expressible subset
# ---------------------------------------------------------------------------

_IND_WINDOW = """
WINDOW w AS (PARTITION BY symbol ORDER BY timestamp),
       w20 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
"""


@query(
    "sma_bollinger",
    BARS_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END, 6) AS sma_20,
       round(CASE WHEN count(close) OVER w20 >= 20
             THEN avg(close) OVER w20 + 2.0 * stddev_samp(close) OVER w20 END, 6) AS bb_upper,
       round(CASE WHEN count(close) OVER w20 >= 20
             THEN avg(close) OVER w20 - 2.0 * stddev_samp(close) OVER w20 END, 6) AS bb_lower
FROM bars
"""
    + _IND_WINDOW,
)
def q_sma_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 + W5: SMA(20) and Bollinger(20, 2σ) with pandas NaN-head."""
    bars = events_as_ohlcv(spark, sf_dir)
    bb = indicators.bollinger("close", 20, 2.0)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.sma("close", 20), 6).alias("sma_20"),
        F.round(bb["bb_upper"], 6).alias("bb_upper"),
        F.round(bb["bb_lower"], 6).alias("bb_lower"),
    )


@query(
    "rsi_14",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp) AS delta
  FROM bars
), gl AS (
  SELECT symbol, timestamp,
         CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
         CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
  FROM d
), r AS (
  SELECT symbol, timestamp,
         CASE WHEN count(gain) OVER w14 >= 14 THEN avg(gain) OVER w14 END AS ag,
         CASE WHEN count(loss) OVER w14 >= 14 THEN avg(loss) OVER w14 END AS al
  FROM gl
  WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN al = 0 AND ag > 0 THEN 100.0
                  WHEN al = 0 AND ag = 0 THEN NULL
                  ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6) AS rsi
FROM r
""",
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: RSI(14) over rolling-mean gains/losses."""
    bars = events_as_ohlcv(spark, sf_dir)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.rsi("close", 14), 6).alias("rsi"),
    )


@query(
    "atr_14",
    BARS_CTE
    + """
, tr AS (
  SELECT symbol, timestamp,
         greatest(high - low,
                  abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(tr) OVER w14 >= 14 THEN avg(tr) OVER w14 END, 6) AS atr
FROM tr
WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
""",
)
def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: ATR(14); `greatest` ignores nulls in both engines, so the
    first row's true range falls back to high−low."""
    bars = events_as_ohlcv(spark, sf_dir)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.atr(14), 6).alias("atr"),
    )


# The ewm(adjust=False) recurrence e' = (1-α)·e + α·x IS expressible in
# SQL as a recursive CTE stepping row-rank per symbol (one iteration per
# bar index, all symbols advance together). The arithmetic mirrors the
# pandas kernel op-for-op — verified bit-exact against pandas ewm on the
# driver data before rounding, so the 6-decimal rounding has ~1e-13 of
# headroom.
_EMA_STEP_12 = "(1.0 - 2.0/13.0) * r.ema_12 + (2.0/13.0) * b.close"
_EMA_STEP_26 = "(1.0 - 2.0/27.0) * r.ema_26 + (2.0/27.0) * b.close"
_MACD_STEP = f"(({_EMA_STEP_12}) - ({_EMA_STEP_26}))"

_EMA_REC_CTE = (
    "WITH RECURSIVE bars AS ("
    + events_as_ohlcv_sql(60).strip()
    + """
), base AS (
  SELECT symbol, timestamp, high, low, close,
         row_number() OVER (PARTITION BY symbol ORDER BY timestamp) AS rn
  FROM bars
), rec AS (
  SELECT symbol, timestamp, close, rn,
         close AS ema_12, close AS ema_26,
         0.0::DOUBLE AS macd, 0.0::DOUBLE AS macd_signal
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.timestamp, b.close, b.rn,
         """
    + _EMA_STEP_12
    + """ AS ema_12,
         """
    + _EMA_STEP_26
    + """ AS ema_26,
         """
    + _MACD_STEP
    + """ AS macd,
         (1.0 - 2.0/10.0) * r.macd_signal + (2.0/10.0) * """
    + _MACD_STEP
    + """ AS macd_signal
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
"""
)


@query(
    "ema_macd",
    _EMA_REC_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(ema_12, 6) AS ema_12, round(ema_26, 6) AS ema_26,
       round(macd, 6) AS macd, round(macd_signal, 6) AS macd_signal,
       round(macd - macd_signal, 6) AS macd_hist
FROM rec
""",
)
def q_ema_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 + W4: exact ewm(adjust=False) EMA(12/26) + MACD via the
    grouped-map pandas-UDF kernel, value-checked against a DuckDB
    recursive-CTE twin of the recurrence (plus the pandas differential
    in tests/test_resample_indicators.py)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.with_ema_macd(bars)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("ema_12", 6).alias("ema_12"),
        F.round("ema_26", 6).alias("ema_26"),
        F.round("macd", 6).alias("macd"),
        F.round("macd_signal", 6).alias("macd_signal"),
        F.round("macd_hist", 6).alias("macd_hist"),
    )


@query(
    "ema_truncated",
    _EMA_REC_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(ema_12, 6) AS ema_12, round(ema_26, 6) AS ema_26
FROM rec
""",
)
def q_ema_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 scale path: the pure-JVM truncated-window EMA fold
    (``indicators.ema_truncated`` — no Python stage, no sequential
    per-symbol task) checked against the SAME recursive-CTE oracle as
    the exact kernel: the truncation error is below one double ULP, so
    both round to identical 6-decimal values."""
    bars = events_as_ohlcv(spark, sf_dir)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.ema_truncated("close", 12), 6).alias("ema_12"),
        F.round(indicators.ema_truncated("close", 26), 6).alias("ema_26"),
    )


@query(
    "ema_chunked",
    _EMA_REC_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(ema_12, 6) AS ema_12, round(ema_26, 6) AS ema_26
FROM rec
""",
)
def q_ema_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 skew path: the CHUNKED grouped-map EMA
    (``indicators.with_ema_chunked`` — fixed-size (group, chunk) tasks
    with a W-row warmup overlap, so no hot symbol ever serializes into
    one Python worker; measured in SKEW.md under an 80%-hot symbol)
    checked against the SAME recursive-CTE oracle as the exact kernel:
    warmup W is the ulp horizon, so chunked values agree with the
    sequential recurrence below the 6-decimal rounding grid.
    chunk_rows=512 ≥ W(26)=478 forces real chunk splits at every test
    SF (677 bars/symbol at sf0.01) while honoring the one-neighbor
    overlap recommendation."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.with_ema_chunked(
        bars, spans=[12, 26], chunk_rows=512
    )
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("ema_12", 6).alias("ema_12"),
        F.round("ema_26", 6).alias("ema_26"),
    )


# ---------------------------------------------------------------------------
# Sorts / top-k / greatest-per-group (O2, A13, A4, A5)
# ---------------------------------------------------------------------------


@query(
    "top_orders",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: ORDER BY … DESC LIMIT n — Spark executes as TakeOrdered
    (top-k per partition + merge, no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "latest_per_customer",
    """
SELECT o_custkey, o_orderkey AS latest_orderkey, epoch_us(o_orderdate) AS latest_order_us
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
""",
)
def q_latest_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 greatest-per-group (`MAX(id) GROUP BY` pattern) via rank window."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.unix_micros("o_orderdate").alias("latest_order_us"),
        )
    )


@query(
    "latest_timestamp",
    """
SELECT event_type AS symbol, epoch_us(max(ts)) AS latest_ts_us
FROM events GROUP BY 1
""",
)
def q_latest_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: incremental-ingest cursor (max ts per symbol)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("symbol")).agg(
        F.unix_micros(F.max("ts")).alias("latest_ts_us")
    )


@query(
    "date_range_null_counts",
    """
SELECT epoch_us(min(ts)) AS min_ts_us, epoch_us(max(ts)) AS max_ts_us,
       sum((value IS NULL)::INT)::BIGINT AS null_values,
       sum((props IS NULL)::INT)::BIGINT AS null_props,
       count(*) AS total_rows
FROM events
""",
)
def q_date_range_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + A9: global date range and null counters in one agg pass."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.unix_micros(F.min("ts")).alias("min_ts_us"),
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        F.sum(F.col("props").isNull().cast("long")).alias("null_props"),
        F.count(F.lit(1)).alias("total_rows"),
    )


# ---------------------------------------------------------------------------
# Splits (SP1, SP4) + volume profile (A12)
# ---------------------------------------------------------------------------


@query(
    "chronological_split",
    BARS_CTE
    + """
, ranked AS (
  SELECT symbol, timestamp, close,
         row_number() OVER (ORDER BY timestamp, symbol) AS rn,
         count(*) OVER () AS n
  FROM bars
)
SELECT symbol, epoch_us(timestamp) AS ts_us, close,
       -- floor, NOT a bare ::BIGINT cast: DuckDB's double->int cast
       -- ROUNDS while the engine's int(n*0.8) truncates — they agree
       -- only when n*0.8 has fraction < .5 (true at every driver SF,
       -- caught by the fuzzed-table sweep at arbitrary n)
       CASE WHEN rn <= CAST(floor(n * 0.8) AS BIGINT) THEN 'train' ELSE 'test' END AS split
FROM ranked
""",
)
def q_chronological_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP1: 80/20 chronological split (global order by (ts, symbol));
    emitted as a split-label column so one result covers both halves.

    Uses the distributed exact ranker (``splitter.global_row_index``:
    range-partition + per-partition row_number + offsets) rather than a
    single-partition ``Window.orderBy`` — same rows, same oracle, but
    the plan has no ``Exchange SinglePartition`` and survives 100×."""
    from financial_data_pipeline_spark.operators.splitter import global_row_index

    bars = events_as_ohlcv(spark, sf_dir)
    ranked, n = global_row_index(bars, ["timestamp", "symbol"])
    return ranked.select(
        "symbol",
        _ts_us().alias("ts_us"),
        "close",
        F.when(F.col("__rn") <= int(n * 0.8), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@query(
    "split_by_time",
    BARS_CTE
    + """
SELECT CASE WHEN timestamp <= TIMESTAMP '2024-01-10 00:00:00' THEN 'train'
            WHEN timestamp <= TIMESTAMP '2024-01-20 00:00:00' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS rows,
       round(sum(volume), 4) AS total_volume
FROM bars GROUP BY 1
""",
)
def q_split_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP4: date-cutoff 3-way split (inclusive ends), summarized."""
    from financial_data_pipeline_spark.operators.splitter import split_by_time

    bars = events_as_ohlcv(spark, sf_dir)
    tr, va, te = split_by_time(bars, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    parts = [
        tr.withColumn("split", F.lit("train")),
        va.withColumn("split", F.lit("val")),
        te.withColumn("split", F.lit("test")),
    ]
    un = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return un.groupBy("split").agg(
        F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("volume"), 4).alias("total_volume"),
    )


@query(
    "volume_profile",
    """
WITH rng AS (
  SELECT min(l_extendedprice) AS pmin, max(l_extendedprice) AS pmax FROM lineitem
), b AS (
  SELECT least(99, floor((l_extendedprice - rng.pmin) / ((rng.pmax - rng.pmin) / 100))::INT) AS bucket,
         l_quantity, rng.pmin, (rng.pmax - rng.pmin) / 100 AS w
  FROM lineitem, rng
)
SELECT (pmin + (bucket + 0.5) * w) AS price_level, round(sum(l_quantity), 4) AS volume
FROM b GROUP BY bucket, pmin, w
""",
)
def q_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: volume-weighted price histogram (100 bins) on lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    out = indicators.volume_profile(li, "l_extendedprice", "l_quantity", bins=100)
    return out.select("price_level", F.round("volume", 4).alias("volume"))


# ---------------------------------------------------------------------------
# Joins + classic aggs on the TPC-H-ish star (J1 shape, scale proof)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide-agg scale benchmark; predicate
    pushes to the parquet scan, agg is map-side partial."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation, r.r_name AS region,
       round(sum(o.o_totalprice), 2) AS revenue,
       count(*) AS order_count
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-shaped dimension joins: fact ⋈ customer ⋈ nation ⋈ region with
    explicit broadcast of the small dims (no fact shuffle for the join)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
    )


@query(
    "shipping_priority",
    """
SELECT l.l_orderkey AS order_key,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       epoch_us(o.o_orderdate) AS odate_us
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) DESC,
         l.l_orderkey ASC
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q3-shaped plan: selective segment/date filters pushed to
    all three scans, the big lineitem⋈orders join shuffles on orderkey,
    and customer (1/5 after the segment filter) rides AQE's
    broadcast-or-SMJ decision. Top-10 by revenue with a rounded,
    engine-stable sort key + orderkey tiebreak."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    rev = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rev.alias("revenue"))
        .select(
            F.col("l_orderkey").alias("order_key"),
            "revenue",
            F.unix_micros(F.col("o_orderdate")).alias("odate_us"),
        )
        .orderBy(F.desc("revenue"), F.asc("order_key"))
        .limit(10)
    )


@query(
    "returned_revenue_by_customer",
    """
SELECT c.c_custkey AS custkey, c.c_name AS customer_name,
       n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS lost_revenue,
       count(*) AS returned_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) DESC,
         c.c_custkey ASC
LIMIT 20
""",
)
def q_returned_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10-shaped plan: returnflag + order-date-window filters
    below the joins, fact⋈fact shuffle on orderkey, explicit broadcast
    of the tiny nation dim. Top-20 by lost revenue (rounded sort key,
    custkey tiebreak)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev.alias("lost_revenue"), F.count(F.lit(1)).alias("returned_lines"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation"),
            "lost_revenue",
            "returned_lines",
        )
        .orderBy(F.desc("lost_revenue"), F.asc("custkey"))
        .limit(20)
    )


@query(
    "asof_join_events_bars",
    "WITH bars AS ("
    + events_as_ohlcv_sql(240).strip()
    + """)
SELECT e.event_id, e.event_type AS symbol, epoch_us(e.ts) AS ts_us, e.value,
       b.close AS bar_close, epoch_us(b.timestamp) AS bar_ts_us
FROM events e ASOF LEFT JOIN bars b
  ON e.event_type = b.symbol AND e.ts >= b.timestamp
""",
)
def q_asof_join_events_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every raw event gets the close of the latest
    4h bar at-or-before it. Executed as the union+window merge-join
    composition (ONE shuffle on the by-key, no join operator — see
    operators/asof.py); oracle is DuckDB's native ASOF JOIN."""
    from financial_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "event_id", F.col("event_type").alias("symbol"), "ts", "value"
    )
    bars = events_as_ohlcv(spark, sf_dir, 240).select(
        "symbol",
        F.col("timestamp").alias("ts"),
        F.col("close").alias("bar_close"),
    )
    j = asof_join(left, bars, on="ts", by="symbol", matched_ts_col="bar_ts")
    return j.select(
        "event_id",
        "symbol",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        "bar_close",
        F.unix_micros("bar_ts").alias("bar_ts_us"),
    )


@query(
    "lineage_join",
    """
SELECT o.o_orderkey AS order_id, l.l_linenumber AS line_no,
       c.c_name AS customer_name, s.s_name AS supplier_name,
       round(l.l_extendedprice * (1 - l.l_discount), 4) AS net_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE o.o_orderstatus = 'F' AND l.l_quantity > 45
""",
)
def q_lineage_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: multi-hop equi-join lineage walk (lineitem→orders→customer,
    lineitem→supplier), selective predicates pushed below the joins."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.filter(F.col("l_quantity") > 45)
        .join(o.filter(F.col("o_orderstatus") == "F"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_no"),
            F.col("c_name").alias("customer_name"),
            F.col("s_name").alias("supplier_name"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("net_price"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-data operators: text analysis (beyond-reference; north star)
# ---------------------------------------------------------------------------

# DuckDB fragment counting whitespace-delimited occurrences of a marker
# word — the replace-length trick, identical to text.word_count_marker.
def _sql_count_word(w: str) -> str:
    pad = f"(' ' || translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') || ' ')"
    return (
        f"((length({pad}) - length(replace({pad}, ' {w} ', ''))) / {len(w) + 2})::INT"
    )


def _sql_lang_score(lang: str) -> str:
    from financial_data_pipeline_spark.operators.text import LANG_MARKERS

    return " + ".join(_sql_count_word(w) for w in LANG_MARKERS[lang])


def _lang_detect_sql() -> str:
    from financial_data_pipeline_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = ", ".join(f"{_sql_lang_score(la)} AS s_{la}" for la in langs)
    m = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = " ".join(f"WHEN s_{la} = m THEN '{la}'" for la in langs)
    return f"""
WITH sc AS (SELECT doc_id, lang, {scores}
            FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents) documents),
mx AS (SELECT *, {m} AS m FROM sc)
SELECT doc_id, lang AS lang_actual,
       CASE WHEN m <= 0 THEN 'und' {case} END AS lang_pred
FROM mx
"""


@query(
    "text_stats",
    r"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')) END AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS n_tokens_bpe,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         ("""
    + " + ".join(
        "((length((' ' || translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') || ' ')) - length(replace((' ' || translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') || ' '), ' %s ', ''))) / %d)::INT"
        % (w, len(w) + 2)
        for w in [
            "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
        ]
    )
    + r""") AS n_stop
  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents) documents
)
SELECT doc_id, n_tokens, n_tokens_bpe,
       round(n_punct / greatest(n_chars, 1)::DOUBLE, 6) AS punct_ratio,
       round(n_digit / greatest(n_chars, 1)::DOUBLE, 6) AS digit_ratio,
       round(n_stop / greatest(n_tokens, 1)::DOUBLE, 6) AS stopword_ratio,
       round(least(n_tokens / 64.0, 1.0) * 0.3
             + least((n_stop / greatest(n_tokens, 1)::DOUBLE) * 4.0, 1.0) * 0.3
             + greatest(0.0, 1.0 - (n_punct / greatest(n_chars, 1)::DOUBLE) * 4.0) * 0.2
             + greatest(0.0, 1.0 - (n_digit / greatest(n_chars, 1)::DOUBLE) * 4.0) * 0.2, 6) AS quality
FROM t
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token counts (whitespace + BPE-ish regex),
    punctuation/digit/stopword ratios, composite quality score."""
    from financial_data_pipeline_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    out = quality_score(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_tokens_bpe",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality", 6).alias("quality"),
    )


@query("lang_detect", _lang_detect_sql())
def q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via per-language stopword-marker scoring with a
    deterministic alphabetical tiebreak."""
    from financial_data_pipeline_spark.operators.text import detect_language

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        detect_language("text").alias("lang_pred"),
    )


@query(
    "doc_fingerprint",
    r"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           [ (('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647)
             for t in regexp_extract_all(text, '[^ \t\n\x0B\f\r]+') ]),
         (acc, x) -> (acc * 31 + x) % 2147483647
       ) AS fingerprint
FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents) documents
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint (portable md5-based)."""
    from financial_data_pipeline_spark.operators.text import doc_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# LLM-data operators: deduplication (beyond-reference; north star)
# ---------------------------------------------------------------------------


@query(
    "exact_dedup",
    """
SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_hash,
       min(doc_id) AS doc_id,
       count(*) AS dup_count
FROM documents GROUP BY 1
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy keeping the lowest doc_id."""
    from financial_data_pipeline_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("content_hash", "doc_id", "dup_count")


@query(
    "dedup_against_history",
    """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 2 THEN 'shared batch duplicate body'
              ELSE text END AS text
  FROM documents
), bh AS (
  SELECT doc_id,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_hash
  FROM b
), k AS (
  SELECT doc_id, content_hash
  FROM (SELECT doc_id, content_hash,
               row_number() OVER (PARTITION BY content_hash
                                  ORDER BY doc_id) AS rn
        FROM bh)
  WHERE rn = 1
), h AS (
  SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_hash
  FROM documents WHERE doc_id % 3 = 0
)
SELECT k.doc_id, k.content_hash
FROM k ANTI JOIN h USING (content_hash)
""",
)
def q_dedup_against_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-history streaming dedup, oracle-checked on its batch
    body (``streaming/dedup_stream.py:dedup_against_history`` — the
    foreachBatch shape: keep-lowest within the micro-batch, then
    anti-join the compacted lake-side hash table). The testdata has no
    natural exact duplicates, so the batch plants both mechanisms
    deterministically: docs with ``doc_id % 7 == 2`` collapse onto one
    shared text (in-batch keep-first must leave exactly one survivor)
    and history holds the ORIGINAL texts of the ``doc_id % 3 == 0``
    slice (their unmodified batch twins must be anti-joined away)."""
    from financial_data_pipeline_spark.operators.dedup import _hash60
    from financial_data_pipeline_spark.streaming.dedup_stream import (
        dedup_against_history,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2, F.lit("shared batch duplicate body")
        ).otherwise(F.col("text")),
    )
    history = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(_hash60(F.col("text")).alias("content_hash"))
        .distinct()
    )
    return dedup_against_history(batch, history).select("doc_id", "content_hash")


@query(
    "ngram_jaccard_pairs",
    r"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
        FROM documents)
), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / (x.sz + y.sz - i)::DOUBLE, 6) AS jaccard
FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
WHERE i / (x.sz + y.sz - i)::DOUBLE >= 0.5
""",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs (≥0.5) via the inverted-index
    blocked self-join."""
    from financial_data_pipeline_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, k=3, threshold=0.5)


def _minhash_lsh_sql(num_perm: int = 16, bands: int = 8) -> str:
    """Full SQL twin of MinHash+LSH+verify: same md5 shingle hash, same
    (a·h+b) mod 2^31-1 permutations (identical literals from
    ``minhash_coeffs``), band-match candidate join, exact-Jaccard
    verification at 0.5 — pair sets must match exactly."""
    from financial_data_pipeline_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    rows = num_perm // bands
    mins = ", ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_perm))
    )
    band_match = " OR ".join(
        "("
        + " AND ".join(
            f"a.mh_{bd * rows + r} = b.mh_{bd * rows + r}" for r in range(rows)
        )
        + ")"
        for bd in range(bands)
    )
    return rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
        FROM documents)
), hh AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS h, s
  FROM sh
), sig AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {band_match}
), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y
    ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i)::DOUBLE, 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE i / (sa.sz + sb.sz - i)::DOUBLE >= 0.5
"""


@query("minhash_lsh_pairs", _minhash_lsh_sql())
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 8-band LSH candidates, verified with exact Jaccard
    ≥0.5 — the 100 TB dedup path (candidates O(n·bands), not O(n²));
    oracle recomputes the identical signatures/bands quadratically."""
    from financial_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Deliberately NOT sharing a persisted shingle pass between the two
    # phases (dual_hashed_shingle_rows exists for it): measured 2×
    # SLOWER at sf0.1 — InMemoryTableScan's columnar↔row overhead costs
    # more than re-tokenizing inside two fused codegen stages.
    cand = lsh_candidates(docs, num_perm=16, bands=8)
    return jaccard_pairs(docs, k=3, threshold=0.5, candidates=cand)


def _simhash_sql(bits: int = 60, max_hamming: int = 3) -> str:
    """Unblocked quadratic twin of ``simhash_pairs``: same md5 token
    hash, same ±1 per-bit fold, same >0 tie rule — the Spark side's
    chunk blocking is lossless for hamming ≤ 3, so the pair sets must
    be identical."""
    bit_sums = ", ".join(
        f"sum(CASE WHEN ((th >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks
), sums AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id),
fp AS (SELECT doc_id, {fp_expr} AS fp FROM sums)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


@query("simhash_pairs", _simhash_sql())
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) with 15-bit-chunk blocking;
    oracle is the unblocked quadratic join over md5-token fingerprints."""
    from financial_data_pipeline_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3)


# ---------------------------------------------------------------------------
# LLM-data operators: similarity search (beyond-reference; north star)
# ---------------------------------------------------------------------------


_QUERY_VEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The fixed ANN query point (vec_id=0), memoized per sf_dir: it is
    a query *parameter* shared by three queries, and re-collecting it
    would bill one extra Spark job to every embedding query."""
    if sf_dir not in _QUERY_VEC_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _QUERY_VEC_CACHE[sf_dir] = [
            float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
    return _QUERY_VEC_CACHE[sf_dir]


@query(
    "embedding_topk",
    """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(coalesce(list_dot_product(embedding::DOUBLE[], q.qv) / nullif(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) AS cos_sim
FROM embeddings, q
ORDER BY coalesce(list_dot_product(embedding::DOUBLE[], q.qv) / nullif(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC, vec_id ASC
LIMIT 10
""",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against vec_id=0 (exact ANN baseline)."""
    from financial_data_pipeline_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _query_vec(spark, sf_dir), k=10)


@query(
    "embedding_pairs",
    """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(coalesce(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / nullif(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0), 0), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE coalesce(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / nullif(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0), 0) >= 0.45
""",
)
def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pair join (cosine ≥ 0.45) — exact all-pairs
    baseline; the broadcast side is guarded by ``max_side_rows`` (past
    the cap the operator raises and demands a block column — see
    ``embedding_pairs_blocked`` for the scale plan)."""
    from financial_data_pipeline_spark.operators.similarity import cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=0.45)


def _table_rows(spark: SparkSession, sf_dir: str, name: str = "embeddings") -> int:
    """Exact row count for plane-schedule sizing WITHOUT a Spark job:
    parquet footers carry per-file row counts (the local analog of the
    catalog/table-statistics lookup a 100 TB deployment would use), so
    deriving the LSH schedule costs ~1 ms of driver metadata IO instead
    of a full count() job per query. Falls back to the distributed
    count for paths pyarrow can't reach. The DuckDB oracle's ``nb`` CTE
    computes count(*) over the same file — identical number."""
    try:
        import pyarrow.parquet as _pq

        return _pq.read_metadata(f"{sf_dir}/{name}.parquet").num_rows
    except Exception:  # noqa: BLE001 — non-local path / no footer access
        return load_table(spark, sf_dir, name).count()


def _pair_block_planes(n_rows: int | None = None) -> list[list[float]]:
    """Blocked-family hyperplanes. With ``n_rows`` the plane count
    follows the measured corpus schedule (``similarity.plane_schedule``
    — RUNBOOK's `planes ≈ 4 + log2(k)` applied by DEFAULT, r08 verdict
    item 8); without it, the fixed 4-plane base used by the bounded
    subdivision probe. ``seeded_planes`` is prefix-stable (plane i is
    drawn before plane i+1), so a larger schedule extends — never
    reshuffles — the smaller one."""
    from financial_data_pipeline_spark.operators.similarity import (
        plane_schedule,
        seeded_planes,
    )

    n = 4 if n_rows is None else plane_schedule(n_rows)
    return seeded_planes(n, 64, seed=7)


#: SQL text bound on dynamic plane literals: covers corpora up to
#: 500·2^8.5 ≈ 181k vectors — far past any oracle-runnable SF.
_SQL_MAX_PLANES = 12

#: DuckDB twin of similarity.plane_schedule (floor(x+0.5), not
#: banker's round, so the two are literally the same function).
_NBITS_SQL = (
    "(SELECT least(24, 4 + greatest(0, "
    "CAST(floor(log2(count(*) / 500.0) + 0.5) AS INT))) AS nbits "
    "FROM embeddings)"
)


def _dyn_bucket_sql(vcol: str = "v") -> str:
    """Bucket expression whose bit count is gated by ``nb.nbits`` —
    the corpus-derived plane schedule computed IN the oracle query, so
    both engines size the blocking from the same count."""
    from financial_data_pipeline_spark.operators.similarity import (
        seeded_planes,
    )

    return " + ".join(
        "(CASE WHEN {i} < nb.nbits AND list_inner_product({v}, [{lits}])"
        " >= 0 THEN {w} ELSE 0 END)".format(
            i=i, v=vcol, lits=", ".join(repr(x) for x in p), w=1 << i
        )
        for i, p in enumerate(seeded_planes(_SQL_MAX_PLANES, 64, seed=7))
    )


def _blocked_pairs_sql() -> str:
    """Oracle twin of the LSH-blocked pair join: identical plane
    literals → identical buckets; pairs restricted to same-bucket.
    Plane count derives from the corpus count (nb CTE), exactly like
    the Spark side's ``plane_schedule(emb.count())``."""
    return f"""
WITH nb AS {_NBITS_SQL},
b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bb AS (SELECT vec_id, v, {_dyn_bucket_sql()} AS bucket FROM b, nb)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(coalesce(list_dot_product(a.v, c.v) / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)), 0), 0), 6) AS cos_sim
FROM bb a JOIN bb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE coalesce(list_dot_product(a.v, c.v) / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)), 0), 0) >= 0.45
"""


@query("embedding_pairs_blocked", _blocked_pairs_sql())
def q_embedding_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup pair plan: LSH-bucket the corpus (4 seeded
    hyperplanes → 16 blocks), then per-block BLAS pair kernels via
    ``applyInPandas`` — one shuffle on the bucket key, no driver
    collect, no broadcast, never all-pairs across blocks."""
    from financial_data_pipeline_spark.operators.similarity import (
        cosine_pairs,
        lsh_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = _pair_block_planes(_table_rows(spark, sf_dir))  # corpus-derived schedule
    emb = emb.withColumn("bucket", lsh_bucket("embedding", planes))
    return cosine_pairs(emb, threshold=0.45, block_col="bucket")


@query(
    "unigram_logprob",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), toks_ne AS (SELECT * FROM toks WHERE tok <> ''),
vocab AS (SELECT tok, count(*) AS tf FROM toks_ne GROUP BY tok),
total AS (SELECT sum(tf)::DOUBLE AS total FROM vocab)
SELECT t.doc_id, count(*) AS n_tokens,
       round(avg(-ln(v.tf / total.total)), 4) AS avg_neg_logprob
FROM toks_ne t JOIN vocab v USING (tok) CROSS JOIN total
GROUP BY t.doc_id
""",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity proxy: per-doc mean unigram negative
    log-likelihood under the corpus's own token distribution (no
    external LM). Rounded to 4 decimals — the mean of ~hundreds of
    logs carries ~1e-13 summation-order noise, far inside the
    boundary."""
    from financial_data_pipeline_spark.operators.text import (
        unigram_logprob_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = unigram_logprob_score(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("avg_neg_logprob", 4).alias("avg_neg_logprob"),
    )


@query(
    "blamed_suppliers",
    """
WITH l1 AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
SELECT s.s_name, count(*) AS numwait
FROM l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM l1 l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name ASC
LIMIT 10
""",
)
def q_blamed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape (sole-blame supplier): late lines (shipped >60
    days after order date on finished orders) where ANOTHER supplier
    participated in the order but NO other supplier was also late —
    both correlated EXISTS decorrelated to per-order supplier-key
    min/max (r9, guide §2.3/§3): "no other late supplier" is a
    min(sk)=max(sk) window over the late set (the former left-anti
    self-join re-ran the whole lineitem⋈orders subtree a second
    time), and "another supplier participated" is min/max over the
    per-order lineitem aggregate (map-side partials shuffle one row
    per order where the former left-semi shuffled every lineitem
    row). Exact integer key comparisons — EXISTS(sk' ≠ sk) ⇔
    (min ≠ sk OR max ≠ sk) — so the surviving row multiset is
    identical."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    l1 = (
        li.join(
            o.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    wlate = W.partitionBy("l_orderkey")
    sole_late = (
        l1.withColumn("__lo", F.min("l_suppkey").over(wlate))
        .withColumn("__hi", F.max("l_suppkey").over(wlate))
        .filter(F.col("__lo") == F.col("__hi"))
        .select("l_orderkey", "l_suppkey")
    )
    oagg = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.min("l_suppkey").alias("__slo"), F.max("l_suppkey").alias("__shi")
    )
    blamed = (
        sole_late.join(oagg, sole_late.l_orderkey == oagg.ok)
        .filter(
            (F.col("__slo") != F.col("l_suppkey"))
            | (F.col("__shi") != F.col("l_suppkey"))
        )
        .select("l_orderkey", "l_suppkey")
    )
    return (
        blamed.join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@query(
    "top_revenue_suppliers",
    """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue
FROM supplier s JOIN rev ON s.s_suppkey = rev.supplier_no
WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey
""",
)
def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape (view + scalar-max equality join): quarterly
    revenue per supplier, then suppliers matching the global max.
    Revenue is rounded BEFORE the max comparison in both engines so
    the equality is on identical doubles; the max is a one-row
    broadcast crossJoin (lazy, no driver collect)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "line_dedup_rebuild",
    """
WITH buckets AS (
  SELECT min(doc_id) AS doc_id,
         string_agg(text, chr(10) ORDER BY doc_id)
           || chr(10) || 'Common boilerplate footer: subscribe now' AS text
  FROM documents GROUP BY source
), lines AS (
  SELECT doc_id, i - 1 AS pos, line
  FROM (
    SELECT doc_id,
           unnest(string_split(text, chr(10))) AS line,
           generate_subscripts(string_split(text, chr(10)), 1) AS i
    FROM buckets
  )
), firsts AS (
  SELECT line, min(doc_id * 1048576 + pos) AS first_key
  FROM lines WHERE trim(line) <> '' GROUP BY line
), kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN firsts f USING (line)
  WHERE trim(l.line) = '' OR l.doc_id * 1048576 + l.pos = f.first_key
)
SELECT b.doc_id, coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text
FROM buckets b LEFT JOIN kept k USING (doc_id)
GROUP BY b.doc_id
""",
)
def q_line_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line dedup (RefinedWeb-style boilerplate
    removal) over synthesized multi-line docs — one doc per source
    (its documents' texts as lines) plus a planted boilerplate footer
    on every doc. The footer survives only in the lowest-id doc; the
    full rebuilt text of every doc is value-compared."""
    from financial_data_pipeline_spark.operators.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    buckets = docs.groupBy("source").agg(
        F.min("doc_id").alias("doc_id"),
        F.concat(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
            ),
            F.lit("\nCommon boilerplate footer: subscribe now"),
        ).alias("text"),
    ).select("doc_id", "text")
    return line_dedup(buckets)


@query(
    "top_bigram_repetition",
    r"""
WITH base AS (
  SELECT doc_id, length(text) AS chars,
         regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
  FROM documents
  WHERE len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) >= 2
), grams AS (
  SELECT doc_id, chars, toks[i] || ' ' || toks[i + 1] AS ngram
  FROM (
    SELECT doc_id, chars, toks,
           unnest(generate_series(1, len(toks) - 1)) AS i
    FROM base
  )
), counts AS (
  SELECT doc_id, chars, ngram, count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3
)
SELECT doc_id, ngram AS top_ngram, cnt AS top_ngram_count,
       round(cnt * length(ngram) / chars::DOUBLE, 6) AS top_ngram_char_frac
FROM counts
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, ngram ASC) = 1
""",
)
def q_top_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top-bigram repetition signal per document: the
    most frequent word 2-gram and the character fraction it covers
    (explode → count → rank; map-side partial counts)."""
    from financial_data_pipeline_spark.operators.text import top_ngram_stats

    docs = load_table(spark, sf_dir, "documents")
    out = top_ngram_stats(docs, n=2)
    return out.select(
        "doc_id",
        "top_ngram",
        "top_ngram_count",
        F.round("top_ngram_char_frac", 6).alias("top_ngram_char_frac"),
    )


def _psi_feature_sql(col: str) -> str:
    """DuckDB twin of operators.drift.psi for one bars column with the
    2024-01-16 split: reference-side equal-width bins, edge-clamped,
    +0.5 Laplace smoothing — identical arithmetic order, and the
    10-term sum left-folds in bin order (list_reduce) to match Spark's
    array_sort+aggregate fold bit-for-bit; totals cast to BIGINT to
    match Spark's long."""
    return f"""
SELECT '{col}' AS feature,
       round(list_reduce(list((p - q) * ln(p / q) ORDER BY bin),
                         (a, b) -> a + b), 6) AS psi,
       first(t_ref)::BIGINT AS n_ref, first(t_new)::BIGINT AS n_new
FROM (
  SELECT g.bin,
         (coalesce(rc.n, 0) + 0.5) / (tr.t_ref + 5.0) AS p,
         (coalesce(nc.n, 0) + 0.5) / (tn.t_new + 5.0) AS q,
         tr.t_ref, tn.t_new
  FROM generate_series(0, 9) AS g(bin)
  LEFT JOIN (
    SELECT least(9, greatest(0, floor(({col} - b.lo) / ((b.hi - b.lo) / 10.0))))::INT AS bin,
           count(*) AS n
    FROM ref, (SELECT min({col}) AS lo, max({col}) AS hi FROM ref) b
    GROUP BY 1
  ) rc USING (bin)
  LEFT JOIN (
    SELECT least(9, greatest(0, floor(({col} - b.lo) / ((b.hi - b.lo) / 10.0))))::INT AS bin,
           count(*) AS n
    FROM nw, (SELECT min({col}) AS lo, max({col}) AS hi FROM ref) b
    GROUP BY 1
  ) nc USING (bin)
  CROSS JOIN (SELECT count(*)::DOUBLE AS t_ref FROM ref) tr
  CROSS JOIN (SELECT count(*)::DOUBLE AS t_new FROM nw) tn
)
"""


_PSI_ORACLE = (
    BARS_CTE
    + """
, ref AS (SELECT close, volume FROM bars WHERE timestamp < TIMESTAMP '2024-01-16'),
nw AS (SELECT close, volume FROM bars WHERE timestamp >= TIMESTAMP '2024-01-16')
"""
    + _psi_feature_sql("close")
    + "UNION ALL"
    + _psi_feature_sql("volume")
)


@query("feature_drift_psi", _PSI_ORACLE)
def q_feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per feature between the pre/post
    2024-01-16 halves of the bar stream — the train-vs-serving drift
    gate. Reference-side equal-width bins (bit-reproducible, unlike
    quantile bins), edge-clamping, +0.5 smoothing; each feature is a
    two-pass histogram over a pruned single-column scan."""
    from financial_data_pipeline_spark.operators.drift import psi_features

    bars = events_as_ohlcv(spark, sf_dir)
    ref = bars.filter(F.col("timestamp") < "2024-01-16")
    new = bars.filter(F.col("timestamp") >= "2024-01-16")
    out = psi_features(ref, new, ["close", "volume"], bins=10)
    return out.select(
        "feature", F.round("psi", 6).alias("psi"), "n_ref", "n_new"
    )


@query(
    "rank_normalize",
    BARS_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(percent_rank() OVER (PARTITION BY symbol ORDER BY close ASC), 6) AS close_pr,
       round(percent_rank() OVER (PARTITION BY symbol ORDER BY round(volume, 6) ASC), 6) AS volume_pr
FROM bars
""",
)
def q_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-rank feature scaling per symbol (robust normalization
    for heavy tails; SQL-standard tie semantics in both engines).

    The volume rank key is PINNED to 6 dp first: bar volume is an
    unordered float sum, so two truly-tied bars drift apart by an ulp
    under a different partition layout and percent_rank breaks the tie
    differently per engine (caught by the r05 alt-partitioning sweep
    once the repartition patch reached events_as_ohlcv). close is a
    picked event value (arg-max), exact — no pin needed."""
    from financial_data_pipeline_spark.operators.normalize import rank_normalize

    bars = events_as_ohlcv(spark, sf_dir)
    out = rank_normalize(
        bars.select(
            "symbol", "timestamp",
            F.col("close").alias("close_pr"),
            F.round("volume", 6).alias("volume_pr"),
        ),
        cols=["close_pr", "volume_pr"],
    )
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("close_pr", 6).alias("close_pr"),
        F.round("volume_pr", 6).alias("volume_pr"),
    )


@query(
    "interpolate_impute",
    BARS_CTE
    + """
, holes AS (
  SELECT symbol, timestamp,
         CASE WHEN (epoch_us(timestamp) // 3600000000) % 7 = 3
              THEN NULL ELSE close END AS close
  FROM bars
), ctx AS (
  SELECT symbol, timestamp, close,
         epoch_us(timestamp)::DOUBLE AS t,
         last_value(close IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN close IS NOT NULL
                         THEN epoch_us(timestamp)::DOUBLE END IGNORE NULLS)
           OVER wp AS pt,
         first_value(close IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN close IS NOT NULL
                          THEN epoch_us(timestamp)::DOUBLE END IGNORE NULLS)
           OVER wn AS nt
  FROM holes
  WINDOW wp AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN close IS NOT NULL THEN close
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END, 6)
         AS close_interp
FROM ctx
""",
)
def q_interpolate_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of planted null runs
    (``handle_missing: "interpolate"`` — the config option the
    reference names but never implements). Window-only, one shuffle."""
    bars = events_as_ohlcv(spark, sf_dir)
    holes = bars.withColumn(
        "close",
        F.when(
            F.expr("(unix_micros(timestamp) div 3600000000) % 7") == 3,
            F.lit(None).cast("double"),
        ).otherwise(F.col("close")),
    )
    out = cleaning.interpolate_linear(holes, cols=["close"])
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("close", 6).alias("close_interp"),
    )


@query(
    "text_cleaning",
    r"""
WITH dirty AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN ' <p>' || text || '</p>' || chr(9) || '<br>  tail '
              ELSE text END AS text
  FROM documents
), cleaned AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(regexp_replace(
              text, '<[^>]+>', ' ', 'g'),
              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
              '\s+', ' ', 'g')) AS text_clean
  FROM dirty
)
SELECT doc_id, text_clean,
       length(text) AS n_before, length(text_clean) AS n_after
FROM cleaned
""",
)
def q_text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time text scrub (markup strip → control-char strip →
    whitespace collapse → trim) over deterministically-dirtied docs —
    map-only codegen, the full cleaned text value-compared."""
    from financial_data_pipeline_spark.operators.text import clean_text_expr

    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" <p>"), F.col("text"), F.lit("</p>\t<br>  tail ")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dirty.select(
        "doc_id",
        clean_text_expr(F.col("text")).alias("text_clean"),
        F.length("text").alias("n_before"),
        F.length(clean_text_expr(F.col("text"))).alias("n_after"),
    )


@query(
    "knn_join_top5",
    """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT query_id, neighbor_id,
             round(coalesce(list_dot_product(cv, qv) / nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 0), 6) AS cos_sim
      FROM q, c)
SELECT query_id, neighbor_id, cos_sim FROM s
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
""",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-5 corpus neighbors for each of 20 query
    vectors in ONE corpus scan (broadcast query matrix, per-batch BLAS
    + local top-k, global window top-k — candidate rows shuffled, never
    the similarity matrix)."""
    from financial_data_pipeline_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(emb, emb.filter(F.col("vec_id") < 20), k=5)


def _lsh_planes() -> list[list[float]]:
    from financial_data_pipeline_spark.operators.similarity import seeded_planes

    return seeded_planes(6, 64, seed=7)


def _lsh_ann_sql() -> str:
    """Oracle twin of ``lsh_ann_topk``: identical plane literals, so
    both engines fold the same doubles in the same order and the
    sign(dot) buckets agree bit-for-bit."""
    bucket = " + ".join(
        "(CASE WHEN list_inner_product(v, [{lits}]) >= 0 THEN {w} ELSE 0 END)".format(
            lits=", ".join(repr(x) for x in p), w=1 << i
        )
        for i, p in enumerate(_lsh_planes())
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bb AS (
  SELECT vec_id, v, {bucket} AS bucket FROM b
), q AS (SELECT v AS qv, bucket AS qbucket FROM bb WHERE vec_id = 0)
SELECT bb.vec_id, round(coalesce(list_dot_product(bb.v, q.qv) / nullif(sqrt(list_dot_product(bb.v, bb.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) AS cos_sim
FROM bb, q WHERE bb.bucket = q.qbucket
ORDER BY coalesce(list_dot_product(bb.v, q.qv) / nullif(sqrt(list_dot_product(bb.v, bb.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC, bb.vec_id ASC
LIMIT 10
"""


@query("lsh_ann_topk", _lsh_ann_sql())
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: 6 seeded hyperplanes → 64 buckets; cosine
    top-10 within the query's bucket. The unlabeled-corpus scale path —
    the bucket predicate prunes the scan before any distance math."""
    from financial_data_pipeline_spark.operators.similarity import lsh_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb, _lsh_planes(), _query_vec(spark, sf_dir), k=10)


@query(
    "ivf_topk",
    """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
exploded AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), comp AS (SELECT label, pos, avg(x) AS c FROM exploded GROUP BY 1, 2),
cents AS (SELECT label, list(c ORDER BY pos) AS centroid FROM comp GROUP BY label),
probe AS (
  SELECT label FROM cents, q
  ORDER BY coalesce(list_dot_product(centroid, q.qv) / nullif(sqrt(list_dot_product(centroid, centroid)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC LIMIT 3
)
SELECT e.vec_id,
       round(coalesce(list_dot_product(e.embedding::DOUBLE[], q.qv) / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) AS cos_sim
FROM embeddings e, q
WHERE e.label IN (SELECT label FROM probe)
ORDER BY coalesce(list_dot_product(e.embedding::DOUBLE[], q.qv) / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC, e.vec_id ASC
LIMIT 10
""",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: label-partition centroids, probe 3 cells, exact search
    within — the pruned-scan scale path. Oracle recomputes centroids,
    probe selection, and the pruned exact search in SQL (probe ranking
    is stable: per-label centroid cosines are far outside float noise)."""
    from financial_data_pipeline_spark.operators.similarity import (
        ivf_build_centroids,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb)
    return ivf_topk(emb, cents, _query_vec(spark, sf_dir), k=10, nprobe=3)


@query(
    "multimodal_features",
    """
SELECT doc_id,
       octet_length(encode(text)) AS size_bytes,
       -- NULL payload = failed decode: decode_ok false, no features
       -- (engine kernel convention — NULL-text fuzz finding)
       text IS NOT NULL AS decode_ok,
       CASE WHEN text IS NULL THEN NULL
            ELSE round(('0x' || substr(sha256(text), 1, 2))::INT / 255.0, 6)
       END AS f0
FROM documents
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text payloads as binary media columns →
    typed metadata struct → Arrow-batched mapInPandas feature decode.
    The deterministic fake decoder (sha256-digest features — see
    operators.multimodal) is reproducible in SQL, so even the stubbed
    path is oracle-checked end-to-end: byte sizes, decode status, and
    the first feature value."""
    from financial_data_pipeline_spark.operators.multimodal import (
        attach_media_meta,
        decode_features,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    meta = attach_media_meta(docs)
    feats = decode_features(meta)
    return feats.join(
        meta.select("doc_id", F.col("media_meta.size_bytes").alias("size_bytes")),
        "doc_id",
    ).select("doc_id", "size_bytes", "decode_ok", F.round(F.element_at("features", 1), 6).alias("f0"))


# ---------------------------------------------------------------------------
# Extended coverage: z-score clean (F6), splits (U2/SP2), composite
# indicators (W10), multi-timeframe fan-out (A2), trunc-mode resample
# (A1 calendar path), sliding windows (W9), denormalize round-trip (F10)
# ---------------------------------------------------------------------------


@query(
    "zscore_outlier_clean",
    BARS_CTE
    + """
, st AS (
  SELECT symbol, avg(close) AS mu, stddev_samp(close) AS sd,
         avg(volume) AS muv, stddev_samp(volume) AS sdv,
         median(volume) AS med
  FROM bars GROUP BY symbol
), marked AS (
  SELECT b.symbol, b.timestamp,
         CASE WHEN st.sd IS NOT NULL AND st.sd != 0
                   AND abs((b.close - st.mu) / st.sd) > 3 THEN NULL
              ELSE b.close END AS close_n,
         CASE WHEN st.sdv IS NOT NULL AND st.sdv != 0
                   AND abs((b.volume - st.muv) / st.sdv) > 3 THEN st.med
              ELSE b.volume END AS volume_c
  FROM bars b JOIN st USING (symbol)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(last_value(close_n IGNORE NULLS) OVER (
         PARTITION BY symbol ORDER BY timestamp
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS close_clean,
       round(volume_c, 6) AS volume_clean
FROM marked
""",
)
def q_zscore_outlier_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (``data_processor.py:86-123``): |z|>3 prices → null + ffill;
    outlier volumes → per-symbol median."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = cleaning.zscore_outlier_clean(bars, price_cols=["close"])
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("close", 6).alias("close_clean"),
        F.round("volume", 6).alias("volume_clean"),
    )


@query(
    "split_by_date",
    BARS_CTE
    + """
SELECT part, count(*) AS n, epoch_us(min(timestamp)) AS min_ts_us,
       epoch_us(max(timestamp)) AS max_ts_us
FROM (
  SELECT CASE WHEN timestamp <= TIMESTAMP '2024-01-15' THEN 'before'
              ELSE 'after' END AS part, timestamp
  FROM bars
) GROUP BY part
""",
)
def q_split_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (``data_splitter.py:82-110``): complementary before/after
    filters off one plan; cutoff inclusive on the before side."""
    from financial_data_pipeline_spark.operators.splitter import split_by_date

    bars = events_as_ohlcv(spark, sf_dir)
    before, after = split_by_date(bars, "2024-01-15")
    parts = [("before", before), ("after", after)]
    out = None
    for name, df in parts:
        agg = df.agg(
            F.lit(name).alias("part"),
            F.count(F.lit(1)).alias("n"),
            F.unix_micros(F.min("timestamp")).alias("min_ts_us"),
            F.unix_micros(F.max("timestamp")).alias("max_ts_us"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


@query(
    "random_split_props",
    BARS_CTE
    + """
SELECT count(*) AS n_total, 0 AS overlap FROM bars
""",
)
def q_random_split_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP2 property check (SURVEY.md §7.4: Spark's randomSplit RNG ≠
    sklearn's, so the oracle asserts the INVARIANTS the reference's own
    tests assert: sizes sum to the input, splits are disjoint)."""
    from financial_data_pipeline_spark.operators.splitter import random_split

    # persist() the bar aggregate across the three invariant actions
    # (r9, guide §5): overlap count + two split counts evaluated the
    # events→bars aggregation four times; cached, it computes once.
    # UNPERSISTED before returning — the session cache substitutes
    # InMemoryTableScan into EVERY later plan containing the same
    # canonical bars subtree, which both changes other queries' plans
    # (vwap_daily grew 4→6 exchanges + 3 cache scans in the audit) and
    # violates the every-query-computes-from-parquet contract; the
    # returned frame is a literal, so nothing references the cache.
    # (localCheckpoint was tried and REVERTED: it materializes without
    # AQE coalescing, 3× slower.) randomSplit's per-partition sampling
    # sees identical partition contents, so the invariants are
    # unchanged.
    bars = events_as_ohlcv(spark, sf_dir).persist()
    try:
        train, test = random_split(bars, test_size=0.25, seed=42)
        keys = ["symbol", "timestamp"]
        overlap = train.select(keys).join(test.select(keys), on=keys).count()
        n_total = train.count() + test.count()
    finally:
        bars.unpersist()
    return spark.createDataFrame(
        [(n_total, overlap)], "n_total long, overlap int"
    )


@query(
    "calculate_all",
    _EMA_REC_CTE
    + """
, d AS (
  SELECT symbol, timestamp,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp) AS delta
  FROM bars
), gl AS (
  SELECT symbol, timestamp,
         CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
         CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
  FROM d
), rsit AS (
  SELECT symbol, timestamp,
         CASE WHEN count(gain) OVER w14 >= 14 THEN avg(gain) OVER w14 END AS ag,
         CASE WHEN count(loss) OVER w14 >= 14 THEN avg(loss) OVER w14 END AS al
  FROM gl
  WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), trt AS (
  SELECT symbol, timestamp,
         greatest(high - low, abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), atrt AS (
  SELECT symbol, timestamp,
         CASE WHEN count(tr) OVER w14t >= 14 THEN avg(tr) OVER w14t END AS atr
  FROM trt
  WINDOW w14t AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), win AS (
  SELECT symbol, timestamp,
    CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END AS sma_20,
    CASE WHEN count(close) OVER w50 >= 50 THEN avg(close) OVER w50 END AS sma_50,
    CASE WHEN count(close) OVER w200 >= 200 THEN avg(close) OVER w200 END AS sma_200,
    CASE WHEN count(close) OVER w20 >= 20
         THEN avg(close) OVER w20 + 2.0 * stddev_samp(close) OVER w20 END AS bb_upper,
    CASE WHEN count(close) OVER w20 >= 20
         THEN avg(close) OVER w20 - 2.0 * stddev_samp(close) OVER w20 END AS bb_lower
  FROM bars
  WINDOW w20 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         w50 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
         w200 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
)
SELECT rec.symbol, epoch_us(rec.timestamp) AS ts_us,
       round(win.sma_20, 6) AS sma_20,
       round(win.sma_50, 6) AS sma_50,
       round(win.sma_200, 6) AS sma_200,
       round(rec.ema_12, 6) AS ema_12,
       round(rec.ema_26, 6) AS ema_26,
       round(CASE WHEN rsit.al = 0 AND rsit.ag > 0 THEN 100.0
                  WHEN rsit.al = 0 AND rsit.ag = 0 THEN NULL
                  ELSE 100.0 - 100.0 / (1.0 + rsit.ag / rsit.al) END, 6) AS rsi,
       round(rec.macd, 6) AS macd,
       round(rec.macd_signal, 6) AS macd_signal,
       round(rec.macd - rec.macd_signal, 6) AS macd_hist,
       round(win.sma_20, 6) AS bb_middle,
       round(win.bb_upper, 6) AS bb_upper,
       round(win.bb_lower, 6) AS bb_lower,
       round(atrt.atr, 6) AS atr
FROM rec
JOIN win USING (symbol, timestamp)
JOIN rsit USING (symbol, timestamp)
JOIN atrt USING (symbol, timestamp)
""",
)
def q_calculate_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 composite: all 13 indicator columns in one pass
    (``technical_indicators.py:83-122``). Oracle = the windowed-SQL
    twins of the rolling family joined with the recursive-CTE EMA twin
    — every column value-checked."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.calculate_all(bars)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        *[
            F.round(c, 6).alias(c)
            for c in (
                "sma_20", "sma_50", "sma_200", "ema_12", "ema_26", "rsi",
                "macd", "macd_signal", "macd_hist",
                "bb_middle", "bb_upper", "bb_lower", "atr",
            )
        ],
    )


@query(
    "resample_1w",
    BARS_CTE
    + """
SELECT symbol, epoch_us(date_trunc('week', timestamp)) AS bucket_us,
       arg_min(open, epoch_us(timestamp)) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, epoch_us(timestamp)) AS close,
       round(sum(volume), 4) AS volume
FROM bars GROUP BY 1, 2
""",
)
def q_resample_1w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 calendar-bucket path: weekly bars via date_trunc (the
    trunc-mode half of TIMEFRAMES; 4h covers the duration mode)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = resample.resample_ohlcv(bars, "1w", fill_gaps=False)
    return out.select(
        "symbol",
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
    )


@query(
    "multi_timeframe_counts",
    BARS_CTE
    + """
SELECT '4h' AS timeframe, count(*) AS n_bars FROM (
  SELECT DISTINCT symbol, (epoch_us(timestamp) // 14400000000) FROM bars)
UNION ALL
SELECT '1d', count(*) FROM (
  SELECT DISTINCT symbol, (epoch_us(timestamp) // 86400000000) FROM bars)
UNION ALL
SELECT '1w', count(*) FROM (
  SELECT DISTINCT symbol, date_trunc('week', timestamp) FROM bars)
""",
)
def q_multi_timeframe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 fan-out (``timeframe_aggregator.py:97-115``): one cached base,
    N lazy resample plans; emitted as (timeframe, bar count)."""
    bars = events_as_ohlcv(spark, sf_dir)
    fanout = resample.generate_multiple_timeframes(
        bars, ["4h", "1d", "1w"], fill_gaps=False
    )
    out = None
    for tf, df in fanout.items():
        agg = df.agg(
            F.lit(tf).alias("timeframe"), F.count(F.lit(1)).alias("n_bars")
        )
        out = agg if out is None else out.unionByName(agg)
    return out


@query(
    "sliding_windows",
    BARS_CTE
    + """
, w AS (
  SELECT symbol, timestamp, close,
         row_number() OVER (PARTITION BY symbol ORDER BY timestamp) AS rn,
         list(close) OVER (PARTITION BY symbol ORDER BY timestamp
                           ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING) AS span
  FROM bars
)
SELECT symbol, epoch_us(timestamp) AS window_start_us,
       round(span[1], 6) AS x_first, round(span[24], 6) AS x_last,
       round(span[25], 6) AS y_close
FROM w WHERE len(span) = 25 AND (rn - 1) % 6 = 0
""",
)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9/SP5 (``data_splitter.py:230-263``): strided (X, y) windows,
    window=24, target=1, stride=6; flattened edge values for the hash."""
    from financial_data_pipeline_spark.operators.splitter import sliding_windows

    bars = events_as_ohlcv(spark, sf_dir)
    out = sliding_windows(
        bars, ["close"], window_size=24, target_size=1, stride=6, by=["symbol"]
    )
    return out.select(
        "symbol",
        F.unix_micros("window_start").alias("window_start_us"),
        F.round(F.element_at("x", 1)["close"], 6).alias("x_first"),
        F.round(F.element_at("x", 24)["close"], 6).alias("x_last"),
        F.round(F.element_at("y", 1)["close"], 6).alias("y_close"),
    )


@query(
    "denormalize_roundtrip",
    BARS_CTE
    + """
SELECT symbol, 0.0 AS max_err FROM bars GROUP BY symbol
""",
)
def q_denormalize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 inverse (``data_normalizer.py:85-90``; reference test
    ``test_processing.py:28-70`` round-trip rtol 1e-10): normalize →
    denormalize with the SAME fitted scalers recovers the input."""
    bars = events_as_ohlcv(spark, sf_dir).withColumn(
        "close_orig", F.col("close")
    )
    scalers = normalize.fit_scalers(bars, ["close"], "zscore")
    normed = normalize.normalize(bars, ["close"], "zscore", scalers=scalers)
    denormed = normalize.denormalize(normed, ["close"], scalers, "zscore")
    return denormed.groupBy("symbol").agg(
        F.round(F.max(F.abs(F.col("close") - F.col("close_orig"))), 6).alias(
            "max_err"
        )
    )


@query(
    "query_ohlcv_desc_limit",
    BARS_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us, open, high, low, close
FROM bars
WHERE symbol = 'click' AND timestamp >= TIMESTAMP '2024-01-10'
ORDER BY timestamp DESC LIMIT 24
""",
)
def q_query_ohlcv_desc_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/O2 (``timeseries_db.py:252-311``): symbol + range predicates
    (pushed to the scan), newest-first top-k via TakeOrdered."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = stats.query_ohlcv(bars, symbol="click", start="2024-01-10", limit=24)
    return out.select(
        "symbol", _ts_us().alias("ts_us"), "open", "high", "low", "close"
    )


_PAIR_GRAPH_CTE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
        FROM documents)
), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
  WHERE i / (x.sz + y.sz - i)::DOUBLE >= 0.5
), e AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
)
"""

_DEDUP_CLUSTERS_SQL = (
    _PAIR_GRAPH_CTE
    + """
SELECT s AS doc_id, least(s, min(d)) AS cluster_id
FROM reach GROUP BY s
"""
)

_KEEP_CANONICAL_SQL = (
    _PAIR_GRAPH_CTE
    + """
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (
  SELECT s FROM reach GROUP BY s HAVING least(s, min(d)) < s
)
"""
)


@query("dedup_clusters", _DEDUP_CLUSTERS_SQL)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: jaccard-verified pairs → connected
    components by distributed min-label propagation (cluster_id = min
    doc id per component). Oracle: recursive-CTE transitive closure."""
    from financial_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, k=3, threshold=0.5)
    return dedup_clusters(pairs)


@query("dedup_clusters_distributed", _DEDUP_CLUSTERS_SQL)
def q_dedup_clusters_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The >2M-edge SCALE PATH of ``dedup_clusters`` forced live
    (``driver_threshold=0`` → distributed min-label propagation, the
    branch a 100 TB pair graph takes) against the same recursive-CTE
    closure oracle — the size-triggered fallback is oracle-exercised
    at every SF even though test corpora never organically exceed the
    driver threshold (r08 verdict item 1's forcing-fixture clause).
    Must be value-identical to ``dedup_clusters``."""
    from financial_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, k=3, threshold=0.5)
    return dedup_clusters(pairs, driver_threshold=0)


@query("keep_canonical_docs", _KEEP_CANONICAL_SQL)
def q_keep_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup verb: corpus minus near-duplicates — only
    the min-id doc of each jaccard≥0.5 component survives (left-anti
    join against the non-canonical cluster members)."""
    from financial_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        keep_canonical,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, k=3, threshold=0.5)
    return keep_canonical(docs, pairs).select("doc_id")


# ---------------------------------------------------------------------------
# Corpus curation (beyond-reference: quality filter, PII, contamination,
# sampling, domain mixing) — operators/curation.py
# ---------------------------------------------------------------------------


@query(
    "gopher_quality_flags",
    r"""
WITH base AS (
  SELECT doc_id, text,
         -- [^ \t\n\x0B\f\r]+ runs, not trim+split: split counts phantom '' tokens on
         -- newline-led/empty docs and differs per engine (fuzz finding)
         regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks,
         str_split(text, chr(10)) AS lines
  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents) documents
), m AS (
  SELECT doc_id,
    len(toks) AS n_words,
    coalesce(list_sum([len(x) for x in toks]), 0)::DOUBLE
      / greatest(len(toks), 1) AS mwl,
    ((len(text) - len(replace(text, '#', '')))
     + (len(text) - len(replace(text, '...', ''))) // 3)::DOUBLE
      / greatest(len(toks), 1) AS sym,
    len([ln for ln in lines if starts_with(ln, '- ') OR starts_with(ln, '* ')
         OR starts_with(ln, '• ')])::DOUBLE / greatest(len(lines), 1) AS bullet,
    len([ln for ln in lines if ends_with(ln, '...')])::DOUBLE
      / greatest(len(lines), 1) AS ell,
    (len(lines) - len(list_distinct(lines)))::DOUBLE
      / greatest(len(lines), 1) AS dupl,
    (list_contains(toks, 'the')::INT + list_contains(toks, 'and')::INT
     + list_contains(toks, 'of')::INT + list_contains(toks, 'to')::INT
     + list_contains(toks, 'a')::INT + list_contains(toks, 'in')::INT
     + list_contains(toks, 'is')::INT + list_contains(toks, 'it')::INT
     + list_contains(toks, 'that')::INT + list_contains(toks, 'for')::INT
    ) AS stopword_hits
  FROM base
)
SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
       round(sym, 6) AS symbol_ratio, stopword_hits,
       (n_words BETWEEN 20 AND 100000) AS rule_word_count,
       (mwl BETWEEN 3.0 AND 10.0) AS rule_word_len,
       (sym < 0.1) AS rule_symbol,
       (n_words BETWEEN 20 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
         AND (sym < 0.1) AND (bullet < 0.9) AND (ell < 0.3)
         AND (dupl < 0.3) AS keep
FROM m
""",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021): per-doc
    word-count / mean-word-length / symbol-ratio / bullet / ellipsis
    rules + composite keep. Pure row-local expressions — map-only."""
    from financial_data_pipeline_spark.operators.curation import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    out = gopher_rules(docs)
    return out.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        "stopword_hits",
        "rule_word_count",
        "rule_word_len",
        "rule_symbol",
        "keep",
    )


_PII_AUG_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || doc_id"
    " || '@example.com from 10.0.' || (doc_id % 256) || '.7 call"
    " +1 555 000 ' || (doc_id % 10000) ELSE text END"
)


@query(
    "pii_redaction",
    rf"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)
SELECT doc_id,
  -- coalesce(...,0): NULL text counts 0 PII matches (engine pins 0 via
  -- coalesce(text,'') while len(NULL) here is NULL — NULL-text fuzz)
  coalesce(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')), 0) AS n_emails,
  coalesce(len(regexp_extract_all(text, '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b')), 0) AS n_ips,
  coalesce(len(regexp_extract_all(text, '\+\d[\d ]{{5,14}}\d')), 0) AS n_phones,
  regexp_replace(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
      '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b', '<IP>', 'g'),
    '\+\d[\d ]{{5,14}}\d', '<PHONE>', 'g') AS redacted
FROM aug
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails / IPv4s / phone-shaped digit runs →
    typed placeholders, with per-class match counts. Deterministic PII
    is planted on every 3rd doc (identical expression in the oracle) so
    the redaction logic is exercised on real matches; the full redacted
    text is value-compared."""
    from financial_data_pipeline_spark.operators.curation import pii_redact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 call +1 555 000 "),
                (F.col("doc_id") % 10000).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    out = pii_redact(aug)
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones", F.col("text").alias("redacted")
    )


@query(
    "contamination_check",
    r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS shh
  FROM (
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len(toks) >= 3
           THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
           ELSE [array_to_string(toks, ' ')] END)) AS s
    FROM toks)
), bench AS (SELECT DISTINCT shh FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, shh FROM sh WHERE doc_id % 97 <> 0)
SELECT c.doc_id, count(*) AS n_overlap
FROM corpus c JOIN bench b ON c.shh = b.shh
GROUP BY 1
""",
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: corpus docs sharing ≥1
    distinct 3-gram with a held-out benchmark set (doc_id % 97 here) +
    the distinct-overlap count (k=3 on the short synthetic docs ≈ the
    8-gram check on real corpora). Benchmark gram set broadcasts; the
    corpus side never shuffles its text."""
    from financial_data_pipeline_spark.operators.curation import (
        contamination_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_overlap(corpus, bench, k=3)


@query(
    "stratified_sample_docs",
    """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
      < CASE source WHEN 'src0' THEN 200000 WHEN 'src1' THEN 500000
                    WHEN 'src2' THEN 800000 ELSE 300000 END
""",
)
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling via the portable
    md5 bucket hash — row-level membership is engine- and
    partitioning-independent, so the oracle checks exact membership,
    not just sizes."""
    from financial_data_pipeline_spark.operators.curation import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        rates={"src0": 0.2, "src1": 0.5, "src2": 0.8},
        default_rate=0.3,
    )
    return out.select("doc_id", "source")


@query(
    "domain_mixture_plan",
    r"""
WITH agg AS (
  SELECT source, count(*) AS n_docs,
         sum(coalesce(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')), 0)) AS tokens,
         CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                     WHEN 'src2' THEN 0.2 END AS weight
  FROM documents GROUP BY source
)
SELECT source, n_docs, tokens::BIGINT AS tokens,
       round(least(1.0, weight * 20000 / tokens::DOUBLE), 6) AS rate,
       round(least(1.0, weight * 20000 / tokens::DOUBLE) * tokens, 2)
         AS expected_tokens
FROM agg WHERE weight IS NOT NULL
""",
)
def q_domain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing plan: per-source token inventory + the sampling
    rate that hits a 20k-token budget at 50/30/20 target weights
    (strata smaller than their target taken whole). One tiny groupBy —
    |strata| rows out even at 100 TB."""
    from financial_data_pipeline_spark.operators.curation import mixture_plan

    docs = load_table(spark, sf_dir, "documents")
    return mixture_plan(
        docs,
        target_weights={"src0": 0.5, "src1": 0.3, "src2": 0.2},
        token_budget=20000,
    )


# ---------------------------------------------------------------------------
# Sessionization (beyond-reference: event analytics) — operators/sessionize.py
# ---------------------------------------------------------------------------

_SESSIONS_CTE = r"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS newf
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         sum(newf) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), sess AS (
  SELECT user_id, sid, epoch_us(min(ts)) AS session_start_us,
         epoch_us(max(ts)) AS session_end_us,
         count(*) AS n_events, round(sum(value), 6) AS total_value
  FROM s GROUP BY user_id, sid
)
"""


@query(
    "user_sessions",
    _SESSIONS_CTE
    + """
SELECT user_id, session_start_us, session_end_us, n_events, total_value
FROM sess
""",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via native ``session_window`` (30-min inactivity
    gap): one row per user session with bounds, event count, value sum.
    Oracle: gaps-and-islands twin with the boundary-inclusive merge
    (new session strictly AFTER prev + gap) matching Spark's
    session_window semantics."""
    from financial_data_pipeline_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("session_start_us"),
        F.unix_micros(F.col("session_end")).alias("session_end_us"),
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


@query(
    "user_session_stats",
    _SESSIONS_CTE
    + """
SELECT user_id, count(*) AS n_sessions, sum(n_events)::BIGINT AS n_events,
       sum(session_end_us - session_start_us) / count(*) / 1000000.0
         AS avg_session_sec
FROM sess GROUP BY user_id
""",
)
def q_user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement rollup over sessions: session count, total
    events, mean session duration (seconds)."""
    from financial_data_pipeline_spark.operators.sessionize import (
        session_stats,
        sessionize,
    )

    ev = load_table(spark, sf_dir, "events")
    return session_stats(sessionize(ev, gap="30 minutes"))


@query(
    "ngram_vocab",
    r"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
        FROM documents)
)
SELECT s AS ngram, count(*) AS doc_freq
FROM sh GROUP BY s
ORDER BY doc_freq DESC, ngram ASC LIMIT 100
""",
)
def q_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram vocabulary: top-100 3-grams by document frequency
    (per-doc distinct shingles → groupBy count → TakeOrdered top-k,
    deterministic (freq desc, ngram asc) tie-break). The vocab-building
    / stopword-mining primitive; top-k executes as TakeOrdered, never a
    global sort."""
    from financial_data_pipeline_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "text", "doc_id", k=3)
    return (
        sh.groupBy(F.col("sh").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(100)
    )


@query(
    "exact_k_sample",
    """
SELECT doc_id, source FROM documents
ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id
LIMIT 50
""",
)
def q_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50 deterministic uniform sample: smallest portable
    id-hash wins; TakeOrdered execution (no global sort)."""
    from financial_data_pipeline_spark.operators.curation import exact_k_sample

    docs = load_table(spark, sf_dir, "documents")
    return exact_k_sample(docs, k=50).select("doc_id", "source")


@query(
    "corpus_length_stats",
    r"""
SELECT source, count(*) AS n_docs,
       round(quantile_cont(coalesce(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')), 0), 0.5), 6) AS p50,
       round(quantile_cont(coalesce(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')), 0), 0.95), 6) AS p95
FROM documents GROUP BY source
""",
)
def q_corpus_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length profile (exact interpolated p50/p95) —
    the length-distribution report curation thresholds come from."""
    from financial_data_pipeline_spark.operators.curation import (
        length_percentiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    return length_percentiles(docs)


# ---------------------------------------------------------------------------
# Relational operator classes beyond the reference: pivot, rollup
# (grouping sets), ranking
# ---------------------------------------------------------------------------


@query(
    "events_type_pivot",
    """
SELECT hour(ts) AS hour,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
FROM events GROUP BY 1
""",
)
def q_events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab): events per hour-of-day × event_type. Explicit
    pivot value list — with it Spark skips the extra distinct-values
    job and plans ONE aggregation; oracle is the portable CASE-sum
    rendering."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.hour("ts").alias("hour"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves missing cells null; the CASE twin yields 0
    return out.select(
        "hour", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@query(
    "orders_priority_rollup",
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_orders_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (grouping sets): order counts + revenue at
    (status, priority), (status), and grand-total levels in ONE pass —
    Spark's Expand operator feeds a single aggregation, vs three
    scans for three separate groupBys. Null markers for rolled-up
    levels match ANSI ROLLUP in any engine."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "customer_spend_rank",
    """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, total_spend,
       rank() OVER (ORDER BY total_spend DESC, o_custkey) AS spend_rank,
       ntile(10) OVER (ORDER BY total_spend DESC, o_custkey) AS decile
FROM spend
QUALIFY spend_rank <= 100
""",
)
def q_customer_spend_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking functions: top-100 customers by total spend with rank()
    and ntile(10) decile (deterministic tie-break on custkey). The
    global window is computed over the already-aggregated per-customer
    frame (|customers| rows), not the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return (
        spend.withColumn("spend_rank", F.rank().over(w))
        .withColumn("decile", F.ntile(10).over(w))
        .filter(F.col("spend_rank") <= 100)
    )


@query(
    "funnel_conversion",
    """
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(t_view) AS n_view,
       sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END)::BIGINT AS n_click,
       sum(CASE WHEN t_view < t_click AND t_click < t_purchase
                THEN 1 ELSE 0 END)::BIGINT AS n_purchase
FROM stages
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users reaching view → first-click-after-view →
    first-purchase-after-click. ONE groupBy (earliest ts per stage per
    user via conditional min) + a global 3-counter agg — two shuffles
    total, no joins, no per-event state."""
    ev = load_table(spark, sf_dir, "events")
    t = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))
    stages = ev.groupBy("user_id").agg(
        t("view").alias("t_view"),
        t("click").alias("t_click"),
        t("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count("t_view").alias("n_view"),
        F.sum(
            (F.col("t_view") < F.col("t_click")).cast("long")
        ).alias("n_click"),
        F.sum(
            (
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase"))
            ).cast("long")
        ).alias("n_purchase"),
    )


@query(
    "next_day_retention",
    """
WITH active AS (SELECT DISTINCT user_id, ts::DATE AS d FROM events)
SELECT a.d::VARCHAR AS day, count(*) AS n_active,
       sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_retained
FROM active a LEFT JOIN active b
  ON a.user_id = b.user_id AND b.d = a.d + INTERVAL 1 DAY
GROUP BY a.d
""",
)
def q_next_day_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day retention: per day, active users and how many return
    the following day. Distinct (user, day) grid self-left-joined on
    (user, day+1) — the join key carries both columns so it's ONE
    hash-partitioned equi-join (day+1 folded into the key), then a
    per-day count."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    nxt = active.select(
        "user_id", F.date_sub(F.col("d"), 1).alias("d"), F.lit(1).alias("ret")
    )
    joined = active.join(nxt, on=["user_id", "d"], how="left")
    return joined.groupBy(F.col("d").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.coalesce(F.col("ret"), F.lit(0))).alias("n_retained"),
    )


@query(
    "events_props_json",
    """
SELECT event_type, count(*) AS n,
       -- sum/count, not avg(): the integer sum is EXACT in both engines
       -- (DuckDB promotes sum(BIGINT) to HUGEINT; the Spark side sums
       -- through decimal(38,0) — a bare sum(long) would WRAP silently
       -- on int64 overflow, r8 ADVICE finding), so the mean is
       -- order-independent for any int64 payload with |group sum| <
       -- 2^64 — beyond that DuckDB's hugeint->double conversion goes
       -- through two 64-bit halves and can be 1 ULP off the correctly
       -- rounded value (measured at 2.77e19), so the parity bound is
       -- the double-conversion range, not decimal's 38 digits.
       -- Grain 2, not 6: round(x, 6) itself diverges across
       -- engines once |x|*1e6 crosses 2^53 (the scaled integer is no
       -- longer exactly representable, and the double's own ULP spacing
       -- exceeds the grain) — grain 2 is deterministic to |avg| < 9e13
       round(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             / count(CAST(json_extract_string(props, '$.k') AS BIGINT))::DOUBLE, 2)
         AS avg_k
FROM events GROUP BY event_type
""",
)
def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``k`` out of the JSON ``props``
    string per event and aggregate per type. ``get_json_object`` is a
    JVM-side path expression (codegen, no UDF); at scale, promote hot
    JSON fields to columns at ingest — this is the query-time fallback.
    ``k`` is extracted as BIGINT, not INT: an int32 extract silently
    nulls (Spark) or errors (DuckDB) on large-but-valid payload values
    — found by the fuzzed-table sweep planting 1e12-scale ``k``."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    # exact integer mean: sum through decimal(38,0), NOT sum(long) —
    # Spark's long sum wraps silently on int64 overflow while the
    # DuckDB oracle promotes to HUGEINT (r8 ADVICE finding)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(k.cast("decimal(38,0)")) / F.count(k).cast("double"), 2
        ).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# Semi / anti joins + distinct aggregation + CUBE (beyond-reference
# relational classes: EXISTS / NOT EXISTS, COUNT(DISTINCT), grouping sets)
# ---------------------------------------------------------------------------


@query(
    "lapsed_customers",
    """
SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 4) AS acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '1998-01-01')
""",
)
def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join (TPC-H q22 shape): customers with
    no order since the cutoff. The date filter is pushed to the orders
    scan and only ``o_custkey`` survives the projection, so the
    anti-join build carries 8 bytes/row off the fact table; AQE
    upgrades to broadcast when the key set fits."""
    cust = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"))
        .select("o_custkey")
    )
    lapsed = cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_anti"
    )
    return lapsed.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round("c_acctbal", 4).alias("acctbal"),
    )


@query(
    "returned_orders_semi",
    """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def q_returned_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join (TPC-H q4 shape): orders containing at
    least one returned line. The returnflag filter is pushed to the
    lineitem scan and only ``l_orderkey`` survives the projection, so
    the semi-join build side is the minimal key set."""
    orders = load_table(spark, sf_dir, "orders")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    hit = orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


@query(
    "distinct_users_daily",
    """
SELECT ts::DATE::VARCHAR AS day,
       count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY 1
""",
)
def q_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per day. Spark plans this as a two-level
    aggregate: partial dedup of (day, user) map-side, then the distinct
    count — no row ever carries a full user set. At 100 TB swap in
    ``approx_count_distinct`` (HyperLogLog++, fixed 8 KB state per
    group) when a ~2% error is acceptable; kept exact here for the
    oracle hash."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_dow_cube",
    """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(dow, -1) AS dow,
       count(*) AS n, round(sum(value), 4) AS value_sum
FROM (SELECT event_type, (isodow(ts) - 1)::INT AS dow, value FROM events)
GROUP BY CUBE (event_type, dow)
""",
)
def q_events_dow_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week): all four grouping sets in
    ONE Expand + single aggregation pass (no union of groupBys, one
    shuffle). Null grouping keys are coalesced to sentinels so the
    subtotal rows hash identically in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        day_of_week_pandas(F.col("ts")).alias("dow"),
        "value",
    )
    out = ev.cube("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )
    return out.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce("dow", F.lit(-1)).alias("dow"),
        "n",
        "value_sum",
    )


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (beyond-reference; SURVEY §2.7
# notes the reference has none)
# ---------------------------------------------------------------------------


@query(
    "purchase_signup_days_intersect",
    """
(SELECT DISTINCT user_id, ts::DATE::VARCHAR AS day
 FROM events WHERE event_type = 'purchase')
INTERSECT
(SELECT DISTINCT user_id, ts::DATE::VARCHAR AS day
 FROM events WHERE event_type = 'signup')
""",
)
def q_purchase_signup_days_intersect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERSECT at the (user, day) grain: days a user both purchased
    and signed up. Spark plans set-intersect as an aggregate + left-semi
    hash join on the full row key — one shuffle per side, no sort. The
    type filters are pushed into both scans of the same parquet file."""
    ev = load_table(spark, sf_dir, "events")

    def grain(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select("user_id", F.to_date("ts").cast("string").alias("day"))
            .distinct()
        )

    return grain("purchase").intersect(grain("signup"))


@query(
    "purchase_no_view_days_except",
    """
(SELECT DISTINCT user_id, ts::DATE::VARCHAR AS day
 FROM events WHERE event_type = 'purchase')
EXCEPT
(SELECT DISTINCT user_id, ts::DATE::VARCHAR AS day
 FROM events WHERE event_type = 'view')
""",
)
def q_purchase_no_view_days_except(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXCEPT at the (user, day) grain: purchase days with no view
    activity (blind-spot detection). Plans as aggregate + left-anti
    hash join — the same shape as the NOT EXISTS query but keyed on
    the whole row."""
    ev = load_table(spark, sf_dir, "events")

    def grain(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select("user_id", F.to_date("ts").cast("string").alias("day"))
            .distinct()
        )

    return grain("purchase").subtract(grain("view"))


# ---------------------------------------------------------------------------
# HAVING on aggregate + scalar-subquery threshold (beyond-reference joins)
# ---------------------------------------------------------------------------


@query(
    "big_ticket_orders",
    """
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       epoch_us(o.o_orderdate) AS order_date_us,
       round(o.o_totalprice, 4) AS totalprice,
       round(q.total_qty, 4) AS total_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 120) q
JOIN orders o ON o.o_orderkey = q.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q_big_ticket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18-shaped: orders whose summed line quantity exceeds a
    threshold, joined back to orders + customer. The HAVING filter runs
    map-side-partial then post-agg, so only the heavy tail reaches the
    joins; at 100 TB the agg output is the sole orderkey-shuffle and
    AQE picks broadcast vs shuffle join from its runtime size."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 120)
    )
    return (
        heavy.join(orders, heavy.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("order_date_us"),
            F.round("o_totalprice", 4).alias("totalprice"),
            F.round("total_qty", 4).alias("total_qty"),
        )
    )


@query(
    "rich_lapsed_by_segment",
    """
SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 4) AS bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '2000-01-01')
GROUP BY c_mktsegment
""",
)
def q_rich_lapsed_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22-shaped: scalar-subquery threshold (global average
    balance) + NOT EXISTS anti join, aggregated per market segment.
    The scalar is a one-row broadcast cross join (stays lazy, no
    driver collect); the anti join builds on the key-only filtered
    orders side. Both sides prune to the scanned columns."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 4).alias("bal"),
        )
    )


@query(
    "distinct_users_daily_approx",
    """
SELECT ts::DATE::VARCHAR AS day,
       count(DISTINCT user_id)::BIGINT AS n_users_exact,
       count(*) AS n_events,
       TRUE AS within_bound
FROM events GROUP BY 1
""",
)
def q_distinct_users_daily_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap for exact COUNT(DISTINCT): HyperLogLog++
    (``approx_count_distinct``, default rsd 5%). One shuffle of
    fixed-size sketches instead of the exact path's two-level
    distinct expansion — state per (day) group is O(sketch), not
    O(distinct users). The sketch estimate is not reproducible across
    engines, but its ERROR BOUND is: the frame carries
    ``within_bound = |est − exact| ≤ max(3·rsd·exact, 5)`` per day
    (exact computed alongside — the verification harness, not the
    production plan) against the oracle's literal TRUE, so the hash
    check fails iff any day's estimate drifts out of tolerance —
    upgraded from rows-only. Same bound as
    ``tests/test_sessionize.py::test_approx_distinct_within_rsd``."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.count_distinct("user_id").alias("n_users_exact"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "day",
            "n_users_exact",
            "n_events",
            (
                F.abs(F.col("n_users_approx") - F.col("n_users_exact"))
                <= F.greatest(
                    F.lit(0.15) * F.col("n_users_exact"), F.lit(5.0)
                )
            ).alias("within_bound"),
        )
    )


@query(
    "distinct_users_weekly_sketch",
    """
SELECT date_trunc('week', ts)::DATE::VARCHAR AS week,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
)
def q_distinct_users_weekly_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (the 100 TB pre-aggregation contract):
    build per-DAY DataSketches HLL sketches of user_id — the table you
    would persist — then serve the WEEKLY grain by unioning the daily
    sketches (``hll_union_agg``), never re-scanning the raw events.
    Unlike ``approx_count_distinct`` partials, these sketches are a
    user-visible column: any coarser grain (month, all-time) is one
    more union over the same persisted bytes. At lg_k=14 the sketch
    stays in exact coupon mode up to ~4k distincts per group, so the
    estimate equals DuckDB's exact COUNT(DISTINCT) at gate SF — a
    value-compared oracle for a sketch pipeline; the error-bound past
    exact mode and the union≡whole-scan property are pinned in
    ``tests/test_llm_ops.py``."""
    from financial_data_pipeline_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    daily = sketches.distinct_sketches(
        ev.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    weekly = sketches.rollup_sketches(
        daily.withColumn(
            "week", F.date_trunc("week", "day").cast("date").cast("string")
        ),
        ["week"],
    )
    return sketches.estimate(weekly, out_col="n_users")


@query(
    "events_props_variant",
    """
SELECT event_type, count(*) AS n,
       round(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             / count(CAST(json_extract_string(props, '$.k') AS BIGINT))::DOUBLE, 2)
         AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
""",
)
def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via the VARIANT type (Spark 4 binary
    JSON): ``parse_json`` once, then any number of ``variant_get``
    field reads against the decoded binary — the lakehouse upgrade
    over per-path ``get_json_object`` re-parses (``events_props_json``
    is the query-time fallback; variant is what you persist at ingest
    so 100 TB scans never re-tokenize JSON text). Both extractions stay
    JVM-side codegen."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    # bigint, not int: variant_get hard-errors (INVALID_VARIANT_CAST) on
    # an int32-overflowing payload value — fuzzed-table finding
    k = F.variant_get(v, "$.k", "bigint")
    # decimal(38,0) sum for the same overflow-exactness reason as
    # events_props_json (DuckDB promotes to HUGEINT; sum(long) wraps)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(k.cast("decimal(38,0)")) / F.count(k).cast("double"), 2
        ).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "purchase_view_full_outer",
    """
SELECT coalesce(p.user_id, v.user_id) AS user_id,
       coalesce(p.day, v.day) AS day,
       coalesce(p.n, 0) AS n_purchases,
       coalesce(v.n, 0) AS n_views
FROM (SELECT user_id, ts::DATE::VARCHAR AS day, count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) p
FULL OUTER JOIN (SELECT user_id, ts::DATE::VARCHAR AS day, count(*) AS n
                 FROM events WHERE event_type = 'view' GROUP BY 1, 2) v
ON p.user_id = v.user_id AND p.day = v.day
""",
)
def q_purchase_view_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join at the (user, day) grain: purchase activity vs
    view activity with unmatched rows kept on BOTH sides (zero-filled).
    Plans as one shuffle per pre-aggregated side on the same
    (user_id, day) key, then a shuffled full-outer hash join — both
    sides arrive already reduced, so the join input is the aggregate
    row count, not the event count."""
    ev = load_table(spark, sf_dir, "events")

    def daily(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(
                "user_id", F.to_date("ts").cast("string").alias("day")
            )
            .agg(F.count("*").alias("n"))
        )

    p, v = daily("purchase").alias("p"), daily("view").alias("v")
    return (
        p.join(
            v,
            (F.col("p.user_id") == F.col("v.user_id"))
            & (F.col("p.day") == F.col("v.day")),
            "full_outer",
        )
        .select(
            F.coalesce("p.user_id", "v.user_id").alias("user_id"),
            F.coalesce("p.day", "v.day").alias("day"),
            F.coalesce("p.n", F.lit(0)).alias("n_purchases"),
            F.coalesce("v.n", F.lit(0)).alias("n_views"),
        )
    )


@query(
    "rolling_24h_volume",
    BARS_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sum(volume) OVER (
           PARTITION BY symbol ORDER BY timestamp
           RANGE BETWEEN INTERVAL 86400 SECONDS PRECEDING AND CURRENT ROW
       ), 6) AS vol_24h,
       count(*) OVER (
           PARTITION BY symbol ORDER BY timestamp
           RANGE BETWEEN INTERVAL 86400 SECONDS PRECEDING AND CURRENT ROW
       ) AS n_bars_24h
FROM bars
""",
)
def q_rolling_24h_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (time-based, not row-count-based): trailing
    24-hour volume per symbol. Unlike the ROW frame of
    ``sliding_windows``, the frame is bounded by event-time distance,
    so it is gap-aware — missing bars shrink the window instead of
    silently widening the lookback. One hash-partition shuffle per
    symbol; the frame scan is a single ordered pass per partition."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy(F.unix_timestamp("timestamp"))
        .rangeBetween(-86400, 0)
    )
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(F.sum("volume").over(w), 6).alias("vol_24h"),
        F.count(F.lit(1)).over(w).alias("n_bars_24h"),
    )


@query(
    "edit_distance_pairs",
    # DuckDB's built-in levenshtein counts UTF-8 BYTES while Spark's
    # counts CODEPOINTS ('café'~'cafe' = 2 vs 1) — they agree only on
    # ASCII, which is why this oracle was green on driver data and
    # diverged under the fuzzed-table sweep's unicode docs. The oracle
    # therefore computes a codepoint-true Levenshtein via a nested
    # list_reduce DP over unicode() codepoints ('(?s).' so newlines
    # survive the char split); Spark's native semantic is the contract.
    """
WITH pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         substr(a.text, 1, 256) AS sa, substr(b.text, 1, 256) AS sb
  FROM documents a
  JOIN documents b
    ON substr(a.text, 1, 16) = substr(b.text, 1, 16)
   AND a.doc_id < b.doc_id
), cp AS (
  SELECT id_a, id_b,
         list_transform(regexp_extract_all(sa, '(?s).'), c -> unicode(c)) AS acp,
         list_transform(regexp_extract_all(sb, '(?s).'), c -> unicode(c)) AS bcp
  FROM pairs
)
SELECT id_a, id_b,
  CAST(CASE
    WHEN len(acp) = 0 THEN len(bcp)
    WHEN len(bcp) = 0 THEN len(acp)
    ELSE (
      list_reduce(
        list_prepend(range(0, len(bcp) + 1), list_transform(acp, c -> [c])),
        (prev, x) -> list_reduce(
            list_prepend([prev[1] + 1],
                         list_transform(range(1, len(bcp) + 1), j -> [j])),
            (row, jx) -> row || [least(
                prev[jx[1] + 1] + 1,
                row[-1] + 1,
                prev[jx[1]] + CASE WHEN bcp[jx[1]] = x[1] THEN 0 ELSE 1 END)]
        )
      )[-1]
    )
  END AS INTEGER) AS edit_dist
FROM cp
""",
)
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification with prefix blocking: docs
    sharing a 16-char prefix are candidates (equi-join on the blocking
    key — a plain hash join, no quadratic pass), then Levenshtein runs
    only on candidate pairs, capped at 256 chars so the O(n*m) kernel
    is constant-bounded per pair. The blocking-key join is the same
    shape the LSH family uses: candidate generation is an equi-join,
    expensive verification touches candidates only."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.substring("text", 1, 16).alias("block"),
        F.substring("text", 1, 256).alias("head_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.substring("text", 1, 16).alias("block"),
        F.substring("text", 1, 256).alias("head_b"),
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("head_a", "head_b").alias("edit_dist"),
        )
    )


@query(
    "bar_gaps",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp,
         lag(timestamp) OVER (PARTITION BY symbol ORDER BY timestamp) AS prev_ts
  FROM bars
)
SELECT symbol, epoch_us(prev_ts) AS gap_start_us, epoch_us(timestamp) AS gap_end_us,
       CAST(date_diff('second', prev_ts, timestamp) AS BIGINT) AS gap_seconds
FROM d
WHERE prev_ts IS NOT NULL
  AND date_diff('second', prev_ts, timestamp) > 5400
""",
)
def q_bar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gap listing (the row-level twin of validation_counters'
    time_gaps COUNT, ``data_cleaner.py:334-344``): consecutive-bar
    deltas via lag() per symbol, keeping deltas > 1.5× the 1h bar
    interval. One hash shuffle on symbol; the window is a single
    ordered pass per symbol partition (no global sort)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    prev = F.lag("timestamp").over(w)
    delta = F.unix_timestamp("timestamp") - F.unix_timestamp(prev)
    return (
        bars.select(
            "symbol",
            F.unix_micros(prev).alias("gap_start_us"),
            _ts_us().alias("gap_end_us"),
            delta.alias("gap_seconds"),
        )
        .filter(F.col("gap_start_us").isNotNull() & (F.col("gap_seconds") > 5400))
    )


@query(
    "vwap_daily",
    BARS_CTE
    + """
SELECT symbol, timestamp::DATE::VARCHAR AS day,
       round(sum(close * volume) / sum(volume), 6) AS vwap,
       round(sum(volume), 6) AS volume
FROM bars GROUP BY 1, 2
""",
)
def q_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average price per symbol — the standard
    financial rollup the reference's indicator set stops short of.
    Plain two-accumulator agg (sum of price×volume, sum of volume):
    map-side partial combine, one shuffle on (symbol, day)."""
    bars = events_as_ohlcv(spark, sf_dir)
    return (
        bars.groupBy(
            "symbol", F.to_date("timestamp").cast("string").alias("day")
        )
        .agg(
            F.round(
                F.sum(F.col("close") * F.col("volume")) / F.sum("volume"), 6
            ).alias("vwap"),
            F.round(F.sum("volume"), 6).alias("volume"),
        )
    )


@query(
    "nation_trade_volume",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS yr,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_nationkey <> n2.n_nationkey
GROUP BY 1, 2, 3
""",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7-shaped: cross-border trade volume by (supplier nation,
    customer nation, year). The nation dim joins TWICE in different
    roles (supplier side vs customer side) — both broadcast; the only
    shuffles are the fact⋈fact orderkey join and the final group-by.
    The inequality filter runs on broadcast-joined key columns before
    the aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("sn_key") != F.col("cn_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@query(
    "promo_revenue_share",
    """
SELECT CAST(year(l.l_shipdate) AS INT) AS yr,
       round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY 1
""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14-shaped: promo revenue percentage per year — a
    conditional numerator and unconditional denominator computed in
    the SAME single aggregation pass (no second scan, no join of two
    aggregates). part broadcasts; one shuffle on the year key."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.year("l_shipdate").cast("int").alias("yr"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 6).alias("promo_pct")
        )
    )


@query(
    "small_quantity_revenue",
    """
SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem l
JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thr
      FROM lineitem GROUP BY l_partkey) t
  ON l.l_partkey = t.l_partkey
WHERE l.l_quantity < t.qty_thr
""",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17-shaped: revenue from below-average-quantity line items
    — the correlated per-group scalar subquery decorrelated into an
    aggregate + self-join on the grouping key. One shuffle computes the
    per-part thresholds, the self-join reuses the same partkey
    partitioning, and AQE broadcasts the (|parts|-row) threshold side."""
    li = load_table(spark, sf_dir, "lineitem")
    thr = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thr")
    )
    return (
        li.join(thr, li.l_partkey == thr.pk)
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@query(
    "scd2_customer_segments",
    """
WITH cur AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         TIMESTAMP '1995-01-01' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
  FROM customer
), upd AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         CASE WHEN c_acctbal > 7500 THEN 'UPGRADED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer
)
SELECT c.c_custkey, c.c_mktsegment,
       epoch_us(c.valid_from) AS valid_from_us,
       -1 AS valid_to_us, 1 AS is_current
FROM cur c JOIN upd u USING (c_custkey)
WHERE u.c_mktsegment = c.c_mktsegment
UNION ALL
SELECT c.c_custkey, c.c_mktsegment, epoch_us(c.valid_from),
       epoch_us(TIMESTAMP '2000-06-01'), 0
FROM cur c JOIN upd u USING (c_custkey)
WHERE u.c_mktsegment <> c.c_mktsegment
UNION ALL
SELECT u.c_custkey, u.c_mktsegment, epoch_us(TIMESTAMP '2000-06-01'), -1, 1
FROM cur c JOIN upd u USING (c_custkey)
WHERE u.c_mktsegment <> c.c_mktsegment
""",
)
def q_scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension merge (``operators/scd.py``): bootstrap the
    customer dim as-of 1995, apply an update snapshot (high-balance
    customers re-segmented) effective 2000-06-01, and emit the full
    versioned table — changed keys carry a closed row + a new open row,
    unchanged keys pass through. The update snapshot broadcasts; the
    dimension is never shuffled. Oracle is the three-branch UNION of
    the same merge semantics."""
    from financial_data_pipeline_spark.operators.scd import (
        scd2_init,
        scd2_merge,
    )

    cust = load_table(spark, sf_dir, "customer")
    current = scd2_init(cust, "1995-01-01")
    updates = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_acctbal") > 7500, F.lit("UPGRADED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    merged = scd2_merge(
        current, updates, ["c_custkey"], ["c_mktsegment"], "2000-06-01"
    )
    return merged.select(
        "c_custkey",
        "c_mktsegment",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.coalesce(F.unix_micros("valid_to"), F.lit(-1)).alias("valid_to_us"),
        F.col("is_current").cast("int").alias("is_current"),
    )


@query(
    "tfidf_top_terms",
    """
WITH tok AS (
  SELECT doc_id, t AS token
  -- ASCII-only case fold (translate, not lower): unicode lowercasing
  -- is engine-specific ('\u0130' maps to i+combining-dot in the JVM but
  -- plain i in utf8proc), so tokens differed on non-ASCII caps (fuzz)
  FROM documents, unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+')) AS u(t)
  WHERE length(t) >= 3
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf)
SELECT doc_id, token, tfidf, rnk FROM (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY round(tf.tf * ln(n.n_docs / dfreq.df), 6)
                                     DESC, tf.token) AS rnk
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
) WHERE rnk <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document.

    Corpus path: tokenize (JVM split/explode — no Python), term
    frequency per (doc, token), then document frequency as a COUNT
    window partitioned on the token — an agg-then-join here would fork
    the DAG and tokenize the corpus twice (each branch re-runs the
    explode); the window keeps ONE tf materialization flowing through
    token-shuffle → doc-shuffle. Corpus size comes from a map-only
    scan of the documents table (no explode), one-row broadcast.
    Ranking is a per-doc window — never a global sort; ties break on
    the token so the result is deterministic across engines."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        F.sum(
            (
                F.size(
                    F.filter(
                        F.split(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), "[^a-z]+"),
                        lambda t: F.length(t) >= 3,
                    )
                )
                > 0
            ).cast("long")
        )
        .cast("double")
        .alias("n_docs")
    )
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), "[^a-z]+")).alias("token"),
        )
        .filter(F.length("token") >= 3)
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    w_df = Window.partitionBy("token")
    scored = (
        tf.withColumn("df", F.count("*").over(w_df))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tfidf", "rnk")
    )


@query(
    "corpus_length_stats_approx",
    r"""
SELECT source, count(*) AS n_docs,
       round(quantile_cont(coalesce(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')), 0), 0.5), 6) AS p50_exact,
       round(quantile_cont(coalesce(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')), 0), 0.95), 6) AS p95_exact,
       TRUE AS p50_within, TRUE AS p95_within
FROM documents GROUP BY source
""",
)
def q_corpus_length_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap for exact interpolated percentiles:
    ``percentile_approx`` (Greenwald-Khanna sketch, accuracy 1/1e4).
    Sketches merge associatively, so the shuffle carries fixed-size
    state per (source) group instead of every length value — the same
    trade as approx_count_distinct vs exact COUNT(DISTINCT). The
    sketch values are not reproducible across engines, but the error
    bound is: the frame carries ``|approx − exact| ≤ max(0.05·exact,
    2.0)`` per quantile (exact interpolated percentile computed
    alongside — the verification harness) against the oracle's
    literal TRUE, so the hash check fails iff a quantile estimate
    drifts out of tolerance — upgraded from rows-only. Same bound as
    ``tests/test_curation.py::test_approx_percentiles_close_to_exact``."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(ws_tokens(F.col("text"), lower=False))
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.percentile_approx(n_tokens, 0.5, 10000).alias("p50a"),
        F.percentile_approx(n_tokens, 0.95, 10000).alias("p95a"),
        F.percentile(n_tokens, F.lit(0.5)).alias("p50e"),
        F.percentile(n_tokens, F.lit(0.95)).alias("p95e"),
    )

    def _within(a: str, e: str) -> F.Column:
        return F.abs(F.col(a).cast("double") - F.col(e)) <= F.greatest(
            F.lit(0.05) * F.col(e), F.lit(2.0)
        )

    return agg.select(
        "source",
        "n_docs",
        F.round("p50e", 6).alias("p50_exact"),
        F.round("p95e", 6).alias("p95_exact"),
        _within("p50a", "p50e").alias("p50_within"),
        _within("p95a", "p95e").alias("p95_within"),
    )


@query(
    "embedding_dim_stats",
    """
WITH flat AS (
  SELECT unnest(range(len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT CAST(pos AS INT) AS pos, count(*) AS n,
       round(avg(val), 6) AS avg_v,
       round(stddev_samp(val), 6) AS std_v,
       round(min(val), 6) AS min_v, round(max(val), 6) AS max_v
FROM flat GROUP BY 1
""",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution profile (the drift /
    normalization check an embedding pipeline runs before indexing):
    ``posexplode`` flattens each vector to (pos, val) rows JVM-side —
    no Python — and one groupBy on the 64 dimension keys computes the
    moments. The shuffle carries 64 × partial-agg rows per task, not
    the flattened data (map-side combine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("pos", "val")
    ).select("pos", F.col("val").cast("double").alias("val"))
    return flat.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.round(F.avg("val"), 6).alias("avg_v"),
        F.round(F.stddev_samp("val"), 6).alias("std_v"),
        F.round(F.min("val"), 6).alias("min_v"),
        F.round(F.max("val"), 6).alias("max_v"),
    )


@query(
    "doc_chunks",
    """
WITH chunks AS (
  SELECT doc_id,
         unnest(range(0, greatest(length(text) - 100, 1), 400)) AS off,
         text
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, CAST(off AS INT) AS chunk_off,
       CAST(length(substr(text, CAST(off AS INT) + 1, 500)) AS INT) AS chunk_len,
       md5(substr(text, CAST(off AS INT) + 1, 500)) AS chunk_md5
FROM chunks
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (size 500 chars, overlap
    100 — the sequence-prep step before tokenize/pack in a training
    pipeline). Offsets come from ``sequence`` + ``explode`` computed
    per row JVM-side (no Python, no join): a map-only operator whose
    output is ~len/stride rows per doc. The md5 content address per
    chunk is what downstream exact-dedup keys on."""
    from financial_data_pipeline_spark.operators.curation import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, size=500, overlap=100).select(
        "doc_id",
        "chunk_off",
        "chunk_len",
        F.md5("chunk_text").alias("chunk_md5"),
    )


@query(
    "customer_running_spend",
    """
SELECT o_custkey,
       epoch_us(o_orderdate) AS order_date_us,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 4) AS spend_to_date,
       o_orderkey
FROM orders
""",
)
def q_customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) total per customer: an UNBOUNDED PRECEDING
    ROWS frame partitioned on the customer key — one hash shuffle, one
    ordered pass per partition, never a global sort. Tie-break on
    orderkey makes the prefix sums deterministic for same-day orders."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        F.unix_micros("o_orderdate").alias("order_date_us"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("spend_to_date"),
        "o_orderkey",
    )


@query(
    "ohlc_unpivot",
    BARS_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us, field,
       round(price, 6) AS price
FROM (
  SELECT symbol, timestamp, 'open' AS field, open AS price FROM bars
  UNION ALL
  SELECT symbol, timestamp, 'high', high FROM bars
  UNION ALL
  SELECT symbol, timestamp, 'low', low FROM bars
  UNION ALL
  SELECT symbol, timestamp, 'close', close FROM bars
)
""",
)
def q_ohlc_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long): the four price columns melt into (field,
    price) rows — the shape chart/feature pipelines consume. Spark's
    native unpivot plans as a single Expand (one pass, 4× output
    rows), not four scans+union."""
    bars = events_as_ohlcv(spark, sf_dir)
    return (
        bars.unpivot(
            ["symbol", "timestamp"],
            ["open", "high", "low", "close"],
            "field",
            "price",
        )
        .select(
            "symbol",
            _ts_us().alias("ts_us"),
            "field",
            F.round("price", 6).alias("price"),
        )
    )


@query(
    "chunk_packing_plan",
    """
WITH chunks AS (
  SELECT d.doc_id, d.source,
         unnest(range(0, greatest(length(d.text) - 100, 1), 400)) AS off,
         d.text
  FROM documents d WHERE length(d.text) > 0
), sized AS (
  SELECT doc_id, source, CAST(off AS INT) AS chunk_off,
         length(substr(text, CAST(off AS INT) + 1, 500)) AS chunk_len
  FROM chunks
)
SELECT doc_id, chunk_off, source,
       CAST((sum(chunk_len) OVER (
           PARTITION BY source ORDER BY doc_id, chunk_off
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) - chunk_len) // 2000 AS INT) AS bin_id
FROM sized
""",
)
def q_chunk_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: assign each 500-char chunk to a
    fixed-budget training bin (2000 chars) via a prefix-sum window per
    source stratum — the deterministic, shuffle-once alternative to
    greedy first-fit (a bin may straddle a boundary by at most one
    chunk; acceptable for packing efficiency and fully parallel).
    Composes the chunker (sequence+explode, map-only) with a
    per-stratum cumulative window — no global sort, no Python."""
    from financial_data_pipeline_spark.operators.curation import (
        chunk_documents,
    )

    budget = 2000
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sized = chunk_documents(docs, size=500, overlap=100).select(
        "doc_id", "source", "chunk_off", "chunk_len"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sized.select(
        "doc_id",
        "chunk_off",
        "source",
        (
            (F.sum("chunk_len").over(w) - F.col("chunk_len"))
            / F.lit(budget)
        )
        .cast("int")
        .alias("bin_id"),
    )


@query(
    "embedding_norms",
    """
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding,
                                          x -> CAST(x AS DOUBLE) * x))), 6) AS l2,
       round(list_sum(list_transform(embedding,
                                     x -> CAST(abs(x) AS DOUBLE))), 6) AS l1,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_v
FROM embeddings
""",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector norm audit via JVM higher-order array functions —
    ``transform`` + ``aggregate`` fold inside whole-stage codegen, no
    explode (zero row amplification), no Python. The l2≈1 check is the
    normalization gate an ANN index build runs on its input; l1 and
    max catch degenerate/clipped vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    abs_sum = F.aggregate(
        F.transform("embedding", lambda x: F.abs(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 6).alias("l2"),
        F.round(abs_sum, 6).alias("l1"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_v"),
    )


@query(
    "video_frame_calendar",
    """
SELECT doc_id,
       CAST(unnest(range(0, n_chars * 10 + 1, 1000)) AS BIGINT) AS frame_ms,
       CAST(length(text) AS BIGINT) AS size_bytes
FROM documents WHERE length(text) > 0
""",
)
def q_video_frame_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan over synthetic media metadata (duration
    derived deterministically from doc length — the container has no
    codecs, SURVEY.md multimodal note): one row per sampled frame
    timestamp via ``operators.multimodal.frame_sample`` (sequence +
    explode, fully JVM-side — the decode of each sampled frame is the
    stubbed Arrow-UDF step in `multimodal_features`)."""
    from financial_data_pipeline_spark.operators.multimodal import (
        frame_sample,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.col("text").alias("payload"),
            (F.col("n_chars") * 10).alias("duration_ms"),
        )
    )
    return frame_sample(docs, payload_col="payload", every_ms=1000)


@query(
    "lineitems_in_order_windows",
    """
SELECT o.o_orderkey AS order_id,
       count(*) AS n_shipped,
       round(sum(l.l_extendedprice), 4) AS shipped_value
FROM orders o
JOIN lineitem l
  ON l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 5 DAY
WHERE o.o_totalprice > 480000
GROUP BY 1
""",
)
def q_lineitems_in_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi key): lineitems shipped inside ANY
    high-value order's 5-day window. Naive Spark plan is a
    BroadcastNestedLoopJoin theta join; ``rangejoin.interval_join``
    bucketizes time (bucket = window length → ≤2 buckets/interval) so
    it runs as an ordinary hash join — shuffle O(n), never O(n·m)."""
    from financial_data_pipeline_spark.operators.rangejoin import interval_join

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    windows = o.filter(F.col("o_totalprice") > 480000).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 5 DAYS")).alias("w_end"),
    )
    pts = li.select("l_shipdate", "l_extendedprice")
    joined = interval_join(
        pts,
        windows,
        point_ts="l_shipdate",
        start_col="w_start",
        end_col="w_end",
        bucket_seconds=5 * 86_400,
    )
    return joined.groupBy("order_id").agg(
        F.count(F.lit(1)).alias("n_shipped"),
        F.round(F.sum("l_extendedprice"), 4).alias("shipped_value"),
    )


@query(
    "status_report",
    BARS_CTE
    + """
SELECT symbol, count(*) AS records,
       epoch_us(min(timestamp)) AS earliest_us,
       epoch_us(max(timestamp)) AS latest_us,
       min(close) AS min_price, max(close) AS max_price,
       round(avg(volume), 6) AS avg_volume
FROM bars GROUP BY symbol
""",
)
def q_status_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol pipeline status summary
    (``pipeline_status_report.py:96-131``): record totals, date range,
    price range, average volume per symbol in one grouped pass."""
    from financial_data_pipeline_spark.operators.stats import status_report

    bars = events_as_ohlcv(spark, sf_dir)
    return status_report(bars).select(
        "symbol",
        "records",
        F.unix_micros("earliest").alias("earliest_us"),
        F.unix_micros("latest").alias("latest_us"),
        "min_price",
        "max_price",
        F.round("avg_volume", 6).alias("avg_volume"),
    )


# ---------------------------------------------------------------------------
# Validation report (§1.3) — the full report dict as one comparable row
# ---------------------------------------------------------------------------

# Deterministic dirt over the hourly bars, keyed on the hour index so
# BOTH engines inject identical defects: null timestamps (dropped),
# null open/close (imputed), negative volume (row dropped), high below
# low (repaired), zero volume, plus exact-copy duplicate rows.
_DIRTY_BARS_SQL = """
, b0 AS (
  SELECT symbol, timestamp, open, high, low, close, volume,
         (epoch_us(timestamp) // 3600000000) AS bkt
  FROM bars
), d0 AS (
  SELECT symbol,
         CASE WHEN bkt % 37 = 13 THEN NULL ELSE timestamp END AS timestamp,
         CASE WHEN bkt % 13 = 5 THEN NULL ELSE open END AS open,
         CASE WHEN bkt % 19 = 2 THEN low * 0.5 ELSE high END AS high,
         low,
         CASE WHEN bkt % 11 = 3 THEN NULL ELSE close END AS close,
         CASE WHEN bkt % 23 = 7 THEN -(volume + 1.0)
              WHEN bkt % 31 = 9 THEN 0.0
              ELSE volume END AS volume,
         bkt
  FROM b0
), dirty AS (
  SELECT symbol, timestamp, open, high, low, close, volume FROM d0
  UNION ALL
  SELECT symbol, timestamp, open, high, low, close, volume
  FROM d0 WHERE bkt % 10 = 0
)
"""

_REPORT_PREFIX = (
    BARS_CTE
    + _DIRTY_BARS_SQL
    + """
, v AS (SELECT * FROM dirty WHERE timestamp IS NOT NULL),
dd AS (
  SELECT * FROM v
  QUALIFY row_number() OVER (PARTITION BY symbol, timestamp ORDER BY timestamp) = 1
),
f1 AS (
  SELECT symbol, timestamp,
         last_value(open IGNORE NULLS) OVER w AS open,
         last_value(high IGNORE NULLS) OVER w AS high,
         last_value(low IGNORE NULLS) OVER w AS low,
         last_value(close IGNORE NULLS) OVER w AS close,
         last_value(volume IGNORE NULLS) OVER w AS volume
  FROM dd
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
f2 AS (
  SELECT symbol, timestamp,
         first_value(open IGNORE NULLS) OVER wf AS open,
         first_value(high IGNORE NULLS) OVER wf AS high,
         first_value(low IGNORE NULLS) OVER wf AS low,
         first_value(close IGNORE NULLS) OVER wf AS close,
         first_value(volume IGNORE NULLS) OVER wf AS volume
  FROM f1
  WINDOW wf AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
nn AS (
  SELECT * FROM f2
  WHERE (open IS NULL OR open >= 0) AND (high IS NULL OR high >= 0)
    AND (low IS NULL OR low >= 0) AND (close IS NULL OR close >= 0)
    AND (volume IS NULL OR volume >= 0)
),
q AS (
  SELECT symbol,
         quantile_cont(open, 0.25) AS q1_open, quantile_cont(open, 0.75) AS q3_open,
         quantile_cont(high, 0.25) AS q1_high, quantile_cont(high, 0.75) AS q3_high,
         quantile_cont(low, 0.25) AS q1_low, quantile_cont(low, 0.75) AS q3_low,
         quantile_cont(close, 0.25) AS q1_close, quantile_cont(close, 0.75) AS q3_close,
         quantile_cont(volume, 0.25) AS q1_volume, quantile_cont(volume, 0.75) AS q3_volume
  FROM nn GROUP BY symbol
),
j AS (SELECT nn.*, q.q1_open, q.q3_open, q.q1_high, q.q3_high, q.q1_low, q.q3_low,
             q.q1_close, q.q3_close, q.q1_volume, q.q3_volume
      FROM nn JOIN q USING (symbol)),
outs AS (
  SELECT
    sum((open < q1_open - 1.5*(q3_open-q1_open) OR open > q3_open + 1.5*(q3_open-q1_open))::INT)::BIGINT AS outliers_open,
    sum((high < q1_high - 1.5*(q3_high-q1_high) OR high > q3_high + 1.5*(q3_high-q1_high))::INT)::BIGINT AS outliers_high,
    sum((low < q1_low - 1.5*(q3_low-q1_low) OR low > q3_low + 1.5*(q3_low-q1_low))::INT)::BIGINT AS outliers_low,
    sum((close < q1_close - 1.5*(q3_close-q1_close) OR close > q3_close + 1.5*(q3_close-q1_close))::INT)::BIGINT AS outliers_close,
    sum((volume < q1_volume - 1.5*(q3_volume-q1_volume) OR volume > q3_volume + 1.5*(q3_volume-q1_volume))::INT)::BIGINT AS outliers_volume
  FROM j
)
"""
)

# repair middle: IQR-clip, count violations post-clip, repair high/low
_REPAIR_MIDDLE = """
, cl AS (
  SELECT symbol, timestamp,
    CASE WHEN open IS NULL THEN NULL ELSE greatest(q1_open - 1.5*(q3_open-q1_open), least(q3_open + 1.5*(q3_open-q1_open), open)) END AS open,
    CASE WHEN high IS NULL THEN NULL ELSE greatest(q1_high - 1.5*(q3_high-q1_high), least(q3_high + 1.5*(q3_high-q1_high), high)) END AS high,
    CASE WHEN low IS NULL THEN NULL ELSE greatest(q1_low - 1.5*(q3_low-q1_low), least(q3_low + 1.5*(q3_low-q1_low), low)) END AS low,
    CASE WHEN close IS NULL THEN NULL ELSE greatest(q1_close - 1.5*(q3_close-q1_close), least(q3_close + 1.5*(q3_close-q1_close), close)) END AS close,
    CASE WHEN volume IS NULL THEN NULL ELSE greatest(q1_volume - 1.5*(q3_volume-q1_volume), least(q3_volume + 1.5*(q3_volume-q1_volume), volume)) END AS volume
  FROM j
),
a_ohlc AS (
  SELECT sum((NOT (high >= low AND high >= open AND high >= close
                   AND low <= open AND low <= close))::INT)::BIGINT AS invalid_ohlc
  FROM cl
),
rp AS (
  SELECT symbol, timestamp, open, close, volume,
    CASE WHEN NOT (high >= low AND high >= open AND high >= close AND low <= open AND low <= close)
         THEN greatest(open, close, high) ELSE high END AS high,
    CASE WHEN NOT (high >= low AND high >= open AND high >= close AND low <= open AND low <= close)
         THEN least(open, close, low) ELSE low END AS low
  FROM cl
)
"""

# strict middle: no clip/repair — count violations on raw values, then
# DROP rows failing positive-price / consistency / null filters
# (clean_ohlcv strict order)
_STRICT_MIDDLE = """
, a_ohlc AS (
  SELECT sum((NOT (high >= low AND high >= open AND high >= close
                   AND low <= open AND low <= close))::INT)::BIGINT AS invalid_ohlc
  FROM j
),
rp AS (
  SELECT symbol, timestamp, open, high, low, close, volume
  FROM j
  WHERE open > 0 AND high > 0 AND low > 0 AND close > 0 AND volume >= 0
    AND high >= low AND high >= open AND high >= close
    AND low <= open AND low <= close
    AND open IS NOT NULL AND high IS NOT NULL AND low IS NOT NULL
    AND close IS NOT NULL AND volume IS NOT NULL
)
"""

_REPORT_TAIL = """
, ivt AS (
  SELECT symbol, open, high, low, close, volume,
         (epoch_us(timestamp) - epoch_us(lag(timestamp) OVER w)) / 1000000.0 AS iv_s,
         abs(close / lag(close) OVER w - 1.0) AS chg
  FROM rp
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
),
medt AS (SELECT symbol, quantile_cont(iv_s, 0.5) AS med_iv FROM ivt GROUP BY symbol),
fin AS (
  SELECT
    sum((ivt.open = 0 OR ivt.high = 0 OR ivt.low = 0 OR ivt.close = 0)::INT)::BIGINT AS zero_price_rows,
    sum((ivt.volume = 0)::INT)::BIGINT AS zero_volume_rows,
    sum((ivt.chg > 0.2)::INT)::BIGINT AS extreme_price_changes,
    sum((ivt.iv_s > 6 * medt.med_iv)::INT)::BIGINT AS time_gaps,
    count(*)::BIGINT AS final_rows,
    (sum((ivt.open IS NULL)::INT) + sum((ivt.high IS NULL)::INT) + sum((ivt.low IS NULL)::INT)
     + sum((ivt.close IS NULL)::INT) + sum((ivt.volume IS NULL)::INT))::BIGINT AS nans_after
  FROM ivt JOIN medt USING (symbol)
),
md AS (
  SELECT iv_s AS most_common_interval_seconds, n, sum(n) OVER () AS tot
  FROM (SELECT iv_s, count(*) AS n FROM ivt WHERE iv_s IS NOT NULL GROUP BY 1)
  QUALIFY row_number() OVER (ORDER BY n DESC, iv_s ASC) = 1
),
a_ts AS (
  SELECT count(*)::BIGINT AS total_records,
         (count(*) - count(timestamp))::BIGINT AS invalid_timestamps
  FROM dirty
),
a_dup AS (
  SELECT (count(*) - (SELECT count(*) FROM (SELECT DISTINCT symbol, timestamp FROM v)))::BIGINT
           AS duplicates_removed
  FROM v
),
a_nan AS (
  SELECT (sum((open IS NULL)::INT) + sum((high IS NULL)::INT) + sum((low IS NULL)::INT)
          + sum((close IS NULL)::INT) + sum((volume IS NULL)::INT))::BIGINT AS initial_nans
  FROM dd
),
a_neg AS (
  SELECT sum((open < 0 OR high < 0 OR low < 0 OR close < 0 OR volume < 0)::INT)::BIGINT
           AS negative_rows
  FROM f2
)
SELECT a_ts.total_records, a_ts.invalid_timestamps, a_dup.duplicates_removed,
       a_nan.initial_nans, a_neg.negative_rows,
       outs.outliers_open, outs.outliers_high, outs.outliers_low,
       outs.outliers_close, outs.outliers_volume,
       (coalesce(outs.outliers_open, 0) + coalesce(outs.outliers_high, 0)
        + coalesce(outs.outliers_low, 0) + coalesce(outs.outliers_close, 0)
        + coalesce(outs.outliers_volume, 0))::BIGINT AS outliers_fixed,
       a_ohlc.invalid_ohlc,
       fin.zero_price_rows, fin.zero_volume_rows, fin.extreme_price_changes,
       fin.time_gaps, md.most_common_interval_seconds,
       (md.tot - md.n)::BIGINT AS irregular_intervals,
       fin.final_rows, fin.nans_after,
       fin.final_rows AS valid_records,
       fin.final_rows > 0 AS is_valid,
       true AS time_features_added
FROM a_ts, a_dup, a_nan, a_neg, outs, a_ohlc, fin, md
"""

_REPORT_ORACLE = _REPORT_PREFIX + _REPAIR_MIDDLE + _REPORT_TAIL
_REPORT_STRICT_ORACLE = _REPORT_PREFIX + _STRICT_MIDDLE + _REPORT_TAIL


def _dirty_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DIRTY_BARS_SQL`` — identical dirt, same order."""
    bars = events_as_ohlcv(spark, sf_dir)
    b0 = bars.withColumn("bkt", F.expr("unix_micros(timestamp) div 3600000000"))
    bkt = F.col("bkt")
    d0 = b0.select(
        "symbol",
        F.when(bkt % 37 == 13, F.lit(None).cast("timestamp"))
        .otherwise(F.col("timestamp"))
        .alias("timestamp"),
        F.when(bkt % 13 == 5, F.lit(None).cast("double"))
        .otherwise(F.col("open"))
        .alias("open"),
        F.when(bkt % 19 == 2, F.col("low") * 0.5)
        .otherwise(F.col("high"))
        .alias("high"),
        "low",
        F.when(bkt % 11 == 3, F.lit(None).cast("double"))
        .otherwise(F.col("close"))
        .alias("close"),
        F.when(bkt % 23 == 7, -(F.col("volume") + 1.0))
        .when(bkt % 31 == 9, F.lit(0.0))
        .otherwise(F.col("volume"))
        .alias("volume"),
        "bkt",
    )
    dirty = d0.unionAll(d0.filter(bkt % 10 == 0))
    return dirty.drop("bkt")


@query("validation_report", _REPORT_ORACLE)
def q_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.3 validation report: the full ``validate_and_clean`` report
    dict (``data_cleaner.py:82-167``) as ONE comparable row of counters
    over deterministically-dirtied bars — every cleaning stage's delta
    (dups, nans, negatives, per-column IQR outliers, OHLC violations,
    gaps, zeros, extremes) checked value-for-value against a DuckDB
    replica of the whole staged pipeline."""
    from financial_data_pipeline_spark.plans.report import report_counters

    return report_counters(
        _dirty_bars(spark, sf_dir), mode="repair", price_tolerance=0.0
    )


@query("validation_report_strict", _REPORT_STRICT_ORACLE)
def q_validation_report_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STRICT-mode report over the same dirtied bars: violations
    are counted on raw (unclipped) values and the offending rows are
    DROPPED rather than repaired — every drop-path counter
    (negative/positive filters, OHLC consistency, null filter)
    value-checked against the staged DuckDB twin."""
    from financial_data_pipeline_spark.plans.report import report_counters

    return report_counters(
        _dirty_bars(spark, sf_dir), mode="strict", price_tolerance=0.0
    )


# ---------------------------------------------------------------------------
# ANN quality measurement + NB quality classifier (round-3 additions)
# ---------------------------------------------------------------------------


def _ann_recall_sql(probe_bits: int = 0) -> str:
    """Quadratic DuckDB twin of exact-vs-LSH recall@10: identical plane
    literals, identical (rounded cos desc, id asc) ranking on both
    sides. ``probe_bits=1`` widens the ANN side to the query bucket
    plus every 1-bit flip (multi-probe twin)."""
    planes = _lsh_planes()
    bucket = " + ".join(
        "(CASE WHEN list_inner_product(v, [{lits}]) >= 0 THEN {w} ELSE 0 END)".format(
            lits=", ".join(repr(x) for x in p), w=1 << i
        )
        for i, p in enumerate(planes)
    )
    if probe_bits:
        flips = ", ".join(
            f"xor(q.qbucket, {1 << i})" for i in range(len(planes))
        )
        probe_cond = f"b.bucket IN (q.qbucket, {flips})"
    else:
        probe_cond = "b.bucket = q.qbucket"
    return f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket FROM embeddings
), q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 16),
exact_k AS (
  SELECT qid, b.vec_id AS nid
  FROM b, q
  QUALIFY row_number() OVER (
    PARTITION BY qid
    ORDER BY round(coalesce(list_dot_product(b.v, q.qv) / nullif(sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) DESC, b.vec_id ASC
  ) <= 10
), ann_k AS (
  SELECT qid, b.vec_id AS nid
  FROM b, q WHERE {probe_cond}
  QUALIFY row_number() OVER (
    PARTITION BY qid
    ORDER BY round(coalesce(list_dot_product(b.v, q.qv) / nullif(sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) DESC, b.vec_id ASC
  ) <= 10
)
SELECT e.qid AS query_id,
       count(a.nid) AS hits,
       round(count(a.nid) / 10.0, 4) AS recall
FROM exact_k e
LEFT JOIN ann_k a ON e.qid = a.qid AND e.nid = a.nid
GROUP BY e.qid
"""


@query("ann_recall_at_10", _ann_recall_sql())
def q_ann_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of the LSH-bucketed ANN index against the
    exact k-NN join, per query — the measure-don't-guess harness for
    tuning index parameters (planes / bands / nprobe). Exact side: one
    corpus scan (broadcast query matrix + local top-k); ANN side:
    bucket-key hash join pruning ~1/2^planes before any distance math;
    the recall join itself touches only the two tiny top-k frames."""
    from financial_data_pipeline_spark.operators.similarity import (
        knn_join,
        lsh_topk_join,
        recall_at_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    exact = knn_join(emb, queries, k=10)
    ann = lsh_topk_join(emb, _lsh_planes(), queries, k=10)
    return recall_at_k(exact, ann, k=10)


@query("ann_recall_multiprobe", _ann_recall_sql(probe_bits=1))
def q_ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH recall@10: the ANN side additionally probes all
    buckets at Hamming distance 1 (each hyperplane sign flipped once) —
    1 + n_planes probes per query, recovering neighbors that fell just
    across one plane. Paired with ``ann_recall_at_10`` this measures
    the recall-vs-scan trade of the probe width on real data rather
    than guessing it."""
    from financial_data_pipeline_spark.operators.similarity import (
        knn_join,
        lsh_topk_join,
        recall_at_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    exact = knn_join(emb, queries, k=10)
    ann = lsh_topk_join(emb, _lsh_planes(), queries, k=10, probe_bits=1)
    return recall_at_k(exact, ann, k=10)


@query(
    "nb_lang_score",
    r"""
WITH toks AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), toks_ne AS (SELECT * FROM toks WHERE tok <> ''),
counts AS (
  SELECT tok, sum(y) AS c_pos, sum(1 - y) AS c_neg
  FROM toks_ne GROUP BY tok
), totals AS (
  SELECT sum(c_pos)::DOUBLE AS t_pos, sum(c_neg)::DOUBLE AS t_neg,
         count(*)::DOUBLE AS v
  FROM counts
), weights AS (
  SELECT tok,
         ln((c_pos + 1) / (t_pos + v)) - ln((c_neg + 1) / (t_neg + v)) AS w
  FROM counts CROSS JOIN totals
)
SELECT t.doc_id, count(*) AS n_tokens,
       round(avg(w.w), 4) AS avg_log_odds
FROM toks_ne t JOIN weights w USING (tok)
GROUP BY t.doc_id
""",
)
def q_nb_lang_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained Naive-Bayes quality/language classifier (fastText-
    style, no external model): weak labels from the ``lang`` metadata
    column (en vs rest), Laplace-smoothed multinomial weights trained
    in one token-keyed aggregate, every doc scored by its mean token
    log-odds. Train + score share one tokenize pass."""
    from financial_data_pipeline_spark.operators.text import nb_class_scores

    docs = load_table(spark, sf_dir, "documents")
    return nb_class_scores(docs, F.col("lang") == "en")


# ---------------------------------------------------------------------------
# Additional relational plan shapes (q4 / q8 / q13 / q19)
# ---------------------------------------------------------------------------


@query(
    "late_order_priority_counts",
    """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q_late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: orders with at least one line shipped >30 days
    after the order date, counted by priority. The correlated EXISTS
    (it references o_orderdate) decorrelates to ONE left-semi hash join
    on orderkey carrying the non-equi ship-lag predicate as the join
    condition — the lineitem side projects only (orderkey, shipdate)
    and the date filter prunes the orders scan first."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "market_share_by_year",
    """
SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l.l_extendedprice * (1 - l.l_discount)
                      ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n1.n_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_type = 'STANDARD'
GROUP BY 1
""",
)
def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape (national market share): NATION_3's share of
    STANDARD-part revenue sold into EUROPE customers, by order year.
    Six dimension joins — part, supplier, nation×2, customer-side
    nation, region — ALL broadcast; the only wide shuffles are the
    lineitem⋈orders fact join and the final year rollup. The share is
    a conditional-sum / sum ratio in one aggregate (no second pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n2 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r.select("r_regionkey")),
              F.col("cr_key") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "customer_order_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape (customer order-count distribution): LEFT OUTER
    join so zero-order customers survive with count 0 (count(col)
    skips the null orderkeys), then a second aggregate over the
    per-customer counts. The join filter is pushed to the orders scan
    BEFORE the join (filter-then-outer-join ≠ outer-join-then-filter
    for null-extended rows — the filter must stay on the stream side).
    First agg shuffles on custkey; the distribution agg is over ≤
    |distinct counts| rows."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "disjunctive_part_revenue",
    """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q_disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape (disjunctive predicates): three OR'd
    brand/size/quantity branches. The part side is pre-filtered to the
    UNION of brand/size branches (that disjunct only references part
    columns, so it pushes into the broadcast build side and the scan);
    the mixed part+lineitem disjunction evaluates as the hash-join
    residual condition — one scan each side, no union-of-three-joins
    rewrite needed."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35))
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    joined = li.join(
        F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
        (li.l_partkey == F.col("p_partkey")) & cond,
    )
    return joined.agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation pipeline (plans/curation_pipeline.py)
# ---------------------------------------------------------------------------

_CURATION_LANGS = ("en", "de", "fr", "es")


def _curation_report_sql() -> str:
    """Full staged DuckDB twin of ``curation_report``: planted exact
    copies, sequential lang → exact → near-dup stages (the relational
    stages re-run on each prior stage's survivors, exactly like the
    Spark plan), set-independent gopher/contamination flags, one
    CASE-precedence label, one counter row."""
    langs = ", ".join(f"'{lang}'" for lang in _CURATION_LANGS)
    return rf"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang
  FROM documents WHERE doc_id % 20 = 0
), s1 AS (SELECT * FROM corpus WHERE lang IN ({langs})),
ch AS (
  SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM s1
), winners AS (SELECT min(doc_id) AS doc_id FROM ch GROUP BY h),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
        FROM s1 WHERE doc_id IN (SELECT doc_id FROM winners))
), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
  WHERE i / (x.sz + y.sz - i)::DOUBLE >= 0.5
), e AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
), losers AS (
  SELECT s AS doc_id FROM reach GROUP BY s HAVING least(s, min(d)) < s
), gbase AS (
  -- coalesce(text,''): gopher features on NULL docs must evaluate to
  -- keep=false (n_words=0) in BOTH engines, not NULL rules whose
  -- counting is engine-specific (NULL-text fuzz; matches
  -- curation.gopher_rules' entry coalesce)
  SELECT doc_id, coalesce(text, '') AS text,
         regexp_extract_all(translate(coalesce(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks,
         str_split(coalesce(text, ''), chr(10)) AS lines
  FROM corpus
), gf AS (
  SELECT doc_id,
    (len(toks) BETWEEN 20 AND 100000)
    AND (list_sum([len(x) for x in toks])::DOUBLE / greatest(len(toks), 1)
         BETWEEN 3.0 AND 10.0)
    AND (((len(text) - len(replace(text, '#', '')))
          + (len(text) - len(replace(text, '...', ''))) // 3)::DOUBLE
         / greatest(len(toks), 1) < 0.1)
    AND (len([ln for ln in lines if starts_with(ln, '- ')
              OR starts_with(ln, '* ') OR starts_with(ln, '• ')])::DOUBLE
         / greatest(len(lines), 1) < 0.9)
    AND (len([ln for ln in lines if ends_with(ln, '...')])::DOUBLE
         / greatest(len(lines), 1) < 0.3)
    AND ((len(lines) - len(list_distinct(lines)))::DOUBLE
         / greatest(len(lines), 1) < 0.3) AS keep
  FROM gbase
), csh AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS shh
  FROM (
    SELECT doc_id, unnest(list_distinct(
      CASE WHEN len(toks) >= 3
           THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
           ELSE [array_to_string(toks, ' ')] END)) AS s
    FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
          FROM corpus))
), bsh AS (
  SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS shh
  FROM (
    SELECT unnest(list_distinct(
      CASE WHEN len(toks) >= 3
           THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
           ELSE [array_to_string(toks, ' ')] END)) AS s
    FROM (SELECT regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
          FROM documents WHERE doc_id % 97 = 0))
), contam AS (
  SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b ON c.shh = b.shh
), labeled AS (
  SELECT c.doc_id,
    CASE WHEN c.lang NOT IN ({langs}) THEN 'lang'
         WHEN c.doc_id NOT IN (SELECT doc_id FROM winners) THEN 'exact_dup'
         WHEN c.doc_id IN (SELECT doc_id FROM losers) THEN 'near_dup'
         WHEN NOT gf.keep THEN 'quality'
         WHEN c.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
         END AS dropped_at
  FROM corpus c JOIN gf USING (doc_id)
)
SELECT count(*) AS n_input,
       count(CASE WHEN dropped_at = 'lang' THEN 1 END) AS dropped_lang,
       count(CASE WHEN dropped_at = 'exact_dup' THEN 1 END) AS dropped_exact_dup,
       count(CASE WHEN dropped_at = 'near_dup' THEN 1 END) AS dropped_near_dup,
       count(CASE WHEN dropped_at = 'substring_dup' THEN 1 END)
         AS dropped_substring_dup,
       count(CASE WHEN dropped_at = 'quality' THEN 1 END) AS dropped_quality,
       count(CASE WHEN dropped_at = 'classifier' THEN 1 END) AS dropped_classifier,
       count(CASE WHEN dropped_at = 'contaminated' THEN 1 END) AS dropped_contaminated,
       count(CASE WHEN dropped_at IS NULL THEN 1 END) AS n_kept
FROM labeled
"""


@query("curation_report", _curation_report_sql())
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus curation pipeline in ONE verified row:
    lang filter → exact dedup (planted copies of every 20th doc) →
    near-dup canonical keep → Gopher rules → decontamination vs a
    doc_id%97 benchmark — per-stage attrition counters, sequential
    stage semantics, single aggregate action. The DuckDB twin re-runs
    the whole staged pipeline."""
    from financial_data_pipeline_spark.plans.curation_pipeline import (
        CurationConfig,
        curation_report,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    copies = docs.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.unionByName(copies)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    cfg = CurationConfig(lang_keep=_CURATION_LANGS, contamination_k=3)
    return curation_report(corpus, cfg, bench)


def _lsh_pair_recall_sql() -> str:
    """One-row twin: exact jaccard≥0.5 pair count vs banded-LSH
    candidate-verified pair count — candidate generation can only lose
    pairs (bands are a recall filter), so recall = lsh/exact ≤ 1."""
    lsh = _minhash_lsh_sql()
    return rf"""
WITH esh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
        FROM documents)
), esz AS (SELECT doc_id, count(*) AS sz FROM esh GROUP BY 1),
einter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM esh a JOIN esh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), epairs AS (
  SELECT id_a, id_b
  FROM einter JOIN esz x ON x.doc_id = id_a JOIN esz y ON y.doc_id = id_b
  WHERE i / (x.sz + y.sz - i)::DOUBLE >= 0.5
), lsh_pairs AS (SELECT id_a, id_b FROM ({lsh}) t)
SELECT (SELECT count(*) FROM epairs) AS n_exact,
       (SELECT count(*) FROM lsh_pairs) AS n_lsh,
       round((SELECT count(*) FROM lsh_pairs)
             / greatest((SELECT count(*) FROM epairs), 1)::DOUBLE,
             4) AS recall
"""


@query("lsh_pair_recall", _lsh_pair_recall_sql())
def q_lsh_pair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded-LSH candidate path against the
    exact inverted-index near-dup pairs (both jaccard-verified at 0.5)
    — the dedup twin of ``ann_recall_at_10``: band count / permutation
    count are tuned against a measured number, not a guess. Both pair
    frames are tiny (pairs, not docs), so the count comparison is
    O(pairs)."""
    from financial_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = jaccard_pairs(docs, k=3, threshold=0.5)
    cand = lsh_candidates(docs, num_perm=16, bands=8)
    # The verified-LSH pair set is exactly exact ∩ candidates — both
    # are "(a,b) ∈ candidates with jaccard(a,b) ≥ t" (the candidate
    # restriction inside jaccard_pairs only prunes WORK, never changes
    # which candidate pairs verify; bucket caps don't differ at any
    # size where this query computes `exact` at all). Semi-joining the
    # already-computed exact pairs instead of re-running the verifier
    # drops two full tokenize+shingle corpus passes from the plan (r9,
    # guide §2.4 — this query is the one place the exact pass already
    # exists; the production LSH path in minhash_lsh_pairs is
    # unchanged). r10 (VERDICT r9 #4): BOTH counts come from ONE pass —
    # a left join against the candidate pairs (distinct by
    # construction: lsh_candidates ends in .distinct(), so the join
    # never multiplies rows) with a match marker, then a single
    # aggregate counting all rows (= n_exact) and matched rows
    # (= n_lsh, exactly the former semi-join count). The plan
    # references `exact` once, so the r9 eager localCheckpoint —
    # which materialized the inverted index without AQE, the measured
    # 0.90x driver regression — is gone with nothing left to pin.
    marked = exact.join(
        cand.withColumn("__c", F.lit(1)), on=["id_a", "id_b"], how="left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("__c").alias("n_lsh"),
    ).select(
        "n_exact",
        "n_lsh",
        F.round(
            F.col("n_lsh")
            / F.greatest(F.col("n_exact"), F.lit(1)).cast("double"),
            4,
        ).alias("recall"),
    )


@query(
    "discount_revenue_delta",
    """
SELECT round(sum(l_extendedprice * l_discount), 4) AS potential_revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_discount_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape (forecast revenue change): pure filter +
    single-row aggregate, zero joins — the canonical predicate-pushdown
    scan. All three predicates reach the parquet reader as
    PushedFilters; the agg is a map-side partial + one-row final."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4
            ).alias("potential_revenue")
        )
    )


@query(
    "priority_shipping_lag_counts",
    """
SELECT o.o_orderpriority,
       count(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
                  THEN 1 END) AS on_time_lines,
       count(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
                  THEN 1 END) AS late_lines
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01'
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def q_priority_shipping_lag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape (shipmode priority counts, re-keyed to the
    priority column this dataset has): fact⋈fact join then TWO
    conditional counts in one aggregate pass — the
    count-by-case-in-one-scan pattern. The shipdate range prunes the
    lineitem scan before the join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 30 DAYS"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(~late, 1)).alias("on_time_lines"),
            F.count(F.when(late, 1)).alias("late_lines"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "ivf_recall_at_10",
    """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 16
), exploded AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), comp AS (SELECT label, pos, avg(x) AS c FROM exploded GROUP BY 1, 2),
cents AS (SELECT label, list(c ORDER BY pos) AS centroid FROM comp GROUP BY label),
probes AS (
  SELECT qid, label FROM cents, q
  QUALIFY row_number() OVER (
    PARTITION BY qid
    ORDER BY coalesce(list_dot_product(centroid, q.qv) / nullif(sqrt(list_dot_product(centroid, centroid)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC, label ASC
  ) <= 3
), exact_k AS (
  SELECT qid, e.vec_id AS nid
  FROM embeddings e, q
  QUALIFY row_number() OVER (
    PARTITION BY qid
    ORDER BY round(coalesce(list_dot_product(e.embedding::DOUBLE[], q.qv) / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) DESC,
             e.vec_id ASC
  ) <= 10
), ann_k AS (
  SELECT q.qid, e.vec_id AS nid
  FROM embeddings e
  JOIN probes p ON e.label = p.label
  JOIN q ON q.qid = p.qid
  QUALIFY row_number() OVER (
    PARTITION BY q.qid
    ORDER BY round(coalesce(list_dot_product(e.embedding::DOUBLE[], q.qv) / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) DESC,
             e.vec_id ASC
  ) <= 10
)
SELECT e.qid AS query_id,
       count(a.nid) AS hits,
       round(count(a.nid) / 10.0, 4) AS recall
FROM exact_k e
LEFT JOIN ann_k a ON e.qid = a.qid AND e.nid = a.nid
GROUP BY e.qid
""",
)
def q_ivf_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of the IVF index (3-probe, label cells)
    against the exact k-NN join, per query — completes the harness
    symmetry with ``ann_recall_at_10``/``ann_recall_multiprobe`` so
    nprobe is tuned against a measured number. Probe selection is a
    broadcast (queries × centroids) crossJoin + window — no driver
    collect, unlike the single-query ``ivf_topk``."""
    from financial_data_pipeline_spark.operators.similarity import (
        ivf_build_centroids,
        ivf_topk_join,
        knn_join,
        recall_at_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    cents = ivf_build_centroids(emb)
    exact = knn_join(emb, queries, k=10)
    ann = ivf_topk_join(emb, cents, queries, k=10, nprobe=3)
    return recall_at_k(exact, ann, k=10)


@query(
    "events_grouping_sets",
    """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(strftime(ts, '%Y-%m'), '(all)') AS month,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       GROUPING(event_type, strftime(ts, '%Y-%m')) AS gid
FROM events
GROUP BY GROUPING SETS ((event_type, strftime(ts, '%Y-%m')),
                        (event_type), (strftime(ts, '%Y-%m')))
""",
)
def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither cube nor rollup: the three sets
    (type, month), (type), (month) — no grand total) in ONE Expand+agg
    pass, with ``grouping_id()`` distinguishing the aggregation level
    (bit order = grouping-column order, identical in both engines).
    Declared via Spark SQL — the declarative surface is part of the
    engine's API, and Catalyst plans it as the same single Expand."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__events_gs")
    return spark.sql(
        """
        SELECT coalesce(event_type, '(all)') AS event_type,
               coalesce(date_format(ts, 'yyyy-MM'), '(all)') AS month,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value,
               cast(grouping_id() AS int) AS gid
        FROM __events_gs
        GROUP BY GROUPING SETS ((event_type, date_format(ts, 'yyyy-MM')),
                                (event_type), (date_format(ts, 'yyyy-MM')))
        """
    )


def _semantic_dedup_sql() -> str:
    """Blocked-pair graph + recursive closure + anti join — the full
    SemDeDup twin on the same corpus-derived blocks as
    ``embedding_pairs_blocked``."""
    return f"""
WITH RECURSIVE nb AS {_NBITS_SQL},
b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bb AS (SELECT vec_id, v, {_dyn_bucket_sql()} AS bucket FROM b, nb),
p AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM bb a JOIN bb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  WHERE coalesce(list_dot_product(a.v, c.v) / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)), 0), 0) >= 0.45
), e AS (
  SELECT id_a AS s, id_b AS d FROM p
  UNION ALL SELECT id_b, id_a FROM p
), reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
), losers AS (
  SELECT s FROM reach GROUP BY s HAVING least(s, min(d)) < s
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT s FROM losers)
"""


@query("semantic_dedup", _semantic_dedup_sql())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: LSH-blocked cosine pair graph (4 seeded
    hyperplanes, threshold 0.45 on this synthetic corpus) → connected
    components → keep the min-id representative per component. The
    embedding twin of ``keep_canonical_docs``; oracle re-runs blocked
    pairs + recursive closure + anti join."""
    from financial_data_pipeline_spark.operators.similarity import (
        lsh_bucket,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = emb.withColumn(
        "block", lsh_bucket("embedding", _pair_block_planes(_table_rows(spark, sf_dir)))
    )
    return semantic_dedup(blocked, threshold=0.45, block_col="block").select(
        "vec_id"
    )


@query(
    "exact_dedup_keep2",
    """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 14 = 0
), h AS (
  SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS ch
  FROM corpus
)
SELECT doc_id FROM h
QUALIFY row_number() OVER (PARTITION BY ch ORDER BY doc_id ASC) <= 2
""",
)
def q_exact_dedup_keep2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-capped exact dedup (keep ≤2 copies per content hash,
    lowest ids win): every 7th doc planted twice more, so hash groups
    of size 1, 2 and 3 are all exercised — the 3rd copy drops, the 2nd
    survives."""
    from financial_data_pipeline_spark.operators.dedup import (
        exact_dedup_keep_n,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    ).unionByName(
        docs.filter(F.col("doc_id") % 14 == 0).withColumn(
            "doc_id", F.col("doc_id") + 200000
        )
    )
    return exact_dedup_keep_n(corpus, keep_n=2).select("doc_id")


@query(
    "trimmed_mean_prices",
    """
WITH cuts AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       count(*) AS n_used,
       round(avg(l.l_extendedprice), 4) AS trimmed_avg_price
FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
WHERE l.l_extendedprice >= c.lo AND l.l_extendedprice <= c.hi
GROUP BY l.l_returnflag
""",
)
def q_trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (5%-quantile-trimmed) mean price per return flag: exact
    interpolated percentile cutoffs per group (a distributed aggregate
    — Spark ``percentile`` ≡ DuckDB ``quantile_cont``, parity already
    pinned by ``iqr_clip``), broadcast the 3-row cutoff table back,
    filter, aggregate. Deliberately NOT a per-group percent_rank
    window: partitioning 600 M rows into 3 window groups is the
    single-partition trap — the two-pass agg+join keeps every stage
    distributed at any group cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with both fractions: Spark's exact
    # percentile buffers every group value per AGGREGATE EXPRESSION, so
    # two separate percentile() calls built (and merged) two copies of
    # the 200k-value buffer per group; the array form shares one
    # buffer and computes both order statistics from one sort —
    # identical interpolation math, half the buffer traffic (r9).
    both = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
        ).alias("q")
    )
    cuts = both.select(
        "l_returnflag",
        F.col("q")[0].alias("lo"),
        F.col("q")[1].alias("hi"),
    )
    return (
        li.join(F.broadcast(cuts), on="l_returnflag")
        .filter(
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") <= F.col("hi"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_used"),
            F.round(F.avg("l_extendedprice"), 4).alias("trimmed_avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# SQL front door + k-fold splitter
# ---------------------------------------------------------------------------

_TOP_NATIONS_SQL = """
SELECT yr, n_name, n_orders, rnk FROM (
  SELECT yr, n_name, n_orders,
         rank() OVER (PARTITION BY yr ORDER BY n_orders DESC, n_name)
           AS rnk
  FROM (SELECT year(o.o_orderdate) AS yr, n.n_name, count(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2) a) b
WHERE rnk <= 3
"""


@query("sql_top_nations_by_year", _TOP_NATIONS_SQL)
def q_sql_top_nations_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door (``plans/sql_frontdoor.py``): the IDENTICAL
    ANSI text runs as the Spark plan and as the DuckDB oracle — proof
    that a SQL-only user (the reference's Postgres audience) reaches
    the same engine: text → Catalyst → the same pushdown/broadcast/AQE
    as every DataFrame plan here. Rank key is an exact integer count
    (never a float sum) so ordering is engine-stable; n_name breaks
    ties."""
    from financial_data_pipeline_spark.plans import sql_frontdoor

    sql_frontdoor.register_views(spark, sf_dir)
    return sql_frontdoor.sql(spark, _TOP_NATIONS_SQL)


@query(
    "kfold_counts",
    """
SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 5)::INT
         AS fold,
       count(*) AS n
FROM documents GROUP BY 1
""",
)
def q_kfold_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment
    (``splitter.kfold_split``): portable md5-bucket fold id — map-only,
    no RNG, reproducible across engines (the oracle recomputes exact
    membership) and across partitionings. Disjoint/exhaustive/stability
    invariants pinned in ``tests/test_normalize_split.py``."""
    from financial_data_pipeline_spark.operators.splitter import kfold_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        kfold_split(docs, k=5, id_col="doc_id")
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "realized_vol_daily",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
)
SELECT symbol, timestamp::DATE::VARCHAR AS day,
       round(sqrt(sum(r * r)), 6) AS realized_vol,
       count(r) AS n_returns
FROM r GROUP BY symbol, 2
""",
)
def q_realized_vol_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily realized volatility from intraday log returns
    (``indicators.realized_volatility``): the additive-return twin of
    the pct_change family — sqrt(Σr²) per (symbol, day). First bar of
    each symbol contributes a null return (count excludes it)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.realized_volatility(bars)
    return out.select(
        "symbol",
        F.col("day").cast("string").alias("day"),
        F.round("realized_vol", 6).alias("realized_vol"),
        "n_returns",
    )


@query(
    "max_drawdown",
    BARS_CTE
    + """
SELECT symbol,
       round(max(1 - close / peak), 6) AS max_drawdown
FROM (SELECT symbol, close,
             max(close) OVER (PARTITION BY symbol ORDER BY timestamp
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
      FROM bars)
GROUP BY symbol
""",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-trough max drawdown per symbol via a running-max window
    (``indicators.max_drawdown``) — the portfolio-risk companion of the
    indicator family; running state is bounded per symbol (no global
    order)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.max_drawdown(bars)
    return out.select(
        "symbol", F.round("max_drawdown", 6).alias("max_drawdown")
    )


@query(
    "volume_bars",
    BARS_CTE
    + """
, vb AS (
  SELECT symbol, timestamp, open, high, low, close, volume,
         round(sum(volume) OVER (PARTITION BY symbol ORDER BY timestamp)
           - volume, 3) AS cum_before
  FROM bars
)
SELECT symbol, floor(cum_before / 1000.0)::BIGINT AS bar_id,
       epoch_us(min(timestamp)) AS start_us,
       round(arg_min(open, epoch_us(timestamp)), 6) AS open,
       round(max(high), 6) AS high, round(min(low), 6) AS low,
       round(arg_max(close, epoch_us(timestamp)), 6) AS close,
       round(sum(volume), 6) AS volume,
       count(*) AS n_src_bars
FROM vb GROUP BY symbol, 2
""",
)
def q_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-clocked resampling (``resample.volume_bars``): bars cut
    every 1000 units of traded volume instead of every N minutes —
    volatile sessions yield more bars. Running-sum window per symbol +
    one bar aggregate, same two-stage shape as time resampling."""
    from financial_data_pipeline_spark.operators.resample import volume_bars

    bars = events_as_ohlcv(spark, sf_dir)
    out = volume_bars(bars, threshold=1000.0)
    return out.select(
        "symbol",
        "bar_id",
        F.unix_micros("bar_start").alias("start_us"),
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        F.round("volume", 6).alias("volume"),
        "n_src_bars",
    )


@query(
    "return_correlation",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
)
SELECT a.symbol AS sym_a, b.symbol AS sym_b,
       round(corr(a.r, b.r), 6) AS corr_r, count(*) AS n_obs
FROM r a JOIN r b ON a.timestamp = b.timestamp AND a.symbol < b.symbol
WHERE a.r IS NOT NULL AND b.r IS NOT NULL
GROUP BY 1, 2
""",
)
def q_return_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portfolio co-movement matrix (``indicators.return_correlation``):
    pairwise Pearson correlation of per-symbol log returns — lag window
    per symbol, timestamp self-join (upper triangle), one ``corr`` agg
    per pair. Portfolio-sized S; the thousands-of-symbols path is a
    blocked BLAS gram matrix (see operator docstring)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.return_correlation(bars)
    return out.select(
        "sym_a", "sym_b", F.round("corr_r", 6).alias("corr_r"), "n_obs"
    )


@query(
    "sma_crossover_backtest",
    BARS_CTE
    + """
, s AS (
  SELECT symbol, timestamp, close,
    CASE WHEN count(close) OVER wf >= 20 THEN avg(close) OVER wf END AS f_sma,
    CASE WHEN count(close) OVER ws >= 50 THEN avg(close) OVER ws END AS s_sma,
    ln(close / lag(close) OVER w1) AS r
  FROM bars
  WINDOW
    w1 AS (PARTITION BY symbol ORDER BY timestamp),
    wf AS (PARTITION BY symbol ORDER BY timestamp
           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
    ws AS (PARTITION BY symbol ORDER BY timestamp
           ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
), p AS (
  SELECT symbol, timestamp, r,
         CASE WHEN f_sma > s_sma THEN 1 ELSE 0 END AS pos
  FROM s
), f AS (
  SELECT symbol, r, pos,
         coalesce(lag(pos) OVER (PARTITION BY symbol ORDER BY timestamp),
                  0) AS prev_pos
  FROM p
)
SELECT symbol, sum(abs(pos - prev_pos))::BIGINT AS n_trades,
       round(exp(sum(coalesce(prev_pos * r, 0))) - 1, 6) AS strategy_return,
       round(exp(sum(r)) - 1, 6) AS buy_hold_return
FROM f GROUP BY symbol
""",
)
def q_sma_crossover_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized SMA(20/50) crossover backtest
    (``operators/backtest.py``): signal → NEXT-bar position (the
    no-lookahead fill) → exp(Σ pos·r) − 1 vs buy-and-hold, plus trade
    count — pure per-symbol window algebra, no event loop, so a
    parameter sweep over thousands of symbols is one embarrassingly
    parallel plan."""
    from financial_data_pipeline_spark.operators import backtest

    bars = events_as_ohlcv(spark, sf_dir)
    out = backtest.backtest_summary(
        backtest.sma_crossover_positions(bars, fast=20, slow=50)
    )
    return out.select(
        "symbol",
        "n_trades",
        F.round("strategy_return", 6).alias("strategy_return"),
        F.round("buy_hold_return", 6).alias("buy_hold_return"),
    )


@query(
    "sma_grid_backtest",
    BARS_CTE
    + """
, b AS (
  SELECT symbol, timestamp, close,
         row_number() OVER w AS rn,
         sum(close) OVER (PARTITION BY symbol ORDER BY timestamp
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cs,
         ln(close / lag(close) OVER w) AS r
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), g AS (SELECT * FROM (VALUES (10, 30), (20, 50), (5, 20))
         AS t(fast, slow)),
e AS (SELECT b.*, g.fast, g.slow FROM b CROSS JOIN g),
j AS (
  SELECT e.symbol, e.timestamp, e.fast, e.slow, e.rn, e.r,
         CASE WHEN e.rn >= e.fast
              THEN (e.cs - coalesce(bf.cs, 0)) / e.fast END AS sma_f,
         CASE WHEN e.rn >= e.slow
              THEN (e.cs - coalesce(bs.cs, 0)) / e.slow END AS sma_s
  FROM e
  LEFT JOIN b bf ON bf.symbol = e.symbol AND bf.rn = e.rn - e.fast
  LEFT JOIN b bs ON bs.symbol = e.symbol AND bs.rn = e.rn - e.slow
), p AS (
  SELECT symbol, timestamp, fast, slow, r,
         CASE WHEN sma_f > sma_s THEN 1 ELSE 0 END AS pos
  FROM j
), f AS (
  SELECT symbol, fast, slow, r, pos,
         coalesce(lag(pos) OVER (PARTITION BY symbol, fast, slow
                                 ORDER BY timestamp), 0) AS prev_pos
  FROM p
)
SELECT symbol, fast, slow,
       sum(abs(pos - prev_pos))::BIGINT AS n_trades,
       round(exp(sum(coalesce(prev_pos * r, 0))) - 1, 6)
         AS strategy_return,
       round(exp(sum(r)) - 1, 6) AS buy_hold_return
FROM f GROUP BY 1, 2, 3
""",
)
def q_sma_grid_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-parameter-grid backtest in ONE plan
    (``backtest.sma_grid_backtest``): per-symbol prefix sums computed
    once, any-length SMA recovered by an equi-join on the computed key
    (symbol, rn − n) — |grid| parameter pairs share one base scan and
    two hash joins instead of |grid| window passes. The oracle mirrors
    the prefix-sum formula operation-for-operation, so positions are
    bit-deterministic across engines."""
    from financial_data_pipeline_spark.operators import backtest

    bars = events_as_ohlcv(spark, sf_dir)
    out = backtest.sma_grid_backtest(
        bars, params=[(10, 30), (20, 50), (5, 20)]
    )
    return out.select(
        "symbol",
        "fast",
        "slow",
        "n_trades",
        F.round("strategy_return", 6).alias("strategy_return"),
        F.round("buy_hold_return", 6).alias("buy_hold_return"),
    )


@query(
    "walk_forward_plan",
    BARS_CTE
    + """
, c AS (SELECT quantile_cont(epoch_us(timestamp), [0.2, 0.4, 0.6, 0.8])
          AS cuts FROM bars),
f AS (
  SELECT list_sum(list_transform(
           c.cuts,
           x -> CASE WHEN epoch_us(b.timestamp) > x THEN 1 ELSE 0 END
         ))::INT AS fold,
         b.timestamp
  FROM bars b CROSS JOIN c
)
SELECT fold, count(*) AS n,
       epoch_us(min(timestamp)) AS start_us,
       epoch_us(max(timestamp)) AS end_us
FROM f GROUP BY fold
""",
)
def q_walk_forward_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward CV plan (``splitter.walk_forward_folds``):
    contiguous time-block folds from exact timestamp quantiles — the
    leakage-free evaluation layout for the backtest family. Fold
    boundaries are one distributed aggregate + a broadcast of 4
    doubles; interpolation parity with DuckDB ``quantile_cont`` is
    already pinned by ``iqr_clip``."""
    from financial_data_pipeline_spark.operators.splitter import (
        walk_forward_folds,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    return (
        walk_forward_folds(bars, n_folds=5)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.unix_micros(F.min("timestamp")).alias("start_us"),
            F.unix_micros(F.max("timestamp")).alias("end_us"),
        )
    )


# ---------------------------------------------------------------------------
# Frequency sketches: distributed heavy hitters (beyond-reference)
# ---------------------------------------------------------------------------


@query(
    "heavy_hitter_tokens",
    r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) AS token
  FROM documents
), t AS (SELECT * FROM toks WHERE token <> '')
SELECT token, count(*) AS freq
FROM t GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 20
""",
)
def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 corpus tokens via the two-pass Misra–Gries plan
    (``operators/frequency.py``): per-Arrow-batch local top-m summaries
    (a guaranteed superset of every item with frequency > N/m — no
    shuffle of the token stream), then an exact recount over a
    broadcast-semi-join-pruned scan. Shuffle volume is O(candidate
    hits), not O(distinct tokens) — the 100 TB answer to "top-k over a
    billion-key domain". Counts are exact, so the oracle is the plain
    GROUP BY twin with the same (freq desc, token asc) tie-break."""
    from financial_data_pipeline_spark.operators.frequency import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    tokens = (
        docs.select(
            F.explode(ws_tokens(F.col("text"))).alias("token")
        )
        .filter(F.col("token") != "")
    )
    return heavy_hitters(tokens, "token", k=20, m=512)


# ---------------------------------------------------------------------------
# Int8-quantized ANN (storage-compressed scan + exact rerank)
# ---------------------------------------------------------------------------


def _quantized_recall_sql() -> str:
    """DuckDB twin of the int8-quantization recall harness: identical
    codebook (per-dim min/max), identical floor-based encode and
    dequantize expressions, identical (rounded cos desc, id asc)
    ranking on the candidate and rerank stages."""
    return """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
mm AS (
  SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
  FROM (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
        FROM e, range(1, 65) t(i) GROUP BY i)
),
dq AS (
  SELECT vec_id,
         list_transform(v, (x, i) -> CASE WHEN mm.hi[i] = mm.lo[i] THEN mm.lo[i]
           ELSE mm.lo[i] + floor((x - mm.lo[i]) * 255.0 / (mm.hi[i] - mm.lo[i]) + 0.5)
                * ((mm.hi[i] - mm.lo[i]) / 255.0) END) AS dv
  FROM e, mm
),
q AS (SELECT e.vec_id AS qid, e.v AS qv, d.dv AS qdv
      FROM e JOIN dq d USING (vec_id) WHERE e.vec_id < 16),
cand AS (
  SELECT q.qid, d.vec_id AS nid
  FROM dq d, q
  QUALIFY row_number() OVER (PARTITION BY q.qid
    ORDER BY round(coalesce(list_dot_product(d.dv, q.qdv) / nullif(sqrt(list_dot_product(d.dv, d.dv)) * sqrt(list_dot_product(q.qdv, q.qdv)), 0), 0), 6) DESC, d.vec_id ASC) <= 40
),
ann_k AS (
  SELECT c.qid, c.nid
  FROM cand c JOIN e be ON be.vec_id = c.nid JOIN q ON q.qid = c.qid
  QUALIFY row_number() OVER (PARTITION BY c.qid
    ORDER BY round(coalesce(list_dot_product(be.v, q.qv) / nullif(sqrt(list_dot_product(be.v, be.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) DESC, c.nid ASC) <= 10
),
exact_k AS (
  SELECT q.qid, b.vec_id AS nid
  FROM e b, q
  QUALIFY row_number() OVER (PARTITION BY q.qid
    ORDER BY round(coalesce(list_dot_product(b.v, q.qv) / nullif(sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0), 6) DESC, b.vec_id ASC) <= 10
)
SELECT x.qid AS query_id, count(a.nid) AS hits,
       round(count(a.nid) / 10.0, 4) AS recall
FROM exact_k x LEFT JOIN ann_k a ON x.qid = a.qid AND x.nid = a.nid
GROUP BY x.qid
"""


@query("quantized_ann_recall", _quantized_recall_sql())
def q_quantized_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of int8 scalar-quantized ANN (``similarity.
    quantized_topk_join``) against the exact k-NN join. The quantized
    plan scans only the code table (4–8× fewer bytes than the float
    vectors — at 100 TB the scan cost IS the byte count), takes
    top-40 candidates per query on dequantized cosine, and reranks
    exactly on full-precision vectors fetched by id."""
    from financial_data_pipeline_spark.operators.similarity import (
        knn_join,
        quantized_topk_join,
        recall_at_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    exact = knn_join(emb, queries, k=10)
    ann = quantized_topk_join(emb, queries, k=10, mult=4)
    return recall_at_k(exact, ann, k=10)


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (q2/q9/q11/q16/q20 analogs) — lineitem serves as
# the part↔supplier bridge (the testdata schema carries no partsupp table)
# ---------------------------------------------------------------------------


@query(
    "min_cost_supplier_per_part",
    """
WITH ps AS (
  -- l_quantity > 0: a zero-quantity line has no unit cost. Unguarded,
  -- x/0.0 is NULL in non-ANSI Spark but the engines' default NULL
  -- ORDER differs (Spark NULLS FIRST asc, DuckDB NULLS LAST), so the
  -- degenerate supplier won rank 1 on one side only (fuzz finding)
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
)
SELECT p.p_partkey AS partkey, s.s_name AS supplier_name,
       n.n_name AS nation, ps.unit_cost AS unit_cost
FROM ps
JOIN part p ON p.p_partkey = ps.l_partkey
JOIN supplier s ON s.s_suppkey = ps.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_size <= 10
QUALIFY row_number() OVER (
  PARTITION BY p.p_partkey ORDER BY ps.unit_cost ASC, s.s_suppkey ASC
) = 1
""",
)
def q_min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2-shaped plan: the correlated "supplier with the minimum
    cost for this part (within the region)" subquery decorrelated into
    one (part, supplier) aggregate + a region-restricted window rank.
    min() is exact (no summation noise), so ranking is engine-stable
    with the suppkey tiebreak. supplier/nation/region are broadcast;
    the only big shuffle is the lineitem groupBy on its natural
    (partkey, suppkey) key — and AQE prunes the rank input to the
    region's suppliers before the window."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    joined = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = W.partitionBy("p_partkey").orderBy(
        F.asc("unit_cost"), F.asc("s_suppkey")
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            # NO rounding: unit_cost is a min over bitwise-identical
            # IEEE quotients, so both engines already agree exactly —
            # while round-to-4dp sat on a decimal half boundary
            # (438.078750) where Spark's BigDecimal-exact rounding and
            # DuckDB's scaled-multiply rounding split (r08 sf0.1 sweep)
            F.col("unit_cost"),
        )
    )


@query(
    "profit_by_nation_year",
    """
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)
                 - 0.6 * p.p_retailprice * l.l_quantity), 2) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE contains(p.p_name, 'red')
GROUP BY 1, 2
""",
)
def q_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9-shaped plan: five-table star with a substring filter on
    the part name (no pushdown-able predicate — the filter prunes the
    BROADCAST side, so the lineitem scan is still pruned by the
    broadcast-hash-join probe). Profit uses retailprice as the cost
    proxy (no partsupp in this schema). One shuffle: the final
    (nation, year) aggregate; part/supplier/nation all broadcast,
    orders⋈lineitem shuffles on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("profit"))
    )


@query(
    "major_value_parts",
    """
WITH pv AS (
  SELECT l_partkey,
         list_reduce(list_prepend(0.0::DOUBLE, list(amt ORDER BY amt)),
                     (a, x) -> a + x) AS part_value
  FROM (SELECT l_partkey,
               l_extendedprice * (1 - l_discount) AS amt FROM lineitem)
  GROUP BY l_partkey
)
SELECT pv.l_partkey AS partkey, round(pv.part_value, 2) AS part_value
FROM pv, (SELECT sum(part_value) AS total FROM pv) t
WHERE pv.part_value > 0.0006 * t.total
""",
)
def q_major_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11-shaped plan: per-group value HAVING > fraction of the
    GLOBAL total — the scalar subquery is the per-part aggregate
    re-aggregated to one row and broadcast via crossJoin (1-row build
    side, never a driver collect). The base aggregate is computed once
    and reused for both sides of the comparison.

    part_value is an ORDERED fold, not F.sum: the amounts are exact
    ≤4-decimal values (2dp price × 2dp discount), so per-part sums
    land EXACTLY on half-cent boundaries and the 2dp rounding then
    depends on the accumulation order — the r05 alt-partitioning sweep
    caught a flip under repartition(7). Sorting the (bounded, ~30 rows
    per part) value list pins the order in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    amt = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "double"
    )
    pv = li.groupBy("l_partkey").agg(
        F.aggregate(
            F.array_sort(F.collect_list(amt)),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("part_value")
    )
    total = pv.agg(F.sum("part_value").alias("total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 0.0006 * F.col("total"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("part_value", 2).alias("part_value"),
        )
    )


@query(
    "supplier_count_by_part_attrs",
    """
SELECT p.p_brand AS brand, p.p_type AS ptype, p.p_size AS psize,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 11, 15, 23, 28, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""",
)
def q_supplier_count_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16-shaped plan: distinct-supplier counts per part
    attribute triple with a NOT IN exclusion — expressed as a
    broadcast left-anti join (the excluded-supplier set is tiny and
    null-free, so anti-join ≡ NOT IN), part filters pushed to the
    broadcast build side, and Spark's two-level exact count(distinct)
    expansion for the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 11, 15, 23, 28, 36, 49)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), on="l_suppkey", how="left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("ptype"),
            F.col("p_size").alias("psize"),
        )
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "dominant_part_suppliers",
    """
WITH sp AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
), pt AS (SELECT l_partkey, sum(qty) AS total_qty FROM sp GROUP BY 1)
SELECT DISTINCT s.s_suppkey AS suppkey, s.s_name AS supplier_name,
       n.n_name AS nation
FROM sp
JOIN pt ON sp.l_partkey = pt.l_partkey
JOIN supplier s ON s.s_suppkey = sp.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE sp.qty > 0.5 * pt.total_qty AND pt.total_qty >= 100
""",
)
def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20-shaped plan: nested aggregates ("suppliers who shipped
    more than half of a part's yearly volume") decorrelated into a
    (part, supplier) rollup re-aggregated per part and self-joined on
    partkey — the second aggregate reuses the first's partitioning, so
    the join adds no extra shuffle of lineitem. The date filter is
    pushed to the parquet scan; supplier/nation broadcast; DISTINCT
    collapses multi-part winners."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    pt = sp.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        sp.join(pt, on="l_partkey")
        .filter(
            (F.col("qty") > 0.5 * F.col("total_qty"))
            & (F.col("total_qty") >= 100)
        )
        .join(F.broadcast(s), sp.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Declarative data-quality expectations (dbt-test/Deequ-style)
# ---------------------------------------------------------------------------


@query(
    "lineitem_expectations",
    """
SELECT
  (SELECT count(*) FROM lineitem) AS total_rows,
  (SELECT sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem)
    AS l_orderkey_null,
  (SELECT sum(CASE WHEN l_quantity IS NOT NULL
                    AND (l_quantity < 1 OR l_quantity > 50)
              THEN 1 ELSE 0 END)::BIGINT FROM lineitem) AS l_quantity_out_of_range,
  (SELECT sum(CASE WHEN l_returnflag IS NOT NULL
                    AND l_returnflag NOT IN ('A', 'N', 'R')
              THEN 1 ELSE 0 END)::BIGINT FROM lineitem) AS l_returnflag_not_in_set,
  (SELECT sum(CASE WHEN NOT coalesce(
                 l_extendedprice > 0 AND l_discount BETWEEN 0 AND 1, false)
              THEN 1 ELSE 0 END)::BIGINT FROM lineitem) AS price_discount_sane,
  (SELECT coalesce(sum(n - 1), 0)::BIGINT FROM (
     SELECT count(*) AS n FROM lineitem
     GROUP BY l_orderkey, l_linenumber)) AS duplicate_key_rows,
  (SELECT count(*) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows
""",
)
def q_lineitem_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality suite over lineitem
    (``operators/expectations.py``): not-null, range, set-membership,
    and a custom predicate folded into ONE scan-bound aggregate;
    unique-(orderkey, linenumber) adds a keys-only shuffle; orders
    referential integrity is a left-anti join. Result is one row of
    violation counters — the generalized form of the reference's
    validation report."""
    from financial_data_pipeline_spark.operators.expectations import (
        expect_between,
        expect_in_set,
        expect_not_null,
        expect_predicate,
        expectation_suite,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    exps = [
        expect_not_null("l_orderkey"),
        expect_between("l_quantity", 1, 50),
        expect_in_set("l_returnflag", ["A", "N", "R"]),
        expect_predicate(
            "price_discount_sane",
            (F.col("l_extendedprice") > 0)
            & F.col("l_discount").between(0, 1),
        ),
    ]
    return expectation_suite(
        li,
        exps,
        unique_keys=["l_orderkey", "l_linenumber"],
        ref=(orders, "l_orderkey", "o_orderkey"),
    )


# ---------------------------------------------------------------------------
# Return-distribution moments + lag-1 autocorrelation (quant analytics)
# ---------------------------------------------------------------------------


@query(
    "return_moment_stats",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), m AS (
  SELECT symbol, count(r) AS n, sum(r) AS s1, sum(r * r) AS s2,
         sum(r * r * r) AS s3, sum(r * r * r * r) AS s4
  FROM r WHERE r IS NOT NULL GROUP BY symbol
)
SELECT symbol, n,
       round(s1 / n, 8) AS mean_r,
       round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 8) AS std_r,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
       round((s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 6) AS excess_kurtosis
FROM m
""",
)
def q_return_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol return-distribution moments (population skewness and
    excess kurtosis) computed from RAW POWER SUMS — one map-side-
    combined aggregate, and the same closed-form in both engines, so
    parity doesn't depend on either engine's sample-vs-population
    convention for its built-in skewness/kurtosis."""
    bars = events_as_ohlcv(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("symbol").orderBy("timestamp")
    r = F.log(F.col("close") / F.lag("close").over(w))
    base = bars.select("symbol", r.alias("r")).filter(F.col("r").isNotNull())
    m = base.groupBy("symbol").agg(
        F.count("r").alias("n"),
        F.sum("r").alias("s1"),
        F.sum(F.col("r") ** 2).alias("s2"),
        F.sum(F.col("r") ** 3).alias("s3"),
        F.sum(F.col("r") ** 4).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * (F.col("s2") / F.col("n")) + 2 * mu**3
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * mu * mu * (F.col("s2") / F.col("n"))
        - 3 * mu**4
    )
    return m.select(
        "symbol",
        "n",
        F.round(mu, 8).alias("mean_r"),
        F.round(F.sqrt(m2), 8).alias("std_r"),
        F.round(m3 / m2**1.5, 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("excess_kurtosis"),
    )


@query(
    "return_autocorr_lag1",
    BARS_CTE
    + """
, r0 AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), r AS (
  SELECT symbol, timestamp, r,
         lag(r) OVER (PARTITION BY symbol ORDER BY timestamp) AS r_prev
  FROM r0
), p AS (SELECT * FROM r WHERE r IS NOT NULL AND r_prev IS NOT NULL),
m AS (
  SELECT symbol, count(*) AS n, sum(r) AS sx, sum(r_prev) AS sy,
         sum(r * r) AS sxx, sum(r_prev * r_prev) AS syy,
         sum(r * r_prev) AS sxy
  FROM p GROUP BY symbol
)
SELECT symbol, n,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
         AS autocorr_1
FROM m
""",
)
def q_return_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of log returns per symbol — the
    mean-reversion/momentum diagnostic. Pearson over (r_t, r_{t-1})
    pairs from one window pass, correlation from raw sums (identical
    closed form both engines)."""
    bars = events_as_ohlcv(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("symbol").orderBy("timestamp")
    r0 = bars.select(
        "symbol",
        "timestamp",
        F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
    )
    base = r0.select(
        "symbol", "r", F.lag("r").over(w).alias("r_prev")
    ).filter(F.col("r").isNotNull() & F.col("r_prev").isNotNull())
    m = base.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("sx"),
        F.sum("r_prev").alias("sy"),
        F.sum(F.col("r") * F.col("r")).alias("sxx"),
        F.sum(F.col("r_prev") * F.col("r_prev")).alias("syy"),
        F.sum(F.col("r") * F.col("r_prev")).alias("sxy"),
    )
    denom = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select(
        "symbol",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom, 6
        ).alias("autocorr_1"),
    )


@query(
    "candle_patterns",
    BARS_CTE
    + """
, b AS (
  SELECT symbol, timestamp, open, high, low, close,
         lag(open) OVER w AS p_open, lag(close) OVER w AS p_close
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), f AS (
  SELECT symbol, timestamp,
         CASE WHEN abs(close - open) <= 0.1 * (high - low)
               AND high > low THEN 1 ELSE 0 END AS doji,
         CASE WHEN p_close < p_open AND close > open
               AND open <= p_close AND close >= p_open
              THEN 1 ELSE 0 END AS bullish_engulfing,
         CASE WHEN (high - low) > 3 * abs(close - open)
               AND least(open, close) - low >= 2 * abs(close - open)
               AND abs(close - open) > 0
              THEN 1 ELSE 0 END AS hammer
  FROM b
)
SELECT symbol,
       sum(doji)::BIGINT AS doji_count,
       sum(bullish_engulfing)::BIGINT AS bullish_engulfing_count,
       sum(hammer)::BIGINT AS hammer_count
FROM f GROUP BY symbol
""",
)
def q_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern detection (doji / bullish engulfing /
    hammer) as pure codegen expressions over one lag window — pattern
    counts per symbol. The standard textbook geometric definitions;
    no Python, no extra scan beyond the bar build."""
    from pyspark.sql import Window as W

    bars = events_as_ohlcv(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("timestamp")
    b = bars.select(
        "symbol",
        "timestamp",
        "open",
        "high",
        "low",
        "close",
        F.lag("open").over(w).alias("p_open"),
        F.lag("close").over(w).alias("p_close"),
    )
    body = F.abs(F.col("close") - F.col("open"))
    doji = (
        (body <= 0.1 * (F.col("high") - F.col("low")))
        & (F.col("high") > F.col("low"))
    ).cast("int")
    engulf = (
        (F.col("p_close") < F.col("p_open"))
        & (F.col("close") > F.col("open"))
        & (F.col("open") <= F.col("p_close"))
        & (F.col("close") >= F.col("p_open"))
    ).cast("int")
    hammer = (
        ((F.col("high") - F.col("low")) > 3 * body)
        & ((F.least("open", "close") - F.col("low")) >= 2 * body)
        & (body > 0)
    ).cast("int")
    return (
        b.select(
            "symbol",
            doji.alias("doji"),
            F.coalesce(engulf, F.lit(0)).alias("bullish_engulfing"),
            hammer.alias("hammer"),
        )
        .groupBy("symbol")
        .agg(
            F.sum("doji").alias("doji_count"),
            F.sum("bullish_engulfing").alias("bullish_engulfing_count"),
            F.sum("hammer").alias("hammer_count"),
        )
    )


@query(
    "close_decile_bins",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, close,
         ntile(10) OVER (PARTITION BY symbol
                         ORDER BY close ASC, timestamp ASC) AS decile
  FROM bars
)
SELECT symbol, decile, count(*) AS n,
       round(min(close), 6) AS lo, round(max(close), 6) AS hi
FROM t GROUP BY symbol, decile
""",
)
def q_close_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile feature binning: per-symbol decile assignment via
    ntile — the rank-based featurization (equal-count bins) that
    complements the equal-width histogram (`volume_profile`) and the
    quantile CUTS (`walk_forward_plan`). Deterministic with the
    (close, timestamp) tie-break; the window runs per symbol, never a
    global sort. Emits per-bin counts and value ranges (the bin-edge
    table a feature store would persist)."""
    from pyspark.sql import Window as W

    bars = events_as_ohlcv(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy(F.asc("close"), F.asc("timestamp"))
    return (
        bars.select("symbol", "close", F.ntile(10).over(w).alias("decile"))
        .groupBy("symbol", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("close"), 6).alias("lo"),
            F.round(F.max("close"), 6).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowed-fingerprint substring overlap (Lee et al. exact-substring analog)
# ---------------------------------------------------------------------------


def _winnow_sql(k: int = 8, w: int = 4, min_shared: int = 1, cap: int = 1000) -> str:
    """Full DuckDB twin of the winnowing pipeline: same token split,
    same 40-bit md5 gram hash, same min-hash/rightmost-tie selection
    via the identical long encoding, same hot-bucket cap."""
    shift = 1 << 22
    mask = shift - 1
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS nt,
         greatest(len(t) - {k} + 1, 1) AS n_kgrams
  FROM toks
), kg AS (
  SELECT doc_id, n_kgrams, i - 1 AS pos,
         CASE WHEN nt >= {k} THEN array_to_string(t[i:i+{k - 1}], ' ')
              ELSE array_to_string(t, ' ') END AS g
  FROM sized, unnest(generate_series(1, n_kgrams)) AS u(i)
), keyed AS (
  SELECT doc_id, n_kgrams, pos,
         ('0x' || substr(md5(g), 1, 10))::BIGINT * {shift}
           + ({mask} - pos) AS key
  FROM kg
), winmin AS (
  SELECT doc_id, n_kgrams, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wkey
  FROM keyed
), fps AS (
  SELECT DISTINCT doc_id, wkey // {shift} AS fp_hash
  FROM winmin
  WHERE pos >= {w - 1} OR pos = n_kgrams - 1
), bsz AS (
  SELECT fp_hash, count(*) AS c FROM fps GROUP BY 1
), fpk AS (
  SELECT f.doc_id, f.fp_hash
  FROM fps f JOIN bsz USING (fp_hash)
  WHERE bsz.c BETWEEN 2 AND {cap}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
FROM fpk a JOIN fpk b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


@query("substring_overlap_pairs", _winnow_sql())
def q_substring_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-passage candidate pairs via MOSS winnowing
    (``operators/winnow.py``): any two docs sharing an exact run of
    ≥ window + k − 1 = 11 tokens are guaranteed a pair row. The
    distributed stand-in for the reference-free suffix-array substring
    dedup of Lee et al. 2022; oracle recomputes fingerprint selection
    gram-for-gram."""
    from financial_data_pipeline_spark.operators.winnow import (
        substring_overlap_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return substring_overlap_pairs(docs, k=8, window=4)


_PIT_SQL = """
WITH spine AS (
  SELECT event_id, user_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, ts, max(value) AS value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
), errs AS (
  SELECT user_id, ts, max(value) AS value
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT s.event_id, s.user_id, epoch_us(s.ts) AS ts_us,
       round(s.purchase_value, 6) AS purchase_value,
       round(v.value, 6) AS view_value,
       round(CASE WHEN e.ts IS NOT NULL AND s.ts - e.ts <= INTERVAL 6 HOUR
                  THEN e.value END, 6) AS err_value
FROM spine s
ASOF LEFT JOIN views v ON s.user_id = v.user_id AND s.ts >= v.ts
ASOF LEFT JOIN errs  e ON s.user_id = e.user_id AND s.ts >= e.ts
"""


@query("point_in_time_features", _PIT_SQL)
def q_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store training-set assembly: every purchase event gets
    the latest at-or-before view value (unbounded) and error value
    (6 h TTL) per user — label-leakage-free by construction, N feature
    tables in ONE entity-key shuffle (``asof.point_in_time_features``).
    Oracle: DuckDB's native ASOF LEFT JOIN chain with the TTL as a
    staleness CASE."""
    from financial_data_pipeline_spark.operators.asof import (
        FeatureTable,
        point_in_time_features,
    )

    ev = load_table(spark, sf_dir, "events")
    spine = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = (
        ev.filter("event_type = 'view'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    errs = (
        ev.filter("event_type = 'error'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = point_in_time_features(
        spine,
        [
            FeatureTable("views", views, ["value"], prefix="view_"),
            FeatureTable(
                "errors", errs, ["value"], ttl_seconds=21600, prefix="err_"
            ),
        ],
        on="ts",
        by="user_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("purchase_value", 6).alias("purchase_value"),
        F.round("view_value", 6).alias("view_value"),
        F.round("err_value", 6).alias("err_value"),
    )


_PROTO_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
comp AS (
  SELECT label, i AS pos, avg(v[i]) AS c
  FROM e, unnest(generate_series(1, len(v))) AS u(i)
  GROUP BY 1, 2
), cent AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM comp GROUP BY label
), d AS (
  -- zero-vector convention matches similarity.cosine: zero norm -> 0
  SELECT e.vec_id, e.label,
         1.0 - coalesce(
           list_dot_product(e.v, cent.centroid)
             / nullif(sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(cent.centroid, cent.centroid)), 0),
           0) AS dist
  FROM e JOIN cent USING (label)
), r AS (
  SELECT vec_id, label, dist,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id ASC) AS proto_rank,
         count(*) OVER (PARTITION BY label) AS cluster_n
  FROM d
)
SELECT vec_id, label, proto_rank, cluster_n, round(dist, 6) AS proto_dist
FROM r WHERE proto_rank <= ceil(0.25 * cluster_n)
"""


@query("prototypicality_prune", _PROTO_SQL)
def q_prototypicality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space data pruning (Sorscher et al.): keep the hardest
    25% per cluster by cosine distance to the cluster centroid —
    centroid build + broadcast join + per-cluster rank window, exact
    quotas, deterministic ties. Uses the table's own ``label`` cells so
    the oracle can rebuild centroids bit-for-bit (the trained-cell path
    composes with ``ml_ann.kmeans_assign`` and is pytest-verified)."""
    from financial_data_pipeline_spark.operators.curation import (
        prototypicality_prune,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    kept = prototypicality_prune(emb, keep_frac=0.25, keep="hard")
    return kept.select(
        "vec_id",
        "label",
        "proto_rank",
        "cluster_n",
        F.round("proto_dist", 6).alias("proto_dist"),
    )


@query(
    "return_correlation_gram",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
)
SELECT a.symbol AS sym_a, b.symbol AS sym_b,
       round(corr(a.r, b.r), 6) AS corr_r, count(*) AS n_obs
FROM r a JOIN r b ON a.timestamp = b.timestamp AND a.symbol < b.symbol
WHERE a.r IS NOT NULL AND b.r IS NOT NULL
GROUP BY 1, 2
""",
)
def q_return_correlation_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gram-matrix scale path for the co-movement matrix: masked
    BLAS partials per Arrow batch (pairwise-complete, identical
    semantics to the self-join — same oracle), shuffle independent of
    T. This is the plan you run at thousands of symbols."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.return_correlation_gram(bars)
    return out.select(
        "sym_a", "sym_b", F.round("corr_r", 6).alias("corr_r"), "n_obs"
    )


@query(
    "dollar_bars",
    BARS_CTE
    + """
, vb AS (
  SELECT symbol, timestamp, open, high, low, close, volume,
         round(sum(close * volume) OVER (PARTITION BY symbol ORDER BY timestamp)
           - close * volume, 3) AS cum_before
  FROM bars
)
SELECT symbol, floor(cum_before / 100000.0)::BIGINT AS bar_id,
       epoch_us(min(timestamp)) AS start_us,
       round(arg_min(open, epoch_us(timestamp)), 6) AS open,
       round(max(high), 6) AS high, round(min(low), 6) AS low,
       round(arg_max(close, epoch_us(timestamp)), 6) AS close,
       round(sum(close * volume), 6) AS dollar_value,
       round(sum(volume), 6) AS volume,
       count(*) AS n_src_bars
FROM vb GROUP BY symbol, 2
""",
)
def q_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-clocked resampling (``resample.dollar_bars``): bars cut
    every 100k of traded value — price-level-invariant activity
    sampling, same running-sum + bar-aggregate plan as volume bars."""
    from financial_data_pipeline_spark.operators.resample import dollar_bars

    bars = events_as_ohlcv(spark, sf_dir)
    out = dollar_bars(bars, threshold=100_000.0)
    return out.select(
        "symbol",
        "bar_id",
        F.unix_micros("bar_start").alias("start_us"),
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        F.round("dollar_value", 6).alias("dollar_value"),
        F.round("volume", 6).alias("volume"),
        "n_src_bars",
    )


@query(
    "cluster_balanced_sample",
    """
WITH r AS (
  SELECT vec_id, label,
         row_number() OVER (
           PARTITION BY label
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT ASC,
                    vec_id ASC
         ) AS rn
  FROM embeddings
)
SELECT vec_id, label FROM r WHERE rn <= 5
""",
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling: exactly 5 rows per embedding cluster by
    portable md5 id-hash rank — every semantic region keeps
    representation; RNG-free and engine-independent so the oracle
    reproduces the exact row set."""
    from financial_data_pipeline_spark.operators.curation import (
        cluster_balanced_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, per_cluster=5).select("vec_id", "label")


@query(
    "temperature_mixture_plan",
    """
WITH agg AS (
  SELECT source, count(*) AS n_docs,
         sum(coalesce(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')), 0)) AS tokens
  FROM documents GROUP BY source
), sh AS (
  SELECT source, n_docs, tokens,
         pow(tokens, 0.3) / sum(pow(tokens, 0.3)) OVER () AS share
  FROM agg
)
SELECT source, n_docs, tokens::BIGINT AS tokens,
       round(share, 6) AS weight,
       round(least(1.0, share * 1000000.0 / tokens), 6) AS rate,
       round(least(1.0, share * 1000000.0 / tokens) * tokens, 2)
         AS expected_tokens
FROM sh
""",
)
def q_temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-sampling mixture plan (α = 0.3, 1M-token budget): weights from
    the corpus's own per-domain token mass, powered and normalized —
    the standard small-domain up-sampling rule, one tiny aggregate."""
    from financial_data_pipeline_spark.operators.curation import (
        temperature_mixture_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture_plan(docs, token_budget=1_000_000, alpha=0.3)


# Planted probe texts for the zlib-ratio invariants: a maximally
# repetitive document (must compress far below) and a fixed
# high-entropy hex blob (must compress far above it). Literals, so
# both engines can count their exact lengths.
_ZLIB_DUP_UNIT = "the quick brown fox "
_ZLIB_DUP_REPS = 25
_ZLIB_UNIQ_TEXT = (
    "3f9a7c1e8b24d06a5e91cf47b8a20d3c6f15e97402cab8d1639f0e7a54c2b8d0"
    "91e6a3f7c04b5d28a6e1f9370cd4b852fa1e60c3d7942b08e5f6a1c49d37b20e"
    "7a85c1f3069db4e2a70f58c6d193e4b0f26a9c81d05e7b34fa62c90e18d5b47c"
)


@query(
    "compression_ratio_stats",
    f"""
WITH d AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT -1, repeat('{_ZLIB_DUP_UNIT}', {_ZLIB_DUP_REPS}), '__planted__'
  UNION ALL
  SELECT -2, '{_ZLIB_UNIQ_TEXT}', '__planted__'
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(length(text))::BIGINT AS total_chars,
       TRUE AS ratios_positive,
       TRUE AS ratios_bounded,
       TRUE AS planted_ok
FROM d GROUP BY source
""",
)
def q_compression_ratio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-proxy quality signal: per-source zlib compression-ratio
    profile (Arrow-batched ``mapInPandas`` kernel — zlib has no SQL
    twin). Upgraded from rows-only to HASH-MATCHED via the sketch
    treatment: the exact columns (doc count, total chars) are computed
    in both engines, and the kernel's output is pinned by invariant
    booleans compared against the oracle's literal TRUE —

    - ``ratios_positive``: every ratio > 0 (nonempty compressed bytes);
    - ``ratios_bounded``: every ratio ≤ 1 + 24/len(text) (zlib's
      stored-block worst case is ~11–16 bytes of overhead, so even an
      incompressible text can't exceed this; a kernel emitting
      compressed/uncompressed swapped, or bytes-vs-chars confusion,
      breaks it);
    - ``planted_ok``: two PLANTED rows ride the corpus through the
      same kernel — a 25×-repeated phrase must compress below 0.2 and
      strictly below the fixed 192-char hex blob (duplicate-text ratio
      < unique-text ratio; the zlib-version-robust form of pinning the
      ratio values themselves).

    The kernel is also differentially tested against direct zlib in
    tests; this closes the last rows-only oracle in the registry."""
    from financial_data_pipeline_spark.operators.curation import (
        compression_ratio,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    planted = spark.createDataFrame(
        [
            (-1, _ZLIB_DUP_UNIT * _ZLIB_DUP_REPS, "__planted__"),
            (-2, _ZLIB_UNIQ_TEXT, "__planted__"),
        ],
        "doc_id bigint, text string, source string",
    )
    scored = compression_ratio(docs.unionByName(planted))
    r = F.col("compression_ratio")
    dup_r = F.min(F.when(F.col("doc_id") == -1, r))
    uniq_r = F.min(F.when(F.col("doc_id") == -2, r))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.bool_and(r > 0.0).alias("ratios_positive"),
        F.bool_and(
            r <= 1.0 + 24.0 / F.length("text").cast("double")
        ).alias("ratios_bounded"),
        F.coalesce(
            (dup_r < F.lit(0.2)) & (dup_r < uniq_r), F.lit(True)
        ).alias("planted_ok"),
    )


_PQ_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
sv AS (
  SELECT e.vec_id, s.sub, e.v[s.sub*16+1 : s.sub*16+16] AS sv
  FROM e, subs s
),
cells AS (
  SELECT vec_id, sub, sv,
         ntile(16) OVER (PARTITION BY sub
                         ORDER BY sv[1] ASC, vec_id ASC) - 1 AS cell
  FROM sv
),
comp AS (
  SELECT sub, cell, i AS pos, avg(sv[i]) AS c
  FROM cells, unnest(generate_series(1, 16)) AS u(i)
  GROUP BY 1, 2, 3
),
cent AS (SELECT sub, cell, list(c ORDER BY pos) AS centroid
         FROM comp GROUP BY 1, 2),
enc AS (
  SELECT vec_id, sub, cell AS code FROM (
    SELECT sv.vec_id, sv.sub, cent.cell,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
             list_sum(list_transform(generate_series(1,16),
               i -> (sv.sv[i]-cent.centroid[i])
                  * (sv.sv[i]-cent.centroid[i]))) ASC,
             cent.cell ASC) AS rn
    FROM sv JOIN cent ON sv.sub = cent.sub) t
  WHERE rn = 1
),
lut AS (
  SELECT cent.sub, cent.cell,
         list_sum(list_transform(generate_series(1,16),
           i -> (q.qv[cent.sub*16+i]-cent.centroid[i])
              * (q.qv[cent.sub*16+i]-cent.centroid[i]))) AS d
  FROM cent, q
),
adc AS (
  SELECT enc.vec_id, sum(lut.d) AS adc_dist
  FROM enc JOIN lut ON enc.sub = lut.sub AND enc.code = lut.cell
  GROUP BY 1
),
cand AS (SELECT vec_id, adc_dist FROM adc
         ORDER BY adc_dist ASC, vec_id ASC LIMIT 50),
ex AS (
  SELECT cand.vec_id, cand.adc_dist,
         list_sum(list_transform(generate_series(1,64),
           i -> (e.v[i]-q.qv[i])*(e.v[i]-q.qv[i]))) AS l2
  FROM cand JOIN e USING (vec_id), q
)
SELECT vec_id, round(adc_dist, 6) AS adc_dist, round(l2, 6) AS l2_dist
FROM ex ORDER BY l2 ASC, vec_id ASC LIMIT 10
"""


@query("pq_ann_topk", _PQ_SQL)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (``operators/pq.py``): deterministic
    ntile codebook (m=4 subspaces × 16 cells), broadcast-join argmin
    encode, ADC candidate scan over 4-byte codes, exact-L2 rerank of
    the top-50 — the memory-scale index where the big scan reads m
    bytes per vector instead of 256. Oracle rebuilds codebook, codes,
    LUT and rerank stage-for-stage."""
    from financial_data_pipeline_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = pq_train(emb, m=4, k=16)
    codes = pq_encode(emb, cent, m=4)
    qv = _query_vec(spark, sf_dir)
    top = pq_topk(codes, cent, qv, emb, m=4, k=10, rerank_k=50)
    return top.select(
        "vec_id",
        F.round("adc_dist", 6).alias("adc_dist"),
        F.round("l2_dist", 6).alias("l2_dist"),
    )


_SCD2_TEMPORAL_SQL = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '1995-01-01' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal > 7500 THEN 'UPGRADED' ELSE c_mktsegment END
           AS c_mktsegment
  FROM customer
), dim AS (
  -- unchanged keys: one open version
  SELECT c.c_custkey, c.c_mktsegment, c.valid_from, c.valid_to
  FROM cur c JOIN upd u USING (c_custkey)
  WHERE u.c_mktsegment = c.c_mktsegment
  UNION ALL
  -- changed keys: closed old version + open new one
  SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
         TIMESTAMP '1998-01-01'
  FROM cur c JOIN upd u USING (c_custkey)
  WHERE u.c_mktsegment <> c.c_mktsegment
  UNION ALL
  SELECT u.c_custkey, u.c_mktsegment, TIMESTAMP '1998-01-01',
         CAST(NULL AS TIMESTAMP)
  FROM cur c JOIN upd u USING (c_custkey)
  WHERE u.c_mktsegment <> c.c_mktsegment
)
SELECT o.o_orderkey, o.o_custkey, epoch_us(o.o_orderdate) AS order_us,
       d.c_mktsegment AS segment_at_order,
       epoch_us(d.valid_from) AS segment_since_us
FROM orders o
LEFT JOIN dim d
  ON o.o_custkey = d.c_custkey
 AND o.o_orderdate >= d.valid_from
 AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
"""


@query("orders_segment_at_order_time", _SCD2_TEMPORAL_SQL)
def q_orders_segment_at_order_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join: every order picks the customer-segment
    VERSION valid at its order date (the no-time-travel-bug fact↔SCD2
    join). Composed from the existing operators — ``scd2_init`` +
    ``scd2_merge`` build the versioned dimension, ``asof_join``
    attaches the at-or-before version per customer (SCD2 intervals
    tile the timeline, so as-of ≡ BETWEEN) — one union-window pass,
    never an O(facts × versions) range join."""
    from financial_data_pipeline_spark.operators.asof import asof_join
    from financial_data_pipeline_spark.operators.scd import (
        scd2_init,
        scd2_merge,
    )

    cust = load_table(spark, sf_dir, "customer")
    dim0 = scd2_init(
        cust.select("c_custkey", "c_mktsegment"), valid_from="1995-01-01"
    )
    upd = cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") > 7500, F.lit("UPGRADED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    dim = scd2_merge(
        dim0, upd, keys=["c_custkey"], tracked=["c_mktsegment"],
        as_of="1998-01-01",
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("ts")
    )
    versions = dim.select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("valid_from").alias("ts"),
        F.col("c_mktsegment").alias("segment_at_order"),
        F.unix_micros("valid_from").alias("segment_since_us"),
    )
    joined = asof_join(
        orders,
        versions,
        on="ts",
        by="o_custkey",
        value_cols=["segment_at_order", "segment_since_us"],
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.unix_micros("ts").alias("order_us"),
        "segment_at_order",
        "segment_since_us",
    )


@query(
    "market_beta",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), mkt AS (
  SELECT timestamp, avg(r) AS rm FROM r WHERE r IS NOT NULL GROUP BY 1
)
SELECT r.symbol,
       round(covar_samp(r.r, mkt.rm) / var_samp(mkt.rm), 6) AS beta,
       round(corr(r.r, mkt.rm), 6) AS corr_mkt,
       count(*) AS n_obs
FROM r JOIN mkt USING (timestamp)
WHERE r.r IS NOT NULL
GROUP BY 1
""",
)
def q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM-style beta per symbol against the equal-weight market
    return (cross-sectional mean of co-timestamped log returns):
    covar_samp/var_samp + corr in one aggregate after a tiny
    (timestamp-keyed) join — the factor-exposure building block.
    Pure built-ins; the market frame reuses the same lag window."""
    bars = events_as_ohlcv(spark, sf_dir)
    r = bars.withColumn(
        "r",
        F.log(
            F.col("close")
            / F.lag("close").over(
                Window.partitionBy("symbol").orderBy("timestamp")
            )
        ),
    ).filter(F.col("r").isNotNull())
    mkt = r.groupBy("timestamp").agg(F.avg("r").alias("rm"))
    return (
        r.join(mkt, "timestamp")
        .groupBy("symbol")
        .agg(
            F.round(F.covar_samp("r", "rm") / F.var_samp("rm"), 6).alias(
                "beta"
            ),
            F.round(F.corr("r", "rm"), 6).alias("corr_mkt"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


@query(
    "orders_profile",
    """
WITH base AS (SELECT count(*) AS n FROM orders)
SELECT 'o_custkey' AS "column", base.n AS n_rows,
       (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_null,
       (SELECT count(DISTINCT o_custkey) FROM orders) AS ndv,
       (SELECT min(o_custkey)::VARCHAR FROM orders) AS min_val,
       (SELECT max(o_custkey)::VARCHAR FROM orders) AS max_val
FROM base
UNION ALL
SELECT 'o_orderstatus', base.n,
       (SELECT count(*) FROM orders WHERE o_orderstatus IS NULL),
       (SELECT count(DISTINCT o_orderstatus) FROM orders),
       (SELECT min(o_orderstatus) FROM orders),
       (SELECT max(o_orderstatus) FROM orders)
FROM base
UNION ALL
SELECT 'o_totalprice', base.n,
       (SELECT count(*) FROM orders WHERE o_totalprice IS NULL),
       (SELECT count(DISTINCT o_totalprice) FROM orders),
       -- same non-finite/out-of-range routing as profile.render():
       -- Spark's double->decimal cast NULLs on NaN/Inf/|x|>=1e32 where
       -- DuckDB ::DECIMAL raises, so both engines branch BEFORE casting
       (SELECT CASE WHEN isnan(min(o_totalprice)) THEN 'NaN'
                    WHEN isinf(min(o_totalprice)) AND min(o_totalprice) > 0 THEN 'Inf'
                    WHEN isinf(min(o_totalprice)) THEN '-Inf'
                    WHEN abs(min(o_totalprice)) >= 1e32 THEN 'out-of-range'
                    ELSE min(o_totalprice)::DECIMAL(38,6)::VARCHAR END FROM orders),
       (SELECT CASE WHEN isnan(max(o_totalprice)) THEN 'NaN'
                    WHEN isinf(max(o_totalprice)) AND max(o_totalprice) > 0 THEN 'Inf'
                    WHEN isinf(max(o_totalprice)) THEN '-Inf'
                    WHEN abs(max(o_totalprice)) >= 1e32 THEN 'out-of-range'
                    ELSE max(o_totalprice)::DECIMAL(38,6)::VARCHAR END FROM orders)
FROM base
""",
)
def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-shaped stats (``operators/profile.table_profile``): per
    column — rows, nulls, exact NDV, min/max — from ONE scan (multi-
    distinct planned as one Expand). The approx (HLL++) variant is the
    100 TB default, error-bound-tested in pytest."""
    from financial_data_pipeline_spark.operators.profile import table_profile

    orders = load_table(spark, sf_dir, "orders")
    return table_profile(
        orders, ["o_custkey", "o_orderstatus", "o_totalprice"]
    )


@query(
    "user_features_at_purchase",
    """
WITH ev AS (SELECT user_id, ts, event_type, value FROM events),
p AS (
  SELECT e.event_id, e.user_id, e.ts, e.value
  FROM events e WHERE e.event_type = 'purchase'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       round(p.value, 6) AS purchase_value,
       (SELECT count(*) FROM ev v
         WHERE v.user_id = p.user_id AND v.event_type = 'view'
           AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 7 DAY) AS views_7d,
       round((SELECT coalesce(sum(x.value), 0) FROM ev x
         WHERE x.user_id = p.user_id AND x.event_type = 'purchase'
           AND x.ts < p.ts), 6) AS spend_to_date,
       (SELECT count(*) FROM ev r
         WHERE r.user_id = p.user_id AND r.event_type = 'error'
           AND r.ts < p.ts AND r.ts >= p.ts - INTERVAL 1 DAY) AS errors_1d
FROM p
""",
)
def q_user_features_at_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window feature engineering at label time: for every
    purchase — views in the prior 7 days, lifetime spend BEFORE this
    purchase, errors in the prior day. One union of the event stream
    with itself is avoided: all three features are event-time RANGE
    windows over ONE user-partitioned pass (conditional sums), strictly
    past-only (frame ends 1 µs before the row) — the leakage-free
    windowed twin of ``point_in_time_features``. Oracle states the same
    semantics as correlated subqueries."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    day = 86_400_000_000
    w7 = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-7 * day, -1)
    )
    w1 = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-day, -1)
    )
    wlife = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    feat = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.sum((F.col("event_type") == "view").cast("long"))
        .over(w7)
        .alias("__views_7d"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        )
        .over(wlife)
        .alias("__spend"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .over(w1)
        .alias("__errors_1d"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("purchase_value"),
        F.coalesce("__views_7d", F.lit(0)).alias("views_7d"),
        F.round(F.coalesce("__spend", F.lit(0.0)), 6).alias("spend_to_date"),
        F.coalesce("__errors_1d", F.lit(0)).alias("errors_1d"),
    )


@query(
    "shuffle_shard_plan",
    """
WITH s AS (
  SELECT doc_id,
         coalesce(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')), 0) AS toks,
         ('0x' || substr(md5(doc_id::VARCHAR || '|' || '0'), 1, 15))::BIGINT
           AS h
  FROM documents
)
SELECT ((h % 8) + 8) % 8 AS shard,
       count(*) AS n_docs,
       sum(toks)::BIGINT AS n_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM s GROUP BY 1
""",
)
def q_shuffle_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard shuffle (``curation.shuffle_shards``,
    8 shards, seed 0): per-shard doc/token totals + id range — shard
    membership is the portable md5 hash, recomputed bit-for-bit by the
    oracle."""
    from financial_data_pipeline_spark.operators.curation import (
        shuffle_shards,
    )
    from financial_data_pipeline_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    sharded = shuffle_shards(docs, n_shards=8, seed=0)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).alias("n_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_BM25_TERMS = ("data", "query", "window")


@query(
    "bm25_search",
    f"""
WITH toks AS (
  SELECT doc_id, u.tok, len(t) AS dl
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents), unnest(t) AS u(tok)
), corpus AS (
  SELECT count(DISTINCT doc_id) AS n_docs,
         avg(dl) AS avgdl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM toks GROUP BY doc_id)
), tf AS (
  SELECT doc_id, tok, count(*) AS tf, any_value(dl) AS dl
  FROM toks WHERE tok IN {tuple(_BM25_TERMS)!r}
  GROUP BY 1, 2
), dfreq AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY 1
)
SELECT tf.doc_id,
       round(list_reduce(list_prepend(0.0::DOUBLE, list(
         ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / corpus.avgdl))
         ORDER BY tf.tok)), (a, x) -> a + x), 6) AS bm25
FROM tf JOIN dfreq USING (tok), corpus
GROUP BY 1
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: BM25 over the documents table for a 3-term
    query (``text.bm25_scores``) — one tokenize pass, query-term-
    filtered shuffle, broadcast df/corpus stats; oracle recomputes
    idf/tf algebra stage-for-stage."""
    from financial_data_pipeline_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_scores(docs, list(_BM25_TERMS))
    return out.select("doc_id", F.round("bm25", 6).alias("bm25"))


@query(
    "mad_outlier_counts",
    BARS_CTE
    + """
, med AS (SELECT symbol, median(close) AS med FROM bars GROUP BY 1),
mad AS (
  SELECT b.symbol, median(abs(b.close - med.med)) AS mad
  FROM bars b JOIN med USING (symbol) GROUP BY 1
)
SELECT b.symbol,
       count(*) AS n,
       sum(CASE WHEN mad.mad > 0
                 AND abs(0.6745 * (b.close - med.med) / mad.mad) > 3.5
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       round(max(CASE WHEN mad.mad > 0
                      THEN abs(0.6745 * (b.close - med.med) / mad.mad)
                 END), 6) AS max_abs_z
FROM bars b JOIN med USING (symbol) JOIN mad USING (symbol)
GROUP BY 1
""",
)
def q_mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per symbol: modified z-score (median/MAD,
    Iglewicz-Hoaglin) — the outlier-immune sibling of `zscore_outlier_
    clean`; exact medians, broadcast joins, oracle recomputes the
    algebra."""
    from financial_data_pipeline_spark.operators.cleaning import (
        mad_outlier_flags,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    flagged = mad_outlier_flags(bars, "close")
    return flagged.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("close_is_outlier").cast("long")).alias("n_outliers"),
        F.round(F.max(F.abs("close_mad_z")), 6).alias("max_abs_z"),
    )


_RRF_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.tok, len(t) AS dl
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents), unnest(t) AS u(tok)
), corpus AS (
  SELECT count(DISTINCT doc_id) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM toks GROUP BY doc_id)
), tf AS (
  SELECT doc_id, tok, count(*) AS tf, any_value(dl) AS dl
  FROM toks WHERE tok IN {('data', 'query', 'window')!r}
  GROUP BY 1, 2
), dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
bm AS (
  -- ordered fold in token order, mirroring bm25_scores' pinned
  -- accumulation (rerun ULP drift flipped deep ranks at sf0.1)
  SELECT tf.doc_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(
             ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / corpus.avgdl))
             ORDER BY tf.tok)), (a, x) -> a + x) AS s
  FROM tf JOIN dfreq USING (tok), corpus
  GROUP BY 1
), bmr AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
  FROM bm
), q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cr AS (
  SELECT e.vec_id AS doc_id,
         row_number() OVER (
           ORDER BY coalesce(list_dot_product(e.embedding::DOUBLE[], q.qv) / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC,
                    e.vec_id ASC) AS r
  FROM embeddings e, q
), fused AS (
  SELECT coalesce(bmr.doc_id, cr.doc_id) AS doc_id,
         coalesce(1.0 / (60 + bmr.r), 0) + coalesce(1.0 / (60 + cr.r), 0)
           AS rrf
  FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id
)
SELECT doc_id, round(rrf, 6) AS rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20
"""


@query("hybrid_search_rrf", _RRF_SQL)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal rank fusion (k=60) of the BM25
    lexical ranking and the embedding cosine ranking over the shared
    id space — the standard two-tower + lexical fusion. Each ranking
    is a window over its own (small) scored frame; the fusion is a
    full-outer join of rank frames, never a re-scan. Top-20 by fused
    score."""
    from pyspark.sql import Window as W

    from financial_data_pipeline_spark.operators.similarity import (
        _vec_sql,
        cosine,
    )
    from financial_data_pipeline_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_scores(docs, ["data", "query", "window"])
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("r_lex"),
    )
    qv = _vec_sql(_query_vec(spark, sf_dir))
    cr = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.desc(cosine("embedding", qv)), F.asc("vec_id")))
        .alias("r_sem"),
    )
    fused = bmr.join(cr, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.round("rrf", 6).alias("rrf"))
    )


@query(
    "seasonal_naive_eval",
    BARS_CTE
    + """
, p AS (
  SELECT symbol, timestamp, close,
         lag(close, 24) OVER (PARTITION BY symbol ORDER BY timestamp) AS pred
  FROM bars
)
SELECT symbol,
       count(*) AS n_scored,
       round(avg(abs(close - pred)), 6) AS mae,
       round(sqrt(avg((close - pred) * (close - pred))), 6) AS rmse,
       round(avg(CASE WHEN close <> 0
                      THEN abs(close - pred) / abs(close) END), 6) AS mape
FROM p WHERE pred IS NOT NULL
GROUP BY 1
""",
)
def q_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast baseline + scorecard: seasonal-naive prediction (the
    value one season — 24 bars — ago, the baseline every forecasting
    benchmark must beat) evaluated per symbol with MAE/RMSE/MAPE in
    one aggregate. A lag window per symbol; no state, no Python."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    p = bars.withColumn("pred", F.lag("close", 24).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.col("close") - F.col("pred")
    return p.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.sqrt(F.avg(err * err)), 6).alias("rmse"),
        F.round(
            F.avg(
                F.when(
                    F.col("close") != 0, F.abs(err) / F.abs(F.col("close"))
                )
            ),
            6,
        ).alias("mape"),
    )


@query(
    "purged_fold_counts",
    BARS_CTE
    + """
, cuts AS (
  SELECT quantile_cont(epoch_us(timestamp), [0.25, 0.5, 0.75]) AS cs
  FROM bars
), f AS (
  SELECT epoch_us(b.timestamp) AS t,
         len(list_filter(cuts.cs, c -> epoch_us(b.timestamp) > c)) AS fold,
         len(list_filter(cuts.cs,
             c -> epoch_us(b.timestamp) <= c
              AND epoch_us(b.timestamp) > c - 1800000000)) > 0
           AS purged_before
  FROM bars b, cuts
)
SELECT fold, purged_before, count(*) AS n
FROM f GROUP BY 1, 2
""",
)
def q_purged_fold_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged walk-forward CV (López de Prado): contiguous quantile
    folds + a 30-minute embargo flag below each boundary — training
    rows whose label window would straddle a test boundary get
    excluded. One quantile aggregate broadcast; oracle recomputes fold
    and embargo membership."""
    from financial_data_pipeline_spark.operators.splitter import (
        purged_walk_forward,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    out = purged_walk_forward(bars, n_folds=4, embargo_seconds=1800)
    return out.groupBy("fold", "purged_before").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "risk_ratios",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
)
SELECT symbol,
       count(*) AS n_obs,
       round(avg(r) / stddev_samp(r), 6) AS sharpe,
       round(avg(r) / sqrt(avg(CASE WHEN r < 0 THEN r * r ELSE 0 END)), 6)
         AS sortino,
       round(avg(CASE WHEN r < 0 THEN 1.0 ELSE 0.0 END), 6) AS downside_freq
FROM r WHERE r IS NOT NULL
GROUP BY 1
""",
)
def q_risk_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol risk-adjusted return ratios in one aggregate:
    per-bar Sharpe (mean/σ), Sortino (mean over downside RMS) and
    downside frequency — annualization is a scalar the caller applies.
    Complements realized_vol_daily / max_drawdown."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = bars.withColumn(
        "r", F.log(F.col("close") / F.lag("close").over(w))
    ).filter(F.col("r").isNotNull())
    down_sq = F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0)
    return r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.avg("r") / F.stddev_samp("r"), 6).alias("sharpe"),
        F.round(F.avg("r") / F.sqrt(F.avg(down_sq)), 6).alias("sortino"),
        F.round(F.avg((F.col("r") < 0).cast("double")), 6).alias(
            "downside_freq"
        ),
    )


@query(
    "microstructure_metrics",
    BARS_CTE
    + """
, d0 AS (
  SELECT symbol, timestamp, close, volume,
         ln(close / lag(close) OVER w) AS r,
         close - lag(close) OVER w AS dp
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), d AS (
  SELECT *, lag(dp) OVER (PARTITION BY symbol ORDER BY timestamp) AS dp_prev
  FROM d0
)
SELECT symbol,
       count(*) AS n_obs,
       round(avg(CASE WHEN close * volume > 0
                      THEN abs(r) / (close * volume) END) * 1e9, 3)
         AS amihud_x1e9,
       round(CASE WHEN covar_samp(dp, dp_prev) < 0
                  THEN 2 * sqrt(-covar_samp(dp, dp_prev)) END, 6)
         AS roll_spread
FROM d WHERE r IS NOT NULL AND dp_prev IS NOT NULL
GROUP BY 1
""",
)
def q_microstructure_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liquidity microstructure per symbol, one aggregate: Amihud
    illiquidity (mean |return| per unit dollar volume, ×1e9) and
    Roll's implied spread (2·√−cov(Δp, Δp₋₁), defined only when the
    autocovariance is negative as the model requires). Two lag windows
    share one per-symbol sort."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    d = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .withColumn("dp", F.col("close") - F.lag("close").over(w))
        .withColumn("dp_prev", F.lag("dp").over(w))
        .filter(F.col("r").isNotNull() & F.col("dp_prev").isNotNull())
    )
    dollar_vol = F.col("close") * F.col("volume")
    cov = F.covar_samp("dp", "dp_prev")
    return d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        # 3 dp, not 6: the unordered avg carries ~1e-16 relative noise
        # which the 1e9 scale lifts to ~1e-6 absolute -- a 6-dp round
        # can land either side of a boundary between engines (seen at
        # sf0.001)
        F.round(
            F.avg(
                F.when(dollar_vol > 0, F.abs(F.col("r")) / dollar_vol)
            )
            * 1e9,
            3,
        ).alias("amihud_x1e9"),
        F.round(
            F.when(cov < 0, 2 * F.sqrt(-cov)), 6
        ).alias("roll_spread"),
    )


@query(
    "theta_retention_days",
    """
WITH d AS (
  SELECT DISTINCT ts::DATE AS day, user_id FROM events
), days AS (
  SELECT day, row_number() OVER (ORDER BY day) AS rn
  FROM (SELECT DISTINCT day FROM d)
), a AS (SELECT user_id FROM d JOIN days USING (day) WHERE rn = 1),
b AS (SELECT user_id FROM d JOIN days USING (day) WHERE rn = 2)
SELECT (SELECT count(*) FROM a) AS n_a,
       (SELECT count(*) FROM b) AS n_b,
       (SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b))
         AS retained,
       (SELECT count(*) FROM a WHERE user_id NOT IN (SELECT user_id FROM b))
         AS churned,
       (SELECT count(*) FROM b WHERE user_id NOT IN (SELECT user_id FROM a))
         AS new_users
""",
)
def q_theta_retention_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention as Theta-sketch SET ALGEBRA: per-day
    sketches of distinct users, |A|, |B|, |A∩B|, |A\\B|, |B\\A| from
    sketch bytes alone — the set operations HLL cannot do. Exact in
    the retained-entry regime (daily distincts ≪ 2^lg_k), which is
    what lets the oracle compare against exact set SQL."""
    from financial_data_pipeline_spark.operators import sketches as sk

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    th = sk.theta_sketches(ev, "user_id", ["day"])
    days = [r.day for r in th.select("day").orderBy("day").limit(2).collect()]
    out = sk.retention_between(th, "day", days[0], days[1])
    return out.select(
        *[F.col(c).cast("long").alias(c) for c in out.columns]
    )


# ---------------------------------------------------------------------------
# Round-2 additions: seasonal decomposition, policy filtering, cointegration
# ---------------------------------------------------------------------------


@query(
    "seasonal_anomalies",
    BARS_CTE
    + r"""
, base AS (
  SELECT symbol, timestamp, close,
         ((row_number() OVER w) - 1) % 24 AS phase,
         CASE WHEN count(close) OVER f = 24 THEN avg(close) OVER f END AS trend
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp),
         f AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
), detr AS (
  SELECT *, close - trend AS d FROM base
), pm0 AS (
  SELECT symbol, phase, avg(d) AS s_raw
  FROM detr WHERE d IS NOT NULL GROUP BY 1, 2
), pm AS (
  SELECT symbol, phase,
         s_raw - avg(s_raw) OVER (PARTITION BY symbol) AS seasonal
  FROM pm0
), dd AS (
  SELECT detr.symbol, detr.timestamp, detr.phase, detr.trend,
         pm.seasonal, detr.d - pm.seasonal AS resid
  FROM detr LEFT JOIN pm USING (symbol, phase)
), med AS (
  SELECT symbol, median(resid) AS med
  FROM dd WHERE resid IS NOT NULL GROUP BY 1
), mad AS (
  SELECT dd.symbol, median(abs(resid - med)) AS mad
  FROM dd JOIN med USING (symbol) WHERE resid IS NOT NULL GROUP BY 1
)
SELECT dd.symbol, epoch_us(timestamp) AS ts_us, phase,
       round(trend, 6) AS trend, round(seasonal, 6) AS seasonal,
       round(resid, 6) AS resid,
       round(3.0 * 1.4826 * mad, 6) AS threshold,
       coalesce(abs(round(resid, 6)) > round(3.0 * 1.4826 * mad, 6),
                false) AS anomaly
FROM dd LEFT JOIN mad USING (symbol)
""",
)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (period = 24 hourly bars → daily
    seasonality) + robust residual anomaly flags, value-compared
    row-for-row: trend (centered MA), centered per-phase seasonal,
    residual, per-symbol MAD threshold, and the flag itself (computed
    on 6-dp-rounded values so both engines flag identically)."""
    from financial_data_pipeline_spark.operators.seasonal import seasonal_anomalies

    bars = events_as_ohlcv(spark, sf_dir)
    out = seasonal_anomalies(bars, period=24, k=3.0, round_dp=6)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        "phase",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("resid", 6).alias("resid"),
        F.round("threshold", 6).alias("threshold"),
        # edge rows (incomplete trend window) are "not anomalous", not
        # null — null booleans stringify differently across pandas
        # bridges and would scramble the driver's value hash
        F.coalesce("anomaly", F.lit(False)).alias("anomaly"),
    )


@query(
    "source_policy_filter",
    r"""
WITH flagged AS (
  SELECT source,
         CASE WHEN source IN ('src7', 'src13') THEN 'blocked_source'
              WHEN regexp_matches(text, '(?i)\b(vector|stream)\b')
                THEN 'badword'
              WHEN len(text) < 100 THEN 'too_short' END AS drop_reason
  FROM documents
)
SELECT source, coalesce(drop_reason, 'kept') AS outcome, count(*) AS n_docs
FROM flagged GROUP BY 1, 2
""",
)
def q_source_policy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style provenance/content policy filter: blocked-source list,
    word-boundary badword alternation, length floor — first rule wins;
    per-(source, outcome) attrition counts value-compared."""
    from financial_data_pipeline_spark.operators.curation import source_policy_flags

    docs = load_table(spark, sf_dir, "documents")
    flagged = source_policy_flags(
        docs,
        blocked_sources=["src7", "src13"],
        badwords=["vector", "stream"],
        min_chars=100,
    )
    return (
        flagged.groupBy(
            "source", F.coalesce("drop_reason", F.lit("kept")).alias("outcome")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "pairs_cointegration",
    BARS_CTE
    + """
, p AS (
  SELECT symbol AS s, timestamp AS t, ln(close) AS lp
  FROM bars WHERE close > 0
), pr AS (
  SELECT a.s AS sa, b.s AS sb, a.t AS t, a.lp AS pa, b.lp AS pb
  FROM p a JOIN p b ON a.t = b.t AND a.s < b.s
), ols AS (
  SELECT sa, sb, covar_pop(pa, pb) / var_pop(pa) AS beta,
         avg(pa) AS ma, avg(pb) AS mb, count(*) AS n_obs
  FROM pr GROUP BY 1, 2
), ols2 AS (
  SELECT sa, sb, beta, mb - beta * ma AS alpha, n_obs FROM ols
), sp AS (
  SELECT pr.sa, pr.sb, pr.t, pb - alpha - beta * pa AS e,
         beta, alpha, n_obs
  FROM pr JOIN ols2 USING (sa, sb)
), lg AS (
  SELECT *, lag(e) OVER (PARTITION BY sa, sb ORDER BY t) AS e_lag FROM sp
), fin AS (
  SELECT sa, sb, beta, alpha, n_obs,
         covar_pop(e_lag, e - e_lag) / var_pop(e_lag) AS lam
  FROM lg WHERE e_lag IS NOT NULL GROUP BY 1, 2, 3, 4, 5
)
SELECT sa AS sym_a, sb AS sym_b, n_obs,
       round(beta, 6) AS beta, round(alpha, 6) AS alpha,
       round(lam, 6) AS mean_rev,
       round(CASE WHEN 1.0 + lam > 0 AND 1.0 + lam < 1
                  THEN -ln(2.0) / ln(1.0 + lam) END, 4) AS half_life
FROM fin
""",
)
def q_pairs_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger pairs diagnostics per symbol pair: OLS hedge ratio
    of log prices, AR(1) mean-reversion rate of the spread, half-life —
    all closed-form aggregates, value-compared."""
    bars = events_as_ohlcv(spark, sf_dir).filter(F.col("close") > 0)
    out = indicators.pairwise_cointegration(bars)
    return out.select(
        "sym_a",
        "sym_b",
        "n_obs",
        F.round("beta", 6).alias("beta"),
        F.round("alpha", 6).alias("alpha"),
        F.round("lambda", 6).alias("mean_rev"),
        F.round("half_life", 4).alias("half_life"),
    )


def _bpe_oracle_sql(n_merges: int = 12) -> str:
    r"""Unrolled BPE-trajectory replay (the kmeans/mmr/pagerank CTE
    device, with NO float pins needed — pair counts are integers and
    the (cnt DESC, left ASC, right ASC) argmax tie-break is exact in
    both engines). Round n = one argmax CTE ``t{n}`` over the previous
    vocabulary's adjacent-pair weighted counts, plus one rewrite CTE
    ``r{n}`` applying the merge left-to-right non-overlapping: match
    positions, group CONSECUTIVE matches into runs (only possible when
    left = right, e.g. (a,a) on 'aaa'), keep every other match within
    a run (greedy semantics: the freshly merged token is not
    re-considered), concat kept pairs, drop the absorbed right symbol,
    re-number positions. All MATERIALIZED — DuckDB inlines CTEs by
    default and a 12-deep chain re-expands exponentially otherwise."""
    parts = [
        r"""
WITH w0 AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS weight FROM (
    SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
),
r0 AS MATERIALIZED (
  SELECT word AS wid, weight,
         unnest(range(1, len(s) + 1)) AS pos, unnest(s) AS sym
  FROM (SELECT word, weight,
               list_append(
                 list_filter(regexp_split_to_array(word, ''), x -> x <> ''),
                 '</w>') AS s
        FROM w0)
)"""
    ]
    for n in range(1, n_merges + 1):
        parts.append(
            f"""
t{n} AS MATERIALIZED (
  SELECT sym AS l, nxt AS r, sum(weight)::BIGINT AS cnt
  FROM (SELECT weight, sym,
               lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
        FROM r{n - 1})
  WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
),
r{n} AS MATERIALIZED (
  SELECT wid, weight,
         row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
         CASE WHEN kept THEN sym || nxt ELSE sym END AS sym
  FROM (
    SELECT *, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt,
           coalesce(lag(kept) OVER (PARTITION BY wid ORDER BY pos),
                    FALSE) AS pkept
    FROM (
      SELECT *, CASE WHEN mtch THEN
               (mseq - min(mseq) OVER (PARTITION BY wid, grp)) % 2 = 0
             ELSE FALSE END AS kept
      FROM (
        SELECT *, CASE WHEN mtch THEN pos - mseq END AS grp
        FROM (
          SELECT *, sum(CASE WHEN mtch THEN 1 ELSE 0 END)
                      OVER (PARTITION BY wid ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS mseq
          FROM (
            SELECT v.wid, v.weight, v.pos, v.sym,
                   v.sym = t.l AND
                   lead(v.sym) OVER (PARTITION BY v.wid ORDER BY v.pos)
                     = t.r AS mtch
            FROM r{n - 1} v CROSS JOIN t{n} t
          )
        )
      )
    )
  ) WHERE NOT pkept
)"""
        )
    # engine parity: learn_bpe_merges stops once the argmax pair count
    # drops below min_count=2 (and counts never recover — merging a
    # count-1 pair only creates pairs of count ≤ 1), so each emitted
    # round is gated on cnt >= 2 to match the early stop on sparse
    # corpora instead of emitting 12 rows unconditionally
    final = "\nUNION ALL\n".join(
        f'SELECT {n - 1} AS rank, l AS "left", r AS "right",'
        f" cnt AS pair_count FROM t{n} WHERE cnt >= 2"
        for n in range(1, n_merges + 1)
    )
    return ",".join(parts) + "\n" + final


@query("bpe_merges", _bpe_oracle_sql())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction on the documents corpus: 12 merge
    rounds over the word-frequency table (built in ONE distributed
    corpus pass). Size-adaptive since r9: under
    ``driver_threshold`` distinct words the merge loop runs on the
    driver over the collected map (identical integer counts and
    tie-breaks — the ``dedup_clusters`` pattern); past it, the
    distributed per-round argmax jobs (forced live by
    ``bpe_merges_distributed`` below). The 12-round argmax trajectory
    unrolls into a MATERIALIZED-CTE chain the DuckDB twin replays
    round for round — integer counts and an exact string tie-break
    mean no float pins at all — so the driver value-checks every
    learned merge and its pair count; the pure-Python differential in
    tests/test_bpe.py still covers the operator directly."""
    from financial_data_pipeline_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents").select("text")
    merges = learn_bpe_merges(docs, n_merges=12, checkpoint_every=4)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


@query("bpe_merges_distributed", _bpe_oracle_sql())
def q_bpe_merges_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The past-threshold SCALE PATH of ``bpe_merges`` forced live
    (``driver_threshold=0`` → the per-round distributed pair-count +
    argmax jobs a web-scale vocabulary takes) against the same
    unrolled-CTE oracle — the size-triggered branch stays
    oracle-exercised at every SF (the ``dedup_clusters_distributed``
    forcing-fixture clause). Must be value-identical to
    ``bpe_merges``."""
    from financial_data_pipeline_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents").select("text")
    merges = learn_bpe_merges(
        docs, n_merges=12, checkpoint_every=4, driver_threshold=0
    )
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


@query(
    "cusum_changepoints",
    BARS_CTE
    + """
, st AS (
  SELECT symbol, avg(close) AS mu, stddev_samp(close) AS sd
  FROM bars GROUP BY 1
), z AS (
  SELECT b.symbol, timestamp, (close - mu) / sd AS z
  FROM bars b JOIN st USING (symbol)
), p AS (
  SELECT symbol, timestamp,
         sum(z - 0.5) OVER w AS pu,
         sum(-z - 0.5) OVER w AS pd
  FROM z
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
  SELECT symbol, timestamp,
         pu - least(min(pu) OVER w, 0.0) AS cu,
         pd - least(min(pd) OVER w, 0.0) AS cd
  FROM p
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(cu, 6) AS cusum_up, round(cd, 6) AS cusum_down,
       (round(cu, 6) > 8.0 OR round(cd, 6) > 8.0) AS changepoint
FROM c
""",
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection per symbol via the
    prefix-sum/running-min closed form (no sequential recursion) —
    cumulative statistics and the alarm flag value-compared row-for-row
    (flag recomputed from 6-dp-rounded values in both engines)."""
    from financial_data_pipeline_spark.operators.drift import cusum_flags

    bars = events_as_ohlcv(spark, sf_dir)
    out = cusum_flags(bars, "close", drift=0.5, threshold=8.0)
    cu = F.round("cusum_up", 6)
    cd = F.round("cusum_down", 6)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        cu.alias("cusum_up"),
        cd.alias("cusum_down"),
        ((cu > 8.0) | (cd > 8.0)).alias("changepoint"),
    )


@query(
    "target_encoding_loo",
    """
WITH agg AS (
  SELECT o_orderpriority, sum(o_totalprice) AS s, count(*) AS n
  FROM orders GROUP BY 1
), g AS (SELECT avg(o_totalprice) AS gm FROM orders)
SELECT o_orderkey, o_orderpriority,
       round(((s - o_totalprice) + 10.0 * gm) / ((n - 1) + 10.0), 4) AS te
FROM orders JOIN agg USING (o_orderpriority) CROSS JOIN g
""",
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free smoothed leave-one-out target encoding of order
    priority against order value — per-row encodings value-compared
    (the facts never shuffle; category aggregates broadcast back).

    te is pinned at 4dp, not 6: the per-priority sums are unordered
    folds over thousands of ~1e5-magnitude prices, so te carries
    ~1e-7 of layout-dependent float noise — right at a 6dp half
    boundary (the r05 alt-partitioning sweep caught a flip). 4dp gives
    a ~500× noise margin on a ~1e4-magnitude value without the
    anti-scale ordered fold (the group lists are unbounded here)."""
    from financial_data_pipeline_spark.operators.encoding import target_encode_loo

    orders = load_table(spark, sf_dir, "orders")
    out = target_encode_loo(orders, "o_orderpriority", "o_totalprice")
    return out.select(
        "o_orderkey", "o_orderpriority", F.round("te", 4).alias("te")
    )


@query(
    "cohort_retention",
    """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), coh AS (
  SELECT user_id, min(d) AS c0 FROM act GROUP BY 1
)
SELECT CAST(c0 AS VARCHAR) AS cohort_day,
       CAST(floor(date_diff('day', c0, d) / 7) AS INTEGER) AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM act JOIN coh USING (user_id)
GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted per 7-day offset bucket of each later active day — the
    classic cohort heatmap feed as (user, day) grid + min-day aggregate
    + one grouped distinct count."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    coh = act.groupBy("user_id").agg(F.min("d").alias("c0"))
    j = act.join(coh, "user_id")
    return j.groupBy(
        F.col("c0").cast("string").alias("cohort_day"),
        F.floor(F.datediff("d", "c0") / 7).cast("int").alias("week_offset"),
    ).agg(F.count_distinct("user_id").alias("n_users"))


@query(
    "top_event_paths",
    """
WITH paths AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY 1, 2
)
SELECT path, count(*) AS n_days
FROM paths GROUP BY 1
ORDER BY n_days DESC, path ASC
LIMIT 20
""",
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: each (user, day)'s ordered event-type
    sequence as a '>'-joined path, top-20 by frequency (deterministic
    (ts, event_id) order and tie-break). One shuffle builds the paths,
    a count + TakeOrdered ranks them."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    paths = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        seq.alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_days"))
        .orderBy(F.desc("n_days"), F.asc("path"))
        .limit(20)
    )


@query(
    "ab_test_welch",
    """
WITH agg AS (
  SELECT event_type, avg(value) AS m, var_samp(value) AS v,
         count(value) AS n
  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1
), a AS (SELECT m, v, n FROM agg WHERE event_type = 'purchase'),
   b AS (SELECT m, v, n FROM agg WHERE event_type = 'view')
SELECT 'purchase' AS group_a, 'view' AS group_b, a.n AS n_a, b.n AS n_b,
       round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
       round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
       round(power(a.v / a.n + b.v / b.n, 2)
             / (power(a.v / a.n, 2) / (a.n - 1)
                + power(b.v / b.n, 2) / (b.n - 1)), 4) AS welch_df
FROM a, b
""",
)
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t between two
    event groups — one grouped aggregate, one-row crossJoin, closed
    forms, value-compared."""
    from financial_data_pipeline_spark.operators.stats import welch_t_test

    ev = load_table(spark, sf_dir, "events")
    out = welch_t_test(ev, "event_type", "value", "purchase", "view")
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round("welch_df", 4).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Momentum oscillators / channels / range volatility (indicator families
# beyond the reference's TechnicalIndicators class, same W1-W6 window
# algebra — see operators/indicators.py tail section)
# ---------------------------------------------------------------------------


@query(
    "oscillators",
    BARS_CTE
    + """
, k AS (
  SELECT symbol, timestamp, close, high, low,
         CASE WHEN count(low) OVER w14 >= 14
                   AND max(high) OVER w14 > min(low) OVER w14
              THEN 100.0 * (close - min(low) OVER w14)
                   / (max(high) OVER w14 - min(low) OVER w14) END AS stoch_k,
         CASE WHEN count(low) OVER w14 >= 14
                   AND max(high) OVER w14 > min(low) OVER w14
              THEN -100.0 * (max(high) OVER w14 - close)
                   / (max(high) OVER w14 - min(low) OVER w14) END AS williams_r,
         list((high + low + close) / 3.0) OVER w20 AS l
  FROM bars
  WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         w20 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), c AS (
  SELECT *, list_sum(l) / len(l) AS m,
         list_sum(list_transform(l, y -> abs(y - m))) / len(l) AS mad
  FROM k
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(stoch_k, 6) AS stoch_k,
       round(CASE WHEN count(stoch_k) OVER wd >= 3
                  THEN avg(stoch_k) OVER wd END, 6) AS stoch_d,
       round(williams_r, 6) AS williams_r,
       round(CASE WHEN len(l) >= 20 AND mad > 0
                  THEN ((high + low + close) / 3.0 - m) / (0.015 * mad)
             END, 6) AS cci
FROM c
WINDOW wd AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def q_oscillators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic %K/%D, Williams %R, CCI(20) in one symbol-partitioned
    window pass (``indicators.stochastic/williams_r/cci``). The CCI mean
    absolute deviation is the bounded collect_list + aggregate-fold form
    — per-row O(n), codegen, no Python — value-compared against a
    DuckDB list-lambda twin."""
    bars = events_as_ohlcv(spark, sf_dir)
    st = indicators.stochastic(14, 3)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(st["stoch_k"], 6).alias("stoch_k"),
        F.round(st["stoch_d"], 6).alias("stoch_d"),
        F.round(indicators.williams_r(14), 6).alias("williams_r"),
        F.round(indicators.cci(20), 6).alias("cci"),
    )


@query(
    "obv_roc",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp, close, volume,
         close - lag(close) OVER w AS delta,
         lag(close, 10) OVER w AS close_10
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sum(CASE WHEN delta > 0 THEN volume
                      WHEN delta < 0 THEN -volume ELSE 0.0 END)
             OVER (PARTITION BY symbol ORDER BY timestamp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS obv,
       round(100.0 * (close / close_10 - 1.0), 6) AS roc_10
FROM d
""",
)
def q_obv_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume (running signed-volume sum, Granville zero
    seed) + 10-bar rate of change (``indicators.obv/roc``) — cumulative
    and lag windows share the one per-symbol sort."""
    bars = events_as_ohlcv(spark, sf_dir)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.obv(), 4).alias("obv"),
        F.round(indicators.roc("close", 10), 6).alias("roc_10"),
    )


@query(
    "price_channels",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, timestamp, high, low, close,
         greatest(high - low, abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(high) OVER w20 >= 20 THEN max(high) OVER w20 END, 6) AS donchian_upper,
       round(CASE WHEN count(low) OVER w20 >= 20 THEN min(low) OVER w20 END, 6) AS donchian_lower,
       round(CASE WHEN count(high) OVER w20 >= 20
                  THEN (max(high) OVER w20 + min(low) OVER w20) / 2.0 END, 6) AS donchian_mid,
       round(CASE WHEN count(*) OVER w20 >= 20
                  THEN avg((high + low + close) / 3.0) OVER w20 END, 6) AS keltner_mid,
       round(CASE WHEN count(*) OVER w20 >= 20 AND count(tr) OVER w10 >= 10
                  THEN avg((high + low + close) / 3.0) OVER w20
                       + 2.0 * avg(tr) OVER w10 END, 6) AS keltner_upper,
       round(CASE WHEN count(*) OVER w20 >= 20 AND count(tr) OVER w10 >= 10
                  THEN avg((high + low + close) / 3.0) OVER w20
                       - 2.0 * avg(tr) OVER w10 END, 6) AS keltner_lower
FROM t
WINDOW w20 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       w10 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
)
def q_price_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian(20) + Keltner(20, ATR 10, 2x) channels
    (``indicators.donchian/keltner``) — six band columns from two
    rolling extents and two rolling means over one sort."""
    bars = events_as_ohlcv(spark, sf_dir)
    dc = indicators.donchian(20)
    kl = indicators.keltner(20, 10, 2.0)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        *[F.round(dc[c], 6).alias(c) for c in ("donchian_upper", "donchian_lower", "donchian_mid")],
        *[F.round(kl[c], 6).alias(c) for c in ("keltner_mid", "keltner_upper", "keltner_lower")],
    )


@query(
    "range_volatility",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, timestamp,
         pow(ln(high / low), 2) AS hl2,
         0.5 * pow(ln(high / low), 2)
           - (2.0 * ln(2.0) - 1.0) * pow(ln(close / open), 2) AS gk
  FROM bars
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(hl2) OVER w >= 20
                  THEN sqrt(sum(hl2) OVER w / (4.0 * ln(2.0) * 20)) END, 8)
         AS parkinson_vol,
       round(CASE WHEN count(gk) OVER w >= 20 AND avg(gk) OVER w >= 0
                  THEN sqrt(avg(gk) OVER w) END, 8) AS gk_vol
FROM t
WINDOW w AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
""",
)
def q_range_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson high-low and Garman-Klass OHLC volatility estimators
    over a 20-bar window (``indicators.parkinson_volatility/
    garman_klass_volatility``) — range-based estimators a risk stack
    computes next to ``realized_volatility``'s close-to-close form."""
    bars = events_as_ohlcv(spark, sf_dir)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.parkinson_volatility(20), 8).alias("parkinson_vol"),
        F.round(indicators.garman_klass_volatility(20), 8).alias("gk_vol"),
    )


@query(
    "ks_drift_by_dow",
    """
WITH filt AS (
  SELECT dayofweek(ts) AS dow, event_type, value
  FROM events WHERE event_type IN ('purchase', 'view')
), counted AS (
  SELECT dow, value AS v,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
  FROM filt GROUP BY 1, 2
), ecdf AS (
  SELECT dow,
         sum(ca) OVER (PARTITION BY dow ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / CAST(sum(ca) OVER (PARTITION BY dow) AS DOUBLE) AS fa,
         sum(cb) OVER (PARTITION BY dow ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / CAST(sum(cb) OVER (PARTITION BY dow) AS DOUBLE) AS fb,
         sum(ca) OVER (PARTITION BY dow) AS na,
         sum(cb) OVER (PARTITION BY dow) AS nb
  FROM counted
), agg AS (
  SELECT dow, max(abs(fa - fb)) AS ks_d,
         first(na) AS n_a, first(nb) AS n_b
  FROM ecdf GROUP BY dow
), lam AS (
  SELECT *, (sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE)) + 0.12
             + 0.11 / sqrt(n_a * n_b / CAST(n_a + n_b AS DOUBLE))) * ks_d AS l
  FROM agg
)
SELECT dow, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, round(ks_d, 6) AS ks_d,
       round(least(1.0, greatest(0.0, CASE
         WHEN l = 0.0 THEN 1.0
         WHEN l < 1.18 THEN 1.0 - (sqrt(2.0 * pi()) / l)
           * list_sum(list_transform(range(1, 4),
               j -> exp(-(2.0*j - 1.0)*(2.0*j - 1.0) * pi()*pi() / (8.0*l*l))))
         ELSE 2.0 * list_sum(list_transform(range(1, 101),
               j -> pow(-1.0, j - 1) * exp(-2.0 * j * j * l * l)))
       END)), 6) AS ks_pvalue
FROM lam
""",
)
def q_ks_drift_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-weekday two-sample Kolmogorov-Smirnov drift between purchase
    and view value distributions (``drift.ks_two_sample``) — exact D
    from distinct-value ECDF jump points, asymptotic p via the
    Kolmogorov series with Stephens' correction, all codegen."""
    from financial_data_pipeline_spark.operators.drift import ks_two_sample

    ev = load_table(spark, sf_dir, "events").withColumn(
        # Spark dayofweek is 1=Sunday..7=Saturday, same as DuckDB's
        # dayofweek()+1 — DuckDB returns 0=Sunday..6=Saturday
        "dow",
        F.dayofweek("ts") - 1,
    )
    out = ks_two_sample(ev, "event_type", "value", "purchase", "view", by=["dow"])
    return out.select(
        "dow",
        "n_a",
        "n_b",
        F.round("ks_d", 6).alias("ks_d"),
        F.round("ks_pvalue", 6).alias("ks_pvalue"),
    )


@query(
    "token_entropy",
    """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
), tot AS (
  SELECT doc_id, sum(c) AS n, count(*) AS n_distinct FROM cnt GROUP BY 1
)
SELECT t.doc_id,
       round(-sum((c.c / CAST(t.n AS DOUBLE))
                  * log2(c.c / CAST(t.n AS DOUBLE))), 6) AS token_entropy,
       round(any_value(t.n_distinct) / CAST(any_value(t.n) AS DOUBLE), 6)
         AS type_token_ratio
FROM cnt c JOIN tot t USING (doc_id)
GROUP BY t.doc_id
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level Shannon entropy + type-token ratio per document
    (``text.token_entropy``): the Spark side is a shuffle-free sorted
    run-length fold; the oracle is the straightforward unnest +
    group-count twin, so the algebraic rearrangement
    (log2 n − Σc·log2 c / n) is value-checked against the textbook
    −Σ p·log2 p form."""
    from financial_data_pipeline_spark.operators.text import token_entropy

    # rlike(\S), not length(trim(...)) > 0: Spark trim strips only
    # ASCII spaces, so a newline/tab-only doc passed the old filter and
    # produced an entropy row the oracle's tokenizer (zero tokens -> no
    # row) never emits — fuzzed-table finding. The contract is "has at
    # least one whitespace-delimited token".
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("text").rlike(r"\S")
    )
    te = token_entropy(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(te["token_entropy"], 6).alias("token_entropy"),
        F.round(te["type_token_ratio"], 6).alias("type_token_ratio"),
    )


@query(
    "mann_whitney_purchase_view",
    """
WITH pooled AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('purchase', 'view')
), ranked AS (
  SELECT g, v,
         rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS r
  FROM pooled
), agg AS (
  SELECT sum(CASE WHEN g = 'purchase' THEN r END) AS ra,
         sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS n_b
  FROM ranked
), ties AS (
  SELECT sum(t*t*t - t) AS tie3
  FROM (SELECT count(*) AS t FROM pooled GROUP BY v)
), z AS (
  SELECT n_a, n_b,
         ra - n_a * (n_a + 1.0) / 2.0 AS u_a,
         n_a * n_b / 2.0 AS mu,
         n_a * n_b / 12.0 * ((n_a + n_b + 1.0)
           - tie3 / ((n_a + n_b) * (n_a + n_b - 1.0))) AS var
  FROM agg, ties
), zz AS (
  SELECT n_a, n_b, u_a,
         (u_a - mu - CASE WHEN u_a > mu THEN 0.5
                          WHEN u_a < mu THEN -0.5 ELSE 0.0 END)
           / sqrt(var) AS zval
  FROM z
), e AS (
  SELECT *, abs(zval) / sqrt(2.0) AS az,
         1.0 / (1.0 + 0.3275911 * abs(zval) / sqrt(2.0)) AS t
  FROM zz
)
SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, round(u_a, 2) AS u_a, round(zval, 6) AS z,
       round(least(1.0,
         t * (0.254829592 + t * (-0.284496736
              + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
           * exp(-az * az)), 6) AS p_value
FROM e
""",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) between purchase and view event values
    (``stats.mann_whitney_u``): tie-corrected variance, continuity
    correction, A-S 7.1.26 erfc p-value — the nonparametric companion
    row to ``ab_test_welch``, value-compared end to end."""
    from financial_data_pipeline_spark.operators.stats import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    out = mann_whitney_u(ev, "event_type", "value", "purchase", "view")
    return out.select(
        "n_a",
        "n_b",
        F.round("u_a", 2).alias("u_a"),
        F.round("z", 6).alias("z"),
        F.round("p_value", 6).alias("p_value"),
    )


@query(
    "benford_order_totals",
    """
WITH d AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(abs(o_totalprice)
              / pow(10.0, floor(log10(abs(o_totalprice))))) AS INT) AS digit
  FROM orders WHERE abs(o_totalprice) > 0
), cnt AS (
  SELECT prio, digit, count(*) AS c FROM d GROUP BY 1, 2
), per AS (
  SELECT prio, digit, c,
         log10(1.0 + 1.0 / digit) AS p,
         sum(c) OVER (PARTITION BY prio) AS n
  FROM cnt
), agg AS (
  SELECT prio, first(n) AS n,
         sum(pow(c / CAST(n AS DOUBLE) - p, 2) / p) AS dev,
         sum(p) AS pmass
  FROM per GROUP BY prio
)
SELECT prio, n::BIGINT AS n,
       round(n * (dev + (1.0 - pmass)), 6) AS chi2,
       round(exp(-(n * (dev + (1.0 - pmass))) / 2.0)
             * (1.0 + (n * (dev + (1.0 - pmass))) / 2.0
                + pow((n * (dev + (1.0 - pmass))) / 2.0, 2) / 2.0
                + pow((n * (dev + (1.0 - pmass))) / 2.0, 3) / 6.0), 6)
         AS p_value
FROM agg
""",
)
def q_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on order totals per priority class
    (``stats.benford_digit_test``): arithmetic digit extraction, χ²
    with absent-digit mass folded in closed form, exact even-df (8)
    survival — no stats library on either engine."""
    from financial_data_pipeline_spark.operators.stats import benford_digit_test

    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderpriority", "prio"
    )
    out = benford_digit_test(orders, "o_totalprice", by=["prio"])
    return out.select(
        "prio",
        "n",
        F.round("chi2", 6).alias("chi2"),
        F.round("p_value", 6).alias("p_value"),
    )


@query(
    "spearman_return_corr",
    BARS_CTE
    + """
, r AS (
  SELECT symbol AS s, timestamp AS t,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
ranked AS (
  SELECT s, t, rank() OVER (PARTITION BY s ORDER BY r)
         + (count(*) OVER (PARTITION BY s, r) - 1) / 2.0 AS rk
  FROM rr
)
SELECT a.s AS sym_a, b.s AS sym_b,
       round(corr(a.rk, b.rk), 6) AS spearman_r,
       count(*) AS n_obs
FROM ranked a JOIN ranked b ON a.t = b.t AND a.s < b.s
GROUP BY 1, 2
""",
)
def q_spearman_return_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rank correlation of per-symbol log returns
    (``indicators.spearman_return_correlation``) — the heavy-tail-robust
    companion of ``return_corr_matrix``; fractional tie ranks pinned
    identical in both engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.spearman_return_correlation(bars)
    return out.select(
        "sym_a",
        "sym_b",
        F.round("spearman_r", 6).alias("spearman_r"),
        "n_obs",
    )


@query(
    "hurst_exponent",
    BARS_CTE
    + """
, d AS (
  SELECT symbol,
         ln(close) - ln(lag(close, 1) OVER w) AS d1,
         ln(close) - ln(lag(close, 2) OVER w) AS d2,
         ln(close) - ln(lag(close, 4) OVER w) AS d4,
         ln(close) - ln(lag(close, 8) OVER w) AS d8,
         ln(close) - ln(lag(close, 16) OVER w) AS d16
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), v AS (
  SELECT symbol, count(*) AS n_obs,
         var_samp(d1) AS v1, var_samp(d2) AS v2, var_samp(d4) AS v4,
         var_samp(d8) AS v8, var_samp(d16) AS v16
  FROM d GROUP BY symbol
), pts AS (
  SELECT symbol, n_obs, unnest([0.0, ln(2.0), ln(4.0), ln(8.0), ln(16.0)]) AS x,
         unnest([ln(v1), ln(v2), ln(v4), ln(v8), ln(v16)]) AS y
  FROM v
)
SELECT symbol, any_value(n_obs) AS n_obs,
       round((sum(x*y) - count(*) * avg(x) * avg(y))
             / (sum(x*x) - count(*) * avg(x) * avg(x)) / 2.0, 6) AS hurst
FROM pts GROUP BY symbol
""",
)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per symbol by the aggregated-variance method
    (``indicators.hurst_exponent``): five lagged-difference variances
    from ONE sort, closed-form OLS slope of ln Var on ln tau in the
    same aggregate — regime statistic (0.5 = random walk)."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.hurst_exponent(bars)
    return out.select(
        "symbol", "n_obs", F.round("hurst", 6).alias("hurst")
    )


@query(
    "pivot_points",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, CAST(timestamp AS DATE) AS day,
         max(high) AS h, min(low) AS l,
         arg_max(close, timestamp) AS c
  FROM bars GROUP BY 1, 2
), lagged AS (
  SELECT symbol, day,
         lag(h) OVER w AS ph, lag(l) OVER w AS pl, lag(c) OVER w AS pc
  FROM daily WINDOW w AS (PARTITION BY symbol ORDER BY day)
)
SELECT symbol, CAST(day AS VARCHAR) AS day,
       round((ph + pl + pc) / 3.0, 6) AS pivot,
       round(2.0 * (ph + pl + pc) / 3.0 - pl, 6) AS r1,
       round(2.0 * (ph + pl + pc) / 3.0 - ph, 6) AS s1,
       round((ph + pl + pc) / 3.0 + (ph - pl), 6) AS r2,
       round((ph + pl + pc) / 3.0 - (ph - pl), 6) AS s2
FROM lagged
""",
)
def q_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot levels per (symbol, day) from the
    previous day's OHLC (``indicators.pivot_points``) — daily rollup +
    one lag over the tiny daily frame; intraday bars never re-shuffle."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.pivot_points(bars)
    return out.select(
        "symbol",
        F.col("day").cast("string").alias("day"),
        *[F.round(c, 6).alias(c) for c in ("pivot", "r1", "s1", "r2", "s2")],
    )


@query(
    "weighted_doc_sample",
    """
WITH w AS (
  SELECT doc_id, n_chars,
         CAST(n_chars AS DOUBLE) AS wt,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % 1000000 + 0.5) / 1000000.0 AS u
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars
FROM w
ORDER BY pow(u, 1.0 / wt) DESC, doc_id ASC
LIMIT 100
""",
)
def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100 length-weighted sample without replacement
    (``curation.weighted_k_sample``, Efraimidis-Spirakis A-ES on the
    portable md5 uniform) — row-level membership value-compared, the
    deterministic weighted counterpart of ``exact_k_sample``."""
    from financial_data_pipeline_spark.operators.curation import weighted_k_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_k_sample(docs, 100, "n_chars").select("doc_id", "n_chars")


@query(
    "kyle_lambda",
    BARS_CTE
    + """
, d AS (
  SELECT symbol,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp) AS dp,
         sign(close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           * volume * close AS q
  FROM bars
)
SELECT symbol, count(*) AS n_obs,
       round(covar_samp(dp, q) / var_samp(q) * 1e6, 6) AS kyle_lambda_x1e6,
       round(pow(corr(dp, q), 2), 6) AS r2
FROM d WHERE dp IS NOT NULL GROUP BY symbol
""",
)
def q_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda price-impact slope + R2 per symbol
    (``indicators.kyle_lambda``) — closed-form OLS on signed dollar
    volume, one aggregate after the lag window; completes the
    Amihud/Roll liquidity triple."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.kyle_lambda(bars)
    return out.select(
        "symbol",
        "n_obs",
        F.round("kyle_lambda_x1e6", 6).alias("kyle_lambda_x1e6"),
        F.round("r2", 6).alias("r2"),
    )


_JS_ORACLE = (
    BARS_CTE
    + """
, ref AS (SELECT close FROM bars WHERE timestamp < TIMESTAMP '2024-01-16'),
nw AS (SELECT close FROM bars WHERE timestamp >= TIMESTAMP '2024-01-16')
SELECT 'close' AS feature,
       round(list_reduce(
               list(0.5 * (p * ln(p / ((p + q) / 2.0))
                           + q * ln(q / ((p + q) / 2.0))) ORDER BY bin),
               (a, b) -> a + b), 6) AS js_divergence,
       first(t_ref)::BIGINT AS n_ref, first(t_new)::BIGINT AS n_new
FROM (
  SELECT g.bin,
         (coalesce(rc.n, 0) + 0.5) / (tr.t_ref + 5.0) AS p,
         (coalesce(nc.n, 0) + 0.5) / (tn.t_new + 5.0) AS q,
         tr.t_ref, tn.t_new
  FROM generate_series(0, 9) AS g(bin)
  LEFT JOIN (
    SELECT least(9, greatest(0, floor((close - b.lo) / ((b.hi - b.lo) / 10.0))))::INT AS bin,
           count(*) AS n
    FROM ref, (SELECT min(close) AS lo, max(close) AS hi FROM ref) b
    GROUP BY 1
  ) rc USING (bin)
  LEFT JOIN (
    SELECT least(9, greatest(0, floor((close - b.lo) / ((b.hi - b.lo) / 10.0))))::INT AS bin,
           count(*) AS n
    FROM nw, (SELECT min(close) AS lo, max(close) AS hi FROM ref) b
    GROUP BY 1
  ) nc USING (bin)
  CROSS JOIN (SELECT count(*)::DOUBLE AS t_ref FROM ref) tr
  CROSS JOIN (SELECT count(*)::DOUBLE AS t_new FROM nw) tn
)
"""
)


@query("js_drift_close", _JS_ORACLE)
def q_js_drift_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence over the close distribution across the
    2024-01-16 split (``drift.js_divergence``) — the BOUNDED companion
    of ``feature_drift_psi`` (0..ln2, symmetric, alert-threshold-safe);
    same reference-binned two-pass histogram, different combine."""
    from financial_data_pipeline_spark.operators.drift import js_divergence

    bars = events_as_ohlcv(spark, sf_dir)
    ref = bars.filter(F.col("timestamp") < "2024-01-16")
    new = bars.filter(F.col("timestamp") >= "2024-01-16")
    out = js_divergence(ref, new, "close", bins=10)
    return out.select(
        "feature",
        F.round("js_divergence", 6).alias("js_divergence"),
        "n_ref",
        "n_new",
    )


@query(
    "value_at_risk",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
q AS (
  SELECT symbol,
         quantile_cont(r, 0.05) AS q95, quantile_cont(r, 0.01) AS q99
  FROM rr GROUP BY symbol
)
SELECT rr.symbol, count(*) AS n_obs,
       round(-first(q.q95), 6) AS var_95,
       round(-avg(CASE WHEN rr.r <= q.q95 THEN rr.r END), 6) AS cvar_95,
       round(-first(q.q99), 6) AS var_99,
       round(-avg(CASE WHEN rr.r <= q.q99 THEN rr.r END), 6) AS cvar_99
FROM rr JOIN q USING (symbol)
GROUP BY rr.symbol
""",
)
def q_value_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical VaR + CVaR (expected shortfall) at 95/99 per symbol
    on log returns (``stats.value_at_risk``): exact interpolated
    quantiles broadcast back for the tail conditional means — the
    Basel-style risk readout next to ``risk_ratios``."""
    from financial_data_pipeline_spark.operators.stats import value_at_risk

    bars = events_as_ohlcv(spark, sf_dir)
    r = indicators.log_return("close")
    rets = (
        bars.withColumn("r", r).filter(F.col("r").isNotNull())
        .select("symbol", "r")
    )
    out = value_at_risk(rets, "r", by=["symbol"], levels=(0.95, 0.99))
    return out.select(
        "symbol",
        "n_obs",
        F.round("var_95", 6).alias("var_95"),
        F.round("cvar_95", 6).alias("cvar_95"),
        F.round("var_99", 6).alias("var_99"),
        F.round("cvar_99", 6).alias("cvar_99"),
    )


@query(
    "readability",
    r"""
WITH c AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> ''))
           AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[aeiouy]+')) AS vg
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, n_sentences, n_words,
       greatest(vg, n_words) AS n_syllables,
       round(CASE WHEN n_words > 0 THEN
         206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (greatest(vg, n_words) / CAST(n_words AS DOUBLE))
       END, 6) AS flesch_reading_ease
FROM c
""",
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (``text.readability_features``)
    — three regexp_count scans, pure codegen; vowel-group syllable
    heuristic floored at one per word, value-compared against the
    DuckDB regexp twin."""
    from financial_data_pipeline_spark.operators.text import readability_features

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    rf = readability_features(F.col("text"))
    return docs.select(
        "doc_id",
        rf["n_sentences"].alias("n_sentences"),
        rf["n_words"].alias("n_words"),
        rf["n_syllables"].alias("n_syllables"),
        F.round(rf["flesch_reading_ease"], 6).alias("flesch_reading_ease"),
    )


@query(
    "inverse_vol_portfolio",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), v AS (
  SELECT symbol, stddev_samp(r) AS vol, count(r) AS n_obs
  FROM r WHERE r IS NOT NULL GROUP BY symbol
), t AS (SELECT sum(1.0 / vol) AS inv_total FROM v)
SELECT symbol, n_obs, round(vol, 8) AS vol,
       round((1.0 / vol) / inv_total, 6) AS weight
FROM v, t
""",
)
def q_inverse_vol_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-volatility (naive risk parity) portfolio weights
    (``indicators.inverse_vol_weights``) — per-symbol return vol in one
    aggregate, one-row broadcast normalizer, weights sum to 1."""
    out = indicators.inverse_vol_weights(events_as_ohlcv(spark, sf_dir))
    return out.select(
        "symbol",
        "n_obs",
        F.round("vol", 8).alias("vol"),
        F.round("weight", 6).alias("weight"),
    )


@query(
    "cuped_variance_reduction",
    """
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'view' THEN value END) AS x,
         sum(CASE WHEN event_type = 'purchase' THEN value END) AS y
  FROM events GROUP BY user_id
), d AS (SELECT * FROM per_user WHERE x IS NOT NULL AND y IS NOT NULL)
SELECT count(*) AS n,
       round(covar_samp(x, y) / var_samp(x), 6) AS theta,
       round(avg(y), 6) AS mean_metric,
       round(var_samp(y), 6) AS var_raw,
       round(var_samp(y) * (1.0 - pow(corr(x, y), 2)), 6) AS var_adj,
       round(pow(corr(x, y), 2), 6) AS variance_reduction
FROM d
""",
)
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout over per-user (view-spend covariate, purchase
    outcome) pairs (``stats.cuped_adjustment``): theta, raw vs adjusted
    variance and the realized reduction rho^2, all one closed-form
    aggregate after the per-user rollup."""
    from financial_data_pipeline_spark.operators.stats import cuped_adjustment

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", F.col("value"))).alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("y"),
    )
    out = cuped_adjustment(per_user, "y", "x")
    return out.select(
        "n",
        F.round("theta", 6).alias("theta"),
        F.round("mean_metric", 6).alias("mean_metric"),
        F.round("var_raw", 6).alias("var_raw"),
        F.round("var_adj", 6).alias("var_adj"),
        F.round("variance_reduction", 6).alias("variance_reduction"),
    )


@query(
    "user_retention_km",
    """
WITH span AS (
  SELECT user_id,
         date_diff('day', min(ts), max(ts)) AS t,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
), horizon AS (SELECT max(ts) AS end_ts FROM events),
obs AS (
  SELECT t,
         CASE WHEN s.last_ts < h.end_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END AS ev
  FROM span s CROSS JOIN horizon h
), per_t AS (
  SELECT t, sum(ev) AS d, sum(1 - ev) AS c FROM obs GROUP BY t
), risk AS (
  SELECT t, d, c,
         sum(d + c) OVER (ORDER BY t DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_risk
  FROM per_t
)
SELECT t, d::BIGINT AS d, c::BIGINT AS c, n_risk::BIGINT AS n_risk,
       round(CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                       OVER wasc = 1 THEN 0.0
             ELSE exp(sum(CASE WHEN d > 0 AND d < n_risk
                               THEN ln(1.0 - d / CAST(n_risk AS DOUBLE))
                               ELSE 0.0 END) OVER wasc) END, 6) AS survival
FROM risk
WINDOW wasc AS (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q_user_retention_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention curve (``stats.kaplan_meier``):
    duration = active span in days, churn event = last activity more
    than 7 days before the corpus horizon (else censored). Suffix-sum
    risk set + telescoped product over the reduced per-time frame."""
    from financial_data_pipeline_spark.operators.stats import kaplan_meier

    ev = load_table(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).alias("t"),
        F.max("ts").alias("last_ts"),
    )
    horizon = ev.agg(F.max("ts").alias("end_ts"))
    obs = span.crossJoin(F.broadcast(horizon)).select(
        "t",
        (
            F.col("last_ts") < F.col("end_ts") - F.expr("INTERVAL 7 DAY")
        ).cast("int").alias("ev"),
    )
    out = kaplan_meier(obs, "t", "ev")
    return out.select(
        "t", "d", "c", "n_risk", F.round("survival", 6).alias("survival")
    )


@query(
    "customer_spend_gini",
    """
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS x FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x) AS i FROM spend
)
SELECT count(*) AS n,
       round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
""",
)
def q_customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order spend
    (``stats.gini_coefficient``) — the revenue-concentration readout;
    tie order is irrelevant to G, so the rank tiebreak never matters."""
    from financial_data_pipeline_spark.operators.stats import gini_coefficient

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("x")
    )
    out = gini_coefficient(spend, "x")
    return out.select("n", F.round("gini", 6).alias("gini"))


def _ljung_box_oracle(h: int = 10) -> str:
    lag_cols = ",\n         ".join(
        f"lag(r, {k}) OVER (PARTITION BY symbol ORDER BY t) AS l{k}"
        for k in range(1, h + 1)
    )
    ck_aggs = ",\n         ".join(
        f"sum(r * l{k}) AS cp{k}, sum(l{k}) AS sl{k}, "
        f"sum(CASE WHEN l{k} IS NOT NULL THEN r END) AS sr{k}, "
        f"count(l{k}) AS nk{k}"
        for k in range(1, h + 1)
    )
    q_terms = " + ".join(
        f"pow((cp{k} - mu * sl{k} - mu * sr{k} + nk{k} * mu * mu) / c0, 2)"
        f" / (n - {k})"
        for k in range(1, h + 1)
    )
    import math

    sf_terms = " + ".join(
        f"pow(q / 2.0, {j}) / {math.factorial(j)}.0"
        for j in range(0, h // 2)
    )
    return (
        BARS_CTE
        + f"""
, r AS (
  SELECT symbol, timestamp AS t,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT symbol, t, r FROM r WHERE r IS NOT NULL),
lagged AS (
  SELECT symbol, r,
         {lag_cols}
  FROM rr
), agg AS (
  SELECT symbol, count(r) AS n_obs, avg(r) AS mu, sum(r * r) AS ss,
         {ck_aggs}
  FROM lagged GROUP BY symbol
), qv AS (
  SELECT symbol, n_obs,
         n_obs * (n_obs + 2.0) * ({q_terms}) AS q
  FROM (SELECT *, CAST(n_obs AS DOUBLE) AS n,
               ss - n_obs * mu * mu AS c0 FROM agg)
)
SELECT symbol, n_obs, round(q, 6) AS lb_q,
       round(least(1.0, greatest(0.0, exp(-q / 2.0) * ({sf_terms}))), 6)
         AS lb_pvalue
FROM qv
"""
    )


@query("ljung_box", _ljung_box_oracle(10))
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box white-noise portmanteau over the first 10 return lags
    per symbol (``indicators.ljung_box``): h lag columns off one sort,
    one aggregate, exact even-df chi-square survival in closed form."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.ljung_box(bars, n_lags=10)
    return out.select(
        "symbol",
        "n_obs",
        F.round("lb_q", 6).alias("lb_q"),
        F.round("lb_pvalue", 6).alias("lb_pvalue"),
    )


@query(
    "hampel_outliers",
    BARS_CTE
    + """
, arrs AS (
  SELECT symbol, timestamp, close,
         list_sort(list(close) OVER (PARTITION BY symbol ORDER BY timestamp
                   ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) AS l
  FROM bars
), med AS (
  SELECT *, len(l) AS sz,
         (l[CAST(floor((len(l) + 1) / 2.0) AS INT)]
          + l[CAST(ceil((len(l) + 1) / 2.0) AS INT)]) / 2.0 AS m
  FROM arrs
), mads AS (
  SELECT *, list_sort(list_transform(l, v -> abs(v - m))) AS d
  FROM med
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN sz >= 11 THEN m END, 6) AS close_rolling_median,
       CASE WHEN sz >= 11 AND
                 (d[CAST(floor((sz + 1) / 2.0) AS INT)]
                  + d[CAST(ceil((sz + 1) / 2.0) AS INT)]) / 2.0 > 0
            THEN abs(close - m) > 3.0 * 1.4826 *
                 (d[CAST(floor((sz + 1) / 2.0) AS INT)]
                  + d[CAST(ceil((sz + 1) / 2.0) AS INT)]) / 2.0
       END AS close_hampel_outlier
FROM mads
""",
)
def q_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Hampel spike filter over an 11-bar window
    (``cleaning.hampel_flags``): rolling median and rolling MAD both
    from one bounded sorted-array fold per row — value-compared
    against the DuckDB list-window twin including the boolean flag."""
    from financial_data_pipeline_spark.operators.cleaning import hampel_flags

    bars = events_as_ohlcv(spark, sf_dir)
    out = hampel_flags(bars, "close", n=11, k=3.0)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("close_rolling_median", 6).alias("close_rolling_median"),
        "close_hampel_outlier",
    )


@query(
    "rolling_beta",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
mkt AS (SELECT timestamp, avg(r) AS rm FROM rr GROUP BY 1),
j AS (SELECT rr.symbol, rr.timestamp, rr.r, mkt.rm FROM rr JOIN mkt USING (timestamp))
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(r) OVER w >= 60
                  THEN covar_samp(r, rm) OVER w / var_samp(rm) OVER w END, 6)
         AS rolling_beta
FROM j
WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
             ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
""",
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-60-bar CAPM beta per symbol vs the equal-weight market
    (``indicators.rolling_beta``) — covar/var straight over the
    window, broadcast market join, no self-join; the time-varying
    companion of ``market_beta``."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.rolling_beta(bars, n=60)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("rolling_beta", 6).alias("rolling_beta"),
    )


@query(
    "jarque_bera",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), s AS (
  SELECT symbol, count(r) AS n_obs, avg(r) AS mu,
         sum(r * r) AS s2, sum(r * r * r) AS s3, sum(r * r * r * r) AS s4
  FROM r WHERE r IS NOT NULL GROUP BY symbol
), m AS (
  SELECT symbol, n_obs,
         s2 / n_obs - mu * mu AS m2,
         s3 / n_obs - 3 * mu * s2 / n_obs + 2 * mu * mu * mu AS m3,
         s4 / n_obs - 4 * mu * s3 / n_obs + 6 * mu * mu * s2 / n_obs
           - 3 * mu * mu * mu * mu AS m4
  FROM s
), jb AS (
  SELECT symbol, n_obs,
         m3 / pow(m2, 1.5) AS skew,
         m4 / (m2 * m2) - 3.0 AS ex_kurt,
         n_obs / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                        + pow(m4 / (m2 * m2) - 3.0, 2) / 4.0) AS jb
  FROM m
)
SELECT symbol, n_obs, round(skew, 6) AS skew, round(ex_kurt, 6) AS ex_kurt,
       round(jb, 4) AS jb_stat, round(exp(-jb / 2.0), 6) AS jb_pvalue
FROM jb
""",
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per symbol on log returns
    (``indicators.jarque_bera``) — population-moment skew/kurt (the JB
    textbook form, matching Spark's builtins), exact chi-square(2)
    survival exp(-JB/2); oracle rebuilds the moments from raw power
    sums."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.jarque_bera(bars)
    return out.select(
        "symbol",
        "n_obs",
        F.round("skew", 6).alias("skew"),
        F.round("ex_kurt", 6).alias("ex_kurt"),
        F.round("jb_stat", 4).alias("jb_stat"),
        F.round("jb_pvalue", 6).alias("jb_pvalue"),
    )


@query(
    "chi2_type_by_dow",
    """
WITH cells AS (
  SELECT event_type AS a, dayofweek(ts) AS b, count(*) AS o
  FROM events GROUP BY 1, 2
), per AS (
  SELECT *, sum(o) OVER (PARTITION BY a) AS ra,
         sum(o) OVER (PARTITION BY b) AS cb,
         sum(o) OVER () AS n
  FROM cells
), e AS (SELECT *, ra * cb / CAST(n AS DOUBLE) AS exp FROM per),
agg AS (
  SELECT first(n) AS n, count(DISTINCT a) AS r, count(DISTINCT b) AS c,
         sum(pow(o - exp, 2) / exp) AS dev, sum(exp) AS emass
  FROM e
), x AS (
  SELECT n, r, c, (r - 1) * (c - 1) AS dof,
         dev + (n - emass) AS chi2
  FROM agg
)
SELECT n::BIGINT AS n, r, c, dof, round(chi2, 6) AS chi2,
       round(CASE WHEN dof % 2 = 0 THEN least(1.0,
         exp(-chi2 / 2.0) * list_sum(list_transform(range(0, CAST(dof / 2 AS INT)),
             j -> pow(chi2 / 2.0, j) / CAST(factorial(CAST(j AS INT)) AS DOUBLE))))
       END, 6) AS p_value,
       round(sqrt(chi2 / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6)
         AS cramers_v
FROM x
""",
)
def q_chi2_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test: event type x weekday
    (``stats.chi2_independence``) — cell reduction + marginal windows,
    absent-cell mass in closed form, exact even-dof (24) survival via
    a running-factorial fold."""
    from financial_data_pipeline_spark.operators.stats import chi2_independence

    ev = load_table(spark, sf_dir, "events").withColumn(
        "dow", F.dayofweek("ts") - 1
    )
    out = chi2_independence(ev, "event_type", "dow")
    return out.select(
        "n",
        "r",
        "c",
        "dof",
        F.round("chi2", 6).alias("chi2"),
        F.round("p_value", 6).alias("p_value"),
        F.round("cramers_v", 6).alias("cramers_v"),
    )


@query(
    "conversion_attribution",
    """
WITH purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
), touches AS (
  SELECT user_id, ts, event_type, event_id
  FROM events WHERE event_type IN ('view', 'click')
), paired AS (
  SELECT p.user_id, p.p_id, t.event_type, t.ts, t.event_id,
         row_number() OVER (PARTITION BY p.user_id, p.p_id
                            ORDER BY t.ts ASC, t.event_id ASC) AS rn_first,
         row_number() OVER (PARTITION BY p.user_id, p.p_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rn_last
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id AND t.ts < p.p_ts
)
SELECT f.event_type AS first_touch, l.event_type AS last_touch,
       count(*) AS conversions
FROM (SELECT user_id, p_id, event_type FROM paired WHERE rn_first = 1) f
JOIN (SELECT user_id, p_id, event_type FROM paired WHERE rn_last = 1) l
  USING (user_id, p_id)
GROUP BY 1, 2
""",
)
def q_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch x last-touch attribution matrix over purchase
    conversions: every purchase joins its user's strictly-earlier
    view/click touches, two rank windows pick the endpoints,
    conversions are counted per (first, last) channel pair. One
    user-keyed shuffle; deterministic (ts, event_id) tie order."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    touches = ev.filter(F.col("event_type").isin(["view", "click"])).select(
        "user_id", "ts", "event_type", "event_id"
    )
    paired = purchases.join(touches, on="user_id").filter(
        F.col("ts") < F.col("p_ts")
    )
    wf = W.partitionBy("user_id", "p_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wl = W.partitionBy("user_id", "p_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = paired.withColumns(
        {
            "rn_first": F.row_number().over(wf),
            "rn_last": F.row_number().over(wl),
        }
    )
    first = ranked.filter(F.col("rn_first") == 1).select(
        "user_id", "p_id", F.col("event_type").alias("first_touch")
    )
    last = ranked.filter(F.col("rn_last") == 1).select(
        "user_id", "p_id", F.col("event_type").alias("last_touch")
    )
    return (
        first.join(last, on=["user_id", "p_id"])
        .groupBy("first_touch", "last_touch")
        .agg(F.count(F.lit(1)).alias("conversions"))
    )


@query(
    "event_transition_matrix",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), bigram AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS c
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, c AS transitions,
       round(c / CAST(sum(c) OVER (PARTITION BY from_type) AS DOUBLE), 6)
         AS probability
FROM bigram
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event types:
    per-user lead window builds bigrams (deterministic (ts, event_id)
    order), one groupBy counts them, row-normalization rides a window
    over the tiny (types x types) frame."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w))
    bigram = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("transitions"))
    )
    row_tot = W.partitionBy("from_type")
    return bigram.select(
        "from_type",
        "to_type",
        "transitions",
        F.round(
            F.col("transitions") / F.sum("transitions").over(row_tot), 6
        ).alias("probability"),
    )


@query(
    "part_basket_rules",
    """
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), n_orders AS (SELECT count(DISTINCT ok) AS n FROM items),
pair AS (
  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS together
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= 3
), single AS (
  SELECT pk, count(*) AS cnt FROM items GROUP BY pk
)
SELECT part_a, part_b, together,
       round(together / CAST(sa.cnt AS DOUBLE), 6) AS confidence,
       round(together * n.n / (CAST(sa.cnt AS DOUBLE) * sb.cnt), 6) AS lift
FROM pair
JOIN single sa ON sa.pk = part_a
JOIN single sb ON sb.pk = part_b
CROSS JOIN n_orders n
ORDER BY lift DESC, part_a ASC, part_b ASC
LIMIT 50
""",
)
def q_part_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over parts co-ordered in the
    same order: support >= 3 pairs, confidence and lift from the
    singles table + one-row order total. The pair self-join is
    bounded by per-basket size squared (TPC-H ~4 items/order), never
    corpus-squared; top-50 by lift via TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    # Lazy-pin the distinct basket items (r9, guide §5): FOUR
    # independent subtrees consume this frame (the one-row order
    # total, both sides of the pair self-join, and the singles
    # counts), and unpinned each one re-ran the lineitem scan + the
    # distinct aggregate — four full passes for one small
    # (order, part) frame. Pinned, the scan+distinct runs once and
    # every consumer reads the materialized rows.
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # lazy ONE-row scalar (the volume_profile shape) - no eager
    # driver-side count job
    n_orders = items.agg(
        F.countDistinct("ok").alias("__n_orders")
    )
    a, b = items.alias("a"), items.alias("b")
    pair = (
        a.join(
            b,
            on=(F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 3)
    )
    single = items.groupBy(F.col("pk")).agg(F.count(F.lit(1)).alias("cnt"))
    sa = single.withColumnsRenamed({"pk": "part_a", "cnt": "cnt_a"})
    sb = single.withColumnsRenamed({"pk": "part_b", "cnt": "cnt_b"})
    out = (
        pair.join(F.broadcast(sa), on="part_a")
        .join(F.broadcast(sb), on="part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "together",
            F.round(F.col("together") / F.col("cnt_a"), 6).alias("confidence"),
            F.round(
                F.col("together") * F.col("__n_orders")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(50)


@query(
    "rfm_segments",
    """
WITH horizon AS (SELECT max(o_orderdate) AS end_d FROM orders),
rfm AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), h.end_d) AS recency_days,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders CROSS JOIN horizon h GROUP BY o_custkey, h.end_d
)
SELECT o_custkey AS custkey, recency_days, frequency, monetary,
       ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
       ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
       ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
FROM rfm
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary per
    customer + quintile scores (ntile over the per-customer aggregate,
    custkey tiebreak for engine-deterministic bucket edges). The
    windows are total orders over the AGGREGATE frame — the
    customer_spend_rank shape, facts never see them."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    horizon = orders.agg(F.max("o_orderdate").alias("end_d"))
    rfm = (
        orders.crossJoin(F.broadcast(horizon))
        .groupBy("o_custkey", "end_d")
        .agg(
            F.datediff(F.col("end_d"), F.max("o_orderdate")).alias("__r"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .withColumnRenamed("__r", "recency_days")
    )
    return rfm.select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5)
        .over(W.orderBy(F.asc("recency_days"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("monetary"), F.asc("o_custkey")))
        .alias("m_score"),
    )


@query(
    "doc_quality_auc",
    r"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> ''))
           AS s
  FROM documents WHERE text IS NOT NULL
), ranked AS (
  SELECT y, rank() OVER (ORDER BY s)
         + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS r
  FROM scored
)
SELECT sum(y)::BIGINT AS n_pos, sum(1 - y)::BIGINT AS n_neg,
       round((sum(CASE WHEN y = 1 THEN r END)
              - sum(y) * (sum(y) + 1.0) / 2.0)
             / (CAST(sum(y) AS DOUBLE) * sum(1 - y)), 6) AS auc
FROM ranked
""",
)
def q_doc_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of word count as a predictor of lang=='en'
    (``stats.binary_auc``, the rank-sum identity with half-credit
    ties) — the score-evaluation readout for any quality heuristic or
    model output."""
    from financial_data_pipeline_spark.operators.stats import binary_auc
    from financial_data_pipeline_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    scored = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        token_count_ws(F.col("text")).alias("s"),
    )
    out = binary_auc(scored, "s", "y")
    return out.select(
        "n_pos", "n_neg", F.round("auc", 6).alias("auc")
    )


@query(
    "jump_detection",
    BARS_CTE
    + """
, r0 AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), r AS (
  SELECT symbol, r,
         lag(r) OVER (PARTITION BY symbol ORDER BY timestamp) AS rl
  FROM r0
)
SELECT symbol, count(r) AS n_obs,
       round(sum(r * r), 8) AS rv,
       round(pi() / 2.0 * sum(abs(r) * abs(rl)), 8) AS bv,
       round(greatest(0.0, sum(r * r) - pi() / 2.0 * sum(abs(r) * abs(rl)))
             / sum(r * r), 6) AS jump_share
FROM r WHERE r IS NOT NULL GROUP BY symbol
""",
)
def q_jump_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-variance / bipower-variation jump decomposition per
    symbol (``indicators.jump_detection``, BNS): jump-robust BV against
    RV exposes the discontinuous share of variance — one sort, one
    aggregate."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.jump_detection(bars)
    return out.select(
        "symbol",
        "n_obs",
        F.round("rv", 8).alias("rv"),
        F.round("bv", 8).alias("bv"),
        F.round("jump_share", 6).alias("jump_share"),
    )


def _nw_oracle(h: int = 5) -> str:
    lag_cols = ",\n         ".join(
        f"lag(r, {k}) OVER (PARTITION BY symbol ORDER BY t) AS l{k}"
        for k in range(1, h + 1)
    )
    ck_aggs = ",\n         ".join(
        f"sum(r * l{k}) AS cp{k}, sum(l{k}) AS sl{k}, "
        f"sum(CASE WHEN l{k} IS NOT NULL THEN r END) AS sr{k}"
        for k in range(1, h + 1)
    )
    lrv_terms = " + ".join(
        f"2.0 * (1.0 - {k} / {h + 1}.0) * "
        f"((cp{k} - mu * sl{k} - mu * sr{k} + (n - {k}) * mu * mu) / n)"
        for k in range(1, h + 1)
    )
    return (
        BARS_CTE
        + f"""
, r0 AS (
  SELECT symbol, timestamp AS t,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT symbol, t, r FROM r0 WHERE r IS NOT NULL),
lagged AS (
  SELECT symbol, r,
         {lag_cols}
  FROM rr
), agg AS (
  SELECT symbol, count(r) AS n_obs, avg(r) AS mu, sum(r * r) AS ss,
         {ck_aggs}
  FROM lagged GROUP BY symbol
), v AS (
  SELECT symbol, n_obs, mu,
         (ss - n * mu * mu) / n AS g0,
         (ss - n * mu * mu) / n + {lrv_terms} AS lrv
  FROM (SELECT *, CAST(n_obs AS DOUBLE) AS n FROM agg)
)
SELECT symbol, n_obs, round(mu, 8) AS mean_r,
       round(sqrt(g0 / n_obs), 8) AS se_naive,
       round(sqrt(lrv / n_obs), 8) AS se_nw,
       round(mu / sqrt(lrv / n_obs), 6) AS t_nw
FROM v
"""
    )


@query("newey_west_mean", _nw_oracle(5))
def q_newey_west_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean log return with Bartlett-weighted Newey-West (HAC) standard
    error per symbol (``indicators.newey_west_mean``) — the honest
    drift t-stat next to the naive se; same one-sort one-aggregate
    autocovariance machinery as ``ljung_box``."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.newey_west_mean(bars, n_lags=5)
    return out.select(
        "symbol",
        "n_obs",
        F.round("mean_r", 8).alias("mean_r"),
        F.round("se_naive", 8).alias("se_naive"),
        F.round("se_nw", 8).alias("se_nw"),
        F.round("t_nw", 6).alias("t_nw"),
    )


@query(
    "categorical_psi_sources",
    """
WITH ref AS (SELECT source FROM documents WHERE doc_id % 2 = 0),
nw AS (SELECT source FROM documents WHERE doc_id % 2 = 1),
domain AS (
  SELECT source AS cat FROM ref GROUP BY source
  ORDER BY count(*) DESC, source ASC LIMIT 100
), cats AS (
  SELECT cat FROM domain UNION ALL SELECT '__other__'
), rc AS (
  SELECT CASE WHEN source IN (SELECT cat FROM domain) THEN source
              ELSE '__other__' END AS cat, count(*) AS n_ref
  FROM ref GROUP BY 1
), nc AS (
  SELECT CASE WHEN source IN (SELECT cat FROM domain) THEN source
              ELSE '__other__' END AS cat, count(*) AS n_new
  FROM nw GROUP BY 1
), grid AS (
  SELECT cats.cat, coalesce(rc.n_ref, 0) AS n_ref,
         coalesce(nc.n_new, 0) AS n_new
  FROM cats LEFT JOIN rc USING (cat) LEFT JOIN nc USING (cat)
), tot AS (
  SELECT sum(n_ref)::DOUBLE AS tr, sum(n_new)::DOUBLE AS tn,
         count(*)::DOUBLE AS k
  FROM grid
)
SELECT 'source' AS feature,
       round(list_reduce(
               list(((n_ref + 0.5) / (tr + 0.5 * k) - (n_new + 0.5) / (tn + 0.5 * k))
                    * ln(((n_ref + 0.5) / (tr + 0.5 * k))
                         / ((n_new + 0.5) / (tn + 0.5 * k))) ORDER BY cat),
               (a, b) -> a + b), 6) AS psi,
       CAST(first(tr) AS BIGINT) AS n_ref, CAST(first(tn) AS BIGINT) AS n_new
FROM grid, tot
""",
)
def q_categorical_psi_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI over document sources between the even/odd
    doc_id halves (``drift.categorical_psi``): reference-derived
    domain + __other__ bucket, same smoothing and combine as the
    numeric PSI. Note ONE domain count per grid row (k = |domain|+1)
    in both engines."""
    from financial_data_pipeline_spark.operators.drift import categorical_psi

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    out = categorical_psi(ref, new, "source")
    return out.select(
        "feature", F.round("psi", 6).alias("psi"), "n_ref", "n_new"
    )


@query(
    "vpin_toxicity",
    BARS_CTE
    + """
, d0 AS (
  SELECT symbol, timestamp, volume,
         sum(volume) OVER (PARTITION BY symbol ORDER BY timestamp
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumv,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp) AS dp
  FROM bars
), d AS (SELECT * FROM d0 WHERE dp IS NOT NULL),
scale AS (
  SELECT symbol, stddev_samp(dp) AS sd, avg(volume) * 50 AS bv
  FROM d GROUP BY symbol
), e AS (
  SELECT d.symbol, d.volume, floor(d.cumv / s.bv) AS bucket,
         d.dp / s.sd / sqrt(2.0) AS z
  FROM d JOIN scale s USING (symbol)
), cls AS (
  SELECT symbol, volume, bucket,
         0.5 * (1.0 + sign(z) * (1.0 - (1.0 / (1.0 + 0.3275911 * abs(z)))
           * (0.254829592 + (1.0 / (1.0 + 0.3275911 * abs(z)))
              * (-0.284496736 + (1.0 / (1.0 + 0.3275911 * abs(z)))
                 * (1.421413741 + (1.0 / (1.0 + 0.3275911 * abs(z)))
                    * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * abs(z)))
                       * 1.061405429))))
           * exp(-abs(z) * abs(z)))) AS buy_frac
  FROM e
), buckets AS (
  SELECT symbol, bucket, sum(volume * buy_frac) AS buy, sum(volume) AS v
  FROM cls GROUP BY 1, 2
)
SELECT symbol, bucket::BIGINT AS bucket, round(v, 4) AS bucket_volume,
       round(abs(2.0 * buy - v) / v, 6) AS order_imbalance,
       round(CASE WHEN count(*) OVER w >= 50
                  THEN sum(abs(2.0 * buy - v)) OVER w / sum(v) OVER w END, 6)
         AS vpin
FROM buckets
WINDOW w AS (PARTITION BY symbol ORDER BY bucket
             ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
""",
)
def q_vpin_toxicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN order-flow toxicity (``indicators.vpin``): volume-clock
    buckets via a cumulative-sum floor (no sequential scan), bulk
    volume classification through the A-S erf normal CDF, rolling
    50-bucket imbalance mean — the Easley/López de Prado/O'Hara
    measure, value-compared end to end."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.vpin(bars, n_buckets_window=50)
    return out.select(
        "symbol",
        "bucket",
        F.round("bucket_volume", 4).alias("bucket_volume"),
        F.round("order_imbalance", 6).alias("order_imbalance"),
        F.round("vpin", 6).alias("vpin"),
    )


_BS_ERF = """(1.0 - (1.0 / (1.0 + 0.3275911 * abs({z}) / sqrt(2.0)))
  * (0.254829592 + (1.0 / (1.0 + 0.3275911 * abs({z}) / sqrt(2.0)))
     * (-0.284496736 + (1.0 / (1.0 + 0.3275911 * abs({z}) / sqrt(2.0)))
        * (1.421413741 + (1.0 / (1.0 + 0.3275911 * abs({z}) / sqrt(2.0)))
           * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * abs({z}) / sqrt(2.0)))
              * 1.061405429))))
  * exp(-abs({z}) * abs({z}) / 2.0))"""


def _bs_cdf(z: str) -> str:
    return f"(0.5 * (1.0 + sign({z}) * {_BS_ERF.format(z=z)}))"


@query(
    "black_scholes_atm",
    BARS_CTE
    + f"""
, rr AS (
  SELECT symbol, timestamp, close,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), v AS (
  SELECT symbol, timestamp, close,
         CASE WHEN count(r) OVER w >= 60
              THEN stddev_samp(r) OVER w * sqrt(24.0 * 365.0) END AS sigma
  FROM rr
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
), d AS (
  SELECT symbol, timestamp, close, sigma,
         (ln(1.0) + 0.5 * sigma * sigma * (30.0 / 365.0))
           / (sigma * sqrt(30.0 / 365.0)) AS d1,
         (ln(1.0) + 0.5 * sigma * sigma * (30.0 / 365.0))
           / (sigma * sqrt(30.0 / 365.0)) - sigma * sqrt(30.0 / 365.0) AS d2
  FROM v
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sigma, 6) AS realized_vol_ann,
       round(close * {_bs_cdf('d1')} - close * {_bs_cdf('d2')}, 6) AS call_100,
       round(close * {_bs_cdf('(-d2)')} - close * {_bs_cdf('(-d1)')}, 6) AS put_100,
       round({_bs_cdf('d1')}, 6) AS delta_100,
       round((0.3989422804014327 * exp(-0.5 * d1 * d1))
             / (close * sigma * sqrt(30.0 / 365.0)), 8) AS gamma_100,
       round(close * (0.3989422804014327 * exp(-0.5 * d1 * d1))
             * sqrt(30.0 / 365.0), 6) AS vega_100,
       round(-close * (0.3989422804014327 * exp(-0.5 * d1 * d1)) * sigma
             / (2.0 * sqrt(30.0 / 365.0)), 6) AS theta_call_100
FROM d
""",
)
def q_black_scholes_atm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-the-money Black-Scholes call/put/delta marked on every bar
    from the trailing 60-bar realized vol
    (``indicators.black_scholes_surface``) — closed-form codegen,
    A-S normal CDF, zero joins; value-compared column for column."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.black_scholes_surface(
        bars, moneyness=[1.0], tenor_years=30.0 / 365.0, rate=0.0,
        vol_window=60,
    )
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("realized_vol_ann", 6).alias("realized_vol_ann"),
        F.round("call_100", 6).alias("call_100"),
        F.round("put_100", 6).alias("put_100"),
        F.round("delta_100", 6).alias("delta_100"),
        F.round("gamma_100", 8).alias("gamma_100"),
        F.round("vega_100", 6).alias("vega_100"),
        F.round("theta_call_100", 6).alias("theta_call_100"),
    )


@query(
    "zipf_fit",
    r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) AS tok
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rnk
  FROM tf
), top AS (
  SELECT ln(rnk) AS x, ln(c) AS y FROM ranked WHERE rnk <= 1000
)
SELECT count(*) AS n_terms,
       round((sum(x*y) - count(*) * avg(x) * avg(y))
             / (sum(x*x) - count(*) * avg(x) * avg(x)), 6) AS zipf_slope,
       round(avg(y) - (sum(x*y) - count(*) * avg(x) * avg(y))
             / (sum(x*x) - count(*) * avg(x) * avg(x)) * avg(x), 6)
         AS zipf_intercept,
       round(pow(corr(x, y), 2), 6) AS r2
FROM top
""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope
    of ln(freq) on ln(rank) for the top-1000 terms (natural text lands
    near -1; template spam and synthetic corpora deviate hard — a
    corpus-level quality fingerprint next to the per-doc entropy).
    One tokenize pass, one term count, one rank window over the
    term table, closed-form OLS in one aggregate."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.explode(
            ws_tokens(F.col("text"))
        ).alias("tok")
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked = tf.withColumn(
        "rnk", F.row_number().over(W.orderBy(F.desc("c"), F.asc("tok")))
    ).filter(F.col("rnk") <= 1000)
    top = ranked.select(
        F.log("rnk").alias("x"), F.log("c").alias("y")
    )
    n = F.count(F.lit(1)).cast("double")
    sxy = F.sum(F.col("x") * F.col("y")) - n * F.avg("x") * F.avg("y")
    sxx = F.sum(F.col("x") * F.col("x")) - n * F.avg("x") * F.avg("x")
    slope = sxy / sxx
    return top.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 6).alias("zipf_intercept"),
        F.round(F.pow(F.corr("x", "y"), 2), 6).alias("r2"),
    )


def _iv_oracle(steps: int = 6) -> str:
    import math

    inv = 1.0 / math.sqrt(2.0 * math.pi)
    sq_t = math.sqrt(30.0 / 365.0)
    tau = 30.0 / 365.0
    chain = ""
    prev = "s0"
    for i in range(steps):
        cur = f"s{i + 1}"
        chain += f""", {cur} AS (
  SELECT symbol, timestamp, close, q,
         greatest(1e-4, iv - (close * {_bs_cdf('d1')}
                 - close * {_bs_cdf('(d1 - iv * ' + repr(sq_t) + ')')} - q)
              / (close * {inv!r} * exp(-0.5 * d1 * d1) * {sq_t!r})) AS iv
  FROM (
    SELECT *, (ln(1.0) + 0.5 * iv * iv * {tau!r}) / (iv * {sq_t!r}) AS d1
    FROM {prev}
  )
)
"""
        prev = cur
    return (
        BARS_CTE
        + f"""
, s0 AS (
  SELECT symbol, timestamp, close, 0.08 * close AS q, 0.5 AS iv
  FROM bars
)
"""
        + chain
        + f"""
SELECT symbol, epoch_us(timestamp) AS ts_us, round(iv, 8) AS implied_vol
FROM {prev}
"""
    )


@query("implied_vol_solve", _iv_oracle(6))
def q_implied_vol_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implied volatility for a synthetic 8%-of-spot ATM call quote
    via the fixed six-step unrolled Newton chain
    (``indicators.implied_volatility``) — an iterative solver as pure
    staged codegen, the oracle replaying the identical six steps."""
    bars = events_as_ohlcv(spark, sf_dir)
    quoted = bars.withColumn("q", 0.08 * F.col("close"))
    out = indicators.implied_volatility(quoted, "q", moneyness=1.0)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("implied_vol", 8).alias("implied_vol"),
    )


@query(
    "wilcoxon_user_spend",
    """
WITH pairs AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
           - sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS d
  FROM events WHERE event_type IN ('purchase', 'view')
  GROUP BY user_id
), nz AS (SELECT d FROM pairs WHERE d <> 0),
ranked AS (
  SELECT d, rank() OVER (ORDER BY abs(d))
         + (count(*) OVER (PARTITION BY abs(d)) - 1) / 2.0 AS r
  FROM nz
), tie AS (
  SELECT sum(t*t*t - t) AS tie3
  FROM (SELECT count(*) AS t FROM nz GROUP BY abs(d))
), agg AS (
  SELECT count(*) AS n_pairs,
         coalesce(sum(CASE WHEN d > 0 THEN r END), 0.0) AS w_plus
  FROM ranked
), z AS (
  SELECT n_pairs, w_plus,
         n_pairs * (n_pairs + 1.0) / 4.0 AS mu,
         n_pairs * (n_pairs + 1.0) * (2.0 * n_pairs + 1.0) / 24.0
           - tie3 / 48.0 AS var
  FROM agg, tie
), zz AS (
  SELECT n_pairs, w_plus,
         (w_plus - mu - CASE WHEN w_plus > mu THEN 0.5
                             WHEN w_plus < mu THEN -0.5 ELSE 0.0 END)
           / sqrt(var) AS zval
  FROM z
), e AS (
  SELECT *, 1.0 / (1.0 + 0.3275911 * abs(zval) / sqrt(2.0)) AS t,
         abs(zval) / sqrt(2.0) AS az
  FROM zz
)
SELECT n_pairs, round(w_plus, 2) AS w_plus, round(zval, 6) AS z,
       round(least(1.0,
         t * (0.254829592 + t * (-0.284496736
              + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
           * exp(-az * az)), 6) AS p_value
FROM e
""",
)
def q_wilcoxon_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired Wilcoxon signed-rank on per-user purchase-minus-view
    spend (``stats.wilcoxon_signed_rank``): zero diffs drop,
    tie-corrected normal approximation, continuity correction —
    the paired companion of ``mann_whitney_purchase_view``."""
    from financial_data_pipeline_spark.operators.stats import (
        wilcoxon_signed_rank,
    )

    ev = load_table(spark, sf_dir, "events")
    pairs = (
        ev.filter(F.col("event_type").isin(["purchase", "view"]))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ).alias("a"),
            F.sum(
                F.when(F.col("event_type") == "view", F.col("value"))
                .otherwise(0.0)
            ).alias("b"),
        )
    )
    out = wilcoxon_signed_rank(pairs, "a", "b")
    return out.select(
        "n_pairs",
        F.round("w_plus", 2).alias("w_plus"),
        F.round("z", 6).alias("z"),
        F.round("p_value", 6).alias("p_value"),
    )


def _crr_oracle(steps: int = 24) -> str:
    import math

    dt = (30.0 / 365.0) / steps
    sq = math.sqrt(dt)
    chain = ""
    prev = "t0"
    for i in range(steps - 1, -1, -1):
        cur = f"t{steps - i}"
        chain += f""", {cur} AS (
  SELECT symbol, timestamp, close, sigma, u, dn, p,
         list_transform(range(0, {i + 1}),
           j -> greatest(greatest(0.0, close - close * pow(u, j) * pow(dn, {i} - j)),
                         p * v[j + 2] + (1.0 - p) * v[j + 1])) AS v
  FROM {prev}
)
"""
        prev = cur
    return (
        BARS_CTE
        + f"""
, vol AS (
  SELECT symbol, timestamp, close,
         CASE WHEN count(r) OVER w >= 60
              THEN stddev_samp(r) OVER w * sqrt(24.0 * 365.0) END AS sigma
  FROM (
    SELECT symbol, timestamp, close,
           ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
    FROM bars
  )
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
), params AS (
  SELECT symbol, timestamp, close, sigma,
         exp(sigma * {sq!r}) AS u, exp(-sigma * {sq!r}) AS dn
  FROM vol WHERE sigma IS NOT NULL
), t0 AS (
  SELECT symbol, timestamp, close, sigma, u, dn,
         (1.0 - dn) / (u - dn) AS p,
         list_transform(range(0, {steps + 1}),
           j -> greatest(0.0, close - close * pow(u, j) * pow(dn, {steps} - j))) AS v
  FROM params
)
"""
        + chain
        + f"""
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sigma, 6) AS realized_vol_ann,
       round(v[1], 6) AS american_put
FROM {prev}
"""
    )


@query("american_put_crr", _crr_oracle(24))
def q_american_put_crr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """American ATM put on every bar via a 24-step CRR binomial tree
    (``indicators.american_put_binomial``): backward induction as
    unrolled array-state projections — dynamic programming in pure
    codegen, the oracle replaying the identical tree with list ops."""
    bars = events_as_ohlcv(spark, sf_dir)
    priced = indicators.black_scholes_surface(
        bars, moneyness=[1.0], vol_window=60
    ).filter(F.col("realized_vol_ann").isNotNull())
    out = indicators.american_put_binomial(priced, steps=24)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("realized_vol_ann", 6).alias("realized_vol_ann"),
        F.round("american_put", 6).alias("american_put"),
    )


@query(
    "triple_barrier_labels",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp, close,
         close / lag(close) OVER w - 1.0 AS ret
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), v AS (
  SELECT symbol, timestamp, close,
         CASE WHEN count(*) OVER vw >= 60
              THEN stddev_samp(ret) OVER vw END AS sigma,
         list(close) OVER fw AS path
  FROM r
  WINDOW vw AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
         fw AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING)
), lab AS (
  SELECT symbol, timestamp, close, sigma, path,
         len(path) >= 24 AND sigma IS NOT NULL AS complete,
         list_reduce(
           list_prepend(0, list_transform(path,
             x -> CASE WHEN x >= close * (1.0 + 2.0 * sigma) THEN 1
                       WHEN x <= close * (1.0 - 2.0 * sigma) THEN -1
                       ELSE 0 END)),
           (acc, s) -> CASE WHEN acc <> 0 THEN acc ELSE s END) AS label
  FROM v
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       CASE WHEN complete THEN label END AS tb_label,
       round(CASE WHEN complete AND label = 0
                  THEN path[24] / close - 1.0 END, 8) AS tb_timeout_return
FROM lab
""",
)
def q_triple_barrier_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-barrier ML labels (AFML ch.3) per bar
    (``splitter.triple_barrier_labels``): vol-scaled horizontal
    barriers, first-touch scan as an early-exit aggregate fold over
    one bounded FOLLOWING window — no self-join, no leakage;
    incomplete trailing events abstain."""
    from financial_data_pipeline_spark.operators.splitter import (
        triple_barrier_labels,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    out = triple_barrier_labels(bars, horizon=24, vol_window=60)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        "tb_label",
        F.round("tb_timeout_return", 8).alias("tb_timeout_return"),
    )


def _frac_diff_oracle(d: float = 0.4, threshold: float = 5e-3) -> str:
    from financial_data_pipeline_spark.operators.normalize import (
        frac_diff_weights,
    )

    w = frac_diff_weights(d, threshold)
    terms = " + ".join(
        f"{wk!r} * lag(ln(close), {k}) OVER w" if k else f"{wk!r} * ln(close)"
        for k, wk in enumerate(w)
    )
    return (
        BARS_CTE
        + f"""
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN lag(ln(close), {len(w) - 1}) OVER w IS NOT NULL
                  THEN {terms} END, 8) AS frac_diff_04
FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
"""
    )


@query("frac_diff_log_close", _frac_diff_oracle(0.4, 5e-3))
def q_frac_diff_log_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width fractional differentiation (d=0.4) of log close
    (``normalize.frac_diff``, AFML ch.5): 18 literal weights over one
    per-symbol sort — stationarity without erasing the memory integer
    differencing destroys; the oracle interpolates the same weights."""
    from financial_data_pipeline_spark.operators.normalize import frac_diff

    bars = events_as_ohlcv(spark, sf_dir).withColumn(
        "__lc", F.log("close")
    )
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(
            frac_diff("__lc", d=0.4, threshold=5e-3), 8
        ).alias("frac_diff_04"),
    )


@query(
    "anchored_vwap",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp, close, volume,
         CAST(timestamp AS DATE) AS day,
         (high + low + close) / 3.0 AS tp
  FROM bars
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sum(tp * volume) OVER w / sum(volume) OVER w, 6) AS vwap,
       round((close - sum(tp * volume) OVER w / sum(volume) OVER w)
             / (sum(tp * volume) OVER w / sum(volume) OVER w), 8)
         AS vwap_deviation
FROM d
WINDOW w AS (PARTITION BY symbol, day ORDER BY timestamp
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q_anchored_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored (session) VWAP: cumulative typical-price VWAP re-anchored
    each day per symbol + the close's relative deviation — the
    execution benchmark the daily ``vwap_daily`` aggregate can't give
    intraday. One cumulative window keyed (symbol, day)."""
    from pyspark.sql import Window as W

    bars = events_as_ohlcv(spark, sf_dir)
    d = bars.withColumns(
        {
            "day": F.to_date("timestamp"),
            "tp": (F.col("high") + F.col("low") + F.col("close")) / 3.0,
        }
    )
    w = (
        W.partitionBy("symbol", "day")
        .orderBy("timestamp")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    vwap = F.sum(F.col("tp") * F.col("volume")).over(w) / F.sum("volume").over(w)
    return d.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(vwap, 6).alias("vwap"),
        F.round((F.col("close") - vwap) / vwap, 8).alias("vwap_deviation"),
    )


@query(
    "chandelier_exit",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, timestamp, close,
         greatest(high - low, abs(high - lag(close) OVER o),
                  abs(low - lag(close) OVER o)) AS tr,
         max(high) OVER w22 AS hh,
         min(low) OVER w22 AS ll,
         count(*) OVER w22 AS cnt
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY timestamp),
         w22 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN cnt >= 22 AND count(tr) OVER w14 >= 14
                  THEN hh - 3.0 * avg(tr) OVER w14 END, 6) AS chandelier_long,
       round(CASE WHEN cnt >= 22 AND count(tr) OVER w14 >= 14
                  THEN ll + 3.0 * avg(tr) OVER w14 END, 6) AS chandelier_short
FROM t
WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
""",
)
def q_chandelier_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chandelier exit trailing stops: 22-bar extreme -/+ 3x ATR(14)
    (long and short legs) — the volatility-trailed stop family
    composed entirely from the existing window algebra."""
    bars = events_as_ohlcv(spark, sf_dir)
    from pyspark.sql import Window as W

    o = W.partitionBy("symbol").orderBy("timestamp")
    w22 = o.rowsBetween(-21, 0)
    atr14 = indicators.atr(14)
    hh = F.when(F.count(F.lit(1)).over(w22) >= 22, F.max("high").over(w22))
    ll = F.when(F.count(F.lit(1)).over(w22) >= 22, F.min("low").over(w22))
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(hh - 3.0 * atr14, 6).alias("chandelier_long"),
        F.round(ll + 3.0 * atr14, 6).alias("chandelier_short"),
    )


@query(
    "pacf_returns",
    BARS_CTE
    + """
, r0 AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), rr AS (
  SELECT symbol, r,
         lag(r, 1) OVER w AS l1, lag(r, 2) OVER w AS l2, lag(r, 3) OVER w AS l3
  FROM (SELECT * FROM r0 WHERE r IS NOT NULL)
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), agg AS (
  SELECT symbol, count(r) AS n_obs, avg(r) AS mu, sum(r * r) AS ss,
         sum(r * l1) AS cp1, sum(l1) AS sl1,
         sum(CASE WHEN l1 IS NOT NULL THEN r END) AS sr1, count(l1) AS nk1,
         sum(r * l2) AS cp2, sum(l2) AS sl2,
         sum(CASE WHEN l2 IS NOT NULL THEN r END) AS sr2, count(l2) AS nk2,
         sum(r * l3) AS cp3, sum(l3) AS sl3,
         sum(CASE WHEN l3 IS NOT NULL THEN r END) AS sr3, count(l3) AS nk3
  FROM rr GROUP BY symbol
), rho AS (
  SELECT symbol, n_obs,
         (cp1 - mu * sl1 - mu * sr1 + nk1 * mu * mu)
           / (ss - n_obs * mu * mu) AS r1,
         (cp2 - mu * sl2 - mu * sr2 + nk2 * mu * mu)
           / (ss - n_obs * mu * mu) AS r2,
         (cp3 - mu * sl3 - mu * sr3 + nk3 * mu * mu)
           / (ss - n_obs * mu * mu) AS r3
  FROM agg
), dl AS (
  SELECT symbol, n_obs, r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
  FROM rho
), dl2 AS (SELECT *, r1 * (1.0 - p22) AS p21 FROM dl)
SELECT symbol, n_obs,
       round(r1, 6) AS acf_1, round(r2, 6) AS acf_2, round(r3, 6) AS acf_3,
       round(r1, 6) AS pacf_1, round(p22, 6) AS pacf_2,
       round((r3 - p21 * r2 - p22 * r1)
             / (1.0 - p21 * r1 - p22 * r2), 6) AS pacf_3
FROM dl2
""",
)
def q_pacf_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) of hourly log returns per
    symbol via Durbin-Levinson on the biased sample ACF
    (``indicators.pacf``) — the AR-order fingerprint completing the
    ljung_box / autocorr diagnostics family. One window + one
    aggregate + closed-form algebra."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.pacf(bars)
    return out.select(
        "symbol",
        "n_obs",
        F.round("acf_1", 6).alias("acf_1"),
        F.round("acf_2", 6).alias("acf_2"),
        F.round("acf_3", 6).alias("acf_3"),
        F.round("pacf_1", 6).alias("pacf_1"),
        F.round("pacf_2", 6).alias("pacf_2"),
        F.round("pacf_3", 6).alias("pacf_3"),
    )


_CHI2_DRIFT_ORACLE = (
    BARS_CTE
    + """
, ref AS (SELECT close FROM bars WHERE timestamp < TIMESTAMP '2024-01-16'),
nw AS (SELECT close FROM bars WHERE timestamp >= TIMESTAMP '2024-01-16'),
grid AS (
  SELECT g.bin, coalesce(rc.n, 0) AS n_ref, coalesce(nc.n, 0) AS n_new,
         tr.t_ref, tn.t_new
  FROM generate_series(0, 9) AS g(bin)
  LEFT JOIN (
    SELECT least(9, greatest(0, floor((close - b.lo) / ((b.hi - b.lo) / 10.0))))::INT AS bin,
           count(*) AS n
    FROM ref, (SELECT min(close) AS lo, max(close) AS hi FROM ref) b
    GROUP BY 1
  ) rc USING (bin)
  LEFT JOIN (
    SELECT least(9, greatest(0, floor((close - b.lo) / ((b.hi - b.lo) / 10.0))))::INT AS bin,
           count(*) AS n
    FROM nw, (SELECT min(close) AS lo, max(close) AS hi FROM ref) b
    GROUP BY 1
  ) nc USING (bin)
  CROSS JOIN (SELECT count(*)::DOUBLE AS t_ref FROM ref) tr
  CROSS JOIN (SELECT count(*)::DOUBLE AS t_new FROM nw) tn
), terms AS (
  SELECT bin, n_ref, n_new, t_ref, t_new,
         n_ref + n_new AS rt, t_ref + t_new AS gt
  FROM grid
), agg AS (
  SELECT 'close' AS feature,
         list_reduce(list(CASE WHEN rt > 0 THEN
             pow(n_ref - rt * t_ref / gt, 2.0) / (rt * t_ref / gt)
             + pow(n_new - rt * t_new / gt, 2.0) / (rt * t_new / gt)
           ELSE 0.0 END ORDER BY bin), (a, b) -> a + b) AS chi2,
         (sum((rt > 0)::BIGINT) - 1)::BIGINT AS dof,
         first(t_ref)::BIGINT AS n_ref, first(t_new)::BIGINT AS n_new
  FROM terms
), wh AS (
  SELECT *, (pow(chi2 / dof::DOUBLE, 1.0 / 3.0)
             - (1.0 - 2.0 / (9.0 * dof::DOUBLE)))
            / sqrt(2.0 / (9.0 * dof::DOUBLE)) AS z
  FROM agg
), e AS (
  SELECT *, abs(z) / sqrt(2.0) AS az,
         1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) AS t
  FROM wh
)
SELECT feature, round(chi2, 6) AS chi2, dof,
       round(least(1.0, greatest(0.0,
         1.0 - 0.5 * (1.0 + sign(z) * (1.0 - (t * (0.254829592 + t
             * (-0.284496736 + t * (1.421413741 + t * (-1.453152027
             + t * 1.061405429))))) * exp(-az * az))))), 6) AS p_value,
       n_ref, n_new
FROM e
"""
)


@query("hist_chi2_drift", _CHI2_DRIFT_ORACLE)
def q_hist_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity TEST over the PSI bins for
    the close distribution across the 2024-01-16 split
    (``drift.hist_chi2_drift``) — PSI/JS say how far the distribution
    moved; this says whether the move survives sampling noise
    (Wilson-Hilferty p-value through the shared A-S erf polynomial)."""
    from financial_data_pipeline_spark.operators.drift import hist_chi2_drift

    bars = events_as_ohlcv(spark, sf_dir)
    ref = bars.filter(F.col("timestamp") < "2024-01-16")
    new = bars.filter(F.col("timestamp") >= "2024-01-16")
    out = hist_chi2_drift(ref, new, "close", bins=10)
    return out.select(
        "feature",
        F.round("chi2", 6).alias("chi2"),
        "dof",
        F.round("p_value", 6).alias("p_value"),
        "n_ref",
        "n_new",
    )


@query(
    "ngram_novelty",
    """
WITH base AS (
  SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+') AS toks
  FROM documents
  WHERE len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+')) >= 3
), grams AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
  FROM (
    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
    FROM base
  )
), fo AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram)
SELECT doc_id, count(*) AS n_grams,
       sum((first_doc = doc_id)::BIGINT)::BIGINT AS n_novel,
       round(sum((first_doc = doc_id)::BIGINT) / count(*)::DOUBLE, 6)
         AS novelty_frac
FROM grams JOIN fo USING (gram) GROUP BY doc_id
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order 3-gram novelty per document (``text.ngram_novelty``):
    the fraction of a doc's distinct 3-grams first seen in that doc —
    boilerplate recombination scores ~0 even when no pairwise
    similarity fires. Inverted-index shape, linear in tokens."""
    from financial_data_pipeline_spark.operators.text import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_novelty(docs, n=3)
    return out.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round("novelty_frac", 6).alias("novelty_frac"),
    )


@query(
    "source_overlap_jaccard",
    """
WITH base AS (
  SELECT source, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+') AS toks
  FROM documents
  WHERE len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \\t\\n\\x0B\\f\\r]+')) >= 5
), grams AS (
  SELECT DISTINCT source,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' '
           || toks[i + 3] || ' ' || toks[i + 4] AS gram
  FROM (
    SELECT source, toks, unnest(generate_series(1, len(toks) - 4)) AS i
    FROM base
  )
), sizes AS (SELECT source, count(*) AS sz FROM grams GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_common,
       (sa.sz + sb.sz - n_common)::BIGINT AS n_union,
       round(n_common / (sa.sz + sb.sz - n_common)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = inter.source_a
JOIN sizes sb ON sb.source = inter.source_b
""",
)
def q_source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 5-gram Jaccard overlap between sources
    (``text.source_overlap``) — the mixture diagnostic that catches
    mirror/syndicated sources before per-document dedup. Gram-keyed
    equi-join: blowup per gram bounded by the source count, never
    document-pairwise."""
    from financial_data_pipeline_spark.operators.text import source_overlap

    docs = load_table(spark, sf_dir, "documents")
    out = source_overlap(docs, n=5)
    return out.select(
        "source_a",
        "source_b",
        "n_common",
        "n_union",
        F.round("jaccard", 6).alias("jaccard"),
    )


@query(
    "information_coefficient",
    BARS_CTE
    + """
, f AS (
  SELECT symbol, timestamp, volume,
         ln(lead(close) OVER (PARTITION BY symbol ORDER BY timestamp) / close)
           AS fwd
  FROM bars
), g AS (
  SELECT symbol, timestamp::DATE AS day,
         row_number() OVER (PARTITION BY symbol, timestamp::DATE
                            ORDER BY volume, timestamp) AS rs,
         row_number() OVER (PARTITION BY symbol, timestamp::DATE
                            ORDER BY fwd, timestamp) AS rr
  FROM f WHERE fwd IS NOT NULL
), d AS (
  SELECT symbol, day, corr(rs, rr) AS ic, count(*) AS n
  FROM g GROUP BY 1, 2
), s AS (
  SELECT symbol, count(*) AS n_days, avg(ic) AS mean_ic,
         stddev_samp(ic) AS ic_std
  FROM d WHERE n >= 3 GROUP BY symbol
)
SELECT symbol, n_days, round(mean_ic, 6) AS mean_ic,
       round(ic_std, 6) AS ic_std,
       round(mean_ic * sqrt(n_days::DOUBLE) / ic_std, 6) AS ic_tstat
FROM s
""",
)
def q_information_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rank IC of volume against the next-bar return per symbol
    (``indicators.information_coefficient``) — the Grinold/Kahn
    signal-evaluation readout (mean IC, dispersion, t-stat).
    Deterministic row_number ranks (value, ts) in both engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.information_coefficient(bars)
    return out.select(
        "symbol",
        "n_days",
        F.round("mean_ic", 6).alias("mean_ic"),
        F.round("ic_std", 6).alias("ic_std"),
        F.round("ic_tstat", 6).alias("ic_tstat"),
    )


def _lloyd_oracle_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Unrolled Lloyd-iteration CTE chain (the ``event_type_pagerank``
    device applied to k-means): c0 = the k lowest-id vectors, then per
    iteration an assignment CTE (argmin over the point×centroid
    distance frame, ties to the lowest cluster id) and a centroid CTE
    (per-dim means ROUNDED to 6 dp — the same pin the Spark side's
    driver hop applies — with empty clusters keeping their previous
    centroid), finishing with the final assignment under the last
    centroids. Distances left-fold exactly like the Spark
    ``zip_with``+``aggregate`` expressions."""
    dist = (
        "list_reduce(list_transform(range(1, {d} + 1), "
        "t -> (e.v[t] - c.cent[t]) * (e.v[t] - c.cent[t])), "
        "(s, x) -> s + x)".format(d=dim)
    )
    parts = [
        f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, v AS cent
  FROM e ORDER BY vec_id LIMIT {k}
)"""
    ]
    for n in range(1, iters + 1):
        prev = f"c{n - 1}"
        parts.append(
            f"""
, d{n} AS (
  SELECT e.vec_id, e.v, c.cid, {dist} AS d
  FROM e, {prev} c
), a{n} AS (
  SELECT vec_id, v, cid FROM d{n}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), m{n} AS (
  SELECT cid, t.dim, round(avg(v[t.dim]), 6) AS m
  FROM a{n}, unnest(generate_series(1, {dim})) AS t(dim)
  GROUP BY 1, 2
), c{n} AS (
  SELECT p.cid, coalesce(nc.cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(m ORDER BY dim) AS cent FROM m{n} GROUP BY 1
  ) nc USING (cid)
)"""
        )
    parts.append(
        f"""
, df AS (
  SELECT e.vec_id, c.cid, {dist} AS d
  FROM e, c{iters} c
), af AS (
  SELECT vec_id, cid, d FROM df
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
)
SELECT cid AS cluster, count(*)::BIGINT AS n_vecs,
       round(avg(d), 4) AS mean_sq_dist
FROM af GROUP BY 1 ORDER BY 1"""
    )
    return "".join(parts)


@query("kmeans_doc_clusters", _lloyd_oracle_sql())
def q_kmeans_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table
    (``similarity.lloyd_kmeans``, k=8, 3 rounds, deterministic
    lowest-id init): per-cluster size + mean squared distance — the
    document-clustering primitive mixture planning and per-cluster
    dedup consume. Formerly a rows-only check: with each driver-hop
    centroid mean pinned to 6 dp the whole trajectory is
    engine-reproducible, so the DuckDB twin replays all three
    iterations as an unrolled CTE chain and value-checks the result
    (the ``event_type_pagerank`` device)."""
    from financial_data_pipeline_spark.operators.similarity import (
        lloyd_kmeans,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = lloyd_kmeans(emb, k=8, iters=3, centroid_decimals=6)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("sq_dist"), 4).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )


@query(
    "riskmetrics_vol",
    BARS_CTE
    + """
, r0 AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), r2 AS (SELECT symbol, timestamp, r * r AS r2 FROM r0 WHERE r IS NOT NULL)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sqrt(list_reduce(
         list(r2) OVER (PARTITION BY symbol ORDER BY timestamp
                        ROWS BETWEEN 593 PRECEDING AND CURRENT ROW),
         (a, b) -> a * 0.94 + (1.0 - 0.94) * b)), 6) AS ewma_vol
FROM r2
""",
)
def q_riskmetrics_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility (lambda=0.94) per bar
    (``indicators.riskmetrics_vol``): the sequential recurrence as a
    bounded-window fold (terms past 594 rows are sub-ULP), replayed
    bit-for-bit by the oracle's list_reduce — same device as
    ``ema_truncated``."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.riskmetrics_vol(bars, lam=0.94)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("ewma_vol", 6).alias("ewma_vol"),
    )


@query(
    "lead_lag_xcorr",
    BARS_CTE
    + """
, r0 AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS r
  FROM bars
), r AS (SELECT symbol AS s, timestamp AS tsx, r FROM r0 WHERE r IS NOT NULL),
j AS (
  SELECT a.s AS symbol_a, b.s AS symbol_b, a.tsx, a.r AS ra, b.r AS rb
  FROM r a JOIN r b ON a.tsx = b.tsx AND a.s < b.s
), l AS (
  SELECT symbol_a, symbol_b, ra,
         lag(rb, 3) OVER w AS b0, lag(rb, 2) OVER w AS b1,
         lag(rb, 1) OVER w AS b2, rb AS b3,
         lead(rb, 1) OVER w AS b4, lead(rb, 2) OVER w AS b5,
         lead(rb, 3) OVER w AS b6
  FROM j WINDOW w AS (PARTITION BY symbol_a, symbol_b ORDER BY tsx)
), agg AS (
  SELECT symbol_a, symbol_b, count(*) AS n_obs,
         corr(ra, b0) AS c0, corr(ra, b1) AS c1, corr(ra, b2) AS c2,
         corr(ra, b3) AS c3, corr(ra, b4) AS c4, corr(ra, b5) AS c5,
         corr(ra, b6) AS c6
  FROM l GROUP BY 1, 2
), t AS (
  SELECT symbol_a, symbol_b, n_obs, c3, -3 AS lg, c0 AS c FROM agg
  UNION ALL SELECT symbol_a, symbol_b, n_obs, c3, -2, c1 FROM agg
  UNION ALL SELECT symbol_a, symbol_b, n_obs, c3, -1, c2 FROM agg
  UNION ALL SELECT symbol_a, symbol_b, n_obs, c3, 0, c3 FROM agg
  UNION ALL SELECT symbol_a, symbol_b, n_obs, c3, 1, c4 FROM agg
  UNION ALL SELECT symbol_a, symbol_b, n_obs, c3, 2, c5 FROM agg
  UNION ALL SELECT symbol_a, symbol_b, n_obs, c3, 3, c6 FROM agg
)
SELECT symbol_a, symbol_b, n_obs, round(c3, 6) AS corr_lag0,
       lg AS best_lag, round(c, 6) AS best_corr
FROM t
QUALIFY row_number() OVER (PARTITION BY symbol_a, symbol_b
                           ORDER BY -abs(c), lg) = 1
""",
)
def q_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation per symbol pair
    (``indicators.lead_lag_xcorr``, lags -3..+3): which symbol's
    returns LEAD the other's — the price-discovery asymmetry the
    static correlation matrix averages away. One ts-equi join, one
    shared per-pair sort, one aggregate; deterministic argmax
    (largest |corr|, ties to the smallest lag) in both engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.lead_lag_xcorr(bars, max_lag=3)
    return out.select(
        "symbol_a",
        "symbol_b",
        "n_obs",
        F.round("corr_lag0", 6).alias("corr_lag0"),
        "best_lag",
        F.round("best_corr", 6).alias("best_corr"),
    )


@query(
    "ichimoku_lines",
    BARS_CTE
    + """
, mids AS (
  SELECT symbol, timestamp, close,
         CASE WHEN count(*) OVER w9 >= 9
              THEN (max(high) OVER w9 + min(low) OVER w9) / 2.0 END AS tenkan,
         CASE WHEN count(*) OVER w26 >= 26
              THEN (max(high) OVER w26 + min(low) OVER w26) / 2.0 END AS kijun,
         CASE WHEN count(*) OVER w52 >= 52
              THEN (max(high) OVER w52 + min(low) OVER w52) / 2.0 END AS mid52
  FROM bars
  WINDOW w9 AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         w26 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         w52 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(tenkan, 6) AS tenkan, round(kijun, 6) AS kijun,
       round(lag((tenkan + kijun) / 2.0, 26) OVER w, 6) AS senkou_a,
       round(lag(mid52, 26) OVER w, 6) AS senkou_b,
       round(lead(close, 26) OVER w, 6) AS chikou
FROM mids WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
""",
)
def q_ichimoku_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku cloud lines per bar (``indicators.ichimoku``): rolling
    midpoints with forward-displaced cloud legs and back-displaced
    chikou — pure window algebra on one per-symbol sort."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.ichimoku(bars)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("tenkan", 6).alias("tenkan"),
        F.round("kijun", 6).alias("kijun"),
        F.round("senkou_a", 6).alias("senkou_a"),
        F.round("senkou_b", 6).alias("senkou_b"),
        F.round("chikou", 6).alias("chikou"),
    )


@query(
    "adx_trend_strength",
    BARS_CTE
    + """
, d0 AS (
  SELECT symbol, timestamp,
         high - lag(high) OVER w AS up,
         lag(low) OVER w - low AS dn,
         greatest(high - low, abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), d AS (
  SELECT symbol, timestamp,
         CASE WHEN up > dn AND up > 0 THEN up ELSE 0.0 END AS pdm,
         CASE WHEN dn > up AND dn > 0 THEN dn ELSE 0.0 END AS ndm, tr
  FROM d0 WHERE tr IS NOT NULL
), s AS (
  SELECT symbol, timestamp,
         list_reduce(list(tr) OVER wf,
           (a, b) -> a * (1.0 - 1.0 / 14.0) + (1.0 / 14.0) * b) AS str,
         list_reduce(list(pdm) OVER wf,
           (a, b) -> a * (1.0 - 1.0 / 14.0) + (1.0 / 14.0) * b) AS spdm,
         list_reduce(list(ndm) OVER wf,
           (a, b) -> a * (1.0 - 1.0 / 14.0) + (1.0 / 14.0) * b) AS sndm
  FROM d WINDOW wf AS (PARTITION BY symbol ORDER BY timestamp
                       ROWS BETWEEN 495 PRECEDING AND CURRENT ROW)
), dx AS (
  SELECT symbol, timestamp,
         100.0 * spdm / str AS pdi, 100.0 * sndm / str AS ndi,
         CASE WHEN (100.0 * spdm / str + 100.0 * sndm / str) > 0
              THEN 100.0 * abs(100.0 * spdm / str - 100.0 * sndm / str)
                   / (100.0 * spdm / str + 100.0 * sndm / str)
              ELSE 0.0 END AS dxv
  FROM s
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(pdi, 6) AS plus_di, round(ndi, 6) AS minus_di,
       round(dxv, 6) AS dx,
       round(list_reduce(list(dxv) OVER wf,
         (a, b) -> a * (1.0 - 1.0 / 14.0) + (1.0 / 14.0) * b), 6) AS adx
FROM dx WINDOW wf AS (PARTITION BY symbol ORDER BY timestamp
                      ROWS BETWEEN 495 PRECEDING AND CURRENT ROW)
""",
)
def q_adx_trend_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADX(14) trend strength (``indicators.adx``): Wilder-smoothed
    ±DI and the doubly-smoothed ADX, each recurrence the bounded
    truncated fold replayed bit-for-bit by the oracle's list_reduce."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.adx(bars, n=14)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("plus_di", 6).alias("plus_di"),
        F.round("minus_di", 6).alias("minus_di"),
        F.round("dx", 6).alias("dx"),
        F.round("adx", 6).alias("adx"),
    )


@query(
    "cci_20",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, timestamp, (high + low + close) / 3.0 AS tp FROM bars
), a AS (
  SELECT symbol, timestamp, tp,
         list(tp) OVER (PARTITION BY symbol ORDER BY timestamp
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr
  FROM t
), m AS (
  SELECT *,
         list_reduce(list_prepend(0.0, arr), (x, y) -> x + y)
           / len(arr) AS mu
  FROM a
), md AS (
  SELECT *,
         list_reduce(
           list_prepend(0.0, list_transform(arr, v -> abs(v - mu))),
           (x, y) -> x + y) / len(arr) AS mad
  FROM m
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN len(arr) >= 20 AND mad > 0
             THEN (tp - mu) / (0.015 * mad) END, 6) AS cci
FROM md
""",
)
def q_cci_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCI(20) per bar (``indicators.cci``): typical-price deviation
    scaled by the window's own MEAN ABSOLUTE deviation — the window
    materializes as a bounded array with two ordered folds, mirrored
    exactly by list_reduce/list_transform."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.cci(20), 6).alias("cci"),
    )
    return out


@query(
    "mfi_14",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, timestamp, volume, (high + low + close) / 3.0 AS tp
  FROM bars
), d AS (
  SELECT symbol, timestamp, volume, tp,
         tp - lag(tp) OVER (PARTITION BY symbol ORDER BY timestamp) AS dtp
  FROM t
), f AS (SELECT * FROM d WHERE dtp IS NOT NULL)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(*) OVER w >= 14
                   AND (sum(CASE WHEN dtp > 0 THEN tp * volume ELSE 0.0 END)
                          OVER w
                        + sum(CASE WHEN dtp < 0 THEN tp * volume ELSE 0.0 END)
                          OVER w) > 0
             THEN 100.0
                  * sum(CASE WHEN dtp > 0 THEN tp * volume ELSE 0.0 END) OVER w
                  / (sum(CASE WHEN dtp > 0 THEN tp * volume ELSE 0.0 END) OVER w
                     + sum(CASE WHEN dtp < 0 THEN tp * volume ELSE 0.0 END)
                       OVER w)
             END, 4) AS mfi
FROM f
WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
""",
)
def q_mfi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFI(14) per bar (``indicators.mfi``): volume-weighted RSI from
    conditional money-flow window sums (flat bars join neither side).
    Rounded at 4dp: the two engines slide their window sums in
    different association orders (recompute vs segment tree), so the
    ratio is only ULP-identical, not bit-identical."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.mfi(bars, n=14)
    return out.select(
        "symbol", _ts_us().alias("ts_us"), F.round("mfi", 4).alias("mfi")
    )


@query(
    "volume_spike_car",
    BARS_CTE
    + """
, base AS (
  SELECT symbol, timestamp, close, volume,
         avg(volume) OVER (PARTITION BY symbol ORDER BY timestamp
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
           AS base_vol,
         count(volume) OVER (PARTITION BY symbol ORDER BY timestamp
                             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
           AS n_base,
         ln(lead(close, 1) OVER w / close) AS car1,
         ln(lead(close, 3) OVER w / close) AS car3,
         ln(lead(close, 5) OVER w / close) AS car5
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), marked AS (
  SELECT symbol, car1, car3, car5,
         (volume > 2.0 * base_vol) AS spike
  FROM base
  WHERE n_base = 24 AND car5 IS NOT NULL
)
SELECT symbol,
       sum(CASE WHEN spike THEN 1 ELSE 0 END)::BIGINT AS n_spikes,
       round(avg(CASE WHEN spike THEN car1 END) * 10000, 4) AS car1_spike_bps,
       round(avg(CASE WHEN spike THEN car3 END) * 10000, 4) AS car3_spike_bps,
       round(avg(CASE WHEN spike THEN car5 END) * 10000, 4) AS car5_spike_bps,
       round(avg(CASE WHEN NOT spike THEN car5 END) * 10000, 4)
         AS car5_base_bps
FROM marked GROUP BY symbol
""",
)
def q_volume_spike_car(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event study: cumulative abnormal return (1/3/5 bars, in bps)
    after volume spikes (>2x the trailing 24-bar average, current bar
    excluded) vs the non-spike baseline — does unusual volume predict
    drift? Pure window algebra: one trailing average, three forward
    log returns, one aggregate; events with incomplete forward or
    baseline windows abstain."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    wb = w.rowsBetween(-24, -1)
    base = bars.select(
        "symbol",
        (F.col("volume") > 2.0 * F.avg("volume").over(wb)).alias("spike"),
        F.count("volume").over(wb).alias("__nb"),
        F.log(F.lead("close", 1).over(w) / F.col("close")).alias("car1"),
        F.log(F.lead("close", 3).over(w) / F.col("close")).alias("car3"),
        F.log(F.lead("close", 5).over(w) / F.col("close")).alias("car5"),
    ).filter((F.col("__nb") == 24) & F.col("car5").isNotNull())
    spike = F.col("spike")
    return base.groupBy("symbol").agg(
        F.sum(spike.cast("long")).alias("n_spikes"),
        F.round(F.avg(F.when(spike, F.col("car1"))) * 10000, 4).alias(
            "car1_spike_bps"
        ),
        F.round(F.avg(F.when(spike, F.col("car3"))) * 10000, 4).alias(
            "car3_spike_bps"
        ),
        F.round(F.avg(F.when(spike, F.col("car5"))) * 10000, 4).alias(
            "car5_spike_bps"
        ),
        F.round(F.avg(F.when(~spike, F.col("car5"))) * 10000, 4).alias(
            "car5_base_bps"
        ),
    )


@query(
    "dup_rate_by_source",
    """
WITH h AS (
  SELECT doc_id, source, md5(text) AS th FROM documents
), c AS (
  SELECT th, count(*) AS n FROM h GROUP BY th
)
SELECT source,
       count(*) AS n_docs,
       sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
       round(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS dup_frac
FROM h JOIN c USING (th)
GROUP BY source
""",
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health: per-source exact-duplicate exposure — the share
    of a source's documents whose full text appears more than once
    ANYWHERE in the corpus (md5 groupBy + join back; mirror sites and
    syndication show up here before any dedup pass runs). Linear,
    hash-keyed, the same plan at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", F.md5("text").alias("th"))
    c = h.groupBy("th").agg(F.count(F.lit(1)).alias("n"))
    joined = h.join(c, "th")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n") > 1).cast("long")).alias("n_dup_docs"),
        F.round(
            F.sum((F.col("n") > 1).cast("long"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_frac"),
    )


@query(
    "bollinger_reversion_backtest",
    BARS_CTE
    + """
, p AS (
  SELECT symbol, timestamp, close,
         CASE WHEN count(close) OVER win >= 20
              THEN avg(close) OVER win END AS mid,
         CASE WHEN count(close) OVER win >= 20
              THEN stddev_samp(close) OVER win END AS sd,
         ln(close / lag(close) OVER w) AS lr
  FROM bars
  WINDOW win AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         w AS (PARTITION BY symbol ORDER BY timestamp)
), sig AS (
  SELECT symbol, timestamp, coalesce(lr, 0.0) AS log_ret,
         CASE WHEN close < mid - 2.0 * sd THEN 1
              WHEN close >= mid THEN 0 END AS s
  FROM p
), pos AS (
  SELECT symbol, timestamp, log_ret,
         coalesce(last_value(s IGNORE NULLS) OVER
           (PARTITION BY symbol ORDER BY timestamp
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
           AS position
  FROM sig
), f AS (
  SELECT symbol, log_ret, position,
         coalesce(lag(position) OVER
           (PARTITION BY symbol ORDER BY timestamp), 0) AS prev
  FROM pos
)
SELECT symbol,
       sum(abs(position - prev))::BIGINT AS n_trades,
       round(exp(sum(prev * log_ret)
                 + ln(1.0 - 5.0 / 10000.0) * sum(abs(position - prev)))
             - 1, 6) AS strategy_return,
       round(exp(sum(log_ret)) - 1, 6) AS buy_hold_return
FROM f GROUP BY symbol
""",
)
def q_bollinger_reversion_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-reversion backtest per symbol (enter below the lower
    Bollinger band, exit at the middle band, next-bar fills, 5 bps per
    position change) — the mean-reversion strategy family next to the
    trend-following SMA crossover; hold-until-exit state is
    last-ignore-nulls gaps-and-islands in both engines
    (``backtest.bollinger_reversion_positions``)."""
    from financial_data_pipeline_spark.operators.backtest import (
        backtest_summary,
        bollinger_reversion_positions,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    pos = bollinger_reversion_positions(bars, n=20, k=2.0)
    out = backtest_summary(pos, cost_bps=5.0)
    return out.select(
        "symbol",
        "n_trades",
        F.round("strategy_return", 6).alias("strategy_return"),
        F.round("buy_hold_return", 6).alias("buy_hold_return"),
    )


@query(
    "kelly_sizing",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS lr
  FROM bars
), a AS (
  SELECT symbol, count(lr) AS n_obs, avg(lr) AS mu, var_samp(lr) AS v
  FROM r WHERE lr IS NOT NULL GROUP BY symbol
)
SELECT symbol, n_obs,
       round(mu / v, 6) AS kelly_fraction,
       round(mu / v / 2.0, 6) AS half_kelly,
       round(mu * mu / (2.0 * v) * 8760.0, 6) AS growth_rate_ann
FROM a
""",
)
def q_kelly_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kelly-optimal sizing per symbol from log-return moments
    (``backtest.kelly_sizing``): f* = mu/sigma^2, half-Kelly, and the
    annualized growth rate at full Kelly — closed-form, one window +
    one aggregate."""
    from financial_data_pipeline_spark.operators.backtest import kelly_sizing

    bars = events_as_ohlcv(spark, sf_dir)
    out = kelly_sizing(bars, bars_per_year=8760.0)
    return out.select(
        "symbol",
        "n_obs",
        F.round("kelly_fraction", 6).alias("kelly_fraction"),
        F.round("half_kelly", 6).alias("half_kelly"),
        F.round("growth_rate_ann", 6).alias("growth_rate_ann"),
    )


@query(
    "almgren_chriss_schedule",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS lr
  FROM bars
), v AS (
  SELECT symbol, var_samp(lr) * 24.0 AS dvar
  FROM r WHERE lr IS NOT NULL GROUP BY symbol
), s AS (
  SELECT symbol, dvar, sqrt(1e-06 * dvar / 2.5e-06) AS kappa,
         unnest(generate_series(0, 10)) AS slice
  FROM v
), e AS (
  SELECT symbol, slice, sqrt(dvar) AS daily_vol, kappa,
         ((exp(kappa * (1.0 - slice / 10.0))
           - exp(-(kappa * (1.0 - slice / 10.0)))) / 2.0)
         / ((exp(kappa) - exp(-kappa)) / 2.0) AS remaining_frac
  FROM s
)
SELECT symbol, slice, round(daily_vol, 6) AS daily_vol,
       round(kappa, 6) AS kappa,
       round(remaining_frac, 6) AS remaining_frac,
       round(coalesce(lag(remaining_frac) OVER
               (PARTITION BY symbol ORDER BY slice) - remaining_frac,
             0.0), 6) AS trade_frac
FROM e
""",
)
def q_almgren_chriss_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Almgren-Chriss optimal liquidation schedule per symbol
    (``backtest.almgren_chriss_schedule``): closed-form
    sinh(kappa(T-t))/sinh(kappa T) trajectory with urgency from the
    symbol's own realized daily variance — risk-averse front-loading
    that a lambda->0 limit turns into TWAP."""
    from financial_data_pipeline_spark.operators.backtest import (
        almgren_chriss_schedule,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    out = almgren_chriss_schedule(bars, n_slices=10)
    return out.select(
        "symbol",
        "slice",
        F.round("daily_vol", 6).alias("daily_vol"),
        F.round("kappa", 6).alias("kappa"),
        F.round("remaining_frac", 6).alias("remaining_frac"),
        F.round("trade_frac", 6).alias("trade_frac"),
    )


@query(
    "boilerplate_lines",
    """
WITH dl AS (
  SELECT DISTINCT doc_id, source, trim(line) AS line
  FROM (
    SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line
    FROM documents
  )
  WHERE length(trim(line)) >= 10
), src AS (
  SELECT source, count(DISTINCT doc_id) AS n_docs FROM dl GROUP BY source
), cnt AS (
  SELECT source, line, count(*) AS n_line_docs
  FROM dl GROUP BY source, line
)
SELECT c.source, c.line, c.n_line_docs, s.n_docs,
       round(c.n_line_docs / s.n_docs::DOUBLE, 6) AS doc_frac
FROM cnt c JOIN src s ON c.source = s.source
WHERE c.n_line_docs >= 3 AND c.n_line_docs / s.n_docs::DOUBLE >= 0.2
""",
)
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detector: trimmed lines (>=10 chars)
    appearing in >=20% of a source's documents (and >=3 docs) — the
    C4-style profiling pass that finds headers/footers/navigation
    chrome BEFORE dedup rewrites documents. Explode + two hash
    aggregations; linear in line count, the same plan at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    dl = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split("text", "\n")).alias("__raw"),
        )
        .select("doc_id", "source", F.trim("__raw").alias("line"))
        .filter(F.length("line") >= 10)
        .distinct()
    )
    src = dl.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    cnt = dl.groupBy("source", "line").agg(
        F.count(F.lit(1)).alias("n_line_docs")
    )
    out = (
        cnt.join(F.broadcast(src), "source")
        .filter(
            (F.col("n_line_docs") >= 3)
            & (
                F.col("n_line_docs") / F.col("n_docs").cast("double")
                >= 0.2
            )
        )
        .select(
            "source",
            "line",
            "n_line_docs",
            "n_docs",
            F.round(
                F.col("n_line_docs") / F.col("n_docs").cast("double"), 6
            ).alias("doc_frac"),
        )
    )
    return out


@query(
    "inverse_vol_rebalanced",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp, date_trunc('week', timestamp) AS m,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS lr
  FROM bars
), b AS (SELECT * FROM r WHERE lr IS NOT NULL),
mv AS (SELECT symbol, m, stddev_samp(lr) AS vol FROM b GROUP BY 1, 2),
pr AS (
  SELECT symbol, lead(m) OVER (PARTITION BY symbol ORDER BY m) AS m,
         vol AS pvol
  FROM mv
), pw AS (SELECT * FROM pr WHERE m IS NOT NULL AND pvol > 0),
wts AS (
  SELECT symbol, m,
         (1.0 / pvol) / sum(1.0 / pvol) OVER (PARTITION BY m) AS w
  FROM pw
), pt AS (
  SELECT b.m, b.timestamp, sum(w.w * (exp(b.lr) - 1.0)) AS prt
  FROM b JOIN wts w ON b.symbol = w.symbol AND b.m = w.m
  GROUP BY 1, 2
), mo AS (
  SELECT m, count(*) AS n_bars, sum(ln(1.0 + prt)) AS mlog
  FROM pt GROUP BY m
)
SELECT epoch_us(m) AS period_us, n_bars,
       round(mlog, 6) AS period_log_return,
       round(sum(mlog) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW), 6) AS cumulative_log_return
FROM mo
""",
)
def q_inverse_vol_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly-rebalanced inverse-volatility portfolio
    (``backtest.inverse_vol_portfolio_backtest``): weights from the
    PRIOR period's per-symbol vol (no lookahead), fixed within the
    period (weekly here — the driver corpus spans one calendar
    month); per-period and cumulative compounded returns. Connects
    the static risk weights to realized performance."""
    from financial_data_pipeline_spark.operators.backtest import (
        inverse_vol_portfolio_backtest,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    out = inverse_vol_portfolio_backtest(bars, period="week")
    return out.select(
        F.unix_micros("period").alias("period_us"),
        "n_bars",
        F.round("period_log_return", 6).alias("period_log_return"),
        F.round("cumulative_log_return", 6).alias("cumulative_log_return"),
    )


@query(
    "heikin_ashi_candles",
    BARS_CTE
    + """
, b AS (
  SELECT symbol, timestamp, open, high, low, close,
         (open + high + low + close) / 4.0 AS hc
  FROM bars
), y AS (
  SELECT symbol, timestamp, open, high, low, close, hc,
         coalesce(lag(hc) OVER (PARTITION BY symbol ORDER BY timestamp),
                  (open + close) / 2.0) AS yv
  FROM b
), f AS (
  SELECT symbol, timestamp, high, low, hc,
         list_reduce(
           list(yv) OVER (PARTITION BY symbol ORDER BY timestamp
                          ROWS BETWEEN 54 PRECEDING AND CURRENT ROW),
           (a, x) -> a * 0.5 + 0.5 * x) AS ho
  FROM y
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(ho, 6) AS ha_open,
       round(greatest(high, ho, hc), 6) AS ha_high,
       round(least(low, ho, hc), 6) AS ha_low,
       round(hc, 6) AS ha_close
FROM f
""",
)
def q_heikin_ashi_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi candle transform per bar (``indicators.heikin_ashi``):
    the recursive ha_open as a 55-bar seeded fold (alpha=1/2 halves
    the seed's influence per bar — sub-ULP vs the full recursion),
    truncated identically in the oracle's list_reduce."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.heikin_ashi(bars)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("ha_open", 6).alias("ha_open"),
        F.round("ha_high", 6).alias("ha_high"),
        F.round("ha_low", 6).alias("ha_low"),
        F.round("ha_close", 6).alias("ha_close"),
    )


@query(
    "vortex_aroon",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, timestamp, high, low,
         abs(high - lag(low) OVER w) AS vmp,
         abs(low - lag(high) OVER w) AS vmn,
         greatest(high - low, abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), v AS (
  SELECT symbol, timestamp,
         CASE WHEN count(tr) OVER w14 >= 14 AND sum(tr) OVER w14 > 0
              THEN sum(vmp) OVER w14 / sum(tr) OVER w14 END AS vi_plus,
         CASE WHEN count(tr) OVER w14 >= 14 AND sum(tr) OVER w14 > 0
              THEN sum(vmn) OVER w14 / sum(tr) OVER w14 END AS vi_minus,
         list(high) OVER w25 AS lh,
         list(low) OVER w25 AS ll
  FROM t
  WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         w25 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(vi_plus, 6) AS vi_plus,
       round(vi_minus, 6) AS vi_minus,
       round(CASE WHEN len(lh) >= 26
                  THEN 100.0 * (25 - (list_position(list_reverse(lh),
                                       list_aggregate(lh, 'max')) - 1)) / 25.0
             END, 6) AS aroon_up,
       round(CASE WHEN len(ll) >= 26
                  THEN 100.0 * (25 - (list_position(list_reverse(ll),
                                       list_aggregate(ll, 'min')) - 1)) / 25.0
             END, 6) AS aroon_down
FROM v
""",
)
def q_vortex_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex VI+/VI−(14) + Aroon up/down(25) in one symbol-partitioned
    window pass (``indicators.vortex/aroon``). Aroon's bars-since-
    extreme is the reversed-array-position device — most-recent tie
    resolution agrees across engines by construction."""
    bars = events_as_ohlcv(spark, sf_dir)
    vx = indicators.vortex(14)
    ar = indicators.aroon(25)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(vx["vi_plus"], 6).alias("vi_plus"),
        F.round(vx["vi_minus"], 6).alias("vi_minus"),
        F.round(ar["aroon_up"], 6).alias("aroon_up"),
        F.round(ar["aroon_down"], 6).alias("aroon_down"),
    )


@query(
    "chaikin_flow",
    BARS_CTE
    + """
, m AS (
  SELECT symbol, timestamp, volume,
         CASE WHEN high > low
              THEN ((close - low) - (high - close)) / (high - low) * volume
              ELSE 0.0 END AS mfv
  FROM bars
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sum(mfv) OVER (PARTITION BY symbol ORDER BY timestamp
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS ad_line,
       round(CASE WHEN count(*) OVER w20 >= 20 AND sum(volume) OVER w20 > 0
                  THEN sum(mfv) OVER w20 / sum(volume) OVER w20 END, 6) AS cmf
FROM m
WINDOW w20 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
""",
)
def q_chaikin_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin A/D line (running money-flow-volume sum) + Chaikin
    Money Flow(20) (``indicators.chaikin_flow``) — cumulative and
    bounded windows share one per-symbol sort. Running sums are
    order-deterministic (incremental frame evaluation in both
    engines), so 4-dp rounding is safe."""
    bars = events_as_ohlcv(spark, sf_dir)
    cf = indicators.chaikin_flow(20)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(cf["ad_line"], 4).alias("ad_line"),
        F.round(cf["cmf"], 6).alias("cmf"),
    )


@query(
    "force_eom",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp, high, low, volume,
         (close - lag(close) OVER w) * volume AS force,
         ((high + low) / 2.0
          - (lag(high) OVER w + lag(low) OVER w) / 2.0) AS dmid
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), f AS (
  SELECT symbol, timestamp,
         list_reduce(
           list(force) OVER (PARTITION BY symbol ORDER BY timestamp
                             ROWS BETWEEN 238 PRECEDING AND CURRENT ROW),
           (a, x) -> a * (1.0 - 2.0/14.0) + (2.0/14.0) * x) AS fi,
         CASE WHEN high > low AND volume > 0
              THEN dmid / ((volume / 1e4) / (high - low)) END AS emv
  FROM d WHERE force IS NOT NULL
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(fi, 4) AS force_ema13,
       round(emv, 6) AS emv,
       round(CASE WHEN count(*) OVER w14 >= 14 THEN avg(emv) OVER w14 END, 6)
         AS eom_14
FROM f
WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
""",
)
def q_force_eom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder force index (EMA-13 truncated fold over (Δclose)·volume,
    null head dropped so the fold windows agree across engines) +
    Arms' ease of movement(14) with the 1e4 volume scale
    (``indicators.force_index/ease_of_movement``). avg skips null emv
    identically in both engines; the count gate counts rows."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    eo = indicators.ease_of_movement(14, 1.0e4)
    base = (
        bars.withColumns(
            {
                "__force": (F.col("close") - F.lag("close").over(w))
                * F.col("volume"),
                # emv's midpoint lag must see the PRE-filter neighbor
                # (the oracle computes dmid before the null-head drop)
                "__emv": eo["emv"],
            }
        )
        .filter(F.col("__force").isNotNull())
    )
    w14 = w.rowsBetween(-13, 0)
    eom = F.when(
        F.count(F.lit(1)).over(w14) >= 14, F.avg("__emv").over(w14)
    )
    return base.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.force_index(13), 4).alias("force_ema13"),
        F.round(F.col("__emv"), 6).alias("emv"),
        F.round(eom, 6).alias("eom_14"),
    )


@query(
    "ulcer_martin",
    BARS_CTE
    + """
, m AS (
  SELECT symbol, timestamp, close,
         100.0 * (1.0 - close / max(close) OVER cum) AS dd,
         ln(close / lag(close) OVER w) AS lr
  FROM bars
  WINDOW cum AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w AS (PARTITION BY symbol ORDER BY timestamp)
)
SELECT symbol,
       count(*) AS n_obs,
       round(sqrt(avg(dd * dd)), 6) AS ulcer_index,
       round(100.0 * (exp(sum(lr)) - 1.0), 6) AS total_return_pct,
       round(CASE WHEN sqrt(avg(dd * dd)) > 0
                  THEN 100.0 * (exp(sum(lr)) - 1.0) / sqrt(avg(dd * dd))
             END, 4) AS martin_ratio
FROM m GROUP BY symbol
""",
)
def q_ulcer_martin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index (RMS percent drawdown vs the running max) + Martin
    ratio (total return over ulcer) per symbol — the drawdown-PAIN
    risk pair next to max_drawdown's single worst number. One running-
    max window + one aggregate."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    dd = 100.0 * (1.0 - F.col("close") / F.max("close").over(cum))
    lr = F.log(F.col("close") / F.lag("close").over(w))
    base = bars.withColumn("__dd", dd).withColumn("__lr", lr)
    ulcer = F.sqrt(F.avg(F.col("__dd") * F.col("__dd")))
    tot = 100.0 * (F.exp(F.sum("__lr")) - 1.0)
    return base.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(ulcer, 6).alias("ulcer_index"),
        F.round(tot, 6).alias("total_return_pct"),
        F.round(F.when(ulcer > 0, tot / ulcer), 4).alias("martin_ratio"),
    )


@query(
    "drawdown_durations",
    BARS_CTE
    + """
, m AS (
  SELECT symbol, timestamp, close,
         CASE WHEN close < max(close) OVER cum THEN 1 ELSE 0 END AS under,
         100.0 * (1.0 - close / max(close) OVER cum) AS dd
  FROM bars
  WINDOW cum AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st AS (
  SELECT symbol, timestamp, under, dd,
         CASE WHEN under = 1
               AND coalesce(lag(under) OVER w, 0) = 0
              THEN 1 ELSE 0 END AS start
  FROM m WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), s AS (
  SELECT symbol, timestamp, under, dd,
         sum(start) OVER (PARTITION BY symbol ORDER BY timestamp
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS spell
  FROM st
), g AS (
  SELECT symbol, spell, count(*) AS len, max(dd) AS depth
  FROM s WHERE under = 1 GROUP BY 1, 2
)
SELECT symbol,
       count(*) AS n_spells,
       max(len)::BIGINT AS longest_spell,
       round(avg(len), 4) AS avg_spell_len,
       round(max(depth), 6) AS max_depth_pct
FROM g GROUP BY symbol
""",
)
def q_drawdown_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Underwater-spell anatomy per symbol
    (``indicators.drawdown_durations``): spell count, longest/mean
    duration in bars, deepest percent depth — gaps-and-islands over
    the running max, two rollup aggregates."""
    bars = events_as_ohlcv(spark, sf_dir)
    return indicators.drawdown_durations(bars)


@query(
    "variance_ratio",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
q AS (
  SELECT symbol, r,
         CASE WHEN count(*) OVER w5 >= 5 THEN sum(r) OVER w5 END AS rq
  FROM rr
  WINDOW w5 AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT symbol,
       count(r) AS n_obs,
       round(var_samp(rq) / (5.0 * var_samp(r)), 4) AS vr,
       round((var_samp(rq) / (5.0 * var_samp(r)) - 1.0)
             / sqrt(4.8 / count(r)), 4) AS z_homo
FROM q GROUP BY symbol
""",
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance ratio VR(5) + homoskedastic z per symbol
    (``indicators.variance_ratio``): overlapping 5-bar return variance
    over 5x the 1-bar variance — the random-walk test desks run before
    fitting momentum or reversion models."""
    bars = events_as_ohlcv(spark, sf_dir)
    return indicators.variance_ratio(bars, q=5)


@query(
    "probabilistic_sharpe",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), a AS (
  SELECT symbol, count(*) AS n,
         avg(r) AS a1, avg(r * r) AS a2,
         avg(r * r * r) AS a3, avg(r * r * r * r) AS a4
  FROM r WHERE r IS NOT NULL GROUP BY symbol
), mo AS (
  SELECT symbol, n, a1,
         a2 - a1 * a1 AS m2,
         a3 - 3 * a1 * a2 + 2 * a1 * a1 * a1 AS m3,
         a4 - 4 * a1 * a3 + 6 * a1 * a1 * a2 - 3 * power(a1, 4.0) AS m4
  FROM a
), sr AS (
  SELECT symbol, n,
         a1 / sqrt(m2 * n / (n - 1)) AS sr,
         m3 / power(m2, 1.5) AS g3,
         m4 / (m2 * m2) AS g4
  FROM mo
), z AS (
  SELECT symbol, n, sr, g3, g4,
         sr * sqrt(n - 1.0)
           / sqrt(1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr) / sqrt(2.0)
           AS z
  FROM sr
)
SELECT symbol, n AS n_obs,
       round(sr, 6) AS sharpe,
       round(g3, 4) AS skew,
       round(g4, 4) AS kurtosis,
       round(0.5 * (1.0 + sign(z) * (1.0 - (1.0 / (1.0 + 0.3275911 * abs(z)))
           * (0.254829592 + (1.0 / (1.0 + 0.3275911 * abs(z)))
              * (-0.284496736 + (1.0 / (1.0 + 0.3275911 * abs(z)))
                 * (1.421413741 + (1.0 / (1.0 + 0.3275911 * abs(z)))
                    * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * abs(z)))
                       * 1.061405429))))
           * exp(-abs(z) * abs(z)))), 6) AS psr
FROM z
""",
)
def q_probabilistic_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic Sharpe ratio per symbol
    (``indicators.probabilistic_sharpe``): P(true SR > 0) adjusted for
    return skew and kurtosis — moments from raw power sums (engine-
    portable, unlike built-in skewness/kurtosis bias conventions),
    Phi via the shared A-S erf polynomial."""
    bars = events_as_ohlcv(spark, sf_dir)
    return indicators.probabilistic_sharpe(bars)


@query(
    "garch11_vol",
    BARS_CTE
    + """
, r0 AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), rr AS (SELECT * FROM r0 WHERE r IS NOT NULL),
v AS (SELECT symbol, var_samp(r) AS v FROM rr GROUP BY symbol),
j AS (
  SELECT rr.symbol, rr.timestamp, rr.r * rr.r AS r2, v.v
  FROM rr JOIN v USING (symbol)
), f AS (
  SELECT symbol, timestamp, v,
         list_reduce(
           list_prepend(v, coalesce(list(r2) OVER
             (PARTITION BY symbol ORDER BY timestamp
              ROWS BETWEEN 349 PRECEDING AND 1 PRECEDING), [])),
           (a, x) -> v * (1.0 - 0.08 - 0.9) + 0.08 * x + 0.9 * a) AS s2
  FROM j
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(100.0 * sqrt(s2), 6) AS garch_vol_pct,
       round(100.0 * sqrt(v), 6) AS uncond_vol_pct
FROM f
""",
)
def q_garch11_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional volatility filter
    (``indicators.garch11_vol``, α=0.08, β=0.90, variance-targeted ω):
    the recursion contracts at rate β so a 350-bar truncated fold
    seeded with the unconditional variance is sub-ULP vs the full
    recursion — mirrored by the oracle's list_prepend/list_reduce over
    the identical lagged frame."""
    bars = events_as_ohlcv(spark, sf_dir)
    return indicators.garch11_vol(bars, alpha=0.08, beta=0.90).select(
        "symbol",
        _ts_us().alias("ts_us"),
        "garch_vol_pct",
        "uncond_vol_pct",
    )


@query(
    "ou_half_life",
    BARS_CTE
    + """
, p AS (SELECT symbol, timestamp, ln(close) AS lp FROM bars),
pr AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.timestamp AS t,
         a.lp AS pa, b.lp AS pb
  FROM p a JOIN p b ON a.timestamp = b.timestamp AND a.symbol < b.symbol
), h AS (
  SELECT sym_a, sym_b,
         covar_samp(pa, pb) / var_samp(pb) AS beta,
         count(*) AS n_obs
  FROM pr GROUP BY 1, 2
), sp AS (
  SELECT pr.sym_a, pr.sym_b, pr.t, h.beta, h.n_obs,
         pr.pa - h.beta * pr.pb AS s
  FROM pr JOIN h USING (sym_a, sym_b)
), d AS (
  SELECT sym_a, sym_b, beta, n_obs,
         s - lag(s) OVER w AS ds,
         lag(s) OVER w AS slag
  FROM sp WINDOW w AS (PARTITION BY sym_a, sym_b ORDER BY t)
)
SELECT sym_a, sym_b,
       any_value(n_obs) AS n_obs,
       round(any_value(beta), 6) AS hedge_beta,
       round(covar_samp(ds, slag) / var_samp(slag), 6) AS ar1_coef,
       round(CASE WHEN covar_samp(ds, slag) / var_samp(slag) > -1.0
                   AND covar_samp(ds, slag) / var_samp(slag) < 0.0
                  THEN -ln(2.0)
                       / ln(1.0 + covar_samp(ds, slag) / var_samp(slag))
             END, 4) AS half_life_bars
FROM d WHERE ds IS NOT NULL
GROUP BY 1, 2
""",
)
def q_ou_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ornstein–Uhlenbeck half-life of each symbol pair's log-price
    spread (``indicators.ou_half_life``): Engle–Granger hedge ratio,
    then the spread's AR(1) drift mapped to bars-to-half-revert —
    the holding-period number pairs desks size positions with.
    Extends pairs_cointegration from 'is it stationary' to 'how fast'."""
    bars = events_as_ohlcv(spark, sf_dir)
    return indicators.ou_half_life(bars)


@query(
    "donchian_breakout_backtest",
    BARS_CTE
    + """
, p AS (
  SELECT symbol, timestamp, close,
         CASE WHEN count(high) OVER went >= 20
              THEN max(high) OVER went END AS hi,
         CASE WHEN count(low) OVER wexit >= 10
              THEN min(low) OVER wexit END AS lo,
         ln(close / lag(close) OVER w) AS lr
  FROM bars
  WINDOW went AS (PARTITION BY symbol ORDER BY timestamp
                  ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING),
         wexit AS (PARTITION BY symbol ORDER BY timestamp
                   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),
         w AS (PARTITION BY symbol ORDER BY timestamp)
), sig AS (
  SELECT symbol, timestamp, coalesce(lr, 0.0) AS log_ret,
         CASE WHEN close > hi THEN 1
              WHEN close < lo THEN 0 END AS s
  FROM p
), pos AS (
  SELECT symbol, timestamp, log_ret,
         coalesce(last_value(s IGNORE NULLS) OVER
           (PARTITION BY symbol ORDER BY timestamp
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
           AS position
  FROM sig
), f AS (
  SELECT symbol, log_ret, position,
         coalesce(lag(position) OVER
           (PARTITION BY symbol ORDER BY timestamp), 0) AS prev
  FROM pos
)
SELECT symbol,
       sum(abs(position - prev))::BIGINT AS n_trades,
       round(exp(sum(prev * log_ret)
                 + ln(1.0 - 5.0 / 10000.0) * sum(abs(position - prev)))
             - 1, 6) AS strategy_return,
       round(exp(sum(log_ret)) - 1, 6) AS buy_hold_return
FROM f GROUP BY symbol
""",
)
def q_donchian_breakout_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle channel-breakout backtest per symbol (enter above the
    prior 20-bar high, exit below the prior 10-bar low, next-bar
    fills, 5 bps per position change) — the trend-following
    counterpart to the band-reversion rule; channels use PRIOR bars
    only (no same-bar lookahead)
    (``backtest.donchian_breakout_positions``)."""
    from financial_data_pipeline_spark.operators.backtest import (
        backtest_summary,
        donchian_breakout_positions,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    pos = donchian_breakout_positions(bars, entry_n=20, exit_n=10)
    out = backtest_summary(pos, cost_bps=5.0)
    return out.select(
        "symbol",
        "n_trades",
        F.round("strategy_return", 6).alias("strategy_return"),
        F.round("buy_hold_return", 6).alias("buy_hold_return"),
    )


@query(
    "quality_calibration_bins",
    r"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> ''))
           AS s
  FROM documents WHERE text IS NOT NULL
), binned AS (
  SELECT y, s,
         least(floor(percent_rank() OVER (ORDER BY s) * 10), 9)::BIGINT
           AS bin
  FROM scored
)
SELECT bin,
       count(*) AS n_docs,
       round(avg(s), 4) AS mean_score,
       round(avg(y::DOUBLE), 6) AS observed_rate
FROM binned GROUP BY bin
""",
)
def q_quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a quality heuristic (word count
    predicting lang=='en', the same scorer doc_quality_auc ranks):
    percent_rank decile bins — tie-stable across engines, unlike
    ntile — with per-bin mean score and observed positive rate. The
    calibration readout every quality-classifier gate needs next to
    its AUC."""
    from financial_data_pipeline_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    scored = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        token_count_ws(F.col("text")).alias("s"),
    )
    w = Window.orderBy("s")
    binned = scored.withColumn(
        "bin",
        F.least(F.floor(F.percent_rank().over(w) * 10), F.lit(9)).cast(
            "bigint"
        ),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("s"), 4).alias("mean_score"),
        F.round(F.avg(F.col("y").cast("double")), 6).alias("observed_rate"),
    )


@query(
    "token_fertility_by_lang",
    r"""
WITH t AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')) END AS ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]'))
           AS bpe,
         lang
  FROM documents WHERE text IS NOT NULL
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(ws), 4) AS avg_ws_tokens,
       round(avg(bpe), 4) AS avg_bpe_tokens,
       round(avg(CASE WHEN ws > 0 THEN bpe / ws::DOUBLE END), 6)
         AS fertility
FROM t GROUP BY lang
""",
)
def q_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word (``text.token_count_bpe / token_count_ws``), the
    cross-lingual cost metric that drives mixture weighting — a
    language whose fertility runs high pays more context per word.
    Map-only + one aggregate."""
    from financial_data_pipeline_spark.operators.text import (
        token_count_bpe,
        token_count_ws,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = docs.select(
        "lang",
        token_count_ws(F.col("text")).alias("ws"),
        token_count_bpe(F.col("text")).alias("bpe"),
    )
    fert = F.when(
        F.col("ws") > 0, F.col("bpe") / F.col("ws").cast("double")
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("ws"), 4).alias("avg_ws_tokens"),
        F.round(F.avg("bpe"), 4).alias("avg_bpe_tokens"),
        F.round(F.avg(fert), 6).alias("fertility"),
    )


@query(
    "embedding_pca_spectrum",
    """
WITH flat AS (
  SELECT unnest(range(len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings WHERE embedding IS NOT NULL
), tr AS (
  SELECT round(sum(v), 6) AS trace
  FROM (SELECT var_pop(val) AS v FROM flat GROUP BY pos)
)
SELECT g.component::BIGINT AS component, tr.trace,
       TRUE AS monotone, TRUE AS positive,
       TRUE AS ratio_ok, TRUE AS cum_ok
FROM tr, (SELECT unnest(range(1, 11)) AS component) g
""",
)
def q_embedding_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA eigen-spectrum of the embeddings table
    (``similarity.embedding_pca_spectrum``): top-10 covariance
    eigenvalues + explained-variance ratios via distributed BLAS Gram
    partials and a driver-side d×d eigh (d=64 schema constant). The
    eigendecomposition itself has no SQL twin, but its INVARIANTS do —
    upgraded from rows-only: the frame carries the spectrum's trace
    (Σλ = trace(cov) = Σ_j var_pop(x_j), a value DuckDB computes
    independently from the raw embeddings — this pins the whole
    eigenvalue SUM cross-engine) plus per-component booleans the
    oracle compares to literal TRUE: λ non-increasing, λ positive,
    explained_ratio ≡ λ/trace, cum_ratio ≡ running Σ ratio and ≤ 1.
    The raw spectrum values stay covered by the numpy differential in
    tests/test_ml_ops.py."""
    from financial_data_pipeline_spark.operators.similarity import (
        embedding_pca_spectrum,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    spec = embedding_pca_spectrum(emb, top_k=10)
    flat = (
        emb.filter(F.col("embedding").isNotNull())
        .select(F.posexplode("embedding").alias("pos", "val"))
        .select("pos", F.col("val").cast("double").alias("val"))
    )
    tr = (
        flat.groupBy("pos")
        .agg(F.var_pop("val").alias("v"))
        .agg(F.sum("v").alias("trace_raw"))
    )
    wn = Window.orderBy("component")
    wcum = wn.rowsBetween(Window.unboundedPreceding, 0)
    nxt = F.lead("eigenvalue").over(wn)
    # 10-row spectrum × 1-row trace: the cross join is a constant-size
    # broadcast, not a data-sized product
    return spec.crossJoin(F.broadcast(tr)).select(
        "component",
        F.round("trace_raw", 6).alias("trace"),
        (nxt.isNull() | (F.col("eigenvalue") >= nxt)).alias("monotone"),
        (F.col("eigenvalue") > 0).alias("positive"),
        (
            F.abs(
                F.col("explained_ratio")
                - F.col("eigenvalue") / F.col("trace_raw")
            )
            <= 1e-5
        ).alias("ratio_ok"),
        (
            (
                F.abs(
                    F.col("cum_ratio")
                    - F.sum("explained_ratio").over(wcum)
                )
                <= 2e-5
            )
            & (F.col("cum_ratio") <= 1.0)
        ).alias("cum_ok"),
    )


# Parabolic SAR / SuperTrend: non-contracting flip-state recursions —
# Arrow kernels on the Spark side (per-symbol linear, parallel across
# symbols), recursive CTEs stepping bar rank as oracles (the _EMA_REC_CTE
# device). Step expressions are inlined via f-strings because the
# recursive SELECT's column list must match the seed's.

_SAR_S0_UP = "least(r.sar + r.af * (r.ep - r.sar), b.l1, b.l2)"
_SAR_S0_DN = "greatest(r.sar + r.af * (r.ep - r.sar), b.h1, b.h2)"

_SAR_REC_CTE = (
    "WITH RECURSIVE bars AS ("
    + events_as_ohlcv_sql(60).strip()
    + f"""
), base AS (
  SELECT symbol, timestamp, high, low, close,
         lag(high) OVER w AS h1, lag(high, 2) OVER w AS h2,
         lag(low) OVER w AS l1, lag(low, 2) OVER w AS l2,
         lag(close) OVER w AS c1,
         row_number() OVER w AS rn
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), rec AS (
  SELECT symbol, timestamp, rn, high, low, close,
         CASE WHEN close > c1 THEN 1 ELSE -1 END AS trend,
         CASE WHEN close > c1 THEN least(l1, low)
              ELSE greatest(h1, high) END AS sar,
         CASE WHEN close > c1 THEN greatest(h1, high)
              ELSE least(l1, low) END AS ep,
         0.02 AS af
  FROM base WHERE rn = 2
  UNION ALL
  SELECT b.symbol, b.timestamp, b.rn, b.high, b.low, b.close,
         CASE WHEN r.trend = 1
              THEN (CASE WHEN b.low < {_SAR_S0_UP} THEN -1 ELSE 1 END)
              ELSE (CASE WHEN b.high > {_SAR_S0_DN} THEN 1 ELSE -1 END)
         END AS trend,
         CASE WHEN r.trend = 1
              THEN (CASE WHEN b.low < {_SAR_S0_UP} THEN r.ep
                         ELSE {_SAR_S0_UP} END)
              ELSE (CASE WHEN b.high > {_SAR_S0_DN} THEN r.ep
                         ELSE {_SAR_S0_DN} END)
         END AS sar,
         CASE WHEN r.trend = 1
              THEN (CASE WHEN b.low < {_SAR_S0_UP} THEN b.low
                         ELSE greatest(r.ep, b.high) END)
              ELSE (CASE WHEN b.high > {_SAR_S0_DN} THEN b.high
                         ELSE least(r.ep, b.low) END)
         END AS ep,
         CASE WHEN r.trend = 1
              THEN (CASE WHEN b.low < {_SAR_S0_UP} THEN 0.02
                         WHEN b.high > r.ep THEN least(r.af + 0.02, 0.2)
                         ELSE r.af END)
              ELSE (CASE WHEN b.high > {_SAR_S0_DN} THEN 0.02
                         WHEN b.low < r.ep THEN least(r.af + 0.02, 0.2)
                         ELSE r.af END)
         END AS af
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
"""
)


@query(
    "parabolic_sar",
    _SAR_REC_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(sar, 6) AS sar, trend AS sar_trend
FROM rec
""",
)
def q_parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's Parabolic SAR (``indicators.parabolic_sar``): the
    flip-state recursion has no contracting truncation, so the Spark
    side is the per-symbol Arrow kernel and the oracle replays the
    identical arithmetic as a recursive CTE stepping bar rank —
    op-for-op, so both engines agree bit-for-bit before the 6-dp
    round. Bar 1 (no state) is excluded on both sides."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.parabolic_sar(bars)
    return out.filter(F.col("sar").isNotNull()).select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("sar", 6).alias("sar"),
        F.col("sar_trend").cast("int").alias("sar_trend"),
    )


_ST_FUB = (
    "CASE WHEN b.bub < r.fub OR r.close > r.fub THEN b.bub ELSE r.fub END"
)
_ST_FLB = (
    "CASE WHEN b.blb > r.flb OR r.close < r.flb THEN b.blb ELSE r.flb END"
)

_ST_REC_CTE = (
    "WITH RECURSIVE bars AS ("
    + events_as_ohlcv_sql(60).strip()
    + f"""
), tr AS (
  SELECT symbol, timestamp, high, low, close,
         greatest(high - low, abs(high - lag(close) OVER w),
                  abs(low - lag(close) OVER w)) AS tr
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), banded AS (
  SELECT symbol, timestamp, close,
         (high + low) / 2.0 + 3.0 * avg(tr) OVER w10 AS bub,
         (high + low) / 2.0 - 3.0 * avg(tr) OVER w10 AS blb,
         count(tr) OVER w10 AS ntr
  FROM tr
  WINDOW w10 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
), base AS (
  SELECT symbol, timestamp, close, bub, blb,
         row_number() OVER (PARTITION BY symbol ORDER BY timestamp) AS rn
  FROM banded WHERE ntr >= 10
), rec AS (
  SELECT symbol, timestamp, rn, close, bub, blb,
         bub AS fub, blb AS flb,
         CASE WHEN close > bub THEN 1 ELSE -1 END AS trend
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.timestamp, b.rn, b.close, b.bub, b.blb,
         {_ST_FUB} AS fub,
         {_ST_FLB} AS flb,
         CASE WHEN r.trend = -1 AND b.close > {_ST_FUB} THEN 1
              WHEN r.trend = 1 AND b.close < {_ST_FLB} THEN -1
              ELSE r.trend END AS trend
  FROM base b JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
"""
)


@query(
    "supertrend_bands",
    _ST_REC_CTE
    + """
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN trend = 1 THEN flb ELSE fub END, 6) AS supertrend,
       trend AS st_trend
FROM rec
""",
)
def q_supertrend_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SuperTrend(10, 3x) with SMA-ATR bands
    (``indicators.supertrend``): band ratchet + side flip is the
    second non-contracting recursion — bands are window-computed
    codegen columns, only the 4-value state crosses into the Arrow
    kernel; the oracle recursive-CTE replays it over the banded
    (ATR-gated) row rank."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.supertrend(bars, n=10, mult=3.0)
    return out.filter(F.col("supertrend").isNotNull()).select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("supertrend", 6).alias("supertrend"),
        F.col("st_trend").cast("int").alias("st_trend"),
    )


@query(
    "trix_15",
    BARS_CTE
    + """
, e1 AS (
  SELECT symbol, timestamp,
         list_reduce(
           list(close) OVER wt,
           (a, x) -> a * (1.0 - 2.0/16.0) + (2.0/16.0) * x) AS e1
  FROM bars
  WINDOW wt AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 275 PRECEDING AND CURRENT ROW)
), e2 AS (
  SELECT symbol, timestamp,
         list_reduce(
           list(e1) OVER wt,
           (a, x) -> a * (1.0 - 2.0/16.0) + (2.0/16.0) * x) AS e2
  FROM e1
  WINDOW wt AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 275 PRECEDING AND CURRENT ROW)
), e3 AS (
  SELECT symbol, timestamp,
         list_reduce(
           list(e2) OVER wt,
           (a, x) -> a * (1.0 - 2.0/16.0) + (2.0/16.0) * x) AS e3
  FROM e2
  WINDOW wt AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 275 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(e3, 6) AS ema3,
       round(100.0 * (e3 / lag(e3) OVER
         (PARTITION BY symbol ORDER BY timestamp) - 1.0), 6) AS trix_pct
FROM e3
""",
)
def q_trix_15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIX(15) (``indicators.trix_frame``): triple truncated-EMA fold
    — three staged window passes, each sub-ULP vs its full recursion
    and truncated identically by the oracle's staged list_reduce
    CTEs — then the 1-bar percent ROC."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.trix_frame(bars, span=15)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("ema3", 6).alias("ema3"),
        F.round("trix_pct", 6).alias("trix_pct"),
    )


_DSR_GRID = [
    (5, 20), (5, 30), (10, 30), (10, 50), (15, 45),
    (20, 50), (20, 60), (30, 90), (40, 80),
]


def _dsr_oracle() -> str:
    import math

    from financial_data_pipeline_spark.operators.backtest import (
        _EULER_GAMMA,
        _norm_ppf,
    )

    n = len(_DSR_GRID)
    z1 = _norm_ppf(1.0 - 1.0 / n)
    z2 = _norm_ppf(1.0 - 1.0 / (n * math.e))
    emax = (1.0 - _EULER_GAMMA) * z1 + _EULER_GAMMA * z2
    values = ", ".join(f"({f}, {s})" for f, s in _DSR_GRID)
    phi = (
        "0.5 * (1.0 + sign(z) * (1.0 - (1.0 / (1.0 + 0.3275911 * abs(z)))"
        " * (0.254829592 + (1.0 / (1.0 + 0.3275911 * abs(z)))"
        " * (-0.284496736 + (1.0 / (1.0 + 0.3275911 * abs(z)))"
        " * (1.421413741 + (1.0 / (1.0 + 0.3275911 * abs(z)))"
        " * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * abs(z)))"
        " * 1.061405429))))"
        " * exp(-abs(z) * abs(z))))"
    )
    return (
        BARS_CTE
        + f"""
, b AS (
  SELECT symbol, timestamp, close,
         row_number() OVER w AS rn,
         sum(close) OVER (PARTITION BY symbol ORDER BY timestamp
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cs,
         ln(close / lag(close) OVER w) AS r
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), g AS (SELECT * FROM (VALUES {values}) AS t(fast, slow)),
e AS (SELECT b.*, g.fast, g.slow FROM b CROSS JOIN g),
j AS (
  SELECT e.symbol, e.timestamp, e.fast, e.slow, e.r,
         CASE WHEN e.rn >= e.fast
              THEN (e.cs - coalesce(bf.cs, 0)) / e.fast END AS sma_f,
         CASE WHEN e.rn >= e.slow
              THEN (e.cs - coalesce(bs.cs, 0)) / e.slow END AS sma_s
  FROM e
  LEFT JOIN b bf ON bf.symbol = e.symbol AND bf.rn = e.rn - e.fast
  LEFT JOIN b bs ON bs.symbol = e.symbol AND bs.rn = e.rn - e.slow
), p AS (
  SELECT symbol, timestamp, fast, slow, r,
         CASE WHEN sma_f > sma_s THEN 1 ELSE 0 END AS pos
  FROM j
), f AS (
  SELECT symbol, timestamp, fast, slow,
         coalesce(coalesce(lag(pos) OVER (PARTITION BY symbol, fast, slow
                                          ORDER BY timestamp), 0) * r,
                  0.0) AS taken
  FROM p
), t AS (
  SELECT symbol, fast, slow, count(*) AS n_obs,
         avg(taken) AS a1, avg(taken * taken) AS a2,
         avg(taken * taken * taken) AS a3,
         avg(taken * taken * taken * taken) AS a4
  FROM f GROUP BY 1, 2, 3
), mo AS (
  SELECT symbol, fast, slow, n_obs,
         a2 - a1 * a1 AS m2,
         a3 - 3 * a1 * a2 + 2 * a1 * a1 * a1 AS m3,
         a4 - 4 * a1 * a3 + 6 * a1 * a1 * a2 - 3 * power(a1, 4.0) AS m4,
         a1
  FROM t
), sr AS (
  SELECT symbol, fast, slow, n_obs,
         CASE WHEN m2 > 0
              THEN a1 / sqrt(m2 * n_obs / (n_obs - 1)) END AS sr,
         CASE WHEN m2 > 0 THEN m3 / power(m2, 1.5) END AS g3,
         CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS g4
  FROM mo
), v AS (
  SELECT symbol, var_samp(sr) AS vsr FROM sr GROUP BY symbol
), best AS (
  SELECT * FROM sr
  QUALIFY row_number() OVER (PARTITION BY symbol
                             ORDER BY sr DESC NULLS LAST,
                                      fast DESC, slow DESC) = 1
), zc AS (
  SELECT best.symbol, best.fast, best.slow, best.n_obs,
         best.sr, v.vsr,
         sqrt(v.vsr) * {emax!r} AS sr_star,
         (best.sr - sqrt(v.vsr) * {emax!r}) * sqrt(best.n_obs - 1.0)
           / sqrt(1.0 - best.g3 * best.sr
                  + (best.g4 - 1.0) / 4.0 * best.sr * best.sr)
           / sqrt(2.0) AS z
  FROM best JOIN v USING (symbol)
)
SELECT symbol, fast, slow,
       {n} AS n_trials, n_obs,
       round(sr, 6) AS sharpe_best,
       round(sr_star, 6) AS sr_star,
       round({phi}, 6) AS dsr
FROM zc
"""
    )


@query("deflated_sharpe_grid", _dsr_oracle())
def q_deflated_sharpe_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflated Sharpe ratio of the best SMA-crossover in a 9-trial
    grid (``backtest.deflated_sharpe_grid``): the multiple-testing
    correction over the grid sweep — expected-max-SR benchmark from
    the cross-trial SR variance (Φ⁻¹ constants resolved at plan-build
    time, shared as literals with the oracle), then the PSR of the
    winner against it."""
    from financial_data_pipeline_spark.operators.backtest import (
        deflated_sharpe_grid,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    return deflated_sharpe_grid(bars, _DSR_GRID)


@query(
    "intraday_vol_profile",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, hour(timestamp) AS hod, volume,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS lr
  FROM bars
)
SELECT symbol, hod,
       count(lr) AS n_obs,
       round(avg(abs(lr)), 6) AS mean_abs_ret,
       round(stddev_samp(lr), 6) AS ret_std,
       round(list_reduce(list(round(volume, 6) ORDER BY round(volume, 6)),
                         (a, b) -> a + b)
             / count(volume), 4) AS avg_volume
FROM r WHERE lr IS NOT NULL
GROUP BY 1, 2
""",
)
def q_intraday_vol_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day volatility/liquidity seasonality per symbol: mean
    |return|, return std and mean volume by clock hour — the U-shape
    diagnostic behind execution scheduling (when to trade) and the
    deseasonalization input ``seasonal_anomalies`` models additively.
    Map-only derivation + one aggregate. avg_volume pre-rounds each
    bar's volume to 6 dp (the bar volume is itself an unordered event
    sum, so the engines' doubles differ by ulps) and folds in sorted
    value order — an unordered float mean rounded at 4 dp landed on a
    .5 boundary at sf0.001 and flipped."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = (
        bars.withColumn(
            "lr", F.log(F.col("close") / F.lag("close").over(w))
        )
        .filter(F.col("lr").isNotNull())
        .withColumn("hod", F.hour("timestamp"))
    )
    vol_sum = F.aggregate(
        F.array_sort(F.collect_list(F.round("volume", 6))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return r.groupBy("symbol", "hod").agg(
        F.count("lr").alias("n_obs"),
        F.round(F.avg(F.abs(F.col("lr"))), 6).alias("mean_abs_ret"),
        F.round(F.stddev_samp("lr"), 6).alias("ret_std"),
        F.round(vol_sum / F.count("volume"), 4).alias("avg_volume"),
    )


@query(
    "rebalance_turnover",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, date_trunc('week', timestamp) AS m,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS lr
  FROM bars
), b AS (SELECT * FROM r WHERE lr IS NOT NULL),
mv AS (SELECT symbol, m, stddev_samp(lr) AS vol FROM b GROUP BY 1, 2),
pr AS (
  SELECT symbol, lead(m) OVER (PARTITION BY symbol ORDER BY m) AS m,
         vol AS pvol
  FROM mv
), pw AS (SELECT * FROM pr WHERE m IS NOT NULL AND pvol > 0),
wts AS (
  SELECT symbol, m,
         (1.0 / pvol) / sum(1.0 / pvol) OVER (PARTITION BY m) AS w
  FROM pw
), grid AS (
  SELECT s.symbol, p.m
  FROM (SELECT DISTINCT symbol FROM wts) s
  CROSS JOIN (SELECT DISTINCT m FROM wts) p
), dense AS (
  SELECT g.symbol, g.m, coalesce(w.w, 0.0) AS w
  FROM grid g LEFT JOIN wts w ON g.symbol = w.symbol AND g.m = w.m
), lagged AS (
  SELECT symbol, m, w,
         lag(w) OVER (PARTITION BY symbol ORDER BY m) AS w_prev
  FROM dense
)
SELECT epoch_us(m) AS period_us,
       count(CASE WHEN w > 0 THEN 1 END) AS n_active,
       round(0.5 * sum(abs(w - w_prev)), 6) AS turnover,
       round(0.5 * sum(abs(w - w_prev)) * 10.0 / 10000.0 * 100.0, 6)
         AS cost_drag_pct_at_10bps
FROM lagged WHERE w_prev IS NOT NULL
GROUP BY m
""",
)
def q_rebalance_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance turnover of the weekly inverse-vol portfolio: half
    the L1 weight change per rebalance (entries/exits counted via the
    densified symbol × period grid) and the cost drag at 10 bps each-
    way — the execution-cost readout ``inverse_vol_rebalanced``'s
    frictionless returns omit. All windows run on the aggregated
    (symbol, week) frame."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    b = (
        bars.withColumn("m", F.date_trunc("week", F.col("timestamp")))
        .withColumn("lr", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("lr").isNotNull())
    )
    mv = b.groupBy("symbol", "m").agg(F.stddev_samp("lr").alias("vol"))
    wm = Window.partitionBy("symbol").orderBy("m")
    pw = (
        mv.select(
            "symbol",
            F.lead("m").over(wm).alias("m"),
            F.col("vol").alias("pvol"),
        )
        .filter(F.col("m").isNotNull() & (F.col("pvol") > 0))
    )
    wts = pw.select(
        "symbol",
        "m",
        (
            (1.0 / F.col("pvol"))
            / F.sum(1.0 / F.col("pvol")).over(Window.partitionBy("m"))
        ).alias("w"),
    )
    grid = (
        wts.select("symbol").distinct().crossJoin(wts.select("m").distinct())
    )
    dense = grid.join(wts, on=["symbol", "m"], how="left").select(
        "symbol", "m", F.coalesce("w", F.lit(0.0)).alias("w")
    )
    lagged = dense.withColumn("w_prev", F.lag("w").over(wm)).filter(
        F.col("w_prev").isNotNull()
    )
    to = 0.5 * F.sum(F.abs(F.col("w") - F.col("w_prev")))
    return lagged.groupBy("m").agg(
        F.count(F.when(F.col("w") > 0, 1)).alias("n_active"),
        F.round(to, 6).alias("turnover"),
        F.round(to * 10.0 / 10000.0 * 100.0, 6).alias(
            "cost_drag_pct_at_10bps"
        ),
    ).select(
        F.unix_micros("m").alias("period_us"),
        "n_active",
        "turnover",
        "cost_drag_pct_at_10bps",
    )


@query(
    "cross_sectional_momentum",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, date_trunc('week', timestamp) AS m,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS lr
  FROM bars
), wk AS (
  SELECT symbol, m, sum(lr) AS wret
  FROM r WHERE lr IS NOT NULL GROUP BY 1, 2
), led AS (
  SELECT symbol, m, wret,
         lead(wret) OVER (PARTITION BY symbol ORDER BY m) AS next_ret
  FROM wk
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY m ORDER BY wret DESC, symbol)
           AS rk,
         count(*) OVER (PARTITION BY m) AS n_sym
  FROM led WHERE next_ret IS NOT NULL
)
SELECT epoch_us(m) AS period_us,
       any_value(n_sym) AS n_symbols,
       round(avg(CASE WHEN rk <= 2 THEN next_ret END), 6) AS long_ret,
       round(avg(CASE WHEN rk > n_sym - 2 THEN next_ret END), 6)
         AS short_ret,
       round(avg(CASE WHEN rk <= 2 THEN next_ret END)
             - avg(CASE WHEN rk > n_sym - 2 THEN next_ret END), 6)
         AS ls_ret
FROM ranked GROUP BY m
""",
)
def q_cross_sectional_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum: rank symbols by trailing-week log
    return, hold the top-2 long / bottom-2 short the NEXT week (lead,
    no lookahead; ties break by symbol name) — the relative-strength
    factor construction, weekly because the corpus spans one calendar
    month. All windows on the (symbol, week) aggregate frame."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = bars.withColumn(
        "m", F.date_trunc("week", F.col("timestamp"))
    ).withColumn("lr", F.log(F.col("close") / F.lag("close").over(w)))
    wk = (
        r.filter(F.col("lr").isNotNull())
        .groupBy("symbol", "m")
        .agg(F.sum("lr").alias("wret"))
    )
    wm = Window.partitionBy("symbol").orderBy("m")
    led = wk.withColumn("next_ret", F.lead("wret").over(wm)).filter(
        F.col("next_ret").isNotNull()
    )
    wrank = Window.partitionBy("m").orderBy(F.desc("wret"), F.asc("symbol"))
    ranked = led.withColumn("rk", F.row_number().over(wrank)).withColumn(
        "n_sym", F.count(F.lit(1)).over(Window.partitionBy("m"))
    )
    long_r = F.avg(F.when(F.col("rk") <= 2, F.col("next_ret")))
    short_r = F.avg(
        F.when(F.col("rk") > F.col("n_sym") - 2, F.col("next_ret"))
    )
    return ranked.groupBy("m").agg(
        F.first("n_sym").alias("n_symbols"),
        F.round(long_r, 6).alias("long_ret"),
        F.round(short_r, 6).alias("short_ret"),
        F.round(long_r - short_r, 6).alias("ls_ret"),
    ).select(
        F.unix_micros("m").alias("period_us"),
        "n_symbols",
        "long_ret",
        "short_ret",
        "ls_ret",
    )


@query(
    "elder_ray_13",
    BARS_CTE
    + """
, e AS (
  SELECT symbol, timestamp, high, low,
         list_reduce(
           list(close) OVER wt,
           (a, x) -> a * (1.0 - 2.0/14.0) + (2.0/14.0) * x) AS ema13
  FROM bars
  WINDOW wt AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 238 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(high - ema13, 6) AS bull_power,
       round(low - ema13, 6) AS bear_power
FROM e
""",
)
def q_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder Ray bull/bear power (``indicators.elder_ray``): bar
    extremes minus EMA(13), the EMA as the truncated bounded fold —
    sub-ULP vs the full recursion and truncated identically by the
    oracle's list_reduce window."""
    bars = events_as_ohlcv(spark, sf_dir)
    er = indicators.elder_ray(13)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(er["bull_power"], 6).alias("bull_power"),
        F.round(er["bear_power"], 6).alias("bear_power"),
    )


@query(
    "stochrsi_14",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp) AS delta
  FROM bars
), gl AS (
  SELECT symbol, timestamp,
         CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
         CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
  FROM d
), r AS (
  SELECT symbol, timestamp,
         CASE WHEN count(gain) OVER w14 >= 14 THEN avg(gain) OVER w14 END AS ag,
         CASE WHEN count(loss) OVER w14 >= 14 THEN avg(loss) OVER w14 END AS al
  FROM gl
  WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), rs AS (
  SELECT symbol, timestamp,
         CASE WHEN al = 0 AND ag > 0 THEN 100.0
              WHEN al = 0 AND ag = 0 THEN NULL
              ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi
  FROM r
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(rsi) OVER w14 >= 14
                       AND max(rsi) OVER w14 > min(rsi) OVER w14
                  THEN 100.0 * ((rsi - min(rsi) OVER w14)
                       / (max(rsi) OVER w14 - min(rsi) OVER w14)) END, 4)
         AS stochrsi
FROM rs
WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
""",
)
def q_stochrsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StochRSI(14) (``indicators.stochrsi``): the stochastic
    oscillator applied to RSI(14) so the momentum signal is scaled to
    its own recent range.  The RSI is staged as a materialized column
    (window-over-window would re-evaluate it per consumer); 4-dp round
    because the inner RSI rides on sliding averages whose summation
    order differs across engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    staged = bars.withColumn("__rsi", indicators.rsi("close", 14))
    return staged.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(
            indicators.stochrsi(14, rsi_col=F.col("__rsi")), 4
        ).alias("stochrsi"),
    )


@query(
    "mass_index_25",
    BARS_CTE
    + """
, e1 AS (
  SELECT symbol, timestamp,
         list_reduce(
           list(high - low) OVER wt,
           (a, x) -> a * (1.0 - 2.0/10.0) + (2.0/10.0) * x) AS e1
  FROM bars
  WINDOW wt AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 164 PRECEDING AND CURRENT ROW)
), e2 AS (
  SELECT symbol, timestamp, e1,
         list_reduce(
           list(e1) OVER wt,
           (a, x) -> a * (1.0 - 2.0/10.0) + (2.0/10.0) * x) AS e2
  FROM e1
  WINDOW wt AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 164 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(e1 / e2) OVER w25 >= 25
                  THEN sum(e1 / e2) OVER w25 END, 4) AS mass_index
FROM e2
WINDOW w25 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
""",
)
def q_mass_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass Index(25, EMA 9) (``indicators.mass_index``): Dorsey's
    range-bulge detector — rolling sum of the high−low EMA over its
    own double smoothing.  Two staged truncated folds + one rolling
    sum, one per-symbol sort; 4-dp round for the sliding sum's
    engine-varying association."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.mass_index(bars, n=25, span=9)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("mass_index", 4).alias("mass_index"),
    )


@query(
    "kst_composite",
    BARS_CTE
    + """
, rocs AS (
  SELECT symbol, timestamp,
         100.0 * (close / lag(close, 10) OVER w - 1.0) AS roc0,
         100.0 * (close / lag(close, 15) OVER w - 1.0) AS roc1,
         100.0 * (close / lag(close, 20) OVER w - 1.0) AS roc2,
         100.0 * (close / lag(close, 30) OVER w - 1.0) AS roc3
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), sm AS (
  SELECT symbol, timestamp,
         CASE WHEN count(roc0) OVER w10 >= 10 THEN avg(roc0) OVER w10 END AS s0,
         CASE WHEN count(roc1) OVER w10 >= 10 THEN avg(roc1) OVER w10 END AS s1,
         CASE WHEN count(roc2) OVER w10 >= 10 THEN avg(roc2) OVER w10 END AS s2,
         CASE WHEN count(roc3) OVER w15 >= 15 THEN avg(roc3) OVER w15 END AS s3
  FROM rocs
  WINDOW w10 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         w15 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
), k AS (
  SELECT symbol, timestamp,
         1.0 * s0 + 2.0 * s1 + 3.0 * s2 + 4.0 * s3 AS kst
  FROM sm
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(kst, 4) AS kst,
       round(CASE WHEN count(kst) OVER w9 >= 9 THEN avg(kst) OVER w9 END, 4)
         AS kst_signal
FROM k
WINDOW w9 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
""",
)
def q_kst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Know Sure Thing (``indicators.kst``): Pring's weighted sum of
    four smoothed rate-of-change legs + 9-bar signal line — six window
    columns over ONE per-symbol sort, all codegen.  Null propagation:
    the composite is null until every leg's smoothing window fills
    (additive null in both engines), and the signal needs 9 non-null
    composites."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.kst(bars)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round("kst", 4).alias("kst"),
        F.round("kst_signal", 4).alias("kst_signal"),
    )


@query(
    "corwin_schultz_spread",
    BARS_CTE
    + """
, daily AS (
  -- a non-positive daily low makes the log-range estimator undefined
  -- (Spark nulls the log, DuckDB yields NaN / errors on zero) — such
  -- days are not valid price bars; drop them BEFORE the lag so the
  -- day-to-day alignment stays identical in both engines (sf0.1
  -- events dip negative; the r08 sweep caught the rowcount split)
  SELECT symbol, timestamp::DATE AS day, max(high) AS high, min(low) AS low
  FROM bars GROUP BY 1, 2 HAVING min(low) > 0
), lagd AS (
  SELECT symbol, day, high, low,
         lag(high) OVER w AS h1, lag(low) OVER w AS l1
  FROM daily WINDOW w AS (PARTITION BY symbol ORDER BY day)
), a AS (
  SELECT symbol, day,
         (sqrt(2.0 * (pow(ln(high/low), 2) + pow(ln(h1/l1), 2)))
          - sqrt(pow(ln(high/low), 2) + pow(ln(h1/l1), 2)))
           / (3.0 - 2.0 * sqrt(2.0))
         - sqrt(pow(ln(greatest(high, h1) / least(low, l1)), 2)
                / (3.0 - 2.0 * sqrt(2.0))) AS alpha
  FROM lagd WHERE h1 IS NOT NULL
)
SELECT symbol, day::VARCHAR AS day,
       round(alpha, 6) AS cs_alpha,
       round(greatest(2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha)), 0.0), 6)
         AS cs_spread
FROM a
""",
)
def q_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin–Schultz high–low spread estimator
    (``indicators.corwin_schultz``) on daily bars: the bid–ask spread
    inferred from one-day vs two-day price ranges — effective
    transaction-cost telemetry when no quote data exists.  One daily
    aggregate + one lag window; per-row closed-form arithmetic, no
    unordered sums."""
    bars = events_as_ohlcv(spark, sf_dir)
    daily = (
        bars.groupBy("symbol", F.to_date("timestamp").alias("day"))
        .agg(F.max("high").alias("high"), F.min("low").alias("low"))
        # non-positive low → log-range undefined; drop BEFORE the lag
        # (mirrors the oracle's HAVING) so both engines lag over the
        # same day sequence
        .filter(F.col("low") > 0)
    )
    out = indicators.corwin_schultz(daily, ts="day").filter(
        F.col("cs_alpha").isNotNull()
    )
    return out.select(
        "symbol",
        F.col("day").cast("string").alias("day"),
        F.round("cs_alpha", 6).alias("cs_alpha"),
        F.round("cs_spread", 6).alias("cs_spread"),
    )


@query(
    "hill_tail_index",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rk AS (
  SELECT symbol, abs(r) AS absr,
         row_number() OVER (PARTITION BY symbol
                            ORDER BY abs(r) DESC, timestamp ASC) AS rk
  FROM r WHERE r IS NOT NULL AND abs(r) > 0
), agg AS (
  SELECT symbol, count(*) AS n, min(absr) AS xk1,
         list_reduce(
           list_prepend(0.0, list(ln(absr) ORDER BY rk)
                             FILTER (WHERE rk <= 100)),
           (a, x) -> a + x) AS logsum
  FROM rk WHERE rk <= 101 GROUP BY symbol
), xi AS (
  SELECT symbol, (logsum - 100 * ln(xk1)) / 100.0 AS xi
  FROM agg WHERE n >= 101
)
SELECT symbol, 100::BIGINT AS k,
       round(xi, 6) AS hill_xi,
       round(1.0 / xi, 6) AS tail_alpha
FROM xi
""",
)
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (``indicators.hill_tail_index``) over
    the 100 largest |log returns| per symbol: ξ̂ and tail α = 1/ξ̂ —
    the fat-tail gate (α < 3 ⇒ infinite kurtosis) that should precede
    any Gaussian-risk model.  One rank window + one aggregate; the k
    log terms fold in rank order so both engines sum identically."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = bars.withColumn(
        "r", F.log(F.col("close") / F.lag("close").over(w))
    )
    out = indicators.hill_tail_index(r, col="r", k=100)
    return out.select(
        "symbol",
        F.col("k").cast("long").alias("k"),
        F.round("hill_xi", 6).alias("hill_xi"),
        F.round("tail_alpha", 6).alias("tail_alpha"),
    )


@query(
    "permutation_entropy",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, close,
         lead(close, 1) OVER w AS x1, lead(close, 2) OVER w AS x2
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), c AS (
  SELECT symbol,
         CASE WHEN close < x1 THEN 4 ELSE 0 END
         + CASE WHEN x1 < x2 THEN 2 ELSE 0 END
         + CASE WHEN close < x2 THEN 1 ELSE 0 END AS code
  FROM t WHERE x1 IS NOT NULL AND x2 IS NOT NULL
), g AS (
  SELECT symbol, code, count(*) AS c FROM c GROUP BY 1, 2
), p AS (
  SELECT symbol, code, sum(c) OVER (PARTITION BY symbol) AS n,
         -(c / CAST(sum(c) OVER (PARTITION BY symbol) AS DOUBLE))
           * ln(c / CAST(sum(c) OVER (PARTITION BY symbol) AS DOUBLE))
           AS term
  FROM g
)
SELECT symbol, min(n)::BIGINT AS n_windows,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY code)),
                         (a, x) -> a + x) / 1.791759469228055, 6)
         AS perm_entropy
FROM p GROUP BY symbol
""",
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy (``indicators.permutation_entropy``,
    Bandt–Pompe): ordinal-pattern distribution entropy normalized by
    ln 6 — the model-free serial-structure gate next to
    ``variance_ratio``.  Patterns come from three raw comparisons (no
    ranking), counts from one aggregate, and the ≤8-term entropy sum
    folds in code order on both engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    out = indicators.permutation_entropy(bars)
    return out.select(
        "symbol",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.round("perm_entropy", 6).alias("perm_entropy"),
    )


@query(
    "theil_sen_trend",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, timestamp::DATE AS day, max_by(close, timestamp) AS close
  FROM bars GROUP BY 1, 2
), d AS (
  SELECT symbol, close AS x,
         row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn
  FROM daily
), pairs AS (
  SELECT a.symbol,
         (b.x - a.x) / CAST(b.rn - a.rn AS DOUBLE) AS slope,
         CAST(sign(b.x - a.x) AS BIGINT) AS sgn
  FROM d a JOIN d b ON a.symbol = b.symbol AND a.rn < b.rn
), agg AS (
  SELECT symbol, quantile_cont(slope, 0.5) AS sen, sum(sgn)::BIGINT AS s
  FROM pairs GROUP BY 1
), nd AS (
  SELECT symbol, count(*)::BIGINT AS n_days FROM daily GROUP BY 1
), z AS (
  SELECT agg.symbol, n_days, sen, s,
         CASE WHEN s > 0 THEN (s - 1.0)
                   / sqrt(n_days::DOUBLE * (n_days::DOUBLE - 1.0)
                          * (2.0 * n_days::DOUBLE + 5.0) / 18.0)
              WHEN s < 0 THEN (s + 1.0)
                   / sqrt(n_days::DOUBLE * (n_days::DOUBLE - 1.0)
                          * (2.0 * n_days::DOUBLE + 5.0) / 18.0)
              ELSE 0.0 END AS mk_z
  FROM agg JOIN nd USING (symbol)
)
SELECT symbol, n_days, round(sen, 6) AS sen_slope, s AS s_stat,
       round(mk_z, 4) AS mk_z,
       CASE WHEN mk_z > 1.959964 THEN 'up'
            WHEN mk_z < -1.959964 THEN 'down'
            ELSE 'none' END AS trend
FROM z
""",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope + Mann–Kendall trend test
    (``indicators.theil_sen_mann_kendall``) on daily closes: the
    distribution-free trend screen (median pairwise slope, sign-sum
    z).  The O(days²) pair join runs on the per-day AGGREGATE frame
    (≤31 rows per symbol per month), never on raw bars."""
    bars = events_as_ohlcv(spark, sf_dir)
    daily = bars.groupBy(
        "symbol", F.to_date("timestamp").alias("day")
    ).agg(F.max_by("close", "timestamp").alias("close"))
    out = indicators.theil_sen_mann_kendall(daily, col="close", ts="day")
    return out.select(
        "symbol",
        F.col("n_days").cast("long").alias("n_days"),
        F.round("sen_slope", 6).alias("sen_slope"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.round("mk_z", 4).alias("mk_z"),
        "trend",
    )


_PHI_ERF_SQL = (
    "(1.0 - ((1.0 / (1.0 + 0.3275911 * (abs({t}) / sqrt(2.0))))"
    " * (0.254829592 + (1.0 / (1.0 + 0.3275911 * (abs({t}) / sqrt(2.0))))"
    " * (-0.284496736 + (1.0 / (1.0 + 0.3275911 * (abs({t}) / sqrt(2.0))))"
    " * (1.421413741 + (1.0 / (1.0 + 0.3275911 * (abs({t}) / sqrt(2.0))))"
    " * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * (abs({t}) / sqrt(2.0))))"
    " * 1.061405429)))))"
    " * exp(-(abs({t}) / sqrt(2.0)) * (abs({t}) / sqrt(2.0))))"
)


@query(
    "bh_fdr_hourly",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, hour(timestamp) AS hr,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), g AS (
  SELECT symbol, hr, count(r)::BIGINT AS n, avg(r) AS m,
         stddev_samp(r) AS sd
  FROM r WHERE r IS NOT NULL GROUP BY 1, 2
), tt AS (
  SELECT symbol, hr, n, m / (sd / sqrt(n::DOUBLE)) AS t FROM g
), pp AS (
  SELECT symbol, hr, n, t,
         2.0 * (1.0 - 0.5 * (1.0 + sign(abs(t)) * """
    + _PHI_ERF_SQL.format(t="t")
    + """)) AS p
  FROM tt
), rk AS (
  SELECT *, row_number() OVER (ORDER BY p ASC, symbol ASC, hr ASC) AS bh_rank,
         count(*) OVER () AS m_all
  FROM pp
), adj AS (
  SELECT *,
         min(least(1.0, m_all * p / bh_rank))
           OVER (ORDER BY bh_rank
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_adj,
         max(CASE WHEN p <= 0.10 * bh_rank / m_all THEN bh_rank END)
           OVER () AS kstar
  FROM rk
)
SELECT symbol, hr, n, round(t, 4) AS t_stat, round(p, 6) AS p_value,
       bh_rank::BIGINT AS bh_rank, round(p_adj, 6) AS p_adj,
       CASE WHEN kstar IS NULL THEN FALSE
            ELSE bh_rank <= kstar END AS discovery
FROM adj
""",
)
def q_bh_fdr_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR screening (``stats.bh_fdr``) over the
    symbol × hour-of-day calendar-effect battery: one t-test per
    (symbol, hour) mean hourly return, then step-up adjusted p-values
    and a q=0.10 discovery flag — the multiple-testing guard any
    seasonal-anomaly screen needs.  BH's unpartitioned windows run on
    the 120-row hypothesis frame, not on facts."""
    from financial_data_pipeline_spark.operators.indicators import _norm_cdf

    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = bars.withColumn(
        "r", F.log(F.col("close") / F.lag("close").over(w))
    ).filter(F.col("r").isNotNull())
    g = r.groupBy(
        "symbol", F.hour("timestamp").cast("long").alias("hr")
    ).agg(
        F.count("r").alias("n"),
        F.avg("r").alias("m"),
        F.stddev_samp("r").alias("sd"),
    )
    t = F.col("m") / (F.col("sd") / F.sqrt(F.col("n").cast("double")))
    hyp = g.select(
        "symbol",
        "hr",
        "n",
        t.alias("t"),
        (2.0 * (1.0 - _norm_cdf(F.abs(t)))).alias("p"),
    )
    out = stats.bh_fdr(hyp, p_col="p", q=0.10, tie_cols=["symbol", "hr"])
    return out.select(
        "symbol",
        "hr",
        "n",
        F.round("t", 4).alias("t_stat"),
        F.round("p", 6).alias("p_value"),
        F.col("bh_rank").cast("long").alias("bh_rank"),
        F.round("p_adj", 6).alias("p_adj"),
        "discovery",
    )


@query(
    "ses_forecast_eval",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, timestamp::DATE AS day, max_by(close, timestamp) AS close
  FROM bars GROUP BY 1, 2
), s AS (
  SELECT symbol, day, close,
         list_reduce(
           list(close) OVER (PARTITION BY symbol ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW),
           (a, x) -> a * (1.0 - 0.3) + 0.3 * x) AS s
  FROM daily
), e AS (
  SELECT symbol,
         close - lag(s) OVER w AS err,
         close - lag(close) OVER w AS nerr
  FROM s WINDOW w AS (PARTITION BY symbol ORDER BY day)
)
SELECT symbol, count(*)::BIGINT AS n_eval,
       round(avg(abs(err)), 6) AS mae,
       round(sqrt(avg(err * err)), 6) AS rmse,
       round(avg(abs(nerr)), 6) AS naive_mae,
       round(avg(abs(err)) / avg(abs(nerr)), 6) AS mase
FROM e WHERE err IS NOT NULL GROUP BY symbol
""",
)
def q_ses_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing forecast skill report
    (``indicators.ses_eval``, α=0.3): one-step-ahead MAE/RMSE and
    MASE vs the random-walk naive — the honest forecast-evaluation
    loop (every forecast uses only prior days).  The smoothing state
    is a seeded prefix fold on the daily aggregate frame; both
    engines replay it element-identically."""
    bars = events_as_ohlcv(spark, sf_dir)
    daily = bars.groupBy(
        "symbol", F.to_date("timestamp").alias("day")
    ).agg(F.max_by("close", "timestamp").alias("close"))
    out = indicators.ses_eval(daily, alpha=0.3, ts="day")
    return out.select(
        "symbol",
        "n_eval",
        F.round("mae", 6).alias("mae"),
        F.round("rmse", 6).alias("rmse"),
        F.round("naive_mae", 6).alias("naive_mae"),
        F.round("mase", 6).alias("mase"),
    )


def _mmr_oracle_sql(k: int = 10, pool: int = 50, lam: float = 0.7) -> str:
    """Unrolled greedy-MMR CTE chain (the same device as the Lloyd and
    pagerank oracles): the relevance pool, then one CTE per greedy
    step — candidates not yet selected, scored λ·rel − (1−λ)·max
    cosine to the selected set, argmax keyed on
    ``floor(score*1e9 + 0.5)`` (the IDENTICAL integer pin the engine
    computes — not round(), whose half-away rule disagrees with
    numpy's banker's rounding on half boundaries) with the vec_id ASC
    tie-break — finished by a UNION ALL that stamps the ranks.
    ``(1.0 - {lam})`` is written as the SUBTRACTION so both engines
    carry the identical IEEE double (1−0.7 ≠ decimal 0.3)."""
    steps = [
        f"""
s1 AS MATERIALIZED (
  SELECT vec_id, rel, {lam} * rel AS score FROM pool
  ORDER BY floor(score * 1e9 + 0.5) DESC, vec_id ASC LIMIT 1
)"""
    ]
    for n in range(2, k + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, n)
        )
        steps.append(
            f"""
s{n} AS MATERIALIZED (
  SELECT p.vec_id, p.rel,
         {lam} * p.rel - (1.0 - {lam})
           * max(coalesce(list_dot_product(p.v, sv.v) / nullif(sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(sv.v, sv.v)), 0), 0)) AS score
  FROM pool p
  JOIN pool sv ON sv.vec_id IN ({sel})
  WHERE p.vec_id NOT IN ({sel})
  GROUP BY p.vec_id, p.rel
  ORDER BY floor(score * 1e9 + 0.5) DESC, p.vec_id ASC LIMIT 1
)"""
        )
    final = "\nUNION ALL\n".join(
        f"SELECT {n}::BIGINT AS rank, vec_id, round(rel, 6) AS relevance,"
        f" round(score, 6) AS mmr_score FROM s{n}"
        for n in range(1, k + 1)
    )
    return (
        f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
pool AS MATERIALIZED (
  SELECT e.vec_id, e.v, coalesce(list_dot_product(e.v, q.qv) / nullif(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) AS rel
  FROM e, q
  ORDER BY rel DESC, e.vec_id ASC LIMIT {pool}
),"""
        + ",".join(steps)
        + "\n"
        + final
    )


@query("mmr_diverse_topk", _mmr_oracle_sql())
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-10 against vec_id=0 over a 50-candidate
    relevance pool (``similarity.mmr_diverse_topk``, λ=0.7):
    distributed cosine scan + TakeOrdered pool, then the inherently
    sequential greedy on the bounded pool. Formerly rows-only: the
    k-step greedy unrolls into a 10-CTE chain the DuckDB twin replays
    step for step (argmax + tie-break per step), so the driver
    value-checks the full selection path; the numpy differential in
    tests/test_ml_ops.py still covers the operator directly."""
    from financial_data_pipeline_spark.operators.similarity import (
        mmr_diverse_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_diverse_topk(
        emb, _query_vec(spark, sf_dir), k=10, pool=50, lam=0.7
    )


@query(
    "ultimate_oscillator",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp,
         close - least(low, lag(close) OVER w) AS bp,
         greatest(high, lag(close) OVER w)
           - least(low, lag(close) OVER w) AS tr
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), s AS (
  SELECT symbol, timestamp,
         CASE WHEN count(bp) OVER w7 >= 7 AND sum(tr) OVER w7 > 0
              THEN sum(bp) OVER w7 / sum(tr) OVER w7 END AS a7,
         CASE WHEN count(bp) OVER w14 >= 14 AND sum(tr) OVER w14 > 0
              THEN sum(bp) OVER w14 / sum(tr) OVER w14 END AS a14,
         CASE WHEN count(bp) OVER w28 >= 28 AND sum(tr) OVER w28 > 0
              THEN sum(bp) OVER w28 / sum(tr) OVER w28 END AS a28
  FROM d
  WINDOW w7 AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         w14 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         w28 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(100.0 * (4.0 * a7 + 2.0 * a14 + a28) / 7.0, 4) AS uo
FROM s
""",
)
def q_ultimate_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ultimate Oscillator 7/14/28 (``indicators.ultimate_oscillator``):
    three buying-pressure/true-range rolling-sum ratios blended 4:2:1 —
    one per-symbol sort, all codegen. Ratio of sliding sums → 4 dp
    (segment-tree vs recompute associativity, the mfi rule)."""
    bars = events_as_ohlcv(spark, sf_dir)
    uo = indicators.ultimate_oscillator(7, 14, 28)
    return bars.select(
        "symbol", _ts_us().alias("ts_us"), F.round(uo, 4).alias("uo")
    )


@query(
    "cmo_dpo",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp, close,
         close - lag(close) OVER w AS df,
         lag(close, 11) OVER w AS centered
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(CASE WHEN count(df) OVER w14 >= 14
                   AND sum(greatest(df, 0.0)) OVER w14
                     + sum(greatest(-df, 0.0)) OVER w14 > 0
             THEN 100.0 * (sum(greatest(df, 0.0)) OVER w14
                           - sum(greatest(-df, 0.0)) OVER w14)
                  / (sum(greatest(df, 0.0)) OVER w14
                     + sum(greatest(-df, 0.0)) OVER w14) END, 4) AS cmo,
       round(CASE WHEN count(close) OVER w20 >= 20
                   AND centered IS NOT NULL
             THEN centered - avg(close) OVER w20 END, 6) AS dpo
FROM d
WINDOW w14 AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
       w20 AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
""",
)
def q_cmo_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator(14) + Detrended Price Oscillator(20)
    (``indicators.chande_momentum`` / ``detrended_price``) — unsmoothed
    gain/loss rolling sums and the centered-SMA detrend, sharing one
    per-symbol sort. CMO is a sliding-sum ratio → 4 dp; DPO is a
    difference → 6 dp."""
    bars = events_as_ohlcv(spark, sf_dir)
    return bars.select(
        "symbol",
        _ts_us().alias("ts_us"),
        F.round(indicators.chande_momentum(14), 4).alias("cmo"),
        F.round(indicators.detrended_price(20), 6).alias("dpo"),
    )


@query(
    "calmar_omega_tail",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, close,
         ln(close / lag(close) OVER w) AS r,
         max(close) OVER (PARTITION BY symbol ORDER BY timestamp
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
)
SELECT symbol,
       count(r)::BIGINT AS n_obs,
       round(CASE WHEN max(1 - close / peak) > 0
             THEN sum(r) / max(1 - close / peak) END, 6) AS calmar,
       round(CASE WHEN sum(greatest(-r, 0.0)) > 0
             THEN sum(greatest(r, 0.0)) / sum(greatest(-r, 0.0)) END, 6)
         AS omega,
       round(CASE WHEN abs(quantile_cont(r, 0.05)) > 0
             THEN quantile_cont(r, 0.95) / abs(quantile_cont(r, 0.05)) END,
             6) AS tail_ratio
FROM d GROUP BY 1
""",
)
def q_calmar_omega_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol Calmar (total log return over max drawdown), Omega
    at threshold 0 (Σ gains / Σ losses) and tail ratio (q95/|q05|) in
    ONE aggregate after the shared lag/running-max window — the
    drawdown- and tail-aware companions of ``risk_ratios``. Exact
    interpolated percentiles (swap percentile_approx at 100 TB)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    peak = Window.partitionBy("symbol").orderBy("timestamp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = bars.select(
        "symbol",
        "close",
        F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
        F.max("close").over(peak).alias("peak"),
    )
    r = F.col("r")
    dd = F.max(F.lit(1.0) - F.col("close") / F.col("peak"))
    gains = F.sum(F.greatest(r, F.lit(0.0)))
    losses = F.sum(F.greatest(-r, F.lit(0.0)))
    q95 = F.percentile(r, F.lit(0.95))
    q05 = F.percentile(r, F.lit(0.05))
    return d.groupBy("symbol").agg(
        F.count("r").alias("n_obs"),
        F.round(F.when(dd > 0, F.sum("r") / dd), 6).alias("calmar"),
        F.round(F.when(losses > 0, gains / losses), 6).alias("omega"),
        F.round(F.when(F.abs(q05) > 0, q95 / F.abs(q05)), 6).alias(
            "tail_ratio"
        ),
    )


@query(
    "up_down_capture",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
mkt AS (SELECT timestamp, avg(r) AS rm FROM rr GROUP BY 1)
SELECT rr.symbol,
       sum(CASE WHEN rm > 1e-9 THEN 1 ELSE 0 END)::BIGINT AS n_up,
       sum(CASE WHEN rm < -1e-9 THEN 1 ELSE 0 END)::BIGINT AS n_down,
       round(avg(CASE WHEN rm > 1e-9 THEN rr.r END)
             / avg(CASE WHEN rm > 1e-9 THEN rm END), 6) AS up_capture,
       round(avg(CASE WHEN rm < -1e-9 THEN rr.r END)
             / avg(CASE WHEN rm < -1e-9 THEN rm END), 6) AS down_capture
FROM rr JOIN mkt USING (timestamp)
GROUP BY 1
""",
)
def q_up_down_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up/down capture ratios per symbol vs the equal-weight market
    (same market frame as ``market_beta``): mean asset return over mean
    market return, conditioned on market-up / market-down hours. The
    up/down split uses a ±1e-9 dead zone so the unordered cross-
    sectional mean can never flip a bucket between engines (returns
    here are O(1), ULP noise is ~1e-16). Market frame is a tiny
    per-timestamp aggregate — broadcast back, no second shuffle."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
        .select("symbol", "timestamp", "r")
    )
    mkt = rr.groupBy("timestamp").agg(F.avg("r").alias("rm"))
    j = rr.join(F.broadcast(mkt), "timestamp")
    up = F.col("rm") > 1e-9
    down = F.col("rm") < -1e-9
    return j.groupBy("symbol").agg(
        F.sum(up.cast("long")).alias("n_up"),
        F.sum(down.cast("long")).alias("n_down"),
        F.round(
            F.avg(F.when(up, F.col("r"))) / F.avg(F.when(up, F.col("rm"))), 6
        ).alias("up_capture"),
        F.round(
            F.avg(F.when(down, F.col("r")))
            / F.avg(F.when(down, F.col("rm"))),
            6,
        ).alias("down_capture"),
    )


@query(
    "coppock_curve",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, CAST(timestamp AS DATE) AS day,
         arg_max(close, epoch_us(timestamp)) AS close
  FROM bars GROUP BY 1, 2
), roc AS (
  SELECT symbol, day,
         100.0 * (close / lag(close, 14) OVER w - 1.0)
           + 100.0 * (close / lag(close, 11) OVER w - 1.0) AS rsum
  FROM daily WINDOW w AS (PARTITION BY symbol ORDER BY day)
), rr AS (SELECT * FROM roc WHERE rsum IS NOT NULL),
lists AS (
  SELECT symbol, day,
         list(rsum) OVER (PARTITION BY symbol ORDER BY day
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
  FROM rr
)
SELECT symbol, CAST(day AS VARCHAR) AS day,
       round(CASE WHEN len(xs) >= 10 THEN
         list_reduce(
           list_transform(range(1, len(xs) + 1),
                          i -> xs[i] * CAST(i AS DOUBLE)),
           (a, x) -> a + x) / 55.0 END, 6) AS coppock
FROM lists
""",
)
def q_coppock_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock curve on daily closes: WMA(10) of ROC(14) + ROC(11)
    (``indicators.weighted_ma``). The WMA is an order-pinned
    collect_list + zip_with fold (oldest weight 1 → newest weight 10),
    replayed element-identically by the DuckDB list_transform/
    list_reduce twin — an unordered weighted window sum would not hash
    across engines. Null-ROC warmup rows are filtered BEFORE the list
    window in both engines (collect_list drops nulls, list() keeps
    them — the frame must be identical)."""
    bars = events_as_ohlcv(spark, sf_dir)
    daily = bars.groupBy(
        "symbol", F.to_date("timestamp").alias("day")
    ).agg(F.max_by("close", F.unix_micros("timestamp")).alias("close"))
    w = Window.partitionBy("symbol").orderBy("day")
    roc = daily.withColumn(
        "rsum",
        100.0 * (F.col("close") / F.lag("close", 14).over(w) - 1.0)
        + 100.0 * (F.col("close") / F.lag("close", 11).over(w) - 1.0),
    ).filter(F.col("rsum").isNotNull())
    wma = indicators.weighted_ma("rsum", 10, ts="day")
    return roc.select(
        "symbol",
        F.col("day").cast("string").alias("day"),
        F.round(wma, 6).alias("coppock"),
    )


# Φ⁻¹(0.05): plan-time constant (same device as deflated_sharpe_grid's
# inverse-CDF constants — no erf/probit builtin needed in either engine).
_Z05 = -1.6448536269514722


@query(
    "cornish_fisher_var",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), m AS (
  SELECT symbol, count(r) AS n, sum(r) AS s1, sum(r * r) AS s2,
         sum(r * r * r) AS s3, sum(r * r * r * r) AS s4
  FROM r WHERE r IS NOT NULL GROUP BY symbol
), mm AS (
  SELECT symbol, n, s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         (s3 / n - 3 * (s1 / n) * (s2 / n)
          + 2 * (s1 / n) * (s1 / n) * (s1 / n))
           / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) AS sk,
         (s4 / n - 4 * (s1 / n) * (s3 / n)
          + 6 * (s1 / n) * (s1 / n) * (s2 / n)
          - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
           / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3 AS ek
  FROM m
), z AS (
  SELECT symbol, n, mu, sqrt(m2) AS sigma, sk, ek,
         -1.6448536269514722
           + (pow(-1.6448536269514722, 2) - 1) * sk / 6.0
           + (pow(-1.6448536269514722, 3) - 3 * (-1.6448536269514722))
             * ek / 24.0
           - (2 * pow(-1.6448536269514722, 3)
              - 5 * (-1.6448536269514722)) * sk * sk / 36.0 AS zcf
  FROM mm
)
SELECT symbol, n AS n_obs,
       round(-(mu + sigma * (-1.6448536269514722)), 6) AS var_normal_95,
       round(zcf, 6) AS z_cf,
       round(-(mu + sigma * zcf), 6) AS var_cf_95
FROM z
""",
)
def q_cornish_fisher_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cornish-Fisher modified VaR at 95% per symbol: the Gaussian
    quantile corrected for the distribution's own skewness and excess
    kurtosis (z_cf = z + (z²−1)s/6 + (z³−3z)k/24 − (2z³−5z)s²/36).
    Moments come from RAW POWER SUMS in one map-side-combined
    aggregate (same device as ``return_moment_stats``) so neither
    engine's sample-correction convention is in play; Φ⁻¹(0.05) is a
    plan-time constant. Complements the empirical ``value_at_risk``."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = F.log(F.col("close") / F.lag("close").over(w))
    base = bars.select("symbol", r.alias("r")).filter(F.col("r").isNotNull())
    m = base.groupBy("symbol").agg(
        F.count("r").alias("n"),
        F.sum("r").alias("s1"),
        F.sum(F.col("r") ** 2).alias("s2"),
        F.sum(F.col("r") ** 3).alias("s3"),
        F.sum(F.col("r") ** 4).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    sk = (
        F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu**3
    ) / m2**1.5
    ek = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu**4
    ) / (m2 * m2) - 3
    z = F.lit(_Z05)
    zcf = (
        z
        + (z * z - 1) * sk / 6.0
        + (z * z * z - 3 * z) * ek / 24.0
        - (2 * z * z * z - 5 * z) * sk * sk / 36.0
    )
    sigma = F.sqrt(m2)
    return m.select(
        "symbol",
        n.alias("n_obs"),
        F.round(-(mu + sigma * z), 6).alias("var_normal_95"),
        F.round(zcf, 6).alias("z_cf"),
        F.round(-(mu + sigma * zcf), 6).alias("var_cf_95"),
    )


@query(
    "arch_lm_test",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), a AS (
  SELECT symbol, r * r AS a2,
         lag(r * r) OVER (PARTITION BY symbol ORDER BY timestamp) AS a2p
  FROM r WHERE r IS NOT NULL
)
SELECT symbol, count(*)::BIGINT AS n_pairs,
       round(corr(a2, a2p), 6) AS rho1,
       round(count(*) * corr(a2, a2p) * corr(a2, a2p), 4) AS lm_stat,
       round(count(*) * corr(a2, a2p) * corr(a2, a2p), 4) > 3.8415
         AS reject_5pct
FROM a WHERE a2p IS NOT NULL
GROUP BY 1
""",
)
def q_arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH(1) LM test per symbol: with one lag, the auxiliary
    regression's R² is exactly corr(r²_t, r²_{t−1})², so LM = n·ρ₁² —
    no matrix solve needed. One lag window over squared returns + one
    aggregate; the 5% rejection flag compares the ROUNDED statistic to
    the χ²(1) critical value 3.8415 (plan-time constant), so the flag
    is a pure function of the hash-compared value. Volatility
    clustering is what ``garch11_vol`` then models."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = F.log(F.col("close") / F.lag("close").over(w))
    rr = bars.select(
        "symbol", "timestamp", r.alias("r")
    ).filter(F.col("r").isNotNull())
    a = (
        rr.withColumn("a2", F.col("r") * F.col("r"))
        .withColumn("a2p", F.lag("a2").over(w))
        .filter(F.col("a2p").isNotNull())
    )
    lm = F.round(
        F.count(F.lit(1)) * F.corr("a2", "a2p") * F.corr("a2", "a2p"), 4
    )
    return a.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.corr("a2", "a2p"), 6).alias("rho1"),
        lm.alias("lm_stat"),
        (lm > 3.8415).alias("reject_5pct"),
    )


@query(
    "runs_test",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))
           AS r
  FROM bars
), s AS (
  SELECT symbol,
         CASE WHEN r >= 0 THEN 1 ELSE 0 END AS sgn,
         lag(CASE WHEN r >= 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY symbol ORDER BY timestamp) AS sgn_prev
  FROM r WHERE r IS NOT NULL
), agg AS (
  SELECT symbol,
         count(*)::BIGINT AS n,
         sum(sgn)::BIGINT AS n_pos,
         (count(*) - sum(sgn))::BIGINT AS n_neg,
         (1 + sum(CASE WHEN sgn_prev IS NOT NULL AND sgn <> sgn_prev
                       THEN 1 ELSE 0 END))::BIGINT AS runs
  FROM s GROUP BY 1
)
SELECT symbol, n, n_pos, n_neg, runs,
       round(1.0 + 2.0 * n_pos * n_neg / n, 4) AS e_runs,
       round((runs - (1.0 + 2.0 * n_pos * n_neg / n))
             / sqrt(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n)
                    / (1.0 * n * n * (n - 1))), 6) AS z_stat
FROM agg
""",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on return signs per symbol: counts
    maximal same-sign runs (1 + sign flips) and standardizes against
    the exact permutation mean/variance — the classic randomness check
    next to ``return_autocorr_lag1``. Integer counts all the way to
    the final two expressions, so cross-engine parity is exact by
    construction (zero returns count as positive, pinned convention)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r = F.log(F.col("close") / F.lag("close").over(w))
    s = (
        bars.select("symbol", "timestamp", r.alias("r"))
        .filter(F.col("r").isNotNull())
        .withColumn(
            "sgn", F.when(F.col("r") >= 0, F.lit(1)).otherwise(F.lit(0))
        )
        .withColumn("sgn_prev", F.lag("sgn").over(w))
    )
    flip = F.when(
        F.col("sgn_prev").isNotNull()
        & (F.col("sgn") != F.col("sgn_prev")),
        1,
    ).otherwise(0)
    agg = s.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sgn").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("sgn")).cast("long").alias("n_neg"),
        (1 + F.sum(flip)).cast("long").alias("runs"),
    )
    n, npos, nneg, runs = (
        F.col("n"),
        F.col("n_pos"),
        F.col("n_neg"),
        F.col("runs"),
    )
    e_runs = 1.0 + 2.0 * npos * nneg / n
    var = (
        2.0 * npos * nneg * (2.0 * npos * nneg - n)
        / (1.0 * n * n * (n - 1))
    )
    return agg.select(
        "symbol",
        "n",
        "n_pos",
        "n_neg",
        "runs",
        F.round(e_runs, 4).alias("e_runs"),
        F.round((runs - e_runs) / F.sqrt(var), 6).alias("z_stat"),
    )


@query(
    "bigram_logprob",
    r"""
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS a
  FROM documents
), idx AS (
  SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
  FROM arrs WHERE len(a) >= 2
), b AS (
  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2 FROM idx
), vb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
ctx AS (SELECT w1, count(*)::DOUBLE AS cc FROM b GROUP BY 1)
SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(-ln(vb.cb / ctx.cc)), 4) AS avg_neg_logprob
FROM b JOIN vb USING (w1, w2) JOIN ctx USING (w1)
GROUP BY 1
""",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware perplexity proxy: per-doc mean −ln P(w_t | w_{t−1})
    under the corpus's own bigram counts
    (``text.bigram_logprob_score``). Bigrams form inside the token
    array (zip with its own shift) before ONE explode — no positional
    window; then two map-side-combined count aggregates and a re-join.
    4 dp (mean-of-logs summation-order noise, the unigram rule)."""
    from financial_data_pipeline_spark.operators.text import (
        bigram_logprob_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = bigram_logprob_score(docs)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_neg_logprob", 4).alias("avg_neg_logprob"),
    )


@query(
    "token_sort_dedup",
    r"""
WITH fp AS (
  SELECT doc_id,
         -- coalesce: array_to_string([]) is NULL in DuckDB but the
         -- engine md5's the empty concat — zero-token docs still share
         -- one group, with a DEFINED fp (fuzzed-table finding)
         md5(coalesce(array_to_string(
           list_sort(list_filter(
             regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
             x -> x <> '')), ' '), '')) AS fp
  FROM documents
)
SELECT doc_id, fp,
       min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       count(*) OVER (PARTITION BY fp)::BIGINT AS group_size
FROM fp
QUALIFY group_size >= 2
""",
)
def q_token_sort_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort near-dedup: documents are fingerprinted by the MD5 of
    their SORTED lowercase token multiset, so reordered/shuffled copies
    that exact-hash dedup misses land in one group (the fuzzy-matching
    'token sort ratio' idea at exact-match cost). One map-side
    fingerprint + one fp-partitioned window; emits only docs in groups
    ≥ 2 with the min-id canonical. Tokens sort by binary UTF-8 in both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.array_sort(
        F.filter(
            ws_tokens(F.col("text")),
            lambda x: x != "",
        )
    )
    w = Window.partitionBy("fp")
    return (
        docs.select("doc_id", F.md5(F.concat_ws(" ", arr)).alias("fp"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") >= 2)
    )


@query(
    "revenue_pareto_deciles",
    """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS s
  FROM orders GROUP BY 1
), d AS (
  SELECT o_custkey, s,
         ntile(10) OVER (ORDER BY s DESC, o_custkey) AS decile
  FROM spend
), t AS (SELECT sum(s) AS tot FROM spend)
SELECT decile,
       count(*)::BIGINT AS n_customers,
       round(sum(s), 2) AS revenue,
       round(sum(s) / max(tot), 6) AS share,
       round(sum(sum(s)) OVER (ORDER BY decile) / max(tot), 6) AS cum_share
FROM d CROSS JOIN t
GROUP BY decile
""",
)
def q_revenue_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/concentration curve: customers bucketed into spend
    deciles (ntile over the per-customer aggregate, custkey tie-break,
    spend pre-rounded so float ordering can't flip ties) → per-decile
    revenue, share and cumulative share. The distribution-level view
    next to ``customer_spend_gini``; the global window runs over 10
    aggregated rows, not the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("s")
    )
    d = spend.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy(F.desc("s"), F.asc("o_custkey"))),
    )
    tot = spend.agg(F.sum("s").alias("tot"))
    per = (
        d.crossJoin(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("s"), 2).alias("revenue"),
            F.round(F.sum("s") / F.max("tot"), 6).alias("share"),
            F.sum("s").alias("__rev"),
            F.max("tot").alias("__tot"),
        )
    )
    cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per.withColumn(
        "cum_share", F.round(F.sum("__rev").over(cum) / F.col("__tot"), 6)
    ).drop("__rev", "__tot")


@query(
    "order_interarrival_stats",
    """
WITH g AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), d AS (
  SELECT o_custkey, date_diff('day', prev, o_orderdate) AS gap
  FROM g WHERE prev IS NOT NULL
)
SELECT o_custkey,
       count(*)::BIGINT AS n_gaps,
       min(gap)::BIGINT AS min_gap_days,
       round(avg(gap), 4) AS avg_gap_days,
       max(gap)::BIGINT AS max_gap_days
FROM d GROUP BY 1
""",
)
def q_order_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics per repeat customer (≥2 orders): the
    purchase-cadence feature behind churn/LTV models. One per-customer
    lag window (orderkey tie-break pins same-day orders) + one
    aggregate; day gaps are exact integers, so parity is exact."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = (
        orders.withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "prev").alias("gap"),
        )
    )
    return d.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap").cast("long").alias("min_gap_days"),
        F.round(F.avg("gap"), 4).alias("avg_gap_days"),
        F.max("gap").cast("long").alias("max_gap_days"),
    )


@query(
    "idiosyncratic_vol",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
mkt AS (SELECT timestamp, avg(r) AS rm FROM rr GROUP BY 1)
SELECT rr.symbol,
       count(*)::BIGINT AS n_obs,
       round(var_samp(rr.r), 6) AS total_var,
       round(pow(covar_samp(rr.r, mkt.rm) / var_samp(mkt.rm), 2)
             * var_samp(mkt.rm), 6) AS systematic_var,
       round(var_samp(rr.r)
             - pow(covar_samp(rr.r, mkt.rm) / var_samp(mkt.rm), 2)
               * var_samp(mkt.rm), 6) AS idio_var,
       round(pow(corr(rr.r, mkt.rm), 2), 6) AS r2
FROM rr JOIN mkt USING (timestamp)
GROUP BY 1
""",
)
def q_idiosyncratic_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-factor variance decomposition per symbol: total variance
    = β²·Var(market) + idiosyncratic, with R² = corr² — the CAPM
    residual-risk readout on the same market frame as ``market_beta``
    (one tiny timestamp-keyed broadcast join, one aggregate)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
        .select("symbol", "timestamp", "r")
    )
    mkt = rr.groupBy("timestamp").agg(F.avg("r").alias("rm"))
    j = rr.join(F.broadcast(mkt), "timestamp")
    beta = F.covar_samp("r", "rm") / F.var_samp("rm")
    sys_var = beta * beta * F.var_samp("rm")
    return j.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.var_samp("r"), 6).alias("total_var"),
        F.round(sys_var, 6).alias("systematic_var"),
        F.round(F.var_samp("r") - sys_var, 6).alias("idio_var"),
        F.round(F.corr("r", "rm") ** 2, 6).alias("r2"),
    )


@query(
    "volatility_cones",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
v AS (
  SELECT symbol, timestamp,
         CASE WHEN count(r) OVER w6 >= 6
              THEN round(stddev_samp(r) OVER w6, 8) END AS v6,
         CASE WHEN count(r) OVER w12 >= 12
              THEN round(stddev_samp(r) OVER w12, 8) END AS v12,
         CASE WHEN count(r) OVER w24 >= 24
              THEN round(stddev_samp(r) OVER w24, 8) END AS v24
  FROM rr
  WINDOW w6 AS (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         w12 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
         w24 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
), long AS (
  SELECT symbol, 6 AS horizon, v6 AS v FROM v WHERE v6 IS NOT NULL
  UNION ALL
  SELECT symbol, 12, v12 FROM v WHERE v12 IS NOT NULL
  UNION ALL
  SELECT symbol, 24, v24 FROM v WHERE v24 IS NOT NULL
)
SELECT symbol, horizon,
       count(*)::BIGINT AS n_windows,
       round(min(v), 6) AS vol_min,
       round(quantile_cont(v, 0.25), 6) AS vol_q25,
       round(quantile_cont(v, 0.50), 6) AS vol_med,
       round(quantile_cont(v, 0.75), 6) AS vol_q75,
       round(max(v), 6) AS vol_max
FROM long GROUP BY 1, 2
""",
)
def q_volatility_cones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility cones: the distribution (min/quartiles/max) of
    rolling realized vol at 6/12/24-bar horizons per symbol — the
    option-trader's 'is current vol rich or cheap for this horizon'
    chart. Three shared-sort rolling stddevs are ROUNDED to 8 dp
    BEFORE the quantiles so both engines interpolate bit-identical
    inputs (sliding-aggregate associativity differs: segment tree vs
    recompute); one long-format union + one aggregate."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
        .select("symbol", "timestamp", "r")
    )
    staged = rr
    cols = {}
    for n in (6, 12, 24):
        win = w.rowsBetween(-(n - 1), 0)
        cols[f"v{n}"] = F.when(
            F.count("r").over(win) >= n,
            F.round(F.stddev_samp("r").over(win), 8),
        )
    staged = rr.withColumns(cols)
    parts = [
        staged.filter(F.col(f"v{n}").isNotNull()).select(
            "symbol",
            F.lit(n).alias("horizon"),
            F.col(f"v{n}").alias("v"),
        )
        for n in (6, 12, 24)
    ]
    long = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return long.groupBy("symbol", "horizon").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.round(F.min("v"), 6).alias("vol_min"),
        F.round(F.percentile("v", F.lit(0.25)), 6).alias("vol_q25"),
        F.round(F.percentile("v", F.lit(0.50)), 6).alias("vol_med"),
        F.round(F.percentile("v", F.lit(0.75)), 6).alias("vol_q75"),
        F.round(F.max("v"), 6).alias("vol_max"),
    )


@query(
    "funnel_latency",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY 1
)
SELECT v.user_id,
       epoch_us(v.t_view) AS first_view_us,
       epoch_us(p.t_purchase) AS first_purchase_us,
       (epoch_us(p.t_purchase) - epoch_us(v.t_view)) // 60000000
         AS latency_min
FROM v JOIN p USING (user_id)
""",
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert per user: first view → first purchase AFTER that
    view, latency in whole minutes (exact integer micros arithmetic —
    no float in the hash). The latency companion of
    ``funnel_conversion``: one conditional-min aggregate, one
    post-view filter join, one final min — all key-partitioned on
    user_id, so at 100 TB the three stages share one shuffle key."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    j = v.join(p, "user_id")
    view_us = F.unix_micros("t_view")
    buy_us = F.unix_micros("t_purchase")
    return j.select(
        "user_id",
        view_us.alias("first_view_us"),
        buy_us.alias("first_purchase_us"),
        F.floor((buy_us - view_us) / F.lit(60000000)).alias("latency_min"),
    )


@query(
    "lang_source_assoc",
    """
WITH o AS (
  SELECT lang, source, count(*)::DOUBLE AS obs
  FROM documents GROUP BY 1, 2
), rm AS (SELECT lang, sum(obs) AS rt FROM o GROUP BY 1),
cm AS (SELECT source, sum(obs) AS ct FROM o GROUP BY 1),
n AS (SELECT sum(obs) AS n FROM o),
cells AS (
  SELECT o.obs, rm.rt * cm.ct / n.n AS exp
  FROM o JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN n
)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(*) FROM rm)::BIGINT AS n_langs,
       (SELECT count(*) FROM cm)::BIGINT AS n_sources,
       round(sum((obs - exp) * (obs - exp) / exp), 4) AS chi2_observed,
       round(sqrt(sum((obs - exp) * (obs - exp) / exp)
                  / ((SELECT n FROM n)
                     * (least((SELECT count(*) FROM rm),
                              (SELECT count(*) FROM cm)) - 1))), 6)
         AS cramers_v
FROM cells
""",
)
def q_lang_source_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language × source association strength: χ² over the OBSERVED
    contingency cells (expected = row·col margins / n) and Cramér's V —
    'is language independent of source' for corpus-mixture design.
    One cell aggregate + two tiny margin frames broadcast back; only
    observed cells enter the sum (absent cells contribute e, and
    Σe over absent cells = n − Σe_observed, a correction not needed
    for V's rank ordering — both engines sum the same cells)."""
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    rm = o.groupBy("lang").agg(F.sum("obs").alias("rt"))
    cm = o.groupBy("source").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    n_langs = rm.count()
    n_sources = cm.count()
    cells = (
        o.join(F.broadcast(rm), "lang")
        .join(F.broadcast(cm), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "obs",
            (F.col("rt") * F.col("ct") / F.col("n")).alias("exp"),
            "n",
        )
    )
    chi2 = F.sum(
        (F.col("obs") - F.col("exp")) ** 2 / F.col("exp")
    )
    k = min(n_langs, n_sources) - 1
    return cells.agg(
        F.sum("obs").cast("long").alias("n_docs"),
        F.lit(n_langs).cast("long").alias("n_langs"),
        F.lit(n_sources).cast("long").alias("n_sources"),
        F.round(chi2, 4).alias("chi2_observed"),
        F.round(F.sqrt(chi2 / (F.max("n") * F.lit(float(k)))), 6).alias(
            "cramers_v"
        ),
    )


@query(
    "ewma_pair_cov",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
pairs AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.timestamp,
         a.r AS ra, b.r AS rb,
         row_number() OVER (PARTITION BY a.symbol, b.symbol
                            ORDER BY a.timestamp DESC) - 1 AS k
  FROM rr a JOIN rr b
    ON a.timestamp = b.timestamp AND a.symbol < b.symbol
)
SELECT sym_a, sym_b, count(*)::BIGINT AS n_terms,
       round((1 - 0.94) * sum(pow(0.94, k) * ra * rb), 6) AS ewma_cov,
       round((1 - 0.94) * sum(pow(0.94, k) * ra * rb)
             / sqrt((1 - 0.94) * sum(pow(0.94, k) * ra * ra)
                    * (1 - 0.94) * sum(pow(0.94, k) * rb * rb)), 6)
         AS ewma_corr
FROM pairs WHERE k < 450
GROUP BY 1, 2
""",
)
def q_ewma_pair_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA covariance/correlation snapshot per symbol
    pair (λ=0.94): the recency-weighted co-movement estimate risk
    desks feed into VaR. Because each term's weight λ^k is a PURE
    FUNCTION of its recency rank, the recurrence flattens into one
    weighted aggregate — no fold, no state; terms beyond k=450
    (sub-ULP at λ=0.94) are dropped identically in both engines. The
    co-timestamp self-join keys on (timestamp); at 100 TB the pair
    matrix grows O(S²) in symbols, so shard the symbol universe or
    move to a factor model before S ~ thousands."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
        .select("symbol", "timestamp", "r")
    )
    a = rr.select(
        F.col("symbol").alias("sym_a"), "timestamp", F.col("r").alias("ra")
    )
    b = rr.select(
        F.col("symbol").alias("sym_b"),
        F.col("timestamp").alias("ts_b"),
        F.col("r").alias("rb"),
    )
    pairs = a.join(
        b,
        (F.col("timestamp") == F.col("ts_b"))
        & (F.col("sym_a") < F.col("sym_b")),
    ).withColumn(
        "k",
        F.row_number().over(
            Window.partitionBy("sym_a", "sym_b").orderBy(
                F.desc("timestamp")
            )
        )
        - 1,
    ).filter(F.col("k") < 450)
    lam = 0.94
    wt = F.pow(F.lit(lam), F.col("k"))
    cov = (1 - lam) * F.sum(wt * F.col("ra") * F.col("rb"))
    va = (1 - lam) * F.sum(wt * F.col("ra") * F.col("ra"))
    vb = (1 - lam) * F.sum(wt * F.col("rb") * F.col("rb"))
    return pairs.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(cov, 6).alias("ewma_cov"),
        F.round(cov / F.sqrt(va * vb), 6).alias("ewma_corr"),
    )


@query(
    "conditional_drawdown",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp,
         1 - close / max(close) OVER (PARTITION BY symbol ORDER BY timestamp
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS dd,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), ranked AS (
  -- rank-based tail, NOT dd >= interpolated-quantile membership: with
  -- near-tied order statistics the interpolation a + f*(b-a) collapses
  -- onto a within FP error and the engines' different interpolation
  -- expressions disagree on the boundary row (fuzz finding). The worst
  -- ceil(5%) states by (dd DESC, ts) are deterministic for any data.
  SELECT symbol, dd, r,
         row_number() OVER (PARTITION BY symbol
                            ORDER BY dd DESC, timestamp ASC) AS rk,
         count(*) OVER (PARTITION BY symbol) AS n
  FROM d
), q AS (
  SELECT symbol, quantile_cont(dd, 0.95) AS dd95 FROM d GROUP BY 1
)
SELECT ranked.symbol,
       count(*)::BIGINT AS n_obs,
       round(avg(dd), 6) AS pain_index,
       round(CASE WHEN avg(dd) > 0
             THEN sum(r) / avg(dd) END, 6) AS pain_ratio,
       round(max(q.dd95), 6) AS dd_q95,
       round(avg(CASE WHEN rk <= (n + 19) // 20 THEN dd END), 6) AS cdar_95
FROM ranked JOIN q USING (symbol)
GROUP BY 1
""",
)
def q_conditional_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown-distribution risk per symbol: pain index (mean
    underwater depth), pain ratio (total log return over pain), and
    CDaR-95 (mean of the worst ceil(5%) drawdown states, rank-selected
    with a timestamp tie-break — deterministic where an interpolated-
    quantile membership test is FP-fragile under near-tied order
    statistics; the interpolated q95 is still reported as ``dd_q95``)
    — the path-dependent tail view that point VaR misses."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    peak = w.rowsBetween(Window.unboundedPreceding, 0)
    d = bars.select(
        "symbol",
        "timestamp",
        (1 - F.col("close") / F.max("close").over(peak)).alias("dd"),
        F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
    )
    q = d.groupBy("symbol").agg(
        F.percentile("dd", F.lit(0.95)).alias("dd95")
    )
    # rank-based tail (see oracle comment): the worst ceil(5%) states by
    # (dd DESC, ts) — quantile-membership boundaries are FP-fragile
    # under near-tied order statistics
    wr = Window.partitionBy("symbol").orderBy(
        F.desc("dd"), F.asc("timestamp")
    )
    wn = Window.partitionBy("symbol")
    ranked = d.withColumn("rk", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    j = ranked.join(F.broadcast(q), "symbol")
    pain = F.avg("dd")
    in_tail = F.col("rk") <= (F.col("n") + 19) / 20
    return j.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(pain, 6).alias("pain_index"),
        F.round(F.when(pain > 0, F.sum("r") / pain), 6).alias("pain_ratio"),
        F.round(F.max("dd95"), 6).alias("dd_q95"),
        F.round(F.avg(F.when(in_tail, F.col("dd"))), 6).alias("cdar_95"),
    )


@query(
    "tracking_error",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
mkt AS (SELECT timestamp, avg(r) AS rm FROM rr GROUP BY 1)
SELECT rr.symbol,
       count(*)::BIGINT AS n_obs,
       round(avg(rr.r - mkt.rm), 6) AS active_return,
       round(stddev_samp(rr.r - mkt.rm), 6) AS tracking_error,
       round(avg(rr.r - mkt.rm) / stddev_samp(rr.r - mkt.rm), 6)
         AS info_ratio,
       round((avg(rr.r) / stddev_samp(rr.r)) * stddev_samp(mkt.rm), 6)
         AS m2_excess
FROM rr JOIN mkt USING (timestamp)
GROUP BY 1
""",
)
def q_tracking_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-management stats per symbol vs the equal-weight market:
    mean active return, tracking error (std of the active return),
    information ratio, and the M² excess (Sharpe rescaled to market
    vol — Modigliani-Modigliani without the rf constant). One
    aggregate on the same broadcast market frame as ``market_beta`` /
    ``idiosyncratic_vol``."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
        .select("symbol", "timestamp", "r")
    )
    mkt = rr.groupBy("timestamp").agg(F.avg("r").alias("rm"))
    j = rr.join(F.broadcast(mkt), "timestamp")
    act = F.col("r") - F.col("rm")
    return j.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.avg(act), 6).alias("active_return"),
        F.round(F.stddev_samp(act), 6).alias("tracking_error"),
        F.round(F.avg(act) / F.stddev_samp(act), 6).alias("info_ratio"),
        F.round(
            (F.avg("r") / F.stddev_samp("r")) * F.stddev_samp("rm"), 6
        ).alias("m2_excess"),
    )


@query(
    "trade_mae",
    BARS_CTE
    + """
, p AS (
  SELECT symbol, timestamp, close, high, low,
         CASE WHEN avg(close) OVER w20 > avg(close) OVER w50
              THEN 1 ELSE 0 END AS position
  FROM bars
  WINDOW w20 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         w50 AS (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
), st AS (
  SELECT *,
         CASE WHEN position = 1
               AND coalesce(lag(position)
                     OVER (PARTITION BY symbol ORDER BY timestamp), 0) = 0
              THEN 1 ELSE 0 END AS started
  FROM p
), seg AS (
  SELECT *,
         sum(started) OVER (PARTITION BY symbol ORDER BY timestamp)
           AS trade_id
  FROM st
), trades AS (
  SELECT symbol, trade_id,
         count(*)::BIGINT AS n_bars,
         arg_min(close, epoch_us(timestamp)) AS entry_close,
         min(low) AS min_low,
         max(high) AS max_high
  FROM seg WHERE position = 1
  GROUP BY 1, 2
)
SELECT symbol,
       count(*)::BIGINT AS n_trades,
       round(avg(n_bars), 4) AS avg_bars_held,
       round(avg(1 - min_low / entry_close), 6) AS avg_mae,
       round(max(1 - min_low / entry_close), 6) AS max_mae,
       round(avg(max_high / entry_close - 1), 6) AS avg_mfe
FROM trades GROUP BY 1
""",
)
def q_trade_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max adverse / favorable excursion per SMA(20/50)-crossover
    trade: each long run is segmented gaps-and-islands style (entry
    flag cumsum), then one per-trade aggregate (entry close via
    arg_min-by-time, worst low, best high) and one per-symbol rollup —
    the stop-placement analytics layer over the same position frame as
    ``sma_crossover_backtest``. No Python state; two window passes
    sharing the per-symbol sort."""
    bars = events_as_ohlcv(spark, sf_dir)
    w20 = Window.partitionBy("symbol").orderBy("timestamp").rowsBetween(-19, 0)
    w50 = Window.partitionBy("symbol").orderBy("timestamp").rowsBetween(-49, 0)
    ws = Window.partitionBy("symbol").orderBy("timestamp")
    p = bars.withColumn(
        "position",
        F.when(
            F.avg("close").over(w20) > F.avg("close").over(w50), 1
        ).otherwise(0),
    )
    started = F.when(
        (F.col("position") == 1)
        & (F.coalesce(F.lag("position").over(ws), F.lit(0)) == 0),
        1,
    ).otherwise(0)
    seg = p.withColumn(
        "trade_id",
        F.sum(started).over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    ).filter(F.col("position") == 1)
    trades = seg.groupBy("symbol", "trade_id").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.min_by("close", F.unix_micros("timestamp")).alias("entry_close"),
        F.min("low").alias("min_low"),
        F.max("high").alias("max_high"),
    )
    mae = 1 - F.col("min_low") / F.col("entry_close")
    mfe = F.col("max_high") / F.col("entry_close") - 1
    return trades.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.round(F.avg("n_bars"), 4).alias("avg_bars_held"),
        F.round(F.avg(mae), 6).alias("avg_mae"),
        F.round(F.max(mae), 6).alias("max_mae"),
        F.round(F.avg(mfe), 6).alias("avg_mfe"),
    )


@query(
    "lof_outliers",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE embedding IS NOT NULL),
pairs AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         round(sqrt(list_reduce(
           list_transform(range(1, len(a.v) + 1),
                          t -> (a.v[t] - b.v[t]) * (a.v[t] - b.v[t])),
           (s, x) -> s + x)), 8) AS d
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), knn AS (
  SELECT i, j, d,
         row_number() OVER (PARTITION BY i ORDER BY d, j) AS rn
  FROM pairs QUALIFY rn <= 5
), kdist AS (SELECT i, max(d) AS k_dist FROM knn GROUP BY 1),
edges AS (
  SELECT knn.i, knn.j, greatest(knn.d, kj.k_dist) AS reach
  FROM knn JOIN kdist kj ON knn.j = kj.i
), lrd AS (SELECT i, 1.0 / avg(reach) AS lrd FROM edges GROUP BY 1),
lof AS (
  SELECT knn.i, avg(lj.lrd) AS mean_lrd_nbrs
  FROM knn JOIN lrd lj ON knn.j = lj.i
  GROUP BY 1
)
SELECT lof.i AS vec_id,
       round(kdist.k_dist, 6) AS k_dist,
       round(lrd.lrd, 6) AS lrd,
       round(lof.mean_lrd_nbrs / lrd.lrd, 6) AS lof
FROM lof JOIN lrd USING (i) JOIN kdist USING (i)
""",
)
def q_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (k=5) over the embeddings table
    (``similarity.lof_scores``): exact all-pairs Euclidean kNN →
    reachability density → density ratio, fully relational. Distances
    round to 8 dp BEFORE the (d, neighbor) rank so the kNN edge list
    is engine-identical; the left-to-right zip_with/aggregate fold is
    replayed by DuckDB's list_reduce with the same 0.0 seed. O(n²)
    guarded — the scale path runs it per IVF block."""
    from financial_data_pipeline_spark.operators.similarity import lof_scores

    emb = load_table(spark, sf_dir, "embeddings")
    out = lof_scores(emb, k=5)
    return out.select(
        "vec_id",
        F.round("k_dist", 6).alias("k_dist"),
        F.round("lrd", 6).alias("lrd"),
        F.round("lof", 6).alias("lof"),
    )


# The hot-block cap ``pair_subdivision_probe`` passes explicitly:
# small enough that the subdivision guard actually FIRES on its bounded
# probe corpus at every SF, so the oracle exercises the exact production
# code path a 100 TB hot bucket would take. Every other blocked query —
# including ``lof_outliers_blocked`` — runs the production default
# (similarity.DEFAULT_MAX_BLOCK_ROWS) so the bench measures the plan
# production callers actually get.
_PAIR_BLOCK_CAP = 40

# Row bound of the dedicated subdivision probe: with 16 bucket0 blocks,
# ~64 rows/block lands past the cap (bits = ceil(log2(64/40)) = 1) in
# the typical block, so the guard demonstrably splits at every test SF
# while the probe stays O(1)-sized regardless of corpus scale.
_PAIR_PROBE_ROWS = 1024


def _pair_sub_planes() -> list[list[float]]:
    """The seeded hyperplanes ``_distance_pairs`` subdivides hot blocks
    with — plane count and seed imported from similarity.py so the
    oracle can never silently desynchronize from the kernel."""
    from financial_data_pipeline_spark.operators.similarity import (
        SUBDIV_PLANES,
        SUBDIV_SEED,
        seeded_planes,
    )

    return seeded_planes(SUBDIV_PLANES, 64, seed=SUBDIV_SEED)


def _blocked_emb_pairs_cte(
    subdivide: bool = True,
    limit: int | None = None,
    dynamic_planes: bool = False,
) -> str:
    """Shared oracle prefix of the blocked all-pairs family: the SAME
    4 seeded-hyperplane LSH buckets as the Spark side (identical plane
    literals, identical left-fold dot product) and the block-local
    rounded-distance pair frame.

    ``subdivide=True`` additionally replays ``_distance_pairs``'s
    hot-block guard (blocks past ``_PAIR_BLOCK_CAP`` rows split by
    ceil(log2(n/cap)) bits of the 16-plane seed-104729 signature) —
    used by ``pair_subdivision_probe``, which runs the guard LIVE with
    cap=40 on a bounded corpus so the subdivision is oracle-exercised
    at every test SF. ``subdivide=False`` is the plain same-bucket
    frame — the twin of the DEFAULT guard (cap 4096), whose adaptive
    skip leaves blocks untouched at every test corpus size (max block
    ≪ 4096). ``limit`` bounds the input to vec_id < limit — vec_ids
    are dense from 0, so this is the ``limit`` smallest vectors via a
    pushed-down scan filter, with no global sort (the probe's
    fixed-size corpus)."""
    if dynamic_planes:
        # corpus-derived plane count (nb CTE) — the shipped-default
        # schedule of the production blocked family (r08 item 8)
        bucket = _dyn_bucket_sql()
        nb_cte = f"nb AS {_NBITS_SQL},\n"
        nb_src = ", nb"
    else:
        bucket = " + ".join(
            "(CASE WHEN list_inner_product(v, [{lits}]) >= 0 THEN {w} ELSE 0 END)".format(
                lits=", ".join(repr(x) for x in p), w=1 << i
            )
            for i, p in enumerate(_pair_block_planes())
        )
        nb_cte = ""
        nb_src = ""
    bound = "" if limit is None else f" AND vec_id < {limit}"
    head = f"""
WITH {nb_cte}e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
          WHERE embedding IS NOT NULL{bound}),
bb0 AS (SELECT vec_id, label, v, {bucket} AS bucket0 FROM e{nb_src}),
"""
    if subdivide:
        sig = " + ".join(
            "(CASE WHEN list_inner_product(v, [{lits}]) >= 0 THEN {w} ELSE 0 END)"
            .format(lits=", ".join(repr(x) for x in p), w=1 << i)
            for i, p in enumerate(_pair_sub_planes())
        )
        head += f"""sg AS (SELECT *, {sig} AS sig FROM bb0),
sz AS (
  SELECT bucket0,
         greatest(0, CAST(ceil(log2(count(*) / {_PAIR_BLOCK_CAP}.0)) AS INT))
           AS bits
  FROM sg GROUP BY 1
),
bb AS (
  SELECT vec_id, label, v,
         CAST(bucket0 AS VARCHAR) || ':' ||
         CAST(sig % (1 << bits) AS VARCHAR) AS bucket
  FROM sg JOIN sz USING (bucket0)
),
"""
    else:
        head += """bb AS (
  SELECT vec_id, label, v, bucket0 AS bucket FROM bb0
),
"""
    return head + """pairs AS (
  SELECT a.vec_id AS i, a.label AS li, b.label AS lj, b.vec_id AS j,
         round(sqrt(list_reduce(
           list_transform(range(1, len(a.v) + 1),
                          t -> (a.v[t] - b.v[t]) * (a.v[t] - b.v[t])),
           (s, x) -> s + x)), 8) AS d
  FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)"""


@query(
    "lof_outliers_blocked",
    _blocked_emb_pairs_cte(subdivide=False, dynamic_planes=True)
    + """
, knn AS (
  SELECT i, j, d,
         row_number() OVER (PARTITION BY i ORDER BY d, j) AS rn
  FROM pairs QUALIFY rn <= 5
), kdist AS (SELECT i, max(d) AS k_dist FROM knn GROUP BY 1),
edges AS (
  SELECT knn.i, knn.j, greatest(knn.d, kj.k_dist) AS reach
  FROM knn JOIN kdist kj ON knn.j = kj.i
), lrd AS (SELECT i, 1.0 / avg(reach) AS lrd FROM edges GROUP BY 1),
lof AS (
  SELECT knn.i, avg(lj.lrd) AS mean_lrd_nbrs
  FROM knn JOIN lrd lj ON knn.j = lj.i
  GROUP BY 1
)
SELECT lof.i AS vec_id,
       round(kdist.k_dist, 6) AS k_dist,
       round(lrd.lrd, 6) AS lrd,
       round(lof.mean_lrd_nbrs / lrd.lrd, 6) AS lof
FROM lof JOIN lrd USING (i) JOIN kdist USING (i)
""",
)
def q_lof_outliers_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CALLABLE 100 TB LOF path: LSH-bucket the corpus (4 seeded
    hyperplanes → 16 blocks) and run the identical relational LOF
    pipeline with the pair join restricted to same-bucket — an
    ordinary equi-join on the block key instead of the guarded O(n²)
    broadcast-nested-loop, cost Σ_b n_b² (sub-quadratic whenever the
    plane count grows with the corpus so block sizes stay bounded).
    LOF is a LOCAL density measure, so block-local neighbors are the
    semantically right candidate set; the oracle replays the same
    buckets from the same plane literals. Runs the DEFAULT hot-block
    guard (cap 4096, adaptive skip at test-SF block sizes) — this query
    measures the exact plan production callers get; the forced-
    subdivision path is oracle-exercised by the dedicated
    ``pair_subdivision_probe``."""
    from financial_data_pipeline_spark.operators.similarity import (
        lof_scores,
        lsh_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb = emb.withColumn(
        "block", lsh_bucket("embedding", _pair_block_planes(_table_rows(spark, sf_dir)))
    )
    out = lof_scores(emb, k=5, block_col="block", block_dim=64)
    return out.select(
        "vec_id",
        F.round("k_dist", 6).alias("k_dist"),
        F.round("lrd", 6).alias("lrd"),
        F.round("lof", 6).alias("lof"),
    )


@query(
    "pair_subdivision_probe",
    _blocked_emb_pairs_cte(subdivide=True, limit=_PAIR_PROBE_ROWS)
    + """
SELECT i AS vec_id,
       count(*)::BIGINT AS n_nbrs,
       round((list(d ORDER BY d, j))[5], 6) AS k_dist
FROM pairs GROUP BY 1
""",
)
def q_pair_subdivision_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedicated live-subdivision oracle: the blocked pair frame
    over the ``_PAIR_PROBE_ROWS`` smallest vec_ids with
    ``max_block_rows`` forced down to ``_PAIR_BLOCK_CAP`` so
    ``_distance_pairs``'s hot-block guard demonstrably FIRES (typical
    block ≈ 64 rows → one signature bit splits it) and the DuckDB twin
    replays the exact ceil(log2(n/cap))-bit subdivision from the
    shared SUBDIV_PLANES/SUBDIV_SEED constants. Per-vector neighbor
    count + 5th-smallest distance pins the subdivided pair MULTISET in
    one aggregation — the probe is deliberately minimal (fixed-size
    input, one shuffle) so the forced path no longer pollutes the
    bench timing of ``lof_outliers_blocked``, which now measures the
    production default end-to-end."""
    # _distance_pairs is the guarded kernel under every blocked query;
    # the probe drives it directly so nothing dilutes the measurement
    from financial_data_pipeline_spark.operators.similarity import (
        _distance_pairs,
        lsh_bucket,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(
            F.col("embedding").isNotNull()
            & (F.col("vec_id") < _PAIR_PROBE_ROWS)
        )
        .withColumn("block", lsh_bucket("embedding", _pair_block_planes()))
    )
    pairs = _distance_pairs(
        emb, "embedding", "vec_id", "block", 20_000,
        "pair_subdivision_probe",
        max_block_rows=_PAIR_BLOCK_CAP, dim=64,
    )
    # 5th-smallest d per i == k_dist(k=5): a value-level order statistic,
    # so the (d, j) tie-break can't change it; lists are bounded by the
    # post-subdivision block size (≈ cap), never corpus-scale
    return pairs.groupBy(F.col("i").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_nbrs"),
        F.round(
            F.element_at(F.sort_array(F.collect_list("d")), 5), 6
        ).alias("k_dist"),
    )


@query(
    "silhouette_by_label_blocked",
    _blocked_emb_pairs_cte(subdivide=False, dynamic_planes=True)
    + """
, md AS (
  SELECT i, li, lj, avg(d) AS mean_d FROM pairs GROUP BY 1, 2, 3
), ab AS (
  SELECT i, li,
         max(CASE WHEN li = lj THEN mean_d END) AS a,
         min(CASE WHEN li <> lj THEN mean_d END) AS b
  FROM md GROUP BY 1, 2
)
SELECT li AS label,
       count(*)::BIGINT AS n_vecs,
       round(avg((b - a) / greatest(a, b)), 6) AS mean_silhouette
FROM ab WHERE a IS NOT NULL AND b IS NOT NULL
GROUP BY 1
""",
)
def q_silhouette_by_label_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked silhouette — the shipped scale path for the cluster-
    separation score: mean distances computed over same-bucket pairs
    only (equi-join on the LSH block key, never all-pairs). Points
    lacking a same-label or other-label neighbor WITHIN their bucket
    drop out identically in both engines. Runs the DEFAULT hot-block
    guard (cap 4096): its adaptive size-check sees every test-SF block
    far under the cap and skips the subdivision machinery — the live
    subdivision oracle is ``pair_subdivision_probe`` (cap 40)."""
    from financial_data_pipeline_spark.operators.similarity import (
        lsh_bucket,
        silhouette_by_label,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb = emb.withColumn(
        "block", lsh_bucket("embedding", _pair_block_planes(_table_rows(spark, sf_dir)))
    )
    out = silhouette_by_label(emb, block_col="block", block_dim=64)
    return out.select(
        "label",
        "n_vecs",
        F.round("mean_silhouette", 6).alias("mean_silhouette"),
    )


@query(
    "knn_label_accuracy_blocked",
    _blocked_emb_pairs_cte(subdivide=False, dynamic_planes=True)
    + """
, knn AS (
  SELECT i, li, lj,
         row_number() OVER (PARTITION BY i ORDER BY d, j) AS rn
  FROM pairs QUALIFY rn <= 5
), votes AS (
  SELECT i, li, lj, count(*) AS c FROM knn GROUP BY 1, 2, 3
), pred AS (
  SELECT i, li, lj AS pred,
         row_number() OVER (PARTITION BY i ORDER BY c DESC, lj ASC) AS r
  FROM votes QUALIFY r = 1
)
SELECT li AS label,
       count(*)::BIGINT AS n_vecs,
       round(avg(CASE WHEN li = pred THEN 1.0 ELSE 0.0 END), 6)
         AS loo_accuracy
FROM pred GROUP BY 1
""",
)
def q_knn_label_accuracy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked leave-one-out 5-NN accuracy — the shipped scale path:
    the electorate is the block-local k nearest (LSH equi-join, never
    all-pairs); sub-(k+1) blocks vote with fewer neighbors and
    singleton blocks drop out, identically in both engines. Runs the
    DEFAULT hot-block guard (cap 4096, adaptive skip at test-SF block
    sizes); the live subdivision oracle is ``pair_subdivision_probe``."""
    from financial_data_pipeline_spark.operators.similarity import (
        knn_label_accuracy,
        lsh_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb = emb.withColumn(
        "block", lsh_bucket("embedding", _pair_block_planes(_table_rows(spark, sf_dir)))
    )
    out = knn_label_accuracy(emb, k=5, block_col="block", block_dim=64)
    return out.select(
        "label", "n_vecs", F.round("loo_accuracy", 6).alias("loo_accuracy")
    )


def _pagerank_sql(iters: int = 10, d: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain (pr0..pr{iters}) — the SQL
    twin of the Spark plan-time loop in ``q_event_type_pagerank``."""
    head = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), bigram AS (
  SELECT event_type AS from_type, next_type AS to_type,
         count(*)::DOUBLE AS c
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), edges AS (
  SELECT from_type, to_type,
         c / sum(c) OVER (PARTITION BY from_type) AS p
  FROM bigram
), nodes AS (
  SELECT from_type AS t FROM edges
  UNION SELECT to_type FROM edges
), nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
pr0 AS (SELECT t, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)
"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f""", pr{k} AS (
  SELECT nd.t,
         (1 - {d}) / max(nn.n) + {d} * coalesce(sum(e.p * p.rank), 0)
           AS rank
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN edges e ON e.to_type = nd.t
  LEFT JOIN pr{k - 1} p ON p.t = e.from_type
  GROUP BY nd.t
)"""
        )
    tail = f"""
SELECT t AS event_type, round(rank, 6) AS pagerank
FROM pr{iters}
"""
    return head + "".join(steps) + tail


@query("event_type_pagerank", _pagerank_sql(10))
def q_event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (d=0.85, 10
    unrolled power iterations): which stage of the funnel accumulates
    probability mass under random navigation. The graph is the TINY
    aggregated (types × types) edge frame — each iteration is a
    broadcast join + 25-row aggregate built at PLAN time (no driver
    collect, no .first(); the loop unrolls into one lazy DAG, exactly
    like the DuckDB twin's chained CTEs). At web scale swap the
    unrolled loop for checkpointed iterations over the edge list."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w))
    bigram = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    edges = bigram.select(
        "from_type",
        "to_type",
        (
            F.col("c")
            / F.sum("c").over(Window.partitionBy("from_type"))
        ).alias("p"),
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("from_type").alias("t"))
        .union(edges.select("to_type"))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    nodes_n = nodes.crossJoin(F.broadcast(nn)).localCheckpoint()
    d = 0.85
    ranks = nodes_n.select("t", (F.lit(1.0) / F.col("n")).alias("rank"))
    for _ in range(10):
        contrib = (
            edges.join(
                ranks.select(F.col("t").alias("from_type"), "rank"),
                "from_type",
            )
            .groupBy(F.col("to_type").alias("t"))
            .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib"))
        )
        ranks = nodes_n.join(F.broadcast(contrib), "t", "left").select(
            "t",
            (
                (1 - d) / F.col("n")
                + d * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select(
        F.col("t").alias("event_type"), F.round("rank", 6).alias("pagerank")
    )


@query(
    "theil_decomposition",
    """
WITH x AS (
  SELECT source, greatest(length(text), 1)::DOUBLE AS x
  FROM documents WHERE text IS NOT NULL
), tot AS (SELECT count(*)::DOUBLE AS n, avg(x) AS mu FROM x),
tg AS (
  SELECT source, count(*)::DOUBLE AS ng, avg(x) AS mug
  FROM x GROUP BY source
), wg AS (
  SELECT x.source, avg((x.x / tg.mug) * ln(x.x / tg.mug)) AS t_g
  FROM x JOIN tg USING (source) GROUP BY x.source
), tt AS (
  SELECT count(*)::BIGINT AS n_docs,
         round(avg((x.x / tot.mu) * ln(x.x / tot.mu)), 6) AS theil_total
  FROM x CROSS JOIN tot
), parts AS (
  SELECT round(sum((tg.ng / tot.n) * (tg.mug / tot.mu)
                   * ln(tg.mug / tot.mu)), 6) AS theil_between,
         round(sum((tg.ng / tot.n) * (tg.mug / tot.mu) * wg.t_g), 6)
           AS theil_within
  FROM tg JOIN wg USING (source) CROSS JOIN tot
)
SELECT tt.n_docs, tt.theil_total, parts.theil_between, parts.theil_within
FROM tt CROSS JOIN parts
""",
)
def q_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of document lengths decomposed into
    BETWEEN-source and WITHIN-source components (T = T_b + Σ share·T_g
    exactly) — 'is corpus length inequality a source-mix artifact or
    intrinsic'. Two tiny aggregates + one-row crossJoins; the identity
    holds to rounding in both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    x = docs.select(
        "source",
        F.greatest(F.length("text"), F.lit(1)).cast("double").alias("x"),
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mu"),
    )
    tg = x.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.avg("x").alias("mug"),
    )
    wg = (
        x.join(F.broadcast(tg), "source")
        .groupBy("source")
        .agg(
            F.avg(
                (F.col("x") / F.col("mug"))
                * F.log(F.col("x") / F.col("mug"))
            ).alias("t_g")
        )
    )
    tt = x.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.avg(
                (F.col("x") / F.col("mu")) * F.log(F.col("x") / F.col("mu"))
            ),
            6,
        ).alias("theil_total"),
    )
    share = (F.col("ng") / F.col("n")) * (F.col("mug") / F.col("mu"))
    parts = (
        tg.join(F.broadcast(wg), "source")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(share * F.log(F.col("mug") / F.col("mu"))), 6
            ).alias("theil_between"),
            F.round(F.sum(share * F.col("t_g")), 6).alias("theil_within"),
        )
    )
    return tt.crossJoin(F.broadcast(parts))


@query(
    "supplier_hhi_by_nation",
    """
WITH rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         sum(l.l_extendedprice * (1 - l.l_discount)) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), nat AS (
  SELECT s_nationkey, sum(r) AS tot, count(*)::BIGINT AS n_suppliers
  FROM rev GROUP BY 1
)
SELECT n.n_name AS nation,
       max(nat.n_suppliers) AS n_suppliers,
       round(max(nat.tot), 2) AS revenue,
       round(sum(pow(rev.r / nat.tot, 2)) * 10000, 4) AS hhi
FROM rev
JOIN nat USING (s_nationkey)
JOIN nation n ON n.n_nationkey = rev.s_nationkey
GROUP BY 1
""",
)
def q_supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: Herfindahl-Hirschman
    index (Σ share² × 10000) over lineitem revenue — the antitrust-
    style concentration readout on the TPC-H schema. One fact
    aggregate keyed (nation, supplier), a tiny nation rollup broadcast
    back, and the nation dim broadcast-joined for names."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("r")
        )
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("tot"), F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        rev.join(F.broadcast(nat), "s_nationkey")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            rev.s_nationkey == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            F.round(F.max("tot"), 2).alias("revenue"),
            F.round(
                F.sum(F.pow(F.col("r") / F.col("tot"), 2)) * 10000, 4
            ).alias("hhi"),
        )
        .select("nation", "n_suppliers", "revenue", "hhi")
    )


@query(
    "holt_forecast_eval",
    "WITH RECURSIVE bars AS ("
    + events_as_ohlcv_sql(60).strip()
    + """
), daily AS (
  SELECT symbol, CAST(timestamp AS DATE) AS day,
         arg_max(close, epoch_us(timestamp)) AS close
  FROM bars GROUP BY 1, 2
), base AS (
  SELECT symbol, day, close,
         row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn
  FROM daily
), rec AS (
  SELECT symbol, day, rn, close,
         close AS l, 0.0::DOUBLE AS b, NULL::DOUBLE AS fc
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b2.symbol, b2.day, b2.rn, b2.close,
         0.3 * b2.close
           + (1.0::DOUBLE - 0.3::DOUBLE) * (r.l + r.b) AS l,
         0.1 * ((0.3 * b2.close
                 + (1.0::DOUBLE - 0.3::DOUBLE) * (r.l + r.b)) - r.l)
           + (1.0::DOUBLE - 0.1::DOUBLE) * r.b AS b,
         r.l + r.b AS fc
  FROM rec r JOIN base b2
    ON b2.symbol = r.symbol AND b2.rn = r.rn + 1
), e AS (
  SELECT symbol, close - fc AS err,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY day)
           AS nerr
  FROM rec
)
SELECT symbol, count(*)::BIGINT AS n_eval,
       round(avg(abs(err)), 6) AS mae,
       round(sqrt(avg(err * err)), 6) AS rmse,
       round(avg(abs(nerr)), 6) AS naive_mae,
       round(avg(abs(err)) / avg(abs(nerr)), 6) AS mase
FROM e WHERE err IS NOT NULL GROUP BY symbol
""",
)
def q_holt_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast skill report (``indicators.
    holt_eval``, α=0.3, β=0.1): one-step-ahead MAE/RMSE/MASE vs the
    random-walk naive, next to ``ses_forecast_eval`` — the trend state
    folds as a STRUCT-state prefix aggregate both engines replay
    element-identically (new_l recomputed inline in both fields, same
    IEEE ops)."""
    bars = events_as_ohlcv(spark, sf_dir)
    daily = bars.groupBy(
        "symbol", F.to_date("timestamp").alias("day")
    ).agg(F.max_by("close", F.unix_micros("timestamp")).alias("close"))
    out = indicators.holt_eval(daily, alpha=0.3, beta=0.1, ts="day")
    return out.select(
        "symbol",
        "n_eval",
        F.round("mae", 6).alias("mae"),
        F.round("rmse", 6).alias("rmse"),
        F.round("naive_mae", 6).alias("naive_mae"),
        F.round("mase", 6).alias("mase"),
    )


@query(
    "part_skyline",
    """
WITH pp AS (
  SELECT p_partkey, p_retailprice AS price, p_size AS sz FROM part
), per_price AS (
  SELECT price, max(sz) AS msize FROM pp GROUP BY 1
), pm AS (
  SELECT price, msize,
         max(msize) OVER (ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
  FROM per_price
)
SELECT pp.p_partkey, pp.price, pp.sz AS size
FROM pp JOIN pm USING (price)
WHERE pp.sz = pm.msize AND pp.sz > coalesce(pm.prev_max, -1)
""",
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts on (price ↓ better, size ↑
    better): parts no other part dominates. The classic O(n²)
    dominance self-join collapses to ONE prefix-max window over the
    DISTINCT-price frame (strictly-cheaper max via a 1-PRECEDING rows
    frame on deduplicated prices) + an equi-join back — linear scan,
    one tiny window, exact tie semantics (equal price+size pairs are
    mutually non-dominated and both survive)."""
    part = load_table(spark, sf_dir, "part")
    pp = part.select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("sz"),
    )
    per_price = pp.groupBy("price").agg(F.max("sz").alias("msize"))
    wp = Window.orderBy("price").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pm = per_price.withColumn("prev_max", F.max("msize").over(wp))
    return (
        pp.join(F.broadcast(pm), "price")
        .filter(
            (F.col("sz") == F.col("msize"))
            & (F.col("sz") > F.coalesce(F.col("prev_max"), F.lit(-1)))
        )
        .select("p_partkey", "price", F.col("sz").alias("size"))
    )


@query(
    "windowed_funnel_depth",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t1
  FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL 7 DAY
  GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL 7 DAY
  GROUP BY 1
), depth AS (
  SELECT v.user_id,
         CASE WHEN p.user_id IS NOT NULL THEN 3
              WHEN c.user_id IS NOT NULL THEN 2
              ELSE 1 END AS depth
  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
)
SELECT depth, count(*)::BIGINT AS n_users
FROM depth GROUP BY 1
""",
)
def q_windowed_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-windowFunnel-style depth: users advancing view →
    click-within-7-days → purchase-within-7-days-of-click (greedy
    first-event chain), bucketed by furthest stage reached. Three
    user-keyed conditional-min aggregates chained by filtered joins —
    every stage shuffles on the SAME user_id key, so at 100 TB the
    chain is one exchange reused (AQE coalesces), never an
    event-level self-join."""
    ev = load_table(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    depth = (
        v.join(c.select("user_id", F.lit(1).alias("__c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("__p")), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("__p").isNotNull(), 3)
            .when(F.col("__c").isNotNull(), 2)
            .otherwise(1)
            .alias("depth"),
        )
    )
    return depth.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "var_backtest_kupiec",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
v AS (
  SELECT symbol, timestamp, r,
         CASE WHEN count(r) OVER w >= 100
              THEN avg(r) OVER w
                   - 1.6448536269514722 * stddev_samp(r) OVER w END
           AS thr
  FROM rr
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
), b AS (
  SELECT symbol,
         CASE WHEN r < thr THEN 1 ELSE 0 END AS br,
         lag(CASE WHEN r < thr THEN 1 ELSE 0 END)
           OVER (PARTITION BY symbol ORDER BY timestamp) AS br_prev
  FROM v WHERE thr IS NOT NULL
), agg AS (
  SELECT symbol,
         count(*)::BIGINT AS n,
         sum(br)::BIGINT AS x,
         sum(CASE WHEN br_prev = 0 AND br = 0 THEN 1 ELSE 0 END)::BIGINT AS n00,
         sum(CASE WHEN br_prev = 0 AND br = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
         sum(CASE WHEN br_prev = 1 AND br = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
         sum(CASE WHEN br_prev = 1 AND br = 1 THEN 1 ELSE 0 END)::BIGINT AS n11
  FROM b GROUP BY 1
)
SELECT symbol, n, x,
       round(x / CAST(n AS DOUBLE), 6) AS breach_rate,
       round(CASE WHEN x > 0 AND x < n THEN
         -2.0 * ((n - x) * ln(1.0 - 0.05) + x * ln(0.05))
         + 2.0 * ((n - x) * ln(1.0 - x / CAST(n AS DOUBLE))
                  + x * ln(x / CAST(n AS DOUBLE))) END, 4) AS kupiec_lr,
       round(CASE WHEN n01 > 0 AND n00 > 0 AND n10 > 0 AND n11 > 0 THEN
         -2.0 * ((n00 + n10) * ln(1.0 - (n01 + n11)
                                        / CAST(n00 + n01 + n10 + n11 AS DOUBLE))
                 + (n01 + n11) * ln((n01 + n11)
                                    / CAST(n00 + n01 + n10 + n11 AS DOUBLE)))
         + 2.0 * (n00 * ln(1.0 - n01 / CAST(n00 + n01 AS DOUBLE))
                  + n01 * ln(n01 / CAST(n00 + n01 AS DOUBLE))
                  + n10 * ln(1.0 - n11 / CAST(n10 + n11 AS DOUBLE))
                  + n11 * ln(n11 / CAST(n10 + n11 AS DOUBLE))) END, 4)
         AS christoffersen_lr
FROM agg
""",
)
def q_var_backtest_kupiec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regulatory VaR backtest per symbol: a rolling parametric 95%
    VaR from the PRIOR 100 bars (1-PRECEDING frame — no lookahead)
    generates the breach series; Kupiec's proportion-of-failures LR
    tests coverage and Christoffersen's independence LR tests breach
    clustering (from the breach-transition counts). Integer counts
    all the way into the closed-form log-likelihoods; degenerate
    cells null the statistics identically in both engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    prior = w.rowsBetween(-100, -1)
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
    )
    thr = F.when(
        F.count("r").over(prior) >= 100,
        F.avg("r").over(prior)
        - 1.6448536269514722 * F.stddev_samp("r").over(prior),
    )
    b = (
        rr.withColumn("thr", thr)
        .filter(F.col("thr").isNotNull())
        .withColumn(
            "br", F.when(F.col("r") < F.col("thr"), 1).otherwise(0)
        )
        .withColumn("br_prev", F.lag("br").over(w))
    )
    tc = lambda a, c: F.sum(
        F.when((F.col("br_prev") == a) & (F.col("br") == c), 1).otherwise(0)
    ).cast("long")
    agg = b.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("br").cast("long").alias("x"),
        tc(0, 0).alias("n00"),
        tc(0, 1).alias("n01"),
        tc(1, 0).alias("n10"),
        tc(1, 1).alias("n11"),
    )
    n = F.col("n").cast("double")
    x = F.col("x").cast("double")
    pihat = x / n
    kupiec = F.when(
        (F.col("x") > 0) & (F.col("x") < F.col("n")),
        -2.0 * ((n - x) * F.log(F.lit(1.0 - 0.05)) + x * F.log(F.lit(0.05)))
        + 2.0 * ((n - x) * F.log(1.0 - pihat) + x * F.log(pihat)),
    )
    n00, n01, n10, n11 = (
        F.col("n00").cast("double"),
        F.col("n01").cast("double"),
        F.col("n10").cast("double"),
        F.col("n11").cast("double"),
    )
    tot = n00 + n01 + n10 + n11
    pi = (n01 + n11) / tot
    pi01 = n01 / (n00 + n01)
    pi11 = n11 / (n10 + n11)
    christ = F.when(
        (F.col("n01") > 0)
        & (F.col("n00") > 0)
        & (F.col("n10") > 0)
        & (F.col("n11") > 0),
        -2.0 * ((n00 + n10) * F.log(1.0 - pi) + (n01 + n11) * F.log(pi))
        + 2.0
        * (
            n00 * F.log(1.0 - pi01)
            + n01 * F.log(pi01)
            + n10 * F.log(1.0 - pi11)
            + n11 * F.log(pi11)
        ),
    )
    return agg.select(
        "symbol",
        "n",
        "x",
        F.round(x / n, 6).alias("breach_rate"),
        F.round(kupiec, 4).alias("kupiec_lr"),
        F.round(christ, 4).alias("christoffersen_lr"),
    )


@query(
    "event_seq_pairs",
    """
WITH firsts AS (
  SELECT user_id, event_type, min(ts) AS t
  FROM events GROUP BY 1, 2
)
SELECT a.event_type AS first_type, b.event_type AS then_type,
       sum(CASE WHEN a.t < b.t THEN 1 ELSE 0 END)::BIGINT AS n_ordered,
       count(*)::BIGINT AS n_both,
       round(sum(CASE WHEN a.t < b.t THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS order_propensity
FROM firsts a JOIN firsts b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
""",
)
def q_event_seq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern propensity for every unordered event-type
    pair: of the users who did BOTH types, what share did A strictly
    before B (first occurrences compared; ties count to neither,
    exact timestamps)? One user-keyed conditional-min aggregate +
    a user-local self-join on the ≤|types| rows per user — the
    any-gap complement of the adjacent-only
    ``event_transition_matrix``."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t")
    )
    a = firsts.select(
        "user_id", F.col("event_type").alias("first_type"), F.col("t").alias("ta")
    )
    b = firsts.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("then_type"),
        F.col("t").alias("tb"),
    )
    j = a.join(
        b,
        (F.col("user_id") == F.col("ub"))
        & (F.col("first_type") < F.col("then_type")),
    )
    ordered = F.sum(
        F.when(F.col("ta") < F.col("tb"), 1).otherwise(0)
    ).cast("long")
    return j.groupBy("first_type", "then_type").agg(
        ordered.alias("n_ordered"),
        F.count(F.lit(1)).alias("n_both"),
        F.round(
            ordered.cast("double") / F.count(F.lit(1)), 6
        ).alias("order_propensity"),
    )


@query(
    "ngram_containment_pairs",
    r"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         ELSE [array_to_string(toks, ' ')] END)) AS s
  FROM (SELECT doc_id, regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+') AS toks
        FROM documents)
), sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / least(x.sz, y.sz)::DOUBLE, 6) AS containment
FROM inter JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
WHERE i / least(x.sz, y.sz)::DOUBLE >= 0.8
""",
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram CONTAINMENT near-dup pairs (≥0.8, |A∩B|/min) —
    ``dedup.containment_pairs``: the asymmetric metric that catches
    quotes/excerpts whose Jaccard stays low because lengths differ.
    Same one-pass inverted-index pair expansion as
    ``ngram_jaccard_pairs``."""
    from financial_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, k=3, threshold=0.8)


@query(
    "heaps_law_fit",
    r"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
                            x -> x <> '')) AS tok
  FROM documents
), per_src AS (
  SELECT source, count(*)::DOUBLE AS n_tokens,
         count(DISTINCT tok)::DOUBLE AS vocab
  FROM toks GROUP BY 1
)
SELECT count(*)::BIGINT AS n_sources,
       round(covar_samp(ln(vocab), ln(n_tokens))
             / var_samp(ln(n_tokens)), 6) AS beta,
       round(exp(avg(ln(vocab))
                 - covar_samp(ln(vocab), ln(n_tokens))
                   / var_samp(ln(n_tokens)) * avg(ln(n_tokens))), 4) AS k,
       -- DEGENERATE-FIT GUARD: with a constant series (the synthetic
       -- corpus has identical vocab per source) corr is 0/0 — and the
       -- two engines' accumulation orders can land on either NaN or
       -- 0.0 of that indeterminate form (the r08 sf0.1 sweep caught
       -- the flake). Pin it: r2 is NULL unless both series carry real
       -- variance (relative threshold, no knife edge in practice).
       round(CASE WHEN var_samp(ln(vocab)) * 1e12
                    > pow(avg(ln(vocab)), 2) + 1e-300
                   AND var_samp(ln(n_tokens)) * 1e12
                    > pow(avg(ln(n_tokens)), 2) + 1e-300
              THEN pow(corr(ln(vocab), ln(n_tokens)), 2) END, 6) AS r2
FROM per_src
""",
)
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·nᵝ across sources: log-log OLS of vocab
    size on token count over the per-source points — 'how fast does
    vocabulary grow with corpus size' for tokenizer/mixture budgeting
    (natural text: β ≈ 0.4-0.6). One tokenize pass, one per-source
    count(+distinct) aggregate, one closed-form regression row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                ws_tokens(F.col("text")),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_tokens"),
        F.countDistinct("tok").cast("double").alias("vocab"),
    )
    lv, ln_ = F.log("vocab"), F.log("n_tokens")
    beta = F.covar_samp(lv, ln_) / F.var_samp(ln_)
    # degenerate-fit guard, mirroring the oracle: a constant series
    # makes corr an indeterminate 0/0 whose NaN-vs-0.0 outcome is
    # accumulation-order-dependent — r2 is NULL unless both series
    # carry real variance (relative threshold)
    has_var = (
        F.var_samp(lv) * 1e12 > F.pow(F.avg(lv), 2) + F.lit(1e-300)
    ) & (F.var_samp(ln_) * 1e12 > F.pow(F.avg(ln_), 2) + F.lit(1e-300))
    return per_src.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.round(beta, 6).alias("beta"),
        F.round(F.exp(F.avg(lv) - beta * F.avg(ln_)), 4).alias("k"),
        F.round(F.when(has_var, F.corr(lv, ln_) ** 2), 6).alias("r2"),
    )


@query(
    "copurchase_degree_hist",
    """
WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (
  SELECT a.l_partkey AS part, count(DISTINCT b.l_partkey) AS degree
  FROM pp a JOIN pp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1
)
SELECT degree::BIGINT AS degree, count(*)::BIGINT AS n_parts
FROM deg GROUP BY 1
""",
)
def q_copurchase_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph degree distribution: for each part, how many
    DISTINCT other parts ever share an order with it, histogrammed —
    the connectivity profile behind ``part_basket_rules``. The pair
    expansion is order-local (orders hold a handful of parts), so the
    self-join is keyed on l_orderkey and never quadratic in the
    catalog."""
    li = load_table(spark, sf_dir, "lineitem")
    # Lazy-pin the distinct (order, part) frame (r9, guide §5): both
    # sides of the self-join consume it, and unpinned each side re-ran
    # the lineitem scan + distinct aggregate (the before-plan shows
    # the duplicated subtree with its own Exchange on each side).
    pp = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    b = pp.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    deg = (
        pp.join(
            b,
            (F.col("l_orderkey") == F.col("ok"))
            & (F.col("l_partkey") != F.col("pb")),
        )
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.countDistinct("pb").alias("degree"))
    )
    return deg.groupBy(F.col("degree").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )


@query(
    "asof_forward_tolerance",
    "WITH bars AS ("
    + events_as_ohlcv_sql(240).strip()
    + """),
m AS (
  SELECT e.event_id, e.event_type AS symbol, e.ts, e.value,
         (SELECT min(b.timestamp) FROM bars b
          WHERE b.symbol = e.event_type AND b.timestamp >= e.ts
            AND b.timestamp <= e.ts + INTERVAL 6 HOUR) AS bar_ts
  FROM events e
)
SELECT m.event_id, m.symbol, epoch_us(m.ts) AS ts_us, m.value,
       b.close AS bar_close, epoch_us(m.bar_ts) AS bar_ts_us
FROM m LEFT JOIN bars b
  ON b.symbol = m.symbol AND b.timestamp = m.bar_ts
""",
)
def q_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with a 6-hour tolerance: every event gets the
    close of the FIRST 4h bar at-or-after it, or null past the
    tolerance (``operators.asof.asof_join(direction='forward',
    tolerance_seconds=21600)`` — same union+window merge composition,
    one by-key shuffle, no join operator). The oracle emulates forward
    semantics with a correlated min-subquery (DuckDB's native ASOF is
    backward-only) — exercising the operator's full direction ×
    tolerance surface."""
    from financial_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "event_id", F.col("event_type").alias("symbol"), "ts", "value"
    )
    bars = events_as_ohlcv(spark, sf_dir, 240).select(
        "symbol",
        F.col("timestamp").alias("ts"),
        F.col("close").alias("bar_close"),
    )
    j = asof_join(
        left,
        bars,
        on="ts",
        by="symbol",
        matched_ts_col="bar_ts",
        direction="forward",
        tolerance_seconds=6 * 3600,
    )
    return j.select(
        "event_id",
        "symbol",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        "bar_close",
        F.unix_micros("bar_ts").alias("bar_ts_us"),
    )


@query(
    "returns_anova_dow",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, dayofweek(timestamp) AS dow,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
g AS (
  SELECT symbol, dow, count(*)::DOUBLE AS ng, avg(r) AS mg,
         sum(r * r) - count(*) * avg(r) * avg(r) AS ssw_g
  FROM rr GROUP BY 1, 2
), tot AS (
  SELECT symbol, count(*)::DOUBLE AS n, avg(r) AS mu,
         count(DISTINCT dow)::DOUBLE AS k
  FROM rr GROUP BY 1
)
SELECT g.symbol,
       max(tot.n)::BIGINT AS n_obs,
       max(tot.k)::BIGINT AS k_groups,
       round(sum(g.ng * (g.mg - tot.mu) * (g.mg - tot.mu))
             / (max(tot.k) - 1)
             / (sum(g.ssw_g) / (max(tot.n) - max(tot.k))), 4) AS f_stat
FROM g JOIN tot USING (symbol)
GROUP BY 1
""",
)
def q_returns_anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of hourly log returns across day-of-week groups
    per symbol: F = between-group MS / within-group MS from one
    grouped aggregate (within-SS via the power-sum identity) — the
    parametric companion of ``ks_drift_by_dow`` for calendar-effect
    screening. Two keyed aggregates + a broadcast totals join."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.select(
            "symbol",
            F.dayofweek("timestamp").alias("dow"),
            F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
        )
        .filter(F.col("r").isNotNull())
    )
    g = rr.groupBy("symbol", "dow").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.avg("r").alias("mg"),
        (
            F.sum(F.col("r") * F.col("r"))
            - F.count(F.lit(1)) * F.avg("r") * F.avg("r")
        ).alias("ssw_g"),
    )
    tot = rr.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("r").alias("mu"),
        F.countDistinct("dow").cast("double").alias("k"),
    )
    j = g.join(F.broadcast(tot), "symbol")
    ssb = F.sum(
        F.col("ng") * (F.col("mg") - F.col("mu")) * (F.col("mg") - F.col("mu"))
    )
    return j.groupBy("symbol").agg(
        F.max("n").cast("long").alias("n_obs"),
        F.max("k").cast("long").alias("k_groups"),
        F.round(
            ssb
            / (F.max("k") - 1)
            / (F.sum("ssw_g") / (F.max("n") - F.max("k"))),
            4,
        ).alias("f_stat"),
    )


@query(
    "label_centroid_sims",
    """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT label, i, avg(v[i]) AS c
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
  GROUP BY 1, 2
), norms AS (
  SELECT label, sqrt(sum(c * c)) AS nrm, count(*)::BIGINT AS dim
  FROM dims GROUP BY 1
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
  FROM dims a JOIN dims b ON a.i = b.i AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       round(d.dot / (x.nrm * y.nrm), 6) AS cos_sim
FROM dots d
JOIN norms x ON x.label = d.label_a
JOIN norms y ON y.label = d.label_b
""",
)
def q_label_centroid_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the cluster-geometry sanity readout (well-separated
    labels → low off-diagonal cosine). Centroids come from ONE
    dimension-exploded aggregate (rows × dim, map-side combined, no
    vector collect); the label × label join runs on |labels|·dim
    rows. Dot products sum over the dim KEY, so the unordered-sum
    noise is identical in both engines at 6 dp."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    norms = dims.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = dims.select(
        F.col("label").alias("label_a"), "i", F.col("c").alias("ca")
    )
    b = dims.select(
        F.col("label").alias("label_b"),
        F.col("i").alias("ib"),
        F.col("c").alias("cb"),
    )
    dots = (
        a.join(
            b,
            (F.col("i") == F.col("ib"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return (
        dots.join(
            F.broadcast(
                norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
            ),
            "label_a",
        )
        .join(
            F.broadcast(
                norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
            ),
            "label_b",
        )
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cos_sim"
            ),
        )
    )


@query(
    "dfa_exponent",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
mu AS (SELECT symbol, avg(r) AS mu FROM rr GROUP BY 1),
prof AS (
  SELECT rr.symbol,
         sum(rr.r - mu.mu) OVER (PARTITION BY rr.symbol ORDER BY rr.timestamp
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS y,
         row_number() OVER (PARTITION BY rr.symbol
                            ORDER BY rr.timestamp) - 1 AS t
  FROM rr JOIN mu USING (symbol)
), scaled AS (
  SELECT p.symbol, s.n, p.y, p.t, p.t // s.n AS box,
         p.t % s.n AS u
  FROM prof p CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS n) s
), boxes AS (
  SELECT symbol, n, box,
         count(*) AS cnt,
         sum(y * y) - count(*) * avg(y) * avg(y) AS syy,
         sum(y * u) - count(*) * avg(y) * avg(u) AS sxy,
         sum(u * u) - count(*) * avg(u) * avg(u) AS sxx
  FROM scaled GROUP BY 1, 2, 3
), fn AS (
  SELECT symbol, n,
         sqrt(sum(syy - sxy * sxy / sxx) / sum(cnt)) AS f
  FROM boxes WHERE cnt = n GROUP BY 1, 2
)
SELECT symbol, count(*)::BIGINT AS n_scales,
       round(covar_samp(ln(f), ln(n)) / var_samp(ln(n)), 4) AS dfa_alpha,
       round(pow(corr(ln(f), ln(n)), 2), 6) AS fit_r2
FROM fn GROUP BY 1
""",
)
def q_dfa_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended Fluctuation Analysis exponent per symbol (scales
    8/16/32/64): the integrated profile is split into full boxes, a
    per-box LINEAR detrend's residual RMS comes from the closed-form
    OLS identity SSE = Syy − Sxy²/Sxx (one grouped aggregate — no
    per-box regression loop), and α is the log-log slope of F(n) —
    the trend-robust cousin of ``hurst_exponent`` (α ≈ 0.5 random
    walk, > 0.5 persistent). Scales fan out as a 4-row literal
    crossJoin; everything else is keyed on (symbol, scale, box)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.select(
            "symbol",
            "timestamp",
            F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
        )
        .filter(F.col("r").isNotNull())
    )
    mu = rr.groupBy("symbol").agg(F.avg("r").alias("mu"))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    prof = rr.join(F.broadcast(mu), "symbol").select(
        "symbol",
        F.sum(F.col("r") - F.col("mu")).over(cum).alias("y"),
        (F.row_number().over(w) - 1).alias("t"),
    )
    scales = F.explode(F.array(*[F.lit(n) for n in (8, 16, 32, 64)]))
    scaled = prof.select(
        "symbol", "y", "t", scales.alias("n")
    ).select(
        "symbol",
        "n",
        "y",
        (F.col("t") % F.col("n")).cast("double").alias("u"),
        F.floor(F.col("t") / F.col("n")).alias("box"),
    )
    cnt = F.count(F.lit(1))
    boxes = scaled.groupBy("symbol", "n", "box").agg(
        cnt.alias("cnt"),
        (F.sum(F.col("y") * F.col("y")) - cnt * F.avg("y") * F.avg("y")).alias(
            "syy"
        ),
        (F.sum(F.col("y") * F.col("u")) - cnt * F.avg("y") * F.avg("u")).alias(
            "sxy"
        ),
        (F.sum(F.col("u") * F.col("u")) - cnt * F.avg("u") * F.avg("u")).alias(
            "sxx"
        ),
    )
    fn = (
        boxes.filter(F.col("cnt") == F.col("n"))
        .groupBy("symbol", "n")
        .agg(
            F.sqrt(
                F.sum(
                    F.col("syy") - F.col("sxy") * F.col("sxy") / F.col("sxx")
                )
                / F.sum("cnt")
            ).alias("f")
        )
    )
    lf, ln_ = F.log("f"), F.log(F.col("n").cast("double"))
    return fn.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_scales"),
        F.round(F.covar_samp(lf, ln_) / F.var_samp(ln_), 4).alias(
            "dfa_alpha"
        ),
        F.round(F.corr(lf, ln_) ** 2, 6).alias("fit_r2"),
    )


@query(
    "lang_detect_kappa",
    "WITH pred AS ("
    + _lang_detect_sql().strip()
    + """),
conf AS (
  SELECT lang_actual, lang_pred, count(*)::DOUBLE AS c
  FROM pred GROUP BY 1, 2
), nn AS (SELECT sum(c) AS n FROM conf),
marg AS (
  SELECT coalesce(a.k, p.k) AS k,
         coalesce(a.ca, 0) AS ca, coalesce(p.cp, 0) AS cp
  FROM (SELECT lang_actual AS k, sum(c) AS ca FROM conf GROUP BY 1) a
  FULL JOIN (SELECT lang_pred AS k, sum(c) AS cp FROM conf GROUP BY 1) p
    ON a.k = p.k
), pe AS (
  SELECT sum(ca * cp) / (max(nn.n) * max(nn.n)) AS pe
  FROM marg CROSS JOIN nn
), po AS (
  SELECT sum(CASE WHEN lang_actual = lang_pred THEN c ELSE 0 END)
           / max(nn.n) AS po,
         max(nn.n)::BIGINT AS n_docs
  FROM conf CROSS JOIN nn
)
SELECT po.n_docs,
       round(po.po, 6) AS accuracy,
       round(pe.pe, 6) AS expected_agreement,
       round((po.po - pe.pe) / (1.0 - pe.pe), 6) AS kappa
FROM po CROSS JOIN pe
""",
)
def q_lang_detect_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the marker-based language detector against the
    labeled ``lang`` column: chance-corrected agreement from the
    confusion-matrix margins (full-join handles the asymmetric 'und'
    class). One detector pass + three tiny aggregates — the model-eval
    readout on top of ``lang_detect``/``nb_lang_score``."""
    from financial_data_pipeline_spark.operators.text import detect_language

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_actual"),
        detect_language("text").alias("lang_pred"),
    )
    # Lazy-pin the confusion matrix (r9, guide §5): FOUR subtrees
    # consume it (total, both margins, observed agreement) and each
    # re-ran the detector pass over the whole corpus; the matrix is
    # langs × langs rows at any corpus size.
    conf = (
        pred.groupBy("lang_actual", "lang_pred")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=False)
    )
    n = conf.agg(F.sum("c").alias("n"))
    a = conf.groupBy(F.col("lang_actual").alias("k")).agg(
        F.sum("c").alias("ca")
    )
    p = conf.groupBy(F.col("lang_pred").alias("kp")).agg(
        F.sum("c").alias("cp")
    )
    marg = a.join(p, a.k == p.kp, "full").select(
        F.coalesce(F.col("ca"), F.lit(0.0)).alias("ca"),
        F.coalesce(F.col("cp"), F.lit(0.0)).alias("cp"),
    )
    pe = marg.crossJoin(F.broadcast(n)).agg(
        (F.sum(F.col("ca") * F.col("cp")) / (F.max("n") * F.max("n"))).alias(
            "pe"
        )
    )
    po = conf.crossJoin(F.broadcast(n)).agg(
        (
            F.sum(
                F.when(
                    F.col("lang_actual") == F.col("lang_pred"), F.col("c")
                ).otherwise(0.0)
            )
            / F.max("n")
        ).alias("po"),
        F.max("n").cast("long").alias("n_docs"),
    )
    j = po.crossJoin(F.broadcast(pe))
    return j.select(
        "n_docs",
        F.round("po", 6).alias("accuracy"),
        F.round("pe", 6).alias("expected_agreement"),
        F.round(
            (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")), 6
        ).alias("kappa"),
    )


@query(
    "term_burstiness",
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
                            x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT tok, doc_id, count(*)::DOUBLE AS c FROM toks GROUP BY 1, 2
), nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
stats AS (
  SELECT tok,
         sum(c) AS total,
         count(*)::BIGINT AS df,
         sum(c) / max(nd.n_docs) AS mean_c,
         (sum(c * c) - sum(c) * sum(c) / max(nd.n_docs))
           / (max(nd.n_docs) - 1) AS var_c
  FROM tf CROSS JOIN nd GROUP BY tok
)
SELECT tok, total::BIGINT AS total, df,
       round(var_c / mean_c, 4) AS vmr
FROM stats
ORDER BY total DESC, tok ASC
LIMIT 20
""",
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness of the 20 most frequent terms:
    variance-to-mean ratio of per-document counts with ABSENT docs
    counted as zeros (the power-sum identity over n_docs — no dense
    zero-fill materializes). VMR ≈ 1 is Poisson scatter; bursty
    content words run high, function words low — the signal behind
    stopword lists and term-weighting choices."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                ws_tokens(F.col("text")),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    tf = toks.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    n = F.max("n_docs")
    stats = tf.crossJoin(F.broadcast(nd)).groupBy("tok").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("df"),
        (F.sum("c") / n).alias("mean_c"),
        (
            (F.sum(F.col("c") * F.col("c")) - F.sum("c") * F.sum("c") / n)
            / (n - 1)
        ).alias("var_c"),
    )
    return (
        stats.select(
            "tok",
            F.col("total").cast("long").alias("total"),
            "df",
            F.round(F.col("var_c") / F.col("mean_c"), 4).alias("vmr"),
        )
        .orderBy(F.desc("total"), F.asc("tok"))
        .limit(20)
    )


@query(
    "doc_keywords",
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
                            x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2
), df AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * ln((nd.n + 1.0) / (df.df + 1.0)), 8) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN nd
)
SELECT doc_id, tok AS keyword, tfidf,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, tok ASC) AS rank
FROM scored
QUALIFY rank <= 3
""",
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed IDF, score rounded
    to 8 dp BEFORE the (score, term) rank so tie-breaks are engine-
    identical) — the per-document extraction complement of the
    corpus-level ``tfidf_top_terms``. One tokenize pass, two count
    aggregates, one per-doc top-k window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                ws_tokens(F.col("text")),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    # NOT pinned (r9, measured): a lazy localCheckpoint here REGRESSED
    # 1.1s -> 5.0s — the pin saves one tokenize pass but pays per-run
    # materialization + an RDD boundary that breaks codegen fusion of
    # the explode into both aggregates (see OPTIMIZATION_r09.md §15).
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                8,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("tok").alias("keyword"), "tfidf", "rank")
    )


@query(
    "ewma_control_chart",
    """
WITH RECURSIVE cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*)::DOUBLE AS c
  FROM events GROUP BY 1, 2
), base AS (
  SELECT event_type, hour, c,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
  FROM cnt
), rec AS (
  SELECT event_type, hour, rn, c, c AS z FROM base WHERE rn = 1
  UNION ALL
  SELECT b.event_type, b.hour, b.rn, b.c,
         0.2 * b.c + (1.0::DOUBLE - 0.2::DOUBLE) * r.z AS z
  FROM rec r JOIN base b
    ON b.event_type = r.event_type AND b.rn = r.rn + 1
), lim AS (
  SELECT event_type, avg(c) AS mu, stddev_samp(c) AS sd
  FROM cnt GROUP BY 1
)
SELECT r.event_type, epoch_us(r.hour) AS hour_us,
       r.c::BIGINT AS n_events,
       round(r.z, 6) AS ewma,
       round(l.mu + 3.0 * l.sd * sqrt(0.2 / (2.0 - 0.2)), 6) AS ucl,
       round(l.mu - 3.0 * l.sd * sqrt(0.2 / (2.0 - 0.2)), 6) AS lcl,
       (round(r.z, 6) > round(l.mu + 3.0 * l.sd * sqrt(0.2 / (2.0 - 0.2)), 6)
        OR round(r.z, 6) < round(l.mu - 3.0 * l.sd * sqrt(0.2 / (2.0 - 0.2)), 6))
         AS breach
FROM rec r JOIN lim l USING (event_type)
""",
)
def q_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ=0.2, 3σ asymptotic limits) over hourly
    event counts per type — the SPC monitoring layer next to
    ``cusum_changepoints``: slow drifts in arrival rate breach the
    chart long before a raw-count threshold fires. The EWMA is the
    ``ema_truncated`` codegen fold (span 9 ⇒ α exactly 0.2); the
    oracle replays the exact recursion as a recursive CTE; breach
    flags derive from the ROUNDED statistic and limits, so the
    boolean is a pure function of hash-compared values. Empty hours
    are absent from the series by construction (both engines bucket
    identically)."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    z = indicators.ema_truncated("c", 9, by=["event_type"], ts="hour")
    lam = 0.2
    lim = cnt.groupBy("event_type").agg(
        F.avg("c").alias("mu"), F.stddev_samp("c").alias("sd")
    )
    half_width = 3.0 * F.col("sd") * F.sqrt(F.lit(lam / (2.0 - lam)))
    staged = (
        cnt.withColumn("z", z)
        .join(F.broadcast(lim), "event_type")
        .select(
            "event_type",
            F.unix_micros("hour").alias("hour_us"),
            F.col("c").cast("long").alias("n_events"),
            F.round("z", 6).alias("ewma"),
            F.round(F.col("mu") + half_width, 6).alias("ucl"),
            F.round(F.col("mu") - half_width, 6).alias("lcl"),
        )
    )
    return staged.withColumn(
        "breach",
        (F.col("ewma") > F.col("ucl")) | (F.col("ewma") < F.col("lcl")),
    )


@query(
    "event_trigram_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type AS t1,
         lead(event_type) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT t1, t2, t3, count(*) AS c
  FROM seq WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
)
SELECT t1, t2, t3, c AS transitions,
       round(c / CAST(sum(c) OVER (PARTITION BY t1, t2) AS DOUBLE), 6)
         AS probability
FROM tri
""",
)
def q_event_trigram_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov transitions P(next | prev two) of user
    event types: two lead windows on one per-user sort build trigrams,
    one count aggregate, row-normalization over the tiny (types³)
    frame — does history beyond one step matter (compare against
    ``event_transition_matrix``'s first-order rows)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    tri = seq.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).alias("transitions")
    )
    tot = Window.partitionBy("t1", "t2")
    return tri.select(
        "t1",
        "t2",
        "t3",
        "transitions",
        F.round(
            F.col("transitions")
            / F.sum("transitions").over(tot).cast("double"),
            6,
        ).alias("probability"),
    )


@query(
    "source_kl_divergence",
    r"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
                            x -> x <> '')) AS tok
  FROM documents
), st AS (
  SELECT source, tok, count(*)::DOUBLE AS c FROM toks GROUP BY 1, 2
), ct AS (SELECT tok, sum(c) AS cf FROM st GROUP BY 1),
totals AS (
  SELECT (SELECT sum(cf) FROM ct) AS n_corpus,
         (SELECT count(*) FROM ct)::DOUBLE AS v
), ssum AS (SELECT source, sum(c) AS n_src FROM st GROUP BY 1)
SELECT st.source,
       ssum.n_src::BIGINT AS n_tokens,
       count(*)::BIGINT AS vocab_src,
       round(sum((st.c / ssum.n_src)
                 * ln((st.c / ssum.n_src)
                      / ((ct.cf + 1.0) / (totals.n_corpus + totals.v)))),
             6) AS kl_vs_corpus
FROM st
JOIN ct USING (tok)
JOIN ssum USING (source)
CROSS JOIN totals
GROUP BY 1, 2
""",
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram token distributions per
    source (corpus side add-one smoothed over the shared vocabulary,
    so every source token has a defined q) — 'how far does each
    source's language drift from the mixture', the divergence
    companion of ``categorical_psi_sources`` at token granularity.
    One tokenize pass, two count aggregates, a tok-keyed join (AQE
    absorbs stopword skew) and a one-row totals crossJoin."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                ws_tokens(F.col("text")),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    st = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    ct = st.groupBy("tok").agg(F.sum("c").alias("cf"))
    totals = ct.agg(
        F.sum("cf").alias("n_corpus"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    ssum = st.groupBy("source").agg(F.sum("c").alias("n_src"))
    p = F.col("c") / F.col("n_src")
    q = (F.col("cf") + 1.0) / (F.col("n_corpus") + F.col("v"))
    j = (
        st.join(ct, "tok")
        .join(F.broadcast(ssum), "source")
        .crossJoin(F.broadcast(totals))
    )
    return j.groupBy(
        "source", F.col("n_src").cast("long").alias("n_tokens")
    ).agg(
        F.count(F.lit(1)).alias("vocab_src"),
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
    )


@query(
    "yang_zhang_vol",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, CAST(timestamp AS DATE) AS day,
         arg_min(open, epoch_us(timestamp)) AS o,
         max(high) AS h, min(low) AS l,
         arg_max(close, epoch_us(timestamp)) AS c
  FROM bars GROUP BY 1, 2
  -- low ≤ o,c ≤ high by construction, so min(low) > 0 makes every log
  -- argument positive; a non-positive day has no defined log-range
  -- estimator (DuckDB errors on ln(0), Spark nulls — the r08 sf0.1
  -- sweep hit the error). Drop BEFORE the lag for aligned day chains.
  HAVING min(low) > 0
), t AS (
  SELECT symbol,
         ln(o / lag(c) OVER w) AS ov,
         ln(c / o) AS cc,
         ln(h / o) * (ln(h / o) - ln(c / o))
           + ln(l / o) * (ln(l / o) - ln(c / o)) AS rs
  FROM daily WINDOW w AS (PARTITION BY symbol ORDER BY day)
), tt AS (SELECT * FROM t WHERE ov IS NOT NULL)
SELECT symbol,
       count(*)::BIGINT AS n_days,
       round(sqrt(var_samp(ov)), 6) AS sigma_overnight,
       round(sqrt(var_samp(cc)), 6) AS sigma_open_close,
       round(sqrt(avg(rs)), 6) AS sigma_rs,
       round(sqrt(var_samp(ov)
                  + (0.34 / (1.34 + (count(*) + 1.0) / (count(*) - 1.0)))
                    * var_samp(cc)
                  + (1.0 - 0.34 / (1.34 + (count(*) + 1.0)
                                   / (count(*) - 1.0))) * avg(rs)), 6)
         AS sigma_yang_zhang
FROM tt GROUP BY 1
""",
)
def q_yang_zhang_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yang-Zhang volatility per symbol from daily OHLC (aggregated
    from the hourly bars): the minimum-variance drift-independent
    estimator combining overnight variance, open-to-close variance
    and the Rogers-Satchell term with the canonical k weight — one
    daily rollup, one lag window, one aggregate. Completes the range-
    estimator family next to ``range_volatility``
    (Parkinson/Garman-Klass)."""
    bars = events_as_ohlcv(spark, sf_dir)
    us = F.unix_micros("timestamp")
    daily = (
        bars.groupBy("symbol", F.to_date("timestamp").alias("day"))
        .agg(
            F.min_by("open", us).alias("o"),
            F.max("high").alias("h"),
            F.min("low").alias("l"),
            F.max_by("close", us).alias("c"),
        )
        # non-positive low → some log argument ≤ 0 (low ≤ o,c ≤ high);
        # drop BEFORE the lag, mirroring the oracle's HAVING
        .filter(F.col("l") > 0)
    )
    w = Window.partitionBy("symbol").orderBy("day")
    t = daily.select(
        "symbol",
        F.log(F.col("o") / F.lag("c").over(w)).alias("ov"),
        F.log(F.col("c") / F.col("o")).alias("cc"),
        (
            F.log(F.col("h") / F.col("o"))
            * (F.log(F.col("h") / F.col("o")) - F.log(F.col("c") / F.col("o")))
            + F.log(F.col("l") / F.col("o"))
            * (F.log(F.col("l") / F.col("o")) - F.log(F.col("c") / F.col("o")))
        ).alias("rs"),
    ).filter(F.col("ov").isNotNull())
    n = F.count(F.lit(1)).cast("double")
    k = 0.34 / (1.34 + (n + 1.0) / (n - 1.0))
    return t.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.sqrt(F.var_samp("ov")), 6).alias("sigma_overnight"),
        F.round(F.sqrt(F.var_samp("cc")), 6).alias("sigma_open_close"),
        F.round(F.sqrt(F.avg("rs")), 6).alias("sigma_rs"),
        F.round(
            F.sqrt(
                F.var_samp("ov") + k * F.var_samp("cc") + (1.0 - k) * F.avg("rs")
            ),
            6,
        ).alias("sigma_yang_zhang"),
    )


@query(
    "lo_adjusted_sharpe",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (
  SELECT symbol, r,
         lag(r, 1) OVER w AS r1, lag(r, 2) OVER w AS r2,
         lag(r, 3) OVER w AS r3, lag(r, 4) OVER w AS r4,
         lag(r, 5) OVER w AS r5
  FROM r WHERE r IS NOT NULL
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), agg AS (
  SELECT symbol, count(*)::BIGINT AS n_obs,
         avg(r) / stddev_samp(r) AS sr,
         corr(r, r1) AS p1, corr(r, r2) AS p2, corr(r, r3) AS p3,
         corr(r, r4) AS p4, corr(r, r5) AS p5
  FROM rr GROUP BY 1
)
SELECT symbol, n_obs,
       round(sr, 6) AS sharpe_per_bar,
       round(CASE WHEN 24.0 + 2.0 * ((24 - 1) * p1 + (24 - 2) * p2
                                     + (24 - 3) * p3 + (24 - 4) * p4
                                     + (24 - 5) * p5) > 0
             THEN sr * sqrt(24.0)
                  / sqrt(24.0 + 2.0 * ((24 - 1) * p1 + (24 - 2) * p2
                                       + (24 - 3) * p3 + (24 - 4) * p4
                                       + (24 - 5) * p5)) END, 6)
         AS sharpe_daily_lo,
       round(sr * sqrt(24.0), 6) AS sharpe_daily_iid
FROM agg
""",
)
def q_lo_adjusted_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo (2002) autocorrelation-adjusted Sharpe: the per-bar SR scaled
    to daily (q=24 hourly bars) with the √q replaced by
    q/√(q + 2Σ(q−k)ρ_k) over the first five return autocorrelations —
    serial correlation makes naive √q annualization overstate SR.
    One lag fan-out + one aggregate (corr pairs); the windows share
    the per-symbol sort. Null when the adjustment denominator is
    non-positive (extreme negative autocorrelation — the estimator's
    own domain limit, guarded identically in both engines)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
    )
    for i in range(1, 6):
        rr = rr.withColumn(f"r{i}", F.lag("r", i).over(w))
    q = 24.0
    agg = rr.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.avg("r") / F.stddev_samp("r")).alias("sr"),
        *[F.corr("r", f"r{i}").alias(f"p{i}") for i in range(1, 6)],
    )
    denom = q + 2.0 * sum(
        (q - i) * F.col(f"p{i}") for i in range(1, 6)
    )
    return agg.select(
        "symbol",
        "n_obs",
        F.round("sr", 6).alias("sharpe_per_bar"),
        F.round(
            F.when(denom > 0, F.col("sr") * F.sqrt(F.lit(q)) / F.sqrt(denom)),
            6,
        ).alias("sharpe_daily_lo"),
        F.round(F.col("sr") * F.sqrt(F.lit(q)), 6).alias(
            "sharpe_daily_iid"
        ),
    )


@query(
    "revenue_mom_yoy",
    """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         round(sum(o_totalprice), 2) AS revenue,
         count(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1
)
SELECT strftime(month, '%Y-%m-%d %H:%M:%S') AS month, revenue, n_orders,
       round(100.0 * (revenue / lag(revenue) OVER (ORDER BY month) - 1.0), 4)
         AS mom_pct,
       round(100.0 * (revenue / lag(revenue, 12) OVER (ORDER BY month) - 1.0),
             4) AS yoy_pct,
       round(avg(revenue) OVER (ORDER BY month
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             2) AS rev_3mo_avg
FROM m
""",
)
def q_revenue_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with MoM %, YoY % (lag 12) and a trailing
    3-month average — the canonical BI growth readout over the
    multi-year orders table. The global windows run on the per-MONTH
    aggregate (≤ ~84 rows across TPC-H's seven years), never the
    fact table; revenue is pre-rounded so the growth ratios divide
    identical numerators in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    w3 = w.rowsBetween(-2, 0)
    return m.select(
        F.col("month").cast("string").alias("month"),
        "revenue",
        "n_orders",
        F.round(
            100.0 * (F.col("revenue") / F.lag("revenue").over(w) - 1.0), 4
        ).alias("mom_pct"),
        F.round(
            100.0 * (F.col("revenue") / F.lag("revenue", 12).over(w) - 1.0),
            4,
        ).alias("yoy_pct"),
        F.round(F.avg("revenue").over(w3), 2).alias("rev_3mo_avg"),
    )


@query(
    "cohort_ltv_by_year",
    """
WITH first_order AS (
  SELECT o_custkey, min(year(o_orderdate)) AS cohort_year
  FROM orders GROUP BY 1
), rev AS (
  SELECT f.cohort_year,
         year(o.o_orderdate) - f.cohort_year AS age_years,
         sum(o.o_totalprice) AS revenue,
         count(DISTINCT o.o_custkey) AS active_customers
  FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
), size_ AS (
  SELECT cohort_year, count(*)::BIGINT AS cohort_size
  FROM first_order GROUP BY 1
)
SELECT r.cohort_year, r.age_years, s.cohort_size,
       r.active_customers::BIGINT AS active_customers,
       round(r.revenue, 2) AS revenue,
       round(sum(r.revenue) OVER (PARTITION BY r.cohort_year
                                  ORDER BY r.age_years) / s.cohort_size, 4)
         AS cum_ltv_per_customer
FROM rev r JOIN size_ s USING (cohort_year)
""",
)
def q_cohort_ltv_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-cohort LTV curves: customers grouped by first-order
    year, revenue tracked by cohort age, cumulative LTV per customer
    via a window over the tiny (cohort × age) grid — the acquisition-
    vintage view behind ``cohort_retention`` (which tracks presence,
    not value). Two user-keyed aggregates + one grid window."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    rev = (
        orders.join(first, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year")).alias(
                "age_years"
            ),
        )
        .agg(
            F.sum("o_totalprice").alias("revenue"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )
    size_ = first.groupBy("cohort_year").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = Window.partitionBy("cohort_year").orderBy("age_years").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.join(F.broadcast(size_), "cohort_year")
        .select(
            "cohort_year",
            "age_years",
            "cohort_size",
            F.col("active_customers").cast("long").alias(
                "active_customers"
            ),
            F.round("revenue", 2).alias("revenue"),
            F.round(
                F.sum("revenue").over(w) / F.col("cohort_size"), 4
            ).alias("cum_ltv_per_customer"),
        )
    )


@query(
    "discount_elasticity",
    """
WITH b AS (
  SELECT round(l_discount, 2) AS discount,
         l_quantity,
         l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem
)
SELECT discount,
       count(*)::BIGINT AS n_lines,
       round(avg(l_quantity), 4) AS avg_qty,
       round(sum(rev), 2) AS revenue
FROM b GROUP BY 1
""",
)
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand response by discount level: line count, mean quantity
    and net revenue per discount tier (discounts are fixed 1%-steps,
    rounded to a stable 2-dp group key) — the pricing-analytics
    readout behind ``discount_revenue_delta``. One grouped
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_discount", 2).alias("discount"),
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return b.groupBy("discount").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.sum("rev"), 2).alias("revenue"),
    )


@query(
    "order_line_hist",
    """
WITH per_order AS (
  SELECT l_orderkey, count(*)::BIGINT AS n_lines
  FROM lineitem GROUP BY 1
)
SELECT n_lines, count(*)::BIGINT AS n_orders
FROM per_order GROUP BY 1
""",
)
def q_order_line_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size histogram: line count per order, then orders per
    line count — the basket-size distribution companion of
    ``customer_order_distribution`` (orders per customer). Two
    map-side-combined aggregates, both keyed."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    return per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "levene_test_dow",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, dayofweek(timestamp) AS dow,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
med AS (
  SELECT symbol, dow, quantile_cont(r, 0.5) AS med
  FROM rr GROUP BY 1, 2
), z AS (
  SELECT rr.symbol, rr.dow, abs(rr.r - med.med) AS z
  FROM rr JOIN med USING (symbol, dow)
), g AS (
  SELECT symbol, dow, count(*)::DOUBLE AS ng, avg(z) AS mg,
         sum(z * z) - count(*) * avg(z) * avg(z) AS ssw_g
  FROM z GROUP BY 1, 2
), tot AS (
  SELECT symbol, count(*)::DOUBLE AS n, avg(z) AS mu,
         count(DISTINCT dow)::DOUBLE AS k
  FROM z GROUP BY 1
)
SELECT g.symbol,
       max(tot.n)::BIGINT AS n_obs,
       max(tot.k)::BIGINT AS k_groups,
       round(sum(g.ng * (g.mg - tot.mu) * (g.mg - tot.mu))
             / (max(tot.k) - 1)
             / (sum(g.ssw_g) / (max(tot.n) - max(tot.k))), 4)
         AS levene_w
FROM g JOIN tot USING (symbol)
GROUP BY 1
""",
)
def q_levene_test_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe/Levene variance-homogeneity test across
    day-of-week groups per symbol: the ANOVA F applied to absolute
    deviations from the GROUP MEDIAN (the robust variant) — 'does
    volatility itself vary by weekday', the second-moment companion
    of ``returns_anova_dow``. Exact group medians broadcast back,
    then the same two-aggregate F pipeline."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.select(
            "symbol",
            F.dayofweek("timestamp").alias("dow"),
            F.log(F.col("close") / F.lag("close").over(w)).alias("r"),
        )
        .filter(F.col("r").isNotNull())
    )
    med = rr.groupBy("symbol", "dow").agg(
        F.percentile("r", F.lit(0.5)).alias("med")
    )
    z = rr.join(F.broadcast(med), ["symbol", "dow"]).select(
        "symbol", "dow", F.abs(F.col("r") - F.col("med")).alias("z")
    )
    g = z.groupBy("symbol", "dow").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.avg("z").alias("mg"),
        (
            F.sum(F.col("z") * F.col("z"))
            - F.count(F.lit(1)) * F.avg("z") * F.avg("z")
        ).alias("ssw_g"),
    )
    tot = z.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("z").alias("mu"),
        F.countDistinct("dow").cast("double").alias("k"),
    )
    j = g.join(F.broadcast(tot), "symbol")
    ssb = F.sum(
        F.col("ng") * (F.col("mg") - F.col("mu")) * (F.col("mg") - F.col("mu"))
    )
    return j.groupBy("symbol").agg(
        F.max("n").cast("long").alias("n_obs"),
        F.max("k").cast("long").alias("k_groups"),
        F.round(
            ssb
            / (F.max("k") - 1)
            / (F.sum("ssw_g") / (F.max("n") - F.max("k"))),
            4,
        ).alias("levene_w"),
    )


@query(
    "silhouette_by_label",
    """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
          WHERE embedding IS NOT NULL),
pairs AS (
  SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
         round(sqrt(list_reduce(
           list_transform(range(1, len(a.v) + 1),
                          t -> (a.v[t] - b.v[t]) * (a.v[t] - b.v[t])),
           (s, x) -> s + x)), 8) AS d
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), md AS (
  SELECT i, li, lj, avg(d) AS mean_d FROM pairs GROUP BY 1, 2, 3
), ab AS (
  SELECT i, li,
         max(CASE WHEN li = lj THEN mean_d END) AS a,
         min(CASE WHEN li <> lj THEN mean_d END) AS b
  FROM md GROUP BY 1, 2
)
SELECT li AS label,
       count(*)::BIGINT AS n_vecs,
       round(avg((b - a) / greatest(a, b)), 6) AS mean_silhouette
FROM ab WHERE a IS NOT NULL AND b IS NOT NULL
GROUP BY 1
""",
)
def q_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean silhouette coefficient per label over the embeddings
    ((b−a)/max(a,b): a = mean distance to own label, b = lowest mean
    distance to any other label) — THE cluster-separation score, fully
    relational on the same rounded-distance pair frame as
    ``lof_outliers`` (repartitioned pair join, exact at this scale;
    see ``silhouette_by_label_blocked`` for the shipped scale path).
    Points whose label has no second member drop out identically in
    both engines."""
    from financial_data_pipeline_spark.operators.similarity import (
        silhouette_by_label,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = silhouette_by_label(emb)
    return out.select(
        "label",
        "n_vecs",
        F.round("mean_silhouette", 6).alias("mean_silhouette"),
    )


@query(
    "cluster_validity_indices",
    """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT label, i, avg(v[i]) AS c, count(*) AS nl
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
  GROUP BY 1, 2
), gdims AS (SELECT i, avg(c_all) AS g FROM (
  SELECT i, v[i] AS c_all FROM e, unnest(generate_series(1, len(v))) AS t(i)
) GROUP BY 1),
pt AS (
  SELECT e.vec_id, e.label,
         sum((e.v[d.i] - d.c) * (e.v[d.i] - d.c)) AS sq_to_centroid
  FROM e JOIN dims d ON d.label = e.label
  GROUP BY 1, 2
), s AS (
  SELECT label, count(*)::DOUBLE AS nl, avg(sqrt(sq_to_centroid)) AS s,
         sum(sq_to_centroid) AS wss
  FROM pt GROUP BY 1
), bs AS (
  SELECT d.label, sum((d.c - g.g) * (d.c - g.g)) AS sq_to_global
  FROM dims d JOIN gdims g USING (i) GROUP BY 1
), cd AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(sum((a.c - b.c) * (a.c - b.c))) AS d
  FROM dims a JOIN dims b ON a.i = b.i AND a.label <> b.label
  GROUP BY 1, 2
), db_terms AS (
  SELECT cd.la, max((sa.s + sb.s) / cd.d) AS r
  FROM cd JOIN s sa ON sa.label = cd.la JOIN s sb ON sb.label = cd.lb
  GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM e)::DOUBLE AS n,
         (SELECT count(*) FROM s)::DOUBLE AS k
)
SELECT tot.n::BIGINT AS n_vecs, tot.k::BIGINT AS k_labels,
       round((SELECT sum(bs.sq_to_global * s.nl)
              FROM bs JOIN s USING (label)) / (tot.k - 1)
             / ((SELECT sum(wss) FROM s) / (tot.n - tot.k)), 4)
         AS calinski_harabasz,
       round((SELECT avg(r) FROM db_terms), 6) AS davies_bouldin
FROM tot
""",
)
def q_cluster_validity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz (between/within dispersion ratio) and
    Davies-Bouldin (worst centroid-pair compactness-to-separation)
    over the labeled embeddings — the two centroid-based cluster
    validity scores next to the pointwise ``silhouette_by_label``.
    Everything flows from ONE dimension-exploded centroid aggregate:
    no point-pair join at all, so this is the O(n·d) scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # NOT pinned (r9, measured): lazy localCheckpoints on ex/dims/s
    # REGRESSED 2.1s -> 3.5s — the posexplode is cheap to recompute
    # inside fused codegen, while the pins pay per-run materialization
    # + RDD-boundary scans (see OPTIMIZATION_r09.md §15).
    ex = e.select("vec_id", "label", F.posexplode("v").alias("i", "x"))
    dims = ex.groupBy("label", "i").agg(
        F.avg("x").alias("c"), F.count(F.lit(1)).alias("nl")
    )
    gdims = ex.groupBy("i").agg(F.avg("x").alias("g"))
    pt = (
        ex.join(F.broadcast(dims.select("label", "i", "c")), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias(
                "sq_to_centroid"
            )
        )
    )
    s = pt.groupBy("label").agg(
        F.count(F.lit(1)).cast("double").alias("nl"),
        F.avg(F.sqrt("sq_to_centroid")).alias("s"),
        F.sum("sq_to_centroid").alias("wss"),
    )
    bs = (
        dims.join(F.broadcast(gdims), "i")
        .groupBy("label")
        .agg(
            F.sum((F.col("c") - F.col("g")) * (F.col("c") - F.col("g"))).alias(
                "sq_to_global"
            )
        )
    )
    da = dims.select(F.col("label").alias("la"), "i", F.col("c").alias("ca"))
    db_ = dims.select(
        F.col("label").alias("lb"), F.col("i").alias("ib"), F.col("c").alias("cb")
    )
    cd = (
        da.join(
            db_,
            (F.col("i") == F.col("ib")) & (F.col("la") != F.col("lb")),
        )
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            ).alias("d")
        )
    )
    sa = s.select(F.col("label").alias("la"), F.col("s").alias("s_a"))
    sb = s.select(F.col("label").alias("lb"), F.col("s").alias("s_b"))
    db_terms = (
        cd.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .groupBy("la")
        .agg(F.max((F.col("s_a") + F.col("s_b")) / F.col("d")).alias("r"))
    )
    ssb = (
        bs.join(s.select("label", "nl"), "label")
        .agg(F.sum(F.col("sq_to_global") * F.col("nl")).alias("ssb"))
    )
    wss = s.agg(F.sum("wss").alias("wss"), F.count(F.lit(1)).cast("double").alias("k"))
    n = e.agg(F.count(F.lit(1)).cast("double").alias("n"))
    db_avg = db_terms.agg(F.avg("r").alias("db"))
    j = (
        ssb.crossJoin(F.broadcast(wss))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(db_avg))
    )
    return j.select(
        F.col("n").cast("long").alias("n_vecs"),
        F.col("k").cast("long").alias("k_labels"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("wss") / (F.col("n") - F.col("k"))),
            4,
        ).alias("calinski_harabasz"),
        F.round(F.col("db"), 6).alias("davies_bouldin"),
    )


@query(
    "lang_source_mutual_info",
    """
WITH o AS (
  SELECT lang, source, count(*)::DOUBLE AS c
  FROM documents GROUP BY 1, 2
), n AS (SELECT sum(c) AS n FROM o),
rm AS (SELECT lang, sum(c) AS rt FROM o GROUP BY 1),
cm AS (SELECT source, sum(c) AS ct FROM o GROUP BY 1),
mi AS (
  SELECT sum((o.c / n.n) * ln((o.c / n.n) / ((rm.rt / n.n) * (cm.ct / n.n))))
           AS mi
  FROM o JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN n
), ents AS (
  SELECT (SELECT -sum((rt / n.n) * ln(rt / n.n)) FROM rm CROSS JOIN n) AS hx,
         (SELECT -sum((ct / n.n) * ln(ct / n.n)) FROM cm CROSS JOIN n) AS hy
)
SELECT (SELECT n FROM n)::BIGINT AS n_docs,
       round(mi.mi, 6) AS mutual_info_nats,
       round(ents.hx, 6) AS h_lang,
       round(ents.hy, 6) AS h_source,
       round(mi.mi / sqrt(ents.hx * ents.hy), 6) AS nmi
FROM mi CROSS JOIN ents
""",
)
def q_lang_source_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and √(H·H)-normalized NMI) between language
    and source from the observed contingency cells — the information-
    theoretic twin of ``lang_source_assoc``'s χ²/Cramér's V. Margins
    broadcast onto the tiny cell frame; absent cells contribute zero
    by definition (0·ln0 = 0), so summing observed cells is exact."""
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    n = o.agg(F.sum("c").alias("n"))
    rm = o.groupBy("lang").agg(F.sum("c").alias("rt"))
    cm = o.groupBy("source").agg(F.sum("c").alias("ct"))
    cells = (
        o.join(F.broadcast(rm), "lang")
        .join(F.broadcast(cm), "source")
        .crossJoin(F.broadcast(n))
    )
    p = F.col("c") / F.col("n")
    px = F.col("rt") / F.col("n")
    py = F.col("ct") / F.col("n")
    mi = cells.agg(
        F.sum(p * F.log(p / (px * py))).alias("mi"),
        F.max("n").alias("n"),
    )
    hx = rm.crossJoin(F.broadcast(n)).agg(
        (-F.sum((F.col("rt") / F.col("n")) * F.log(F.col("rt") / F.col("n")))).alias("hx")
    )
    hy = cm.crossJoin(F.broadcast(n)).agg(
        (-F.sum((F.col("ct") / F.col("n")) * F.log(F.col("ct") / F.col("n")))).alias("hy")
    )
    j = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    return j.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round("mi", 6).alias("mutual_info_nats"),
        F.round("hx", 6).alias("h_lang"),
        F.round("hy", 6).alias("h_source"),
        F.round(
            F.col("mi") / F.sqrt(F.col("hx") * F.col("hy")), 6
        ).alias("nmi"),
    )


@query(
    "conditional_beta",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
mkt AS (
  SELECT timestamp, avg(r) AS rm FROM rr GROUP BY 1
), cumf AS (
  SELECT timestamp, rm,
         sum(rm) OVER (ORDER BY timestamp) AS cum
  FROM mkt
), mkt_dd AS (
  SELECT timestamp, rm,
         round(1.0 - exp(cum - max(cum)
                           OVER (ORDER BY timestamp
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)), 8) AS dd
  FROM cumf
), states AS (
  SELECT timestamp, rm, dd >= 0.5 AS stressed FROM mkt_dd
)
SELECT rr.symbol,
       sum(CASE WHEN s.stressed THEN 1 ELSE 0 END)::BIGINT AS n_stressed,
       sum(CASE WHEN s.stressed THEN 0 ELSE 1 END)::BIGINT AS n_normal,
       round(covar_samp(CASE WHEN s.stressed THEN rr.r END,
                        CASE WHEN s.stressed THEN s.rm END)
             / var_samp(CASE WHEN s.stressed THEN s.rm END), 6)
         AS beta_stressed,
       round(covar_samp(CASE WHEN NOT s.stressed THEN rr.r END,
                        CASE WHEN NOT s.stressed THEN s.rm END)
             / var_samp(CASE WHEN NOT s.stressed THEN s.rm END), 6)
         AS beta_normal
FROM rr JOIN states s USING (timestamp)
GROUP BY 1
""",
)
def q_conditional_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regime-conditional CAPM beta: each symbol's beta measured
    separately inside market-drawdown stress (equal-weight market
    ≥50% below its running compounded peak — this synthetic market's
    hourly σ≈0.8 makes deep drawdowns routine) vs normal hours — 'does
    my hedge hold when it matters'. The market drawdown state is a
    running-sum/running-max window on the TINY per-hour market frame,
    ROUNDED to 8 dp before the threshold so the regime flags are
    engine-identical; conditional covariances ride the same broadcast
    join as ``market_beta``."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
        .select("symbol", "timestamp", "r")
    )
    mkt = rr.groupBy("timestamp").agg(F.avg("r").alias("rm"))
    wt = Window.orderBy("timestamp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("rm").over(Window.orderBy("timestamp").rowsBetween(
        Window.unboundedPreceding, 0
    ))
    states = (
        mkt.withColumn("cum", cum)
        .withColumn("peak", F.max("cum").over(wt))
        .select(
            "timestamp",
            "rm",
            (F.round(1.0 - F.exp(F.col("cum") - F.col("peak")), 8) >= 0.5).alias(
                "stressed"
            ),
        )
    )
    j = rr.join(F.broadcast(states), "timestamp")
    rs = F.when(F.col("stressed"), F.col("r"))
    ms = F.when(F.col("stressed"), F.col("rm"))
    rn = F.when(~F.col("stressed"), F.col("r"))
    mn = F.when(~F.col("stressed"), F.col("rm"))
    return j.groupBy("symbol").agg(
        F.sum(F.col("stressed").cast("long")).alias("n_stressed"),
        F.sum((~F.col("stressed")).cast("long")).alias("n_normal"),
        F.round(F.covar_samp(rs, ms) / F.var_samp(ms), 6).alias(
            "beta_stressed"
        ),
        F.round(F.covar_samp(rn, mn) / F.var_samp(mn), 6).alias(
            "beta_normal"
        ),
    )


@query(
    "knn_label_accuracy",
    """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
          WHERE embedding IS NOT NULL),
pairs AS (
  SELECT a.vec_id AS i, a.label AS li, b.label AS lj, b.vec_id AS j,
         round(sqrt(list_reduce(
           list_transform(range(1, len(a.v) + 1),
                          t -> (a.v[t] - b.v[t]) * (a.v[t] - b.v[t])),
           (s, x) -> s + x)), 8) AS d
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), knn AS (
  SELECT i, li, lj,
         row_number() OVER (PARTITION BY i ORDER BY d, j) AS rn
  FROM pairs QUALIFY rn <= 5
), votes AS (
  SELECT i, li, lj, count(*) AS c FROM knn GROUP BY 1, 2, 3
), pred AS (
  SELECT i, li, lj AS pred,
         row_number() OVER (PARTITION BY i ORDER BY c DESC, lj ASC) AS r
  FROM votes QUALIFY r = 1
)
SELECT li AS label,
       count(*)::BIGINT AS n_vecs,
       round(avg(CASE WHEN li = pred THEN 1.0 ELSE 0.0 END), 6)
         AS loo_accuracy
FROM pred GROUP BY 1
""",
)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label-prediction accuracy per label over the
    embeddings (majority vote, deterministic (count desc, label asc)
    tie-break) — 'are the labels recoverable from geometry', the
    supervised companion of ``silhouette_by_label``. Same rounded-
    distance repartitioned pair frame; see
    ``knn_label_accuracy_blocked`` for the shipped scale path."""
    from financial_data_pipeline_spark.operators.similarity import (
        knn_label_accuracy,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_label_accuracy(emb, k=5)
    return out.select(
        "label", "n_vecs", F.round("loo_accuracy", 6).alias("loo_accuracy")
    )


@query(
    "pmi_top_bigrams",
    r"""
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
                     x -> x <> '') AS a
  FROM documents
), idx AS (
  SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
  FROM arrs WHERE len(a) >= 2
), b AS (SELECT a[i] AS w1, a[i + 1] AS w2 FROM idx),
bi AS (SELECT w1, w2, count(*)::DOUBLE AS cb FROM b GROUP BY 1, 2),
nb AS (SELECT sum(cb) AS n FROM bi),
u1 AS (SELECT w1 AS w, sum(cb) AS c1 FROM bi GROUP BY 1),
u2 AS (SELECT w2 AS w, sum(cb) AS c2 FROM bi GROUP BY 1)
SELECT bi.w1, bi.w2, bi.cb::BIGINT AS count,
       round(ln((bi.cb / nb.n)
                / ((u1.c1 / nb.n) * (u2.c2 / nb.n))), 6) AS pmi
FROM bi
JOIN u1 ON u1.w = bi.w1
JOIN u2 ON u2.w = bi.w2
CROSS JOIN nb
WHERE bi.cb >= 5
ORDER BY pmi DESC, bi.w1 ASC, bi.w2 ASC
LIMIT 20
""",
)
def q_pmi_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information
    (ln p(ab)/(p(a)p(b)) over bigram position counts, support ≥ 5,
    deterministic (pmi desc, bigram asc) order on the ROUNDED score) —
    the classic collocation extractor over the corpus, sharing the
    in-array bigram construction with ``bigram_logprob``."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.filter(
        ws_tokens(F.col("text")),
        lambda x: x != "",
    )
    pairs_arr = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    b = docs.select(F.explode(pairs_arr).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # Lazy-pin the bigram-count frame (r9, guide §5): FOUR subtrees
    # consume it (total, both unigram margins, the support-filtered
    # join base) and each re-ran the corpus tokenize+explode+count;
    # the frame is distinct-bigram-sized.
    bi = (
        b.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("cb"))
        .localCheckpoint(eager=False)
    )
    nb = bi.agg(F.sum("cb").alias("n"))
    u1 = bi.groupBy(F.col("w1").alias("w")).agg(F.sum("cb").alias("c1"))
    u2 = bi.groupBy(F.col("w2").alias("w")).agg(F.sum("cb").alias("c2"))
    j = (
        bi.filter(F.col("cb") >= 5)
        .join(u1.withColumnRenamed("w", "w1"), "w1")
        .join(u2.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(nb))
    )
    pmi = F.round(
        F.log(
            (F.col("cb") / F.col("n"))
            / ((F.col("c1") / F.col("n")) * (F.col("c2") / F.col("n")))
        ),
        6,
    )
    return (
        j.select(
            "w1",
            "w2",
            F.col("cb").cast("long").alias("count"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@query(
    "lang_log_odds_tokens",
    r"""
WITH toks AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
         unnest(list_filter(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+'),
                            x -> x <> '')) AS tok
  FROM documents
), cnt AS (
  SELECT tok,
         sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::DOUBLE AS y1,
         sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::DOUBLE AS y2
  FROM toks GROUP BY 1
), tot AS (
  SELECT sum(y1) AS n1, sum(y2) AS n2,
         0.01 * count(*) AS aa, count(*)::DOUBLE AS v
  FROM cnt
), z AS (
  SELECT cnt.tok, cnt.y1::BIGINT AS count_en, cnt.y2::BIGINT AS count_rest,
         round((ln((cnt.y1 + 0.01) / (tot.n1 + tot.aa - cnt.y1 - 0.01))
                - ln((cnt.y2 + 0.01) / (tot.n2 + tot.aa - cnt.y2 - 0.01)))
               / sqrt(1.0 / (cnt.y1 + 0.01) + 1.0 / (cnt.y2 + 0.01)), 6)
           AS z
  FROM cnt CROSS JOIN tot
  WHERE cnt.y1 + cnt.y2 >= 10
), ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY z DESC, tok ASC) AS r_top,
         row_number() OVER (ORDER BY z ASC, tok ASC) AS r_bot
  FROM z
)
SELECT tok, count_en, count_rest, z,
       CASE WHEN r_top <= 10 THEN 'en' ELSE 'rest' END AS marks
FROM ranked WHERE r_top <= 10 OR r_bot <= 10
""",
)
def q_lang_log_odds_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe's 'fightin' words': informative-Dirichlet-prior log-odds
    z-scores of token usage, English vs the rest of the corpus —
    the principled keyword-contrast method (raw log-odds overweights
    rare words; the prior shrinks them). Top-10 markers each way,
    support ≥ 10, deterministic (rounded z, token) order. One token
    count aggregate + a one-row totals crossJoin + two rank windows
    over the filtered token frame."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").cast("int").alias("grp"),
        F.explode(
            F.filter(
                ws_tokens(F.col("text")),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.sum(F.col("grp")).cast("double").alias("y1"),
        F.sum(1 - F.col("grp")).cast("double").alias("y2"),
    )
    tot = cnt.agg(
        F.sum("y1").alias("n1"),
        F.sum("y2").alias("n2"),
        (0.01 * F.count(F.lit(1))).alias("aa"),
    )
    a = 0.01
    y1, y2 = F.col("y1"), F.col("y2")
    delta = F.log(
        (y1 + a) / (F.col("n1") + F.col("aa") - y1 - a)
    ) - F.log((y2 + a) / (F.col("n2") + F.col("aa") - y2 - a))
    zc = F.round(
        delta / F.sqrt(1.0 / (y1 + a) + 1.0 / (y2 + a)), 6
    )
    z = (
        cnt.filter((y1 + y2) >= 10)
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            y1.cast("long").alias("count_en"),
            y2.cast("long").alias("count_rest"),
            zc.alias("z"),
        )
    )
    wt = Window.orderBy(F.desc("z"), F.asc("tok"))
    wb = Window.orderBy(F.asc("z"), F.asc("tok"))
    ranked = z.withColumn("r_top", F.row_number().over(wt)).withColumn(
        "r_bot", F.row_number().over(wb)
    )
    return (
        ranked.filter((F.col("r_top") <= 10) | (F.col("r_bot") <= 10))
        .select(
            "tok",
            "count_en",
            "count_rest",
            "z",
            F.when(F.col("r_top") <= 10, F.lit("en"))
            .otherwise(F.lit("rest"))
            .alias("marks"),
        )
    )


@query(
    "rolling_sharpe",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS r
  FROM bars
), rr AS (SELECT * FROM r WHERE r IS NOT NULL),
roll AS (
  SELECT symbol,
         CASE WHEN count(r) OVER w >= 100
              THEN round(avg(r) OVER w / stddev_samp(r) OVER w, 4) END AS sr
  FROM rr
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
)
SELECT symbol,
       count(sr)::BIGINT AS n_windows,
       round(avg(sr), 6) AS mean_rolling_sr,
       round(stddev_samp(sr), 6) AS sr_stability,
       round(avg(CASE WHEN sr > 0 THEN 1.0 ELSE 0.0 END), 6)
         AS frac_positive
FROM roll GROUP BY 1
""",
)
def q_rolling_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 100-bar Sharpe stability per symbol: the mean and
    dispersion of the rolling SR plus the fraction of windows where it
    is positive — 'is the edge persistent or episodic'. The rolling
    ratio is ROUNDED to 4 dp before the summary (sliding-sum
    associativity, the mfi rule), so the positivity branch compares
    identical values in both engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn("r", F.log(F.col("close") / F.lag("close").over(w)))
        .filter(F.col("r").isNotNull())
    )
    win = w.rowsBetween(-99, 0)
    sr = F.when(
        F.count("r").over(win) >= 100,
        F.round(F.avg("r").over(win) / F.stddev_samp("r").over(win), 4),
    )
    roll = rr.select("symbol", sr.alias("sr"))
    return roll.groupBy("symbol").agg(
        F.count("sr").alias("n_windows"),
        F.round(F.avg("sr"), 6).alias("mean_rolling_sr"),
        F.round(F.stddev_samp("sr"), 6).alias("sr_stability"),
        F.round(
            F.avg(F.when(F.col("sr") > 0, 1.0).otherwise(0.0)), 6
        ).alias("frac_positive"),
    )


@query(
    "vwap_twap_gap",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, CAST(timestamp AS DATE) AS day,
         sum(close * volume) / sum(volume) AS vwap,
         avg(close) AS twap,
         count(*)::BIGINT AS n_bars
  FROM bars GROUP BY 1, 2
)
SELECT symbol, CAST(day AS VARCHAR) AS day, n_bars,
       round(vwap, 6) AS vwap,
       round(twap, 6) AS twap,
       round(10000.0 * (vwap - twap) / twap, 4) AS gap_bps
FROM d
""",
)
def q_vwap_twap_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily VWAP vs TWAP per symbol with the gap in basis points —
    positive means volume concentrates at high prices (momentum-
    chasing flow), the execution-benchmark diagnostic on top of
    ``vwap_daily``. One grouped aggregate, ratios rounded identically
    in both engines."""
    bars = events_as_ohlcv(spark, sf_dir)
    d = bars.groupBy(
        "symbol", F.to_date("timestamp").alias("day")
    ).agg(
        (F.sum(F.col("close") * F.col("volume")) / F.sum("volume")).alias(
            "vwap"
        ),
        F.avg("close").alias("twap"),
        F.count(F.lit(1)).alias("n_bars"),
    )
    return d.select(
        "symbol",
        F.col("day").cast("string").alias("day"),
        "n_bars",
        F.round("vwap", 6).alias("vwap"),
        F.round("twap", 6).alias("twap"),
        F.round(
            10000.0 * (F.col("vwap") - F.col("twap")) / F.col("twap"), 4
        ).alias("gap_bps"),
    )


@query(
    "event_entropy_rate",
    """
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events
), bi AS (
  SELECT a, b, count(*)::DOUBLE AS c
  FROM seq WHERE b IS NOT NULL GROUP BY 1, 2
), n AS (SELECT sum(c) AS n FROM bi),
ma AS (SELECT a, sum(c) AS ca FROM bi GROUP BY 1),
h0 AS (
  SELECT -sum((ca / n.n) * ln(ca / n.n)) AS h0
  FROM ma CROSS JOIN n
), h1 AS (
  SELECT -sum((bi.c / n.n) * ln(bi.c / ma.ca)) AS h1
  FROM bi JOIN ma USING (a) CROSS JOIN n
)
SELECT (SELECT n FROM n)::BIGINT AS n_transitions,
       round(h0.h0, 6) AS marginal_entropy,
       round(h1.h1, 6) AS entropy_rate,
       round(1.0 - h1.h1 / h0.h0, 6) AS predictability_gain
FROM h0 CROSS JOIN h1
""",
)
def q_event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order entropy rate of the user event stream:
    H(next | prev) = −Σ p(a,b) ln p(b|a) vs the marginal H(next), and
    the predictability gain 1 − H₁/H₀ — how much knowing the previous
    event type narrows the next (the scalar readout over
    ``event_transition_matrix``). Tiny aggregates over the bigram
    frame; p(b|a) = c(a,b)/c(a·) exactly in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    bi = seq.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    n = bi.agg(F.sum("c").alias("n"))
    ma = bi.groupBy("a").agg(F.sum("c").alias("ca"))
    h0 = ma.crossJoin(F.broadcast(n)).agg(
        (-F.sum((F.col("ca") / F.col("n")) * F.log(F.col("ca") / F.col("n"))))
        .alias("h0"),
        F.max("n").alias("n"),
    )
    h1 = (
        bi.join(F.broadcast(ma), "a")
        .crossJoin(F.broadcast(n))
        .agg(
            (
                -F.sum(
                    (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("ca"))
                )
            ).alias("h1")
        )
    )
    j = h0.crossJoin(F.broadcast(h1))
    return j.select(
        F.col("n").cast("long").alias("n_transitions"),
        F.round("h0", 6).alias("marginal_entropy"),
        F.round("h1", 6).alias("entropy_rate"),
        F.round(1.0 - F.col("h1") / F.col("h0"), 6).alias(
            "predictability_gain"
        ),
    )


@query(
    "win_loss_streaks",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         CASE WHEN ln(close / lag(close) OVER (PARTITION BY symbol
                                               ORDER BY timestamp)) >= 0
              THEN 1 ELSE 0 END AS up,
         ln(close / lag(close) OVER (PARTITION BY symbol
                                     ORDER BY timestamp)) AS lr
  FROM bars
), rr AS (SELECT * FROM r WHERE lr IS NOT NULL),
isl AS (
  SELECT symbol, up,
         row_number() OVER (PARTITION BY symbol ORDER BY timestamp)
           - row_number() OVER (PARTITION BY symbol, up
                                ORDER BY timestamp) AS grp
  FROM rr
), runs AS (
  SELECT symbol, up, grp, count(*)::BIGINT AS len
  FROM isl GROUP BY 1, 2, 3
)
SELECT symbol,
       max(CASE WHEN up = 1 THEN len END)::BIGINT AS longest_win_streak,
       max(CASE WHEN up = 0 THEN len END)::BIGINT AS longest_loss_streak,
       round(avg(CASE WHEN up = 1 THEN len END), 4) AS avg_win_streak,
       round(avg(CASE WHEN up = 0 THEN len END), 4) AS avg_loss_streak,
       count(*)::BIGINT AS n_streaks
FROM runs GROUP BY 1
""",
)
def q_win_loss_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Win/loss streak profile per symbol: maximal same-sign return
    runs via the classic gaps-and-islands double row_number (one
    per-symbol sort, both window orders share it), then one run
    aggregate — longest and mean streaks each way, the intuition-level
    readout behind ``runs_test``'s z-score (zero returns count as
    wins, same pinned convention)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    rr = (
        bars.withColumn(
            "lr", F.log(F.col("close") / F.lag("close").over(w))
        )
        .filter(F.col("lr").isNotNull())
        .withColumn(
            "up", F.when(F.col("lr") >= 0, F.lit(1)).otherwise(F.lit(0))
        )
    )
    wu = Window.partitionBy("symbol", "up").orderBy("timestamp")
    isl = rr.withColumn(
        "grp", F.row_number().over(w) - F.row_number().over(wu)
    )
    runs = isl.groupBy("symbol", "up", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    wl = F.when(F.col("up") == 1, F.col("len"))
    ll = F.when(F.col("up") == 0, F.col("len"))
    return runs.groupBy("symbol").agg(
        F.max(wl).cast("long").alias("longest_win_streak"),
        F.max(ll).cast("long").alias("longest_loss_streak"),
        F.round(F.avg(wl), 4).alias("avg_win_streak"),
        F.round(F.avg(ll), 4).alias("avg_loss_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@query(
    "top_drawdown_episodes",
    BARS_CTE
    + """
, d AS (
  SELECT symbol, timestamp, close,
         max(close) OVER (PARTITION BY symbol ORDER BY timestamp
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
  FROM bars
), flagged AS (
  SELECT symbol, timestamp, close, peak,
         CASE WHEN close < peak THEN 1 ELSE 0 END AS under
  FROM d
), isl AS (
  SELECT *,
         row_number() OVER (PARTITION BY symbol ORDER BY timestamp)
           - row_number() OVER (PARTITION BY symbol, under
                                ORDER BY timestamp) AS grp
  FROM flagged
), ep AS (
  SELECT symbol, grp,
         count(*)::BIGINT AS n_bars,
         epoch_us(min(timestamp)) AS start_us,
         epoch_us(max(timestamp)) AS end_us,
         round(max(1.0 - close / peak), 6) AS max_depth,
         -- lexicographic struct max, NOT arg_max: arg_max on tied
         -- depths is scan-order-dependent in both engines (fuzz
         -- finding with planted price ties); (depth, ts) max pins the
         -- latest-timestamp-among-deepest deterministically
         (max(struct_pack(d := 1.0 - close / peak,
                          u := epoch_us(timestamp)))).u AS trough_us
  FROM isl WHERE under = 1
  GROUP BY 1, 2
)
SELECT symbol, n_bars, start_us, end_us, trough_us, max_depth,
       row_number() OVER (PARTITION BY symbol
                          ORDER BY max_depth DESC, start_us ASC) AS rank
FROM ep
QUALIFY rank <= 3
""",
)
def q_top_drawdown_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3 deepest underwater EPISODES per symbol with start / end /
    trough timestamps and max depth — the narrative detail behind
    ``max_drawdown``/``drawdown_durations``: spells segment
    gaps-and-islands style under the running peak, one aggregate per
    spell, then a per-symbol depth rank (ROUNDED depth + start tie-
    break, engine-stable). The trough is the lexicographic
    (depth, timestamp) max within the spell, so depth ties resolve to
    the latest timestamp DETERMINISTICALLY — max_by/arg_max tie
    behavior is scan-order-dependent in both engines (fuzz finding)."""
    bars = events_as_ohlcv(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    peak = w.rowsBetween(Window.unboundedPreceding, 0)
    d = bars.select(
        "symbol",
        "timestamp",
        "close",
        F.max("close").over(peak).alias("peak"),
    ).withColumn(
        "under", F.when(F.col("close") < F.col("peak"), 1).otherwise(0)
    )
    wu = Window.partitionBy("symbol", "under").orderBy("timestamp")
    isl = d.withColumn(
        "grp", F.row_number().over(w) - F.row_number().over(wu)
    ).filter(F.col("under") == 1)
    depth = 1.0 - F.col("close") / F.col("peak")
    us = F.unix_micros("timestamp")
    ep = isl.groupBy("symbol", "grp").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        F.round(F.max(depth), 6).alias("max_depth"),
        # lexicographic (depth, ts) max — see the oracle comment: max_by
        # on tied depths is scan-order-dependent
        F.max(F.struct(depth.alias("d"), us.alias("u")))["u"].alias(
            "trough_us"
        ),
    )
    wr = Window.partitionBy("symbol").orderBy(
        F.desc("max_depth"), F.asc("start_us")
    )
    return (
        ep.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select(
            "symbol",
            "n_bars",
            "start_us",
            "end_us",
            "trough_us",
            "max_depth",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Streaming batch twins (§2.10): the driver's oracle gate exercising the
# EXACT streaming plan builders on batch frames. Structured Streaming
# transformations are ordinary DataFrame plans — withWatermark is a no-op
# on a batch Dataset — so each twin below runs the same code path the
# stream runs, and the existing stream≡batch pytests
# (tests/test_drift_stream.py, test_cusum_stream.py,
# test_stream_recovery.py) close the loop from these plans to real
# micro-batched execution with state, restarts and watermarks.
# ---------------------------------------------------------------------------


def _frozen_close_hist_cte() -> str:
    """Shared oracle prefix of the windowed drift stream twins: the
    frozen reference histogram (pre-2024-01-16 close, 10 equal-width
    bins with the SAME hi==lo -> width 1.0 guard as
    ``drift_stream.freeze_reference``) and the per-day serving-window
    bin counts. Maintained once — the PSI and chi2 twins append only
    their own combine."""
    return """
, ref AS (SELECT close FROM bars WHERE timestamp < TIMESTAMP '2024-01-16'),
b AS (
  SELECT min(close) AS lo, max(close) AS hi,
         CASE WHEN max(close) = min(close) THEN 1.0
              ELSE (max(close) - min(close)) / 10.0 END AS w
  FROM ref
),
rc AS (
  SELECT g.bin, coalesce(t.n, 0) AS c
  FROM generate_series(0, 9) AS g(bin)
  LEFT JOIN (
    SELECT least(9, greatest(0, floor((close - b.lo) / b.w)))::INT AS bin,
           count(*) AS n
    FROM ref, b GROUP BY 1
  ) t USING (bin)
), tr AS (SELECT sum(c)::DOUBLE AS t FROM rc),
nw AS (
  SELECT date_trunc('day', timestamp) AS w, close
  FROM bars WHERE timestamp >= TIMESTAMP '2024-01-16'
), wt AS (SELECT w, count(*) AS n_new FROM nw GROUP BY 1),
wc AS (
  SELECT nw.w, least(9, greatest(0, floor((close - b.lo) / b.w)))::INT AS bin,
         count(*) AS n
  FROM nw, b GROUP BY 1, 2
)"""


@query(
    "windowed_psi_stream_twin",
    BARS_CTE
    + _frozen_close_hist_cte()
    + """
, grid AS (
  SELECT wt.w, g.bin, coalesce(wc.n, 0) AS nn, wt.n_new, rc.c, tr.t
  FROM wt CROSS JOIN generate_series(0, 9) AS g(bin)
  LEFT JOIN wc ON wc.w = wt.w AND wc.bin = g.bin
  JOIN rc ON rc.bin = g.bin
  CROSS JOIN tr
)
SELECT epoch_us(w) AS window_start_us,
       round(list_reduce(
         list(((c + 0.5) / (t + 5.0) - (nn + 0.5) / (n_new + 5.0))
              * (ln((c + 0.5) / (t + 5.0)) - ln((nn + 0.5) / (n_new + 5.0)))
              ORDER BY bin),
         (a, x) -> a + x), 6) AS psi,
       first(n_new)::BIGINT AS n_new
FROM grid GROUP BY w
""",
)
def q_windowed_psi_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor's plan on a batch frame: reference
    frozen at the 2024-01-16 split (``drift_stream.freeze_reference``,
    the deploy artifact — bins+2 numbers, the two driver actions are
    the deploy step by design), then ``drift_stream.streaming_psi``
    verbatim over daily event-time windows (its withWatermark is a
    no-op in batch). Per window: one row (window_start, psi, n_new),
    the same +0.5-smoothed fold the streaming sink emits — so the
    driver's DuckDB gate covers the streaming arithmetic, and
    ``tests/test_drift_stream.py`` covers the micro-batch/state/
    watermark execution of the identical builder."""
    from financial_data_pipeline_spark.streaming.drift_stream import (
        freeze_reference,
        streaming_psi,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    reference = freeze_reference(
        bars.filter(F.col("timestamp") < "2024-01-16").select("close"),
        "close",
        bins=10,
    )
    out = streaming_psi(
        bars.filter(F.col("timestamp") >= "2024-01-16"),
        reference,
        "close",
        ts="timestamp",
        window="1 day",
        watermark="2 hours",
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.round("psi", 6).alias("psi"),
        "n_new",
    )


@query(
    "cusum_frozen_stream_twin",
    BARS_CTE
    + """
, st AS (
  SELECT symbol, avg(close) AS mu, stddev_samp(close) AS sd
  FROM bars WHERE timestamp < TIMESTAMP '2024-01-16' GROUP BY 1
), z AS (
  SELECT b.symbol, timestamp, (close - mu) / sd AS z
  FROM bars b JOIN st USING (symbol)
  WHERE timestamp >= TIMESTAMP '2024-01-16'
), p AS (
  SELECT symbol, timestamp,
         sum(z - 0.5) OVER w AS pu,
         sum(-z - 0.5) OVER w AS pd
  FROM z
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
  SELECT symbol, timestamp,
         pu - least(min(pu) OVER w, 0.0) AS cu,
         pd - least(min(pd) OVER w, 0.0) AS cd
  FROM p
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT symbol, epoch_us(timestamp) AS ts_us,
       round(cu, 6) AS cusum_up, round(cd, 6) AS cusum_down,
       (round(cu, 6) > 8.0 OR round(cd, 6) > 8.0) AS changepoint
FROM c
""",
)
def q_cusum_frozen_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CUSUM's exact semantics on a batch frame: the
    serving window standardized against stats FROZEN on the training
    window (state can't see the future mean — the
    ``cusum_stream.streaming_cusum`` contract), which
    ``tests/test_cusum_stream.py`` proves bit-equal to this batch form
    across micro-batch slicings and a restart. ``drift.cusum_flags``
    with ``ref_stats`` is the shared plan; zero driver actions (the
    frozen stats ride a broadcast join)."""
    from financial_data_pipeline_spark.operators.drift import cusum_flags

    bars = events_as_ohlcv(spark, sf_dir)
    ref_stats = (
        bars.filter(F.col("timestamp") < "2024-01-16")
        .groupBy("symbol")
        .agg(
            F.avg("close").alias("mu"),
            F.stddev_samp("close").alias("sd"),
        )
    )
    out = cusum_flags(
        bars.filter(F.col("timestamp") >= "2024-01-16"),
        "close",
        drift=0.5,
        threshold=8.0,
        ref_stats=ref_stats,
    )
    cu = F.round("cusum_up", 6)
    cd = F.round("cusum_down", 6)
    return out.select(
        "symbol",
        _ts_us().alias("ts_us"),
        cu.alias("cusum_up"),
        cd.alias("cusum_down"),
        ((cu > 8.0) | (cd > 8.0)).alias("changepoint"),
    )


@query(
    "continuous_ohlcv_stream_twin",
    BARS_CTE
    + """
SELECT symbol,
       epoch_us(make_timestamp((epoch_us(timestamp) // 14400000000) * 14400000000)) AS bucket_us,
       arg_min(open, epoch_us(timestamp)) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, epoch_us(timestamp)) AS close,
       round(sum(volume), 4) AS volume
FROM bars GROUP BY 1, 2
""",
)
def q_continuous_ohlcv_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate rollup's plan on a batch frame:
    ``continuous_aggregate.continuous_ohlcv`` verbatim (1h bars → 4h
    OHLCV via min_by/max_by in one windowed aggregate; its watermark
    is a no-op in batch). Value-identical to ``resample_4h`` BY
    CONSTRUCTION — that equality is the materialized-view refresh
    contract, and ``tests/test_stream_recovery.py`` /
    ``tests/test_metadata_pipeline_streaming.py`` prove the same
    builder emits these rows exactly once under micro-batched arrival,
    late data and a checkpoint restart."""
    from financial_data_pipeline_spark.streaming.continuous_aggregate import (
        continuous_ohlcv,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    out = continuous_ohlcv(bars, timeframe="4 hours", watermark="3 hours")
    return out.select(
        "symbol",
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
    )


@query(
    "windowed_chi2_stream_twin",
    BARS_CTE
    + _frozen_close_hist_cte()
    + """
, grid AS (
  SELECT wt.w, g.bin, coalesce(wc.n, 0)::DOUBLE AS nn,
         wt.n_new, rc.c::DOUBLE AS c, tr.t,
         rc.c::DOUBLE + coalesce(wc.n, 0)::DOUBLE AS rt,
         tr.t + wt.n_new::DOUBLE AS gt
  FROM wt CROSS JOIN generate_series(0, 9) AS g(bin)
  LEFT JOIN wc ON wc.w = wt.w AND wc.bin = g.bin
  JOIN rc ON rc.bin = g.bin
  CROSS JOIN tr
), agg AS (
  SELECT w,
         list_reduce(list(CASE WHEN rt > 0 THEN
             pow(c - rt * t / gt, 2.0) / (rt * t / gt)
             + pow(nn - rt * n_new::DOUBLE / gt, 2.0) / (rt * n_new::DOUBLE / gt)
           ELSE 0.0 END ORDER BY bin), (a, x) -> a + x) AS chi2,
         (sum((rt > 0)::BIGINT) - 1)::INT AS dof,
         first(n_new)::BIGINT AS n_new
  FROM grid GROUP BY w
), wh AS (
  SELECT *, (pow(chi2 / dof::DOUBLE, 1.0 / 3.0)
             - (1.0 - 2.0 / (9.0 * dof::DOUBLE)))
            / sqrt(2.0 / (9.0 * dof::DOUBLE)) AS z
  FROM agg
), e AS (
  SELECT *, abs(z) / sqrt(2.0) AS az,
         1.0 / (1.0 + 0.3275911 * abs(z) / sqrt(2.0)) AS t
  FROM wh
)
SELECT epoch_us(w) AS window_start_us, round(chi2, 6) AS chi2, dof,
       round(least(1.0, greatest(0.0,
         1.0 - 0.5 * (1.0 + sign(z) * (1.0 - (t * (0.254829592 + t
             * (-0.284496736 + t * (1.421413741 + t * (-1.453152027
             + t * 1.061405429))))) * exp(-az * az))))), 6) AS p_value,
       n_new
FROM e
""",
)
def q_windowed_chi2_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming chi-square drift TEST's plan on a batch frame
    (``drift_stream.streaming_chi2`` verbatim, daily windows, frozen
    reference): per closed window a p-value answers 'does this window
    beat sampling noise at its own size' — the alert gate PSI/JS can't
    give. Same deploy-artifact reference as ``windowed_psi_stream_twin``;
    the oracle replays the Wilson–Hilferty + A-S erf closed form."""
    from financial_data_pipeline_spark.streaming.drift_stream import (
        freeze_reference,
        streaming_chi2,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    reference = freeze_reference(
        bars.filter(F.col("timestamp") < "2024-01-16").select("close"),
        "close",
        bins=10,
    )
    out = streaming_chi2(
        bars.filter(F.col("timestamp") >= "2024-01-16"),
        reference,
        "close",
        ts="timestamp",
        window="1 day",
        watermark="2 hours",
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.round("chi2", 6).alias("chi2"),
        "dof",
        F.round("p_value", 6).alias("p_value"),
        "n_new",
    )


@query(
    "session_window_stream_twin",
    """
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR ts - prev_ts >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
), islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts) + INTERVAL '30 minutes') AS session_end_us,
       count(*)::BIGINT AS n_events
FROM islands GROUP BY user_id, sid
""",
)
def q_session_window_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE streaming sessionization run as a batch plan:
    ``continuous_aggregate.session_window_events`` (F.session_window,
    30-minute gap, per user) — dynamic windows ``[first,
    last + gap)``, end-exclusive, merged in state on a stream and by
    ordinary aggregation in batch. The oracle is the classic
    gaps-and-islands rendering (lag → new-session flag → island id),
    proving the two formulations coincide row-for-row."""
    from financial_data_pipeline_spark.streaming.continuous_aggregate import (
        session_window_events,
    )

    ev = load_table(spark, sf_dir, "events")
    out = session_window_events(
        ev, gap="30 minutes", ts="ts", key="user_id"
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


@query(
    "hopping_volume_stream_twin",
    BARS_CTE
    + """
, hop AS (
  SELECT symbol,
         make_timestamp((epoch_us(timestamp) // 1800000000 - j) * 1800000000) AS bucket_ts,
         volume, high, low
  FROM bars, generate_series(0, 3) AS g(j)
)
SELECT symbol, epoch_us(bucket_ts) AS bucket_us,
       round(sum(volume), 4) AS volume,
       max(high) AS high,
       min(low) AS low,
       count(*)::BIGINT AS n_bars
FROM hop GROUP BY 1, 2
""",
)
def q_hopping_volume_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hopping-window (sliding) streaming aggregate as a batch
    plan: ``continuous_aggregate.hopping_volume`` verbatim — 2 h
    windows sliding every 30 min, so each bar lands in exactly
    window/slide = 4 overlapping buckets. The oracle expands each bar
    to its 4 slide-aligned bucket starts with generate_series — the
    same event-expansion Spark performs before the shuffle."""
    from financial_data_pipeline_spark.streaming.continuous_aggregate import (
        hopping_volume,
    )

    bars = events_as_ohlcv(spark, sf_dir)
    out = hopping_volume(
        bars, window="2 hours", slide="30 minutes", watermark="3 hours"
    )
    return out.select(
        "symbol",
        F.unix_micros("bucket_ts").alias("bucket_us"),
        F.round("volume", 4).alias("volume"),
        "high",
        "low",
        "n_bars",
    )


# ---------------------------------------------------------------------------
# Round-4 analytics batch: microstructure + distribution-shape + TPC-H q18
# ---------------------------------------------------------------------------


@query(
    "amihud_illiquidity",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, date_trunc('day', timestamp) AS d,
         arg_min(close, epoch_us(timestamp)) AS first_close,
         arg_max(close, epoch_us(timestamp)) AS last_close,
         sum(close * volume) AS dollar_vol
  FROM bars GROUP BY 1, 2
)
SELECT symbol, count(*)::BIGINT AS n_days,
       round(avg(abs(last_close / first_close - 1.0) / dollar_vol) * 1e6, 6)
         AS amihud_x1e6
FROM daily GROUP BY 1
""",
)
def q_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud (2002) illiquidity per symbol: mean over days of
    |daily return| / dollar volume (×1e6) — the standard price-impact
    proxy when quote data is absent. One day-grained aggregate then a
    symbol rollup; first/last close pinned by epoch order."""
    bars = events_as_ohlcv(spark, sf_dir)
    us = F.unix_micros("timestamp")
    daily = bars.groupBy(
        "symbol", F.date_trunc("day", "timestamp").alias("d")
    ).agg(
        F.min_by("close", us).alias("first_close"),
        F.max_by("close", us).alias("last_close"),
        F.sum(F.col("close") * F.col("volume")).alias("dollar_vol"),
    )
    illiq = F.abs(F.col("last_close") / F.col("first_close") - 1.0) / F.col(
        "dollar_vol"
    )
    return daily.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg(illiq) * 1e6, 6).alias("amihud_x1e6"),
    )


@query(
    "roll_spread",
    BARS_CTE
    + """
, d AS (
  SELECT symbol,
         close - lag(close) OVER w AS dp,
         lag(close) OVER w - lag(close, 2) OVER w AS dp_prev
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
), c AS (
  SELECT symbol, count(*)::BIGINT AS n_diffs,
         round(covar_samp(dp, dp_prev), 8) AS cov
  FROM d WHERE dp IS NOT NULL AND dp_prev IS NOT NULL
  GROUP BY 1
)
SELECT symbol, n_diffs, cov AS serial_cov,
       round(2.0 * sqrt(greatest(0.0, -cov)), 6) AS roll_spread
FROM c
""",
)
def q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) implied effective spread per symbol:
    2·√(−cov(Δp_t, Δp_{t−1})) from the serial covariance of price
    changes — bid-ask bounce makes successive changes negatively
    correlated, and the spread is recoverable from trades alone.
    Branchless: cov rounds to 8 dp, then greatest(0, −cov) zeroes the
    positive-cov (no-bounce) case instead of branching on the sign of
    an unordered float sum."""
    w = Window.partitionBy("symbol").orderBy("timestamp")
    bars = events_as_ohlcv(spark, sf_dir)
    d = bars.select(
        "symbol",
        (F.col("close") - F.lag("close").over(w)).alias("dp"),
        (F.lag("close").over(w) - F.lag("close", 2).over(w)).alias("dp_prev"),
    ).filter(F.col("dp").isNotNull() & F.col("dp_prev").isNotNull())
    c = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_diffs"),
        F.round(F.covar_samp("dp", "dp_prev"), 8).alias("cov"),
    )
    return c.select(
        "symbol",
        "n_diffs",
        F.col("cov").alias("serial_cov"),
        F.round(
            2.0 * F.sqrt(F.greatest(F.lit(0.0), -F.col("cov"))), 6
        ).alias("roll_spread"),
    )


@query(
    "returns_moments",
    BARS_CTE
    + """
, r AS (
  SELECT symbol,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS ret
  FROM bars
), rr AS (SELECT symbol, ret FROM r WHERE ret IS NOT NULL),
mu AS (SELECT symbol, avg(ret) AS m FROM rr GROUP BY 1),
mom AS (
  SELECT rr.symbol, count(*)::BIGINT AS n,
         avg(pow(ret - m, 2.0)) AS m2,
         avg(pow(ret - m, 3.0)) AS m3,
         avg(pow(ret - m, 4.0)) AS m4
  FROM rr JOIN mu ON rr.symbol = mu.symbol GROUP BY 1
)
SELECT symbol, n,
       round(m3 / pow(m2, 1.5), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
FROM mom
""",
)
def q_returns_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of hourly log returns
    per symbol, from explicit central moments (two-pass: mean, then
    avg powers via a broadcast join) — the fat-tail/asymmetry profile
    VaR models start from, pinned to one moment convention instead of
    each engine's own skewness()/kurtosis() flavor."""
    w = Window.partitionBy("symbol").orderBy("timestamp")
    bars = events_as_ohlcv(spark, sf_dir)
    r = bars.select(
        "symbol",
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    mu = r.groupBy("symbol").agg(F.avg("ret").alias("m"))
    c = F.col("ret") - F.col("m")
    mom = r.join(F.broadcast(mu), "symbol").groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.pow(c, F.lit(2.0))).alias("m2"),
        F.avg(F.pow(c, F.lit(3.0))).alias("m3"),
        F.avg(F.pow(c, F.lit(4.0))).alias("m4"),
    )
    return mom.select(
        "symbol",
        "n",
        F.round(F.col("m3") / F.pow("m2", F.lit(1.5)), 6).alias("skewness"),
        F.round(
            F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0, 6
        ).alias("excess_kurtosis"),
    )


@query(
    "order_flow_imbalance",
    BARS_CTE
    + """
, t AS (
  SELECT symbol, timestamp, volume,
         sign(close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS s0
  FROM bars
), carried AS (
  SELECT symbol, timestamp, volume,
         last_value(CASE WHEN s0 <> 0.0 THEN s0 END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY timestamp
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM t
)
SELECT symbol, date_trunc('day', timestamp)::DATE::VARCHAR AS d,
       count(*)::BIGINT AS n_bars,
       round(sum(volume * s) / sum(volume), 6) AS ofi
FROM carried WHERE s IS NOT NULL
GROUP BY 1, 2
""",
)
def q_order_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule order-flow imbalance per symbol-day: each bar's
    volume signed by the direction of its price change, with unchanged
    prices INHERITING the previous sign (the Lee-Ready tick test),
    then Σ(signed volume)/Σ(volume) per day. The sign carry is a
    linear last(ignorenulls) unbounded-PRECEDING frame (never the
    O(n²) FOLLOWING shape); day emitted as a string on both sides."""
    w = Window.partitionBy("symbol").orderBy("timestamp")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    bars = events_as_ohlcv(spark, sf_dir)
    t = bars.select(
        "symbol",
        "timestamp",
        "volume",
        F.signum(F.col("close") - F.lag("close").over(w)).alias("s0"),
    )
    carried = t.select(
        "symbol",
        "timestamp",
        "volume",
        F.last(
            F.when(F.col("s0") != 0.0, F.col("s0")), ignorenulls=True
        ).over(wc).alias("s"),
    ).filter(F.col("s").isNotNull())
    return carried.groupBy(
        "symbol",
        F.date_trunc("day", "timestamp").cast("date").cast("string").alias("d"),
    ).agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.round(
            F.sum(F.col("volume") * F.col("s")) / F.sum("volume"), 6
        ).alias("ofi"),
    )


@query(
    "large_orders_topk",
    """
WITH q AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250
)
SELECT o.o_orderkey, o.o_custkey, epoch_us(o.o_orderdate) AS orderdate_us,
       o.o_totalprice, round(q.sum_qty, 4) AS sum_qty
FROM orders o JOIN q ON o.o_orderkey = q.l_orderkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
""",
)
def q_large_orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds 250, top-100 by order value — an
    aggregate-then-semi-join where the HAVING prunes the fact side
    to ~1% before the orders join (broadcastable survivor set), and
    TakeOrdered replaces a global sort. Deterministic (price desc,
    orderkey asc) tie-break."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    q = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        o.join(F.broadcast(q), o.o_orderkey == q.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.unix_micros("o_orderdate").alias("orderdate_us"),
            "o_totalprice",
            F.round("sum_qty", 4).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "garman_klass_vol",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, date_trunc('day', timestamp) AS d,
         arg_min(open, epoch_us(timestamp)) AS o,
         max(high) AS h, min(low) AS l,
         arg_max(close, epoch_us(timestamp)) AS c
  FROM bars GROUP BY 1, 2
)
SELECT symbol, count(*)::BIGINT AS n_days,
       round(sqrt(252.0 * avg(
         0.5 * pow(ln(h / l), 2.0)
         - (2.0 * ln(2.0) - 1.0) * pow(ln(c / o), 2.0)
       )), 6) AS gk_vol_annualized
FROM daily GROUP BY 1
""",
)
def q_garman_klass_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman–Klass OHLC volatility per symbol: the range-based
    estimator ½ln²(H/L) − (2ln2−1)ln²(C/O) on daily rollups of the
    hourly bars, annualized √252 — ~7× more efficient than
    close-to-close on the same days (the `yang_zhang_vol` sibling
    without the overnight term)."""
    us = F.unix_micros("timestamp")
    bars = events_as_ohlcv(spark, sf_dir)
    daily = bars.groupBy(
        "symbol", F.date_trunc("day", "timestamp").alias("d")
    ).agg(
        F.min_by("open", us).alias("o"),
        F.max("high").alias("h"),
        F.min("low").alias("l"),
        F.max_by("close", us).alias("c"),
    )
    gk = 0.5 * F.pow(F.log(F.col("h") / F.col("l")), F.lit(2.0)) - (
        2.0 * math.log(2.0) - 1.0
    ) * F.pow(F.log(F.col("c") / F.col("o")), F.lit(2.0))
    return daily.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.sqrt(252.0 * F.avg(gk)), 6).alias("gk_vol_annualized"),
    )


@query(
    "dau_wau_stickiness",
    """
WITH daily AS (
  SELECT date_trunc('week', ts) AS wk, date_trunc('day', ts) AS d,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2
), weekly AS (
  SELECT date_trunc('week', ts) AS wk, count(DISTINCT user_id) AS wau
  FROM events GROUP BY 1
)
SELECT epoch_us(daily.wk) AS week_us,
       count(*)::BIGINT AS n_days,
       round(avg(dau), 4) AS avg_dau,
       first(wau)::BIGINT AS wau,
       round(avg(dau) / first(wau), 6) AS stickiness
FROM daily JOIN weekly ON daily.wk = weekly.wk
GROUP BY daily.wk
""",
)
def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per ISO week: mean daily active users over
    weekly active users — the engagement ratio product analytics
    alerts on. Two distinct-count aggregates joined on the week key
    (broadcastable: one row per week)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("week", "ts").alias("wk"),
        F.date_trunc("day", "ts").alias("d"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    weekly = ev.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        daily.join(F.broadcast(weekly), "wk")
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("dau"), 4).alias("avg_dau"),
            F.first("wau").alias("wau"),
            F.round(F.avg("dau") / F.first("wau"), 6).alias("stickiness"),
        )
        .select(
            F.unix_micros("wk").alias("week_us"),
            "n_days",
            "avg_dau",
            "wau",
            "stickiness",
        )
    )


@query(
    "overnight_intraday_split",
    BARS_CTE
    + """
, daily AS (
  SELECT symbol, date_trunc('day', timestamp) AS d,
         arg_min(close, epoch_us(timestamp)) AS first_close,
         arg_max(close, epoch_us(timestamp)) AS last_close
  FROM bars GROUP BY 1, 2
), seq AS (
  SELECT symbol, d, first_close, last_close,
         lag(last_close) OVER (PARTITION BY symbol ORDER BY d) AS prev_last
  FROM daily
)
SELECT symbol, count(*)::BIGINT AS n_days,
       round(avg(first_close / prev_last - 1.0), 6) AS avg_overnight_ret,
       round(avg(last_close / first_close - 1.0), 6) AS avg_intraday_ret
FROM seq WHERE prev_last IS NOT NULL GROUP BY 1
""",
)
def q_overnight_intraday_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight vs intraday return decomposition per symbol: mean
    (day's first close / previous day's last close − 1) against mean
    (last/first − 1 within the day) — the classic session-attribution
    split; one day-grained rollup, one lag, one aggregate."""
    us = F.unix_micros("timestamp")
    bars = events_as_ohlcv(spark, sf_dir)
    daily = bars.groupBy(
        "symbol", F.date_trunc("day", "timestamp").alias("d")
    ).agg(
        F.min_by("close", us).alias("first_close"),
        F.max_by("close", us).alias("last_close"),
    )
    wd = Window.partitionBy("symbol").orderBy("d")
    seq = daily.withColumn("prev_last", F.lag("last_close").over(wd)).filter(
        F.col("prev_last").isNotNull()
    )
    return seq.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.avg(F.col("first_close") / F.col("prev_last") - 1.0), 6
        ).alias("avg_overnight_ret"),
        F.round(
            F.avg(F.col("last_close") / F.col("first_close") - 1.0), 6
        ).alias("avg_intraday_ret"),
    )


@query(
    "type_token_ratio_by_source",
    r"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), t AS (SELECT source, tok FROM toks WHERE tok <> '')
SELECT source,
       count(*)::BIGINT AS n_tokens,
       count(DISTINCT tok)::BIGINT AS n_types,
       round(count(DISTINCT tok) / count(*)::DOUBLE, 6) AS ttr,
       round(count(DISTINCT tok) / sqrt(count(*)::DOUBLE), 6) AS guiraud_r
FROM t GROUP BY 1
""",
)
def q_type_token_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio and Guiraud's R
    (types/√tokens, the length-corrected form) — the vocabulary-
    richness signal a corpus-mixing policy reads next to Heaps' law.
    One tokenize-explode, one distinct-count aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            ws_tokens(F.col("text"))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"),
        F.round(
            F.countDistinct("tok") / F.count(F.lit(1)).cast("double"), 6
        ).alias("ttr"),
        F.round(
            F.countDistinct("tok")
            / F.sqrt(F.count(F.lit(1)).cast("double")),
            6,
        ).alias("guiraud_r"),
    )


@query(
    "dom_return_profile",
    BARS_CTE
    + """
, r AS (
  SELECT symbol, timestamp,
         ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY timestamp)) AS ret
  FROM bars
)
SELECT dayofmonth(timestamp)::INT AS dom,
       count(*)::BIGINT AS n,
       round(avg(ret) * 1e4, 4) AS mean_ret_bps,
       round(stddev_samp(ret) * 1e4, 4) AS sd_ret_bps
FROM r WHERE ret IS NOT NULL
GROUP BY 1
""",
)
def q_dom_return_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-of-month seasonality profile: mean and dispersion of hourly
    log returns (bps) pooled across symbols per day-of-month — the
    calendar-anomaly companion of ``returns_anova_dow``. Map-side
    partial aggregation; 30 output rows."""
    w = Window.partitionBy("symbol").orderBy("timestamp")
    bars = events_as_ohlcv(spark, sf_dir)
    r = bars.select(
        F.dayofmonth("timestamp").alias("dom"),
        F.log(F.col("close") / F.lag("close").over(w)).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    return r.groupBy("dom").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("ret") * 1e4, 4).alias("mean_ret_bps"),
        F.round(F.stddev_samp("ret") * 1e4, 4).alias("sd_ret_bps"),
    )


@query(
    "rollup_refresh_lifecycle",
    """
WITH final AS (
  SELECT ts::DATE AS day, event_type, value
  FROM events
  WHERE NOT (event_type = 'purchase'
             AND ts::DATE BETWEEN DATE '2024-01-10' AND DATE '2024-01-12')
)
SELECT CAST(day AS VARCHAR) AS day, event_type,
       count(*)::BIGINT AS n_events,
       round(list_reduce(list_prepend(0.0::DOUBLE,
                                      list(value ORDER BY value)),
                         (a, x) -> a + x), 6) AS total_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM final
GROUP BY day, event_type
""",
)
def q_rollup_refresh_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental continuous-aggregate refresh (sources/rollup.py,
    the TimescaleDB continuous-aggregate analog — reference
    timescaledb_schema.sql continuous aggregate + refresh policy) run
    through a full LIFECYCLE, hash-matched against a from-scratch
    recompute:

    1. bulk history commit (days 1-20, one deterministic subset held
       out) → initial full build;
    2. streaming append (days 21-30) → only the new buckets refresh;
    3. LATE data (the held-out event_id % 7 == 3 slice of days 1-20)
       → old buckets are invalidated through the change feed and
       recomputed;
    4. compliance delete (every 'purchase' of Jan 10-12) → the dirty
       buckets recompute from the surviving rows; a bucket emptied by
       the delete disappears (upsert-with-deletes).

    Each refresh recomputes ONLY CDF-invalidated buckets (incrementality
    itself is pinned by file-path asserts in test_rollup_refresh.py);
    the final rollup must equal DuckDB's one-shot GROUP BY over the
    final source state regardless of the refresh history. total_value
    is an ORDERED fold both engines — the 2-decimal values sum onto
    exact rounding boundaries, so F.sum's partition order could flip
    the 6dp rounding (the major_value_parts lesson). The rollup is
    bounded (days × event types), localCheckpoint-pinned so the temp
    lake can be reclaimed before the driver collects."""
    import shutil
    import tempfile

    from financial_data_pipeline_spark.sources.laketable import LakeTable
    from financial_data_pipeline_spark.sources.rollup import refresh_rollup

    tmp = tempfile.mkdtemp(prefix="fdp_rollup_q_")
    try:
        source = LakeTable(spark, f"{tmp}/src", stat_cols=["ts"])
        target = LakeTable(spark, f"{tmp}/agg", stat_cols=["day"])
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        day = F.to_date("ts")
        late = F.pmod(F.col("event_id"), F.lit(7)) == F.lit(3)

        def key_of(df: DataFrame) -> DataFrame:
            return df.withColumn("day", F.to_date("ts"))

        def agg(df: DataFrame) -> DataFrame:
            return df.groupBy("day", "event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.aggregate(
                    F.array_sort(F.collect_list(F.col("value"))),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias("total_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )

        keys = ["day", "event_type"]
        source.commit(
            ev.filter((day <= F.lit("2024-01-20")) & ~late)
            .repartitionByRange(4, "ts")
        )
        refresh_rollup(source, target, key_of, agg, keys)
        source.commit(
            ev.filter(day > F.lit("2024-01-20")).repartitionByRange(2, "ts")
        )
        refresh_rollup(source, target, key_of, agg, keys)
        source.commit(ev.filter((day <= F.lit("2024-01-20")) & late))
        refresh_rollup(source, target, key_of, agg, keys)
        purged = source.read().filter(
            F.to_date("ts").between("2024-01-10", "2024-01-12")
            & (F.col("event_type") == "purchase")
        )
        source.delete(purged.select("ts", "event_id"), ["ts", "event_id"])
        refresh_rollup(source, target, key_of, agg, keys)
        return target.read().select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.round("total_value", 6).alias("total_value"),
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
