"""Deterministic OHLCV bars derived from the ``events`` table.

The reference consumes NinjaTrader bars (``BaseBar``: Time/Day ints +
OHLCV doubles, FeatureEngineering/BaseBar.cs:3-14). Our test corpus has
no bar table, so the engine derives one from ``events`` exactly as
specified in FIXTURES.md §1. The derivation is implemented twice — as
Spark SQL text and as a DuckDB SQL CTE — and both must produce
bit-identical doubles. To guarantee that, only IEEE-exactly-rounded
operations are used (+, -, *, /, integer %, greatest/least, lag): no
transcendentals, no engine-dependent rounding.

Derivation:
  day    = yyyyMMdd(ts), time = HHmmss(ts)     (codecs, exact ints)
  dedupe = first event_id per (day, time) — makes ``time`` strictly
           increasing within each day (FIXTURES.md constraint)
  close  = 100.0 + value                        (value > 0 in the corpus)
  open   = lag(close) within day, first bar opens at its close
  high   = max(open, close) + (event_id % 5) * 0.01
  low    = min(open, close) - (event_id % 3) * 0.01
  volume = 1 + event_id % 1000 (as double)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from strategy_analyzer_exporter_spark.sources.tables import load_table

#: DuckDB CTE fragment producing the identical `bars` relation from the
#: pre-registered `events` view. Embed as: f"WITH {BARS_CTE} SELECT ...".
BARS_CTE = """
bars_raw AS (
    SELECT
        CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS INTEGER) AS day,
        CAST(hour(ts)*10000 + minute(ts)*100 + second(ts) AS INTEGER) AS time,
        event_id,
        user_id,
        CAST(100.0 AS DOUBLE) + value AS close
    FROM events
),
bars_dedup AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY day, time ORDER BY event_id) AS _rn
        FROM bars_raw
    ) WHERE _rn = 1
),
bars AS (
    SELECT
        day, time, event_id, user_id,
        coalesce(lag(close) OVER (PARTITION BY day ORDER BY time), close) AS open,
        greatest(coalesce(lag(close) OVER (PARTITION BY day ORDER BY time), close), close)
            + CAST(event_id % 5 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS high,
        least(coalesce(lag(close) OVER (PARTITION BY day ORDER BY time), close), close)
            - CAST(event_id % 3 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS low,
        close,
        CAST(1 + event_id % 1000 AS DOUBLE) AS volume
    FROM bars_dedup
)
""".strip()


#: the bar as the feature pipeline consumes it (BaseBar.cs:3-14)
OHLCV_COLUMNS = ("day", "time", "open", "high", "low", "close", "volume")

#: Spark SQL twin of BARS_CTE over the view ``{events}`` (bound by
#: ``spark.sql(..., events=...)``). Doubles are written with the ``D``
#: suffix: Spark SQL reads ``100.0`` as DECIMAL(4,1), which would add a
#: decimal→double cast the DuckDB side does not have.
_BARS_SQL = """
WITH raw AS (
    SELECT CAST(year(ts) * 10000 + month(ts) * 100 + dayofmonth(ts) AS INT) AS day,
           CAST(hour(ts) * 10000 + minute(ts) * 100 + second(ts) AS INT) AS time,
           event_id,
           user_id,
           100.0D + value AS close
    FROM {events}
),
dedup AS (
    SELECT day, time, event_id, user_id, close
    FROM (SELECT *, lag(time) OVER (PARTITION BY day ORDER BY time, event_id) AS _prev_t
          FROM raw)
    WHERE _prev_t IS NULL OR _prev_t != time
),
prev AS (
    SELECT *, lag(close) OVER (PARTITION BY day ORDER BY time) AS _prev_c
    FROM dedup
),
bars AS (
    SELECT day, time, event_id, user_id,
           coalesce(_prev_c, close) AS open,
           greatest(coalesce(_prev_c, close), close)
               + CAST(event_id % 5 AS DOUBLE) * 0.01D AS high,
           least(coalesce(_prev_c, close), close)
               - CAST(event_id % 3 AS DOUBLE) * 0.01D AS low,
           close,
           CAST(1 + event_id % 1000 AS DOUBLE) AS volume
    FROM prev
)
"""


def bars_df(
    spark: SparkSession,
    sf_dir: str,
    columns: tuple[str, ...] | None = None,
    time_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Spark-side bars derivation; must match BARS_CTE bit-for-bit.

    ``columns`` projects the result (default: all nine bar columns);
    ``time_range=(start, end)`` keeps bars with ``start <= time <= end``
    (the reference's session predicate, applied AFTER ``open`` is taken
    from the previous bar of the whole day).

    Built as ONE ``spark.sql`` statement rather than a Column chain:
    every Column node built in Python is its own py4j round trip (plus
    origin bookkeeping and an active-session lookup per node), and the
    DataFrame form of this derivation cost ~700 of them, paid by each
    of the ~20 registered queries built on bars; as SQL text it is ~50
    (mostly the parquet read) and one parse/analyse call, and Catalyst
    sees the same logical plan.

    Scale notes: the (day, time) dedupe keeps the lowest event_id per
    (day, time) by sorting each day on (time, event_id) and dropping
    rows whose previous time is equal — equivalent to row_number()=1
    over (day, time), but it shares the hash(day) exchange with the
    ``open`` lag and every downstream window feature, so Catalyst plans
    a single exchange for the whole bars+features pipeline.
    """
    where = ""
    if time_range is not None:
        where = f"WHERE time >= {int(time_range[0])} AND time <= {int(time_range[1])}"
    text = f"{_BARS_SQL}SELECT {', '.join(columns) if columns else '*'} FROM bars {where}"
    return spark.sql(text, events=load_table(spark, sf_dir, "events"))
