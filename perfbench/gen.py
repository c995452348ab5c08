"""Seeded input generators for the benchmark.

Every generator takes a ``numpy`` seed and writes plain parquet files; the
package under test only ever sees those files. The same seed gives
byte-identical files (no wall-clock values, fixed writer options).

``events`` follows the schema of the repo's ``events`` test table
(``event_id, ts, user_id, event_type, value, props``), so
``sources.bars.bars_df`` derives bars from it unchanged. Prices are a
positive random walk, and each day carries a few duplicate-second events
and a few events outside the trading session, so the bars derivation's
dedupe and the session filter both have work to do.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
#: first generated day (2024-01-01 00:00:00 UTC) in microseconds
EPOCH_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
#: seconds of day inside the session TESTDATA_CONFIG keeps (02:00:00-23:55:00)
SESSION_LO_S = 2 * 3600
SESSION_HI_S = 23 * 3600 + 55 * 60

BAR_SCHEMA = pa.schema(
    [
        ("day", pa.int32()),
        ("time", pa.int32()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.float64()),
    ]
)


@dataclass(frozen=True)
class EventsSpec:
    days: int
    bars_per_day: int
    dup_share: float = 0.05  # extra events that repeat an existing second
    off_session_share: float = 0.03  # events before the session opens


def make_events(spec: EventsSpec, seed: int) -> pa.Table:
    """One table of events: ``spec.days`` consecutive days, about
    ``spec.bars_per_day`` distinct in-session seconds per day."""
    rng = np.random.default_rng(seed)
    n_dup = int(spec.bars_per_day * spec.dup_share)
    n_off = int(spec.bars_per_day * spec.off_session_share)
    ts_parts = []
    for d in range(spec.days):
        secs = rng.choice(
            np.arange(SESSION_LO_S, SESSION_HI_S + 1), spec.bars_per_day, replace=False
        )
        dups = rng.choice(secs, n_dup, replace=False)
        off = rng.choice(np.arange(0, SESSION_LO_S), n_off, replace=False)
        s = np.concatenate([secs, dups, off]).astype(np.int64)
        us = rng.integers(0, 1_000_000, len(s))
        ts_parts.append(EPOCH_US + d * DAY_US + s * 1_000_000 + us)
    ts = np.sort(np.concatenate(ts_parts))
    n = len(ts)
    # positive random walk in cents, so every value is an exact 2-decimal
    # price like the corpus' own values
    steps = rng.integers(-25, 26, n)
    cents = np.empty(n, dtype=np.int64)
    level = 5_000
    for i, st in enumerate(steps):
        level = abs(level + st - 100) + 100
        cents[i] = level
    value = cents / 100.0
    user_id = rng.integers(0, 2_000, n)
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id.astype(np.int64)),
            "event_type": pa.array(etype.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, type=pa.string()),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def write_events_dir(spec: EventsSpec, seed: int, out_dir: str) -> dict:
    """``out_dir/events.parquet`` in the layout the package's loaders read
    (``load_table(spark, out_dir, "events")``). Returns input properties."""
    t = make_events(spec, seed)
    write_table(t, os.path.join(out_dir, "events.parquet"))
    return {
        "event_rows": t.num_rows,
        "days": spec.days,
        "bars_per_day": spec.bars_per_day,
        "duplicate_second_events": spec.days * int(spec.bars_per_day * spec.dup_share),
        "off_session_events": spec.days * int(spec.bars_per_day * spec.off_session_share),
        "files_per_table": 1,
    }


def bars_from_events(events_dir: str) -> pa.Table:
    """The ``bars`` relation of ``events_dir`` through the package's own
    DuckDB derivation (``sources.bars.BARS_CTE``), which the Spark-side
    ``bars_df`` matches bit for bit."""
    import duckdb

    from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE

    con = duckdb.connect()
    try:
        ev = os.path.join(events_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{ev}')")
        cols = ", ".join(f.name for f in BAR_SCHEMA)
        return con.execute(
            f"WITH {BARS_CTE} SELECT {cols} FROM bars ORDER BY day, time"
        ).fetch_arrow_table().cast(BAR_SCHEMA)
    finally:
        con.close()


def split_day_files(bars: pa.Table) -> list[tuple[int, pa.Table]]:
    """One bar table per day, in day order (the stream's file unit)."""
    days = bars.column("day").to_numpy()
    bounds = np.flatnonzero(np.diff(days)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(days)]])
    return [(int(days[s]), bars.slice(s, e - s)) for s, e in zip(starts, ends)]
