"""Untimed correctness gate: compare a result table with the DuckDB
oracle SQL the package registers.

Equal row count plus an equal order-insensitive hash (the sum of per-row
hashes over the columns sorted by name, each hashed as a DOUBLE, which
is exact for the export's INTEGER and REAL columns) accepts a result at
once. Otherwise the two sides are joined on their key ``(day, time)``:
every column must be equal, except the two lag-1 autocorrelation
columns, which must agree within ``AUTOCORR_TOL``.

Why the autocorrelation columns get a tolerance: they are computed as
``(p - m(2s - first - x) + (n-1)m²) / (Σx² - 2ms + nm²)``, where both
terms cancel to a small difference of large sums. The sums are exact
decimals of doubles, but the double→decimal cast is not the same in
Spark (which rounds the shortest decimal string of a double), DuckDB
(which rounds its exact binary value) and the streaming updater, and the
cancellation magnifies that 1e-12 into up to a few 1e-7 of the result on
a random-walk price series (measured: at most 6.7e-7 over about 80 runs
of both workloads; every other column bit-identical). The engines
disagree there by construction, so the gate checks those two columns to
1e-5, far below any signal in a value bounded by about 1, and reports
how many rows are not bit-identical (``inexact``) and the largest
difference, so the residual stays visible.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb

Digest = tuple[int, int, tuple[str, ...]]

KEY = ("day", "time")
#: absolute tolerance of the two lag-1 autocorrelation columns
AUTOCORR_TOL = 1e-5
TOLERANCES = {
    "f_moving_average_autocorrelation": AUTOCORR_TOL,
    "f_moving_average_slow_autocorrelation": AUTOCORR_TOL,
}


@dataclass(frozen=True)
class Comparison:
    bad: int  # rows of either side without an equal partner (within tolerance)
    inexact: int  # matched rows that are not bit-identical to their partner
    max_diff: float  # largest absolute difference on a tolerance column


EQUAL = Comparison(0, 0, 0.0)


def digest(con: duckdb.DuckDBPyConnection, relation_sql: str) -> Digest:
    """(rows, sum of row hashes, sorted column names) of a relation."""
    cols = tuple(
        sorted(d[0] for d in con.execute(f"SELECT * FROM ({relation_sql}) LIMIT 0").description)
    )
    row_hash = "hash(" + ", ".join(f'CAST("{c}" AS DOUBLE)' for c in cols) + ")"
    rows, h = con.execute(
        f"SELECT count(*), coalesce(sum({row_hash}), 0) FROM ({relation_sql})"
    ).fetchone()
    return int(rows), int(h), cols


def compare(con: duckdb.DuckDBPyConnection, a_sql: str, b_sql: str) -> Comparison:
    """Compare two relations on ``con`` by count plus hash, then by key."""
    da, db = digest(con, a_sql), digest(con, b_sql)
    if da == db:
        return EQUAL
    if da[2] != db[2] or not set(KEY) <= set(da[2]):
        return Comparison(da[0] + db[0], 0, math.inf)
    cols = [c for c in da[2] if c not in KEY]
    on = " AND ".join(f'a."{k}" = b."{k}"' for k in KEY)
    differs = " OR ".join(f'a."{c}" IS DISTINCT FROM b."{c}"' for c in cols)
    beyond = " OR ".join(
        f'NOT coalesce(abs(a."{c}" - b."{c}") <= {TOLERANCES[c]!r}, '
        f'a."{c}" IS NULL AND b."{c}" IS NULL)'
        if c in TOLERANCES
        else f'a."{c}" IS DISTINCT FROM b."{c}"'
        for c in cols
    )
    diffs = [f'abs(a."{c}" - b."{c}")' for c in cols if c in TOLERANCES]
    # abs() of an unmatched row is NULL, which max() and greatest() skip
    max_diff = f"coalesce(max(greatest({', '.join(diffs)})), 0)" if diffs else "0"
    unmatched, bad, inexact, worst = con.execute(
        f"""SELECT count(*) FILTER (WHERE a._in IS NULL OR b._in IS NULL),
                   count(*) FILTER (WHERE a._in AND b._in AND ({beyond})),
                   count(*) FILTER (WHERE a._in AND b._in AND ({differs})),
                   {max_diff}
            FROM (SELECT *, true AS _in FROM ({a_sql})) a
            FULL OUTER JOIN (SELECT *, true AS _in FROM ({b_sql})) b ON {on}"""
    ).fetchone()
    keys = ", ".join(f'"{k}"' for k in KEY)
    # a duplicated key would pair rows that are not partners
    dups = sum(
        con.execute(f"SELECT count(*) - count(DISTINCT ({keys})) FROM ({x})").fetchone()[0]
        for x in (a_sql, b_sql)
    )
    return Comparison(int(unmatched + 2 * bad + dups), int(inexact), float(worst))


def compare_table(con: duckdb.DuckDBPyConnection, db_path: str, table: str, other_sql: str) -> Comparison:
    """Compare ``db_path``'s ``table`` with ``other_sql``, a relation on ``con``."""
    con.execute(f"ATTACH '{db_path}' AS res (READ_ONLY)")
    try:
        return compare(con, f'SELECT * FROM res."{table}"', other_sql)
    finally:
        con.execute("DETACH res")


class Oracle:
    """The oracle's result over one ``events`` file, materialized once in
    an in-memory DuckDB and compared against each result table."""

    def __init__(self, events_path: str, oracle_sql: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        self.con.execute(f"CREATE TABLE oracle AS {oracle_sql}")
        self.rows = self.con.execute("SELECT count(*) FROM oracle").fetchone()[0]

    def compare(self, db_path: str, table: str) -> Comparison:
        return compare_table(self.con, db_path, table, "SELECT * FROM oracle")

    def close(self) -> None:
        self.con.close()
