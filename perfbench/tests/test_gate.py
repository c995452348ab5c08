"""The correctness gate accepts the oracle's own result, accepts the
autocorrelation columns within their tolerance, and rejects a perturbed
or missing row."""

import duckdb
import gate
import gen
from strategy_analyzer_exporter_spark.operators.features import features_sql


def _oracle_table(tmp_path):
    gen.write_events_dir(gen.EventsSpec(days=2, bars_per_day=120), 3, str(tmp_path))
    events = str(tmp_path / "events.parquet")
    db = str(tmp_path / "result.duckdb")
    con = duckdb.connect(db)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
    con.execute(f"CREATE TABLE features AS {features_sql()}")
    con.execute("DROP VIEW events")
    con.close()
    return events, db


def test_gate_accepts_the_oracle_result(tmp_path):
    events, db = _oracle_table(tmp_path)
    oracle = gate.Oracle(events, features_sql())
    try:
        assert oracle.rows > 0
        assert oracle.compare(db, "features") == gate.EQUAL
    finally:
        oracle.close()


def test_gate_rejects_a_perturbed_result(tmp_path):
    events, db = _oracle_table(tmp_path)
    con = duckdb.connect(db)
    # one float32 ulp on one value of one row
    con.execute(
        "UPDATE features SET close = nextafter(close, CAST('inf' AS FLOAT)) "
        "WHERE rowid = (SELECT min(rowid) FROM features)"
    )
    con.close()
    oracle = gate.Oracle(events, features_sql())
    try:
        assert oracle.compare(db, "features").bad == 2  # one row each way
    finally:
        oracle.close()


def test_gate_rejects_a_missing_row(tmp_path):
    events, db = _oracle_table(tmp_path)
    con = duckdb.connect(db)
    con.execute("DELETE FROM features WHERE time = (SELECT max(time) FROM features)")
    con.close()
    oracle = gate.Oracle(events, features_sql())
    try:
        assert oracle.compare(db, "features").bad == 1
    finally:
        oracle.close()


def _shift_autocorr(db, delta):
    con = duckdb.connect(db)
    con.execute(
        "UPDATE features SET f_moving_average_slow_autocorrelation = "
        f"f_moving_average_slow_autocorrelation + {delta} "
        "WHERE rowid IN (SELECT rowid FROM features ORDER BY day, time LIMIT 3)"
    )
    con.close()


def test_gate_accepts_autocorrelation_within_tolerance(tmp_path):
    events, db = _oracle_table(tmp_path)
    _shift_autocorr(db, gate.AUTOCORR_TOL / 4)
    oracle = gate.Oracle(events, features_sql())
    try:
        c = oracle.compare(db, "features")
        assert (c.bad, c.inexact) == (0, 3)
        assert 0 < c.max_diff <= gate.AUTOCORR_TOL
    finally:
        oracle.close()


def test_gate_rejects_autocorrelation_beyond_tolerance(tmp_path):
    events, db = _oracle_table(tmp_path)
    _shift_autocorr(db, gate.AUTOCORR_TOL * 4)
    oracle = gate.Oracle(events, features_sql())
    try:
        assert oracle.compare(db, "features").bad == 6  # three rows each way
    finally:
        oracle.close()


def test_gate_rejects_a_duplicated_row(tmp_path):
    events, db = _oracle_table(tmp_path)
    con = duckdb.connect(db)
    con.execute("INSERT INTO features SELECT * FROM features ORDER BY day, time LIMIT 1")
    con.close()
    oracle = gate.Oracle(events, features_sql())
    try:
        assert oracle.compare(db, "features").bad == 1
    finally:
        oracle.close()
