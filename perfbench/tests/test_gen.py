"""The generators are pure functions of the seed."""

import hashlib

import gen
import pyarrow as pa

SPEC = gen.EventsSpec(days=3, bars_per_day=200)


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_identical_files(tmp_path):
    a = gen.write_events_dir(SPEC, 7, str(tmp_path / "a"))
    b = gen.write_events_dir(SPEC, 7, str(tmp_path / "b"))
    assert a == b
    assert _sha(tmp_path / "a" / "events.parquet") == _sha(tmp_path / "b" / "events.parquet")
    days_a = gen.split_day_files(gen.bars_from_events(str(tmp_path / "a")))
    days_b = gen.split_day_files(gen.bars_from_events(str(tmp_path / "b")))
    assert len(days_a) == SPEC.days
    for (da, ta), (db, tb) in zip(days_a, days_b):
        gen.write_table(ta, str(tmp_path / f"a{da}.parquet"))
        gen.write_table(tb, str(tmp_path / f"b{db}.parquet"))
        assert _sha(tmp_path / f"a{da}.parquet") == _sha(tmp_path / f"b{db}.parquet")


def test_other_seed_gives_other_events():
    assert not gen.make_events(SPEC, 7).equals(gen.make_events(SPEC, 8))


def test_events_follow_the_corpus_schema_and_shape():
    t = gen.make_events(SPEC, 7)
    assert t.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert t.schema.field("ts").type == pa.timestamp("us")
    assert min(t.column("value").to_pylist()) >= 1.0
    secs = {(v.value // gen.DAY_US, v.value // 1_000_000 % 86_400) for v in t.column("ts")}
    in_session = [s for _, s in secs if gen.SESSION_LO_S <= s <= gen.SESSION_HI_S]
    assert len(in_session) == SPEC.days * SPEC.bars_per_day


def test_day_files_split_bars_by_day(tmp_path):
    gen.write_events_dir(SPEC, 7, str(tmp_path))
    bars = gen.bars_from_events(str(tmp_path))
    parts = gen.split_day_files(bars)
    assert sum(t.num_rows for _, t in parts) == bars.num_rows
    for day, t in parts:
        assert set(t.column("day").to_pylist()) == {day}
        times = t.column("time").to_pylist()
        assert times == sorted(times)
