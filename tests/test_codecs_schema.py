"""Codec and schema-derivation unit tests (SURVEY.md §1.3, §2.2 P3)."""

import datetime
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import functions as F
from pyspark.sql import types as T

from strategy_analyzer_exporter_spark import codecs, schema


def test_py_codecs():
    ts = datetime.datetime(2024, 1, 15, 9, 30, 5)
    assert codecs.py_ts_to_day(ts) == 20240115
    assert codecs.py_ts_to_time(ts) == 93005
    assert codecs.py_parse_hhmmss("090000") == 90000


def test_spark_codecs_roundtrip(spark):
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 7, 15, 55, 0),)], "ts: timestamp"
    )
    row = df.select(
        codecs.ts_to_day("ts").alias("day"),
        codecs.ts_to_time("ts").alias("time"),
    ).first()
    assert (row["day"], row["time"]) == (20240307, 155500)
    back = df.select(
        codecs.day_time_to_ts(F.lit(20240307), F.lit(155500)).alias("ts2")
    ).first()["ts2"]
    assert back == datetime.datetime(2024, 3, 7, 15, 55, 0)


def test_session_predicate(spark):
    df = spark.createDataFrame([(85959,), (90000,), (120000,), (155500,), (155501,)], "t: int")
    kept = [r["t"] for r in df.filter(codecs.time_in_session("t", 90000, 155500)).collect()]
    assert kept == [90000, 120000, 155500]  # inclusive both ends


@dataclass
class Rec:
    zeta: float
    alpha: int
    Name: str
    flag: Optional[bool]
    when: datetime.datetime


def test_struct_type_ordinal_sort_and_narrowing():
    st = schema.derive_struct_type(Rec)
    # ordinal sort: uppercase sorts before lowercase (code points)
    assert [f.name for f in st.fields] == ["Name", "alpha", "flag", "when", "zeta"]
    assert isinstance(st["zeta"].dataType, T.DoubleType)
    st32 = schema.derive_struct_type(Rec, use_float32=True)
    assert isinstance(st32["zeta"].dataType, T.FloatType)
    assert st["flag"].nullable is True


def test_create_table_ddl():
    ddl = schema.derive_create_table(Rec, 'tab"le', use_float32=True)
    assert ddl.startswith('CREATE TABLE IF NOT EXISTS "tab""le" (')
    assert '"zeta" REAL' in ddl and '"alpha" BIGINT' in ddl and '"when" TIMESTAMP' in ddl


def test_export_select_discipline(spark):
    df = spark.createDataFrame([(1.5, 2, "x")], "zz: double, day: int, name: string")
    out = schema.export_select(df, use_float32=True)
    assert out.columns == ["day", "name", "zz"]
    assert isinstance(out.schema["zz"].dataType, T.FloatType)
    assert isinstance(out.schema["day"].dataType, T.IntegerType)


def test_export_select_is_identity_on_conforming_frame(spark):
    """An already-exported frame (ordinal order, no double left) comes
    back as the same object; one that still needs work does not."""
    done = schema.export_select(
        spark.createDataFrame([(1.5, 2, "x")], "zz: double, day: int, name: string")
    )
    assert schema.export_select(done, use_float32=True) is done
    kept_double = spark.createDataFrame([(2, 1.5)], "day: int, zz: double")
    assert schema.export_select(kept_double, use_float32=False) is kept_double
    assert schema.export_select(kept_double, use_float32=True) is not kept_double
    unsorted = spark.createDataFrame([(1.5, 2)], "zz: float, day: int")
    assert schema.export_select(unsorted).columns == ["day", "zz"]
