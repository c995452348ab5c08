"""Record-class → schema derivation ("dynamic schema").

Mirrors the reference's reflection-based schema inference
(DatabaseWriter.cs:217-256): all public fields of a record type, sorted
by name with ordinal (code-point) comparison, each mapped through a
fixed type table (DatabaseWriter.cs:299-315), optionally narrowing
float64 → float32 at write time (``UseFloat32``,
DatabaseWriter.cs:198-202,310). Identifiers in generated DDL are quoted
by doubling embedded quotes (DatabaseWriter.cs:467).

Here the "CLR type" is a Python class with type annotations (dataclass,
NamedTuple, or any annotated class); the outputs are a Spark
``StructType`` and a DuckDB ``CREATE TABLE IF NOT EXISTS`` statement.
"""

from __future__ import annotations

import dataclasses
import datetime
import decimal
import enum
import typing
from typing import Any, Optional, Union, get_args, get_origin, get_type_hints

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# C# type → DuckDB type table (DatabaseWriter.cs:299-315), re-keyed on
# Python types. float maps like C# double: REAL when use_float32 else DOUBLE.
_SPARK_TYPE_MAP: dict[type, T.DataType] = {
    str: T.StringType(),
    bytes: T.BinaryType(),
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
    decimal.Decimal: T.DecimalType(28, 9),
    datetime.datetime: T.TimestampType(),
    datetime.date: T.DateType(),
    datetime.timedelta: T.DayTimeIntervalType(),
}

_DUCKDB_TYPE_MAP: dict[type, str] = {
    str: "VARCHAR",
    bytes: "BLOB",
    bool: "BOOLEAN",
    int: "BIGINT",
    float: "DOUBLE",
    decimal.Decimal: "DECIMAL(28,9)",
    datetime.datetime: "TIMESTAMP",
    datetime.date: "DATE",
    datetime.timedelta: "INTERVAL",
}

# Narrow-width annotations, mirroring TINYINT/SMALLINT/INTEGER/REAL rows
# of the reference table for record classes that want exact widths.
int8 = typing.NewType("int8", int)
int16 = typing.NewType("int16", int)
int32 = typing.NewType("int32", int)
float32 = typing.NewType("float32", float)

_NEWTYPE_SPARK: dict[Any, T.DataType] = {
    int8: T.ByteType(),
    int16: T.ShortType(),
    int32: T.IntegerType(),
    float32: T.FloatType(),
}
_NEWTYPE_DUCKDB: dict[Any, str] = {
    int8: "TINYINT",
    int16: "SMALLINT",
    int32: "INTEGER",
    float32: "REAL",
}


def _unwrap_optional(tp: Any) -> tuple[Any, bool]:
    """Nullable<T> unwrap (DatabaseWriter.cs:243): Optional[X] → (X, True)."""
    if get_origin(tp) is Union:
        args = [a for a in get_args(tp) if a is not type(None)]
        if len(args) == 1:
            return args[0], True
    return tp, False


def _field_types(record_cls: type) -> dict[str, Any]:
    """Resolved (non-string) annotation per field.

    Always goes through ``typing.get_type_hints`` — under
    ``from __future__ import annotations`` (this repo's own style),
    ``dataclasses.fields(...)[i].type`` is a STRING, which would miss
    every type-table lookup and silently map all columns to VARCHAR.
    get_type_hints resolves postponed annotations for dataclasses too;
    for dataclasses the result is filtered to declared fields (so
    ClassVar/etc. don't leak in)."""
    hints = get_type_hints(record_cls)
    if dataclasses.is_dataclass(record_cls):
        return {f.name: hints[f.name] for f in dataclasses.fields(record_cls)}
    return dict(hints)


def _spark_type(tp: Any, use_float32: bool) -> T.DataType:
    if tp in _NEWTYPE_SPARK:
        dt = _NEWTYPE_SPARK[tp]
        return dt
    if isinstance(tp, type) and issubclass(tp, enum.Enum):
        return T.StringType()  # enum → VARCHAR name (DatabaseWriter.cs:194-197,301)
    dt = _SPARK_TYPE_MAP.get(tp)
    if dt is None:
        return T.StringType()  # anything-else → VARCHAR fallback (:314)
    if use_float32 and isinstance(dt, T.DoubleType):
        return T.FloatType()
    return dt


def _duckdb_type(tp: Any, use_float32: bool) -> str:
    if tp in _NEWTYPE_DUCKDB:
        return _NEWTYPE_DUCKDB[tp]
    if isinstance(tp, type) and issubclass(tp, enum.Enum):
        return "VARCHAR"
    s = _DUCKDB_TYPE_MAP.get(tp)
    if s is None:
        return "VARCHAR"
    if use_float32 and s == "DOUBLE":
        return "REAL"
    return s


def ordinal_sorted(names: list[str]) -> list[str]:
    """Ordinal string sort (DatabaseWriter.cs:222-225): plain code-point
    comparison, so the exported column order is alphabetical."""
    return sorted(names)


def derive_struct_type(record_cls: type, use_float32: bool = False) -> T.StructType:
    """Python record class → Spark StructType, columns ordinal-sorted."""
    hints = _field_types(record_cls)
    fields = []
    for name in ordinal_sorted(list(hints)):
        tp, nullable = _unwrap_optional(hints[name])
        fields.append(T.StructField(name, _spark_type(tp, use_float32), nullable))
    return T.StructType(fields)


def quote_ident(name: str) -> str:
    """Quote an SQL identifier, doubling embedded quotes
    (DatabaseWriter.cs:467)."""
    return '"' + name.replace('"', '""') + '"'


def derive_create_table(
    record_cls: type, table_name: str, use_float32: bool = False
) -> str:
    """Python record class → DuckDB ``CREATE TABLE IF NOT EXISTS`` DDL
    (reference EnsureTableExists<T>, DatabaseWriter.cs:131-136,249-252)."""
    hints = _field_types(record_cls)
    cols = []
    for name in ordinal_sorted(list(hints)):
        tp, _ = _unwrap_optional(hints[name])
        cols.append(f"{quote_ident(name)} {_duckdb_type(tp, use_float32)}")
    return (
        f"CREATE TABLE IF NOT EXISTS {quote_ident(table_name)} ({', '.join(cols)})"
    )


def export_select(df: DataFrame, use_float32: bool = True) -> DataFrame:
    """Apply the sink's column discipline to any DataFrame: ordinal
    (alphabetical) column order plus optional double→float32 narrowing at
    write time (S4, DatabaseWriter.cs:198-202). Narrowing happens only
    here — never in intermediate computation — matching the reference,
    which computes in double and narrows per-append.

    A frame that already conforms (ordinal order, nothing left to
    narrow) is returned unchanged after one schema read: re-projecting
    an exported 14-column frame costs ~350 py4j round trips."""
    fields = df.schema.fields
    names = [f.name for f in fields]
    narrow = {
        f.name for f in fields if use_float32 and isinstance(f.dataType, T.DoubleType)
    }
    if names == ordinal_sorted(names) and not narrow:
        return df
    cols = []
    for name in ordinal_sorted(names):
        c = F.col(name)
        if name in narrow:
            c = c.cast("float")
        cols.append(c.alias(name))
    return df.select(*cols)
