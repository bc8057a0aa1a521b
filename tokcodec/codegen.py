"""Schema -> source-code generator (reference U2).

The reference reads a Parquet footer and emits Java record source
matching the file (CarpetRecordGenerator.generateCode,
carpet-record/.../CarpetRecordGenerator.java:78-105). The Spark-side
equivalents: a Python dataclass declaration, a PySpark StructType
literal, and a DDL string — from either a StructType or an encoded
table's manifest.
"""

from __future__ import annotations

from pyspark.sql import types as T

_PY_TYPES = {
    T.BooleanType: "bool", T.ByteType: "int", T.ShortType: "int",
    T.IntegerType: "int", T.LongType: "int", T.FloatType: "float",
    T.DoubleType: "float", T.StringType: "str", T.BinaryType: "bytes",
    T.DateType: "datetime.date", T.TimestampType: "datetime.datetime",
    T.TimestampNTZType: "datetime.datetime",
}


def _py_type(dt: T.DataType) -> str:
    if type(dt) in _PY_TYPES:
        return _PY_TYPES[type(dt)]
    if isinstance(dt, T.ArrayType):
        return f"list[{_py_type(dt.elementType)}]"
    if isinstance(dt, T.MapType):
        return f"dict[{_py_type(dt.keyType)}, {_py_type(dt.valueType)}]"
    if isinstance(dt, T.DecimalType):
        return "decimal.Decimal"
    if isinstance(dt, T.StructType):
        return "dict"  # nested record; generate_dataclass emits a class
    raise NotImplementedError(f"no python type for {dt}")


def generate_dataclass(schema: T.StructType, name: str = "Record") -> str:
    """StructType -> Python dataclass source (nested structs become
    nested dataclasses, mirroring the reference's nested records)."""
    nested: list[str] = []
    lines = ["@dataclasses.dataclass", f"class {name}:"]
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, T.StructType):
            sub = name + f.name.capitalize()
            nested.append(generate_dataclass(dt, sub))
            ann = sub
        elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            sub = name + f.name.capitalize()
            nested.append(generate_dataclass(dt.elementType, sub))
            ann = f"list[{sub}]"
        else:
            ann = _py_type(dt)
        if f.nullable:
            ann += " | None"
        lines.append(f"    {f.name}: {ann}")
    return "\n\n".join(nested + ["\n".join(lines)])


def generate_struct_literal(schema: T.StructType) -> str:
    """StructType -> PySpark StructType(...) literal source."""

    def dt_src(dt: T.DataType) -> str:
        if isinstance(dt, T.ArrayType):
            return (f"T.ArrayType({dt_src(dt.elementType)}, "
                    f"{dt.containsNull})")
        if isinstance(dt, T.MapType):
            return (f"T.MapType({dt_src(dt.keyType)}, "
                    f"{dt_src(dt.valueType)}, {dt.valueContainsNull})")
        if isinstance(dt, T.StructType):
            inner = ", ".join(
                f"T.StructField({f.name!r}, {dt_src(f.dataType)}, {f.nullable})"
                for f in dt.fields
            )
            return f"T.StructType([{inner}])"
        return f"T.{type(dt).__name__}()"

    return dt_src(schema)


def generate_ddl(schema: T.StructType) -> str:
    return schema.simpleString()


def generate_from_encoded(path: str, name: str = "Record") -> str:
    """Encoded-table manifest -> dataclass source (the reference's
    footer->code flow, over our manifest instead of a Parquet footer)."""
    from tokcodec.io_tables import _paths, _read_json_fs

    manifest = _read_json_fs(_paths(path)[2])
    schema = T.StructType.fromJson(manifest["json"])
    return generate_dataclass(schema, name)
