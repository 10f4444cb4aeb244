"""Schema system: the reference's compile-time type whitelist as Spark types.

The reference converts rows field-by-field through a hard-coded switch
(``Operators/Process/SnowflakeToRowDataMapFunction.java:61-85``): VARCHAR,
INTEGER, BIGINT, DOUBLE, FLOAT, BOOLEAN, TIMESTAMP_WITHOUT_TIME_ZONE pass;
null passes through (lines 62-64); anything else throws
UnsupportedOperationException (82-83). In Spark the whole conversion is one
declarative ``select(cast(...))`` that Catalyst folds into the scan, but we
keep the whitelist and the throw-on-unknown semantics so configuration errors
surface at plan time, not at scale.

On a 100 TB run this matters because the cast projection is the difference
between a whole-stage-codegen'd columnar scan and a per-row Python hop: all
casts here are JVM-side Catalyst expressions; no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import UnsupportedOperationError

#: The §1.3 whitelist (SnowflakeToRowDataMapFunction.java:66-84) mapped to
#: Spark types. TIMESTAMP_WITHOUT_TIME_ZONE maps to TimestampNTZType; the
#: fixture pipeline uses TimestampType (session-UTC) because the driver's
#: DuckDB oracle reads parquet instants — one convention, pinned here.
SUPPORTED_TYPES: tuple[type, ...] = (
    T.StringType,        # VARCHAR
    T.IntegerType,       # INTEGER
    T.LongType,          # BIGINT
    T.DoubleType,        # DOUBLE
    T.FloatType,         # FLOAT
    T.BooleanType,       # BOOLEAN
    T.TimestampType,     # TIMESTAMP (instant convention, see above)
    T.TimestampNTZType,  # TIMESTAMP_WITHOUT_TIME_ZONE
)


#: Avro primitive → Spark type (the AVDL/avsc names the reference's schema
#: pipeline starts from; SnowFlakeTable.avdl:3-8 declares string fields,
#: pom.xml:151-170 compiles them — here the conversion is direct, no
#: generated POJO layer).
_AVRO_PRIMITIVES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
}

#: Avro logicalType (on an int/long base) → Spark type.
_AVRO_LOGICAL: dict[str, T.DataType] = {
    "timestamp-millis": T.TimestampType(),
    "timestamp-micros": T.TimestampType(),
    "local-timestamp-millis": T.TimestampNTZType(),
    "local-timestamp-micros": T.TimestampNTZType(),
}


def _avro_field_type(t) -> tuple[T.DataType, bool]:
    """(Spark type, nullable) for one Avro field type. Unions are only
    supported in the ``["null", X]`` nullable form; everything outside the
    reference's whitelist throws, same as validate_target_schema."""
    if isinstance(t, list):  # union — nullable iff "null" is a branch
        branches = [b for b in t if b != "null"]
        if len(branches) != 1:
            raise UnsupportedOperationError(
                f"unsupported avro union {t!r} (only [null, X] unions)"
            )
        dt, _ = _avro_field_type(branches[0])
        return dt, True
    if isinstance(t, dict):
        logical = t.get("logicalType")
        if logical is not None:
            if logical not in _AVRO_LOGICAL:
                raise UnsupportedOperationError(
                    f"unsupported avro logicalType {logical!r}"
                )
            return _AVRO_LOGICAL[logical], False
        return _avro_field_type(t.get("type"))
    if t in _AVRO_PRIMITIVES:
        return _AVRO_PRIMITIVES[t], False
    raise UnsupportedOperationError(
        f"avro type {t!r} is outside the supported whitelist "
        "(string,int,long,double,float,boolean,timestamp logicals)"
    )


def avro_schema_to_struct(schema: dict) -> T.StructType:
    """Avro record schema (``.avsc``-shaped dict) → whitelisted StructType.

    The reference declares its table schema in Avro (SnowFlakeTable.avdl:3-8)
    and converts Avro → Iceberg → Flink RowType in a chain
    (AvroSchemaUtils/IcebergSchemaUtils, SURVEY.md §1.4); here the chain
    collapses to one conversion whose output feeds the same
    ``validate_target_schema`` + ``cast_projection`` path, so an existing
    Avro contract drops in unchanged.
    """
    if schema.get("type") != "record":
        raise UnsupportedOperationError(
            f"expected an avro record schema, got {schema.get('type')!r}"
        )
    fields = []
    for f in schema.get("fields", []):
        dt, nullable = _avro_field_type(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return validate_target_schema(T.StructType(fields))


def avdl_record_to_struct(avdl_text: str, record: str | None = None) -> T.StructType:
    """Minimal AVDL record reader: extract ``record Name { type FIELD; … }``
    from protocol IDL text and convert via ``avro_schema_to_struct`` — the
    exact shape of the reference's SnowFlakeTable.avdl, so its IDL file can
    be pointed at verbatim. ``union { null, X }`` marks a nullable field.
    """
    import re

    pat = (
        r"record\s+(\w+)\s*\{"
        if record is None
        else rf"record\s+({re.escape(record)})\s*\{{"
    )
    m = re.search(pat, avdl_text)
    if not m:
        raise ValueError(f"no record {record or ''} found in AVDL text")
    # brace-aware body extraction: unions nest a { } inside the record body
    depth, start = 1, m.end()
    for pos in range(start, len(avdl_text)):
        if avdl_text[pos] == "{":
            depth += 1
        elif avdl_text[pos] == "}":
            depth -= 1
            if depth == 0:
                break
    else:
        raise ValueError(f"unbalanced braces in AVDL record {m.group(1)}")
    body = avdl_text[start:pos]
    fields = []
    for line in body.split(";"):
        line = line.strip()
        if not line:
            continue
        um = re.match(r"union\s*\{\s*null\s*,\s*(\w+)\s*\}\s+(\w+)$", line)
        if um:
            fields.append({"name": um.group(2), "type": ["null", um.group(1)]})
            continue
        tm = re.match(r"(\w+)\s+(\w+)$", line)
        if not tm:
            raise UnsupportedOperationError(f"unsupported AVDL field {line!r}")
        fields.append({"name": tm.group(2), "type": tm.group(1)})
    return avro_schema_to_struct(
        {"type": "record", "name": m.group(1), "fields": fields}
    )


def validate_target_schema(schema: T.StructType) -> T.StructType:
    """Reject any field outside the reference's type whitelist
    (the UnsupportedOperationException branch, lines 82-83)."""
    for f in schema.fields:
        if not isinstance(f.dataType, SUPPORTED_TYPES):
            raise UnsupportedOperationError(
                f"type {f.dataType.simpleString()} of field {f.name!r} is "
                "outside the supported whitelist "
                "(string,int,bigint,double,float,boolean,timestamp)"
            )
    return schema


def cast_projection(
    df: DataFrame, target: T.StructType, lenient: bool = False
) -> DataFrame:
    """The reference's row-format conversion (O9) as one Catalyst projection.

    Reference: SnowflakeToRowDataMapFunction.java:29-85 — reflect each field
    out of the POJO and cast per logical type, null passing through. Spark
    form: ``select(col(name).cast(type))`` — a single whole-stage-codegen
    projection, pushed against the scan; nulls pass through ``cast`` natively.

    Under ANSI mode a bad value makes ``cast`` throw — the reference's
    job-killing behavior. ``lenient=True`` switches to ``try_cast`` (bad
    value ⇒ null), the companion of ``cast_deadletter`` which records
    exactly those failures as data.
    """
    validate_target_schema(target)
    missing = [f.name for f in target.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"cast_projection: source lacks fields {missing}")
    conv = (lambda c, t: c.try_cast(t)) if lenient else (lambda c, t: c.cast(t))
    return df.select(
        [conv(F.col(f.name), f.dataType).alias(f.name) for f in target.fields]
    )


def ts_ms(col: str | Column) -> Column:
    """Canonical comparable form of a timestamp: epoch milliseconds (bigint).

    Fixture timestamps are parquet ns truncated to µs by both Spark and
    DuckDB (FIXTURES.md §2 events.ts note); comparing at ms-epoch makes the
    oracle hash deterministic across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.unix_micros(c) / F.lit(1000)).cast("long")


def _cast_checks(target: T.StructType, key: str) -> list[tuple[str, str]]:
    """``(field, predicate)`` for every field whose cast can fail: the
    predicate holds when the source value is non-null but its ``try_cast``
    to the target type is null."""
    validate_target_schema(target)
    return [
        (
            f.name,
            f"{f.name} IS NOT NULL "
            f"AND try_cast({f.name} AS {f.dataType.simpleString()}) IS NULL",
        )
        for f in target.fields
        # strings always cast; the key must be trustworthy
        if not isinstance(f.dataType, T.StringType) and f.name != key
    ]


def cast_failures(target: T.StructType, key: str) -> Column:
    """Per row, the number of fields that fail their declared cast — the
    number of rows ``cast_deadletter`` emits for it. Summed in an
    aggregate, it tells whether a dead-letter write has anything to write
    without running that write."""
    terms = [f"CAST({pred} AS INT)" for _, pred in _cast_checks(target, key)]
    return F.expr(" + ".join(terms) if terms else "0")


def cast_deadletter(df: DataFrame, target: T.StructType, key: str) -> DataFrame:
    """The whitelist's throw-branch (SnowflakeToRowDataMapFunction.java:82-83)
    as DATA instead of a job-killing exception: rows whose source value is
    non-null but fails ``try_cast`` to the target type are routed to a
    dead-letter output of (key, field, raw) — one row per failed field.

    A Flink job hitting an uncastable value dies; at 100 TB a single bad
    row must not. The checks compile to one whole-stage-codegen projection
    (an array of per-field CASEs) + a generate — no shuffle, no Python,
    and the happy path pays only the try_cast it already needed.
    """
    arr = ", ".join(
        f"CASE WHEN {pred} THEN named_struct('field', '{name}', "
        f"'raw', cast({name} AS string)) END"
        for name, pred in _cast_checks(target, key)
    )
    return df.selectExpr(
        f"{key} AS row_key",
        f"filter(array({arr}), x -> x IS NOT NULL) AS __bad",
    ).selectExpr("row_key", "inline(__bad)")
