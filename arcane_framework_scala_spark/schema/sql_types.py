"""SQL type-string parsing (reference ``utils/SqlUtils.scala``).

Two families the reference decodes at runtime:

- **JDBC ``java.sql.Types`` codes** → engine types (incl. DECIMAL/NUMERIC
  with precision+scale, text/ntext; ``SqlUtils.scala:71-129``);
- **Trino type strings** coming back from metadata queries — including the
  recursive ``row(name type, ...)`` / ``array(type)`` / ``decimal(p,s)``
  grammar (``SqlUtils.scala:131-222``).

Both land on Spark ``DataType`` here. The row-string parser is a tiny
recursive-descent tokenizer: commas inside nested ``row(...)`` must not
split the outer field list, which is the whole reason a regex won't do.
"""

from __future__ import annotations

import pyspark.sql.types as T

def quote_ident(name: str) -> str:
    """A column name as a Spark SQL identifier: backtick-quoted, embedded
    backticks doubled, so any name survives a ``selectExpr``/``F.expr``
    string. Only names go through here; values stay ``F.lit``."""
    return "`" + name.replace("`", "``") + "`"


# java.sql.Types constants → Spark types (SqlUtils.scala:71-129)
_JDBC_TYPES: dict[int, T.DataType] = {
    -5: T.LongType(),            # BIGINT
    -6: T.ShortType(),           # TINYINT (reference maps to Short→Int)
    5: T.ShortType(),            # SMALLINT
    4: T.IntegerType(),          # INTEGER
    6: T.FloatType(),            # FLOAT
    7: T.FloatType(),            # REAL
    8: T.DoubleType(),           # DOUBLE
    16: T.BooleanType(),         # BOOLEAN
    -7: T.BooleanType(),         # BIT
    1: T.StringType(),           # CHAR
    12: T.StringType(),          # VARCHAR
    -1: T.StringType(),          # LONGVARCHAR (text)
    -9: T.StringType(),          # NVARCHAR
    -15: T.StringType(),         # NCHAR
    -16: T.StringType(),         # LONGNVARCHAR (ntext)
    91: T.DateType(),            # DATE
    # TIME — no Spark time type; the engine-wide canonical encoding is
    # int64 NANOS-OF-DAY (schema/types.py TIME), lossless for SQL
    # Server's time(7) (100ns ticks) and orderable. Convert at the JDBC
    # boundary with time_to_nanos_tsql / time_string_to_nanos below.
    92: T.LongType(),
    93: T.TimestampNTZType(),    # TIMESTAMP
    2014: T.TimestampType(),     # TIMESTAMP_WITH_TIMEZONE (datetimeoffset)
    -2: T.BinaryType(),          # BINARY
    -3: T.BinaryType(),          # VARBINARY
    -4: T.BinaryType(),          # LONGVARBINARY
}


def jdbc_type_to_spark(
    code: int, precision: int = 38, scale: int = 18
) -> T.DataType:
    """java.sql.Types code → Spark type; DECIMAL/NUMERIC carry p/s."""
    if code in (2, 3):  # NUMERIC, DECIMAL
        return T.DecimalType(precision, scale)
    try:
        return _JDBC_TYPES[code]
    except KeyError:
        raise ValueError(f"unsupported java.sql.Types code: {code}") from None


# ---------------------------------------------------------------------------
# Trino type-string grammar: ident | ident(args) | row(name type, ...)
# ---------------------------------------------------------------------------

_SIMPLE: dict[str, T.DataType] = {
    "bigint": T.LongType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
    "boolean": T.BooleanType(),
    "real": T.FloatType(),
    "double": T.DoubleType(),
    "varchar": T.StringType(),
    "char": T.StringType(),
    "varbinary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "uuid": T.StringType(),
    "json": T.StringType(),
    "time": T.LongType(),  # nanos-of-day — one TIME encoding everywhere
}


# ---------------------------------------------------------------------------
# TIME boundary conversions — the one place the nanos-of-day encoding is
# produced, so JDBC-discovered schemas (92 → LongType above) typecheck
# against declared Arcane schemas (types.py TIME → LongType) with no
# spurious T8 migration diff.
# ---------------------------------------------------------------------------


def time_to_nanos_tsql(column: str, alias: str | None = None) -> str:
    """T-SQL expression converting a SQL Server ``time`` column to int64
    nanos-of-day — ``MsSqlQueryBuilder`` wraps TIME columns with this in
    the generated delta/backfill SELECTs (via the 3-tuple ColumnSummary
    type code), so the wire value already matches the engine encoding.

    NOTE an explicit format divergence from the reference: the reference
    preserves a distinct TimeType through to Iceberg's native ``time``
    type (``SchemaConversions.scala:48``); Spark has no time type, so
    tables written by this engine store the column as ``bigint``
    nanos-of-day. Values are losslessly convertible both ways
    (time(7) is 100 ns ticks), but the COLUMN TYPE differs — a
    reference-written and an engine-written table are not byte-level
    schema-compatible on time columns. docs/LAKEHOUSE.md §Types records
    the mapping."""
    ref = f"{alias}.[{column}]" if alias else f"[{column}]"
    return (
        f"CAST(DATEDIFF_BIG(NANOSECOND, CAST('00:00:00' AS time), "
        f"{ref}) AS BIGINT)"
    )


def time_string_to_nanos(column):
    """Spark Column: ``'HH:MM:SS[.fffffffff]'`` text → int64 nanos-of-day
    (for sources that deliver TIME as strings, e.g. CDM CSV). Integer
    arithmetic throughout — no float rounding in the encoding."""
    import pyspark.sql.functions as F

    c = F.col(column) if isinstance(column, str) else column
    hms = F.split(F.substring_index(c, ".", 1), ":")
    frac = F.when(
        c.contains("."),
        F.rpad(F.substring_index(c, ".", -1), 9, "0").cast("long"),
    ).otherwise(F.lit(0))
    return (
        (
            hms.getItem(0).cast("long") * 3600
            + hms.getItem(1).cast("long") * 60
            + hms.getItem(2).cast("long")
        )
        * F.lit(1_000_000_000)
        + frac
    ).cast("long")


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested inside parentheses."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def parse_trino_type(s: str) -> T.DataType:
    """Trino type string → Spark type, recursively."""
    s = s.strip()
    lo = s.lower()
    if lo.startswith("row(") and lo.endswith(")"):
        fields = []
        for part in _split_top_level(s[4:-1]):
            name, _, rest = part.partition(" ")
            if not rest:
                raise ValueError(f"row field needs 'name type': {part!r}")
            fields.append(T.StructField(name.strip(), parse_trino_type(rest), True))
        return T.StructType(fields)
    if lo.startswith("array(") and lo.endswith(")"):
        return T.ArrayType(parse_trino_type(s[6:-1]), True)
    if lo.startswith("map(") and lo.endswith(")"):
        k, v = _split_top_level(s[4:-1])
        return T.MapType(parse_trino_type(k), parse_trino_type(v), True)
    if lo.startswith("decimal(") and lo.endswith(")"):
        p, sc = (int(x) for x in _split_top_level(s[8:-1]))
        return T.DecimalType(p, sc)
    if "(" in lo:  # parameterized scalars: varchar(n), char(n), timestamp(p)
        base = lo.split("(", 1)[0]
        if base in ("timestamp",) and "with time zone" in lo:
            return T.TimestampType()
        if base in _SIMPLE:
            return _SIMPLE[base]
        raise ValueError(f"unsupported trino type: {s!r}")
    if lo.endswith("with time zone"):
        return T.TimestampType()
    if lo in _SIMPLE:
        return _SIMPLE[lo]
    raise ValueError(f"unsupported trino type: {s!r}")
