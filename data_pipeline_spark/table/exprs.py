"""Hot-path plan builders in SQL-expression text.

PySpark builds every ``Column`` through py4j: each ``F.col``, ``.alias``,
``.cast`` and literal is one or more driver→JVM round trips (on PySpark
4.1: 13 for one ``F.col``, about 24 for ``F.col(c).alias(c)``, about 60
for an 8-int ``isin``), while ``selectExpr`` / ``where(str)`` /
``F.expr`` take SQL text and parse it JVM-side (3 calls for one
``F.expr``, 1 for a ``where`` string).  At per-epoch batch
sizes that round-trip tax, not the data, is most of the driver's time, so
the per-epoch paths (the MOR read resolve, the schema conform, bucket
addressing, the write layout, emit's images and the shard export) build
their plans here, from text.  The text parses to the same Catalyst
expressions the ``Column`` form builds, so plans and output bytes are
unchanged.

Identifiers are backtick-quoted by :func:`quote`.  Spark's SQL parser
substitutes ``${var}`` references in the raw text BEFORE lexing — inside
quoted identifiers and string literals too — so a name containing ``${``
cannot be written as SQL text: :func:`quote` raises
:class:`UnsafeIdentifierError` for it, and table schemas reject such names
up front (:func:`check_identifiers`).  User strings become literals through
:func:`str_lit`, whose hex form no parser mode or substitution can alter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class UnsafeIdentifierError(ValueError):
    """A column or field name contains ``${``, which Spark's SQL parser
    would substitute before lexing — it cannot be planned as SQL text."""


def quote(name: str) -> str:
    """Backtick-quoted SQL identifier for one column name (a dot inside a
    name is part of the name, not a struct path)."""
    if "${" in name:
        raise UnsafeIdentifierError(
            f"column name {name!r} contains '${{', which Spark SQL substitutes "
            "as a variable reference; rename the column"
        )
    return "`" + name.replace("`", "``") + "`"


def quote_all(names) -> str:
    return ", ".join(quote(n) for n in names)


def col(name: str):
    """A column reference as a ``Column`` — ``F.expr`` of the quoted name
    costs 3 py4j calls where ``F.col`` costs 13."""
    return F.expr(quote(name))


def check_identifiers(dt: T.DataType) -> None:
    """Raise :class:`UnsafeIdentifierError` if any field name in ``dt``
    (nested struct fields included) cannot be quoted."""
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            quote(f.name)
            check_identifiers(f.dataType)
    elif isinstance(dt, T.ArrayType):
        check_identifiers(dt.elementType)
    elif isinstance(dt, T.MapType):
        check_identifiers(dt.keyType)
        check_identifiers(dt.valueType)


def type_sql(dt: T.DataType) -> str | None:
    """SQL DDL for ``dt``, or ``None`` when DDL cannot state it exactly (an
    array or map with non-nullable elements, a user-defined or char type)."""
    if isinstance(dt, T.ArrayType):
        e = type_sql(dt.elementType) if dt.containsNull else None
        return None if e is None else f"array<{e}>"
    if isinstance(dt, T.MapType):
        k, v = type_sql(dt.keyType), type_sql(dt.valueType)
        if k is None or v is None or not dt.valueContainsNull:
            return None
        return f"map<{k}, {v}>"
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            t = type_sql(f.dataType)
            if t is None:
                return None
            fields.append(f"{quote(f.name)}: {t}" + ("" if f.nullable else " NOT NULL"))
        return f"struct<{', '.join(fields)}>"
    if isinstance(dt, (T.UserDefinedType, T.CharType, T.VarcharType)):
        return None
    return dt.simpleString()


def str_lit(value: str) -> str:
    """A string literal as SQL text: the UTF-8 bytes as a hex binary literal,
    decoded — immune to ``${}`` substitution and to the parser's escape
    mode, and constant-folded to the plain string literal."""
    return f"decode(X'{value.encode('utf-8').hex()}', 'UTF-8')"


def in_ints(col: str, values) -> str:
    """``col IN (v1, v2, ...)`` over integers."""
    return f"{quote(col)} IN ({', '.join(str(int(v)) for v in values)})"


def conform(df: DataFrame, schema: T.StructType, extra=()) -> DataFrame:
    """Project ``df`` onto ``schema``'s columns in order: a column whose
    type already matches passes through, one whose type differs is cast,
    and a missing one is a typed NULL; the SQL expressions in ``extra``
    follow.  One ``selectExpr``; a cast DDL cannot state exactly (see
    :func:`type_sql`) is applied as a ``Column`` cast on top."""
    have = {f.name: f.dataType for f in df.schema.fields}
    exprs, fix = [], {}
    for f in schema.fields:
        q = quote(f.name)
        present = f.name in have
        if present and have[f.name] == f.dataType:
            exprs.append(q)
            continue
        t = type_sql(f.dataType)
        if t is None:
            exprs.append(q if present else f"NULL AS {q}")
            fix[f.name] = (F.col(q) if present else F.lit(None)).cast(f.dataType)
        else:
            exprs.append(f"CAST({q if present else 'NULL'} AS {t}) AS {q}")
    out = df.selectExpr(*exprs, *extra)
    return out.withColumns(fix) if fix else out


def lww_resolve(
    df: DataFrame, key: str, order_sql: str, payload: list[str] | None = None
) -> DataFrame:
    """Latest row per ``key`` by the SQL ordering expression ``order_sql``:
    ``groupBy(key).agg(max_by(struct(payload), order))``, unpacked with
    ``_w.*`` — a declarative aggregate with map-side partial aggregation,
    so a hot key resolves in O(#tasks).  Output columns: ``key`` then
    ``payload`` (default: every other column, in ``df`` order)."""
    if payload is None:
        payload = [c for c in df.columns if c != key]
    w = "_w"
    while w in df.columns:
        w += "_"
    return (
        df.groupBy(F.expr(quote(key)))
        .agg(F.expr(f"max_by(struct({quote_all(payload)}), {order_sql}) AS {w}"))
        .selectExpr(quote(key), f"{w}.*")
    )
