"""Driver-held rows as Spark local relations.

A small change set or rewrite is built on the driver; Spark should see it as
what it is, a local relation, not an RDD scan of a pickled Python list.
:func:`local_frame` goes through an Arrow table, so Spark plans it as a
``LocalRelation``: a projection or filter over it and its collect run no
Spark job and start no Python worker, and a write of it runs one job.
:func:`collectable` is the one rule for which rows can make the round trip
driver → local relation unchanged; rows that fail it stay on Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["collectable", "driver_frame", "holds_type", "local_frame"]


def holds_type(dt: T.DataType, kinds) -> bool:
    """Is ``dt``, or any type nested in it, an instance of ``kinds``?"""
    if isinstance(dt, kinds):
        return True
    if isinstance(dt, T.StructType):
        return any(holds_type(f.dataType, kinds) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return holds_type(dt.elementType, kinds)
    if isinstance(dt, T.MapType):
        return holds_type(dt.keyType, kinds) or holds_type(dt.valueType, kinds)
    return False


def collectable(schema: T.StructType) -> bool:
    """Can rows of ``schema`` make the round trip driver → :func:`local_frame`
    unchanged?  Not with a local-time ``timestamp`` (a collected local
    datetime is ambiguous in a DST fall-back hour), a variant, or a type
    with no Arrow form."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if holds_type(schema, (T.TimestampType, T.VariantType)):
        return False
    try:
        to_arrow_schema(schema)
    except TypeError:
        return False
    return True


def _arrow_value(v, dt: T.DataType):
    """A collected value in the shape ``pyarrow.array`` takes for ``dt``."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        return {f.name: _arrow_value(x, f.dataType) for f, x in zip(dt.fields, v)}
    if isinstance(dt, T.ArrayType):
        if isinstance(dt.elementType, (T.StructType, T.ArrayType, T.MapType, T.BinaryType)):
            return [_arrow_value(x, dt.elementType) for x in v]
        return v
    if isinstance(dt, T.MapType):
        return [(_arrow_value(k, dt.keyType), _arrow_value(x, dt.valueType)) for k, x in v.items()]
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    return v


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-held rows as a DataFrame that Spark plans as a local relation
    (module docstring).  ``schema`` must be :func:`collectable`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([_arrow_value(r[i], f.dataType) for r in rows], type=arrow_schema.field(i).type)
        for i, f in enumerate(schema.fields)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)


def driver_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-held rows as a DataFrame: a :func:`local_frame` when ``schema``
    is :func:`collectable`, else ``createDataFrame``'s scan of the list."""
    if collectable(schema):
        return local_frame(spark, rows, schema)
    return spark.createDataFrame(rows, schema)
