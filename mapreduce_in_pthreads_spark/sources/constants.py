"""Constant relations the planner can size.

``spark.createDataFrame(list, schema)`` plans as a ``LogicalRDD`` whose
``sizeInBytes`` is Long.MAX_VALUE, so the planner can never broadcast it
and every join against it needs a hand-placed hint. The same rows as an
inline ``VALUES`` table plan as a ``LocalRelation`` with a real size
estimate, and the session's auto-broadcast threshold picks them up like
any other small relation.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import MapType, StructField, _parse_datatype_string


def _cell(f: StructField, key: str, value, args: dict) -> str:
    """One typed VALUES cell bound to named parameter(s) ``key``.
    Maps bind as a key array and a value array (a map is not a legal
    parameter literal)."""
    t = f.dataType
    if isinstance(t, MapType):
        args[key + "k"], args[key + "v"] = list(value), list(value.values())
        return (f"map_from_arrays("
                f"CAST(:{key}k AS array<{t.keyType.simpleString()}>), "
                f"CAST(:{key}v AS array<{t.valueType.simpleString()}>))")
    args[key] = value
    return f"CAST(:{key} AS {t.simpleString()})"


def constant_table(spark: SparkSession, rows: Iterable[Sequence],
                   schema: str) -> DataFrame:
    """``rows`` as a ``LocalRelation`` typed by the DDL ``schema``.

    Values travel as named SQL parameters, never as formatted literal
    text, so strings need no escaping and doubles keep every bit; each
    one is CAST to its declared column type. Meant for small tables
    (query sets, parameter grids): parsing cost grows with the row
    count, and ``rows`` must not be empty (VALUES needs a row).
    """
    fields = _parse_datatype_string(schema).fields
    args: dict = {}
    tuples = []
    for i, row in enumerate(rows):
        assert len(row) == len(fields), (row, schema)
        cells = [_cell(f, f"p{i}_{j}", v, args)
                 for j, (f, v) in enumerate(zip(fields, row))]
        tuples.append(f"({', '.join(cells)})")
    names = ", ".join(f"`{f.name}`" for f in fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})",
        args=args)
