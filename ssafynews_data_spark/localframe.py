"""Driver-local DataFrames as a JVM ``LocalRelation``.

Contract rows, centroid lists, quantizer meta frames, serve-request
query embeddings and streaming-sink snapshots are all lists the driver
already holds.  ``spark.createDataFrame(rows)`` ships such a list
through an RDD: the plan scans a ``LogicalRDD`` whose every execution
forks a Python worker to run the schema's ``toInternal``.  On a 4-vCPU
VM those workers took about 0.5 of the 1.5-3.3 CPU s of every warm ANN
serve request, when the query embeddings, the ADC lookup row and the
SQ8 constants were such frames (the last two are plan literals now).
An empty list even fans out into ``defaultParallelism`` Python tasks.

``local_df`` runs the same conversion once, on the driver, and hands the
result to the JVM as an Arrow table.  Below
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) Spark plans
an Arrow table as a ``LocalRelation``: rows held in the plan, no Python
worker, no extra job, and Catalyst may fold or broadcast it like any
other local relation.  Every caller in this package passes
driver-bounded data, far below the threshold.

Semantics match ``createDataFrame(rows, schema)``: the same schema
verifier rejects a wrong-typed value (now on the driver, at call time),
and the same ``toInternal`` conversion turns naive timestamps (in the
process's local zone), dates, structs, maps and nested arrays into the
values the JVM receives — timestamps travel as UTC microseconds, so the
session time zone plays no part, exactly as on the RDD path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


def local_df(spark: SparkSession, data, schema: "StructType | str") -> DataFrame:
    """``spark.createDataFrame(data, schema)`` for a driver-local list of
    rows (tuples, lists, dicts or ``Row``s), planned as a
    ``LocalRelation``.  ``schema`` is a ``StructType`` or a DDL string."""
    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    if not isinstance(struct, StructType):
        raise TypeError(f"local_df needs a struct schema, got {struct!r}")
    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    internal = []
    for row in data:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
