"""Job-free local relations for bounded driver-computed frames.

``spark.createDataFrame(<python list>)`` builds a *parallelized RDD*
(``LogicalRDD``): every consumer scans it as a defaultParallelism-wide
stage (32 near-empty tasks on the bench box), a broadcast of it costs a
collect JOB, and the planner sees no size statistics.  The pandas/Arrow
path under ``spark.sql.execution.arrow.localRelationThreshold`` instead
produces a true ``LocalRelation``: consumed driver-side with NO job, NO
tasks, and exact size statistics (measured r14 — converting the ANN
LUT/centroid/query frames removed one 32-task stage or one broadcast
build job per consumer).

Value fidelity: rows pass through Arrow against the EXPLICIT schema, so
float64/float32/int values round-trip bit-exactly (the same Arrow path
``collect`` used to produce them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Bounded ``rows`` (list of tuples/Rows) + ``schema`` (StructType or
    DDL string) → a ``LocalRelation``-backed DataFrame, always through
    pandas/Arrow.  Field names must be unique: rows are split into
    columns by name."""
    import pandas as pd
    from pyspark.sql.types import StructType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    assert isinstance(schema, StructType), "schema must be a struct"
    names = [f.name for f in schema.fields]
    if len(set(names)) != len(names):
        raise ValueError(f"local_frame: duplicate field names in {names}")
    rows = list(rows)
    data = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    pdf = pd.DataFrame(data, columns=names, dtype=object)
    return spark.createDataFrame(pdf, schema=schema)
