"""Arrow local relations — THE way driver-side rows become a DataFrame
in this package.

PySpark's ``createDataFrame`` over Python rows (a list or an RDD) goes
through ``_createFromRDD``: the plan leaf is ``Scan ExistingRDD``, every
scan of it runs a Python worker to serve the pickled rows, and its
``sizeInBytes`` is Long.MaxValue, so the planner never broadcasts it
unhinted. The first such scan in a session waits ~1.5 s on the worker
for a 320-row query relation.

:func:`local_df` instead packs the rows into one ``pyarrow.Table`` and
hands that to ``createDataFrame``, which decodes it in the JVM as a
``LocalRelation``: reading it (``LocalTableScan``) runs no Python
worker, the planner sees its real size, and a broadcast of it runs no
job. Driver-sized frames are bounded by construction, so holding them
as one local table costs nothing.

A lint-style pytest (``tests/test_localrel_lint.py``) fails any NEW
plain ``createDataFrame`` call site and any ``parallelize(`` call in
package code.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local ``rows`` (tuples or ``Row``s, in ``schema`` field
    order) as a DataFrame over an Arrow ``LocalRelation``. ``schema`` is
    a DDL string or a ``StructType``; its types and nullability are the
    frame's exactly."""
    struct = (
        schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    )
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [[] for _ in struct.fields]
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
