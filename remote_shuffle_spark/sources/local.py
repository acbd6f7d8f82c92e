"""The one way a driver-side list of rows becomes a DataFrame.

``spark.createDataFrame(list, ddl)`` plans a pickled ``Scan ExistingRDD``:
every execution unpickles the rows in a Python worker taken from a daemon
pool of its own, separate from the Arrow pool pandas UDFs use.  The same
rows handed over as a ``pyarrow.Table`` plan a ``LocalTableScan`` that the
JVM answers without any Python worker.  Every driver-built frame in the
package goes through :func:`local_frame`, and ``tests/test_single_owner_guard.py``
keeps ``createDataFrame`` / ``parallelize`` / ``.rdd`` in this module only.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str | StructType
) -> DataFrame:
    """A ``LocalTableScan`` frame of ``rows`` (tuples or Rows, in field
    order) with schema ``ddl`` (a DDL string or a StructType).

    The Arrow columns are inferred from the Python values and carry the
    schema's field names; ``createDataFrame`` then casts the table to the
    schema with a safe Arrow cast, so a value that does not fit its type
    (an ``int`` overflow) raises instead of wrapping.  Empty ``rows`` give
    ``LocalTableScan <empty>``."""
    schema = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.table([pa.array(c) for c in columns], names=schema.fieldNames())
    return spark.createDataFrame(table, schema)
