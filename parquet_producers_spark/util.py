"""Small engine utilities.

local_frame — a typed frame from driver-side rows with no Python RDD
behind it. ``spark.createDataFrame(list, schema)`` parallelizes a
Python RDD, so every job that scans it runs ``defaultParallelism``
Python worker tasks even when the list is empty, and each task costs a
fixed ~0.2 CPU s before it does anything. ``local_frame`` ships the rows as one Arrow table into a
JVM ``LocalRelation`` instead: scans run in the JVM, and an empty one is
a relation Catalyst can see, so its joins and unions fold away at
optimization.

ThrottledLogger — rate-limited progress logging, the reference's
``Util/ThrottledLogger.cs:6-31`` (wraps a logger and drops messages
arriving within ``interval`` of the last emitted one). Used by the DAG
pipeline for per-stage progress so a 10k-stage transaction doesn't
flood the driver log; detailed metrics still land in the slice/txn
manifests regardless of throttling.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; nested structs as tuples)
    as a frame over a JVM ``LocalRelation`` typed exactly as ``schema``
    (a StructType or a DDL string). The package's one way to turn
    driver-side data into a frame; keep ``rows`` driver-sized."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    # Spark's internal values, as createDataFrame(list) takes them: a
    # naive datetime is process-local time (what collect() returns),
    # which Arrow would otherwise read as UTC
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, schema.toInternal(r))) for r in rows],
        schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


class ThrottledLogger:
    """Emit at most one message per ``interval_s``; later messages
    within the window are dropped (same policy as the reference: the
    FIRST message after the window opens wins, not the last)."""

    def __init__(self, logger: logging.Logger | None = None,
                 interval_s: float = 5.0):
        self._logger = logger or logging.getLogger("parquet_producers_spark")
        self._interval = interval_s
        self._last = float("-inf")
        self.dropped = 0

    def log(self, level: int, msg: str, *args) -> None:
        now = time.monotonic()
        if now - self._last >= self._interval:
            self._last = now
            self._logger.log(level, msg, *args)
        else:
            self.dropped += 1

    def info(self, msg: str, *args) -> None:
        self.log(logging.INFO, msg, *args)
