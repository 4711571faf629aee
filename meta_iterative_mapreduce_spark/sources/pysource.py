"""Plumbing shared by the engine's Python data sources (the versioned
table stream source and the Avro OCF source): the one builder that
turns Python rows into Arrow RecordBatches of a declared schema, and
once-per-session registration.

A Python data source hands the JVM either pickled tuples (converted
per value by Spark's own `records_to_arrow_batches`) or RecordBatches
of `to_arrow_schema(declared schema)`. The sources here always take
the second route, so every value crosses the boundary in its declared
Arrow type — the reference's one typed scatter buffer
(kernel.cu:92-117).
"""

from __future__ import annotations

from itertools import islice

from pyspark.sql import SparkSession

BATCH_ROWS = 65_536


def rows_to_batches(rows, schema):
    """Python row tuples (in `schema` field order) as RecordBatches of
    the Arrow `schema`, `BATCH_ROWS` rows per batch, so one large
    partition never becomes one unbounded batch. Values must already
    be of their field's type (`pa.array` does not check that a float
    under an integer field is integral)."""
    import pyarrow as pa

    it = iter(rows)
    while chunk := list(islice(it, BATCH_ROWS)):
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(col, type=field.type)
                for col, field in zip(zip(*chunk), schema)
            ],
            schema=schema,
        )


def register_once(spark: SparkSession, source_class) -> None:
    """Register the DataSource class `source_class` with `spark`
    unless the session already has a source of that name: registering
    pickles the class and ships it to the JVM on every call."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(source_class.name()):
        spark.dataSource.register(source_class)


__all__ = ["BATCH_ROWS", "register_once", "rows_to_batches"]
