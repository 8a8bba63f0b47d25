"""Partitioned JDBC source for a live registry database (SURVEY.md §2.1 S1).

The reference's scans go through `lsst.daf.butler` into Postgres
(exporter.py:75-87 in /root/reference).  In Spark the same registry scan
is a JDBC read — and at registry scale (hundreds of millions of dataset
rows) it must be *partitioned* or one executor does all the work:

- numeric key ranges split the scan into ``num_partitions`` parallel
  queries (``partitionColumn/lowerBound/upperBound``);
- ``pushDownPredicate`` (default true) ships filters into the database,
  so ``df.filter(...)`` becomes a WHERE clause server-side;
- ``fetchsize`` bounds round-trips.

No database ships in this environment, so this module is exercised only
for option construction (unit test); the read path is standard Spark.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def registry_reader(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetchsize: int = 10_000,
    properties: dict[str, str] | None = None,
):
    """Build a configured JDBC DataFrameReader for a registry table.

    Returns the reader (call ``.load()`` against a live database)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC scan needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader
