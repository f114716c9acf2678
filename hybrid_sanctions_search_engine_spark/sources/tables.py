"""Loaders for the harness tables (parquet dirs under $SPARK_GRAFT_SF_DIR).

At production scale these would be ``spark.read.table`` over Iceberg; the
parquet reader keeps identical semantics (columnar scan, predicate pushdown,
column pruning) at test scale.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def load_table(spark: SparkSession, name: str, directory: str | None = None) -> DataFrame:
    directory = directory or sf_dir()
    return spark.read.parquet(os.path.join(directory, f"{name}.parquet"))


def load_documents(spark: SparkSession, directory: str | None = None) -> DataFrame:
    return load_table(spark, "documents", directory)


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """A driver-side row list as a DataFrame that costs no Spark job.

    ``rows`` are dicts (matched by field name) or tuples/``Row``s
    (positional), exactly as ``spark.createDataFrame(rows, schema)`` reads
    them; ``schema`` is a DDL string or a ``StructType``.  The rows go
    through a ``pyarrow.Table``, which Spark plans as a ``LocalRelation``
    (below ``spark.sql.execution.arrow.localRelationThreshold``), so
    collecting or broadcasting the frame submits no job.  A Python list
    goes through ``parallelize`` + ``applySchemaToPythonRDD`` instead, and
    every action on it pays a whole job, even when it is empty (a 160-row
    result collect: ~0.3 s as a list, ~30 ms as a LocalRelation, local[4]).
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = struct.names
    tuples = [
        tuple(r.get(n) for n in names) if isinstance(r, dict) else r for r in rows
    ]
    columns = list(zip(*tuples)) if tuples else [()] * len(names)
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key so
    subsequent equi-joins on that key are CO-LOCATED — Catalyst plans a
    SortMergeJoin with NO shuffle exchange on either side (asserted in
    tests/test_bucketed_join.py from the physical plan).

    At 100 TB this is the standing-fact-table shape: pay the bucketing
    shuffle once at write time, then every (customer ⋈ orders)-style join
    reads bucket-aligned files.  ``saveAsTable`` goes through the session
    catalog (Iceberg/Hive in production; the local Derby metastore in
    tests)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)  # external table location
    writer.format("parquet").saveAsTable(table_name)
