"""Loaders for the harness tables (parquet dirs under $SPARK_GRAFT_SF_DIR).

At production scale these would be ``spark.read.table`` over Iceberg; the
parquet reader keeps identical semantics (columnar scan, predicate pushdown,
column pruning) at test scale.
"""

from __future__ import annotations

import os
from numbers import Integral
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


def sql_literal(value: str | int) -> str:
    """``value`` as Spark SQL literal text: a string as
    ``CAST(X'<utf-8 hex>' AS STRING)``, an integer as its digits.

    A serving frame is one ``DataFrame.where(<text>)`` call, where a
    ``Column`` predicate costs the driver py4j round trips per literal
    (``F.lit``, ``isin``'s list).  The hex form puts no quote or backslash
    in front of the parser, so a term reads back byte for byte under both
    settings of ``spark.sql.parser.escapedStringLiterals`` (a backslash-
    escaped ``'…'`` literal, and Spark's raw ``r'…'`` one, lost rows under
    ``true``); constant folding turns the cast into a plain string literal,
    so an ``IN`` list of them plans the ``INSET`` filter ``isin`` plans,
    pushed into a cached scan."""
    if isinstance(value, str):
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    if isinstance(value, Integral) and not isinstance(value, bool):
        return str(int(value))
    raise TypeError(f"no SQL literal form for {type(value).__name__}: {value!r}")


def sql_in(column: str, values: Iterable[str | int]) -> str:
    """The predicate text ``column IN (<literals>)`` (``sql_literal``), or
    ``false`` for no values, as ``Column.isin([])`` is."""
    lits = ", ".join(map(sql_literal, values))
    name = column.replace("`", "``")
    return f"`{name}` IN ({lits})" if lits else "false"


def fan_out(n_bytes: int, open_cost: int, parallelism: int) -> int:
    """Task count for a job over ``n_bytes`` of input, by the rule Spark
    sizes file splits with: one task per ``open_cost`` bytes
    (``spark.sql.files.openCostInBytes``), at least 1, at most
    ``parallelism``.  Monotone in ``n_bytes``."""
    return max(1, min(parallelism, -(-int(n_bytes) // max(int(open_cost), 1))))


def frame_bytes(df: DataFrame) -> int:
    """Spark's own size statistic of ``df``'s optimized plan, with no job:
    a file scan's bytes on disk, a materialized cache's in-memory bytes,
    else the optimizer's estimate (``spark.sql.defaultSizeInBytes`` where
    it has none)."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def serving_tasks(spark: SparkSession, n_bytes: int) -> int:
    """The task count of a serving job over ``n_bytes`` of input:
    ``fan_out`` under the session's ``openCostInBytes`` and
    ``defaultParallelism``.  A Python task pays a fixed floor before its
    work starts (~45 ms for a zero-row ``mapInPandas`` task at local[4]),
    so a small job runs as one task, and a job beside it keeps the other
    cores; a corpus of tens of MB gets every core, as before.  A vector
    probe's input is its cache (``frame_bytes`` of the vectors plus the doc
    text); a lexical job's is its cache once per query it scores
    (``operators.bm25.topk_pre_grouped``)."""
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    return fan_out(n_bytes, open_cost, spark.sparkContext.defaultParallelism)


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
