"""Loaders for the harness tables (parquet dirs under $SPARK_GRAFT_SF_DIR).

At production scale these would be ``spark.read.table`` over Iceberg; the
parquet reader keeps identical semantics (columnar scan, predicate pushdown,
column pruning) at test scale.
"""

from __future__ import annotations

import base64
import os
import pickle
import threading
import uuid
from functools import cache, partial
from numbers import Integral
from typing import Any, Callable, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
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
    ``defaultParallelism``.  A Python task pays a fixed floor (its worker
    hand-off and the body's per-task set-up), so a small job runs as one
    task, and a job beside it keeps the other cores; a corpus of tens of MB
    gets every core, as before.  A vector
    probe's input is its cache (``frame_bytes`` of the vectors plus the doc
    text); a lexical job's is its cache once per query it scores
    (``operators.bm25.topk_pre_grouped``)."""
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    return fan_out(n_bytes, open_cost, spark.sparkContext.defaultParallelism)


# -- standing serving jobs -----------------------------------------------------

# the job-local property prefix a standing map ships its call's spec under
SPEC_PREFIX = "spark_fulltext.spec."

# the spec keys the current thread has set and not yet released
_shipped = threading.local()


@cache
def _partition_id() -> Column:
    """``spark_partition_id()``, built once per process: a session-free
    expression, and building it costs py4j round trips per call."""
    return F.spark_partition_id()


def encode_spec(spec: Any) -> str:
    """``spec`` as the text of a job-local property: its pickle, base64.
    A spec holds plain data and module-level functions, so it pickles
    without cloudpickle, by reference."""
    data = pickle.dumps(spec, protocol=pickle.HIGHEST_PROTOCOL)
    return base64.b64encode(data).decode()


def decode_spec(text: str) -> Any:
    return pickle.loads(base64.b64decode(text))


def standing_task(key: str, body: Callable, batches):
    """The Python function of every standing map's UDF: ``body(spec,
    batches)`` under the spec its job carries in the property ``key``
    (``TaskContext.getLocalProperty``), decoded afresh in every task."""
    from pyspark import TaskContext

    text = TaskContext.get().getLocalProperty(key)
    if text is None:
        raise RuntimeError(f"no serving spec in the job property {key!r}")
    return body(decode_spec(text), batches)


def _thread_keys() -> set:
    keys = getattr(_shipped, "keys", None)
    if keys is None:
        keys = _shipped.keys = set()
    return keys


def release_specs() -> None:
    """Clear every spec property the current thread has set, so no later
    job of the thread carries one (``collect_frame`` calls it)."""
    keys = _thread_keys()
    if not keys:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    for key in keys:
        sc.setLocalProperty(key, None)
    keys.clear()


def collect_frame(df: DataFrame) -> list:
    """``df.collect()``, then ``release_specs()``: how a serving call
    collects the standing frames it built.  Build a call's frames on one
    thread, union them and collect them in one action: the collect releases
    every spec the thread set."""
    try:
        return df.collect()
    finally:
        release_specs()


class StandingMap:
    """One serving job's Python stage over a projection: ``rows``
    (``F.col`` names only) mapped by ``body(spec, batches)`` — a
    module-level function, or a ``functools.partial`` of one over the
    cache's constants — into ``schema`` rows (``mapInArrow`` when
    ``arrow``, else ``mapInPandas``).  With ``partitioned`` a call's frame
    tags each row with its cached partition (``part``, before the
    coalesce) for ``operators.bm25.score_in_place``.

    A STANDING map (``standing=True``, one per cache and body: ``Standing``)
    builds its UDF column once.  A call then pickles its spec into the
    job-local property the map owns (``SparkContext.setLocalProperty``:
    per thread, read by the tasks through ``standing_task``), adds its one
    predicate string and plans the job from the prebuilt column —
    pyspark's ``mapInPandas`` rebuilds the UDF (~45 py4j round trips) on
    every call.  Its caller collects through ``collect_frame``, which
    clears the property.  Each map has its own key, so frames of two maps
    built on one thread (base ∪ delta) each read their own spec; a frame
    reads its map's spec until the thread sets the next one.

    A one-off map (``standing=False``: a frame built for one call) binds
    the call's spec into the UDF instead and sets no property."""

    def __init__(
        self,
        rows: DataFrame,
        body: Callable,
        schema: StructType | str,
        *,
        arrow: bool = False,
        partitioned: bool = False,
        standing: bool = True,
    ):
        self.rows = rows
        self.body = body
        self.schema = schema
        self.arrow = arrow
        self.partitioned = partitioned
        self.key = SPEC_PREFIX + uuid.uuid4().hex if standing else None
        self._args = [*rows.columns, *(["part"] if partitioned else [])]
        self._udf = (
            self._udf_column(partial(standing_task, self.key, body))
            if standing
            else None
        )

    def _udf_column(self, fn: Callable):
        from pyspark.sql.pandas.functions import pandas_udf
        from pyspark.util import PythonEvalType

        kind = (
            PythonEvalType.SQL_MAP_ARROW_ITER_UDF
            if self.arrow
            else PythonEvalType.SQL_MAP_PANDAS_ITER_UDF
        )
        udf = pandas_udf(fn, returnType=self.schema, functionType=kind)
        return udf(*map(F.col, self._args))._jc

    def frame(
        self, spec: Any, where: str | None = None, tasks: int | None = None
    ) -> DataFrame:
        """The call's frame: ``rows`` filtered by the predicate text
        ``where``, coalesced to ``tasks`` (after the ``part`` tag), mapped
        under ``spec``."""
        rows = self.rows if where is None else self.rows.where(where)
        if self.partitioned:
            rows = rows.withColumn("part", _partition_id())
        if tasks is not None:
            rows = rows.coalesce(tasks)
        if self.key is None:
            udf = self._udf_column(partial(self.body, spec))
        else:
            rows.sparkSession.sparkContext.setLocalProperty(self.key, encode_spec(spec))
            _thread_keys().add(self.key)
            udf = self._udf
        jdf = rows._jdf.mapInArrow if self.arrow else rows._jdf.mapInPandas
        return DataFrame(jdf(udf, False, None), rows.sparkSession)


def _identity(obj: Any):
    """A hashable stand-in for ``obj`` in ``Standing``'s memo: a partial by
    its function and arguments, plain scalars by value, anything else (an
    array of cache constants) by ``id`` — the memo entry holds the object,
    so the id is not reused while the entry lives."""
    if isinstance(obj, partial):
        return (
            obj.func,
            tuple(map(_identity, obj.args)),
            tuple(sorted((k, _identity(v)) for k, v in obj.keywords.items())),
        )
    if obj is None or isinstance(obj, (str, int, float, bool)):
        return obj
    return ("id", id(obj))


class Standing:
    """A standing cache's serving side: its ``StandingMap``s, one per
    (projection columns, body, schema), built on first use and kept as
    long as the cache is served.  A plan wraps each cache it serves in one;
    the serving functions take it wherever they take a frame."""

    def __init__(self, frame: DataFrame):
        self.frame = frame
        self._maps: dict = {}
        # an abandoned speculative probe can still be planning on its
        # thread when the next call's probe asks for the same map
        self._lock = threading.Lock()

    def map(
        self,
        cols: list[str] | None,
        body: Callable,
        schema: StructType | str,
        **kw,
    ) -> StandingMap:
        key = (
            None if cols is None else tuple(cols), _identity(body), str(schema),
            tuple(sorted(kw.items())),
        )
        with self._lock:
            hit = self._maps.get(key)
            if hit is None:
                rows = self.frame if cols is None else self.frame.select(*cols)
                hit = self._maps[key] = StandingMap(rows, body, schema, **kw)
        return hit


def serving_map(
    rows: "DataFrame | Standing",
    cols: list[str] | None,
    body: Callable,
    schema: StructType | str,
    **kw,
) -> StandingMap:
    """The map a serving call runs ``body`` through over ``cols`` of
    ``rows`` (all of them for None): the standing cache's own
    (``Standing.map``), or a one-off over a plain frame."""
    if isinstance(rows, Standing):
        return rows.map(cols, body, schema, **kw)
    return StandingMap(
        rows if cols is None else rows.select(*cols), body, schema,
        standing=False, **kw,
    )


def frame_of(rows: "DataFrame | Standing") -> DataFrame:
    """The frame behind ``rows``."""
    return rows.frame if isinstance(rows, Standing) else rows


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
