"""Data layer: parquet-backed tables registered as views.

Replaces the reference's BigQuery datasets (``raw_adventureworks`` /
``chicory_mds_staging`` / ``chicory_mds_marts``,
``/root/reference/airflow/dags/pager-workflow.py:126,159,189``) with
DataFrames over parquet. Schemas live in the parquet footers; explicit
StructTypes below document the contract (FIXTURES.md) and back schema checks.

Read path. Every schema-inferring parquet read in the package goes through
``read_parquet``. Inferring a parquet schema always runs a Spark job (one
task even for one file), and on small inputs that job costs more than the
read it precedes. ``read_parquet`` memoises the inferred schema per session
and path, stamped with

- the session confs that change what inference returns
  (``SCHEMA_CONFS``: nanos/binary/int96/NTZ typing, schema merging,
  partition-column typing, case sensitivity), plus any reader options;
- the file listing under the path: every file's path, size and mtime.

When the stamp matches, the read is ``spark.read.schema(<memoised>)``,
which runs no job. Any difference (a file rewritten, added or removed, a
conf flipped) is a miss, and a miss is exactly the plain inferring read.
The memo only replays a schema Spark itself inferred from the same files
under the same confs, so a hit answers as the plain read would, as long as
a rewrite changes a file's size or mtime (a copy that preserves both, e.g.
``touch -r``, is not seen). Paths the driver cannot list cheaply (remote
schemes, globs) always take the plain read.

Driver frames. Small frames the driver builds from Python rows (check
results, alert rows, audit tables) go through ``local_frame``, which hands
Spark an Arrow table. That plans as a ``LocalTableScan``; a Python list
plans as ``Scan ExistingRDD``, which needs a Python worker on every action.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import configure_session

TABLES: tuple[str, ...] = (
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

# Small dimensions safe to broadcast in joins (region: 5 rows, nation: 25 —
# SURVEY.md §4.2; Catalyst auto-broadcasts under the 10MB threshold, but we
# hint explicitly so plans stay stable at any statistics quality).
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier"})

EXPECTED_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _fix_events_ts(df: DataFrame) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives as
    long nanoseconds. Truncate to micros and present as TIMESTAMP_NTZ —
    exactly what DuckDB (and any µs engine) sees."""
    from pyspark.sql import functions as F

    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


#: Session confs that change the schema or partition columns a parquet read
#: infers; part of the ``read_parquet`` memo stamp.
SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.timestampType",
)

# session -> {(path, options): (stamp, schema)}; one entry per path, so a
# changed listing replaces its entry instead of adding one
_schema_memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schema_memo_lock = threading.Lock()


def _file_listing(path: str) -> tuple | None:
    """(path, size, mtime_ns) of every file at or under a local ``path``,
    sorted. ``None`` when the path cannot be listed here (remote scheme,
    glob, missing, or a file vanished mid-walk)."""
    if ":" in path.split("/", 1)[0] or any(c in path for c in "*?[{"):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_size, st.st_mtime_ns),)
        out = []
        for root, _, names in os.walk(path):
            for name in names:
                f = os.path.join(root, name)
                fst = os.stat(f)
                out.append((f, fst.st_size, fst.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str, **options: Any) -> DataFrame:
    """``spark.read.options(**options).parquet(path)`` with the inferred
    schema memoised (see the module docstring): a repeated read of an
    unchanged path under the same confs runs no schema job."""
    reader = spark.read.options(**options)
    listing = _file_listing(path)
    if listing is None:
        return reader.parquet(path)
    key = (path, tuple(sorted(options.items())))
    stamp = (tuple(spark.conf.get(k) for k in SCHEMA_CONFS), listing)
    with _schema_memo_lock:
        memo = _schema_memo.setdefault(spark, {})
        hit = memo.get(key)
    if hit is not None and hit[0] == stamp:
        return reader.schema(hit[1]).parquet(path)
    df = reader.parquet(path)
    schema = df.schema
    with _schema_memo_lock:
        memo[key] = (stamp, schema)
    return df


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """Driver-side rows as a ``LocalRelation`` built from an Arrow table.

    ``rows`` are tuples in ``schema`` order (a StructType or a DDL string).
    Naive datetimes are UTC, the engine's convention for timestamps it
    stamps itself (``datetime.now(timezone.utc)`` without tzinfo); the host
    time zone never enters."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrow = pa.Table.from_arrays(
        [pa.array(c, type=to_arrow_type(f.dataType)) for c, f in zip(cols, schema.fields)],
        names=schema.names,
    )
    return spark.createDataFrame(arrow, schema)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Timestamp parity: UTC session TZ is (re)applied so
    LTZ interpretation can't drift from the oracle."""
    configure_session(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        df = _fix_events_ts(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Read all tables and register them as temp views so both the DataFrame
    API and ``spark.sql`` can address them."""
    out: dict[str, DataFrame] = {}
    for name in names:
        out[name] = table(spark, sf_dir, name)
        out[name].createOrReplaceTempView(name)
    return out
