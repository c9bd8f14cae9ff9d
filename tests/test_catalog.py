"""The catalog's read path and driver frames: ``read_parquet``'s schema memo
(hits run no job; any change to the files or the schema confs re-infers),
``local_frame``'s Arrow-built ``LocalRelation``, and the lint that keeps
every schema-inferring parquet read and every driver-row frame in the
package on those two helpers."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from enterprise_data_quality_platform_spark.catalog import local_frame, read_parquet, table

PACKAGE = Path(__file__).resolve().parents[1] / "enterprise_data_quality_platform_spark"


def _jobs(spark, fn):
    """(fn's result, Spark jobs it fired), counted by job-id range: the DAG
    scheduler numbers jobs sequentially, whichever thread submits them."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    out = fn()
    return out, int(dag.nextJobId()) - j0


def test_unchanged_path_second_read_fires_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(6).selectExpr("id", "id % 3 AS k", "cast(id AS string) AS s").write.partitionBy(
        "k"
    ).parquet(path)
    first, n_first = _jobs(spark, lambda: read_parquet(spark, path))
    second, n_second = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_first >= 1  # inference
    assert n_second == 0
    assert second.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_gives_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).schema.names == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": pa.array([1.5], pa.float64())}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.schema.names == ["b", "c"]
    assert df.collect()[0].asDict() == {"b": "x", "c": 1.5}


def test_added_file_reinfers_the_schema(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), d / "part-0.parquet")
    assert read_parquet(spark, str(d), mergeSchema="true").schema.names == ["a"]
    _, n_hit = _jobs(spark, lambda: read_parquet(spark, str(d), mergeSchema="true"))
    assert n_hit == 0
    pq.write_table(
        pa.table({"a": pa.array([2], pa.int64()), "z": ["new"]}), d / "part-1.parquet"
    )
    df, n_after = _jobs(spark, lambda: read_parquet(spark, str(d), mergeSchema="true"))
    assert n_after >= 1  # listing changed: inferred again
    assert df.schema.names == ["a", "z"]
    assert df.count() == 2


def test_nanos_as_long_flip_is_part_of_the_key(spark, tmp_path):
    """events.ts as TIMESTAMP(NANOS): under nanosAsLong it infers as long;
    with the conf off Spark rejects the type. The memo must not replay the
    long schema across the flip, in either direction."""
    sf = tmp_path / "sf"
    sf.mkdir()
    ts = [dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 2, 0, 0, 0, 5)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["view", "click"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ),
        sf / "events.parquet",
        version="2.6",
    )
    path = str(sf / "events.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, T.LongType)
        events = table(spark, str(sf), "events")
        assert isinstance(events.schema["ts"].dataType, T.TimestampNTZType)
        assert sorted(r.ts for r in events.collect()) == ts
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(key, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, T.LongType)
    finally:
        spark.conf.set(key, before)


def test_local_frame_is_a_local_relation(spark):
    schema = "k string, n bigint, m map<string,string>, ts timestamp, d date"
    rows = [("a", 1, {"x": "y"}, dt.datetime(2024, 1, 1, 12), dt.date(2024, 1, 1)),
            ("b", None, None, None, None)]
    df, n_jobs = _jobs(spark, lambda: local_frame(spark, rows, schema))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got, n_collect = _jobs(spark, df.collect)
    assert n_jobs == n_collect == 0
    assert [r.k for r in got] == ["a", "b"]
    as_utc = df.selectExpr("n", "m", "cast(ts AS long) AS epoch", "d").collect()
    assert [tuple(r) for r in as_utc] == [
        (1, {"x": "y"}, 1704110400, dt.date(2024, 1, 1)),  # naive = UTC
        (None, None, None, None),
    ]
    empty = local_frame(spark, [], schema)
    assert empty.schema == df.schema and empty.collect() == []


def _violations(tree: ast.AST, rel: str) -> list[str]:
    """Calls that bypass the two helpers: ``createDataFrame(...)`` outside
    ``catalog.local_frame``, and a parquet read with no ``.schema(...)`` in
    its reader chain (one that infers) outside ``catalog.read_parquet``."""
    allowed = {("catalog.py", "local_frame"), ("catalog.py", "read_parquet")}
    out: list[str] = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr = node.func.attr
            bad = attr == "createDataFrame"
            if attr == "parquet":
                v, has_schema = node.func.value, False
                while isinstance(v, ast.Call) and isinstance(v.func, ast.Attribute):
                    has_schema |= v.func.attr == "schema"
                    v = v.func.value
                bad = isinstance(v, ast.Attribute) and v.attr == "read" and not has_schema
            if bad and (rel, func) not in allowed:
                out.append(f"{rel}:{node.lineno} {attr}(")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_lint_reads_and_driver_frames_go_through_the_helpers():
    """A schema-inferring ``spark.read.parquet(`` runs a Spark job per call
    and ``createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``,
    which needs a Python worker on every action; the package routes both
    through ``catalog.read_parquet`` and ``catalog.local_frame``."""
    found: list[str] = []
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        found += _violations(ast.parse(f.read_text(), str(f)), rel)
    assert found == []


def test_lint_catches_a_bypass():
    src = (
        "def f(spark, rows, p):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "    c = spark.read.schema('x int').parquet(p)\n"
        "    d = spark.createDataFrame(rows, 'x int')\n"
        "    df.write.parquet(p)\n"
    )
    assert _violations(ast.parse(src), "m.py") == [
        "m.py:2 parquet(", "m.py:3 parquet(", "m.py:5 createDataFrame("
    ]
