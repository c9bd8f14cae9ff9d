"""Ingest connectors (SURVEY.md §2.1 S1-S2).

The reference's only read path is SQL strings shipped to BigQuery
(``/root/reference/airflow/dags/pager-workflow.py:120-126``); its Glue jobs
imply S3 Parquet/CSV/JSON ingest (``Glue-etl-pipeline.py:64-111``). Here all
three formats are first-class with the same contract:

- explicit ``StructType`` expected (schema-on-read is a DQ liability — the
  reference itself runtime-checks schemas, ``analysis.md:9``
  ``validate_schema_compliance``);
- ``mode=PERMISSIVE`` + ``_corrupt_record`` capture for CSV/JSON so one bad
  row lands in the DQ report, not a failed 100TB job;
- schema mismatches reported via ``SchemaMismatchError`` with the exact
  diff, mirroring the check compiler's column_exists/column_of_type checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import catalog
from ..session import configure_session

CORRUPT_COL = "_corrupt_record"


class SchemaMismatchError(ValueError):
    def __init__(self, missing: list[str], extra: list[str], wrong_type: list[str]):
        self.missing, self.extra, self.wrong_type = missing, extra, wrong_type
        super().__init__(
            f"schema mismatch: missing={missing} extra={extra} wrong_type={wrong_type}"
        )


def enforce_schema(df: DataFrame, expected: T.StructType) -> DataFrame:
    """Presence/type check + projection to the expected column order.
    Presence is a schema property (fail fast); nullness is a data property
    (left to the checks layer) — SURVEY.md §2.2 Q4."""
    actual = {f.name: f.dataType for f in df.schema.fields if f.name != CORRUPT_COL}
    want = {f.name: f.dataType for f in expected.fields}
    missing = [c for c in want if c not in actual]
    extra = [c for c in actual if c not in want]
    wrong = [
        f"{c}: {actual[c].simpleString()} != {want[c].simpleString()}"
        for c in want
        if c in actual and actual[c] != want[c]
    ]
    if missing or wrong:
        raise SchemaMismatchError(missing, extra, wrong)
    keep = [f.name for f in expected.fields]
    if CORRUPT_COL in df.columns:
        keep = keep + [CORRUPT_COL]
    return df.select(*keep)


def read_parquet(
    spark: SparkSession, path: str, expected: T.StructType | None = None
) -> DataFrame:
    configure_session(spark)
    df = catalog.read_parquet(spark, path)
    return enforce_schema(df, expected) if expected is not None else df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV with declared schema + corrupt-record capture. Never infers:
    inference is a full extra pass at 100TB and nondeterministic typing."""
    configure_session(spark)
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.read.schema(with_corrupt)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**options)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: T.StructType, **options: str
) -> DataFrame:
    """JSON-lines with declared schema + corrupt-record capture."""
    configure_session(spark)
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**options)
        .json(path)
    )


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", **kwargs
) -> DataFrame:
    readers = {"parquet": read_parquet, "csv": read_csv, "json": read_json}
    if fmt not in readers:
        raise ValueError(f"unsupported format: {fmt} (use parquet|csv|json)")
    return readers[fmt](spark, path, **kwargs)


def read_parquet_evolving(
    spark: SparkSession,
    paths: list[str],
    target: T.StructType,
    renames: dict[str, str] | None = None,
    fill_missing: bool = True,
) -> DataFrame:
    """Read parquet written across SCHEMA GENERATIONS into one frame with
    the declared ``target`` schema — the mixed-vintage landing zone
    reality at scale (an added column, a renamed column, a widened type;
    never rewrite 100 TB of history to fix old footers).

    Mechanics: each path (= one schema generation) is read separately and
    CONFORMED to the target — ``renames`` maps legacy names onto current
    ones (COALESCE when a generation carries both), every column casts to
    the target type (widenings are exact; ANSI mode still throws on a
    genuinely lossy cast — by design), ``fill_missing`` manufactures
    columns a generation predates as typed NULLs — then the conformed
    frames union by name. Per-generation reads are what make WIDENED
    types work at all: parquet ``mergeSchema`` hard-fails on INT-vs-BIGINT
    conflicts (CANNOT_MERGE_SCHEMAS — found by this function's own test),
    so one mixed-vintage read can never conform; N reads + unionByName is
    the shape that scales AND survives type evolution. Column order and
    set match ``target`` exactly; the union is plan-level (no extra
    shuffle — scans feed the same downstream stage)."""
    from functools import reduce

    from pyspark.sql import functions as F

    configure_session(spark)

    def conform(df: DataFrame) -> DataFrame:
        for legacy, current in (renames or {}).items():
            if legacy in df.columns and current in df.columns:
                df = df.withColumn(
                    current, F.coalesce(F.col(current), F.col(legacy))
                ).drop(legacy)
            elif legacy in df.columns:
                df = df.withColumnRenamed(legacy, current)
        cols = []
        for field in target.fields:
            if field.name in df.columns:
                cols.append(
                    F.col(field.name).cast(field.dataType).alias(field.name)
                )
            elif fill_missing:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            else:
                raise SchemaMismatchError([field.name], [], [])
        return df.select(*cols)

    # mergeSchema stays on per path: additive evolution WITHIN one
    # generation directory is fine — only cross-generation type conflicts
    # need the separate reads
    frames = [
        conform(catalog.read_parquet(spark, p, mergeSchema="true"))
        for p in paths
    ]
    return reduce(lambda a, b: a.unionByName(b), frames)
