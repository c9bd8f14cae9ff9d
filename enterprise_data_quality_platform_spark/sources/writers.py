"""Materialization layer (SURVEY.md §1.4 raw/stg/mart layers).

The reference materializes stg/mart tables through dbt→BigQuery
(``pager-workflow.py:159,174,189``); here a model materializes as
partitioned Parquet. Partitioning policy is the 100TB lever: date-partition
fact/report tables so downstream reads partition-prune (SURVEY.md §4.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def materialize_model(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    date_col: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write a model, optionally date-partitioned (adds ``p_date`` derived
    from ``date_col``), and return the re-read frame so downstream stages
    consume the materialized (pruned, stats-bearing) copy — the natural
    stage boundary the dbt layer provided."""
    cols = None
    if date_col is not None:
        df = df.withColumn("p_date", F.to_date(F.col(date_col)))
        cols = ["p_date"]
    write_partitioned(df, path, cols, mode)
    return read_parquet(spark, path)


def materialize_incremental(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    date_col: str,
) -> DataFrame:
    """dbt-style incremental materialization: dynamic-partition overwrite
    replaces ONLY the ``p_date`` partitions present in ``df``, leaving all
    other partitions untouched. This is the re-run-one-day path a daily
    pipeline needs — a full `mode=overwrite` rewrite of a 100TB mart to
    refresh yesterday is not viable. Uses Spark's
    ``partitionOverwriteMode=dynamic`` (scoped to this write, restored
    after)."""
    out = df.withColumn("p_date", F.to_date(F.col(date_col)))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("p_date").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return read_parquet(spark, path)


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem handle for ``path`` — works for any supported
    scheme (file://, hdfs://, s3a://), so the staging-swap below is not
    local-FS-specific.

    DOCUMENTED ``_jvm`` PIN: PySpark exposes no public FileSystem API;
    the Hadoop ``Path.getFileSystem`` route is the standard, stable way
    to do atomic rename/delete from the driver (the alternative — shell
    ``mv`` — breaks on non-posix schemes). Scope is limited to rename/
    delete/exists in this module."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jvm


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    date_col: str | None = None,
) -> DataFrame:
    """MERGE-by-key upsert on plain parquet: rows in ``updates`` replace
    target rows with equal ``keys``; unmatched rows insert. The refresh
    path the reference gets from dbt re-runs (pager-workflow.py:292-306)
    without rewriting the whole mart. Caller contract: ``updates`` is
    unique on ``keys`` (MERGE's multiple-match error is the caller's to
    avoid).

    Scale posture — plain parquet has no row-level log, so a merge must
    rewrite whatever granularity contains matched rows; the lever is
    bounding that granularity:

    - ``date_col`` given (the 100 TB path): PARTITION-SCOPED merge. Only
      ``p_date`` partitions present in ``updates`` are read, anti-joined,
      unioned and rewritten via a staging dir + per-partition rename;
      untouched partitions are never read or written, so cost scales with
      the touched dates, not the table. Requires keys to be
      partition-stable (a row's date never changes — the usual fact
      contract).
    - no ``date_col``: full merge-rewrite through the staging dir + swap.
      Right for dimension tables; for a 100 TB un-partitioned table a
      transactional format (Delta/Iceberg/Hudi) is the real answer and
      this function is the semantic stand-in.

    The staging write keeps Spark's "cannot overwrite a path being read
    from" invariant intact (the output path differs from the input path)
    and makes the swap near-atomic per partition (FS rename).

    Crash consistency (tested in tests/test_writers.py): a crash BEFORE
    the swap leaves the target untouched (the stale ``__stage`` dir is
    overwritten on retry). The un-partitioned swap is rename-out →
    rename-in → cleanup (never delete-then-write): a crash between the
    renames leaves the full old table in ``__old`` AND the new one in
    ``__stage``, and the recovery pass below restores ``__old`` on the
    next call; a crash after rename-in leaves a stale ``__old`` that the
    recovery pass deletes. The partitioned path has PARTITION-level
    atomicity (each touched partition swaps via one rename — a crash
    mid-loop leaves some partitions updated and others old, each
    internally consistent; the same contract as Hive dynamic-partition
    INSERT OVERWRITE). True multi-partition atomicity needs a
    transactional format (Delta/Iceberg/Hudi) — this is the documented
    stand-in boundary."""
    fs, jvm = _hadoop_fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    stage = path.rstrip("/") + "__stage"
    jstage = jvm.org.apache.hadoop.fs.Path(stage)
    jold = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")

    # recovery from a previous crashed swap (un-partitioned path):
    # target missing but __old present -> the crash hit between the two
    # renames; restore the old table. Target present AND __old present ->
    # the crash hit after rename-in; __old is stale, drop it.
    if fs.exists(jold):
        if not fs.exists(jpath):
            fs.rename(jold, jpath)
        else:
            fs.delete(jold, True)

    if date_col is not None:
        updates = updates.withColumn("p_date", F.to_date(F.col(date_col)))

    if not fs.exists(jpath):  # bootstrap: first write is a plain insert
        w = updates.write.mode("overwrite")
        if date_col is not None:
            w = w.partitionBy("p_date")
        w.parquet(path)
        return read_parquet(spark, path)

    if date_col is not None:
        touched = [r.p_date for r in updates.select("p_date").distinct().collect()]
        target = read_parquet(spark, path).filter(F.col("p_date").isin(touched))
        # no broadcast hint: a single-row fix broadcasts via AQE anyway, a
        # full-day rebuild's key set may be too big to pin driver-side
        kept = target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
        merged = kept.unionByName(updates.select(*kept.columns))
        merged.write.mode("overwrite").partitionBy("p_date").parquet(stage)
        for d in touched:
            part = f"p_date={d.isoformat() if hasattr(d, 'isoformat') else d}"
            src = jvm.org.apache.hadoop.fs.Path(f"{stage}/{part}")
            dst = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{part}")
            if fs.exists(dst):
                fs.delete(dst, True)
            if fs.exists(src):  # an update set may empty a partition
                fs.rename(src, dst)
        fs.delete(jstage, True)
    else:
        target = read_parquet(spark, path)
        kept = target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
        merged = kept.unionByName(updates.select(*kept.columns))
        merged.write.mode("overwrite").parquet(stage)
        # swap via rename-out/rename-in: the old table is never deleted
        # until the new one is in place (see crash-consistency docstring)
        fs.rename(jpath, jold)
        fs.rename(jstage, jpath)
        fs.delete(jold, True)
    return read_parquet(spark, path)


def write_violations(
    df: DataFrame,
    check,
    path: str,
    mode: str = "append",
) -> None:
    """Quarantine sink: write the FULL violating-row set of a row-condition
    check as parquet partitioned by check name — the escape hatch for users
    who need every violation (the reference prints the complete
    unauthorized-region list, pager-workflow.py:220-225), while reports
    carry only a capped sample. Append-mode so successive runs accumulate;
    rows are stamped with the check name and run timestamp for lineage."""
    from ..checks.compiler import violating_rows

    (
        violating_rows(df, check)
        .withColumn("__check_name", F.lit(check.name))
        .withColumn("__run_ts", F.current_timestamp())
        .write.mode(mode)
        .partitionBy("__check_name")
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    partition_cols: list[str] | None = None,
    row_group_bytes: int = 16 * 1024 * 1024,
    mode: str = "overwrite",
) -> None:
    """Write-time clustering for scan pruning — the row-group-level
    companion to partitioning (directory-level) and bucketing
    (shuffle-avoidance). ``repartitionByRange`` gives each output file a
    disjoint ``cluster_by`` key range, and the within-partition sort makes
    every parquet row group's min/max stats tight, so a predicate on the
    cluster key skips whole files (via range metadata) and whole row
    groups (via parquet stats pushdown) instead of scanning 100 TB.
    Bounded ``parquet.block.size`` keeps row groups splittable AND makes
    the skip granularity fine (one giant row group per file can never be
    skipped partially). The standard lever for high-selectivity filter
    columns that are NOT the partition key — e.g. cluster the date-
    partitioned events mart by user_id so per-user lookups touch a few
    row groups per day."""
    out = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
    w = out.write.mode(mode).option("parquet.block.size", row_group_bytes)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed materialization — the shuffle-avoidance lever for tables
    that are JOINED or AGGREGATED on the same key repeatedly (SURVEY.md
    §4.2). Both sides of an equi-join bucketed on the key with the same
    bucket count plan with NO Exchange (asserted in
    tests/test_plans.py::test_bucketed_join_colocates): the 100 TB fact ⋈
    fact join pays its shuffle once at write time, then never again.
    Bucketing requires a catalog table (``saveAsTable``), not a bare path —
    the bucket spec lives in table metadata. ``sort_cols`` additionally
    sorts within buckets so merge joins skip their sort.

    The pre-write ``repartition(num_buckets, *bucket_cols)`` is
    load-bearing: repartition and the bucket spec share the same
    Murmur3-pmod placement, so it lands each bucket in exactly one task →
    ONE file per bucket. Without it every task writes a file per bucket
    (tasks × buckets small files) AND the reader only trusts the
    bucket-sort metadata for single-file buckets — multi-file buckets
    silently re-Sort under every merge join (caught by
    tests/test_plans.py::test_shipping_priority_bucketed_is_exchange_free).

    ``mode='append'`` is REJECTED for sorted buckets (and for appends onto
    an existing sorted bucketed table): a second file per bucket makes the
    bucket overall-unsorted, and any session that has enabled
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` (``_bucketed_fact``
    does, necessarily session-wide — the conf is consulted at physical
    planning time, lazily AFTER the helper returns, so a save/restore wrapper
    would just disable the optimization) would then trust stale sort metadata
    and skip a required Sort under a merge join → silently wrong join
    results (ADVICE r7). Enforcing the invariant at the only write path
    keeps the conf sound for every table this engine creates. Appends to
    UNSORTED bucketed tables remain allowed — multi-file buckets without
    sort metadata merely cost a re-Sort, never correctness."""
    if mode == "append":
        existing_sorted = False
        spark = df.sparkSession
        if spark.catalog.tableExists(table_name):
            ddl = spark.sql(f"SHOW CREATE TABLE {table_name}").first()[0]
            existing_sorted = "SORTED BY" in ddl.upper()
        if sort_cols or existing_sorted:
            raise ValueError(
                f"write_bucketed(mode='append') on sorted bucketed table "
                f"{table_name!r} would break the one-sorted-file-per-bucket "
                "invariant that sorted-bucket merge joins rely on; rewrite "
                "with mode='overwrite' or drop sort_cols"
            )
    w = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Small-file compaction — the OPTIMIZE/maintenance pass plain-parquet
    tables need after streaming appends or fine-grained upserts. A 100 TB
    table that accretes KB-sized files stops being scannable long before
    it stops fitting on disk (every file is a task + an open + a footer
    read). Rewrites each leaf directory (= one partition, or the table
    root when unpartitioned) whose file count exceeds
    ``min_files_to_compact`` into ``ceil(bytes / target_file_bytes)``
    files via the same staging-dir + rename swap as ``merge_upsert``;
    well-sized partitions are left untouched (no read, no write).

    Returns a summary dict {partitions_compacted, files_before,
    files_after} for the maintenance log."""
    import math

    fs, jvm = _hadoop_fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(path)

    def leaf_dirs(p):
        subs = [s for s in fs.listStatus(p) if s.isDirectory()]
        if not subs:
            return [p]
        out = []
        for s in subs:
            out.extend(leaf_dirs(s.getPath()))
        return out

    stats = {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
    for leaf in leaf_dirs(jpath):
        files = [
            f
            for f in fs.listStatus(leaf)
            if f.isFile() and f.getPath().getName().endswith(".parquet")
        ]
        stats["files_before"] += len(files)
        total = sum(f.getLen() for f in files)
        n_target = max(1, math.ceil(total / target_file_bytes))
        if len(files) < max(min_files_to_compact, n_target + 1):
            stats["files_after"] += len(files)
            continue
        leaf_str = leaf.toString()
        stage = leaf_str.rstrip("/") + "__compact"
        jstage = jvm.org.apache.hadoop.fs.Path(stage)
        read_parquet(spark, leaf_str).repartition(n_target).write.mode(
            "overwrite"
        ).parquet(stage)
        for f in files:
            fs.delete(f.getPath(), False)
        for f in fs.listStatus(jstage):
            if f.isFile() and f.getPath().getName().endswith(".parquet"):
                fs.rename(
                    f.getPath(),
                    jvm.org.apache.hadoop.fs.Path(
                        leaf_str + "/" + f.getPath().getName()
                    ),
                )
                stats["files_after"] += 1
        fs.delete(jstage, True)
        stats["partitions_compacted"] += 1
    return stats
