"""Exact distributed quantiles by bucket narrowing (rank selection).

Spark's built-in exact ``percentile`` is an ObjectHashAggregate: every
partition builds a value→count open hash map of the whole column, merges
them on one reducer, then sorts — ~2.2 s per call on a 15M-row column at
sf10 and O(distinct values) memory on a single task. This operator gets
the SAME exact interpolated value (``quantile_cont`` semantics, Spark's
``Percentile`` lerp formula) from a few cheap whole-stage-codegen passes:

1. one map-combined agg for (count, min, max);
2. one map-combined groupBy over ``buckets`` equi-width bucket ids — a
   bounded histogram (collect is ≤ ``buckets`` rows, constant at any data
   scale) that locates the bucket holding each target rank;
3. one filtered groupBy collecting the (value, count) pairs of just the
   target buckets — ~n/buckets rows; re-narrowed recursively if a point
   mass makes a bucket too heavy.

Every pass is a scan + codegen hash aggregate (no object state, no
single-task sort), so the shape survives 100 TB: driver state is bounded
by ``buckets`` + the final candidate list, never by n. Cost ~3 short
passes per quantile vs one expensive pass — a measured 4× win at sf10
(2.38 s → ~0.55 s for a median) that also removes the old-gen pressure
the object aggregate leaves behind.

Used by ``dq_anomaly_mad`` (chained median / MAD); the same rank-select
primitive is the scale path for any exact-percentile need where
``approx_percentile`` won't do (compliance thresholds, oracle parity).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import local_frame

#: default histogram width: ~n/4096 rows land in the candidate bucket
#: (≈3.7k at sf10 — and the 4096-row histogram collect is trivial). At
#: 15B-row scale the candidate exceeds MAX_CANDIDATE_ROWS and one
#: recursion narrows it; measured faster than a wider first histogram.
DEFAULT_BUCKETS = 4096

#: re-narrow instead of collecting when the candidate buckets still hold
#: more rows than this (point-mass / heavy-skew guard).
MAX_CANDIDATE_ROWS = 1_000_000


def exact_quantile(
    df: DataFrame,
    col: Column | str,
    q: float,
    buckets: int = DEFAULT_BUCKETS,
    stats: tuple[int, float, float] | None = None,
    _max_depth: int = 4,
) -> float | None:
    """Exact interpolated quantile of ``col`` (NULLs ignored), identical to
    Spark's ``percentile(col, q)`` / DuckDB's ``quantile_cont``:
    ``lo + (pos - floor(pos)) * (hi - lo)`` at ``pos = (n-1)*q`` over the
    sorted values. Returns None on an empty column. Values are cast to
    double; non-finite values are not supported (money/latency columns).

    ``stats=(n, lower, upper)`` skips the count/min/max pass when the
    caller already knows the non-null count and a CONSERVATIVE value range
    (bounds may be loose — e.g. ``[0, max]`` for an absolute deviation —
    only containment is required)."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile out of range: {q}")
    c = col if isinstance(col, Column) else F.col(col)
    base = df.select(c.cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    if stats is None:
        row = base.agg(
            F.count("*").alias("n"),
            F.min("__v").alias("mn"),
            F.max("__v").alias("mx"),
        ).collect()[0]
        n, mn, mx = row["n"], row["mn"], row["mx"]
    else:
        n, mn, mx = stats
    if n == 0:
        return None
    if mn == mx:
        return float(mn)
    if n <= MAX_CANDIDATE_ROWS:
        # Small-column fast path (r11, guide §1.2): ONE built-in
        # ``percentile`` aggregate. The sort-based object aggregate is the
        # problem only in the 15M+ regime (2.2 s/median, O(distinct)
        # single-task state); at ≤ MAX_CANDIDATE_ROWS the bucket-narrowing
        # path would anyway end in ``_select_ranks`` on the UN-NARROWED
        # frame — a driver collect of every distinct (value, count) pair
        # (~150k rows at sf0.1). This returns a 1-row aggregate instead:
        # dq_anomaly_mad sf0.1 A/B (alternating, medians of 5):
        # 2.28 s -> 1.02 s, value bit-equal
        # (Percentile.getPercentile's lerp IS this operator's formula —
        # pinned in tests/test_quantiles.py).
        return base.agg(F.percentile("__v", F.lit(q)).alias("p")).collect()[
            0
        ]["p"]
    pos = (n - 1) * q
    k_lo, k_hi = math.floor(pos), math.ceil(pos)
    v_lo, v_hi = _order_statistics(
        base, float(mn), float(mx), n, k_lo, k_hi, buckets, _max_depth
    )
    if k_lo == k_hi:
        return v_lo
    # Spark Percentile.getPercentile's exact two-product form — bit-equal
    # to the built-in, not just mathematically equal
    return (k_hi - pos) * v_lo + (pos - k_lo) * v_hi


def _order_statistics(
    base: DataFrame,
    mn: float,
    mx: float,
    n: int,
    k_lo: int,
    k_hi: int,
    buckets: int,
    depth: int,
) -> tuple[float, float]:
    """The 0-based order statistics at ranks k_lo and k_hi (k_hi ∈
    {k_lo, k_lo+1}) of ``base.__v`` restricted to [mn, mx], which holds
    exactly ``n`` rows of which ranks are GLOBAL (caller guarantees the
    restriction contains both ranks and rank 0 == first row in range)."""
    if depth <= 0 or n <= MAX_CANDIDATE_ROWS or mn == mx:
        return _select_ranks(base, k_lo, k_hi)
    scale = buckets / (mx - mn)
    b = F.least(
        F.lit(buckets - 1),
        F.floor((F.col("__v") - F.lit(mn)) * F.lit(scale)).cast("long"),
    )
    hist = dict(
        (r["__b"], r["cnt"])
        for r in base.groupBy(b.alias("__b"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    cum = 0
    bucket_lo = bucket_hi = None
    start_lo = start_hi = 0
    for bid in range(buckets):
        cnt = hist.get(bid, 0)
        if bucket_lo is None and cum + cnt > k_lo:
            bucket_lo, start_lo = bid, cum
        if cum + cnt > k_hi:
            bucket_hi, start_hi = bid, cum
            break
        cum += cnt
    assert bucket_lo is not None and bucket_hi is not None
    cand = (
        [bucket_lo]
        if bucket_lo == bucket_hi
        else list(range(bucket_lo, bucket_hi + 1))
    )
    cand_rows = sum(hist.get(bid, 0) for bid in cand)
    narrowed = base.filter(b.isin(cand))
    if cand_rows > MAX_CANDIDATE_ROWS and bucket_lo == bucket_hi:
        # point-mass-heavy bucket: recompute its actual bounds and recurse
        sub = narrowed.agg(
            F.min("__v").alias("mn"), F.max("__v").alias("mx")
        ).collect()[0]
        return _order_statistics(
            narrowed,
            float(sub["mn"]),
            float(sub["mx"]),
            cand_rows,
            k_lo - start_lo,
            k_hi - start_lo,
            buckets,
            depth - 1,
        )
    return _select_ranks(narrowed, k_lo - start_lo, k_hi - start_lo)


def _select_ranks(base: DataFrame, k_lo: int, k_hi: int) -> tuple[float, float]:
    """Collect distinct (value, count) of the (already narrowed) frame and
    walk to the two ranks driver-side."""
    pairs = sorted(
        (r["__v"], r["cnt"])
        for r in base.groupBy("__v").agg(F.count("*").alias("cnt")).collect()
    )
    out = {}
    cum = 0
    for v, cnt in pairs:
        if cum + cnt > k_lo and k_lo not in out:
            out[k_lo] = v
        if cum + cnt > k_hi:
            out[k_hi] = v
            break
        cum += cnt
    return out[k_lo], out[k_hi]


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    col: Column | str,
    qs: Sequence[float],
    buckets: int = DEFAULT_BUCKETS,
) -> list[dict]:
    """Exact interpolated quantiles PER GROUP — the grouped twin of
    ``exact_quantile`` for low-cardinality group keys (SLO/latency
    profiles: percentiles per event type / endpoint / tenant).

    Three codegen passes regardless of group count or quantile count:

    1. per-group (count, non-null count, min, max) — |G| rows;
    2. per-(group, bucket) histogram — the bucket id comes from an
       equi-width quantizer whose (min, scale) attach via a broadcast
       join of the |G|-row stats frame; collect is ≤ |G|·buckets rows;
    3. the candidate buckets' distinct (group, value, count) triples —
       ~Σ n_g/buckets per requested rank.

    This is the FLAT-MEMORY alternative to Spark's per-group sort-based
    ``percentile`` object aggregate: the built-in buffers every group's
    raw values in one task (n/|G| values — fine at bench scales, where
    its in-task sort is actually faster; OOM territory once a group holds
    billions of values), while this shape never materializes more than
    the bounded histogram + candidate buckets. Use the built-in below
    ~10M rows/group, this operator beyond. Driver state is |G|·buckets
    histogram rows — intended for dashboard-cardinality groups (≤ ~10k);
    for high-cardinality keys use ``percentile_approx``.

    Returns one dict per group: {group, n_rows, n_values, q<q>: value}
    with the same lerp as Spark's ``percentile`` (``exact_quantile``).
    """
    c = col if isinstance(col, Column) else F.col(col)
    spark = df.sparkSession
    base = df.select(F.col(group_col).alias("__g"), c.cast("double").alias("__v"))
    vals = base.filter(F.col("__v").isNotNull())
    stats = {
        r["__g"]: r
        for r in base.groupBy("__g")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("__v").alias("n"),
            F.min("__v").alias("mn"),
            F.max("__v").alias("mx"),
        )
        .collect()
    }
    # which 0-based order statistics each group needs
    needed: dict[object, set[int]] = {}
    for g, r in stats.items():
        if r["n"] == 0 or r["mn"] == r["mx"]:
            continue
        ks = set()
        for q in qs:
            pos = (r["n"] - 1) * q
            ks.add(math.floor(pos))
            ks.add(math.ceil(pos))
        needed[g] = ks
    values: dict[object, dict[int, float]] = {g: {} for g in stats}
    if needed:
        from pyspark.sql.types import DoubleType, LongType, StructField, StructType

        # schema comes from the input column's actual type (not an
        # isinstance guess) so date/decimal/bool keys round-trip, and the
        # joins are null-safe so a NULL group key still gets its quantiles
        gtype = base.schema["__g"].dataType
        stats_rows = [
            (g, float(stats[g]["mn"]), buckets / (stats[g]["mx"] - stats[g]["mn"]))
            for g in needed
        ]
        stats_df = F.broadcast(
            local_frame(
                spark,
                stats_rows,
                StructType(
                    [
                        StructField("__g", gtype),
                        StructField("__mn", DoubleType()),
                        StructField("__scale", DoubleType()),
                    ]
                ),
            )
        ).withColumnRenamed("__g", "__gs")
        b = F.least(
            F.lit(buckets - 1),
            F.floor((F.col("__v") - F.col("__mn")) * F.col("__scale")).cast("long"),
        )
        hist_df = (
            vals.join(stats_df, on=F.col("__g").eqNullSafe(F.col("__gs")))
            .groupBy("__g", b.alias("__b"))
            .agg(F.count("*").alias("cnt"))
        )
        hist: dict[object, dict[int, int]] = {}
        for r in hist_df.collect():
            hist.setdefault(r["__g"], {})[r["__b"]] = r["cnt"]
        # locate candidate buckets + their starting global rank per group
        cand: dict[object, dict[int, int]] = {}  # g -> bucket -> start_rank
        for g, ks in needed.items():
            cum = 0
            want = sorted(ks)
            wi = 0
            for bid in range(buckets):
                cnt = hist[g].get(bid, 0)
                while wi < len(want) and cum + cnt > want[wi]:
                    cand.setdefault(g, {})[bid] = cum
                    wi += 1
                cum += cnt
                if wi == len(want):
                    break
        cand_rows = [(g, bid) for g, bs in cand.items() for bid in bs]
        cand_df = F.broadcast(
            local_frame(
                spark,
                cand_rows,
                StructType(
                    [StructField("__gc", gtype), StructField("__bc", LongType())]
                ),
            )
        )
        det = (
            vals.join(stats_df, on=F.col("__g").eqNullSafe(F.col("__gs")))
            .withColumn("__b", b)
            .join(
                cand_df,
                on=F.col("__g").eqNullSafe(F.col("__gc"))
                & (F.col("__b") == F.col("__bc")),
            )
            .groupBy("__g", "__b", "__v")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        per_bucket: dict[tuple, list] = {}
        for r in det:
            per_bucket.setdefault((r["__g"], r["__b"]), []).append((r["__v"], r["cnt"]))
        for g, bs in cand.items():
            ks = sorted(needed[g])
            for bid in sorted(bs):
                start = bs[bid]
                cum = start
                for v, cnt in sorted(per_bucket[(g, bid)]):
                    for k in ks:
                        if k not in values[g] and cum <= k < cum + cnt:
                            values[g][k] = v
                    cum += cnt
    out = []
    for g, r in stats.items():
        row = {"group": g, "n_rows": r["n_rows"], "n_values": r["n"]}
        for q in qs:
            if r["n"] == 0:
                row[f"q{q}"] = None
            elif r["mn"] == r["mx"]:
                row[f"q{q}"] = float(r["mn"])
            else:
                pos = (r["n"] - 1) * q
                k_lo, k_hi = math.floor(pos), math.ceil(pos)
                v_lo, v_hi = values[g][k_lo], values[g][k_hi]
                row[f"q{q}"] = (
                    v_lo
                    if k_lo == k_hi
                    else (k_hi - pos) * v_lo + (pos - k_lo) * v_hi
                )
        out.append(row)
    return out
