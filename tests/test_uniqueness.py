"""Uniqueness: the existence-bitmap distinct count and the queries on it.

``operators.packedmap.bitmap_distinct`` groups an integral key by
``key >> 6`` and ORs ``1L << (key & 63)``: a bit records presence, not a
count, so the answer is exact for every key and every repeat count.
``dq_uniqueness`` and the suite's single-integral-key ``unique`` check are
built on it. ``dq_unique_proportion`` stays on the plain per-key plan (a
packed-counter variant was rejected on measurement,
OPTIMIZATION_r12.md §2); its tests pin high-duplication and mixed domains.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.catalog import local_frame
from enterprise_data_quality_platform_spark.checks import Check
from enterprise_data_quality_platform_spark.checks.compiler import (
    compile_agg_check,
)
from enterprise_data_quality_platform_spark.operators.packedmap import (
    bitmap_distinct,
)
from enterprise_data_quality_platform_spark.queries.dq import (
    dq_unique_proportion,
    dq_uniqueness,
)


def _write_orders(spark, tmp_path, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "orders.parquet")
    )


def test_dq_uniqueness_carry_falls_back_exact(spark, tmp_path):
    """A key repeated >127 times (past a 7-bit counter slot) still gives
    the exact COUNT - COUNT(DISTINCT) answer, not an error."""
    rows = [(7,)] * 130 + [(1,), (2,), (2,), (None,)]
    _write_orders(spark, tmp_path, rows, "o_orderkey long")
    out = dq_uniqueness(spark, str(tmp_path)).collect()
    assert len(out) == 1
    # non-null rows = 133, distinct keys = {7, 1, 2} = 3
    assert out[0].duplicate_rows == 133 - 3
    assert out[0].distinct_keys == 3


def test_dq_uniqueness_fast_path_negatives_nulls_dupes(spark, tmp_path):
    """Negative keys, NULLs and dupes stay exact through the (word, bit)
    mapping."""
    rows = [(-9,), (-9,), (-1,), (0,), (8,), (8,), (8,), (None,), (None,)]
    _write_orders(spark, tmp_path, rows, "o_orderkey long")
    out = dq_uniqueness(spark, str(tmp_path)).collect()
    assert out[0].duplicate_rows == 7 - 4
    assert out[0].distinct_keys == 4


def test_dq_unique_proportion_high_duplication_exact(spark, tmp_path):
    """A key repeated >32767 times (the domain that killed the packed
    variant's 15-bit slots) answers exactly through the standalone query."""
    rows = [(5,)] * 32770 + [(6,), (None,)]
    _write_orders(spark, tmp_path, rows, "o_custkey long")
    out = dq_unique_proportion(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.total, r.n_nonnull, r.n_distinct) == (32772, 32771, 2)
    assert abs(r.unique_ratio - round(2 / 32771, 6)) < 1e-12


def test_dq_unique_proportion_mixed_domain_exact(spark, tmp_path):
    """Mixed domain (negatives, NULLs, dupes) answers exactly."""
    rows = (
        [(k,) for k in (-5, -5, -4, -1, 0, 1, 2, 3, 4, 7, 8)]
        + [(3,)] * 6
        + [(None,)] * 3
    )
    _write_orders(spark, tmp_path, rows, "o_custkey long")
    out = dq_unique_proportion(spark, str(tmp_path)).collect()
    r = out[0]
    # 20 rows, 17 non-null, distinct non-null = {-5,-4,-1,0,1,2,3,4,7,8}=10
    assert (r.total, r.n_nonnull, r.n_distinct) == (20, 17, 10)
    assert abs(r.unique_ratio - round(10 / 17, 6)) < 1e-12


# --- property: the bitmap frame against the plain plan --------------------

#: signed bit width below the sign bit, per Spark integral type
_BITS = {"long": 63, "int": 31, "short": 15, "byte": 7}
_EDGES = (2**31 - 1, 2**31, -(2**31), 2**63 - 1, -(2**63), -64, -65, 0, 63, 64)
#: runs past a 7-bit and a 15-bit counter slot
_RUNS = (1, 1, 2, 3, 128, 32768)


@st.composite
def _key_columns(draw):
    """(type, keys): keys of one integral type with NULLs, edge values,
    dense keys that share words and long runs of one key."""
    dtype = draw(st.sampled_from(sorted(_BITS)))
    lo, hi = -(1 << _BITS[dtype]), (1 << _BITS[dtype]) - 1
    key = (
        st.none()
        | st.sampled_from([k for k in _EDGES + (lo, hi) if lo <= k <= hi])
        | st.integers(lo, hi)
        | st.integers(max(lo, -130), min(hi, 130))
    )
    runs = draw(st.lists(st.tuples(key, st.sampled_from(_RUNS)), max_size=8))
    return dtype, [k for k, n in runs for _ in range(n)]


def _edge_case(dtype):
    lo, hi = -(1 << _BITS[dtype]), (1 << _BITS[dtype]) - 1
    keys = [k for k in _EDGES if lo <= k <= hi] + list(range(-70, 70))
    return dtype, keys + [None, None] + [hi] * 128 + [lo] * 32768 + keys


@settings(max_examples=25, deadline=None)
@given(case=_key_columns())
@example(case=_edge_case("long"))
@example(case=_edge_case("int"))
@example(case=_edge_case("short"))
@example(case=_edge_case("byte"))
@example(case=("long", []))
def test_bitmap_distinct_matches_plain_plan(spark, case):
    """Property: ``bitmap_distinct`` on any integral key column gives the
    Python counts, and the unique check's bitmap frame equals its plain
    per-key plan (``build_unique``, taken by the same keys as strings)."""
    dtype, keys = case
    df = local_frame(spark, [(k,) for k in keys], f"k {dtype}")
    got = bitmap_distinct(df, F.col("k")).collect()[0].asDict()
    non_null = [k for k in keys if k is not None]
    assert got == {
        "rows": len(keys),
        "non_null": len(non_null),
        "distinct": len(set(non_null)),
    }
    compiled = compile_agg_check(Check("u", "unique", "t", column="k"), "c0")
    bitmap_row, plain_row = (
        compiled.frame_builder(d).collect()[0].asDict()
        for d in (df, df.select(F.col("k").cast("string").alias("k")))
    )
    assert bitmap_row == plain_row == {
        "c0__violations": got["non_null"] - got["distinct"],
        "c0__total": got["rows"],
    }
