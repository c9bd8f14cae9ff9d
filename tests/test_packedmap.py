"""Unit pins for operators/packedmap.py — the packed small-code broadcast
map (bitmap flag-join generalized to n-bit values).

The load-bearing properties: exact inner-join semantics (absent key ⇒
drop; negative keys recover via the two's-complement slot identity),
loud dim-side guards for duplicate keys and out-of-domain codes, and —
critically — the guard fires EVEN WHEN the violation drops every probe
row (the AQE empty-relation propagation hole found in round 8: a
result-side guard join is eliminated before its stage materializes when
the aggregate above it is empty)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.operators.packedmap import (
    join_packed_codes,
    packed_code_map,
)


def _map_of(spark, rows, slot_bits=8):
    df = spark.createDataFrame(rows, "k long, v long")
    return packed_code_map(
        df, "k", F.col("v"), slot_bits=slot_bits, guard_message="pm: bad domain"
    )


def test_roundtrip_including_negative_and_absent_keys(spark):
    # keys spanning words, negative keys, code range edges 1 and 255
    build = [(0, 1), (7, 255), (8, 42), (-1, 7), (-8, 9)]
    pmap = _map_of(spark, build)
    probe = spark.createDataFrame(
        [(0,), (7,), (8,), (-1,), (-8,), (3,), (100,), (None,)], "k long"
    )
    got = {
        r.k: r.code
        for r in join_packed_codes(probe, pmap, "k", "code").collect()
    }
    # absent keys 3 (word 0 exists) and 100 (word absent) and NULL all drop
    assert got == {0: 1, 7: 255, 8: 42, -1: 7, -8: 9}


def test_duplicate_key_raises(spark):
    pmap = _map_of(spark, [(5, 1), (5, 2)])
    probe = spark.createDataFrame([(5,)], "k long")
    with pytest.raises(Exception, match="pm: bad domain"):
        join_packed_codes(probe, pmap, "k", "code").collect()


@pytest.mark.parametrize("code", [0, -3, 256])
def test_out_of_domain_code_raises_even_when_all_rows_drop(spark, code):
    """code 0/negative drops every probe row — the final frame is empty,
    so a guard attached only above the aggregate would be AQE-eliminated;
    the words-embedded guard must still raise."""
    pmap = _map_of(spark, [(5, code)])
    probe = spark.createDataFrame([(5,)], "k long")
    with pytest.raises(Exception, match="pm: bad domain"):
        join_packed_codes(probe, pmap, "k", "code").collect()


def test_null_code_raises(spark):
    """A NULL code row must raise, not silently drop the key: bit_or /
    min / max all IGNORE NULLs, so before the _ccnt==_cnt check the word
    passed the guard while the slot stayed 0 — the probe dropped the key
    where the plain join would have kept it with a NULL value (ADVICE
    r8 medium). The word also holds a healthy non-NULL neighbor so the
    occupancy/range checks alone cannot catch it."""
    df = spark.createDataFrame([(1, 5), (2, None)], "k long, v long")
    pmap = packed_code_map(
        df, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
    )
    probe = spark.createDataFrame([(1,), (2,)], "k long")
    with pytest.raises(Exception, match="pm: bad domain"):
        join_packed_codes(probe, pmap, "k", "code").collect()


def test_words_fit_broadcast_falls_back_to_static_threshold(spark, sf_dir):
    """When the adaptive broadcast threshold is UNSET, Spark falls back
    to spark.sql.autoBroadcastJoinThreshold — the gate must read that
    fallback, not assume the 64MB default (ADVICE r8): with the static
    conf at -1 (broadcasts off) the gate must return False."""
    from enterprise_data_quality_platform_spark.operators.packedmap import (
        words_fit_broadcast,
    )

    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_adaptive = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold"
    )
    try:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not words_fit_broadcast(spark, sf_dir, "nation")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert words_fit_broadcast(spark, sf_dir, "nation")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", old_adaptive
        )


def test_value_identical_to_plain_join(spark):
    import random

    rng = random.Random(8)
    build = [(k, rng.randint(1, 255)) for k in rng.sample(range(-500, 4000), 700)]
    probe_keys = [(rng.randint(-600, 4100),) for _ in range(3000)]
    dim = spark.createDataFrame(build, "k long, v long")
    probe = spark.createDataFrame(probe_keys, "k long")
    pmap = packed_code_map(
        dim, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
    )
    packed = (
        join_packed_codes(probe, pmap, "k", "code")
        .groupBy("k", "code")
        .count()
        .collect()
    )
    plain = (
        probe.join(dim, "k")
        .groupBy("k", F.col("v").alias("code"))
        .count()
        .collect()
    )
    assert sorted(map(tuple, packed)) == sorted(map(tuple, plain))


def test_slot_bits_validation(spark):
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    with pytest.raises(ValueError, match="slot_bits"):
        packed_code_map(df, "k", F.col("v"), slot_bits=12, guard_message="x")


def test_sixteen_bit_slots(spark):
    pmap = _map_of(spark, [(0, 65535), (3, 1), (4, 300)], slot_bits=16)
    probe = spark.createDataFrame([(0,), (3,), (4,), (2,)], "k long")
    got = {
        r.k: r.code
        for r in join_packed_codes(probe, pmap, "k", "code").collect()
    }
    assert got == {0: 65535, 3: 1, 4: 300}


def test_degrades_to_shuffle_join_with_identical_values(spark):
    """The scale-posture claim ("past the broadcast ceiling AQE degrades
    the word join to a shuffle on 2**k-times-fewer rows — never worse
    than the plain join") pinned at the VALUE level: with broadcasts
    disabled the word join must plan as a non-broadcast join and return
    the exact same rows."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    build = [(k, rng.randint(1, 255)) for k in rng.sample(range(0, 2000), 400)]
    probe_keys = [(rng.randint(-50, 2100),) for _ in range(2000)]
    dim = spark.createDataFrame(build, "k long, v long")
    probe = spark.createDataFrame(probe_keys, "k long")

    def run():
        pmap = packed_code_map(
            dim, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
        )
        return sorted(
            map(
                tuple,
                join_packed_codes(probe, pmap, "k", "code")
                .groupBy("k", "code")
                .count()
                .collect(),
            )
        )

    baseline = run()
    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_adaptive = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        pmap = packed_code_map(
            dim, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
        )
        df = join_packed_codes(probe, pmap, "k", "code").groupBy("k", "code").count()
        degraded = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_adaptive)
    assert degraded == baseline


def test_footer_col_minmax_none_for_non_integral_stats(tmp_path):
    """String and double chunk statistics cannot prove an integral key
    range: ``_footer_col_minmax`` returns None (the in-plan guard path)
    instead of handing a caller values it would compare with ints."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from enterprise_data_quality_platform_spark.operators.packedmap import (
        _footer_col_minmax,
    )

    pq.write_table(
        pa.table({"k": [3, -2, 9], "s": ["b", "a", "c"], "d": [1.5, -2.0, 0.0]}),
        tmp_path / "t.parquet",
    )
    assert _footer_col_minmax(str(tmp_path), "t", "k") == (-2, 9)
    assert _footer_col_minmax(str(tmp_path), "t", "s") is None
    assert _footer_col_minmax(str(tmp_path), "t", "d") is None
