"""Self-test of the benchmark's counters: two passes of a few ops from each
workload, on sf0.01 inputs, must read identical deterministic counters.

    python3 perfbench/run.py --self-test
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

#: Counters that must repeat exactly from one pass to the next.
EXACT = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_write_records",
         "shuffle_read_bytes", "shuffle_read_records", "scan_rows", "result_rows")

MIX_OPS = ("dq_uniqueness", "mart_pricing_summary", "mart_part_affinity",
           "dedup_semantic_docs")


def self_test(prepare_env, stop_spark, generate, root: Path) -> int:
    work = root / ".perfbench" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    data = work / "data"
    generate(0.01, 1, data)

    import pyarrow.parquet as pq
    from counters import SparkCounters
    from spans import Tracer
    from workloads import DqGateWorkload, MixWorkload

    from enterprise_data_quality_platform_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    try:
        ctr, tracer = SparkCounters(spark), Tracer(False)
        mix = MixWorkload(spark, str(data), 1, tracer, ctr)
        passes: list[dict[str, dict]] = [{}, {}]
        for p in (0, 1):
            for name in MIX_OPS:
                passes[p][name] = mix._query(name).counters
            # a fresh alert sink and checkpoint each pass: the gate's inputs
            # then repeat exactly, so its counters must too
            dq = DqGateWorkload(spark, str(data), 1, tracer, ctr, work / f"dq{p}",
                                pq.read_table(data / "events.parquet"))
            for op in dq.pass_ops(0):
                r = op()
                passes[p][r.name] = r.counters
        for name in passes[0]:
            a, b = passes[0][name], passes[1][name]
            diff = {k: (a.get(k), b.get(k)) for k in EXACT if a.get(k) != b.get(k)}
            status = "ok  " if not diff else "DIFF"
            bad += bool(diff)
            print(f"{status} {name:<24} " + " ".join(f"{k}={a.get(k)}" for k in EXACT)
                  + (f"  differs: {diff}" if diff else ""), file=sys.stderr)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"self-test: {'PASS' if not bad else 'FAIL'} "
          f"({len(passes[0]) - bad} of {len(passes[0])} ops repeat exactly)")
    return 1 if bad else 0
