#!/usr/bin/env python3
"""Benchmark of the PySpark data-quality and analytics engine.

    python3 perfbench/run.py --workload mix-sf0.1 --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout.  The run writes its seeded inputs, starts a
Spark session with the engine's defaults, runs the workload's ops once cold
(set-up) and then warm for ``--seconds``, checks every answer, and prints one
JSON object as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones.  The human-readable
report, with the host stamp, goes to standard error; spans and results go
to ``.perfbench/out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "enterprise_data_quality_platform_spark"

WORKLOADS = {
    "mix-sf0.1": {"kind": "mix", "sf": 0.1},
    "dq-gate-sf0.1": {"kind": "dq-gate", "sf": 0.1},
}

E2E = (("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"))

#: Warm passes run after the cold one and before the timed window: the JIT
#: is still compiling through them.  Their answers are checked all the same.
WARMUP_PASSES = 1
#: Warm passes a window always holds, however slow the host (see ``run``).
MIN_PASSES = 3

PER_LAYER = (
    ("process.peak_rss_mb", "MB"),
    ("session.start_s", "s"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("queries.plan_s", "s"), ("queries.exec_s", "s"),
    ("queries.result_rows", "rows"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.core_idle_frac", "ratio"), ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_records", "count"), ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"), ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("catalog.scan_rows", "rows"), ("catalog.scan_bytes", "bytes"),
    ("catalog.files_read", "count"),
    ("multimodal.python_rows", "rows"), ("multimodal.python_bytes", "bytes"),
    ("checks.suite_s", "s"), ("checks.jobs_per_suite", "count"),
    ("checks.checks_per_scan", "ratio"), ("checks.error_results", "count"),
    ("plans.pipeline_s", "s"), ("plans.stage_s", "s"), ("plans.overhead_s", "s"),
    ("plans.attempts", "count"), ("models.transform_s", "s"),
    ("alerts.resolve_s", "s"), ("alerts.sink_files", "count"),
    ("alerts.sink_rows", "rows"),
    ("streaming.gate_s", "s"), ("streaming.batch_s", "s"),
    ("streaming.start_s", "s"), ("streaming.rows_per_s", "rows/s"),
)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the engine from it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    for p in (str(ROOT), str(HERE), str(ROOT / "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    import tempfile

    tempfile.tempdir = str(tmp)


def generate(sf: float, seed: int, out: Path) -> None:
    """Seeded inputs, written by a child process so the generator's memory
    stays out of the measured peak RSS."""
    subprocess.run([sys.executable, str(HERE / "gen.py"), str(sf), str(seed), str(out)],
                   check=True, stdout=subprocess.DEVNULL, timeout=300)


def vm_hwm_mb(pid: int | str) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the Spark JVM."""
    t = os.times()
    fields = Path(f"/proc/{jvm_pid}/stat").read_text().rsplit(")", 1)[1].split()
    return t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests (``/proc/stat``)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def q90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[8] if len(xs) >= 2 else (xs[0] if xs else 0.0)


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    spec = WORKLOADS[args.workload]
    out_dir = ROOT / ".perfbench" / "out"
    work = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    out_dir.mkdir(parents=True, exist_ok=True)
    prepare_env(work)
    data = work / "data"
    generate(spec["sf"], args.seed, data)

    import pyarrow.parquet as pq
    import pyspark
    from counters import SparkCounters
    from spans import Tracer, format_table
    from workloads import DqGateWorkload, MixWorkload

    from enterprise_data_quality_platform_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_start = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctr = SparkCounters(spark) if args.trace else None
        if spec["kind"] == "mix":
            wl = MixWorkload(spark, str(data), args.seed, tracer, ctr)
        else:
            wl = DqGateWorkload(spark, str(data), args.seed, tracer, ctr, work,
                                pq.read_table(data / "events.parquet"))
            if args.trace:
                wl.start_listener()
        cold = [op() for op in wl.pass_ops(0)]
        setup_s = time.perf_counter() - t0

        passes = 0
        for _ in range(WARMUP_PASSES):
            passes += 1
            cold += [op() for op in wl.pass_ops(passes)]
        n_untimed = len(cold)

        probe = SparkCounters(spark)  # JVM beans only; no per-op reads
        probe.reset_heap_peak()
        gc0 = probe.jvm_gc_s()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        cpu0, steal0 = cpu_s(jvm_pid), steal_s()
        warm: list = []
        timed = 0
        tw = time.perf_counter()
        # whole passes until the window reaches --seconds, and never fewer
        # than MIN_PASSES: a slow spell on the host must not also shrink the
        # sample each op's median rests on
        while timed < MIN_PASSES or time.perf_counter() - tw < args.seconds:
            timed += 1
            passes += 1
            warm += [op() for op in wl.pass_ops(passes)]
        window_s = time.perf_counter() - tw
        window_cpu_s, window_steal_s = cpu_s(jvm_pid) - cpu0, steal_s() - steal0
        jvm_gc = probe.jvm_gc_s() - gc0
        heap_peak = probe.heap_peak_mb()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + vm_hwm_mb(jvm_pid)
        sink = (0, 0)
        if spec["kind"] == "dq-gate":
            sink = wl.sink_stats()
            wl.stop_listener()
        wrong = wl.verify(cold + warm)
        conf = spark.sparkContext.getConf()
        stamp = {
            "workload": args.workload, "seed": args.seed, "sf": spec["sf"],
            "cpus": host_cpus(), "master": spark.sparkContext.master,
            "heap": conf.get("spark.driver.memory", "default"),
            "pyspark": pyspark.__version__, "python": sys.version.split()[0],
            "trace": int(args.trace), "seconds": args.seconds, "warmup_passes": WARMUP_PASSES,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(cold) + len(warm)
    failed = [r for r in cold + warm if not r.ok]
    lat = [r.latency_s for r in warm]
    by_name: dict[str, list[float]] = {}
    for r in warm:
        by_name.setdefault(r.name, []).append(r.latency_s)
    e2e = {
        "setup_s": setup_s,
        "pass_s": sum(med(v) for v in by_name.values()),
        # each op's median, then their median: a pooled median of ops with
        # well-separated latencies falls in the gap between two of them
        "op_p50_s": med(med(v) for v in by_name.values()),
    }
    # printed beside the contract's metrics: a run holds 16-42 timed ops, so
    # fewer than ten lie beyond the 90th percentile; failures travel as the
    # result's attempted/failed counts; peak RSS is too noisy here to gate on
    report = {**e2e, "op_p90_s": q90(lat), "peak_rss_mb": rss_mb,
              "failed_frac": len(failed) / attempted}
    units = {**dict(E2E), "op_p90_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio"}

    log(f"# perfbench {json.dumps(stamp)}")
    log(f"# {len(warm)} timed ops in {timed} x {wl.unit} over {window_s:.1f} s "
        f"({window_cpu_s / timed:.2f} CPU s a {wl.unit}, Python + JVM; "
        f"{window_steal_s:.2f} s stolen from the host's CPUs by other guests); "
        f"{n_untimed} untimed ops in set-up and warm-up; "
        f"{len(failed)} of {attempted} ops failed")
    for name, value in report.items():
        log(f"{name:<14} {value:>12.4f} {units[name]}")
    for r in failed:
        log(f"FAILED {r.name}: {r.error}")
    if wrong:
        log(f"wrong answers: {sorted(set(wrong))}")

    tag = f"{args.workload}-seed{args.seed}"
    record = {"stamp": stamp, "report": report, "attempted": attempted,
              "window": {"s": window_s, "cpu_s": window_cpu_s, "steal_s": window_steal_s,
                         "passes": timed},
              "failed": len(failed), "failed_ops": [[r.name, r.error] for r in failed],
              "ops": [[r.name, r.latency_s, r.ok] for r in cold + warm]}
    metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
    if args.trace:
        layer = per_layer(warm, timed, session_start, jvm_gc, heap_peak, sink,
                          len(getattr(wl, "suite", ())))
        layer["process.peak_rss_mb"] = rss_mb
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        for n, u in PER_LAYER:
            log(f"{n:<28} {layer[n]:>16.4f} {u}")
        rows = tracer.self_times()
        log(format_table(rows))
        base = out_dir / f"e2e-{tag}.json"
        overhead = None
        if base.exists():
            ref = json.loads(base.read_text())["report"]
            overhead = {k: report[k] - ref[k] for k in report}
            log("tracing overhead (traced - untraced, same seed): " + ", ".join(
                f"{k} {v:+.4f}" for k, v in overhead.items()))
        else:
            log("tracing overhead: run the same workload and seed with --trace 0 first")
        record.update(per_layer=layer, self_time=rows, trace_overhead=overhead)
        tracer.write(str(out_dir / f"trace-{tag}.json"), {**stamp, "self_time": rows})
        (out_dir / f"layers-{tag}.json").write_text(json.dumps(record, indent=1))
    else:
        (out_dir / f"e2e-{tag}.json").write_text(json.dumps(record, indent=1))
    return {"correct": not failed, "attempted": attempted, "failed": len(failed),
            "metrics": metrics}


def per_layer(warm, passes, session_start, jvm_gc, heap_peak, sink, suite_checks) -> dict:
    from counters import ZERO, add

    tot: dict = dict(ZERO)
    for r in warm:
        if r.counters:
            add(tot, r.counters)
    per = {k: v / passes for k, v in tot.items()}

    def detail_sum(key):
        return sum(r.detail.get(key, 0.0) for r in warm) / passes

    op_time = sum(r.latency_s for r in warm)
    cores = host_cpus()
    suites = [r for r in warm if r.kind == "suite"]
    pipes = [r for r in warm if r.kind == "pipeline"]
    streams = [r for r in warm if r.kind == "stream"]
    suite_scans = sum(r.counters.get("scans", 0) for r in suites if r.counters)
    return {
        "session.start_s": session_start,
        "queries.build_s": detail_sum("build_s"),
        "queries.build_jobs": detail_sum("build_jobs"),
        "queries.plan_s": detail_sum("plan_s"),
        "queries.exec_s": detail_sum("exec_s"),
        "queries.result_rows": per.get("result_rows", 0),
        "spark.jobs": per["jobs"], "spark.stages": per["stages"],
        "spark.tasks": per["tasks"],
        "spark.core_idle_frac": 1 - tot["task_run_s"] / (op_time * cores) if op_time else 0.0,
        "spark.task_run_s": per["task_run_s"], "spark.task_cpu_s": per["task_cpu_s"],
        "spark.shuffle_write_bytes": per["shuffle_write_bytes"],
        "spark.shuffle_read_records": per["shuffle_read_records"],
        "spark.spill_bytes": per["spill_bytes"], "spark.gc_s": per["gc_s"],
        "jvm.gc_s": jvm_gc / passes, "jvm.heap_peak_mb": heap_peak,
        "catalog.scan_rows": per["scan_rows"], "catalog.scan_bytes": per["scan_bytes"],
        "catalog.files_read": per["files_read"],
        "multimodal.python_rows": per["python_rows"],
        "multimodal.python_bytes": per["python_bytes"],
        "checks.suite_s": med(r.latency_s for r in suites),
        "checks.jobs_per_suite": med(r.counters["jobs"] for r in suites if r.counters),
        "checks.checks_per_scan": (suite_checks * len(suites) / suite_scans
                                   if suite_scans else 0.0),
        "checks.error_results": per.get("error_results", 0),
        "plans.pipeline_s": med(r.latency_s for r in pipes),
        "plans.stage_s": med(r.detail.get("stage_s", 0.0) for r in pipes),
        "plans.overhead_s": med(r.detail.get("overhead_s", 0.0) for r in pipes),
        "plans.attempts": detail_sum("attempts"),
        "models.transform_s": med(r.detail.get("transform_s", 0.0) for r in pipes),
        "alerts.resolve_s": med(r.latency_s for r in warm if r.kind == "resolve"),
        "alerts.sink_files": sink[0], "alerts.sink_rows": sink[1],
        "streaming.gate_s": med(r.latency_s for r in streams),
        "streaming.batch_s": med(r.detail.get("batch_s", 0.0) for r in streams),
        "streaming.start_s": med(r.detail.get("start_s", 0.0) for r in streams),
        "streaming.rows_per_s": med(r.detail["rows"] / r.detail["batch_s"]
                                    for r in streams if r.detail.get("batch_s")),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that the per-layer counters repeat exactly")
    args = ap.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "tools" / "parity.py").is_file():
        log(f"perfbench: the engine ({PACKAGE}/, tools/parity.py) is not in {ROOT}")
        return 3
    if args.self_test:
        from selftest import self_test

        return self_test(prepare_env, stop_spark, generate, ROOT)
    if not args.workload:
        ap.error("--workload is required")
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
