"""The benchmark's workloads: what one op is, the order ops are issued in, and
how each op's answer is checked.

One process, one client thread, closed loop: each op is issued when the
previous one returns.  A workload's ``pass`` is the unit that repeats (the
query list, or one gate cycle).
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import numpy as np

#: The ``mix`` query list: a fixed, named subset of ``bench.HEADLINE`` (the
#: full 122-query list takes ~100 s per warm pass on 4 CPUs, more than a run
#: can hold).  One query per module family that a layer of the traced run
#: reports on.  Seven cheap-to-mid queries (~5 s a warm pass) let a run
#: repeat each four times.  The check suite is left to the dq-gate workload,
#: which runs the same ``_SUITE`` as ``dq_suite_report``.
MIX_QUERIES = (
    "dq_row_count",            # pure per-job floor: one count
    "dq_uniqueness",           # packed-counter fast path (operators/packedmap)
    "mart_pricing_summary",    # several jobs for a 6-row answer
    "mart_part_affinity",      # pair self-join + aggregate, grows with data
    "events_sessionization",   # window over events
    "text_token_topk",         # text tokenisation + top-k
    "dedup_semantic_docs",     # applyInPandas boundary (dedup/semantic.py)
)

#: Checks the streaming gate runs on every landed ``events`` slice.
STREAM_CHECKS_SPEC = (
    ("events id not null", "not_null", "event_id", {}),
    ("events id unique", "unique", "event_id", {}),
    ("events type in domain", "values_in_set", "event_type",
     {"values": ("error", "view", "purchase", "signup", "click")}),
    ("events value non-negative", "values_between", "value", {"min": 0.0}),
)
STREAM_SLICE_ROWS = 5000


@dataclass
class Timed:
    """One timed public call: its return value or exception, latency, and in
    a traced run its counters and span ids."""
    mark: tuple[int, int] | None
    out: Any = None
    exc: Exception | None = None
    latency: float = 0.0
    counters: dict | None = None
    op_span: int | None = None
    layer_span: int | None = None


@dataclass
class OpResult:
    name: str
    kind: str
    latency_s: float
    ok: bool = True
    error: str | None = None
    detail: dict = field(default_factory=dict)
    counters: dict | None = None


def rows_hash(rows) -> str:
    """Order-insensitive digest of collected rows.  Floats keep 12
    significant digits so last-bit differences in the order Spark sums
    partials do not read as a different answer."""
    def norm(v: Any):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.12g}"
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
        if hasattr(v, "asDict"):
            return norm(tuple(v))
        return repr(v)

    lines = sorted(repr(norm(tuple(r))) for r in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


def rows_to_pandas(rows, schema):
    """Collected rows as the frame ``toPandas()`` would give, for
    ``tools/parity.py``'s ``compare``."""
    import pandas as pd
    from pyspark.sql import types as T

    cols = {}
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        dt = f.dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            cols[f.name] = pd.array(vals, dtype="Int64")
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            cols[f.name] = pd.array([np.nan if v is None else float(v) for v in vals],
                                    dtype="float64")
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            cols[f.name] = pd.to_datetime(pd.Series(vals, dtype=object))
        elif isinstance(dt, T.DecimalType):
            cols[f.name] = pd.array([None if v is None else float(v) for v in vals],
                                    dtype="float64")
        else:
            cols[f.name] = pd.Series(vals, dtype=object)
    return pd.DataFrame(cols, columns=[f.name for f in schema.fields])


def stream_checks():
    from enterprise_data_quality_platform_spark.checks import Check

    return [Check(n, t, "events", column=c, params=dict(p))
            for n, t, c, p in STREAM_CHECKS_SPEC]


def critical_path(stages: dict[str, tuple[tuple[str, ...], float]]) -> float:
    """Longest dependency chain of stage durations: name -> (upstream, s)."""
    memo: dict[str, float] = {}

    def longest(n: str) -> float:
        if n not in memo:
            ups, dur = stages[n]
            memo[n] = dur + max((longest(u) for u in ups if u in stages),
                                default=0.0)
        return memo[n]

    return max((longest(n) for n in stages), default=0.0)


# --------------------------------------------------------------------------
# mix: registry queries, each built and then collect()ed
# --------------------------------------------------------------------------
class MixWorkload:
    unit = "pass"

    def __init__(self, spark, data_dir: str, seed: int, tracer, counters):
        from enterprise_data_quality_platform_spark.queries import query_fns
        from enterprise_data_quality_platform_spark.queries.registry import all_queries

        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.tracer, self.counters = tracer, counters
        fns = query_fns()
        specs = all_queries()
        self.fns = {n: fns[n] for n in MIX_QUERIES}
        self.has_oracle = {n: specs[n].oracle is not None for n in MIX_QUERIES}
        self.first: dict[str, tuple[str, Any, Any]] = {}  # name -> (hash, rows, schema)

    def pass_ops(self, index: int) -> list[Callable[[], OpResult]]:
        order = np.random.default_rng([self.seed, 7, index]).permutation(len(MIX_QUERIES))
        return [lambda n=MIX_QUERIES[i]: self._query(n) for i in order]

    def _query(self, name: str) -> OpResult:
        tr, ctr = self.tracer, self.counters
        detail: dict = {}
        with tr.span(name, "op", kind="query") as op_span:
            mark = ctr.mark() if ctr else None
            t0 = time.perf_counter()
            try:
                with tr.span("build", "queries"):
                    j_build = ctr.next_job_id() if ctr else 0
                    tb = time.perf_counter()
                    df = self.fns[name](self.spark, self.data_dir)
                    detail["build_s"] = time.perf_counter() - tb
                    if ctr:
                        detail["build_jobs"] = ctr.next_job_id() - j_build
                if ctr:  # traced run: plan separately from execution
                    with tr.span("plan", "queries"):
                        tp = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        detail["plan_s"] = time.perf_counter() - tp
                with tr.span("exec", "queries"):
                    te = time.perf_counter()
                    rows = df.collect()
                    detail["exec_s"] = time.perf_counter() - te
                latency = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — a failed op is counted
                return OpResult(name, "query", time.perf_counter() - t0, False,
                                f"{type(exc).__name__}: {exc}"[:300])
            res = OpResult(name, "query", latency, detail=detail)
            if ctr:
                res.counters = ctr.since(mark)
                res.counters["result_rows"] = len(rows)
                if op_span is not None:
                    _job_spans(tr, ctr, mark, op_span["id"])
        h = rows_hash(rows)
        if name not in self.first:
            self.first[name] = (h, rows, df.schema)
        elif h != self.first[name][0]:
            res.ok, res.error = False, "result differs from the first pass"
        return res

    def verify(self, results: list[OpResult]) -> list[str]:
        """Oracle-backed queries: the first answer against the DuckDB twin
        on the same permuted files.  Others: every pass gave one hash."""
        import duckdb

        from enterprise_data_quality_platform_spark.queries.registry import oracle_sqls
        from parity import compare

        oracles = oracle_sqls(self.data_dir)
        con = duckdb.connect()
        for f in sorted(Path(self.data_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        wrong: list[str] = []
        for name, (_, rows, schema) in sorted(self.first.items()):
            if not self.has_oracle[name]:
                continue
            try:
                duck = con.execute(oracles[name]).fetchdf()
                issues = compare(name, rows_to_pandas(rows, schema), duck)
            except Exception as exc:  # noqa: BLE001
                issues = [f"oracle raised {type(exc).__name__}: {exc}"[:300]]
            if issues:
                wrong.append(name)
                print(f"WRONG {name}: {issues[:3]}", flush=True, file=sys.stderr)
        con.close()
        for r in results:
            if r.name in wrong:
                r.ok, r.error = False, r.error or "differs from the DuckDB oracle"
        return wrong


def _job_spans(tr, ctr, mark, op_span: int) -> None:
    """Spark jobs of an op, as spans (status-store times) under the deepest
    span of the op that was open when the job was submitted."""
    off = time.time() - time.perf_counter()
    inside = {op_span}
    for s in tr.spans[op_span + 1:]:
        if s["parent"] in inside and s["layer"] != "spark":
            inside.add(s["id"])
    candidates = [tr.spans[i] for i in sorted(inside)]
    for jid, start, end, n_stages in ctr.jobs_since(mark):
        s0, s1 = start - off, end - off
        owner = op_span
        for c in candidates:  # later (deeper or newer) spans win
            if c["start"] <= s0 <= (c["end"] or float("inf")):
                owner = c["id"]
        tr.record(f"job {jid}", "spark", s0, s1, parent=owner, job_id=jid,
                  stages=n_stages)


# --------------------------------------------------------------------------
# dq-gate: the reference's pager loop, one cycle = four ops
# --------------------------------------------------------------------------
class DqGateWorkload:
    unit = "cycle"

    def __init__(self, spark, data_dir: str, seed: int, tracer, counters,
                 work: Path, events_table):
        from enterprise_data_quality_platform_spark.catalog import table
        from enterprise_data_quality_platform_spark.queries.dq import _SUITE

        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.tracer, self.counters, self.work = tracer, counters, work
        self.events = events_table
        self.alert_path = str(work / "alerts")
        self.suite = list(_SUITE)
        self.suite_tables = {n: table(spark, data_dir, n)
                             for n in ("lineitem", "orders", "nation", "customer")}
        self.landings: list[tuple[str, list[dict]]] = []
        self.suite_answers: list[list[tuple]] = []
        self.batches: list[dict] = []
        self._listener = None

    def start_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append({"batch_id": p.batchId, "rows": p.numInputRows,
                                "ms": p.batchDuration, "ts": time.time()})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def stop_listener(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def pass_ops(self, index: int) -> list[Callable[[], OpResult]]:
        return [
            lambda: self._pipeline(index),
            lambda: self._resolve(index),
            lambda: self._suite(index),
            lambda: self._stream(index),
        ]

    # each op: time the public call, then check its answer -----------------
    def _timed(self, name: str, layer: str, kind: str, fn: Callable[[], Any]) -> Timed:
        tr, ctr = self.tracer, self.counters
        with tr.span(name, "op", kind=kind) as op_span:
            t = Timed(mark=ctr.mark() if ctr else None)
            t0 = time.perf_counter()
            with tr.span(kind, layer) as layer_span:
                try:
                    t.out = fn()
                except Exception as e:  # noqa: BLE001 — a failed op is counted
                    t.exc = e
            t.latency = time.perf_counter() - t0
            t.counters = ctr.since(t.mark) if ctr else None
        if op_span is not None:
            t.op_span, t.layer_span = op_span["id"], layer_span["id"]
        return t

    def _attach_jobs(self, t: Timed) -> None:
        """Traced run: the op's Spark jobs, once its stage or batch spans
        are recorded, so each job lands under the span it ran in."""
        if self.counters and t.op_span is not None:
            _job_spans(self.tracer, self.counters, t.mark, t.op_span)

    def _pipeline(self, cycle: int) -> OpResult:
        from enterprise_data_quality_platform_spark.plans.orchestration import StageFailure
        from enterprise_data_quality_platform_spark.plans.reference_pipelines import (
            validation_pipeline,
        )

        pipe = validation_pipeline(self.spark, self.data_dir, self.alert_path,
                                   inject_failure=True)
        stage_log: list[tuple[str, float, float]] = []
        if self.counters:  # traced run: time each stage from outside
            for st in pipe.stages:
                st.fn = _timed_stage(st.name, st.fn, stage_log)
        ctx: dict = {}
        t = self._timed(f"pipeline {cycle}", "plans", "pipeline", lambda: pipe.run(ctx))
        res = OpResult("pipeline", "pipeline", t.latency, counters=t.counters)
        problems = []
        if not (isinstance(t.exc, StageFailure) and t.exc.stage == "alert_and_gate"):
            problems.append(f"expected StageFailure at alert_and_gate, got {t.exc!r}")
        raw = ctx.get("validate_raw") or []
        if len(raw) != 4 or any(r.status != "pass" for r in raw):
            problems.append("raw gate did not pass")
        failed = sorted(r.check_name for r in ctx.get("transformed_results", [])
                        if r.status != "pass")
        if failed != ["nation whitelist"]:
            problems.append(f"failed checks {failed}")
        if ctx.get("alerts_written") != 2:  # one incident, two channels
            problems.append(f"alerts_written={ctx.get('alerts_written')}")
        errors = sum(r.status == "error" for r in
                     list(raw) + list(ctx.get("transformed_results", [])))
        if problems:
            res.ok, res.error = False, "; ".join(problems)[:300]
        if self.counters:
            res.counters["error_results"] = errors
            ups = {s.name: s.upstream for s in pipe.stages}
            durs: dict[str, float] = {}
            for name, s0, s1 in stage_log:
                durs[name] = durs.get(name, 0.0) + (s1 - s0)
                self.tracer.record(name, _STAGE_LAYER.get(name, "plans"), s0, s1,
                                   parent=t.layer_span)
            res.detail = {
                "stage_s": sum(durs.values()),
                "overhead_s": t.latency - critical_path(
                    {n: (ups[n], d) for n, d in durs.items()}),
                "transform_s": durs.get("transform", 0.0),
                "attempts": len(stage_log),
            }
        self._attach_jobs(t)
        return res

    def _resolve(self, cycle: int) -> OpResult:
        from enterprise_data_quality_platform_spark.alerts import AlertSink

        sink = AlertSink(self.spark, self.alert_path, service="validation-pipeline")
        t = self._timed(f"resolve {cycle}", "alerts", "resolve",
                        lambda: sink.resolve("nation whitelist"))
        self._attach_jobs(t)
        res = OpResult("resolve", "resolve", t.latency, counters=t.counters)
        if t.exc is not None or t.out != 1:
            res.ok, res.error = False, f"resolve returned {t.out!r} ({t.exc!r})"[:300]
        return res

    def _suite(self, cycle: int) -> OpResult:
        from enterprise_data_quality_platform_spark.checks import run_suite

        t = self._timed(f"suite {cycle}", "checks", "suite",
                        lambda: run_suite(self.suite_tables, self.suite))
        self._attach_jobs(t)
        res = OpResult("suite", "suite", t.latency, counters=t.counters)
        if t.exc is not None:
            res.ok, res.error = False, repr(t.exc)[:300]
            return res
        self.suite_answers.append(
            sorted((r.check_name, r.status, r.violations) for r in t.out))
        if t.counters is not None:
            t.counters["error_results"] = sum(r.status == "error" for r in t.out)
        return res

    def _stream(self, cycle: int) -> OpResult:
        from gen import events_slice

        from enterprise_data_quality_platform_spark.streaming.pipeline import (
            run_streaming_dq_gate,
        )

        land = self.work / "landing" / f"c{cycle}"
        events_slice(self.events, self.seed, cycle, STREAM_SLICE_ROWS, land)
        ckpt = str(self.work / "ckpt" / f"c{cycle}")
        n_before = len(self.batches)
        errors = [0]

        def count_errors(_batch_id, results):
            errors[0] += sum(r.status == "error" for r in results)

        t = self._timed(f"stream {cycle}", "streaming", "stream",
                        lambda: run_streaming_dq_gate(self.spark, str(land), stream_checks(),
                                                      on_batch_results=count_errors,
                                                      checkpoint_dir=ckpt))
        res = OpResult("stream", "stream", t.latency, counters=t.counters)
        if t.exc is not None:
            res.ok, res.error = False, repr(t.exc)[:300]
            return res
        summaries = t.out
        self.landings.append((str(land), summaries))
        if self.counters:  # batch spans from the listener, then the jobs
            deadline = time.time() + 5
            while len(self.batches) - n_before < len(summaries) and time.time() < deadline:
                time.sleep(0.01)
            mine = self.batches[n_before:]
            batch_s = sum(b["ms"] for b in mine) / 1e3
            rows = sum(b["rows"] for b in mine)
            off = time.time() - time.perf_counter()
            for b in mine:
                end = b["ts"] - off
                self.tracer.record(f"batch {b['batch_id']}", "batch",
                                   end - b["ms"] / 1e3, end, parent=t.layer_span)
            res.counters["error_results"] = errors[0]
            res.detail = {"batch_s": batch_s, "rows": rows,
                          "start_s": t.latency - batch_s}
        self._attach_jobs(t)
        return res

    def verify(self, results: list[OpResult]) -> list[str]:
        """Suite answers against the DuckDB twin of ``dq_suite_report``;
        each stream-gate summary against a batch ``run_suite`` of the same
        landing."""
        import duckdb

        from enterprise_data_quality_platform_spark.catalog import table
        from enterprise_data_quality_platform_spark.checks import run_suite
        from enterprise_data_quality_platform_spark.checks.runner import summarize
        from enterprise_data_quality_platform_spark.queries.registry import oracle_sqls

        wrong: list[str] = []
        con = duckdb.connect()
        for f in sorted(Path(self.data_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        expect = sorted(
            (c, s, None if v is None or (isinstance(v, float) and math.isnan(v)) else int(v))
            for c, s, v in con.execute(oracle_sqls(self.data_dir)["dq_suite_report"]).fetchall())
        con.close()
        suite_ops = [r for r in results if r.kind == "suite" and r.ok]
        for r, answer in zip(suite_ops, self.suite_answers):
            if answer != expect:
                r.ok, r.error = False, "suite differs from the DuckDB oracle"
                wrong.append("suite")
        stream_ops = [r for r in results if r.kind == "stream" and r.ok]
        keys = ("total", "passed", "failed", "failed_checks")
        for r, (land, summaries) in zip(stream_ops, self.landings):
            batch = summarize(run_suite({"events": table(self.spark, land, "events")},
                                        stream_checks()))
            got = [{k: s[k] for k in keys} for s in summaries]
            rows = sum(s["rows"] for s in summaries)
            if (got != [{k: batch[k] for k in keys}] or rows != STREAM_SLICE_ROWS):
                r.ok, r.error = False, f"stream gate {got} != batch {batch} ({rows} rows)"
                wrong.append("stream")
        return wrong

    def sink_stats(self) -> tuple[int, int]:
        import pyarrow.parquet as pq

        files = sorted(Path(self.alert_path).glob("*.parquet"))
        return len(files), sum(pq.ParquetFile(f).metadata.num_rows for f in files)


_STAGE_LAYER = {"validate_raw": "checks", "transform": "models",
                "validate_transformed": "checks", "alert_and_gate": "alerts"}


def _timed_stage(name: str, fn, log: list):
    """``Stage.fn`` wrapped to log each attempt's (name, start, end)."""
    def wrapped(ctx):
        s0 = time.perf_counter()
        try:
            return fn(ctx)
        finally:
            log.append((name, s0, time.perf_counter()))
    return wrapped

