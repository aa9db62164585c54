"""The two workloads: one closed loop with a single client each.

``queries`` runs the frozen query sample at sf0.1 through
``plans.registry()[name].spark`` and a noop write. ``ingest`` runs one
``pipeline.run_pipeline_bulk`` backfill and then daily
``pipeline.run_pipeline`` calls over generated offline pages: publish
and skip runs, timed and weighted as the 3 and 4 runs of a week they
stand for. One checked quarantine run, for coverage, is part of the
untimed warm-up.

A *pass* is one run of the workload's operation list. An untraced run
makes one pass, then more only while another pass as long as the last
still fits in ``--seconds``, so the pass count does not flip with small
changes in speed. A traced run makes one *paired* pass instead: every
operation runs twice back to back, once untraced and once traced, the
order alternating from one operation to the next. The traced reps give
the per-layer numbers; traced minus untraced time is the tracing
overhead, free of the JIT warm-up that keeps speeding up later passes.
"""

from __future__ import annotations

import json
import math
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from . import inputs, queries, spark_stats
from .spark_stats import MB
from .trace import Tracer

#: Runs in the ingest workload's untimed warm-up backfill.
WARM_BULK_RUNS = 1_400
TRACED = ":traced"  # suffix of a traced rep's operation name


@dataclass
class Context:
    root: Path
    work: Path
    seed: int
    seconds: float
    trace: bool
    cores: int
    tracer: Tracer


@dataclass
class Outcome:
    """What a workload measured and checked."""

    passes: list[float] = field(default_factory=list)
    latencies: dict[str, list[float]] = field(default_factory=dict)
    untimed: dict[str, list[float]] = field(default_factory=dict)
    #: operations of a pass each kind stands for, where not 1
    weights: dict[str, int] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def record(self, op: str, seconds: float, error: str | None, timed: bool = True) -> None:
        """Count and check an operation; an untimed one (path coverage)
        stays out of every timing figure."""
        (self.latencies if timed else self.untimed).setdefault(op, []).append(seconds)
        self.attempted += 1
        if error:
            self.failures.append(f"{op}: {error}")

    def untraced(self) -> dict[str, list[float]]:
        return {op: xs for op, xs in self.latencies.items() if not op.endswith(TRACED)}


def _error(exc: BaseException) -> str:
    first = str(exc).splitlines()[0] if str(exc) else ""
    return f"{type(exc).__name__}: {first}"[:300]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_geomean(latencies: dict[str, list[float]], weights: dict[str, int]) -> float:
    """Geometric mean over the kinds of operation, each at its median
    latency and counted as often as ``weights`` says (default once)."""
    return geomean([statistics.median(xs) for op, xs in latencies.items()
                    for _ in range(weights.get(op, 1))])


def paired(i: int) -> tuple[bool, bool]:
    """Untraced-then-traced for even operations, the reverse for odd."""
    return (False, True) if i % 2 == 0 else (True, False)


def measure(ctx: Context, out: Outcome, run_pass) -> tuple[float, float] | None:
    """Untraced passes within ``ctx.seconds`` (at least one), or one
    paired pass in a traced run. ``run_pass(pass_no, pair)`` returns the
    untraced time, or (untraced, traced) times for a paired pass.
    Returns the latter."""
    if ctx.trace:
        untraced_s, traced_s = run_pass(0, True)
        out.passes.append(untraced_s)
        return untraced_s, traced_s
    t0 = time.perf_counter()
    out.passes.append(run_pass(0, False))
    while time.perf_counter() - t0 + out.passes[-1] <= ctx.seconds:
        out.passes.append(run_pass(len(out.passes), False))
    return None


def _group(spark, group: str, traced: bool):
    return spark_stats.job_group(spark, group) if traced else nullcontext()


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _python_profile_seconds(spark) -> float:
    """Total self time of Python UDF workers recorded by the ``perf``
    UDF profiler since the last call; clears the profiler."""
    results = spark._profiler_collector._perf_profile_results
    total = sum(st.total_tt for st in results.values() if st is not None)
    spark.profile.clear()
    return total


class QueriesWorkload:
    name = "queries"

    def prepare(self, ctx: Context) -> None:
        self._ctx, self._per_query = ctx, {}
        self.expected = queries.load_expected()

    @staticmethod
    def _warm(spark, reg) -> None:
        """Untimed: scan every table once and run the warm-up query."""
        for table in sorted(queries.DATA_DIR.glob("*.parquet")):
            spark.read.parquet(str(table)).count()
        reg[queries.WARMUP_QUERY].spark(spark, str(queries.DATA_DIR)) \
            .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    def _run_one(self, spark, reg, name: str, pass_no: int, out: Outcome,
                 traced: bool) -> float:
        """Builder plus noop write of one query; returns its latency."""
        from pyspark.sql import Observation

        tracer, sf = self._ctx.tracer, str(queries.DATA_DIR)
        op = f"{name}#{pass_no}{TRACED if traced else ''}"
        spark.catalog.clearCache()
        obs = Observation(f"fp_{name}")  # no pass number: it shows in the plan
        stats: dict = {}
        eid0 = spark_stats.last_execution_id(spark) if traced else 0
        if traced:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        t0 = time.perf_counter()
        root = None
        try:
            with tracer.span("query", "plans", op) if traced else nullcontext() as root:
                with tracer.span("build", "plans") if traced else nullcontext(), \
                        _group(spark, f"{op}:build", traced):
                    df = reg[name].spark(spark, sf)
                if traced:
                    stats["cached_bytes_build"] = spark_stats.cached_bytes(spark)
                    with tracer.span("plan", "plans"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("write", "plans") if traced else nullcontext(), \
                        _group(spark, f"{op}:write", traced):
                    (df.observe(obs, *queries.fingerprint_exprs(df))
                     .write.format("noop").mode("overwrite").save())
            seconds = time.perf_counter() - t0
            error = queries.check(name, queries.fingerprint(obs.get), self.expected)
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            seconds = time.perf_counter() - t0
            error = _error(exc)
        finally:
            if traced:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
        out.record(name + (TRACED if traced else ""), seconds, error)
        if self._ctx.trace:  # both reps of a pair, for plan flips
            spark_stats.drain(spark)
            stats["plan_hash"] = spark_stats.final_plan_hash(spark) if error is None else None
        if traced:
            stats.update(self._layer_stats(spark, op, eid0))
            stats["persisted_rdds_left"] = spark_stats.persisted_rdds(spark)
            stats["cached_bytes_write"] = spark_stats.cached_bytes(spark)
            if root is not None:
                root.attrs.update(stats)
        self._per_query.setdefault(name, []).append(
            {"seconds": seconds, "traced": traced, **stats})
        return seconds

    def _layer_stats(self, spark, op: str, eid0: int) -> dict:
        build = spark_stats.group_counts(spark, f"{op}:build")
        write = spark_stats.group_counts(spark, f"{op}:write")
        # a builder that raised leaves no plan or write span
        span = {s.name: s.seconds for s in self._ctx.tracer.spans if s.op == op}
        return {
            "construct_s": span["build"],
            "plan_s": span.get("plan", 0.0),
            "write_s": span.get("write", 0.0),
            "construct_jobs": build["jobs"],
            **{k: build[k] + write[k] for k in build},
            **spark_stats.python_node_metrics(spark, eid0),
            "py_self_s": _python_profile_seconds(spark),
        }

    def _pass(self, spark, reg, pass_no: int, out: Outcome, pair: bool):
        order = list(queries.WORKLOAD_QUERIES)
        inputs.rng(self._ctx.seed, "order", pass_no).shuffle(order)
        if not pair:
            return sum(self._run_one(spark, reg, n, pass_no, out, False) for n in order)
        times = {False: 0.0, True: 0.0}
        for i, name in enumerate(order):
            for traced in paired(i):
                times[traced] += self._run_one(spark, reg, name, pass_no, out, traced)
        return times[False], times[True]

    def run(self, ctx: Context, spark) -> Outcome:
        from polla_spark.plans import registry

        reg = registry()
        self._warm(spark, reg)
        out = Outcome()
        times = measure(ctx, out, lambda p, pair: self._pass(spark, reg, p, out, pair))
        if times:
            out.layers = self._layers(ctx, *times)
        out.detail = {"queries": {n: _query_detail(reps) for n, reps in self._per_query.items()}}
        out.extra = {"queries": len(queries.WORKLOAD_QUERIES), "sf": 0.1}
        return out

    def _layers(self, ctx: Context, untraced_s: float, traced_s: float) -> dict[str, float]:
        traced = [r for reps in self._per_query.values() for r in reps if r["traced"]]

        def total(key):
            return float(sum(r.get(key, 0) for r in traced))

        flips = sum(
            1 for reps in self._per_query.values()
            if len({r["plan_hash"] for r in reps if r.get("plan_hash")}) > 1
        )
        exec_run_s = total("exec_run_ms") / 1e3
        exec_cpu_s = total("exec_cpu_ns") / 1e9
        py_self = total("py_self_s")
        return {
            "plans.construct_s": total("construct_s"),
            "plans.construct_jobs": total("construct_jobs"),
            "plans.plan_s": total("plan_s"),
            "plans.plan_flips": float(flips),
            "plans.jobs": total("jobs"),
            "plans.stages": total("stages"),
            "plans.tasks": total("tasks"),
            "plans.exec_run_s": exec_run_s,
            "plans.exec_cpu_s": exec_cpu_s,
            "plans.exec_gc_s": total("exec_gc_ms") / 1e3,
            "plans.cpu_util": exec_cpu_s / (traced_s * ctx.cores),
            "plans.shuffle_read_mb": total("shuffle_read_bytes") / MB,
            "plans.shuffle_write_mb": total("shuffle_write_bytes") / MB,
            "plans.spill_mb": total("spill_bytes") / MB,
            "plans.input_mb": total("input_bytes") / MB,
            "plans.persisted_rdds_left": total("persisted_rdds_left"),
            "plans.cached_mb_peak": max(
                max(r.get("cached_bytes_build", 0), r.get("cached_bytes_write", 0))
                for r in traced) / MB,
            "plans.share_construct": total("construct_s") / traced_s,
            "plans.share_write": total("write_s") / traced_s,
            "functions.py_rows_out": total("py_rows_out"),
            "functions.py_mb_sent": total("py_bytes_sent") / MB,
            "functions.py_self_s": py_self,
            "functions.share_python": py_self / traced_s,
            "trace.overhead_s": traced_s - untraced_s,
        }


def _query_detail(reps: list[dict]) -> dict:
    secs = [r["seconds"] for r in reps]
    return {
        "reps_s": secs,
        "spread": max(secs) / min(secs) if min(secs) > 0 else None,
        "plan_hashes": [r.get("plan_hash") for r in reps],
        "traced": next((r for r in reps if r["traced"]), None),
    }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def _timed_loader(tracer: Tracer, name: str, fn, calls: list):
    def load(*args, **kwargs):
        with tracer.span(f"load:{name}", "sources"):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                calls.append(time.perf_counter() - t0)
    return load


class IngestWorkload:
    """Untraced and traced reps of a paired pass write to separate
    outputs and carry separate state, so both see the same history."""

    name = "ingest"

    def prepare(self, ctx: Context) -> None:
        self._ctx, self._decisions, self._day_stats = ctx, {}, []
        self._bulk_stats: dict = {}
        self.bulk = inputs.bulk_inputs(ctx.work / "inputs" / "bulk", ctx.seed)
        self.warm_bulk = inputs.bulk_inputs(ctx.work / "inputs" / "warm_bulk", ctx.seed,
                                            runs=WARM_BULK_RUNS)
        self.out_dir = ctx.work / "out"

    def _bulk(self, spark, bulk: inputs.Bulk, target: Path, out: Outcome | None,
              traced: bool) -> float:
        from polla_spark.pipeline import run_pipeline_bulk
        from polla_spark.schemas import SOURCE_PAYLOAD, STATE_ROW

        op = "bulk" + (TRACED if traced else "")
        eid0 = spark_stats.last_execution_id(spark) if traced else 0
        error = span = None
        t0 = time.perf_counter()
        try:
            with self._ctx.tracer.span("bulk", "pipeline", op) if traced else nullcontext() \
                    as span, _group(spark, op, traced):
                payload = spark.read.schema(SOURCE_PAYLOAD).parquet(str(bulk.payload))
                state = spark.read.schema(STATE_ROW).parquet(str(bulk.state))
                decisions = run_pipeline_bulk(spark, payload, expected_sources=2,
                                              output_dir=str(target), state_df=state)
            seconds = time.perf_counter() - t0
            error = _check_bulk(decisions.bulk_metrics, bulk, target)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted
            seconds = time.perf_counter() - t0
            error = _error(exc)
        if out is not None:
            out.record(op, seconds, error)
        if traced:
            spark_stats.drain(spark)
            self._bulk_stats = spark_stats.group_counts(spark, op)
            self._bulk_stats["scanned_bytes"] = spark_stats.scanned_file_bytes(
                spark, eid0, bulk.payload.name)
            self._bulk_stats["out_bytes"] = sum(
                p.stat().st_size for p in target.rglob("*") if p.is_file())
            if span is not None:
                span.attrs.update(self._bulk_stats)
        return seconds

    def _day(self, spark, day: inputs.Day, daily: Path, out: Outcome | None,
             traced: bool, timed: bool = True) -> float:
        from polla_spark.pipeline import run_pipeline
        from polla_spark.sources.pozos import get_pozo_openloto, get_pozo_polla

        tracer = self._ctx.tracer
        op = f"day_{day.status}" + (TRACED if traced else "")
        group = f"{op}#{len(self._day_stats)}"
        parse_calls: list[float] = []
        loaders = None
        if traced:
            loaders = {"openloto": _timed_loader(tracer, "openloto", get_pozo_openloto, parse_calls),
                       "polla": _timed_loader(tracer, "polla", get_pozo_polla, parse_calls)}
        error = span = None
        t0 = time.perf_counter()
        try:
            with tracer.span("daily_run", "pipeline", group) if traced else nullcontext() \
                    as span, _group(spark, group, traced):
                summary = run_pipeline(
                    spark,
                    source_overrides={"openloto": str(day.openloto), "polla": str(day.polla)},
                    raw_dir=daily / "raw",
                    normalized_path=daily / "normalized.jsonl",
                    comparison_report_path=daily / "comparison_report.json",
                    summary_path=daily / "run_summary.json",
                    state_path=daily / "state.jsonl",
                    loaders=loaders,
                )
            seconds = time.perf_counter() - t0
            error = _check_day(summary, daily / "normalized.jsonl", day)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted
            seconds = time.perf_counter() - t0
            error = _error(exc)
        if out is not None:
            out.record(op, seconds, error, timed)
            if not traced:
                self._decisions[day.status] = self._decisions.get(day.status, 0) + 1
        if traced:
            spark_stats.drain(spark)
            counts = spark_stats.group_counts(spark, group)
            counts["parse_s"], counts["parse_calls"] = sum(parse_calls), len(parse_calls)
            counts["wall_s"], counts["status"] = seconds, day.status
            self._day_stats.append(counts)
            if span is not None:
                span.attrs.update(counts)
        return seconds

    def _warm(self, spark, out: Outcome) -> None:
        """Untimed: a small backfill and one daily run, into their own
        outputs and state, so the measured pass finds the pipeline's code
        paths compiled (JIT, codegen) instead of timing their first use;
        then the quarantine run, checked and counted but not timed."""
        warm = self.out_dir / "warm"
        self._bulk(spark, self.warm_bulk, warm / "bulk", None, False)
        days = inputs.daily_pass(self._ctx.root, self._ctx.work / "inputs" / "warm_pages",
                                 self._ctx.seed, 0)
        self._day(spark, days[0], warm / "daily", None, False)
        for day in days:
            if day.status not in inputs.WEEK_RUNS:
                self._day(spark, day, warm / "daily", out, False, timed=False)

    def _chain(self, traced: bool) -> Path:
        return self.out_dir / ("traced" if traced else "untraced")

    def _pass(self, spark, pass_no: int, out: Outcome, pair: bool):
        """Pass time counts the daily runs as the runs of a week they
        stand for (``inputs.WEEK_RUNS``). A paired pass, twice as long
        per operation, takes only the first publish and skip day."""
        days = inputs.daily_pass(self._ctx.root, self._ctx.work / "inputs" / "pages",
                                 self._ctx.seed, pass_no)
        days = [d for d in days if d.status in inputs.WEEK_RUNS][:2 if pair else None]
        weights = inputs.week_weights([d.status for d in days])
        ops = [(1, lambda tr: self._bulk(spark, self.bulk, self._chain(tr) / "bulk", out, tr))]
        ops += [(w, lambda tr, d=d: self._day(spark, d, self._chain(tr) / "daily", out, tr))
                for w, d in zip(weights, days)]
        times = {False: 0.0, True: 0.0}
        for i, (weight, op) in enumerate(ops):
            for traced in paired(i) if pair else (False,):
                times[traced] += weight * op(traced)
        return (times[False], times[True]) if pair else times[False]

    def run(self, ctx: Context, spark) -> Outcome:
        out = Outcome(weights={f"day_{k}": n for k, n in inputs.WEEK_RUNS.items()})
        self._warm(spark, out)
        times = measure(ctx, out, lambda p, pair: self._pass(spark, p, out, pair))
        untraced = out.untraced()
        days = {op: xs for op, xs in untraced.items() if op.startswith("day_")}
        daily = [s for op, xs in days.items() for s in xs for _ in range(out.weights[op])]
        out.extra = {
            "bulk_runs": self.bulk.runs,
            "bulk_runs_per_s": self.bulk.runs / statistics.median(untraced["bulk"]),
            "daily_run_p50_s": statistics.median(daily),
            "daily_runs": sum(map(len, days.values())),
            "decisions": dict(self._decisions),
            "bulk_decisions": self.bulk.expected,
        }
        if times:
            out.layers = self._layers(*times, out)
        out.detail = {"days": self._day_stats, "bulk": self._bulk_stats}
        return out

    def _layers(self, untraced_s: float, traced_s: float, out: Outcome) -> dict[str, float]:
        days, bulk = self._day_stats, self._bulk_stats
        weight = inputs.week_weights([d["status"] for d in days])

        def week(key):  # over the week of runs the traced days stand for
            return sum(w * d[key] for w, d in zip(weight, days))

        def mean(key):
            return week(key) / sum(weight)

        return {
            "sources.parse_s": week("parse_s"),
            "sources.parse_calls": float(week("parse_calls")),
            "pipeline.jobs_per_run": mean("jobs"),
            "pipeline.stages_per_run": mean("stages"),
            "pipeline.exec_run_s_per_run": mean("exec_run_ms") / 1e3,
            "pipeline.driver_s_per_run": mean("wall_s") - mean("parse_s") - mean("job_ms") / 1e3,
            "pipeline.daily_run_p50_s": out.extra["daily_run_p50_s"],
            "pipeline.bulk_runs_per_s": out.extra["bulk_runs_per_s"],
            "pipeline.bulk_jobs": float(bulk["jobs"]),
            "pipeline.bulk_input_read_ratio":
                bulk["scanned_bytes"] / self.bulk.payload.stat().st_size,
            "pipeline.bulk_shuffle_write_mb": bulk["shuffle_write_bytes"] / MB,
            "pipeline.bulk_out_bytes_per_run": bulk["out_bytes"] / self.bulk.runs,
            "trace.overhead_s": traced_s - untraced_s,
        }

    def after_session(self, ctx: Context, out: Outcome) -> None:
        """Traced runs only: one fresh-process CLI run on the first day's
        pages, timed from process start to exit (JVM start included)."""
        day = inputs.daily_pass(ctx.root, ctx.work / "inputs" / "pages", ctx.seed, 0)[0]
        cli = self.out_dir / "cli"
        cmd = [sys.executable, "-m", "polla_spark", "run",
               "--source-url", f"openloto={day.openloto}",
               "--source-url", f"polla={day.polla}",
               "--raw-dir", str(cli / "raw"),
               "--normalized", str(cli / "normalized.jsonl"),
               "--comparison-report", str(cli / "comparison_report.json"),
               "--summary", str(cli / "run_summary.json"),
               "--state-file", str(cli / "state.jsonl")]
        t0 = time.perf_counter()
        with ctx.tracer.span("cli_run", "pipeline", "cli"):
            proc = subprocess.run(cmd, cwd=ctx.root, capture_output=True, text=True,
                                  timeout=120, check=False)
        seconds = time.perf_counter() - t0
        if proc.returncode != 0:
            error = f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}"
        else:
            error = _check_day(json.loads(proc.stdout), cli / "normalized.jsonl", day)
        out.record("cli_run", seconds, error)
        out.layers["pipeline.cli_cold_run_s"] = seconds


def _check_bulk(metrics: dict, bulk: inputs.Bulk, target: Path) -> str | None:
    got = {"publish": metrics["n_published"], "skip": metrics["n_skipped"],
           "quarantine": metrics["n_quarantined"]}
    if metrics["n_runs"] != bulk.runs or got != bulk.expected:
        return f"bulk decisions {metrics} != expected {bulk.expected}"
    missing = [d for d in ("normalized", "mismatches", "decisions")
               if not (target / d / "_SUCCESS").is_file()]
    return f"bulk outputs missing: {missing}" if missing else None


def _check_day(summary: dict, normalized: Path, day: inputs.Day) -> str | None:
    status = summary["decision"]["status"]
    if status != day.status:
        return f"decision {status} != {day.status}"
    record = json.loads(normalized.read_text(encoding="utf-8").splitlines()[0])
    if record["sorteo"] != day.sorteo:
        return f"sorteo {record['sorteo']} != {day.sorteo}"
    if record["pozos_proximo"] != day.amounts:
        return f"amounts {record['pozos_proximo']} != {day.amounts}"
    return None


WORKLOADS = {w.name: w for w in (QueriesWorkload, IngestWorkload)}
