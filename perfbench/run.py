#!/usr/bin/env python3
"""polla-spark benchmark: one workload, one seed, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload {queries,ingest} --seed N \
        --seconds S --trace {0,1}

Workloads, metrics and bounds are declared in ``BENCHMARK.json``; the
metric names printed are exactly the ones declared there. With
``--trace 0`` the result carries the end-to-end metrics, measured with
tracing off; with ``--trace 1`` it carries the per-layer metrics of a
traced pass. Every operation's output is checked; the run exits 1 when
any check or operation failed, 2 when it cannot run here at all.

Stdout ends with two compact lines: a context line (seed, session size,
sample counts, decision mix, failed fraction) and the result line.
Per-operation detail and the spans of a traced run go to files under
``.perfbench/<run>/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

LAYERS = ("session", "plans", "sources", "pipeline")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def assemble(spec: dict, trace: bool, passes: list[float],
             latencies: dict[str, list[float]], setup: tuple[float, float],
             rss_mb: float, layers: dict[str, float],
             weights: dict[str, int] | None = None) -> dict[str, dict]:
    """The result's ``metrics`` object: exactly the metrics ``spec``
    declares for this mode, each with its unit."""
    from perfbench.workloads import op_geomean

    if trace:
        values = {
            "session.start_s": setup[0],
            "session.warmup_s": setup[1],
            "session.peak_rss_mb": rss_mb,
            **layers,
        }
        declared = spec["per_layer"]
    else:
        values = {
            "setup_s": sum(setup),
            "suite_s": statistics.median(passes),
            "op_geomean_s": op_geomean(latencies, weights or {}),
        }
        declared = spec["end_to_end"]
    names = {m["name"] for m in declared}
    unknown = set(values) - names
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared}


def context_line(workload: str, seed: int, trace: int, size: dict, passes: int,
                 attempted: int, failed: int, extra: dict, detail: str) -> str:
    """The compact line printed just before the result: what was run,
    on what session, with how many samples."""
    return json.dumps({
        "workload": workload, "seed": seed, "trace": trace,
        "session": f"local[{size['cores']}] {size['driver_mem']}",
        "samples": {"passes": passes, "ops": attempted},
        "failed_frac": failed / attempted, **extra, "detail": detail,
    })


def result_line(attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "polla_spark" / "__init__.py").is_file():
        print("perfbench: polla_spark not found; run from the repository root",
              file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text(encoding="utf-8"))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = harness.fresh_dir(root / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}")
    size = harness.prepare_env(root, work)

    from perfbench import spark_stats
    from perfbench.workloads import WORKLOADS, Context

    tracer = Tracer(bool(args.trace))
    ctx = Context(root, work, args.seed, args.seconds, bool(args.trace),
                  int(size["cores"]), tracer)
    workload = WORKLOADS[args.workload]()
    workload.prepare(ctx)

    spark = None
    try:
        with tracer.span("setup", "session", "setup"):
            spark, *setup = harness.start_session(f"perfbench-{args.workload}")
        out = workload.run(ctx, spark)
        rss_mb = spark_stats.peak_rss_mb(spark_stats.jvm_pid(spark))
    finally:
        if spark is not None:
            harness.stop_session(spark)
    if args.trace and hasattr(workload, "after_session"):
        workload.after_session(ctx, out)

    for layer, seconds in tracer.self_seconds().items():
        if layer in LAYERS:
            out.layers[f"{layer}.self_s"] = seconds
    metrics = assemble(spec, bool(args.trace), out.passes, out.latencies, tuple(setup),
                       rss_mb, out.layers, out.weights)
    failed = len(out.failures)
    detail = work / "detail.json"
    detail.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "setup": setup,
        "passes": out.passes, "latencies": out.latencies, "weights": out.weights,
        "untimed": out.untimed, "failures": out.failures,
        "layers": out.layers, **out.detail,
    }, indent=1, default=str), encoding="utf-8")
    if args.trace:
        tracer.dump(work / "spans.json")
    for failure in out.failures:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(context_line(args.workload, args.seed, args.trace, size, len(out.passes),
                       out.attempted, failed, out.extra,
                       str(detail.relative_to(root))))
    print(result_line(out.attempted, failed, metrics), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
