"""Self-tests of the benchmark; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
from pathlib import Path
from types import SimpleNamespace

import pytest

from perfbench import inputs, queries, run, workloads
from perfbench.trace import Tracer

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
END_TO_END = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]


def _ctx(tmp_path: Path) -> workloads.Context:
    return workloads.Context(ROOT, tmp_path, 1, 1.0, True, 4, Tracer(True))


def _query_layers(tmp_path: Path) -> dict[str, float]:
    w = workloads.QueriesWorkload()
    w.prepare(_ctx(tmp_path))
    rep = {k: 1.0 for k in (
        "construct_s", "plan_s", "write_s", "construct_jobs", "jobs", "stages", "tasks",
        "exec_run_ms", "exec_cpu_ns", "exec_gc_ms", "input_bytes", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "job_ms", "py_rows_out", "py_bytes_sent",
        "py_bytes_recv", "py_self_s", "persisted_rdds_left", "cached_bytes_build",
        "cached_bytes_write")}
    w._per_query = {"q": [{"seconds": 1.0, "traced": False, "plan_hash": "a"},
                          {"seconds": 1.2, "traced": True, "plan_hash": "b", **rep}]}
    return w._layers(_ctx(tmp_path), 1.9, 2.0)


def _ingest_layers(tmp_path: Path) -> dict[str, float]:
    w = workloads.IngestWorkload()
    payload = tmp_path / "payload.parquet"
    payload.write_bytes(b"x" * 100)
    w.bulk = inputs.Bulk(payload, payload, 4, {"publish": 2, "skip": 1, "quarantine": 1})
    w._day_stats = [{"jobs": 30, "stages": 40, "exec_run_ms": 900, "job_ms": 4000,
                     "parse_s": 0.02, "parse_calls": 2, "wall_s": 6.0, "status": "publish"},
                    {"jobs": 23, "stages": 33, "exec_run_ms": 800, "job_ms": 3000,
                     "parse_s": 0.02, "parse_calls": 2, "wall_s": 5.0, "status": "skip"}]
    w._bulk_stats = {"jobs": 5, "scanned_bytes": 300, "shuffle_write_bytes": 2048,
                     "out_bytes": 4096}
    out = workloads.Outcome(extra={"daily_run_p50_s": 6.0, "bulk_runs_per_s": 900.0})
    return w._layers(45.0, 50.0, out)


def test_every_declared_metric_is_printed_and_nothing_else(tmp_path):
    e2e = run.assemble(SPEC, False, [30.0], {"a": [1.0], "b": [2.0]}, (6.0, 8.0), 2000.0, {})
    assert list(e2e) == END_TO_END
    assert all(v["value"] > 0 for v in e2e.values())

    # per-layer names come from the two workloads plus what run.py and
    # the CLI step add; together they must be exactly the declared ones
    added = {"session.start_s", "session.warmup_s", "session.peak_rss_mb",
             "pipeline.cli_cold_run_s"}
    added |= {f"{layer}.self_s" for layer in run.LAYERS}
    q, i = _query_layers(tmp_path), _ingest_layers(tmp_path)
    assert set(q) | set(i) | added == set(PER_LAYER)
    for layers in (q, i):
        traced = run.assemble(SPEC, True, [], {}, (6.0, 8.0), 0.0, layers)
        assert list(traced) == PER_LAYER
    with pytest.raises(KeyError):
        run.assemble(SPEC, True, [], {}, (6.0, 8.0), 0.0, {"plans.undeclared": 1.0})


def test_plan_flip_counted(tmp_path):
    assert _query_layers(tmp_path)["plans.plan_flips"] == 1.0


def _tree_bytes(path: Path) -> dict[str, bytes]:
    return {str(p.relative_to(path)): p.read_bytes() for p in sorted(path.rglob("*"))
            if p.is_file()}


def test_generator_is_deterministic(tmp_path):
    def make(dirname: str, seed: int) -> dict[str, bytes]:
        base = tmp_path / dirname
        inputs.daily_pass(ROOT, base / "pages", seed, 0)
        inputs.daily_pass(ROOT, base / "pages", seed, 1)
        inputs.bulk_inputs(base / "bulk", seed, runs=700)
        return _tree_bytes(base)

    first, again, other = make("a", 7), make("b", 7), make("c", 8)
    assert first == again
    assert set(first) == set(other)
    assert all(first[k] != other[k] for k in first)


def test_generator_decision_mix(tmp_path):
    bulk = inputs.bulk_inputs(tmp_path, 3, runs=1400)
    assert bulk.expected == {"publish": 594, "skip": 792, "quarantine": 14}
    days = inputs.daily_pass(ROOT, tmp_path / "pages", 3, 0)
    assert [d.status for d in days] == list(inputs.DAY_PLAN)
    for before, day in zip(days, days[1:]):
        if day.status == "skip":  # a skip day repeats the day before it
            assert (day.openloto, day.sorteo) == (before.openloto, before.sorteo)
        else:
            assert day.sorteo == before.sorteo + 1
    assert set(inputs.WEEK_RUNS) | {"quarantine"} == set(inputs.DAY_PLAN)
    assert inputs.WEEK_RUNS == {"publish": 3, "skip": 4}  # three draws a week
    timed = [d.status for d in days if d.status != "quarantine"]
    assert inputs.week_weights(timed) == [1.5, 2.0, 1.5, 2.0]
    assert inputs.week_weights(timed[:2]) == [3.0, 4.0]  # a traced pass


def test_weights_count_a_day_as_the_week_runs_it_stands_for(tmp_path):
    latencies = {"bulk": [8.0], "day_publish": [2.0], "day_skip": [1.0]}
    weights = {"day_publish": 3, "day_skip": 4}
    assert math.isclose(workloads.op_geomean(latencies, weights), 2 ** 0.75)
    assert math.isclose(workloads.op_geomean({"a": [1.0, 9.0, 4.0], "b": [4.0]}, {}), 4.0)
    e2e = run.assemble(SPEC, False, [30.0], latencies, (6.0, 8.0), 0.0, {}, weights)
    assert math.isclose(e2e["op_geomean_s"]["value"], 2 ** 0.75)
    layers = _ingest_layers(tmp_path)
    assert math.isclose(layers["pipeline.jobs_per_run"], (3 * 30 + 4 * 23) / 7)
    assert math.isclose(layers["sources.parse_calls"], 14.0)  # two loaders a run


def test_untimed_operation_is_checked_but_not_timed():
    out = workloads.Outcome()
    out.record("day_publish", 2.0, None)
    out.record("day_quarantine", 3.0, "decision publish != quarantine", timed=False)
    assert out.attempted == 2 and len(out.failures) == 1
    assert out.latencies == {"day_publish": [2.0]}
    assert out.untimed == {"day_quarantine": [3.0]}


def test_failing_builder_in_a_traced_rep_is_counted(tmp_path, monkeypatch):
    """A builder that raises leaves no plan or write span; the traced rep
    must still yield its layer values and count as one failure."""
    stats = workloads.spark_stats
    counts = {k: 0 for k in ("jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ns",
                             "exec_gc_ms", "input_bytes", "shuffle_read_bytes",
                             "shuffle_write_bytes", "spill_bytes", "job_ms")}
    for name, value in (("last_execution_id", 0), ("drain", None), ("cached_bytes", 0),
                        ("persisted_rdds", 0), ("final_plan_hash", "h")):
        monkeypatch.setattr(stats, name, lambda *_a, v=value: v)
    monkeypatch.setattr(stats, "job_group", lambda *_a: workloads.nullcontext())
    monkeypatch.setattr(stats, "group_counts", lambda *_a: dict(counts))
    monkeypatch.setattr(stats, "python_node_metrics",
                        lambda *_a: {"py_rows_out": 0, "py_bytes_sent": 0, "py_bytes_recv": 0})
    monkeypatch.setattr(workloads, "_python_profile_seconds", lambda _spark: 0.0)

    def broken(_spark, _sf):
        raise RuntimeError("builder broke")

    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None),
                            conf=SimpleNamespace(set=lambda *_a: None, unset=lambda *_a: None))
    ctx = _ctx(tmp_path)
    w = workloads.QueriesWorkload()
    w.prepare(ctx)
    out = workloads.Outcome()
    reg = {"q": SimpleNamespace(spark=broken)}
    for traced in (False, True):
        w._run_one(spark, reg, "q", 0, out, traced)
    assert out.attempted == 2 and len(out.failures) == 2
    assert "builder broke" in out.failures[1]
    layers = w._layers(ctx, 1.0, 1.1)
    assert layers["plans.plan_s"] == 0.0 and layers["plans.share_write"] == 0.0
    assert layers["plans.construct_s"] > 0.0


def test_wrong_result_hash_counts_as_failure():
    expected = queries.load_expected()
    name = queries.WORKLOAD_QUERIES[0]
    good = {"rows": expected[name]["rows"], "hash": expected[name]["hash"]}
    assert queries.check(name, good, expected) is None
    bad = dict(good, hash=str(int(good["hash"]) + 1))
    out = workloads.Outcome()
    out.record(name, 1.0, queries.check(name, good, expected))
    out.record(name, 1.0, queries.check(name, bad, expected))
    assert out.attempted == 2 and len(out.failures) == 1
    line = json.loads(run.result_line(out.attempted, len(out.failures), {}))
    assert line["correct"] is False and line["failed"] == 1


def test_every_frozen_query_has_a_verified_oracle_record():
    expected = queries.load_expected()
    assert set(queries.WORKLOAD_QUERIES) <= set(expected)
    assert all(expected[n]["oracle_agrees"] for n in queries.WORKLOAD_QUERIES)
    assert set(queries.OLAP_QUERIES) | set(queries.CURATION_QUERIES) == set(queries.HEADLINE_ORDER)


def test_last_2000_chars_hold_the_workload_lines():
    metrics = {m["name"]: {"value": 12345.678901234567, "unit": m["unit"]}
               for m in SPEC["end_to_end"]}
    extra = {"bulk_runs": 28000, "bulk_runs_per_s": 2097.2805342029613,
             "daily_run_p50_s": 6.003321483000036, "daily_runs": 2,
             "decisions": {"publish": 1, "skip": 1, "quarantine": 1},
             "bulk_decisions": {"publish": 11880, "skip": 15840, "quarantine": 280}}
    for w in SPEC["workloads"]:
        stdout = "\n".join([
            "x" * 5000,
            run.context_line(w["name"], 123456789, 0, {"cores": "4", "driver_mem": "4g"},
                             1, 19, 0, extra, f".perfbench/{w['name']}-s123456789-t0/detail.json"),
            run.result_line(19, 0, metrics),
        ]) + "\n"
        tail = stdout[-2000:].splitlines()
        context, result = json.loads(tail[-2]), json.loads(tail[-1])
        assert context["workload"] == w["name"]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert list(result["metrics"]) == END_TO_END


def test_exits_nonzero_without_the_program(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC), encoding="utf-8")
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__", "data"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60, check=False)
    assert proc.returncode != 0
    assert proc.stdout == ""
