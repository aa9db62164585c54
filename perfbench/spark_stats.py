"""Read Spark's own public status APIs for work done under a job group.

Everything here observes a session from outside: job ids come from the
status tracker for a job group the benchmark sets itself, stage metrics
from the application status store, and SQL node metrics and final
adaptive plans from the SQL status store. Nothing reaches into
``polla_spark``.
"""

from __future__ import annotations

import hashlib
import re
from contextlib import contextmanager

MB = 1024 * 1024

#: Stage counters summed per job group (status-store field -> our key).
STAGE_FIELDS = {
    "executorRunTime": "exec_run_ms",
    "executorCpuTime": "exec_cpu_ns",
    "jvmGcTime": "exec_gc_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "numTasks": "tasks",
}


def _jsc(spark):
    return spark.sparkContext._jsc.sc()


def _seq(spark, scala_seq) -> list:
    """A Scala collection as a Python list."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(scala_seq))


@contextmanager
def job_group(spark, group: str):
    """Tag every job started inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status stores hold the jobs that just finished."""
    _jsc(spark).listenerBus().waitUntilEmpty()


def group_counts(spark, group: str) -> dict:
    """Jobs, stages and summed stage counters of one job group.

    ``job_ms`` is the wall time during which at least one of the group's
    jobs ran (adaptive execution runs independent stages' jobs at once).
    """
    sc = spark.sparkContext
    store = _jsc(spark).statusStore()
    out = {"jobs": 0, "stages": 0, "job_ms": 0}
    out.update({k: 0 for k in STAGE_FIELDS.values()})
    stage_ids: set[int] = set()
    spans: list[tuple[int, int]] = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            spans.append((start.get().getTime(), end.get().getTime()))
        stage_ids.update(int(s) for s in _seq(spark, job.stageIds()))
    covered_to = None
    for start, end in sorted(spans):
        if covered_to is None or start > covered_to:
            out["job_ms"] += end - start
            covered_to = end
        elif end > covered_to:
            out["job_ms"] += end - covered_to
            covered_to = end
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a skipped stage has no attempt
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        for field, key in STAGE_FIELDS.items():
            out[key] += int(getattr(st, field)())
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def cached_bytes(spark) -> int:
    return sum(
        int(info.memSize()) + int(info.diskSize())
        for info in _jsc(spark).getRDDStorageInfo()
    )


def last_execution_id(spark) -> int:
    """Highest SQL execution id so far (-1 when none)."""
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [int(e.executionId()) for e in _seq(spark, store.executionsList())]
    return max(ids, default=-1)


_SIZE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}


def _metric_value(text: str) -> float:
    """A formatted SQL metric ('1,234' or 'total (...)\\n1.5 MiB (...)')
    as a number; sizes come back in bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.strip().replace(",", "").split()
    value = float(parts[0])
    if len(parts) > 1 and parts[1] in _SIZE:
        value *= _SIZE[parts[1]]
    return value


def _nodes(spark, after_execution_id: int, keep=lambda node: True):
    """(node, metric name -> formatted value) for every plan node that
    ``keep`` accepts, of every SQL execution newer than
    ``after_execution_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(spark, store.executionsList()):
        eid = int(ex.executionId())
        if eid <= after_execution_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(spark, store.planGraph(eid).allNodes()):
            if not keep(node):
                continue
            yield node, {m.name(): values.apply(m.accumulatorId())
                         for m in _seq(spark, node.metrics())
                         if values.contains(m.accumulatorId())}


def scanned_file_bytes(spark, after_execution_id: int, path_part: str) -> float:
    """Bytes of files that scans whose description names ``path_part``
    read, over every SQL execution newer than ``after_execution_id``."""
    return sum(
        _metric_value(metrics["size of files read"])
        for _node, metrics in _nodes(spark, after_execution_id,
                                     lambda node: path_part in node.desc())
        if "size of files read" in metrics
    )


def python_node_metrics(spark, after_execution_id: int) -> dict:
    """Rows and bytes through Python nodes (mapInPandas, Arrow UDFs) of
    every SQL execution newer than ``after_execution_id``."""
    out = {"py_rows_out": 0.0, "py_bytes_sent": 0.0, "py_bytes_recv": 0.0}
    for _node, metrics in _nodes(spark, after_execution_id):
        if "data sent to Python workers" not in metrics:
            continue
        for name, key in (
            ("number of output rows", "py_rows_out"),
            ("data sent to Python workers", "py_bytes_sent"),
            ("data returned from Python workers", "py_bytes_recv"),
        ):
            if name in metrics:
                out[key] += _metric_value(metrics[name])
    return out


_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"codegen id : \d+"), "codegen id"),
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"^Arguments: \d+\s*$", re.M), ""),
    # generated names and RDD ids carry session counters
    (re.compile(r"\b(_[A-Za-z]+(?:_[A-Za-z]+)*)_\d+\b"), r"\1_N"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def normalized_plan_hash(plan_text: str) -> str:
    """Hash of a final physical plan with expression ids, codegen ids,
    query-stage ids and other per-session counters removed, so two runs
    of one plan hash alike."""
    for pattern, repl in _PLAN_NOISE:
        plan_text = pattern.sub(repl, plan_text)
    return hashlib.sha256(plan_text.encode()).hexdigest()[:16]


def final_plan_hash(spark) -> str:
    """Normalized hash of the newest SQL execution's physical plan; after
    an action this is the final adaptive plan that ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    newest = max(_seq(spark, store.executionsList()), key=lambda e: int(e.executionId()))
    return normalized_plan_hash(newest.physicalPlanDescription())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
