"""Process environment and Spark session lifecycle for one benchmark run.

Every file the run writes, Spark's and the JVM's scratch files
included, lands in the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

#: Session settings the benchmark adds to ``get_spark``'s defaults: no
#: console progress bars on stderr, nothing else.
EXTRA_CONF = {"spark.ui.showConsoleProgress": "false"}
DEFAULT_DRIVER_MEM = "4g"


def prepare_env(root: Path, work: Path) -> dict[str, str]:
    """Point every scratch location at ``work`` and size the session.

    The session takes its size from ``SPARK_GRAFT_CPUS`` (default: all
    cores) and ``SPARK_GRAFT_DRIVER_MEM`` (default 4g; the program's own
    24g default exceeds small boxes). Must run before pyspark or
    polla_spark is imported. Returns the session size.
    """
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + pythonpath if pythonpath else "")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"cores": os.environ["SPARK_GRAFT_CPUS"],
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def _identity(batches):
    yield from batches


def warm_up(spark) -> None:
    """Warm-up actions: one job, one Python worker per core, and the
    operator stack (exchange, hash aggregate, broadcast join, sort,
    window) on a data-independent plan, so the first timed operation
    does not pay first-use costs the others skip."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("sum(id)").collect()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    (spark.range(256).repartition(cores).mapInPandas(_identity, "id long")
     .write.format("noop").mode("overwrite").save())
    base = spark.range(4096).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    (base.groupBy("k").agg(F.sum("v").alias("s"))
     .join(F.broadcast(spark.range(97).withColumnRenamed("id", "k")), "k")
     .withColumn("rn", F.row_number().over(
         Window.partitionBy(F.col("k") % 7).orderBy(F.desc("s"))))
     .orderBy("rn", "k")
     .write.format("noop").mode("overwrite").save())


def start_session(app: str):
    """``get_spark`` plus the warm-up; returns (session, start_s, warmup_s)."""
    from polla_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=EXTRA_CONF)
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - any wait failure: kill and reap
            proc.kill()
            proc.wait(timeout=timeout)


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
