"""Engine start-up and shut-down for the benchmark.

``boot`` is the set-up the benchmark times: registry import,
``session.get_spark`` and one warm-up action, in a fresh process.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_env(work: str, cpus: int, trace: bool) -> None:
    """Point every scratch location of Spark and Python at ``work``
    and size the session to the host; inherited by
    the JVM and its Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        # write executor summaries to the status store on every update,
        # so per-op deltas read after the listener bus drains are exact
        conf.append("--conf spark.ui.liveUpdate.period=0")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def boot(shuffle_partitions: int):
    """Registry import, get_spark and a warm-up action, each timed."""
    t0 = time.perf_counter()
    from etl_builder_spark.registry import _ensure_loaded

    _ensure_loaded()
    t1 = time.perf_counter()
    from etl_builder_spark.session import get_spark

    spark = get_spark("perfbench", shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "warmup_s": t3 - t2, "setup_s": t3 - t0}


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
