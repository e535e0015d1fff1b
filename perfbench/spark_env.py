"""Start and stop the benchmark's Spark session inside the run directory.

Everything Spark writes (shuffle and block files, the warehouse, JVM
temporary files and, in traced runs, the event log) lands under the run's
own directory. The session itself comes from the program's public
``serene_spark.session.get_spark``; the isolation settings reach it through
``PYSPARK_SUBMIT_ARGS`` and the environment.
"""

from __future__ import annotations

import os
import shlex
import subprocess


def configure(work: str, cpus: int, driver_memory: str, event_log: bool) -> None:
    """Set the environment ``get_spark`` starts the JVM from. Call before
    the first pyspark import starts a gateway."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides an inherited setting
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SERENE_SPARK_DRIVER_MEM"] = driver_memory
    os.environ["TMPDIR"] = tmp


def start(cpus: int):
    from serene_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gateway_proc():
    import sys

    if "pyspark" not in sys.modules:
        return None
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def jvm_pid() -> int | None:
    proc = _gateway_proc()
    return proc.pid if proc is not None else None


def stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    proc = _gateway_proc()
    spark.stop()
    if proc is None:
        return
    if proc.stdin is not None:  # the gateway JVM exits when its stdin closes
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def ensure_stopped() -> None:
    """End a gateway JVM left running by a run that failed part-way."""
    proc = _gateway_proc()
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait(timeout=30)
