"""Spark start and shutdown for one benchmark run.

The session is the engine's own, ``sbse.session.get_spark`` on ``local[4]``
with 4 shuffle partitions. The benchmark adds only where Spark, the JVM
and the Python workers write (the run's work directory) and, in a traced
run, the event log.
"""

from __future__ import annotations

import os
import subprocess

from perfbench.host import RssSampler

CORES = 4


def extra_conf(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start(work: str, trace: bool):
    """Start the session; return it and a sampler of its peak memory."""
    from pyspark import SparkContext

    from sbse.session import get_spark

    # get_spark ships sbse to the Python workers as a zip it writes outside
    # the run's directory unless the context says sbse is shipped already.
    # The workers import sbse from PYTHONPATH instead.
    SparkContext._sbse_shipped = True
    spark = get_spark(master=f"local[{CORES}]", app_name="sbse-perfbench",
                      shuffle_partitions=CORES,
                      extra_conf=extra_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    return spark, sampler


def stop(spark, sampler: RssSampler) -> float:
    """Stop Spark and the JVM, wait for it to exit; return peak RSS in MB."""
    from pyspark import SparkContext

    peak_mb = sampler.finish()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is stopped below regardless
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return peak_mb
