"""Session lifecycle for one benchmark run.

The session comes from the program's own factory
(``ner_funtool_spark.session.get_spark``) at ``local[nproc]``; ``CONFS``
is every setting the benchmark adds on top, each with its reason.
"""

from __future__ import annotations

import os
import shutil
import subprocess

# conf -> (value template, reason).  {work} is the run's directory
# inside the checkout.
CONFS = {
    "spark.local.dir": (
        "{work}/spark-local",
        "shuffle and spill files stay inside the checkout"),
    "spark.driver.extraJavaOptions": (
        "-Dio.netty.tryReflectionSetAccessible=true "
        "-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "keeps the program's netty flag; JVM temp files stay inside the "
        "checkout, no hsperfdata file in /tmp"),
    "spark.driver.memory": (
        "2g",
        "the program's 16g default exceeds this 15 GB host; 2 GB holds "
        "every workload's data many times over"),
    "spark.ui.showConsoleProgress": (
        "false",
        "progress bars are stderr noise; no effect on execution"),
}


def start(root: str, work: str, cores: int):
    """SparkSession at local[cores] with workers importing the program
    from ``root``; all temp state under ``work``."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # the JVM that spark-submit runs first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    from ner_funtool_spark.session import get_spark

    extra = {k: v.format(work=work) for k, (v, _why) in CONFS.items()}
    return get_spark("perfbench", cores=cores, extra=extra)


def stop(spark) -> None:
    """Stop the session and wait until the JVM (and with it every
    Python worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
