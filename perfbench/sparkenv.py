"""Start and stop the Spark session a workload runs on."""

from __future__ import annotations

import os
import subprocess


def start(work: str, cpus: int, app: str):
    """``session.get_spark`` on local[cpus], with the JVM's temp files
    kept in the run's work directory and no console progress bars."""
    from webgraph_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    return get_spark(master=f"local[{cpus}]", app_name=app, extra_conf=conf)


def stop(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for its JVM to
    exit; ``spark.stop()`` alone leaves the process running until the
    interpreter ends."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
