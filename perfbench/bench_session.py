"""Start and stop the engine's Spark session the way a CLI user does.

``open_session`` is the benchmark's set-up: import the package, call
``get_spark`` and run one trivial job. Its duration is ``setup_s``.
``close_session`` stops the session and waits for the JVM to exit, so
no process outlives a run.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def session_conf(work: str) -> dict[str, str]:
    """Keep every file Spark writes under the benchmark's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def open_session(work: str):
    """``(spark, seconds)`` for import + ``get_spark`` + one trivial job."""
    conf = session_conf(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from c4_5decisiontreebasedonmapreduce_spark import get_spark

    spark = get_spark(app_name="c45-cli", extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def close_session(spark) -> None:
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
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)

