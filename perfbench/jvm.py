"""Start and stop the benchmark's Spark sessions.

Every file a session writes (shuffle and spill scratch, the JVM's temp
files, the warehouse, the event log) lands under the work directory it
is given. Each benchmark process starts at most one session.
"""

from __future__ import annotations

import os
import subprocess


def start(app: str, work: str, heap: str, cores: int, extra: dict | None = None):
    """A ``local[cores]`` session with an explicit driver heap (the
    engine's session factory defaults to 16 GB, more than a small host
    has)."""
    from open_bus_gtfs_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    return get_spark(
        app_name=app, master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


def stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
