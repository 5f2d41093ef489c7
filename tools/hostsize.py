"""Spark session sizing from the host, shared by the bench and tool
scripts: one task slot per usable core and half of the host's memory for
the driver heap.  ``SPARK_GRAFT_CPUS`` overrides the core count."""

from __future__ import annotations

import os

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))
HEAP_GB = max(1, os.sysconf("SC_PAGE_SIZE")
              * os.sysconf("SC_PHYS_PAGES") // 2**31)


def spark_session(app: str, conf: dict[str, str] | None = None):
    """The tool scripts' local session: ``local[CPUS]``, two shuffle
    partitions per slot, AQE and Arrow on, a ``HEAP_GB`` driver heap and
    the UI off; ``conf`` adds or overrides settings."""
    from pyspark.sql import SparkSession
    b = (SparkSession.builder
         .master(f"local[{CPUS}]")
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(CPUS * 2))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", f"{HEAP_GB}g")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false"))
    for k, v in (conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
