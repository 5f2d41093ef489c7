"""Spark session sizing from the host, shared by the bench and tool
scripts: one task slot per usable core and half of the host's memory for
the driver heap.  ``SPARK_GRAFT_CPUS`` overrides the core count."""

from __future__ import annotations

import os

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))
HEAP_GB = max(1, os.sysconf("SC_PAGE_SIZE")
              * os.sysconf("SC_PHYS_PAGES") // 2**31)
