import os
import sys

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_ROOT)
# Python workers spawned by the JVM need the same import path (closures in
# tests pickle by module reference)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO_ROOT, _TESTS_DIR, os.environ.get("PYTHONPATH", "")])

from pyspark.sql import SparkSession

# Test resources of the reference Versa checkout (uogbuji/versa), kept
# next to this repository.  Tests that read them carry ``needs_fixtures``
# and skip, with the reason shown under ``pytest -rs``, when it is absent.
REF_RES = os.path.join(os.path.dirname(_REPO_ROOT), "reference", "test",
                       "resource")
needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(REF_RES),
    reason=f"reference fixtures unavailable: no {REF_RES}")


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    s = (SparkSession.builder
         .master(f"local[{cpus}]")
         .appName("versa_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
    yield s
    s.stop()


# RELS_1 fixture mirrored from the reference test suite
# (/root/reference/test/py/test_memory.py:94-100) — the shared fixture all
# six reference driver test files use.
RELS_1 = [
    ("http://copia.ogbuji.net", "http://purl.org/dc/elements/1.1/creator",
     "Uche Ogbuji", {"@context": "http://copia.ogbuji.net#_metadata"}),
    ("http://copia.ogbuji.net", "http://purl.org/dc/elements/1.1/title",
     "Copia", {"@context": "http://copia.ogbuji.net#_metadata", "@lang": "en"}),
    ("http://uche.ogbuji.net", "http://purl.org/dc/elements/1.1/creator",
     "Uche Ogbuji", {"@context": "http://uche.ogbuji.net#_metadata"}),
    ("http://uche.ogbuji.net", "http://purl.org/dc/elements/1.1/title",
     "Uche's home", {"@context": "http://uche.ogbuji.net#_metadata", "@lang": "en"}),
    ("http://uche.ogbuji.net", "http://purl.org/dc/elements/1.1/title",
     "Ulo Uche", {"@context": "http://uche.ogbuji.net#_metadata", "@lang": "ig"}),
]


@pytest.fixture()
def rels1():
    return RELS_1


@pytest.fixture()
def no_ckpt(monkeypatch):
    """No-op DataFrame.localCheckpoint so a function's FULL physical
    plan stays inspectable in plan-shape tests (several operators
    eagerly checkpoint their results, which truncates the plan to a
    LogicalRDD scan — a block-lifecycle detail, not the plan shape
    under test)."""
    from pyspark.sql import DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as CDataFrame
    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True: self)
    monkeypatch.setattr(CDataFrame, "localCheckpoint",
                        lambda self, eager=True: self)


@pytest.fixture()
def no_auto_broadcast(spark):
    """Size-based auto-broadcast off (static and AQE), so a join plan
    shows BroadcastHashJoin only where an operator hinted it: the tiny
    local relations of a test would otherwise broadcast on stats alone
    and mask a missing hint."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, prev)
