"""Python eval nodes in the registry plans stay on a pinned allowlist.

A Python kernel is allowed only where Spark has no equivalent (or, for
the similarity projections and ``langid``, where the vectorized kernel
measurably beats the JVM form).  This test builds every
``__spark_entry__.queries()`` entry at sf0.001 and counts the Python
UDF applications in its optimized plan — plus the optimized plans of
every frame checkpointed while the query was built, because a
checkpoint truncates the final plan to a LogicalRDD scan and would hide
the nodes upstream of it.  A node is one UDF application (its result
id), so a subtree that several plans reference counts once.

Any Python node in a query outside ``ALLOWED``, or a count that differs
from the pinned one, fails.
"""

from __future__ import annotations

import os
import re

import pytest
from test_dataops import SF

ALLOWED = {
    # Versa rule semantics on LocalModel, per group
    "pipeline_histogram": {"FlatMapGroupsInPandas": 1},
    # trigram containment scoring: the JVM instr form measured 3–4× slower
    "langid": {"ArrowEvalPython": 1},
    # the matmul projection kernel: LSH signatures (corpus + queries)
    # and the IVF probe
    "ann_topk_all": {"ArrowEvalPython": 3},
    # the matmul projection kernel: one signature per LSH table
    "emb_dedup": {"ArrowEvalPython": 2},
    # real media decoders
    "media_meta": {"MapInPandas": 2},
    "media_transform": {"MapInPandas": 4},
}

_NODE = re.compile(r"^[\s:|+\-]*((ArrowEvalPython|BatchEvalPython|MapInPandas"
                   r"|FlatMapGroupsInPandas)\b.*)$", re.M)


def _python_nodes(plans) -> dict:
    """{node kind: number of distinct UDF applications} over ``plans``
    (optimized plan strings).  A UDF application prints as
    ``name(args)#<result id>`` before the node's output list."""
    seen = set()
    for plan in plans:
        for m in _NODE.finditer(plan):
            head = m.group(1).split("], [")[0]
            seen |= {(m.group(2), rid)
                     for rid in re.findall(r"\)#(\d+)", head)}
    counts: dict = {}
    for kind, _ in seen:
        counts[kind] = counts.get(kind, 0) + 1
    return counts


@pytest.mark.skipif(not os.path.isdir(SF),
                    reason=f"registry test data unavailable: no {SF}")
def test_python_nodes_only_on_allowlist(spark, monkeypatch):
    from pyspark.sql import DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as CDataFrame
    checkpointed = []

    def recording(orig):
        def wrapped(self, *args, **kwargs):
            checkpointed.append(
                self._jdf.queryExecution().optimizedPlan().toString())
            return orig(self, *args, **kwargs)
        return wrapped

    for cls in (DataFrame, CDataFrame):
        for meth in ("localCheckpoint", "checkpoint"):
            monkeypatch.setattr(cls, meth, recording(getattr(cls, meth)))
    import __spark_entry__

    found = {}
    for name, build in __spark_entry__.queries().items():
        checkpointed.clear()
        df = build(spark, SF)
        plans = checkpointed + [
            df._jdf.queryExecution().optimizedPlan().toString()]
        nodes = _python_nodes(plans)
        if nodes:
            found[name] = nodes
    assert found == ALLOWED
