"""Operator counts in the executed plan of one superstep.

Walks the physical plan tree (AQE is off in the benchmark session, so the
executed plan is final) and counts shuffle exchanges, sort-merge joins, sort
aggregates, sorts and windows. ``edge_side_exchange`` counts exchanges that
re-shuffle the persisted edge layout: an ``Exchange`` whose input is the scan
of the cached edge table (it carries the ``salt`` column) through single-input
operators only, with no join or other exchange in between.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

COUNTED = {
    "Exchange": "exchanges",
    "SortMergeJoin": "smj",
    "SortAggregate": "sort_aggs",
    "Sort": "sorts",
    "Window": "windows",
}
SHAPE_KEYS = ["exchanges", "smj", "sort_aggs", "sorts", "windows", "edge_side_exchange"]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _is_edge_scan(node) -> bool:
    if node.nodeName() != "InMemoryTableScan":
        return False
    names = {a.name() for a in _seq(node.output())}
    return {"src", "dst", "salt"} <= names


def plan_shape(df: DataFrame) -> dict[str, int]:
    counts = dict.fromkeys(SHAPE_KEYS, 0)

    def walk(node) -> bool:
        """Returns whether ``node`` is the edge scan or reads it through
        single-input, non-exchange operators."""
        name = node.nodeName()
        key = COUNTED.get(name)
        if key:
            counts[key] += 1
        children = _seq(node.children())
        below = [walk(c) for c in children]
        if _is_edge_scan(node):
            return True
        chain = len(children) == 1 and below[0]
        if name == "Exchange":
            counts["edge_side_exchange"] += int(chain)
            return False
        return chain

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def superstep_shapes(spark, graph, n: int) -> dict[str, dict[str, int]]:
    """Plan shape of one ``pagerank_step``, one uncapped and one hard-capped
    ``lp_step`` and one ``cc_step`` on ``graph``, keyed by metric prefix."""
    from pyspark.sql import functions as F

    from kaminpar_spark.operators.components import cc_step
    from kaminpar_spark.operators.labelprop import lp_step
    from kaminpar_spark.operators.pagerank import init_ranks, pagerank_step
    from kaminpar_spark.plans.lineage import release, truncate

    ranks = truncate(init_ranks(graph, n))
    labels = truncate(graph.nodes.select("id", F.col("id").alias("label"), "weight"))
    blocks = truncate(graph.nodes.select("id", (F.col("id") % 4).alias("label"), "weight"))
    comps = truncate(graph.nodes.select("id", F.col("id").alias("comp")))
    caps = spark.createDataFrame([(b, n) for b in range(4)], "label long, capacity long")
    shapes = {
        "operators.pagerank.plan": plan_shape(pagerank_step(graph, ranks, n, dangling_mass=0.0)),
        "operators.labelprop.plan": plan_shape(lp_step(graph, labels)),
        "operators.labelprop.capped_plan": plan_shape(lp_step(graph, blocks, hard_caps=caps)),
        "operators.components.plan": plan_shape(cc_step(graph, comps)),
    }
    for df in (ranks, labels, blocks, comps):
        release(df)
    return shapes
