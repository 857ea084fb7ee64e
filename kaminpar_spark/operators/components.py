"""Connected components (SURVEY.md A11 / I8).

Reference: sequential BFS labeling tool (apps/tools/graph_tools.cc:91-126).
Distributed re-expression: **hash-to-min** — every superstep each node takes
the min component id over {itself} ∪ neighbors; converges in O(diameter)
supersteps. For high-diameter graphs, ``connected_components(...,
two_phase=True)`` adds pointer-doubling on the label graph (min over the
*label's* current label), giving the large-star/small-star O(log n) behavior.

Convergence metric: moved = #nodes whose component changed (exact-match
correctness bar: component ids exact vs BFS oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame


def cc_step(graph: GraphFrame, state: DataFrame) -> DataFrame:
    """One hash-to-min superstep over state (id, comp)."""
    gathered = graph.gather(state, ["comp"])
    neigh_min = (
        gathered.select(F.col("dst").alias("id"), F.col("comp"))
        .groupBy("id")
        .agg(F.min("comp").alias("neigh_min"))
    )
    return (
        state.select("id", F.col("comp").alias("old_comp"))
        .join(neigh_min.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            F.least(F.col("old_comp"), F.coalesce("neigh_min", F.col("old_comp"))).alias(
                "comp"
            ),
            "old_comp",
        )
    )


def _pointer_double(state: DataFrame) -> DataFrame:
    """comp' = comp[comp] — path-halving on the label forest. The label table
    is keyed by id, so a self-join resolves one indirection per call."""
    labels = state.select(F.col("id").alias("lid"), F.col("comp").alias("lcomp"))
    return (
        state.select("id", "comp", "old_comp")
        .join(labels, state.comp == labels.lid, "left")
        .select(
            "id", F.coalesce("lcomp", "comp").alias("comp"), "old_comp"
        )
    )


def connected_components(
    graph: GraphFrame,
    max_iters: int = 50,
    runner=None,
    two_phase: bool = True,
    on_metrics=None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns (id, comp) where comp = min node id in the component.

    ``init_labels``: optional (id, comp) warm start — e.g. the converged
    labels of a previous snapshot's run. Hash-to-min is monotone in the
    label order, so any labeling where comp is a node id *within the same
    component* converges to the identical min-id fixpoint as a cold start;
    after a small edge delta it converges in O(diameter of the changed
    region) supersteps instead of O(diameter of the graph). Nodes absent
    from init_labels (new entrants) start as singletons."""
    from kaminpar_spark.plans.superstep import iterate

    if init_labels is None:
        state = graph.nodes.select(
            "id", F.col("id").alias("comp"), F.col("id").alias("old_comp")
        )
    else:
        prev = init_labels.select("id", F.col("comp").alias("prev_comp"))
        state = (
            graph.nodes.join(prev.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.coalesce("prev_comp", F.col("id")).alias("comp"),
                F.coalesce("prev_comp", F.col("id")).alias("old_comp"),
            )
        )

    def step(s: DataFrame, i: int) -> DataFrame:
        cur = cc_step(graph, s)
        return _pointer_double(cur) if two_phase else cur

    def metrics(new: DataFrame) -> dict:
        # one agg on the already-materialized state (not a filter+count job
        # with its own scan — the pagerank residual pattern)
        moved = new.agg(
            F.sum((F.col("comp") != F.col("old_comp")).cast("int")).alias("mv")
        ).first()["mv"]
        return {"moved": int(moved or 0)}

    def converged(m: dict) -> bool:
        return m["moved"] == 0

    final = iterate(
        "connected_components", state, step, max_iters, metrics, converged, runner, on_metrics
    )
    return final.select("id", "comp")


def largest_component(graph: GraphFrame, by_edges: bool = False) -> DataFrame:
    """Members (id) of the largest CC — the converter's 'extract largest CC'
    processor (apps/tools/converter/basic_processors.h:10-50)."""
    cc = connected_components(graph)
    if by_edges:
        sizes = (
            graph.edges.join(cc.withColumnRenamed("id", "src"), "src")
            .groupBy("comp")
            .agg(F.count("*").alias("sz"))
        )
    else:
        sizes = cc.groupBy("comp").agg(F.count("*").alias("sz"))
    top = sizes.orderBy(F.desc("sz"), F.asc("comp")).limit(1).select("comp")
    return cc.join(F.broadcast(top), "comp", "left_semi").select("id")


def bipartite_check(graph: GraphFrame, max_hops: int = 12) -> DataFrame:
    """(comp, n_nodes, conflict_edges, is_bipartite) — per-component odd-cycle
    detection (the classic graph-processor companion to connected
    components): 2-color each component by BFS parity from its root (the
    component's min-id node), then count edges whose endpoints share a color.
    A component is bipartite iff no such conflict edge exists.

    Composition of two existing green kernels — hash-to-min components and
    the SHARED multi-source BFS (one frontier join per round for every root
    at once; roots live in disjoint components, so the |S| x n state of the
    general kernel collapses to n reachable rows). ``max_hops`` bounds the
    BFS; components with radius > max_hops get a NULL verdict rather than a
    wrong one (unreached nodes are detected and the component flagged NULL).

    Exactness: colors are dist % 2 on exact BFS levels; all outputs int64 /
    bool — hash-checkable cross-engine."""
    from kaminpar_spark.operators.paths import multi_source_distances

    cc = connected_components(graph)
    roots = cc.select(F.col("comp").alias("id")).distinct()
    dist = multi_source_distances(graph, roots, max_hops=max_hops)
    colors = (
        dist.where(F.col("dist").isNotNull())
        .select("id", (F.col("dist") % 2).alias("color"))
        .groupBy("id")
        .agg(F.min("color").alias("color"))
    )
    st = cc.join(colors.hint("shuffle_hash"), "id", "left")
    ca = st.select(F.col("id").alias("src"), F.col("comp"), F.col("color").alias("col_a"))
    cb = st.select(F.col("id").alias("dst"), F.col("color").alias("col_b"))
    edge_verdict = (
        graph.edges.select("src", "dst")
        .where(F.col("src") < F.col("dst"))
        .join(ca.hint("shuffle_hash"), "src")
        .join(cb.hint("shuffle_hash"), "dst")
        .groupBy("comp")
        .agg(
            F.sum(
                (F.col("col_a").isNotNull() & (F.col("col_a") == F.col("col_b"))).cast("int")
            ).alias("conflict_edges"),
            F.sum((F.col("col_a").isNull() | F.col("col_b").isNull()).cast("int")).alias(
                "unreached_edges"
            ),
        )
    )
    sizes = st.groupBy("comp").agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("color").isNull().cast("int")).alias("unreached_nodes"),
    )
    return (
        sizes.join(edge_verdict.hint("shuffle_hash"), "comp", "left")
        .select(
            "comp",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("conflict_edges", F.lit(0)).cast("long").alias("conflict_edges"),
            F.when(
                (F.col("unreached_nodes") > 0)
                | (F.coalesce("unreached_edges", F.lit(0)) > 0),
                F.lit(None).cast("boolean"),
            )
            .otherwise(F.coalesce("conflict_edges", F.lit(0)) == 0)
            .alias("is_bipartite"),
        )
    )
