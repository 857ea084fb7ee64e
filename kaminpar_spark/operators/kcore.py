"""k-core decomposition (SURVEY.md A10).

Reference: apps/tools/graph_tools.cc:7-55 — iterative peeling: repeatedly
delete nodes with (weighted) degree < k, decrementing neighbors; the
degeneracy sweep raises k until the graph is empty.

Distributed re-expression:

- ``k_core_members``: the single-k peel is the same superstep skeleton as CC —
  recompute degrees (hash agg), anti-join the victims out of the edge table,
  repeat until fixpoint. Each round is O(m) with partial aggregation.

- ``core_numbers``: the full decomposition uses the **h-index fixpoint**
  (Lü et al., "The H-index of a network node", 2016): initialize c(v) =
  deg(v), then repeatedly set c(v) = H({c(u) : u ∈ N(v)}) — the largest h
  such that at least h neighbors have value >= h. The sequence is monotone
  non-increasing and converges to the core number. Each round is ONE gather +
  ONE window + ONE aggregate — O(convergence-depth) supersteps total,
  replacing round 1's driver loop over k with nested fixpoints (thousands of
  sequential Spark jobs at scale; VERDICT r1 'weak' item 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import release, truncate
from kaminpar_spark.plans.superstep import iterate


def k_core_members(
    graph: GraphFrame, k: int, weighted: bool = False, max_rounds: int = 200
) -> DataFrame:
    """(id) of nodes in the k-core: the maximal induced subgraph where every
    node has (weighted) degree >= k.

    One Spark job per peel round: the anti-join result is materialized by
    ``truncate`` and its (near-free, checkpoint-backed) row count doubles as
    the convergence probe — a victim always carries >=1 edge, so the
    half-edge count is unchanged iff no node was peeled. The previous
    ``victims.limit(1).count()`` probe recomputed the degree aggregate from
    scratch every round (VERDICT r2 minor)."""
    edges = truncate(graph.edges)
    prev_m = edges.count()
    deg_col = F.sum("weight") if weighted else F.count("*")
    for _ in range(max_rounds):
        deg = edges.groupBy("src").agg(deg_col.alias("d"))
        victims = deg.where(F.col("d") < k).select("src")
        new_edges = truncate(
            edges.join(victims, "src", "left_anti")
            .join(victims.withColumnRenamed("src", "dst"), "dst", "left_anti")
            .select("src", "dst", "weight")
        )
        # the peeled generation's checkpoint blocks are dead once the new
        # edge set is materialized — release them so max_rounds generations
        # of the edge table never pile up in the block manager
        release(edges)
        edges = new_edges
        m = edges.count()
        if m == prev_m:
            break
        prev_m = m
    return edges.select(F.col("src").alias("id")).distinct()


def onion_layers(graph: GraphFrame, rounds: int) -> DataFrame:
    """Onion decomposition (Hébert-Dufresne, Grochow & Allard, "Multi-scale
    structure and topological anomaly detection via a new network statistic:
    the onion decomposition", Sci. Rep. 6:31708, 2016) — a strict refinement
    of the k-core peel the reference exposes (apps/tools/graph_tools.cc:7-55):
    every peel pass gets its own layer index, giving per-node centrality at
    sub-core resolution.

    Round r: k ratchets to max(k, min remaining degree), then EVERY node with
    remaining degree <= k is removed and assigned layer r with core number k
    (nodes removed in the same pass share both). Fixed ``rounds`` for oracle
    lockstep; nodes not peeled within the budget are simply absent.

    Scale shape: each round is one hash aggregate for degrees (map-side
    partial agg), one O(1)-row scalar aggregate for the min-degree ratchet,
    and two anti-joins against the victim set — the same superstep skeleton
    as ``k_core_members``; no windows, no per-row Python. Returns
    (id, layer, core)."""
    nodes = truncate(graph.nodes.select("id"))
    edges = truncate(graph.edges.select("src", "dst"))
    out: DataFrame | None = None
    k: int | None = None
    for r in range(1, rounds + 1):
        d = edges.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed("src", "id")
        deg = nodes.join(d, "id", "left").select(
            "id", F.coalesce("d", F.lit(0)).cast("long").alias("d")
        )
        kmin = deg.agg(F.min("d")).first()[0]
        if kmin is None:
            break  # graph fully peeled
        k = int(kmin) if k is None else max(k, int(kmin))
        victims = truncate(deg.where(F.col("d") <= k).select("id"))
        layer_rows = victims.select(
            "id",
            F.lit(r).cast("int").alias("layer"),
            F.lit(k).cast("long").alias("core"),
        )
        out = layer_rows if out is None else out.unionByName(layer_rows)
        new_nodes = truncate(nodes.join(victims, "id", "left_anti"))
        new_edges = truncate(
            edges.join(victims.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(victims.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
        # superseded node/edge generations are dead; victims' blocks must
        # survive — the lazily-built ``out`` union still reads them
        release(nodes)
        release(edges)
        nodes, edges = new_nodes, new_edges
    if out is None:
        spark = graph.nodes.sparkSession
        return spark.createDataFrame([], "id long, layer int, core long")
    return out


def hindex_round(graph: GraphFrame, state: DataFrame) -> DataFrame:
    """One h-index superstep: c'(v) = H({c(u) : u ∈ N(v)}).

    Hub-safe shape (VERDICT r2 'weak' #3 — the previous per-dst row_number
    window sorted a 10^7-degree hub's whole gathered neighborhood inside one
    task every superstep):

    1. pre-aggregate the gather by (dst, c) — a pure hash agg with map-side
       partial aggregation, so a hub's neighborhood combines across tasks;
    2. clamp the distinct values at the node's CURRENT c (sound because the
       h-index sequence from c0=degree is monotone non-increasing, so
       H <= c_cur; clamping neighbors at any U >= H leaves H unchanged) and
       re-aggregate — the star-hub case collapses to O(1) rows per node;
    3. per-dst suffix-count scan over the DISTINCT clamped values only
       (<= min(#distinct neighbor values, c_cur+1) rows, never the raw
       degree): with value groups (v_i desc, cnt_i) and cumulative count
       cum_i, H = max_i min(v_i, cum_i) — identical to the sorted-rank
       identity max(min(value, rank)).

    Requires the monotone state invariant (c initialized at degrees, as
    core_numbers does). Nodes with no neighbors get 0. Returns
    (id, c, changed)."""
    gathered = graph.gather(state.select("id", "c"), ["c"])
    by_val = gathered.groupBy("dst", "c").agg(F.count("*").alias("cnt"))
    cur = state.select(F.col("id").alias("dst"), F.col("c").alias("c_cur"))
    grouped = (
        by_val.join(cur, "dst")
        .select("dst", F.least("c", "c_cur").alias("cv"), "cnt")
        .groupBy("dst", "cv")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = (
        Window.partitionBy("dst")
        .orderBy(F.desc("cv"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    h = (
        grouped.withColumn("cum", F.sum("cnt").over(w))
        .groupBy("dst")
        .agg(F.max(F.least(F.col("cv"), F.col("cum"))).alias("h"))
        .withColumnRenamed("dst", "id")
    )
    return state.select("id", F.col("c").alias("c_old")).join(h, "id", "left").select(
        "id",
        F.coalesce("h", F.lit(0)).cast("long").alias("c"),
        (F.coalesce("h", F.lit(0)) != F.col("c_old")).cast("int").alias("changed"),
    )


def core_numbers(
    graph: GraphFrame, rounds: int | None = None, max_rounds: int = 100
) -> DataFrame:
    """(id, core) — the largest k such that the node is in the k-core, via the
    h-index fixpoint (module docstring). ``rounds=N`` runs exactly N
    supersteps with no convergence probes (deterministic unrolled form for
    oracle parity); default iterates to fixpoint (values stop changing)."""
    fixpoint = rounds is None
    history: list[dict] = []
    final = iterate(
        "core_numbers",
        graph.degrees().select("id", F.col("degree").alias("c")),
        lambda s, i: hindex_round(graph, s),
        max_rounds if fixpoint else rounds,
        (lambda s: {"changed": s.agg(F.sum("changed")).first()[0] or 0}) if fixpoint else None,
        lambda m: m["changed"] == 0,
        on_metrics=lambda i, m: history.append(m),
    )
    if fixpoint and (not history or history[-1]["changed"] != 0):
        import logging

        logging.getLogger(__name__).warning(
            "core_numbers: h-index fixpoint NOT converged within max_rounds=%d "
            "— returned values upper-bound the true core numbers",
            max_rounds,
        )
    return final.select("id", F.col("c").alias("core"))
