"""Louvain community detection (Blondel et al. 2008) — modularity-gain label
moves + multilevel contraction, on the engine's existing kernels.

Relation to the rest of the engine: LP clustering (operators/labelprop.py,
reference kaminpar/coarsening/parallel_label_propagation.h) moves nodes to
the *heaviest* adjacent label under a size cap; Louvain moves them to the
adjacent community with the best **modularity gain**. Phase 2 (collapse
communities into super-nodes) is literally the engine's A1 contraction
(operators/contraction.py) — Louvain here is a thin quality-objective layer
over kernels the partitioner already exercises.

Exactness design: the textbook gain ΔQ = k_i,in/m − k_i·Σ_tot/(2m²) is a
float; choosing a move only needs the ORDER of gains, and for integer edge
weights  v(c) = 2m·k_i,in(c) − k_i·Σ_tot(c∖{i})  ranks candidates exactly in
int64 (gains cross-multiplied by the positive constant 2m²; v(own
singleton) = 0 is the removal baseline). Moves — and therefore the whole
clustering — are integer-deterministic, so the DuckDB oracle reproduces a
move step value-exact. Overflow bound: |v| ≤ (2m)² ⇒ safe to 2m ≈ 3e9
total weight; past that promote the two products to DECIMAL(38,0).

Synchronous-move caveat: simultaneous greedy moves oscillate on symmetric
structures (two singletons that each want the other's community swap
forever). A round therefore moves only nodes of one id-parity per step
(the distributed-Louvain coloring trick, same family as the reference LP's
two-phase tie-breaking) so each accepted move's gain is real against the
state it was evaluated on.

Scale shape per superstep: one J1 gather + one (node, comm) groupBy with
map-side partial agg + one community-scale Σ_tot aggregate + one struct-max
argmax — the LPA plan plus one small join. Contraction between levels keeps
each level's graph geometrically smaller; total work is a constant factor
over one LP clustering pass. Skew note: once a giant community forms, the
candidate→Σ_tot equi-join concentrates that community's candidate rows on
one reducer — the same heavy-label shape LPA has; at cluster scale leave AQE
on (library default) so its skew-join split handles it, exactly like the
LPA/balance paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.lineage import release, truncate


def louvain_move_step(
    graph: GraphFrame,
    comm: DataFrame,
    m2: int,
    parity: int | None = None,
    deg: DataFrame | None = None,
) -> DataFrame:
    """One synchronous gain-argmax move step over ``comm`` (id, comm) with
    ``m2`` = total half-edge weight (2m). Candidates per node: every adjacent
    community, the current one (tie-preferred), and the own-id singleton
    (the removal baseline). ``parity`` (0/1) freezes the other half of the
    nodes. ``deg`` (id, k) overrides the graph's weighted degrees — the
    multilevel driver passes the ORIGINAL degrees aggregated per super-node
    (the engine's contraction drops self-loops, so coarse-graph degrees
    would lose each community's internal mass and overstate merge gains).
    Returns the new (id, comm)."""
    if deg is None:
        deg = graph.degrees().select("id", F.col("weighted_degree").alias("k"))
    sigma = (
        comm.join(deg.hint("shuffle_hash"), "id")
        .groupBy("comm")
        .agg(F.sum("k").alias("sigma_tot"))
    )
    gathered = graph.gather(comm, ["comm"])
    # materialize kin ONCE: it feeds both the candidate-key union and the
    # value join — unmaterialized, Catalyst plans the m-scale gather subtree
    # twice per superstep (seen in .explain; the caller releases the blocks)
    kin = truncate(
        gathered.groupBy(F.col("dst").alias("id"), "comm").agg(
            F.sum("weight").alias("w_in")
        )
    )
    cur = comm.select("id", F.col("comm").alias("cur_comm"))
    cand_keys = (
        kin.select("id", "comm")
        .unionByName(comm.select("id", "comm"))
        .unionByName(comm.select("id", F.col("id").alias("comm")))
        .distinct()
    )
    cand = (
        cand_keys.join(kin.hint("shuffle_hash"), ["id", "comm"], "left")
        .join(sigma.hint("shuffle_hash"), "comm", "left")
        .join(deg.hint("shuffle_hash"), "id")
        .join(cur.hint("shuffle_hash"), "id")
    )
    is_cur = (F.col("comm") == F.col("cur_comm")).cast("long")
    score = F.coalesce("w_in", F.lit(0)) * F.lit(m2) - F.col("k") * (
        F.coalesce("sigma_tot", F.lit(0)) - is_cur * F.col("k")
    )
    best = (
        cand.select("id", "comm", "cur_comm", score.alias("v"), is_cur.alias("c"))
        .groupBy("id", "cur_comm")
        .agg(
            F.max(
                F.struct(F.col("v"), F.col("c"), (-F.col("comm")).alias("neg"))
            ).alias("b")
        )
        .select("id", "cur_comm", (-F.col("b.neg")).alias("new_comm"))
    )
    if parity is not None:
        pick = F.when(
            F.col("id") % 2 == parity, F.col("new_comm")
        ).otherwise(F.col("cur_comm"))
    else:
        pick = F.col("new_comm")
    return best.select(
        "id", pick.alias("comm"), F.col("cur_comm").alias("old_comm")
    )


def louvain_level(
    graph: GraphFrame,
    m2: int,
    rounds: int = 4,
    deg: DataFrame | None = None,
    runner=None,
    name: str = "louvain_level",
) -> DataFrame:
    """Phase 1 at one level: alternating-parity move steps from the singleton
    state. ``runner`` (plans.superstep.SuperstepRunner) makes every step a
    durable snapshot with lineage + moved-count metrics, resumable
    mid-iteration (parity rides the manifest's step index). Returns
    (id, comm)."""
    if deg is None:
        # hoist: degrees are loop-invariant (recomputing the degree agg per
        # step measured 2.8 s/superstep vs 1.9 at sf0.1)
        deg = truncate(
            graph.degrees().select("id", F.col("weighted_degree").alias("k"))
        )
    state = graph.nodes.select(
        "id", F.col("id").alias("comm"), F.col("id").alias("old_comm")
    )

    def step(s: DataFrame, i: int) -> DataFrame:
        return louvain_move_step(graph, s, m2, parity=i % 2, deg=deg)

    def metrics(new: DataFrame) -> dict:
        moved = new.agg(
            F.sum((F.col("comm") != F.col("old_comm")).cast("int")).alias("mv")
        ).first()["mv"]
        return {"moved": int(moved or 0)}

    from kaminpar_spark.plans.superstep import iterate

    # fixed step count (no ``converged``): a zero-move parity step does not
    # imply the OTHER parity is stable, so the loop never early-exits
    # (oracle lockstep)
    final = iterate(name, state, step, rounds * 2, metrics, runner=runner)
    return final.select("id", "comm")


def louvain(
    graph: GraphFrame, levels: int = 3, rounds: int = 4
) -> DataFrame:
    """Multilevel Louvain: phase-1 moves, contract communities (A1), recurse
    on the coarse graph. The gain arithmetic stays anchored to the ORIGINAL
    graph: m2 is the original 2m at every level, and each super-node's k is
    the sum of its members' original weighted degrees (2·internal +
    external) — the self-loop bookkeeping of textbook phase 2, carried as a
    degree table instead of self-loop edges (self-loop weight cancels out of
    every gain comparison once k is right, and the engine's contraction
    drops self-loops anyway). Returns (id, comm) on the ORIGINAL ids,
    communities relabeled to their minimum member id."""
    from kaminpar_spark.operators.contraction import contract

    g = graph
    m2 = graph.total_edge_weight()
    if m2 == 0:
        return graph.nodes.select("id", F.col("id").alias("comm"))
    k0 = truncate(
        graph.degrees().select("id", F.col("weighted_degree").alias("k"))
    )
    mapping = None  # original id -> current coarse id
    for _ in range(levels):
        if mapping is None:
            deg = k0
        else:
            deg = truncate(
                mapping.join(k0, "id")
                .groupBy(F.col("c_id").alias("id"))
                .agg(F.sum("k").alias("k"))
            )
        comm = louvain_level(g, m2, rounds=rounds, deg=deg)
        n_comms = comm.select("comm").distinct().count()
        n_nodes = g.num_nodes()
        res = contract(g, comm.select("id", F.col("comm").alias("cluster")))
        lvl_map = truncate(res.mapping)  # (id, c_id) at this level's ids
        if mapping is None:
            mapping = lvl_map
        else:
            old = mapping
            mapping = truncate(
                mapping.join(
                    lvl_map.withColumnRenamed("id", "c_prev").withColumnRenamed(
                        "c_id", "c_next"
                    ),
                    mapping.c_id == F.col("c_prev"),
                )
                .select("id", F.col("c_next").alias("c_id"))
            )
            release(old)
        g = res.coarse
        if n_comms >= n_nodes:
            break  # no merge happened; further levels are no-ops
    if mapping is None:
        return graph.nodes.select("id", F.col("id").alias("comm"))
    # canonical labels: min original member id per community
    canon = mapping.groupBy("c_id").agg(F.min("id").alias("comm"))
    return mapping.join(canon, "c_id").select("id", "comm")


def refine_disconnected(graph: GraphFrame, labels: DataFrame, max_iters: int = 50) -> DataFrame:
    """(id, comm, refined) — Leiden-style connectivity refinement: split every
    community into its connected pieces (refined = min node id within
    comm ∩ component). Louvain's known defect is internally-disconnected
    communities (Traag et al. 2019's motivating pathology); this pass
    guarantees each refined label is internally connected.

    Plan: one two-join filter to the community-induced edge subset, then the
    engine's own hash-to-min CC over that (strictly smaller) edge table —
    nodes with no intra-community edge stay singletons. No windows, no
    collect; CC supersteps converge in O(diameter of the largest community).
    """
    from kaminpar_spark.operators.components import connected_components

    ls = labels.select(F.col("id").alias("src"), F.col("comm").alias("c_src"))
    ld = labels.select(F.col("id").alias("dst"), F.col("comm").alias("c_dst"))
    intra = (
        graph.edges.join(ls.hint("shuffle_hash"), "src")
        .join(ld.hint("shuffle_hash"), "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .select("src", "dst", "weight")
    )
    cc = connected_components(
        GraphFrame(edges=intra, nodes=graph.nodes), max_iters=max_iters, two_phase=True
    )
    return labels.join(cc.hint("shuffle_hash"), "id").select(
        "id", "comm", F.col("comp").cast("long").alias("refined")
    )
