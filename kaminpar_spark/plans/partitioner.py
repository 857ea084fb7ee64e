"""Multilevel graph partitioner — the flagship pipeline (SURVEY.md §3.1).

Spark-native re-expression of the reference's coarsen -> initial-partition ->
uncoarsen+refine scheme (partitioning_scheme/parallel_recursive_bisection.cc):

coarsen   while n > 2*C and shrink > 5% (context.h:148-150):
             size-constrained LP clustering (I2, cap = F5 rule)
             + distributed contraction (A1); (mapping, level) checkpointed
initial   coarsest graph (n <= ~2C) collected to the driver — the ONLY
             collect() — and partitioned by the numpy portfolio + recursive
             bisection (plans/initial.py)
uncoarsen for each level in reverse: project (J2), LP-refine with HARD block
             caps (I3, gain-ordered capacity admission), then balancer (I4)
             if infeasible

Per-level metrics (edge cut, imbalance, n, m) are recorded in the lineage
list; the facade returns an (id, block) DataFrame.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

import pandas as pd

from kaminpar_spark.functions import rules
from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators import metrics as M
from kaminpar_spark.operators.balance import balance
from kaminpar_spark.operators.contraction import ContractionResult, contract
from kaminpar_spark.operators.labelprop import (
    label_propagation,
    lp_step,
    merge_singleton_clusters,
)
from kaminpar_spark.plans.initial import (
    SmallGraph,
    best_of_bisections,
    recursive_bisect,
)
from kaminpar_spark.plans.lineage import truncate
from kaminpar_spark.plans.superstep import iterate


def extension_plan(
    cur_k: int, desired_k: int, k_final: int, final_ks: list[int]
) -> tuple[list[int], list[int], list[int]]:
    """Per-block split counts, block offsets, and the extended final_ks.

    Reference semantics (helper.cc:158-163): the FINAL extension
    (desired_k == k_final) splits block b into its final_k(b) blocks; every
    INTERMEDIATE extension (desired_k a power of two < k_final) splits each
    block uniformly into desired_k / cur_k. Offsets are the prefix sums of
    the per-block counts (graph_utils.cc:63-99 copy_subgraph_partitions);
    the extended final_ks redistribute each block's final_k over its children
    via split_integral along the bisection tree (graph_utils.cc:43-60)."""
    assert len(final_ks) == cur_k and sum(final_ks) == k_final
    if desired_k >= k_final:
        sub_ks = list(final_ks)
    else:
        per = desired_k // max(1, cur_k)
        sub_ks = [max(1, min(per, fk)) for fk in final_ks]
    offs = [0]
    for kb in sub_ks:
        offs.append(offs[-1] + kb)
    new_final_ks: list[int] = []
    for kb, fk in zip(sub_ks, final_ks):
        new_final_ks.extend(rules.fill_final_k(kb, fk))
    assert sum(new_final_ks) == k_final
    return sub_ks, offs, new_final_ks


def extend_partition(
    graph: GraphFrame,
    part: DataFrame,
    cur_k: int,
    desired_k: int,
    epsilon: float,
    k_final: int,
    total_weight_root: int,
    seed: int = 42,
    final_ks: list[int] | None = None,
) -> DataFrame:
    """Deep-multilevel partition extension (helper.cc:87-176 extend_partition;
    schedule at parallel_recursive_bisection.cc:37-51): split every current
    block into its share of ``desired_k`` blocks by recursive bisection of the
    block-induced subgraph, carrying per-block ``final_ks`` so non-power-of-2
    targets split by the reference's split_integral bookkeeping instead of
    proportionally.

    Spark shape: the k' = 2^ceil(log2(n/C)) schedule guarantees each block
    holds ~C..4C nodes, so per-block subgraphs are driver-kernel sized WITHOUT
    being driver-collected: one cogrouped applyInPandas over (nodes-by-block,
    in-block-edges-by-block) runs the SAME numpy pool/bisection portfolio as
    the coarsest-graph initial partitioning, one independent Arrow batch per
    block — embarrassingly parallel, no global collect."""
    if desired_k <= cur_k:
        return part
    if final_ks is None:
        final_ks = rules.fill_final_k(cur_k, k_final)
    sub_ks, offs, _ = extension_plan(cur_k, desired_k, k_final, final_ks)

    nodes_b = graph.nodes.join(part, "id").select("id", "weight", "block")
    ps = part.select(F.col("id").alias("src"), F.col("block").alias("b_src"))
    pdd = part.select(F.col("id").alias("dst"), F.col("block").alias("b_dst"))
    edges_b = (
        graph.edges.select("src", "dst", "weight")
        .join(ps, "src")
        .join(pdd, "dst")
        .where(F.col("b_src") == F.col("b_dst"))
        .select(F.col("b_src").alias("block"), "src", "dst", "weight")
    )

    def kernel(key, nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(key[0])
        k_b = sub_ks[b]
        ids = nodes_pdf["id"].to_numpy(dtype=np.int64)
        if k_b <= 1 or len(ids) == 0:
            return pd.DataFrame({"id": ids, "block": np.full(len(ids), offs[b], dtype=np.int32)})
        nw = nodes_pdf["weight"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids, nw = ids[order], nw[order]
        remap_idx = np.searchsorted(ids, edges_pdf["src"].to_numpy(dtype=np.int64))
        remap_dst = np.searchsorted(ids, edges_pdf["dst"].to_numpy(dtype=np.int64))
        sub = SmallGraph.from_edges(
            len(ids), remap_idx, remap_dst, edges_pdf["weight"].to_numpy(dtype=np.int64), nw
        )
        labels = recursive_bisect(
            sub, k_b, epsilon, seed=seed + b,
            k_final=k_final, total_weight_root=total_weight_root,
            final_k=final_ks[b],
        )
        return pd.DataFrame(
            {"id": ids, "block": (offs[b] + labels).astype(np.int32)}
        )

    return (
        nodes_b.groupBy("block")
        .cogroup(edges_b.groupBy("block"))
        .applyInPandas(kernel, "id long, block int")
    )


@dataclass
class PartitionResult:
    partition: DataFrame  # (id, block)
    k: int
    epsilon: float
    cut: int
    imbalance: float
    feasible: bool
    levels: list[dict] = field(default_factory=list)


class Partitioner:
    """Library facade (reference analog: library/libkaminpar.h:22-59
    PartitionerBuilder -> partitioner.partition(k))."""

    def __init__(
        self,
        graph: GraphFrame,
        spark: SparkSession | None = None,
        contraction_limit: int = 2000,
        lp_iters: int = 5,
        refine_iters: int = 5,
        seed: int = 42,
        scheme: str = "deep",
        max_num_neighbors: int | None = None,
        large_degree_threshold: int | None = None,
        convergence_threshold: float = 0.05,
        cluster_weight_limit: str = "epsilon-block-weight",
        cluster_weight_multiplier: float = 1.0,
        ip_replications: int = 3,
        ip_replication_threads: int = 2,
        coarsener: str = "lp",
    ):
        """``scheme='deep'`` (default) mirrors the reference's deep multilevel
        scheme: bisect the coarsest graph to k' = 2^ceil(log2(n/C)) only, then
        EXTEND the partition level by level during uncoarsening (refining at
        every intermediate k). ``scheme='rb'`` is the round-1 behavior —
        recursive bisection to the final k at the coarsest graph.

        Reference tuning knobs (arguments.h:11-35 coarsening options):

        - ``max_num_neighbors``: coarsening LP rates at most this many
          neighbors per node (--c-lp-max-num-neighbors); implemented as a
          capped gather-side edge view (operators.preprocess.cap_neighbors).
        - ``large_degree_threshold``: nodes above this degree are not rated
          during coarsening — they keep their own cluster, though others may
          still join them (--c-lp-large-degree-threshold).
        - ``convergence_threshold``: coarsening stops once a level shrinks by
          less than this factor (--c-convergence-threshold; reference default
          0.05, context.h:148-150).
        - ``cluster_weight_limit`` in {"epsilon-block-weight", "block-weight",
          "one", "zero"} x ``cluster_weight_multiplier`` — the rule for the
          soft cluster cap during coarsening (--c-cluster-weight-limit;
          "zero" disables the cap like the reference's ZERO).
        - ``ip_replications``: deep-IP replication (E9,
          parallel_initial_partitioner.cc:11-69): run the coarsest-graph
          bisection portfolio R times with distinct seeds, keep the best by
          (feasible, cut).
        - ``ip_replication_threads``: thread budget for the split-and-join
          replica TREE inside each portfolio member (replicated_bipartition;
          copies rule helper.cc:211-227) — replicas fork MID-coarsening and
          the best bisection wins at each join. 1 disables the tree (single
          sequential chain per bisection); the coarsest graph is
          driver-sized, so the default 2 costs at most ~2x the sequential
          initial partition and buys back quality variance on unlucky
          clusterings."""
        self.graph = graph
        self.spark = spark or SparkSession.getActiveSession()
        self.contraction_limit = contraction_limit
        self.lp_iters = lp_iters
        self.refine_iters = refine_iters
        self.seed = seed
        assert scheme in ("deep", "rb")
        self.scheme = scheme
        self.max_num_neighbors = max_num_neighbors
        self.large_degree_threshold = large_degree_threshold
        self.convergence_threshold = convergence_threshold
        assert cluster_weight_limit in (
            "epsilon-block-weight", "block-weight", "one", "zero",
        )
        self.cluster_weight_limit = cluster_weight_limit
        self.cluster_weight_multiplier = cluster_weight_multiplier
        # "lp" (reference default: size-constrained LP clustering) or "hem"
        # (heavy-edge matching, the METIS-family alternative; halves at most
        # per level, so expect more levels; over-cap pairs are split back to
        # singletons to respect the cluster weight rule)
        assert coarsener in ("lp", "hem")
        self.coarsener = coarsener
        self.ip_replications = max(1, ip_replications)
        self.ip_replication_threads = max(1, ip_replication_threads)

    def _cluster_cap(self, epsilon: float, total_w: int, n: int, k: int) -> int | None:
        if self.cluster_weight_limit == "zero":
            return None
        if self.cluster_weight_limit == "one":
            base = 1
        elif self.cluster_weight_limit == "block-weight":
            base = rules.max_cluster_weight_block(epsilon, total_w, k)
        else:
            base = rules.max_cluster_weight_epsilon_block(
                epsilon, total_w, n, self.contraction_limit, k
            )
        return max(1, int(base * self.cluster_weight_multiplier))

    # ------------------------------------------------------------- pipeline
    def partition(self, k: int, epsilon: float = 0.03) -> PartitionResult:
        g = self.graph
        total_w = g.total_node_weight()
        max_node_w = g.max_node_weight()
        cap = rules.max_block_weight(total_w, k, epsilon, max_node_w)
        levels: list[dict] = []

        # ---- coarsen ----
        hierarchy: list[DataFrame] = []  # mappings fine->coarse per level
        level_graphs: list[GraphFrame] = []  # graph each mapping projects back to
        level_ns: list[int] = []  # n of the fine graph per level
        n = g.num_nodes()
        t0 = time.time()
        while n > 2 * self.contraction_limit:
            cluster_cap = self._cluster_cap(epsilon, total_w, n, k)
            # rating view: neighbor-scan cap bounds per-node work during LP
            # (the state/metrics still see the full graph)
            rating_g = g
            if self.max_num_neighbors is not None:
                from kaminpar_spark.operators.preprocess import cap_neighbors

                rating_g = cap_neighbors(g, self.max_num_neighbors)
                rating_g = GraphFrame(edges=truncate(rating_g.edges), nodes=g.nodes)
            if self.coarsener == "hem":
                from kaminpar_spark.operators.matching import matching_clustering

                clustering = matching_clustering(rating_g, rounds=self.lp_iters)
                if cluster_cap is not None:
                    # split over-cap pairs back to singletons (both members
                    # self-map, preserving the leader invariant)
                    wsum = (
                        clustering.join(g.nodes, "id")
                        .groupBy("cluster")
                        .agg(F.sum("weight").alias("cw"))
                    )
                    clustering = truncate(
                        clustering.join(wsum, "cluster").select(
                            "id",
                            F.when(F.col("cw") > cluster_cap, F.col("id"))
                            .otherwise(F.col("cluster"))
                            .alias("cluster"),
                        )
                    )
            else:
                clustering = label_propagation(
                    rating_g,
                    max_iters=self.lp_iters,
                    max_cluster_weight=cluster_cap,
                    semi_sync=True,
                    name=f"coarsen_lp_{len(hierarchy)}",
                ).withColumnRenamed("label", "cluster")
            if self.large_degree_threshold is not None:
                # high-degree nodes are not rated: undo any move they made
                # (others may still have joined their cluster)
                deg = g.degrees().select("id", "degree")
                clustering = truncate(
                    clustering.join(deg, "id").select(
                        "id",
                        F.when(
                            F.col("degree") > self.large_degree_threshold, F.col("id")
                        )
                        .otherwise(F.col("cluster"))
                        .alias("cluster"),
                    )
                )
            # escape hatch (I2): caps can stall LP on hub-heavy graphs — if
            # the clustering shrank < 50%, pair leftover singletons by their
            # favored cluster (coarsener.h:74-76 should_merge threshold)
            n_clusters = clustering.select("cluster").distinct().count()
            if n_clusters > 0.5 * n:
                clustering = truncate(merge_singleton_clusters(g, clustering))
            res = contract(g, clustering)
            # localCheckpoint returns a NEW DataFrame — truncate the coarse
            # graph's lineage or every level chains all previous supersteps
            coarse = GraphFrame(
                edges=truncate(res.coarse.edges),
                nodes=truncate(res.coarse.nodes),
            )
            res = ContractionResult(coarse=coarse, mapping=res.mapping)
            mapping = truncate(res.mapping)
            n_new = res.coarse.num_nodes()
            levels.append(
                {
                    "stage": "coarsen",
                    "level": len(hierarchy),
                    "n": n_new,
                    "m": res.coarse.num_half_edges(),
                    "wall_sec": round(time.time() - t0, 3),
                }
            )
            t0 = time.time()
            hierarchy.append(mapping)
            level_graphs.append(g)
            level_ns.append(n)
            # shrink below convergence_threshold -> stop (context.h:148-150)
            stalled = n_new >= (1.0 - self.convergence_threshold) * n
            g = res.coarse
            n = n_new
            if stalled:
                break

        # ---- initial partition (driver-side) ----
        # deep scheme: bisect the coarsest graph only to k0 = deep_k_prime
        # (usually 2); the remaining blocks are created during uncoarsening
        # (compute_k_for_n, helper.cc:205-209). rb scheme: full k here.
        k0 = (
            rules.deep_k_prime(n, self.contraction_limit, k)
            if self.scheme == "deep"
            else k
        )
        sg, ids = self._collect_small(g)
        labels = best_of_bisections(
            sg, k0, epsilon,
            seeds=[self.seed + 7919 * r for r in range(self.ip_replications)],
            k_final=k, total_weight_root=total_w, final_k=k,
            replication_threads=self.ip_replication_threads,
        )
        part = self.spark.createDataFrame(
            [(int(i), int(b)) for i, b in zip(ids, labels)], "id long, block int"
        )
        cur_k = k0
        # per-block final-block bookkeeping (graph_utils.cc:43-60)
        final_ks = rules.fill_final_k(k0, k)
        levels.append(
            {
                "stage": "initial",
                "n": int(sg.n),
                "k": cur_k,
                "cut": int(_np_cut(sg, labels)),
                "wall_sec": round(time.time() - t0, 3),
            }
        )

        # per-block caps follow final_k shares (context.cc:114-130)
        def caps_for(fks: list[int]) -> list[int]:
            return [
                rules.max_block_weight_final_k(total_w, k, fkb, epsilon, max_node_w)
                for fkb in fks
            ]

        # ---- uncoarsen + (extend) + refine ----
        for li in range(len(hierarchy) - 1, -1, -1):
            t0 = time.time()
            mapping, fine_g = hierarchy[li], level_graphs[li]
            part = mapping.join(
                part.select(F.col("id").alias("c_id"), "block"), "c_id"
            ).select("id", "block")
            part = self._refine(fine_g, part, cur_k, caps_for(final_ks))
            if self.scheme == "deep":
                desired = rules.deep_k_prime(level_ns[li], self.contraction_limit, k)
                if cur_k < desired:
                    _, _, new_final_ks = extension_plan(cur_k, desired, k, final_ks)
                    part = truncate(
                        extend_partition(
                            fine_g, part, cur_k, desired, epsilon, k, total_w,
                            seed=self.seed, final_ks=final_ks,
                        )
                    )
                    final_ks = new_final_ks
                    cur_k = len(final_ks)
                    part = self._refine(fine_g, part, cur_k, caps_for(final_ks))
            levels.append(
                {"stage": "uncoarsen", "level": li, "k": cur_k,
                 "wall_sec": round(time.time() - t0, 3)}
            )

        # final extension to k (parallel_recursive_bisection.cc:27-30)
        if cur_k < k:
            part = truncate(
                extend_partition(
                    self.graph, part, cur_k, k, epsilon, k, total_w,
                    seed=self.seed, final_ks=final_ks,
                )
            )
            part = self._refine(self.graph, part, k, [cap] * k)

        part = truncate(part)
        q = M.quality(self.graph, part, k, epsilon)
        return PartitionResult(
            partition=part,
            k=k,
            epsilon=epsilon,
            cut=q.cut,
            imbalance=q.imbalance,
            feasible=q.feasible,
            levels=levels,
        )

    # ------------------------------------------------------------- helpers
    # Hard ceiling for the driver-side initial partitioning: the coarsening
    # loop can stop on a <5% shrink stall with the graph still large, and an
    # unconditional collect() would then OOM the driver silently. ~4M nodes
    # of (id, weight) rows is low hundreds of MB driver-side — safe under the
    # 16g default, and far above any non-degenerate coarsest graph (2*C=4000).
    MAX_COLLECT_NODES = 4_000_000
    # A stalled coarsest graph near the node ceiling can still carry 10^8+
    # half-edges (VERDICT r2 'weak' #2) — bound the edge side too. 64M rows of
    # (src, dst, weight) int64 is ~1.5 GB via Arrow, safe under the driver's
    # default heap and far above any non-degenerate coarsest graph.
    MAX_COLLECT_HALF_EDGES = 64_000_000

    def _collect_small(self, g: GraphFrame) -> tuple[SmallGraph, np.ndarray]:
        n = g.num_nodes()
        if n > self.MAX_COLLECT_NODES:
            raise RuntimeError(
                f"coarsest graph has {n:,} nodes (> {self.MAX_COLLECT_NODES:,}); "
                "coarsening stalled far above the contraction limit — raise "
                "lp_iters / cluster caps or the collect ceiling instead of "
                "collecting a distributed graph to the driver"
            )
        m = g.num_half_edges()
        if m > self.MAX_COLLECT_HALF_EDGES:
            raise RuntimeError(
                f"coarsest graph has {m:,} half-edges "
                f"(> {self.MAX_COLLECT_HALF_EDGES:,}); coarsening stalled on a "
                "dense graph — raise lp_iters / cluster caps or the collect "
                "ceiling instead of collecting a distributed graph to the driver"
            )
        # Arrow-batched transfers (toPandas), not Python Row lists
        nodes = g.nodes.select("id", "weight").orderBy("id").toPandas()
        ids = nodes["id"].to_numpy(dtype=np.int64)
        nw = nodes["weight"].to_numpy(dtype=np.int64)
        edges = g.edges.select("src", "dst", "weight").toPandas()
        # ids are sorted ascending: searchsorted is the vectorized remap
        src = np.searchsorted(ids, edges["src"].to_numpy(dtype=np.int64))
        dst = np.searchsorted(ids, edges["dst"].to_numpy(dtype=np.int64))
        w = edges["weight"].to_numpy(dtype=np.int64)
        return SmallGraph.from_edges(len(ids), src, dst, w, nw), ids

    def _refine(
        self, g: GraphFrame, part: DataFrame, k: int, cap: int | list[int]
    ) -> DataFrame:
        cap_list = cap if isinstance(cap, list) else [cap] * k
        caps = self.spark.createDataFrame(
            [(b, int(c)) for b, c in enumerate(cap_list)], "label long, capacity long"
        )
        state = part.join(g.nodes.select("id", "weight"), "id").select(
            "id", F.col("block").cast("long").alias("label"), "weight"
        )

        def step(s: DataFrame, i: int) -> DataFrame:
            # ``lp_step`` resolves in this module at call time, so the traced
            # benchmark run (perfbench/spans.py) can wrap it here
            return lp_step(
                g, s.select("id", "label", "weight"), step_idx=i, hard_caps=caps,
                semi_sync=True,
            )

        steps: list[int] = []

        def converged(m: dict) -> bool:
            # semi-sync: a quiet first step only says its parity is stable
            steps.append(m["moved"])
            return m["moved"] == 0 and len(steps) > 1

        state = iterate(
            "refine", state, step, self.refine_iters,
            lambda s: {"moved": s.agg(F.sum("moved")).first()[0] or 0}, converged,
        )
        refined = state.select("id", F.col("label").cast("int").alias("block"))
        return balance(g, refined, cap_list, max_rounds=5, k=k)


def _np_cut(sg: SmallGraph, labels: np.ndarray) -> int:
    from kaminpar_spark.plans.initial import cut_of

    return cut_of(sg, labels)
