"""Reference results for the benchmark's output checks (run outside the
timed region).

Each oracle works on the prepared graph collected to the driver: PageRank and
the semi-synchronous label propagation are replayed in numpy, components and
triangles come from networkx, and a partition's cut and feasibility are
recomputed in numpy against ``rules.max_block_weight``.
"""

from __future__ import annotations

from dataclasses import dataclass

import networkx as nx
import numpy as np
from pyspark.sql import functions as F

from kaminpar_spark.functions import rules


@dataclass
class HostGraph:
    """Node ids (sorted), node weights, and half-edges as positions into ids."""

    ids: np.ndarray
    nweights: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    w: np.ndarray

    @property
    def n(self) -> int:
        return len(self.ids)

    @staticmethod
    def collect(graph) -> "HostGraph":
        nodes = graph.nodes.select("id", "weight").toPandas().sort_values("id")
        ids = nodes["id"].to_numpy(np.int64)
        e = graph.edges.select("src", "dst", "weight").toPandas()
        return HostGraph(
            ids=ids,
            nweights=nodes["weight"].to_numpy(np.int64),
            src=np.searchsorted(ids, e["src"].to_numpy(np.int64)),
            dst=np.searchsorted(ids, e["dst"].to_numpy(np.int64)),
            w=e["weight"].to_numpy(np.int64),
        )

    def to_networkx(self) -> nx.Graph:
        g = nx.Graph()
        g.add_nodes_from(range(self.n))
        g.add_edges_from(zip(self.src.tolist(), self.dst.tolist()))
        return g

    def values(self, df, col: str) -> np.ndarray:
        """Column ``col`` of an (id, col) result, aligned with ``ids``;
        raises if the result does not cover every node exactly once."""
        pdf = df.select("id", col).toPandas()
        pos = np.searchsorted(self.ids, pdf["id"].to_numpy(np.int64))
        if len(pdf) != self.n or not np.array_equal(np.sort(pos), np.arange(self.n)):
            raise AssertionError(f"{col}: result does not cover each of {self.n} nodes once")
        out = np.empty(self.n, dtype=pdf[col].dtype)
        out[pos] = pdf[col].to_numpy()
        return out


def pagerank_oracle(g: HostGraph, iters: int, damping: float = 0.85) -> np.ndarray:
    """Power iteration with uniform redistribution of dangling mass, the
    update ``operators.pagerank`` documents."""
    n = g.n
    deg = np.bincount(g.src, minlength=n).astype(np.float64)
    inv = np.divide(1.0, deg, out=np.zeros(n), where=deg > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[deg == 0].sum()
        sums = np.bincount(g.dst, weights=r[g.src] * inv[g.src], minlength=n)
        r = (1.0 - damping) / n + damping * dangling / n + damping * sums
    return r


def check_pagerank(got: np.ndarray, want: np.ndarray) -> None:
    if not np.allclose(got, want, rtol=1e-9, atol=1e-12):
        raise AssertionError(f"pagerank: max abs diff {np.abs(got - want).max():.3e}")
    if abs(got.sum() - 1.0) > 1e-9:
        raise AssertionError(f"pagerank: mass {got.sum()!r} != 1")


def lp_active_bits(graph, g: HostGraph, seed: int = 42) -> np.ndarray:
    """Semi-sync parity of every node, from Spark's own xxhash64 (the
    expression ``operators.labelprop.lp_step`` schedules with)."""
    return g.values(
        graph.nodes.select(
            "id", F.pmod(F.xxhash64(F.col("id") + F.lit(seed)), F.lit(2)).alias("parity")
        ),
        "parity",
    ).astype(np.int64)


def labelprop_oracle(g: HostGraph, parity: np.ndarray, iters: int) -> np.ndarray:
    """Replay of uncapped semi-synchronous LP from singleton labels: a node
    whose parity matches the step takes the adjacent label of highest total
    edge weight (ties to the smallest label), but only on a strict gain over
    its current label's score."""
    n = g.n
    label = g.ids.copy()
    for step in range(iters):
        lab = label[g.src]
        key_node, key_lab, inv = _unique_pairs(g.dst, lab)
        score = np.bincount(inv, weights=g.w, minlength=len(key_node)).astype(np.int64)
        # best per node: max score, then smallest label
        order = np.lexsort((key_lab, -score, key_node))
        first = order[np.r_[True, key_node[order][1:] != key_node[order][:-1]]]
        best_label = label.copy()
        best_score = np.zeros(n, dtype=np.int64)
        best_label[key_node[first]] = key_lab[first]
        best_score[key_node[first]] = score[first]
        own = key_lab == label[key_node]
        cur_score = np.zeros(n, dtype=np.int64)
        cur_score[key_node[own]] = score[own]
        move = (parity == step % 2) & (best_label != label) & (best_score > cur_score)
        label = np.where(move, best_label, label)
    return label


def _unique_pairs(a: np.ndarray, b: np.ndarray):
    pairs = np.stack([a, b], axis=1)
    uniq, inv = np.unique(pairs, axis=0, return_inverse=True)
    return uniq[:, 0], uniq[:, 1], inv.ravel()


def components_oracle(g: HostGraph, nxg: nx.Graph) -> np.ndarray:
    comp = np.empty(g.n, dtype=np.int64)
    for members in nx.connected_components(nxg):
        idx = np.fromiter(members, dtype=np.int64)
        comp[idx] = g.ids[idx].min()
    return comp


def triangles_oracle(nxg: nx.Graph) -> int:
    return sum(nx.triangles(nxg).values()) // 3


def check_equal(name: str, got, want) -> None:
    if not np.array_equal(got, want):
        diff = int(np.sum(np.asarray(got) != np.asarray(want))) if np.shape(got) == np.shape(want) else "shape"
        raise AssertionError(f"{name}: {diff} values differ from the reference")


def check_partition(g: HostGraph, result, k: int, epsilon: float) -> None:
    """Recompute cut and feasibility; both must equal the result's."""
    block = g.values(result.partition, "block").astype(np.int64)
    if block.min() < 0 or block.max() >= k:
        raise AssertionError(f"partition: block ids outside [0, {k})")
    cut = int(g.w[block[g.src] != block[g.dst]].sum() // 2)
    bw = np.bincount(block, weights=g.nweights, minlength=k)
    cap = rules.max_block_weight(int(g.nweights.sum()), k, epsilon, int(g.nweights.max()))
    feasible = bool((bw <= cap).all())
    if cut != result.cut or feasible != result.feasible:
        raise AssertionError(
            f"partition: recomputed cut={cut} feasible={feasible}, "
            f"result says cut={result.cut} feasible={result.feasible}"
        )
