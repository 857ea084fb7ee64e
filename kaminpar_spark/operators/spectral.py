"""Spectral bisection scores — deflated power iteration on the shifted
Laplacian, exact integer lattice.

The reference's whole pipeline minimizes edge cut; spectral bisection is the
classic eigenvector route to the same objective (Fiedler 1973): the sign
pattern of the Laplacian's second eigenvector is a good 2-way cut. KaMinPar
itself uses flow-free local heuristics instead (initial pool + FM,
`initial_partitioning/pool_bipartitioner.h`), so this operator is the
engine's spectral COMPLEMENT to those — a global view the pool's BFS/greedy
seeds don't have — not a port of reference code.

Math shape: with L = D - A (weighted Laplacian) and sigma >= lambda_max(L),
the matrix M = sigma*I - L is PSD with eigenvalues sigma - lambda_i, ordered
inversely to L's. Its dominant eigenvector is the all-ones vector 1
(eigenvalue sigma, since L*1 = 0); the runner-up is L's Fiedler vector. So
power iteration on M, re-deflated against 1 every round, converges to the
Fiedler direction on a connected graph. sigma = 2*max weighted degree
(>= lambda_max by Gershgorin, rows of L sum to 0 with diagonal wdeg).

Exactness: every round is integer-only —
  1. deflate   x <- x - (sum(x) div n)          (approximate mean-centering;
     truncating div is identical in Spark `div` and DuckDB `//`, both trunc
     toward zero — verified),
  2. multiply  y = (sigma - wdeg)*x + A.x       (one J1 gather + sum groupBy),
  3. rescale   x <- sign(y) * (|y| div max(1, max|y| div scale))
     (power iteration is normalization-invariant; trunc-div on the
     NONNEGATIVE |y| is order-free, so scores are cross-engine bit-exact).
Overflow bound: |x| <= 2*scale after rescale, so |y| <=
(2*sigma)*(2*scale) = 8*wdeg_max*scale — int64-safe while
wdeg_max * scale < 1.1e18 (at scale 2^20: wdeg_max ~ 1e12). At larger hubs
lower `scale` or promote the multiply to DECIMAL(38,0).

Scale shape per round: one gather + hash aggregate (map-side partial agg),
two 1-row global aggregates (sum, max), map-only elementwise updates —
identical superstep cost profile to eigenvector/Katz. No windows, no
collects, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.plans.superstep import iterate

SPECTRAL_SCALE = 1 << 20


def _tdiv(a, b) -> F.Column:
    """Truncating integer division (toward zero) — Spark's `div`."""
    return F.expr(f"({a}) div ({b})")


def fiedler_scores(
    graph: GraphFrame, iters: int = 3, scale: int = SPECTRAL_SCALE
) -> DataFrame:
    """(id, fiedler) — integer-lattice scores whose sign pattern approximates
    the Fiedler bisection after ``iters`` deflated power-iteration rounds on
    sigma*I - L. Deterministic start: x0 = +-scale by the parity of
    id*37 mod (2^31-1) (a structure-blind split so the start is never
    orthogonal to the target direction on real graphs)."""
    nodes = graph.nodes.select("id")
    n = graph.num_nodes()
    deg = graph.degrees().select("id", "weighted_degree")
    sigma = 2 * (
        deg.agg(F.max("weighted_degree")).first()[0] or 1
    )
    x = nodes.select(
        "id",
        (
            (F.pmod(F.col("id") * 37, F.lit(2147483647)) % 2 * 2 - 1)
            * F.lit(scale)
        )
        .cast("long")
        .alias("s"),
    )

    def step(x: DataFrame, i: int) -> DataFrame:
        mean = x.agg(_tdiv("sum(s)", n).alias("c"))
        centered = x.crossJoin(F.broadcast(mean)).select(
            "id", (F.col("s") - F.col("c")).alias("s")
        )
        ax = (
            graph.gather(centered, ["s"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("weight") * F.col("s")).alias("ax"))
        )
        y = (
            centered.join(deg.hint("shuffle_hash"), "id", "left")
            .join(ax.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (
                    (F.lit(sigma) - F.coalesce("weighted_degree", F.lit(0)))
                    * F.col("s")
                    + F.coalesce("ax", F.lit(0))
                ).alias("y"),
            )
        )
        m = y.agg(
            F.greatest(F.lit(1), _tdiv(f"max(abs(y))", scale)).alias("m")
        )
        return y.crossJoin(F.broadcast(m)).select(
            "id",
            (
                F.when(F.col("y") < 0, -1).otherwise(1)
                * _tdiv("abs(y)", "m")
            )
            .cast("long")
            .alias("s"),
        )

    x = iterate("fiedler_scores", x, step, iters)
    mean = x.agg(_tdiv("sum(s)", n).alias("c"))
    return x.crossJoin(F.broadcast(mean)).select(
        "id", (F.col("s") - F.col("c")).cast("long").alias("fiedler")
    )


def spectral_cut_stats(graph: GraphFrame, scores: DataFrame) -> DataFrame:
    """One row (cut_weight, n_nonneg, n_neg) for the sign cut of ``scores``:
    total weight of edges crossing {fiedler >= 0 | fiedler < 0}. Each
    canonical edge counted once; two shuffle-hash joins + one aggregate."""
    side = scores.select(
        "id", (F.col("fiedler") >= 0).cast("int").alias("side")
    )
    e = graph.edges.where(F.col("src") < F.col("dst"))
    cut = (
        e.join(
            side.select(F.col("id").alias("src"), F.col("side").alias("sa")).hint(
                "shuffle_hash"
            ),
            "src",
        )
        .join(
            side.select(F.col("id").alias("dst"), F.col("side").alias("sb")).hint(
                "shuffle_hash"
            ),
            "dst",
        )
        .agg(
            F.sum(
                F.when(F.col("sa") != F.col("sb"), F.col("weight")).otherwise(0)
            )
            .cast("long")
            .alias("cut_weight")
        )
    )
    sides = side.agg(
        F.sum("side").cast("long").alias("n_nonneg"),
        F.sum(1 - F.col("side")).cast("long").alias("n_neg"),
    )
    return cut.crossJoin(sides)
