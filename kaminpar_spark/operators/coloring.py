"""Distributed greedy graph coloring (Jones-Plassmann with hash priorities).

Coloring is the classic way to schedule conflict-free parallel refinement
moves on a graph (the reference's LP refiner resolves conflicts optimistically
instead — labelprop.py documents that trade; a coloring is the deterministic
alternative and a useful artifact in its own right: independent sets for
batched updates, register-allocation-style scheduling of hub updates).

Jones-Plassmann supersteps: every node draws a deterministic hash priority;
in each round every still-uncolored node whose (priority, id) is a local
maximum among its uncolored neighbors takes the smallest color absent from
its already-colored neighborhood. Expected O(log n) rounds on bounded-degree
graphs (Jones & Plassmann, SIAM J. Sci. Comput. 1993).

Scale shape per round: one gather of uncolored-neighbor max-priority (hash
max-agg, map-side combine absorbs hubs), one gather of colored-neighbor
color sets (collect_set bounded by degree; the neighbor-scan cap P4 applies
upstream for pathological hubs), one node-scale join to apply. The
round-bounded variant (like bfs_dist4) leaves late nodes NULL — callers
iterate to the fixpoint via ``color_to_completion``.

Round-count caveat: the O(log n) expectation is for SPARSE graphs. Inside a
clique exactly one node wins per round, so rounds scale with the clique
number — on dense co-occurrence graphs prefer clustering (labelprop) or
contract cliques first; the transcript link graphs this engine targets are
sparse with salted hubs, where JP converges in a handful of rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.functions.hashing import POLY_MOD
from kaminpar_spark.graph import GraphFrame

COLOR_PRI_A = 1103515245  # LCG multiplier; id < 2^31 keeps a*id within int64
COLOR_PRI_B = 12345


def color_priority(id_col: F.Column) -> F.Column:
    """Deterministic per-node priority in [0, POLY_MOD) — affine hash of id."""
    return (F.lit(COLOR_PRI_A) * id_col + F.lit(COLOR_PRI_B)) % F.lit(POLY_MOD)


def jp_round(graph: GraphFrame, state: DataFrame) -> DataFrame:
    """One Jones-Plassmann superstep over state (id, pri, color)."""
    un = state.where(F.col("color").isNull()).select("id", "pri")
    # own (pri, id) must beat every uncolored neighbor's — compare on the
    # collision-free scalar pri * 2^31 + id (both < 2^31).
    key = (F.col("pri") * F.lit(1 << 31) + F.col("id")).alias("k")
    un_k = un.select("id", key)
    e = graph.edges.select("src", "dst")
    # max uncolored-neighbor key per uncolored node: gather src keys to dst,
    # semi-restricted to uncolored dst by the final join in `winners`.
    nb_max = (
        un_k.select(F.col("id").alias("src"), F.col("k").alias("src_k"))
        .join(e.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.max("src_k").alias("nb_k"))
    )
    # uncolored nodes with NO uncolored neighbor win by default (nb_k NULL);
    # the rest win iff their own key exceeds the neighborhood max.
    winners = (
        un_k.join(nb_max.hint("shuffle_hash"), "id", "left")
        .where(F.col("nb_k").isNull() | (F.col("k") > F.col("nb_k")))
        .select("id")
    )
    used = (
        state.where(F.col("color").isNotNull())
        .select(F.col("id").alias("src"), "color")
        .join(e.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.collect_set("color").alias("used"))
    )
    empty = F.expr("CAST(array() AS ARRAY<BIGINT>)")
    used_arr = F.coalesce(F.col("used"), empty)
    cand = F.sequence(F.lit(0).cast("long"), F.size(used_arr).cast("long"))
    assign = winners.join(used, "id", "left").select(
        "id", F.array_min(F.array_except(cand, used_arr)).cast("long").alias("new_color")
    )
    return (
        state.join(assign.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            "pri",
            F.coalesce("color", "new_color").alias("color"),
        )
    )


def _jp_init(graph: GraphFrame) -> DataFrame:
    return graph.nodes.select(
        "id", color_priority(F.col("id")).alias("pri"), F.lit(None).cast("long").alias("color")
    )


def jp_color(graph: GraphFrame, rounds: int = 6) -> DataFrame:
    """(id, color) after exactly ``rounds`` Jones-Plassmann supersteps —
    color is NULL for nodes not yet scheduled (the hop-bounded contract of
    bfs_dist4: well-defined and oracle-checkable round by round)."""
    from kaminpar_spark.plans.superstep import iterate

    final = iterate("jp_color", _jp_init(graph), lambda s, i: jp_round(graph, s), rounds)
    return final.select("id", "color")


def luby_mis_round(graph: GraphFrame, state: DataFrame) -> DataFrame:
    """One Luby superstep over state (id, pri, st) with st in
    {0 undecided, 1 in-MIS, -1 excluded}: every undecided node that beats all
    undecided neighbors on (pri, id) joins the MIS; undecided neighbors of
    new members become excluded."""
    un = state.where(F.col("st") == 0).select(
        "id", (F.col("pri") * F.lit(1 << 31) + F.col("id")).alias("k")
    )
    e = graph.edges.select("src", "dst")
    nb_max = (
        un.select(F.col("id").alias("src"), F.col("k").alias("src_k"))
        .join(e.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.max("src_k").alias("nb_k"))
    )
    winners = (
        un.join(nb_max.hint("shuffle_hash"), "id", "left")
        .where(F.col("nb_k").isNull() | (F.col("k") > F.col("nb_k")))
        .select("id", F.lit(1).alias("win"))
    )
    losers = (
        winners.select(F.col("id").alias("src"))
        .join(e.hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("id"), F.lit(1).alias("lose"))
        .distinct()
    )
    return (
        state.join(winners.hint("shuffle_hash"), "id", "left")
        .join(losers.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            "pri",
            F.when(F.col("st") != 0, F.col("st"))
            .when(F.col("win").isNotNull(), F.lit(1))
            .when(F.col("lose").isNotNull(), F.lit(-1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("st"),
        )
    )


def luby_mis(graph: GraphFrame, rounds: int = 6) -> DataFrame:
    """(id, st) after exactly ``rounds`` Luby supersteps — st 1 = in the
    maximal independent set, -1 = excluded (a neighbor is in), 0 = undecided
    (round-bounded contract; at the fixpoint no 0 remains and the 1-set is a
    maximal independent set). Deterministic: same hash priorities as
    jp_color. Unlike a clique-bound coloring, Luby halves the undecided set
    per round in expectation on ANY graph."""
    from kaminpar_spark.plans.superstep import iterate

    state = graph.nodes.select(
        "id", color_priority(F.col("id")).alias("pri"), F.lit(0).cast("int").alias("st")
    )
    final = iterate("luby_mis", state, lambda s, i: luby_mis_round(graph, s), rounds)
    return final.select("id", "st")


def color_to_completion(graph: GraphFrame, max_rounds: int = 100) -> DataFrame:
    """(id, color) — iterate JP rounds until every node is colored (or
    ``max_rounds``; a warning row is impossible — JP colors >= 1 node per
    round, so max_rounds bounds the worst case, and the caller can assert
    no NULLs remain)."""
    from kaminpar_spark.plans.superstep import iterate

    final = iterate(
        "color_to_completion", _jp_init(graph), lambda s, i: jp_round(graph, s), max_rounds,
        lambda s: {"any_uncolored": s.where(F.col("color").isNull()).limit(1).count()},
        lambda m: m["any_uncolored"] == 0,
    )
    return final.select("id", "color")
