"""Iterative loops must not accumulate checkpoint generations.

Every round loop releases the superseded generation once its successor is
materialized — the shared superstep loop (plans.superstep.iterate) does it
for in-memory and durable runs alike, and the multi-table peel loops do it by
hand; otherwise `rounds` copies of O(n) state pile up in the block
manager — unbounded storage growth for to-fixpoint loops (core_numbers
runs up to 100 rounds), with eviction/GC pressure on long runs. The
discipline is structural (bounded generations regardless of round count);
its wall-clock effect at bench sizes is within host run variance and is
not claimed as measured (BENCH/BPE_SCALING.md sweep). These tests pin the
bounded-block-count property.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators.coloring import color_to_completion
from kaminpar_spark.operators.kcore import core_numbers, k_core_members


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _ring_with_clique(spark, n_ring: int = 40, k_clique: int = 6) -> GraphFrame:
    ring = spark.range(n_ring).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n_ring).alias("dst")
    )
    cl = spark.range(k_clique).alias("a").crossJoin(spark.range(k_clique).alias("b"))
    clique = cl.where(F.col("a.id") < F.col("b.id")).select(
        (F.col("a.id") + n_ring).alias("src"), (F.col("b.id") + n_ring).alias("dst")
    )
    return GraphFrame.from_edge_pairs(ring.unionByName(clique))


def test_core_numbers_fixpoint_releases_generations(spark):
    g = _ring_with_clique(spark)
    before = _n_persistent(spark)
    cores = core_numbers(g)  # iterates to fixpoint (many internal rounds)
    assert cores.agg(F.max("core")).first()[0] == 5  # the clique's core
    after = _n_persistent(spark)
    # one live generation (+ the graph's own prepared blocks), never
    # one-per-round: allow a small constant margin
    assert after - before <= 4, f"checkpoint pileup: {before} -> {after}"


def test_k_core_members_releases_generations(spark):
    g = _ring_with_clique(spark)
    before = _n_persistent(spark)
    members = k_core_members(g, k=3)
    assert members.count() == 6  # only the clique survives the 3-core peel
    after = _n_persistent(spark)
    assert after - before <= 4, f"checkpoint pileup: {before} -> {after}"


def test_color_to_completion_releases_generations(spark):
    g = _ring_with_clique(spark)
    before = _n_persistent(spark)
    colors = color_to_completion(g)
    assert colors.where(F.col("color").isNull()).count() == 0
    # proper coloring: no monochromatic edge
    e = g.edges.join(
        colors.withColumnRenamed("id", "src").withColumnRenamed("color", "ca"), "src"
    ).join(
        colors.withColumnRenamed("id", "dst").withColumnRenamed("color", "cb"), "dst"
    )
    assert e.where(F.col("ca") == F.col("cb")).count() == 0
    after = _n_persistent(spark)
    assert after - before <= 4, f"checkpoint pileup: {before} -> {after}"


def test_durable_capped_lp_releases_and_reports_every_superstep(spark, tmp_path):
    """A runner-backed run is the same loop as an in-memory one: capped LP's
    per-step staging checkpoints are released, and ``on_metrics`` sees every
    superstep with the metrics of its manifest line."""
    from kaminpar_spark import fixtures
    from kaminpar_spark.operators.labelprop import label_propagation
    from kaminpar_spark.plans.superstep import SuperstepRunner

    g, _, _ = fixtures.erdos_renyi(spark, n=300, p=0.02, seed=5, hub_overlay=1)
    g.num_nodes()
    runner = SuperstepRunner(spark, str(tmp_path))
    seen = []
    before = _n_persistent(spark)
    labels = label_propagation(
        g, max_iters=6, max_cluster_weight=4, runner=runner,
        on_metrics=lambda i, m: seen.append((i, m)),
    )
    assert labels.count() == 300
    after = _n_persistent(spark)
    assert after - before <= 4, f"checkpoint pileup: {before} -> {after}"
    recs = runner.completed_steps("labelprop")
    assert recs, "manifest must exist"
    assert seen == [(r["step"], r["metrics"]) for r in recs]


def test_pipeline_results_carry_and_release_staging_blocks(spark):
    """ADVICE r3: minhash_dedup_pairs / simhash128_near_pairs checkpoint
    internal staging tables; the RETURNED table must carry those block ids
    (lineage.carry) so a multi-query driver can release(result) after its
    final action and leave the block manager where it started."""
    from kaminpar_spark.functions.dedup import minhash_dedup_pairs
    from kaminpar_spark.plans.lineage import release

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    before = _n_persistent(spark)
    pairs = minhash_dedup_pairs(docs, threshold=0.5, num_hashes=8, bands=4)
    pairs.count()
    assert getattr(pairs, "_kaminpar_chk_ids", None), "result lost staging ids"
    assert _n_persistent(spark) > before  # staging is pinned while in use
    release(pairs)
    assert _n_persistent(spark) == before, "release left staging blocks behind"


def test_staging_checkpoint_blocks_are_releasable(spark):
    """The staging-checkpoint contract behind VERDICT r4 item 4's
    investigation (the adaptive variant was falsified by a local[32] A/B —
    see the note in plans/lineage.py — so the checkpoint is unconditional):
    a truncated staging table pins releasable block ids and the block
    manager returns to baseline after release."""
    from kaminpar_spark.plans.lineage import release, truncate

    before = _n_persistent(spark)
    df = truncate(spark.range(64).toDF("id"))
    assert getattr(df, "_kaminpar_chk_ids", None)
    assert df.count() == 64
    assert _n_persistent(spark) > before
    release(df)
    assert _n_persistent(spark) == before
