"""k-threshold cascade / bootstrap percolation (operators/cascade.py)."""

from __future__ import annotations

from kaminpar_spark.graph import GraphFrame
from kaminpar_spark.operators.cascade import threshold_cascade


def _graph(spark, pairs):
    e = spark.createDataFrame(
        [(s, d, 1) for s, d in pairs], "src long, dst long, weight long"
    )
    return GraphFrame.from_edge_pairs(e, symmetrize=True)


def _run(spark, pairs, seeds, k, rounds=4):
    g = _graph(spark, pairs)
    out = threshold_cascade(g, seeds, k=k, rounds=rounds).collect()
    return {r["id"]: r["round"] for r in out}


def test_threshold_requires_k_active_neighbors(spark):
    """2 activates (two seed neighbors); 4 has only one ever-active
    neighbor, so it never activates at k=2 — the non-BFS property."""
    got = _run(spark, [(1, 2), (3, 2), (3, 4)], seeds=[1, 3], k=2)
    assert got == {1: 0, 3: 0, 2: 1}


def test_first_activation_round_is_recorded(spark):
    """4 needs node 2's round-1 activation before its own count reaches 2:
    activation rounds are 0 (seeds), 1, then 2 — not collapsed."""
    pairs = [(1, 2), (3, 2), (2, 4), (3, 4)]
    got = _run(spark, pairs, seeds=[1, 3], k=2)
    assert got == {1: 0, 3: 0, 2: 1, 4: 2}


def test_no_activation_below_threshold(spark):
    """k=3 with only two seeds on a star: the hub sees 2 < 3 active
    neighbors forever — only seeds remain."""
    pairs = [(0, i) for i in range(1, 5)]
    got = _run(spark, pairs, seeds=[1, 2], k=3)
    assert got == {1: 0, 2: 0}


def test_fixpoint_rounds_are_noops(spark):
    """Extra rounds after total activation change nothing (monotone)."""
    pairs = [(1, 2), (3, 2)]
    a = _run(spark, pairs, seeds=[1, 3], k=2, rounds=2)
    b = _run(spark, pairs, seeds=[1, 3], k=2, rounds=6)
    assert a == b


def test_cli_cascade_landmark_tmotifs(spark, tmp_path, capsys):
    """CLI round-trip for the round-3 subcommands (cli.py): cascade seeds
    via --sources, landmark count via -k, tmotifs over a (src,dst,ts)
    parquet with --max-iters as the window delta."""
    from kaminpar_spark import cli, fixtures

    edges = tmp_path / "edges.parquet"
    g = fixtures.grid8(spark)
    g.edges.select("src", "dst", "weight").write.parquet(str(edges))

    assert cli.main([
        "cascade", "-G", str(edges), "-k", "2",
        "--sources", "0,1,8,9", "--max-iters", "4",
    ]) == 0
    out = capsys.readouterr().out
    assert "RESULT" in out and "activated=" in out, out

    assert cli.main(["landmark", "-G", str(edges), "-k", "3", "--max-iters", "6"]) == 0
    out = capsys.readouterr().out
    assert "RESULT" in out and "covered_nodes=" in out, out

    tpath = tmp_path / "tedges.parquet"
    spark.createDataFrame(
        [(1, 2, 10), (2, 3, 15), (3, 1, 20), (3, 1, 500)],
        "src long, dst long, ts long",
    ).write.parquet(str(tpath))
    assert cli.main(["tmotifs", "-G", str(tpath), "--max-iters", "60"]) == 0
    out = capsys.readouterr().out
    assert "RESULT" in out and "tri_d60=1" in out, out


def test_cli_cpm_robustness(spark, tmp_path, capsys):
    """CLI round-trip for the cpm (triangle communities) and robustness
    (top-k hub deletion) subcommands."""
    from kaminpar_spark import cli, fixtures

    edges = tmp_path / "cedges.parquet"
    g = fixtures.clique_pendant(spark)
    g.edges.select("src", "dst", "weight").write.parquet(str(edges))

    assert cli.main(["cpm", "-G", str(edges), "--max-iters", "6"]) == 0
    out = capsys.readouterr().out
    assert "RESULT" in out and "communities=1" in out, out

    assert cli.main(
        ["robustness", "-G", str(edges), "-k", "2", "--max-iters", "8"]
    ) == 0
    out = capsys.readouterr().out
    assert "k_removed=0" in out and "k_removed=2" in out, out


def test_cli_vcut_onion_sample_reorder(spark, tmp_path, capsys):
    """CLI round-trip for the session-3c subcommands."""
    from kaminpar_spark import cli, fixtures

    edges = tmp_path / "edges3c.parquet"
    g = fixtures.grid8(spark)
    g.edges.select("src", "dst", "weight").write.parquet(str(edges))

    assert cli.main(["vcut", "-G", str(edges), "-k", "4"]) == 0
    out = capsys.readouterr().out
    assert out.count("RESULT strategy=") == 4, out

    assert cli.main(["onion", "-G", str(edges), "--max-iters", "4"]) == 0
    out = capsys.readouterr().out
    assert "layers=" in out, out

    assert cli.main(["sample", "-G", str(edges), "-k", "2", "--sources", "2"]) == 0
    out = capsys.readouterr().out
    assert "sampled=" in out, out

    assert cli.main(["reorder", "-G", str(edges), "--max-iters", "6"]) == 0
    out = capsys.readouterr().out
    assert out.count("RESULT ordering=") == 3, out


def test_cli_partition(spark, tmp_path, capsys):
    """CLI round-trip for the partition subcommand: n below twice the
    contraction limit, so the whole graph goes straight to the driver-side
    initial partitioner; --save writes one block in [0, k) per node."""
    from kaminpar_spark import cli, fixtures

    edges = tmp_path / "er_edges.parquet"
    g, _, _ = fixtures.erdos_renyi(spark, n=120, p=0.06, seed=3, hub_overlay=0)
    g.edges.select("src", "dst", "weight").write.parquet(str(edges))
    saved = tmp_path / "partition.parquet"

    assert cli.main([
        "partition", "-G", str(edges), "-k", "4", "--epsilon", "0.03",
        "--contraction-limit", "100", "--save", str(saved),
    ]) == 0
    out = capsys.readouterr().out
    assert "RESULT cut=" in out, out

    ids = {r["src"] for r in spark.read.parquet(str(edges)).select("src").distinct().collect()}
    rows = spark.read.parquet(str(saved)).collect()
    assert sorted(r["id"] for r in rows) == sorted(ids)
    assert all(0 <= r["block"] < 4 for r in rows)
