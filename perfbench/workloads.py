"""The benchmark's workloads.

Each workload is one closed-loop batch job from one driver process: a set-up
that builds and materializes the input graph, and a timed body of kernel
calls through the public API of ``kaminpar_spark``. Every kernel call is one
checked operation; its output is compared with a reference outside the timed
region (``checks.py``).

- ``tx-hubs``: the transcript edge table, the product's own input. Agent and
  tool actors are hubs and get salted, so only this workload takes the salted
  gather path and the durable snapshot path (``SuperstepRunner``). Supersteps
  here are bound by fixed per-step driver and job cost.
- ``rgg-partition``: the deep multilevel partitioner on a hub-free random
  geometric graph: size-capped LP clustering, contraction, the driver-side
  initial partition, extension, hard-capped LP refinement and the balancer.
  Its output is a quality number (the cut), checked exactly.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

from kaminpar_spark.operators.components import connected_components
from kaminpar_spark.operators.labelprop import label_propagation
from kaminpar_spark.operators.pagerank import pagerank
from kaminpar_spark.operators.triangles import triangle_count
from kaminpar_spark.plans.lineage import persistent_rdd_ids, release_ids
from kaminpar_spark.plans.partitioner import Partitioner
from kaminpar_spark.plans.superstep import SuperstepRunner
from kaminpar_spark.sources.generators import rgg2d
from kaminpar_spark.sources.transcripts import synth_transcripts, transcript_graph

import checks

# Sizes. Every run starts its own Spark session (~9 s on 4 cores) and pays
# JIT warm-up (~10-15 s), and the whole set of runs has a fixed time budget,
# so each body is sized to roughly 20-35 s on local[4]. At these sizes the
# supersteps are bound by per-job cost, not by data volume.
TX_CONVS = 4_000  # ~1k actors, ~12k half-edges
TX_HUB_DEGREE = 512  # agents and tools of this conversation count
SALT_FACTOR = 8
PR_ITERS = 5
LPA_ITERS = 4
CC_MAX_ITERS = 30
RGG_PARTITION_N = 5_000  # ~40k half-edges: one coarsening level
# The partitioner's job count depends on its input (on one generator seed the
# pass took twice as long as on others), so rgg-partition uses one fixed
# graph and partitioner seed, like the seedless transcript input.
RGG_PARTITION_SEED = 4
RGG_MEAN_DEGREE = 8
PART_K = 4
PART_EPSILON = 0.03
PART_LP_ITERS = 2
PART_REFINE_ITERS = 2


@dataclass
class Ctx:
    """State of one benchmark run."""

    spark: object
    tracer: object
    partitions: int
    workdir: str
    graph: object = None
    n: int = 0
    m: int = 0
    host: checks.HostGraph | None = None
    ref: dict = field(default_factory=dict)
    ops: list = field(default_factory=list)  # (name, ok, detail)
    live: list = field(default_factory=list)  # persistent-RDD count per superstep
    info: dict = field(default_factory=dict)

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.ops.append((name, ok, detail))


def _radius(n: int) -> float:
    return math.sqrt(RGG_MEAN_DEGREE / (math.pi * n))


# ------------------------------------------------------------------ set-up
def setup_tx(ctx: Ctx):
    with ctx.tracer.span("sources.transcripts.etl"):
        t = synth_transcripts(ctx.spark, TX_CONVS)
        g, _ = transcript_graph(t, TX_CONVS, num_partitions=ctx.partitions)
    return _prepare(ctx, g, TX_HUB_DEGREE)


def setup_rgg(ctx: Ctx):
    n = RGG_PARTITION_N
    with ctx.tracer.span("sources.generators.rgg2d"):
        g = rgg2d(ctx.spark, n, _radius(n), seed=RGG_PARTITION_SEED, num_partitions=ctx.partitions)
    # no node reaches this degree: the layout is hub-free (hubs=None)
    return _prepare(ctx, g, 1 << 30)


def _prepare(ctx: Ctx, g, hub_degree: int):
    with ctx.tracer.span("graph.prepare"):
        gp = g.prepare(
            num_partitions=ctx.partitions,
            hub_degree_threshold=hub_degree,
            salt_factor=SALT_FACTOR,
            spark=ctx.spark,
        )
        n, m = gp.num_nodes(), gp.num_half_edges()
    return gp, n, m


# ------------------------------------------------------------------ kernels
# A kernel runs one checked operation inside the timed region and returns
# (name, check): ``check`` verifies the output after the pass, and is None
# when the operation raised.
def _op(ctx: Ctx, name: str, fn, walls: dict):
    """Run and time one operation. A raise is recorded as a failed operation
    and the pass continues."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(name):
            out = fn()
    except Exception as e:  # noqa: BLE001 - counted in failed, traceback to stderr
        traceback.print_exc()
        ctx.record(name, False, f"raised {type(e).__name__}: {e}")
        return None
    walls[name] = time.perf_counter() - t0
    return out


def _counted(df):
    df.count()
    return df


def _live_cb(ctx: Ctx, counts: list):
    def cb(_i, _m):
        counts.append(len(persistent_rdd_ids(ctx.spark)))

    return cb


def _check_live(name: str, counts: list) -> None:
    """Persistent RDDs must not pile up superstep after superstep."""
    if counts and counts[-1] > counts[0]:
        raise AssertionError(f"{name}: live checkpoints grew {counts}")


def _pagerank(ctx: Ctx, walls: dict):
    name, counts = "operators.pagerank", []
    df = _op(ctx, name, lambda: _counted(pagerank(
        ctx.graph, tol=0.0, max_iters=PR_ITERS, on_metrics=_live_cb(ctx, counts),
    )), walls)

    def check():
        ctx.live.extend(counts)
        checks.check_pagerank(ctx.host.values(df, "rank"), ctx.ref["pagerank"])
        _check_live(name, counts)

    return name, (check if df is not None else None)


def _labelprop(ctx: Ctx, walls: dict):
    name, counts = "operators.labelprop", []
    df = _op(ctx, name, lambda: _counted(label_propagation(
        ctx.graph, max_iters=LPA_ITERS, track_convergence=False,
        on_metrics=_live_cb(ctx, counts),
    )), walls)

    def check():
        ctx.live.extend(counts)
        checks.check_equal(name, ctx.host.values(df, "label"), ctx.ref["labelprop"])
        _check_live(name, counts)

    return name, (check if df is not None else None)


def _components(ctx: Ctx, walls: dict):
    name = "operators.components"
    workdir = os.path.join(ctx.workdir, "cc")
    manifest = os.path.join(workdir, "connected_components", "manifest.jsonl")
    shutil.rmtree(workdir, ignore_errors=True)

    def run():
        runner = SuperstepRunner(ctx.spark, workdir)
        return _counted(connected_components(ctx.graph, max_iters=CC_MAX_ITERS, runner=runner))

    df = _op(ctx, name, run, walls)

    def check():
        checks.check_equal(name, ctx.host.values(df, "comp"), ctx.ref["components"])
        lines = _line_count(manifest)
        again = run()  # same workdir: must resume from the converged snapshot
        checks.check_equal(name + " (resumed)", ctx.host.values(again, "comp"), ctx.ref["components"])
        if _line_count(manifest) != lines:
            raise AssertionError(f"resume replayed {_line_count(manifest) - lines} supersteps")
        ctx.info["manifest_records"] = lines
        ctx.info["snapshot_bytes"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(workdir) for f in fs
        )

    return name, (check if df is not None else None)


def _line_count(path: str) -> int:
    with open(path) as f:
        return sum(1 for _ in f)


def _triangles(ctx: Ctx, walls: dict):
    name = "operators.triangles"
    count = _op(ctx, name, lambda: triangle_count(ctx.graph), walls)

    def check():
        if count != ctx.ref["triangles"]:
            raise AssertionError(f"triangles: {count} != {ctx.ref['triangles']}")

    return name, (check if count is not None else None)


def _partition(ctx: Ctx, walls: dict):
    name = "plans.partitioner"
    res = _op(ctx, name, lambda: Partitioner(
        ctx.graph, spark=ctx.spark, seed=RGG_PARTITION_SEED,
        lp_iters=PART_LP_ITERS, refine_iters=PART_REFINE_ITERS,
    ).partition(k=PART_K, epsilon=PART_EPSILON), walls)

    def check():
        checks.check_partition(ctx.host, res, PART_K, PART_EPSILON)
        ctx.info["cut"] = res.cut
        ctx.info["levels"] = sum(1 for lv in res.levels if lv["stage"] == "coarsen")
        ctx.info["coarsest_n"] = next(lv["n"] for lv in res.levels if lv["stage"] == "initial")
        ctx.info["level_walls"] = [lv["wall_sec"] for lv in res.levels]

    return name, (check if res is not None else None)


def references(ctx: Ctx, kernels) -> None:
    """Reference results for the prepared graph (once per run)."""
    g = ctx.host = checks.HostGraph.collect(ctx.graph)
    if _pagerank in kernels:
        ctx.ref["pagerank"] = checks.pagerank_oracle(g, PR_ITERS)
    if _labelprop in kernels:
        parity = checks.lp_active_bits(ctx.graph, g)
        ctx.ref["labelprop"] = checks.labelprop_oracle(g, parity, LPA_ITERS)
    if _components in kernels or _triangles in kernels:
        nxg = g.to_networkx()
        if _components in kernels:
            ctx.ref["components"] = checks.components_oracle(g, nxg)
        if _triangles in kernels:
            ctx.ref["triangles"] = checks.triangles_oracle(nxg)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every live descendant: the Spark JVM and its Python workers."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def run_pass(ctx: Ctx, kernels) -> tuple[float, float, dict]:
    """One timed pass of the body, then its checks. Returns the pass wall,
    the pass CPU seconds and the per-kernel walls."""
    before = persistent_rdd_ids(ctx.spark)
    walls: dict = {}
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.pass"):
        done = [k(ctx, walls) for k in kernels]
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    for name, check in done:
        if check is None:
            continue  # raised: already recorded
        try:
            check()
        except Exception as e:  # noqa: BLE001 - a failed check is a result, not a crash
            ctx.record(name, False, f"{type(e).__name__}: {e}")
        else:
            ctx.record(name, True)
    # drop what this pass left persisted (final kernel states, checkpoints)
    release_ids(ctx.spark, persistent_rdd_ids(ctx.spark) - before)
    return wall, cpu, walls


@dataclass
class Workload:
    setup: object
    kernels: list
    # supersteps that each scan every half-edge once, for edges_per_s; None
    # means the whole body counts as one pass over the input
    edge_passes: int | None


WORKLOADS = {
    "tx-hubs": Workload(
        setup_tx, [_pagerank, _labelprop, _components, _triangles], PR_ITERS + LPA_ITERS
    ),
    "rgg-partition": Workload(setup_rgg, [_partition], None),
}


def edges_per_s(w: Workload, m: int, walls: dict, pass_wall: float) -> float:
    """Half-edges processed per second: half-edges x supersteps over the
    PageRank + LPA wall, or half-edges over the body wall for the
    partitioner. 0 when a kernel it needs raised."""
    if w.edge_passes is None:
        return m / pass_wall
    kernels = ("operators.pagerank", "operators.labelprop")
    if not all(k in walls for k in kernels):
        return 0.0
    return m * w.edge_passes / sum(walls[k] for k in kernels)


def drop_graph(ctx: Ctx, created: set) -> None:
    ctx.graph.unpersist()
    release_ids(ctx.spark, created)

