"""Per-layer metrics of the traced run.

Names are ``<module>.<metric>`` after this repository's modules. A workload
that does not reach a layer reports 0 for it (for example, the partitioner's
metrics on ``tx-hubs``). Spark task metrics come from the event log, rolled
up over the job groups of the spans that make up each metric.
"""

from __future__ import annotations

from eventlog import Rollup, rollup
from planshape import SHAPE_KEYS
from spans import EXEC

STEP_KERNELS = {
    "operators.pagerank": "operators.pagerank.step",
    "operators.labelprop": "operators.labelprop.step",
}


class SpanIndex:
    def __init__(self, tracer, root: dict, groups: dict):
        self.tracer = tracer
        self.groups = groups
        self.kids = tracer.children()
        self.ids = tracer.subtree_ids(root, self.kids)
        self.spans = [s for s in tracer.spans if s["id"] in self.ids]
        self.by_id = {s["id"]: s for s in tracer.spans}

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def execs_of(self, builder: str, builds: list[dict]) -> list[dict]:
        """Executor spans charged to ``builds`` (see ``spans``): an exec span
        whose kernel is ``builder`` and whose nearest preceding build span of
        that name is one of ``builds``."""
        wanted = {b["id"] for b in builds}
        out, last = [], None
        for s in self.spans:  # in start order
            if s["name"] == builder:
                last = s["id"]
            elif s["kind"] == EXEC and s.get("kernel") == builder and last in wanted:
                out.append(s)
        return out

    def under(self, span: dict, ancestor_name: str) -> bool:
        p = span["parent"]
        while p is not None:
            s = self.by_id[p]
            if s["name"] == ancestor_name:
                return True
            p = s["parent"]
        return False

    def roll(self, spans: list[dict]) -> Rollup:
        ids: set[str] = set()
        for s in spans:
            ids |= self.tracer.subtree_ids(s, self.kids)
        return rollup(self.groups, ids)


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def layer_metrics(tracer, groups, setup_root, pass_root, ctx, shapes, extra) -> dict:
    """All per-layer metrics as {name: (value, unit)}."""
    out: dict[str, tuple[float, str]] = {}
    su = SpanIndex(tracer, setup_root, groups)
    px = SpanIndex(tracer, pass_root, groups)

    # ---- set-up
    out["sources.transcripts.etl_s"] = (_dur(su.named("sources.transcripts.etl")), "s")
    out["sources.generators.rgg2d_s"] = (_dur(su.named("sources.generators.rgg2d")), "s")
    prep = su.named("graph.prepare")
    out["graph.prepare_s"] = (_dur(prep), "s")
    out["graph.prepare.shuffle_bytes"] = (su.roll(prep).shuffle_bytes, "bytes")
    out["graph.hubs"] = (extra["hubs"], "count")

    # ---- PageRank and LPA supersteps
    for kernel, step in STEP_KERNELS.items():
        builds = px.named(step)
        execs = px.execs_of(step, builds)
        r = px.roll(builds + execs)
        out[f"{kernel}.wall_s"] = (_dur(px.named(kernel)), "s")
        out[f"{step}.build_s"] = (_dur(builds), "s")
        out[f"{step}.exec_s"] = (_dur(execs), "s")
        out[f"{step}.jobs"] = (r.jobs, "count")
        out[f"{step}.task_s"] = (r.task_s, "s")
        per_edge = r.shuffle_bytes / (ctx.m * len(builds)) if builds else 0.0
        out[f"{step}.shuffle_bytes_per_edge"] = (per_edge, "bytes/edge")
        out[f"{step}.skew"] = (r.skew if builds else 0.0, "ratio")
        out[f"{step}.spill_bytes"] = (r.spill_bytes, "bytes")

    # ---- executed-plan shape of one superstep
    for prefix, shape in shapes.items():
        for key in SHAPE_KEYS:
            out[f"{prefix}.{key}"] = (shape[key], "count")

    # ---- durable components
    cc_builds = px.named("operators.components.step")
    out["operators.components.wall_s"] = (_dur(px.named("operators.components")), "s")
    out["operators.components.supersteps"] = (len(cc_builds), "count")
    out["operators.components.step.exec_s"] = (
        _dur(px.execs_of("operators.components.step", cc_builds)), "s",
    )
    out["sources.iceberg.write_table_s"] = (_dur(px.named("sources.iceberg.write_table")), "s")
    out["sources.iceberg.read_table_s"] = (_dur(px.named("sources.iceberg.read_table")), "s")
    out["plans.superstep.snapshot_bytes"] = (ctx.info.get("snapshot_bytes", 0), "bytes")
    out["plans.superstep.manifest_records"] = (ctx.info.get("manifest_records", 0), "count")

    # ---- lineage
    out["plans.lineage.truncate_s"] = (_dur(px.named("plans.lineage.truncate")), "s")
    out["plans.lineage.live_checkpoints"] = (max(extra["live"], default=0), "count")

    # ---- triangles
    tri = px.named("operators.triangles")
    r = px.roll(tri)
    out["operators.triangles.wall_s"] = (_dur(tri), "s")
    out["operators.triangles.task_s"] = (r.task_s, "s")
    out["operators.triangles.shuffle_bytes"] = (r.shuffle_bytes, "bytes")

    # ---- partitioner
    part = px.named("plans.partitioner")
    coarsen = px.named("plans.partitioner.coarsen_lp")
    refine = [
        s for s in px.named("operators.labelprop.step")
        if px.under(s, "plans.partitioner") and not px.under(s, "plans.partitioner.coarsen_lp")
    ]
    contract = px.named("operators.contraction.contract")
    extend = px.named("plans.partitioner.extend_partition")
    out["plans.partitioner.partition_s"] = (_dur(part), "s")
    out["plans.partitioner.coarsen_lp_s"] = (_dur(coarsen), "s")
    out["operators.contraction.contract_s"] = (
        _dur(contract + px.execs_of("operators.contraction.contract", contract)), "s",
    )
    out["plans.initial.best_of_bisections_s"] = (_dur(px.named("plans.initial.best_of_bisections")), "s")
    out["plans.partitioner.extend_partition_s"] = (
        _dur(extend + px.execs_of("plans.partitioner.extend_partition", extend)), "s",
    )
    out["plans.partitioner.refine_lp_s"] = (
        _dur(refine + px.execs_of("operators.labelprop.step", refine)), "s",
    )
    out["operators.balance.balance_s"] = (_dur(px.named("operators.balance.balance")), "s")
    out["operators.metrics.quality_s"] = (_dur(px.named("operators.metrics.quality")), "s")
    out["plans.partitioner.levels"] = (ctx.info.get("levels", 0), "count")
    out["plans.partitioner.coarsest_n"] = (ctx.info.get("coarsest_n", 0), "count")
    out["plans.partitioner.cut"] = (ctx.info.get("cut", 0), "count")

    # ---- whole timed body
    r = px.roll([pass_root])
    out["spark.jobs"] = (r.jobs, "count")
    out["spark.stages"] = (r.stages, "count")
    out["spark.tasks"] = (r.tasks, "count")
    out["spark.task_s"] = (r.task_s, "s")
    out["spark.shuffle_bytes"] = (r.shuffle_bytes, "bytes")
    out["spark.spill_bytes"] = (r.spill_bytes, "bytes")
    out["spark.failed_tasks"] = (r.failed_tasks, "count")

    # ---- the benchmark itself
    out["bench.session_s"] = (extra["session_s"], "s")
    out["bench.traced_run_s"] = (extra["traced_run_s"], "s")
    out["bench.traced_cpu_s"] = (extra["traced_cpu_s"], "s")
    out["bench.edges_per_s"] = (extra["edges_per_s"], "1/s")
    out["bench.failed_frac"] = (extra["failed_frac"], "ratio")
    return out
