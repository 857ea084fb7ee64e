"""Spans for the traced run.

A span is recorded around each call into a layer: the benchmark opens spans
around the kernels it calls, and ``install`` wraps the public functions where
the program imports them, so spans also appear inside the program's own loops
without editing it. Every span sets its own Spark job group, which lets the
event-log roll-up (``eventlog.py``) charge each Spark job to exactly one span.

Spans are kept in memory and written once, when the run ends.

Lazy builders (``pagerank_step``, ``lp_step``, ``cc_step``, ``contract``,
``extend_partition``) only build a plan; the work runs in the next
``truncate`` / ``write_table`` / ``read_table`` call. Those executor spans are
charged to the builder that ran last (``kernel`` field), until a span of any
other kind starts.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import contextmanager

BUILD, EXEC, CALL = "build", "exec", "call"

# (module, attribute, span name, kind): the public functions the traced run
# wraps, at the module that looks them up at call time.
WRAPPED = [
    ("kaminpar_spark.plans.superstep", "truncate", "plans.lineage.truncate", EXEC),
    ("kaminpar_spark.plans.superstep", "write_table", "sources.iceberg.write_table", EXEC),
    ("kaminpar_spark.plans.superstep", "read_table", "sources.iceberg.read_table", EXEC),
    ("kaminpar_spark.operators.pagerank", "pagerank_step", "operators.pagerank.step", BUILD),
    ("kaminpar_spark.operators.labelprop", "lp_step", "operators.labelprop.step", BUILD),
    ("kaminpar_spark.operators.components", "cc_step", "operators.components.step", BUILD),
    ("kaminpar_spark.operators.metrics", "quality", "operators.metrics.quality", CALL),
    ("kaminpar_spark.plans.partitioner", "truncate", "plans.lineage.truncate", EXEC),
    ("kaminpar_spark.plans.partitioner", "lp_step", "operators.labelprop.step", BUILD),
    ("kaminpar_spark.plans.partitioner", "label_propagation", "plans.partitioner.coarsen_lp", CALL),
    ("kaminpar_spark.plans.partitioner", "contract", "operators.contraction.contract", BUILD),
    ("kaminpar_spark.plans.partitioner", "balance", "operators.balance.balance", CALL),
    ("kaminpar_spark.plans.partitioner", "best_of_bisections", "plans.initial.best_of_bisections", CALL),
    ("kaminpar_spark.plans.partitioner", "extend_partition", "plans.partitioner.extend_partition", BUILD),
]


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op, so
    the untraced run executes the same benchmark code without job groups."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: str | None = None

    @contextmanager
    def span(self, name: str, kind: str = CALL, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            **attrs,
        }
        if kind == EXEC:
            rec["kernel"] = self._pending
        else:
            self._pending = None
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if kind == BUILD:
                self._pending = name
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, kind: str):
        def traced(*args, **kwargs):
            with self.span(name, kind):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self):
        """Wrap every function in ``WRAPPED``; returns a callable that puts
        the originals back."""
        undo = []
        for mod_name, attr, name, kind in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, self.wrap(orig, name, kind))
            undo.append((mod, attr, orig))

        def restore():
            for mod, attr, orig in reversed(undo):
                setattr(mod, attr, orig)

        return restore

    # ------------------------------------------------------------ queries
    def children(self) -> dict[str | None, list[dict]]:
        out: dict[str | None, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out

    def subtree_ids(self, root: dict, kids: dict) -> set[str]:
        ids, todo = set(), [root]
        while todo:
            s = todo.pop()
            ids.add(s["id"])
            todo.extend(kids.get(s["id"], []))
        return ids

    def write(self, path: str, origin: float) -> None:
        """Write one JSON line per span: times relative to ``origin`` and
        self time = duration minus the union of its children's intervals."""
        kids = self.children()
        with open(path, "w") as f:
            for s in self.spans:
                dur = s["end"] - s["start"]
                covered, last = 0.0, s["start"]
                for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                    lo, hi = max(c["start"], last), min(c["end"], s["end"])
                    if hi > lo:
                        covered += hi - lo
                        last = hi
                rec = dict(s)
                rec["start"] = round(s["start"] - origin, 6)
                rec["end"] = round(s["end"] - origin, 6)
                rec["dur_s"] = round(dur, 6)
                rec["self_s"] = round(dur - covered, 6)
                f.write(json.dumps(rec) + "\n")
