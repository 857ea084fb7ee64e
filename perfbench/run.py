"""Engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload tx-hubs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts one Spark session on
``local[<cores>]``, sets its workload's input up several times (``setup_s`` is
the median), then repeats the timed body until it has measured ``--seconds``
seconds, checking every kernel's output outside the timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the traced run:
the same run with Spark's event log on and spans around each layer, timing
one pass, and it reports the per-layer metrics. Its ``bench.traced_run_s``
minus the untraced ``run_s`` is the tracing overhead. The spans are written
to ``.perfbench_out/<run>/spans.jsonl`` when the run ends.
Everything the run writes stays under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per run; setup_s is their median


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, at most 2 GiB: the library default
    (16g) exceeds small hosts, and the host is shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(2048, total_kb // 1024 // 4)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def start_session(run_dir: str, cores: int, partitions: int, trace: bool):
    """Spark session sized to the host, with every scratch path under
    ``run_dir`` and the package on the Python workers' path."""
    tmp, local, events = (os.path.join(run_dir, d) for d in ("tmp", "local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # applies to the launcher JVM too: no hsperfdata or temp files outside run_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    from kaminpar_spark.session import get_spark

    heap = f"{driver_memory_mb()}m"
    conf = {
        # as in bench.py: fixed data-sized partitioning, nothing for AQE to re-plan
        "spark.sql.adaptive.enabled": "false",
        "spark.driver.memory": heap,
        # a fixed heap size, so peak RSS does not follow G1's heap resizing
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(trace).lower(),
        "spark.eventLog.dir": events,
        "spark.eventLog.compress": "false",
    }
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=partitions, extra_conf=conf)
    return spark, events


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import kaminpar_spark  # fails fast outside a checkout

    if not os.path.abspath(kaminpar_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"kaminpar_spark comes from {kaminpar_spark.__file__}, not from {ROOT}")

    from kaminpar_spark.plans.lineage import persistent_rdd_ids, release_ids

    import workloads as W
    from spans import Tracer

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    work = W.WORKLOADS[args.workload]
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_out", run_id)
    os.makedirs(run_dir, exist_ok=True)
    cores = host_cores()
    # Shuffle partitions are sized to the data, as in bench.py; these inputs
    # are far below its ~60k half-edges per partition, so the floor of 2
    # applies. At these sizes per-task cost dominates: on 4 cores the
    # partitioner's pass measured 34 s at 2 partitions against 40-55 s at 4-8.
    partitions = 2

    t0 = time.perf_counter()
    spark, events_dir = start_session(run_dir, cores, partitions, trace)
    session_s = time.perf_counter() - t0
    log("session up")
    sc = spark.sparkContext
    try:
        tracer = Tracer(sc, run_id, enabled=trace)
        ctx = W.Ctx(spark, tracer, partitions, os.path.join(run_dir, "work"))
        effective = {k: v for k, v in sc.getConf().getAll() if not k.startswith("spark.app")}
        log(f"nproc={cores} conf={json.dumps(dict(sorted(effective.items())))}")

        # ---- set-up, several times; the last graph is kept
        setup_walls, setup_root, created, shape = [], None, set(), None
        for _ in range(SETUPS):
            if ctx.graph is not None:
                W.drop_graph(ctx, created)
            before = persistent_rdd_ids(spark)
            t0 = time.perf_counter()
            with tracer.span("bench.setup") as setup_root:
                ctx.graph, ctx.n, ctx.m = work.setup(ctx)
            setup_walls.append(time.perf_counter() - t0)
            created = persistent_rdd_ids(spark) - before
            ctx.record("bench.setup", ctx.n > 0 and ctx.m > 0 and shape in (None, (ctx.n, ctx.m)),
                       f"n={ctx.n} m={ctx.m}")
            shape = (ctx.n, ctx.m)
        try:
            ctx.graph.validate()
            ctx.record("graph.validate", True)
        except AssertionError as e:
            ctx.record("graph.validate", False, str(e))
        hubs = ctx.graph.hubs.count() if ctx.graph.hubs is not None else 0
        W.references(ctx, work.kernels)
        log(f"graph n={ctx.n} m={ctx.m} hubs={hubs} setups={fmt(setup_walls)}")

        shapes = {}
        if trace:
            from planshape import superstep_shapes

            before = persistent_rdd_ids(spark)
            shapes = superstep_shapes(spark, ctx.graph, ctx.n)
            release_ids(spark, persistent_rdd_ids(spark) - before)

        # ---- timed body; the traced run times one pass with spans installed
        passes, cpus, kernel_walls, pass_root = [], [], [], None
        restore = tracer.install() if trace else None
        try:
            while not passes or (not trace and sum(passes) < args.seconds):
                wall, cpu, walls = W.run_pass(ctx, work.kernels)
                passes.append(wall)
                cpus.append(cpu)
                kernel_walls.append(walls)
        finally:
            if restore:
                restore()
        if trace:
            pass_root = next(s for s in reversed(tracer.spans) if s["name"] == "bench.pass")
        eps = [W.edges_per_s(work, ctx.m, w, p) for w, p in zip(kernel_walls, passes)]
        log(f"passes={fmt(passes)} cpu={fmt(cpus)} edges_per_s={fmt(eps)} "
            f"kernels={json.dumps([{k: round(v, 3) for k, v in w.items()} for w in kernel_walls])}")

        rss_mb = vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()) + vm_hwm_mb("self")
        app_id = sc.applicationId
    finally:
        stop_session(spark)
    log("stopped")

    failed = [op for op in ctx.ops if not op[1]]
    log(f"info={json.dumps(ctx.info)}")
    for name, _, detail in failed:
        log(f"FAILED {name}: {detail}")
    attempted = len(ctx.ops)
    if trace:
        import eventlog
        from layers import layer_metrics

        groups = eventlog.read_events(eventlog.find_log(events_dir, app_id))
        extra = {
            "hubs": hubs,
            "live": ctx.live,
            "session_s": session_s,
            "traced_run_s": passes[0],
            "traced_cpu_s": cpus[0],
            "edges_per_s": eps[0],
            "failed_frac": len(failed) / attempted,
        }
        metrics = layer_metrics(tracer, groups, setup_root, pass_root, ctx, shapes, extra)
        tracer.write(os.path.join(run_dir, "spans.jsonl"), origin=pass_root["start"])
    else:
        metrics = {
            "setup_s": (statistics.median(setup_walls), "s"),
            "run_cpu_s": (statistics.median(cpus), "s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
    for d in ("tmp", "local", "events", "work", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if not os.listdir(run_dir):
        os.rmdir(run_dir)
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def fmt(xs) -> str:
    return "[" + ", ".join(f"{x:.3f}" for x in xs) + "]"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())
