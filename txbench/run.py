#!/usr/bin/env python3
"""Benchmark of the engine as its users see it.

    python3 txbench/run.py --workload stream_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. One run: generate the seeded corpus, start
the engine's session, warm it, repeat the workload's set-up twice more
(median = ``setup_s``), run the workload's closed loop for ``--seconds``,
check every result against the DuckDB oracle, and print one JSON line.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` times each op
layer by layer under per-call job groups and reports the per-layer
metrics. The line before the result carries the run's environment,
sample counts and per-kind detail. Everything the run writes lives under
``.txbench_work/`` in the repository root and is removed at exit. See
txbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "concordium_transaction_logger_spark"

SF = 0.01  # corpus scale: 10k events, 500 documents, 60k lineitems
SETUP_REPS = 2  # warm set-up repetitions; setup_s is their median
DRIVER_MEM = "8g"  # bench.py's GC-cliff setting


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream_ingest", "analytics_headline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> int:
    """Pin the engine's knobs and keep every file the JVM, Spark and
    Python write inside ``work``; must run before pyspark starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("CTL_SHUFFLE_PARTITIONS", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Stage progress bars off: stdout carries only the result lines.
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    import tempfile

    tempfile.tempdir = tmp
    return cpus


def median(values):
    return statistics.median(values) if values else None


def summarize(w, cpus, seed, seconds, traced, setup, extra) -> dict:
    """The result line's metrics and the info line's detail."""
    from spans import pct

    good = w.samples()
    ms = [op.ms for op in good]
    items = sum(op.items for op in good)
    failed = sum(not op.ok for op in w.ops)
    warm = setup["reps"][1:]
    samples = {"setup_s": len(warm)}
    peak_rss_mb = extra["peak_rss_mb"]
    if traced:
        phases = {p: [op.phases[p] for op in good] for p in ("construct", "plan", "execute", "deliver")}
        counts = {k: [op.counts[k] for op in good] for k in ("jobs", "construct_jobs", "stages", "tasks")}
        metrics = {
            "session.start_s": (setup["session_start_s"], "s"),
            "setup.cold_s": (setup["reps"][0]["total_s"], "s"),
            "setup.warmup_s": (setup["warmup_s"] + w.detail.get("warm_tick_s", 0.0), "s"),
            "setup.session_restart_s": (median([r["session_s"] for r in warm]), "s"),
            "setup.state_build_s": (median([r["build_s"] for r in warm]), "s"),
            "op.construct_ms": (median(phases["construct"]), "ms"),
            "op.plan_ms": (median(phases["plan"]), "ms"),
            "op.execute_ms": (median(phases["execute"]), "ms"),
            "op.deliver_ms": (median(phases["deliver"]), "ms"),
            "op.traced_ms": (median(ms), "ms"),
            "op.jobs": (median(counts["jobs"]), "count"),
            "op.construct_jobs": (median(counts["construct_jobs"]), "count"),
            "op.stages": (median(counts["stages"]), "count"),
            "op.tasks": (median(counts["tasks"]), "count"),
            "sources.load_table_ms": (extra["load_table_ms"], "ms"),
            "sources.load_table_jobs": (extra["load_table_jobs"], "count"),
            "cache.pinned_mb": (extra["pinned_mb"], "MB"),
            "cache.pinned_rdds": (extra["pinned_rdds"], "count"),
            "memory.peak_rss_mb": (peak_rss_mb, "MB"),
        }
        for name in metrics:
            samples[name] = len(good) if name.startswith("op.") else 1
        samples["sources.load_table_ms"] = samples["sources.load_table_jobs"] = extra["tables"]
    else:
        cpu = [op.cpu_ms for op in good]
        metrics = {
            "setup_s": (median([r["total_s"] for r in warm]), "s"),
            "op_cpu_ms": (median(cpu), "ms"),
            # Items (ingested events + documents, or queries) per second
            # of CPU time the JVM and the driver spent on the ops.
            "items_per_cpu_s": (items / (sum(cpu) / 1e3), "1/s"),
        }
        samples.update(op_cpu_ms=len(cpu), items_per_cpu_s=len(cpu))
    import pyspark

    info = {
        "workload": w.name, "seed": seed, "seconds": seconds, "trace": int(traced),
        "sf": SF, "cpus": cpus, "driver_mem": DRIVER_MEM,
        "pyspark": pyspark.__version__, "samples": samples,
        "attempted": len(w.ops), "failed": failed,
        "error_rate": failed / len(w.ops) if w.ops else None,
        "peak_rss_mb": peak_rss_mb,
        # Wall-clock figures: what a user waits, but on a shared host they
        # follow its load (see README.md).
        "op_p50_ms": median(ms),
        "op_p90_ms": pct(ms, 0.9) if ms else None,
        "items_per_s": items / (sum(ms) / 1e3) if ms else None,
        "setup": setup, "detail": w.detail, "kinds": by_kind(w, traced),
    }
    return {
        "correct": failed == 0 and bool(w.ops),
        "attempted": len(w.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, info


def by_kind(w, traced) -> dict:
    """Per-kind sample counts and medians (per module for the headline
    slice), the breakdown behind the aggregate op metrics."""
    group = getattr(w, "QUERIES", {})
    out: dict = {}
    for op in w.ops:
        out.setdefault(group.get(op.kind, op.kind), []).append(op)
    res = {}
    for k, ops in sorted(out.items()):
        r = {"n": len(ops), "failed": sum(not o.ok for o in ops),
             "ms_p50": median([o.ms for o in ops])}
        if traced:
            for p in ("construct", "plan", "execute", "deliver"):
                r[f"{p}_ms_sum"] = sum(o.phases.get(p, 0.0) for o in ops)
            for c in ("jobs", "construct_jobs", "stages"):
                r[f"{c}_sum"] = sum(o.counts.get(c, 0) for o in ops)
        res[k] = r
    return res


def load_table_probe(spark, data_dir, jobs) -> dict:
    """Direct calls into ``sources.tables.load_table``, one per table,
    each under its own job group."""
    from spans import now

    from concordium_transaction_logger_spark.sources.tables import TABLES, load_table

    ms, groups = [], []
    for name in TABLES:
        groups.append(jobs.group(f"load_table-{name}"))
        t = now()
        load_table(spark, data_dir, name)
        ms.append((now() - t) * 1e3)
    jobs.clear()
    jobs.drain()
    return {
        "load_table_ms": median(ms),
        "load_table_jobs": median([jobs.counts(g)["jobs"] for g in groups]),
        "tables": len(TABLES),
    }


def stop_engine() -> None:
    """Stop the active context and the JVM behind it, and wait for the
    JVM; a no-op when no JVM was started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, work: str, cpus: int) -> tuple[dict, dict]:
    import datagen
    from spans import Jobs, cpu_seconds, jvm_hwm_mb, jvm_pid, now, pinned, python_hwm_mb
    from workloads import WORKLOADS

    from concordium_transaction_logger_spark import build_session

    def new_session():
        s = build_session("txbench")
        s.sparkContext.setLogLevel("ERROR")
        return s

    traced = bool(args.trace)
    data_dir = os.path.join(work, "data")
    rows = datagen.generate(data_dir, args.seed, SF)
    pid = None
    w = WORKLOADS[args.workload](work, data_dir, args.seed, lambda: cpu_seconds(pid))
    setup: dict = {"rows": rows, "reps": []}

    def setup_rep(spark=None):
        """One set-up: a session (JVM launch the first time, a restart on
        the running JVM after) and the workload's state build."""
        t = now()
        if spark is not None:
            spark.stop()
        spark = new_session()
        t1 = now()
        steps = w.prepare(spark)
        t2 = now()
        setup["reps"].append(
            {"total_s": t2 - t, "session_s": t1 - t, "build_s": t2 - t1, "steps": steps}
        )
        return spark

    try:
        # The first set-up is cold (JVM launch, first-use compilation) and
        # is reported on its own; setup_s is the median of the warm ones.
        spark = setup_rep()
        setup["session_start_s"] = setup["reps"][0]["session_s"]
        pid = jvm_pid(spark)
        t = now()
        w.warmup(spark)
        setup["warmup_s"] = now() - t
        for _ in range(SETUP_REPS):
            spark = setup_rep(spark)
        jobs = Jobs(spark) if traced else None
        w.run(spark, args.seconds, jobs)
        extra: dict = {}
        if traced:
            jobs.drain()
            w.resolve(jobs)
            extra["pinned_mb"], extra["pinned_rdds"] = pinned(spark)
            extra.update(load_table_probe(spark, data_dir, jobs))
        w.check(spark)
        extra["peak_rss_mb"] = jvm_hwm_mb(pid) + python_hwm_mb()
    finally:
        stop_engine()
    return summarize(w, cpus, args.seed, args.seconds, traced, setup, extra)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"txbench: no {PACKAGE}/ next to txbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".txbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        cpus = pin_environment(work)
        sys.path[:0] = [HERE, ROOT]
        result, info = measure(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"txbench": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
