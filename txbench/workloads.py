"""The benchmark's workloads: what each one prepares, warms, runs and checks.

Both workloads are closed loops with one client thread. A run repeats
whole units (a replay pass, a pass over the queries) until the measuring
window is spent, so every run does the same mix. The op the metrics see
is one ingest tick or one pass over the queries. Result checks run after
the window.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen
from checks import Oracle, digest
from spans import Jobs, Progress, batches, now

from concordium_transaction_logger_spark import cache
from concordium_transaction_logger_spark.ingest import derive
from concordium_transaction_logger_spark.ingest.oracle import wrap
from concordium_transaction_logger_spark.operators import similarity, textstats
from concordium_transaction_logger_spark.registry import REGISTRY
from concordium_transaction_logger_spark.streaming import pipeline

PHASES = ("construct", "plan", "execute", "deliver")


@dataclass
class Op:
    kind: str
    ms: float  # untraced: wall of the op; traced: sum of its phases
    cpu_ms: float = 0.0  # CPU time of the JVM and the driver during the op
    items: int = 1
    ok: bool = True
    unit: int = 0  # index of the window unit (pass) the op ran in
    phases: dict = field(default_factory=dict)  # traced only, ms per phase
    groups: dict = field(default_factory=dict)  # traced only, phase -> job group
    counts: dict = field(default_factory=dict)  # traced only, filled by resolve()


def _log_failure(what: str) -> None:
    print(f"txbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def batch_op(jobs: Jobs | None, cpu, kind: str, build):
    """Run one DataFrame-returning call to its pandas result; ``cpu()``
    reads the CPU seconds used so far.

    Untraced: one wall span, construct -> ``toPandas``. Traced: four
    spans, each under its own job group -- construct (the operator call),
    plan (Catalyst's executed plan), execute (a ``noop`` write) and
    deliver (the Arrow ``toPandas``)."""
    c0 = cpu()
    if jobs is None:
        t0 = now()
        pdf = build().toPandas()
        return pdf, Op(kind, (now() - t0) * 1e3, cpu_ms=(cpu() - c0) * 1e3)
    op = Op(kind, 0.0)
    marks = [now()]
    op.groups["construct"] = jobs.group(f"{kind}-construct")
    df = build()
    marks.append(now())
    op.groups["plan"] = jobs.group(f"{kind}-plan")
    df._jdf.queryExecution().executedPlan()
    marks.append(now())
    op.groups["execute"] = jobs.group(f"{kind}-execute")
    df.write.format("noop").mode("overwrite").save()
    marks.append(now())
    op.groups["deliver"] = jobs.group(f"{kind}-deliver")
    pdf = df.toPandas()
    marks.append(now())
    jobs.clear()
    op.phases = {p: (b - a) * 1e3 for p, a, b in zip(PHASES, marks, marks[1:])}
    op.ms = sum(op.phases.values())
    op.cpu_ms = (cpu() - c0) * 1e3
    return pdf, op


def window(seconds: float, unit) -> tuple[int, float]:
    """Call ``unit(i)`` until ``seconds`` have passed, finishing the unit
    under way; returns the number of units run and their wall seconds."""
    start = now()
    n = 0
    while n == 0 or now() - start < seconds:
        unit(n)
        n += 1
    return n, now() - start


class Workload:
    name = ""

    def __init__(self, work: str, data_dir: str, seed: int, cpu):
        self.work = work
        self.data_dir = data_dir
        self.seed = seed
        self.cpu = cpu  # () -> CPU seconds used so far (JVM + driver)
        self.ops: list[Op] = []
        self.detail: dict = {}

    def prepare(self, spark) -> dict[str, float]:
        """Build the session state the workload's ops rely on; returns
        seconds per build step. Timed, with the session start, as one
        set-up repetition."""
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """First use of the workload's ops, untimed, after the first
        ``prepare`` on a cold JVM."""
        raise NotImplementedError

    def run(self, spark, seconds: float, jobs: Jobs | None) -> None:
        raise NotImplementedError

    def check(self, spark) -> None:
        """Verify the results of the window's ops, marking failures."""

    def samples(self) -> list[Op]:
        """The ops the end-to-end and per-layer metrics are taken over:
        every op that completed (a wrong result still took its time)."""
        return [op for op in self.ops if op.ms > 0]

    def resolve(self, jobs: Jobs) -> None:
        """Fill each traced op's job, stage and task counts from its job
        groups (after ``jobs.drain()``)."""
        for op in self.ops:
            if not op.groups:
                continue
            per = {p: jobs.counts(g) for p, g in op.groups.items()}
            op.counts = {
                k: sum(c[k] for c in per.values()) for k in ("jobs", "stages", "tasks")
            }
            op.counts["construct_jobs"] = per["construct"]["jobs"]


def _n_users(spark, data_dir: str) -> dict[str, float]:
    """The user-universe dimension, cached per session (the reference
    seeds its account cache once per node connection)."""
    t = now()
    derive.n_users_for(spark, data_dir)
    return {"n_users": now() - t}


class AnalyticsHeadline(Workload):
    """Passes over a fixed slice of the registry: the wallet's serving
    lookups and one bench-headline query from each other operator module,
    each run to pandas and hash-checked against its oracle SQL."""

    name = "analytics_headline"
    QUERIES = {
        "account_txs_desc": "queries",
        "contract_txs_desc": "queries",
        "incoming_txs": "queries",
        "resume_offset": "queries",
        "nation_revenue": "relational",
        "doc_exact_dup_groups": "dedup",
        "doc_winnow_dup_pairs": "textstats",
        "ann_ivf_topk": "similarity",
        "corpus_curation_verdict": "sampling",
        "hybrid_rrf_topk": "retrieval",
        "customer_fuzzy_matches": "linkage",
    }
    #: Session indexes the slice reads, built at set-up (ingest-time index
    #: maintenance, never per query).
    INDEXES = {
        "block_feed": lambda s, d: derive.block_feed(s, d),
        "centroids_for": lambda s, d: similarity.centroids_for(s, d),
        "ivf_index": lambda s, d: similarity.ivf_index(s, d),
        "winnow_index": lambda s, d: textstats.winnow_index(s, d),
    }

    def __init__(self, *args):
        super().__init__(*args)
        self.rng = random.Random(self.seed)
        self.expected: dict[str, str] = {}

    def prepare(self, spark):
        steps = _n_users(spark, self.data_dir)
        for name, build in self.INDEXES.items():
            t = now()
            build(spark, self.data_dir).count()
            steps[name] = now() - t
        return steps

    #: Two untimed passes: the first timed pass after a single one still
    #: ran 7-25% slower than the next while the JIT caught up.
    WARMUP_PASSES = 2

    def warmup(self, spark):
        for _ in range(self.WARMUP_PASSES):
            for name in self.QUERIES:
                REGISTRY[name].spark(spark, self.data_dir).toPandas()

    def samples(self):
        """A pass over the slice (one dashboard refresh) is the op the
        metrics see; its queries are the items. Phases and counts are
        summed over the pass."""
        out = []
        for i in range(self.detail["units"]):
            ops = [op for op in self.ops if op.unit == i and op.ms > 0]
            if not ops:
                continue
            agg = Op("pass", sum(op.ms for op in ops),
                     cpu_ms=sum(op.cpu_ms for op in ops), items=len(ops), unit=i)
            for op in ops:
                for k, v in op.phases.items():
                    agg.phases[k] = agg.phases.get(k, 0.0) + v
                for k, v in op.counts.items():
                    agg.counts[k] = agg.counts.get(k, 0) + v
            out.append(agg)
        return out

    def run(self, spark, seconds, jobs):
        oracle = Oracle(self.data_dir)
        try:
            self.expected = {n: oracle.digest(REGISTRY[n].oracle) for n in self.QUERIES}
        finally:
            oracle.close()
        before = {k for k, v in cache._CACHES.items() if v}
        names = list(self.QUERIES)

        def unit(i):
            self.rng.shuffle(names)
            for name in names:
                try:
                    pdf, op = batch_op(
                        jobs, self.cpu, name,
                        lambda: REGISTRY[name].spark(spark, self.data_dir),
                    )
                except Exception:
                    _log_failure(f"query {name}")
                    self.ops.append(Op(name, 0.0, ok=False))
                    continue
                op.unit = i
                op.ok = digest(pdf) == self.expected[name]
                if not op.ok:
                    print(f"txbench: {name} differs from the oracle", file=sys.stderr)
                self.ops.append(op)

        self.detail["units"], self.detail["window_s"] = window(seconds, unit)
        self.detail["pass_ms"] = [
            sum(op.ms for op in self.ops if op.unit == i)
            for i in range(self.detail["units"])
        ]
        # A session cache first built inside the window means index work
        # leaked into the timed queries; name it so it is seen.
        self.detail["built_in_window"] = sorted(
            {k for k, v in cache._CACHES.items() if v} - before
        )


class StreamIngest(Workload):
    """Catch-up replay (``Trigger.AvailableNow``, one file per trigger) of
    a staged backlog into fresh sinks, in two legs: the block feed through
    ``StreamingIngest`` and the documents through the curation ingest
    (quality gate + near-duplicate admission). A pass lands the first file
    of each leg, then the rest. The first replay is the warm-up (empty
    sinks, and a cold JVM in the first pass); the ops are the second
    replay's ticks, a tick being the i-th micro-batch of each leg."""

    name = "stream_ingest"
    FILES = 3  # files per leg: one warm-up tick, two timed ticks
    DOCS = 300  # documents replayed (a doc_id prefix), 100 per micro-batch

    def __init__(self, *args):
        super().__init__(*args)
        self.root = os.path.join(self.work, "stream")
        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet"))
        self.n_users = int(np.max(events.column("user_id").to_numpy())) + 1
        self.staged = {
            "block": datagen.split_files(
                events, os.path.join(self.root, "staged_events"), self.FILES, align=8
            ),
            "curation": datagen.split_files(
                docs.slice(0, self.DOCS), os.path.join(self.root, "staged_docs"), self.FILES
            ),
        }
        self.progress: Progress | None = None
        self.passes: list[dict] = []

    def attach(self, spark) -> None:
        """Register the progress listener on this session; per-batch
        latency is read from it, traced or not."""
        self.progress = Progress()
        spark.streams.addListener(self.progress)

    def prepare(self, spark):
        self.attach(spark)
        return _n_users(spark, self.data_dir)

    def _replay(self, spark, out: str, files: slice) -> dict:
        """Let ``files`` of each leg's backlog arrive in the pass's source
        directory (hard links keep the staged arrival mtimes) and catch the
        leg up; returns per leg its wall time, progress events and run
        ids."""
        legs = {}
        for leg, paths in self.staged.items():
            src = os.path.join(out, f"src_{leg}")
            os.makedirs(src, exist_ok=True)
            for path in paths[files]:
                os.link(path, os.path.join(src, os.path.basename(path)))
            self.progress.take()
            t = now()
            if leg == "block":
                pipeline.StreamingIngest(
                    spark, src, os.path.join(out, "block"),
                    os.path.join(out, "block_ck"), n_users=self.n_users,
                    max_files_per_trigger=1,
                ).run_available_now()
            else:
                pipeline.StreamingCorpusIngest(
                    spark, src, os.path.join(out, "corpus"),
                    os.path.join(out, "corpus_ck"), max_files_per_trigger=1,
                    quality_gate=True, near_dup=True,
                ).run_available_now()
            wall = now() - t
            self._wait_progress(len(paths[files]))
            events, runs = self.progress.take()
            legs[leg] = {"wall": wall, "events": events, "runs": runs}
        return legs

    def _wait_progress(self, n: int, timeout: float = 10.0) -> None:
        """Progress events arrive on the listener bus after the query
        ends; wait for the ``n`` input-bearing ones."""
        t = now()
        while now() - t < timeout:
            with self.progress.lock:
                got = sum(1 for p in self.progress.events if p.numInputRows > 0)
            if got >= n:
                return
            time.sleep(0.02)
        raise RuntimeError(f"expected {n} progress events, got {got}")

    def warmup(self, spark):
        """None apart from each pass's first replay (see the class)."""

    def run(self, spark, seconds, jobs):
        def unit(i):
            out = os.path.join(self.root, f"pass{i}")
            warm = self._replay(spark, out, slice(0, 1))
            c0 = self.cpu()
            timed = self._replay(spark, out, slice(1, None))
            cpu_ms = (self.cpu() - c0) * 1e3
            first = sum(
                batches(leg["events"])[0].durationMs["triggerExecution"]
                for leg in warm.values()
            )
            self.detail.setdefault("warm_tick_s", first / 1e3)
            self.passes.append({"out": out, "legs": timed, "first_tick_ms": first})
            ticks = list(zip(batches(timed["block"]["events"]),
                             batches(timed["curation"]["events"])))
            for b, c in ticks:
                op = Op(
                    "tick",
                    float(b.durationMs["triggerExecution"] + c.durationMs["triggerExecution"]),
                    # the second replay's CPU, query starts included
                    cpu_ms=cpu_ms / len(ticks),
                    items=int(b.numInputRows + c.numInputRows),
                    unit=i,
                )
                if jobs is not None:
                    op.phases = _stream_phases(b, c)
                self.ops.append(op)

        self.detail["units"], self.detail["window_s"] = window(seconds, unit)

    def check(self, spark):
        oracle = Oracle(self.data_dir)
        try:
            want_ids = oracle.digest(wrap("SELECT id FROM summaries"))
            want_supply = oracle.digest(REGISTRY["cis2_supply"].oracle)
            want_bindings = oracle.digest(REGISTRY["key_bindings_latest"].oracle)
        finally:
            oracle.close()
        # The curation ingest gates before it deduplicates: a document the
        # gate rejects never enters the dedup state (its reconcile() works
        # on the same gate-passing corpus). So the admitted set is the
        # near-duplicate component keepers (min doc_id) of the
        # gate-passing documents replayed.
        gate = textstats.gate_reason_sql("text", "duckdb")
        gated = Oracle(
            self.data_dir,
            where={"documents": f"doc_id < {self.DOCS} AND ({gate}) = 'ok'"},
        )
        try:
            want_docs = gated.digest(
                f"SELECT doc_id FROM ({REGISTRY['doc_dup_components'].oracle}) c "
                "WHERE doc_id = component_id"
            )
        finally:
            gated.close()
        for i, p in enumerate(self.passes):
            t = now()
            out = p["out"]
            block_ok = (
                digest(pipeline.read_sink(spark, os.path.join(out, "block"), "summaries").select("id").toPandas()) == want_ids
                and digest(pipeline.supply_from_sink(spark, os.path.join(out, "block")).toPandas()) == want_supply
                and digest(pipeline.bindings_from_sink(spark, os.path.join(out, "block")).toPandas()) == want_bindings
            )
            curation_ok = (
                digest(pipeline.corpus_snapshot(spark, os.path.join(out, "corpus")).select("doc_id").toPandas())
                == want_docs
            )
            readback_ms = (now() - t) * 1e3
            ok = {"block": block_ok, "curation": curation_ok}
            for leg, good in ok.items():
                if not good:
                    print(f"txbench: pass {i} {leg} sink differs from the oracle",
                          file=sys.stderr)
            for op in self.ops:
                if op.unit == i and not (block_ok and curation_ok):
                    op.ok = False
            self.detail.setdefault("passes", []).append(
                {"readback_ms": readback_ms, "first_tick_ms": p["first_tick_ms"],
                 **{leg: _leg_summary(out, leg, info, ok[leg])
                    for leg, info in p["legs"].items()}}
            )

    def resolve(self, jobs):
        """Streaming jobs run under the query's run id as job group; each
        leg's counts per micro-batch are its run's totals over its
        input-bearing batches."""
        for p in self.passes:
            for info in p["legs"].values():
                c = [jobs.counts(r) for r in info["runs"]]
                n = len(batches(info["events"]))
                info["per_batch"] = {
                    k: sum(x[k] for x in c) / n for k in ("jobs", "stages", "tasks")
                }
        for op in self.ops:
            legs = self.passes[op.unit]["legs"].values()
            op.counts = {
                k: sum(leg["per_batch"][k] for leg in legs)
                for k in ("jobs", "stages", "tasks")
            }
            # File-source offsets and batches resolve driver-side.
            op.counts["construct_jobs"] = 0



def _leg_summary(out: str, leg: str, info: dict, ok: bool) -> dict:
    """One leg's timed replay for the info line: wall, per-batch latency,
    rows, bytes in its sinks after the pass, and (traced) counts per
    batch."""
    prefix = "block" if leg == "block" else "corpus"
    sink_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for d in os.listdir(out)
        if d.startswith(prefix) and not d.endswith("_ck")
        for root, _, files in os.walk(os.path.join(out, d))
        for f in files
        if not f.startswith((".", "_"))
    )
    done = batches(info["events"])
    rows = sum(p.numInputRows for p in done)
    return {
        "ok": ok,
        "wall_s": info["wall"],
        "batch_ms": [p.durationMs["triggerExecution"] for p in done],
        "rows": rows,
        "sink_bytes": sink_bytes,
        **({"per_batch": info["per_batch"]} if "per_batch" in info else {}),
    }


def _stream_phases(*progress) -> dict[str, float]:
    """Map micro-batch duration fields onto the op phases: the source's
    offset/batch resolution is construct, query planning is plan, the
    foreachBatch body (all sink writes) is execute, and the offset/commit
    log writes are deliver."""
    out = dict.fromkeys(PHASES, 0.0)
    for p in progress:
        d = p.durationMs
        out["construct"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["plan"] += d.get("queryPlanning", 0)
        out["execute"] += d.get("addBatch", 0)
        out["deliver"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    return out


WORKLOADS = {w.name: w for w in (StreamIngest, AnalyticsHeadline)}
