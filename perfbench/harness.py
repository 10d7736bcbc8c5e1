"""One benchmark run: isolate, start the engine, drive one workload with
a closed loop of one client, check every op, and summarize.

Clock rules:
- ``setup_s`` runs from process start to the first timed op, minus
  harness-only work (input generation, oracle fingerprints, per-op
  input staging and output checks).
- An op's latency runs from the call that builds it to its last row
  (or, for a write, to the return of the job); its staging and its
  check are outside it.
- The timed phase runs ``timed_passes(seconds)`` whole passes over
  the op types (a seeded shuffle of them where the workload asks for
  it): about ``seconds`` of op time on the 4-vCPU reference machine,
  and the same ops in every run of a workload however fast the
  machine or the program is.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import (
    CATALYST_PHASES,
    STORE_LOAD,
    STORE_MATERIALIZE,
    Tracer,
    catalyst_phases,
    covered_seconds,
    event_log_conf,
    outermost,
    outermost_seconds,
    parse_event_log,
    self_seconds,
)
from perfbench.workloads import WORKLOADS, Op

STORE_ENV = (
    "GRAPH", "PQ", "IVF", "WALK", "TEXT", "IVFPQ", "BPE", "BUCKET", "INT8",
    "CLUSTERED", "GRAPH_STATS", "UNIGRAM", "WORDPIECE",
)

DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_geomean_s": "s",
    "ops_per_s": "1/s",
    "correct_frac": "frac",
    "peak_rss_mb": "MB",
}

# span name -> per-layer metric (seconds per timed op)
SPAN_METRICS = {
    "graph.store.load": "graph.store.load_s",
    "io.load_table": "io.load_table_s",
    STORE_LOAD: "functions.store_load_s",
    "cypher.run": "cypher.run_s",
    "etl.read_manifest_lake": "etl.read_manifest_lake_s",
    "etl.expand_module_closure": "etl.expand_module_closure_s",
    "etl.merge_append": "etl.merge_append_s",
    "etl.run_mining_job": "etl.run_mining_job_s",
    "streaming.drain_lake": "streaming.drain_lake_s",
}
ALGORITHMS = (
    "pagerank", "connected_components", "strongly_connected_components",
    "label_propagation", "bfs_depths",
)
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "graph.store.materialize_s": "s",
    "graph.store.load_s": "s",
    "graph.store.load_jobs": "count",
    "io.load_table_s": "s",
    "functions.store_build_s": "s",
    "functions.store_hit_ratio": "frac",
    "functions.store_load_s": "s",
    "queries.build_s": "s",
    "queries.jobs_before_action": "count",
    "queries.collect_s": "s",
    "cypher.run_s": "s",
    **{f"catalyst.{p}_s": "s" for p in CATALYST_PHASES},
    **{f"graph.algorithms.{a}.call_s": "s" for a in ALGORITHMS},
    "etl.read_manifest_lake_s": "s",
    "etl.expand_module_closure_s": "s",
    "etl.merge_append_s": "s",
    "etl.run_mining_job_s": "s",
    "streaming.drain_lake_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.empty_task_frac": "frac",
    "spark.failed_tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.scheduler_delay_s": "s",
    "shuffle.read_bytes": "B",
    "shuffle.write_bytes": "B",
    "spill.disk_bytes": "B",
    "driver.gap_s": "s",
    "trace.overhead_frac": "frac",
}


@dataclass
class OpRecord:
    id: str
    type: str
    timed: bool
    traced: bool
    start: float = 0.0  # epoch seconds
    latency: float = 0.0
    ok: bool = False
    raised: bool = False
    error: str | None = None
    layers: dict = field(default_factory=dict)


class Run:
    """State of one benchmark process."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str, t0: float):
        self.workload = WORKLOADS[workload](seed)
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.t0 = t0
        self.excluded = 0.0  # harness-only seconds inside the setup window
        self.records: list[OpRecord] = []
        self.counts: dict[str, int] = {}
        self.tracer = Tracer()
        self.spark = None
        self.phases: dict[str, float] = {}

    # -- clocks ------------------------------------------------------------

    def mark(self, phase: str) -> None:
        """Wall seconds since process start at the end of ``phase``."""
        self.phases[phase] = round(time.time() - self.t0, 3)

    @contextmanager
    def harness(self):
        """Time spent here is the harness's, not the program's."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    # -- environment -----------------------------------------------------------

    def isolate(self) -> str:
        """A per-run directory inside the checkout for every store root,
        Spark's scratch space and the warehouse, so leftovers of other
        runs are never read."""
        base = os.path.join(self.root, ".perfbench_run")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{self.workload.name}-", dir=base)
        for name in STORE_ENV:
            os.environ[f"SPARK_GRAFT_{name}_STORE"] = os.path.join(self.dir, "stores", name.lower())
        os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(self.dir, "ckpt")
        os.environ["SPARK_GRAFT_GEPHI_DIR"] = os.path.join(self.dir, "gephi")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.makedirs(os.environ["TMPDIR"])
        tempfile.tempdir = None
        # Python workers import the program and the fetcher from here
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        # the engine's 8g default heap would let one run hold several GB
        # of the shared machine; these inputs need far less
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        return self.dir

    def start_spark(self):
        from github_miner_spark import session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            self.log_dir = os.path.join(self.dir, "eventlog")
            os.makedirs(self.log_dir)
            conf.update(event_log_conf(self.log_dir))
        t = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload.name}",
            master=f"local[{self.cpus}]",
            extra_conf=conf,
        )
        self.get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_spark(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    # -- ops -------------------------------------------------------------------

    def run_op(self, op_type: str, timed: bool, traced: bool) -> OpRecord:
        k = self.counts.get(op_type, 0)
        self.counts[op_type] = k + 1
        rec = OpRecord(f"op{len(self.records):05d}", op_type, timed, traced)
        if traced:
            rec.layers["jobs_probe"] = self.tracer.jobs_in_op
        self.records.append(rec)
        sc = self.spark.sparkContext
        with self.harness():
            op: Op = self.workload.op(op_type, k)
            if op.prep is not None:
                op.prep()
        sc.setJobGroup(rec.id, op_type)
        self.tracer.op = rec.id
        self.tracer.enabled = traced
        result = None
        rec.start = time.time()
        t = time.perf_counter()
        try:
            result = op.run(rec.layers)
        except Exception as exc:  # a failed op is counted, never fatal
            rec.raised = True
            rec.error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        rec.latency = time.perf_counter() - t
        self.tracer.enabled = False
        with self.harness():
            df = rec.layers.pop("df", None)
            rec.layers.pop("jobs_probe", None)
            if traced and df is not None:
                rec.layers.update(catalyst_phases(df))
            if rec.error is None:
                try:
                    rec.ok = bool(op.check(result))
                except Exception as exc:
                    rec.error = f"check {type(exc).__name__}: {exc}".splitlines()[0][:300]
                if not rec.ok and rec.error is None:
                    rec.error = "wrong result"
        return rec

    def loop(self) -> None:
        rng = random.Random(self.seed)
        types = list(self.workload.op_types)
        warm = types[:]
        if self.workload.shuffle:
            rng.shuffle(warm)
        for t in warm:
            self.run_op(t, timed=False, traced=self.trace)
        self.mark("warm_pass")
        self.setup_s = time.time() - self.t0 - self.excluded
        cpu0 = _cpu_ticks()
        busy = 0.0
        n_passes = self.workload.timed_passes(self.seconds)
        if self.trace:
            n_passes = max(n_passes, 2)
        for passes in range(n_passes):
            order = types[:]
            if self.workload.shuffle:
                rng.shuffle(order)
            # a traced run traces half the op types in one pass and the
            # other half in the next, so over two passes each type runs
            # once with and once without tracing (trace.overhead_frac)
            # and neither side always runs first while the JVM warms
            for t in order:
                traced = self.trace and (types.index(t) + passes) % 2 == 0
                busy += self.run_op(t, timed=True, traced=traced).latency
        self.busy = busy
        self.mark("timed")
        # share of the machine's CPU time taken by other guests on the
        # host during the timed phase: context for a noisy run
        d = [b - a for a, b in zip(cpu0, _cpu_ticks())]
        self.steal_frac = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0

    # -- summary ---------------------------------------------------------------

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in ("self", str(self.jvm_pid)):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    def end_to_end(self) -> dict[str, float]:
        timed = [r for r in self.records if r.timed]
        # an op that returned a wrong result did its work and keeps its
        # latency; one that raised may have stopped early and does not
        ran = [r for r in timed if not r.raised] or timed
        lat = [r.latency for r in ran]
        by_type: dict[str, list[float]] = {}
        for r in ran:
            by_type.setdefault(r.type, []).append(r.latency)
        self.tail_note, self.tail_s = stats.tail_latency(by_type)
        n_ok = sum(r.ok for r in timed)
        return {
            "setup_s": self.setup_s,
            "latency_p50_s": statistics.median(lat),
            "latency_geomean_s": stats.per_type_geomean(by_type),
            "ops_per_s": n_ok / self.busy,
            "correct_frac": n_ok / len(timed),
            "peak_rss_mb": self.rss_mb,
        }

    def per_layer(self, groups) -> dict[str, float]:
        spans = self.tracer.spans
        ops = [r for r in self.records if r.timed and r.traced]
        n = len(ops)
        ids = {r.id for r in ops}
        m: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
        m["session.get_spark_s"] = self.get_spark_s
        for span_name, metric in SPAN_METRICS.items():
            per_op = outermost_seconds(spans, span_name)
            m[metric] = sum(v for op, v in per_op.items() if op in ids) / n
        m["graph.store.load_jobs"] = (
            sum(s.jobs for s in spans if s.name == "graph.store.load" and s.op in ids) / n
        )
        builds = [s for s in outermost(spans, "graph.store.materialize") if s.jobs > 0]
        if builds:
            m["graph.store.materialize_s"] = statistics.mean(s.duration for s in builds)
        mats = outermost(spans, STORE_MATERIALIZE)
        m["functions.store_build_s"] = sum(s.duration for s in mats if s.jobs > 0)
        if mats:
            m["functions.store_hit_ratio"] = sum(s.jobs == 0 for s in mats) / len(mats)
        for key in ("build_s", "collect_s", "jobs_before_action"):
            m[f"queries.{key}"] = sum(r.layers.get(key, 0.0) for r in ops if r.layers.get("built")) / n
        for p in CATALYST_PHASES:
            m[f"catalyst.{p}_s"] = sum(r.layers.get(p, 0.0) for r in ops) / n
        for a in ALGORITHMS:
            lat = [r.latency for r in ops if r.type == a]
            if lat:
                m[f"graph.algorithms.{a}.call_s"] = statistics.median(lat)
        tasks = empty = 0
        for r in ops:
            g = groups.get(r.id)
            if g is None:
                continue
            m["spark.jobs_per_op"] += g.jobs / n
            m["spark.stages_per_op"] += g.stages / n
            m["spark.tasks_per_op"] += g.tasks / n
            m["spark.failed_tasks"] += g.failed_tasks
            m["executor.run_s"] += g.run_s / n
            m["executor.cpu_s"] += g.cpu_s / n
            m["executor.gc_s"] += g.gc_s / n
            m["executor.scheduler_delay_s"] += g.scheduler_delay_s / n
            m["shuffle.read_bytes"] += g.shuffle_read_bytes / n
            m["shuffle.write_bytes"] += g.shuffle_write_bytes / n
            m["spill.disk_bytes"] += g.spill_disk_bytes / n
            busy = covered_seconds(g.stage_intervals, r.start, r.start + r.latency)
            m["driver.gap_s"] += (r.latency - busy) / n
            tasks += g.tasks
            empty += g.empty_tasks
        m["spark.empty_task_frac"] = empty / tasks if tasks else 0.0
        m["trace.overhead_frac"] = self.overhead_frac()
        return m

    def overhead_frac(self) -> float:
        """Geometric mean over op types of traced / untraced median
        latency in the timed passes, minus one."""
        ratios = []
        for t in self.workload.op_types:
            on = [r.latency for r in self.records if r.timed and r.type == t and r.traced and r.ok]
            off = [r.latency for r in self.records if r.timed and r.type == t and not r.traced and r.ok]
            if on and off:
                ratios.append(statistics.median(on) / statistics.median(off))
        return stats.geomean(ratios) - 1.0 if ratios else 0.0

    def layers_by_type(self, groups) -> dict[str, dict[str, float]]:
        """Per op type: mean jobs, stages, tasks and span seconds of the
        traced timed ops (the breakdown behind the per-layer means)."""
        out: dict[str, dict[str, float]] = {}
        spans_by_op: dict[str, dict[str, float]] = {}
        for name in SPAN_METRICS:
            for op, v in outermost_seconds(self.tracer.spans, name).items():
                spans_by_op.setdefault(op, {})[SPAN_METRICS[name]] = v
        for t in self.workload.op_types:
            ops = [r for r in self.records if r.timed and r.traced and r.type == t]
            if not ops:
                continue
            row: dict[str, float] = {"latency_s": statistics.median(r.latency for r in ops)}
            for r in ops:
                g = groups.get(r.id)
                vals = dict(spans_by_op.get(r.id, {}))
                if g is not None:
                    vals.update(jobs=g.jobs, stages=g.stages, tasks=g.tasks, executor_run_s=g.run_s)
                for key in ("build_s", "collect_s", "jobs_before_action", *CATALYST_PHASES):
                    if key in r.layers:
                        vals[key] = r.layers[key]
                for k, v in vals.items():
                    row[k] = row.get(k, 0.0) + v / len(ops)
            out[t] = {k: round(v, 6) for k, v in row.items()}
        return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _event_log_lines(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            yield from f


def execute(workload: str, seed: int, seconds: float, trace: bool, root: str, t0: float) -> dict:
    """One full run; returns the result object (see run.py)."""
    run = Run(workload, seed, seconds, trace, root, t0)
    run.isolate()
    try:
        with run.harness():
            inputs = os.path.join(run.dir, "inputs")
            os.makedirs(inputs)
            run.workload.prepare(inputs)
        run.mark("prepare")
        run.start_spark()
        run.mark("get_spark")
        if trace:
            run.tracer.install()
        run.tracer.enabled = trace
        run.tracer.op = "setup"  # job group of the set-up work
        run.spark.sparkContext.setJobGroup("setup", "setup")
        run.workload.start(run.spark, run.harness)
        run.tracer.enabled = False
        run.mark("start")
        run.loop()
        run.rss_mb = run.peak_rss_mb()
        e2e = run.end_to_end()
        run.stop_spark()
        run.mark("stop")
        groups = parse_event_log(_event_log_lines(run.log_dir)) if trace else {}
        return report(run, e2e, groups)
    finally:
        run.stop_spark()
        shutil.rmtree(run.dir, ignore_errors=True)


def report(run: Run, e2e: dict[str, float], groups) -> dict:
    timed = [r for r in run.records if r.timed]
    failed = [r for r in timed if not r.ok]
    failing = sorted({r.type for r in failed})
    print(
        f"perfbench: {run.workload.name} seed={run.seed} trace={int(run.trace)} "
        f"cpus={run.cpus} ops={len(timed)} failed={len(failed)} "
        f"failed_frac={len(failed) / len(timed):.4f} failing={failing}"
    )
    print(
        f"perfbench: latency_tail_s {run.tail_s:.4f} s, {run.tail_note}"
    )
    medians = {
        t: round(statistics.median(r.latency for r in timed if r.type == t), 4)
        for t in run.workload.op_types
        if any(r.type == t for r in timed)
    }
    print(f"perfbench: median latency by op type (s) {json.dumps(medians)}")
    print(f"perfbench: wall seconds since start at the end of each phase {json.dumps(run.phases)}")
    print(f"perfbench: cpu steal during the timed phase {run.steal_frac:.3f}")
    for r in failed[:20]:
        print(f"perfbench: failed {r.id} {r.type}: {r.error}")
    if run.trace:
        metrics = run.per_layer(groups)
        units = PER_LAYER_UNITS
        out_dir = os.path.join(run.root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{run.workload.name}-seed{run.seed}-trace.json")
        by_type = run.layers_by_type(groups)
        with open(path, "w") as f:
            json.dump(
                {
                    "per_layer": metrics,
                    "by_op_type": by_type,
                    "ops": [
                        {k: v for k, v in vars(r).items() if k != "layers"} | {"layers": r.layers}
                        for r in run.records
                    ],
                    "spans": [
                        vars(s) | {"self_s": self_s}
                        for s, self_s in zip(run.tracer.spans, self_seconds(run.tracer.spans))
                    ],
                },
                f,
                default=str,
            )
        for t, row in by_type.items():
            print(f"perfbench: layers {t} {json.dumps(row, sort_keys=True)}")
        print(f"perfbench: spans and per-op records written to {os.path.relpath(path, run.root)}")
    else:
        metrics, units = e2e, END_TO_END_UNITS
    return {
        "correct": not failed,
        "attempted": len(timed),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
