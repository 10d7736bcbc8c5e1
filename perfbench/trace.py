"""Traced-run tooling: spans around layer entry points, Spark job
attribution by job group, and the event-log parser.

Spans are recorded from outside the program: ``install`` replaces a
layer's public function with a wrapper on its defining module and on
every already-imported ``github_miner_spark`` module that bound the
same object by name. Call it before ``registry.load_all`` so the
query modules bind the wrappers when they import.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, function-name prefix or name, span name). A trailing "*"
# matches every public function with that prefix.
LAYER_ENTRY_POINTS: tuple[tuple[str, str, str], ...] = (
    ("github_miner_spark.graph.store", "materialize_graph", "graph.store.materialize"),
    ("github_miner_spark.graph.store", "load_graph", "graph.store.load"),
    ("github_miner_spark.io.tables", "load_table", "io.load_table"),
    ("github_miner_spark.cypher", "run_cypher", "cypher.run"),
    ("github_miner_spark.cypher", "run_cypher_script", "cypher.run"),
    ("github_miner_spark.etl.package_json", "read_manifest_lake", "etl.read_manifest_lake"),
    ("github_miner_spark.etl.insert", "expand_module_closure", "etl.expand_module_closure"),
    ("github_miner_spark.etl.merge", "merge_append", "etl.merge_append"),
    ("github_miner_spark.etl.mining", "run_mining_job", "etl.run_mining_job"),
    ("github_miner_spark.streaming.mining", "drain_lake", "streaming.drain_lake"),
)
STORE_MODULES = (
    "bpe_store", "clustered_store", "graph_stats_store", "int8_store", "ivf_store",
    "ivfpq_store", "pq_store", "text_store", "unigram_store", "walk_store",
    "wordpiece_store",
)
STORE_MATERIALIZE = "functions.store_materialize"
STORE_LOAD = "functions.store_load"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    jobs: int = 0  # Spark jobs the call launched

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``op`` is the current op id, which is
    also the Spark job group, so spans and jobs share one key."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.op: str | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def jobs_in_op(self) -> int:
        if self.sc is None or self.op is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self.op))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent=parent, op=self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        jobs0 = self.jobs_in_op()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = self.jobs_in_op() - jobs0
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> None:
        """Wrap every layer entry point (see module docstring)."""
        targets = list(LAYER_ENTRY_POINTS)
        for mod in STORE_MODULES:
            targets.append((f"github_miner_spark.functions.{mod}", "materialize_*", STORE_MATERIALIZE))
            targets.append((f"github_miner_spark.functions.{mod}", "load_*", STORE_LOAD))
        targets.append(("github_miner_spark.io.bucketed", "ensure_bucketed_edges", STORE_MATERIALIZE))
        replaced: dict[int, object] = {}
        for mod_name, pattern, span_name in targets:
            mod = importlib.import_module(mod_name)
            if pattern.endswith("*"):
                names = [
                    a for a in vars(mod)
                    if a.startswith(pattern[:-1]) and callable(getattr(mod, a))
                    and getattr(getattr(mod, a), "__module__", None) == mod_name
                ]
            else:
                names = [pattern]
            for attr in names:
                fn = getattr(mod, attr)
                if hasattr(fn, "__perfbench_original__"):
                    continue
                wrapped = self.wrap(fn, span_name)
                setattr(mod, attr, wrapped)
                replaced[id(fn)] = wrapped
        # rebind names that other modules already imported by reference
        for name, mod in list(sys.modules.items()):
            if not name.startswith("github_miner_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in replaced and replaced[id(val)] is not val:
                    setattr(mod, attr, replaced[id(val)])


def outermost(spans: list[Span], name: str) -> list[Span]:
    """The ``name`` spans that have no ancestor of the same name, so
    recursive or nested calls count once."""
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


def outermost_seconds(spans: list[Span], name: str) -> dict[str | None, float]:
    """Per op: total duration of the outermost ``name`` spans."""
    out: dict[str | None, float] = defaultdict(float)
    for s in outermost(spans, name):
        out[s.op] += s.duration
    return out


def self_seconds(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.duration
    return [s.duration - c for s, c in zip(spans, child)]


# ---------------------------------------------------------------------------
# Catalyst phases
# ---------------------------------------------------------------------------

CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in each Catalyst phase of ``df``'s QueryExecution
    (``queryExecution().tracker().phases()``)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark settings for one uncompressed, non-rolling JSON event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class GroupStats:
    """Scheduler and executor totals for one job group (one op)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    empty_tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse_event_log(lines) -> dict[str | None, GroupStats]:
    """Attribute jobs, stages and tasks to job groups. ``lines`` is any
    iterable of the log's JSON lines. Stage intervals are epoch
    seconds (submission, completion) of stages that ran."""
    stats: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            stats[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_group[info["Stage ID"]] = _group(ev.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is None or done is None:
                continue
            stats[g].stages += 1
            stats[g].stage_intervals.append((sub / 1000.0, done / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            st = stats[g]
            st.tasks += 1
            info = ev.get("Task Info", {})
            if info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            read = m.get("Input Metrics", {}).get("Records Read", 0) + sr.get("Total Records Read", 0)
            written = m.get("Output Metrics", {}).get("Records Written", 0) + sw.get(
                "Shuffle Records Written", 0
            )
            if read == 0 and written == 0:
                st.empty_tasks += 1
            run_ms = m.get("Executor Run Time", 0)
            st.run_s += run_ms / 1000.0
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            overhead = (
                run_ms
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            st.scheduler_delay_s += max(0, duration - overhead) / 1000.0
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(stats)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
