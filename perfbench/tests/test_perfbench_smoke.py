"""Smoke run: one op of every op type of every workload at tiny size,
each checked, in a fresh interpreter (the engine reads its store roots
from the environment at import, so the run must isolate first)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRIPT = textwrap.dedent(
    """
    import json, os, shutil, sys, time
    sys.path.insert(0, {root!r})
    from perfbench import harness, workloads as W

    # tiny inputs; the op code paths are the benchmark's own
    W.ANALYST_SF = 0.001
    W.GRAPH_VERTICES = 300
    W.SCC_TASK_EDGES = 200
    W.INGEST_REPOS, W.INGEST_OWNERS, W.INGEST_MODULES = 12, 4, 60
    W.DELTA_REPOS, W.MINING_WINDOWS, W.INGEST_SF = 2, 2, 0.0005

    results = {{}}
    dirs = []
    run = None
    for name in W.WORKLOADS:
        prev = run
        run = harness.Run(name, 3, 0, False, {root!r}, time.time())
        dirs.append(run.isolate())
        inputs = os.path.join(run.dir, "inputs")
        os.makedirs(inputs)
        run.workload.prepare(inputs)
        if prev is None:
            run.start_spark()
        else:  # one JVM for all three workloads
            run.spark, run.jvm_pid = prev.spark, prev.jvm_pid
            prev.spark = None
        run.workload.start(run.spark, run.harness)
        for t in run.workload.op_types:
            rec = run.run_op(t, timed=True, traced=False)
            results[f"{{name}}/{{t}}"] = rec.error or "ok"
    run.stop_spark()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(results))
    """
)


def test_one_op_per_type_passes_its_check(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=ROOT)],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    results = json.loads(proc.stdout.strip().splitlines()[-1])
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    assert len(results) == sum(len(w.op_types) for w in WORKLOADS.values())
    bad = {k: v for k, v in results.items() if v != "ok"}
    assert not bad, bad
