"""The shared store lifecycle (io/store.py ``publish``), exercised with
plain-file builds — no Spark: hits, failed builds, rename failures,
replace, sibling artifacts, dead-stage reaping and a many-thread race.
Plus a source scan that keeps every store on this one lifecycle."""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys
import threading
import time

import pytest

from github_miner_spark.io import store
from github_miner_spark.io.store import publish

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _writer(content: str, calls: list | None = None):
    def build(stage: str) -> None:
        if calls is not None:
            calls.append(content)
        with open(os.path.join(stage, "data.txt"), "w") as f:
            f.write(content)

    return build


def _read(target: str) -> str:
    with open(os.path.join(target, "data.txt")) as f:
        return f.read()


def test_hit_never_calls_build(tmp_path):
    target = str(tmp_path / "key")
    calls: list = []
    assert publish(target, _writer("first", calls)) == target
    assert publish(target, _writer("second", calls)) == target
    assert calls == ["first"]
    assert _read(target) == "first"


def test_failed_build_leaves_no_target_and_no_stage(tmp_path):
    target = str(tmp_path / "key")

    def build(stage: str) -> None:
        with open(os.path.join(stage, "partial.txt"), "w") as f:
            f.write("half")
        raise RuntimeError("build broke")

    with pytest.raises(RuntimeError, match="build broke"):
        publish(target, build)
    assert os.listdir(tmp_path) == []


def test_rename_failure_without_winner_raises(tmp_path, monkeypatch):
    target = str(tmp_path / "key")

    def broken_rename(src, dst):
        raise OSError("disk said no")

    monkeypatch.setattr(store.os, "rename", broken_rename)
    with pytest.raises(OSError, match="disk said no"):
        publish(target, _writer("x"))
    assert os.listdir(tmp_path) == []


def test_replace_serves_new_content_and_leaves_no_aside(tmp_path):
    target = str(tmp_path / "key")
    publish(target, _writer("old"))
    calls: list = []
    assert publish(target, _writer("new", calls), replace=True) == target
    assert calls == ["new"]
    assert _read(target) == "new"
    assert os.listdir(tmp_path) == ["key"]


def test_replace_keeps_old_copy_when_rename_fails(tmp_path, monkeypatch):
    target = str(tmp_path / "key")
    publish(target, _writer("old"))
    real_rename = os.rename
    failed: list = []

    def rename(src, dst):
        # fail only the swap of the new copy into place
        if dst == target and not failed:
            failed.append(src)
            raise OSError("disk said no")
        real_rename(src, dst)

    monkeypatch.setattr(store.os, "rename", rename)
    with pytest.raises(OSError, match="disk said no"):
        publish(target, _writer("new"), replace=True)
    assert _read(target) == "old"
    assert os.listdir(tmp_path) == ["key"]


def test_sibling_artifacts_under_one_key_dir(tmp_path):
    """The walk store shape: two schemes, one shared key dir, each its
    own published target."""
    key = tmp_path / "key"
    det = publish(str(key / "walks_det.parquet"), _writer("det"))
    n2v = publish(str(key / "walks_n2v.parquet"), _writer("n2v"))
    calls: list = []
    publish(det, _writer("again", calls))
    assert calls == []
    assert _read(det) == "det" and _read(n2v) == "n2v"
    assert sorted(os.listdir(key)) == ["walks_det.parquet", "walks_n2v.parquet"]


def test_dead_pid_stage_is_reaped_and_live_pid_stage_kept(tmp_path):
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    dead = tmp_path / f".other.building-{proc.pid}-abc"
    live = tmp_path / f".other.building-{os.getpid()}-def"
    for d in (dead, live):
        d.mkdir()
        (d / "part-0").write_text("x")
    publish(str(tmp_path / "key"), _writer("x"))
    assert not dead.exists()
    assert live.exists()


def test_thread_race_one_build_served_no_stage_left(tmp_path):
    target = str(tmp_path / "key")
    n = 2 * (os.cpu_count() or 2) + 2
    start = threading.Barrier(n)
    results: list = []
    errors: list = []

    def racer(i: int) -> None:
        def build(stage: str) -> None:
            time.sleep(0.01)
            with open(os.path.join(stage, "data.txt"), "w") as f:
                f.write(f"build-{i}")

        try:
            start.wait(timeout=30)
            results.append(publish(target, build))
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert errors == []
    assert results == [target] * n
    assert os.listdir(target) == ["data.txt"]
    assert re.fullmatch(r"build-\d+", _read(target))
    assert os.listdir(tmp_path) == ["key"]


def test_stores_use_only_the_shared_lifecycle():
    """No store module may hand-roll its own build-stage-rename copy:
    staging, renaming and cleanup live in io/store.py alone."""
    pkg = os.path.join(REPO, "github_miner_spark")
    files = [os.path.join(pkg, "graph", "store.py")] + sorted(
        glob.glob(os.path.join(pkg, "functions", "*_store.py"))
    )
    assert len(files) >= 12
    banned = re.compile(r"\bmkdtemp\b|\bos\.rename\b|\brmtree\b")
    offenders = []
    for path in files:
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                if banned.search(line):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{lineno}: {line.strip()}")
    assert offenders == []
