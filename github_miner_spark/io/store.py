"""The one lifecycle every materialized store shares: content-address a
source dir, build once into a staging dir, publish with one rename.

Every store (graph, text/shingle, IVF, PQ, int8, walks, tokenizer
tables, rollups) derives an artifact from source files that never
changes for a given source version. ``content_key`` names that version;
``publish`` makes the artifact appear at its target path all at once:

- A call is a hit when the target directory exists. A target only ever
  appears through a rename, so its existence is the completeness check.
- On a miss, ``build(stage)`` writes into a staging dir beside the
  target, named after the builder's pid, and one ``os.rename`` moves it
  into place. Readers see nothing or a complete artifact, never a half.
- Concurrent builders of one target race on that rename. The loser
  drops its stage and returns the winner's copy (builds are
  deterministic, so both copies are equal). A rename that fails with no
  winner in place raises.
- A failed build removes its stage and re-raises.
- ``replace=True`` always rebuilds. The live copy is renamed aside just
  before the new one is swapped in, so readers never see the target
  missing for longer than two renames.
- Stages left behind by processes that are no longer running (a killed
  build) are reaped by the next miss in the same directory. Stages of
  live pids are kept: they may be another builder's work in progress.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable, Iterable

# The base tables the module graph (and everything derived from it,
# e.g. the walk corpus and the anchor-reach rollup) is built from —
# every store derived from the graph keys on this same list.
GRAPH_BASE_TABLES = (
    "customer.parquet",
    "orders.parquet",
    "part.parquet",
    "lineitem.parquet",
)

_STAGE_MARK = ".building-"
_STAGE_PID = re.compile(re.escape(_STAGE_MARK) + r"(\d+)-")


def content_key(
    sf_dir: str,
    files: Iterable[tuple[str, str]],
    extra: Iterable[str] = (),
) -> str:
    """16-hex content address: abs source path + extra version tokens
    + (tag, size, mtime_ns) per source file — `tag:missing` when a
    file is absent, so a regenerated or partial source dir never
    serves a stale store. ``files`` is (tag, filename) pairs; the tag
    keeps distinct stores over the same file distinguishable (e.g.
    the PQ store tags embeddings.parquet as 'embeddings-pq')."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for tok in extra:
        h.update(str(tok).encode())
    for tag, name in files:
        p = os.path.join(sf_dir, name)
        try:
            st = os.stat(p)
            h.update(f"{tag}:{st.st_size}:{st.st_mtime_ns}".encode())
        except FileNotFoundError:
            h.update(f"{tag}:missing".encode())
    return h.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by another user
    return True


def _reap_dead_stages(parent: str) -> None:
    """Remove the stages (and replace asides) in ``parent`` whose
    builder pid no longer runs."""
    for name in os.listdir(parent):
        m = _STAGE_PID.search(name)
        if m and not _pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def publish(target: str, build: Callable[[str], object], replace: bool = False) -> str:
    """Ensure ``target`` exists, building it with ``build(stage)`` on a
    miss (or always, with ``replace``); return ``target``. ``build``
    must write the whole artifact into the existing directory
    ``stage`` (a Spark ``write.mode("overwrite")`` straight to
    ``stage`` is fine too). See the module docstring for the rules."""
    if not replace and os.path.isdir(target):
        return target
    parent, name = os.path.split(os.path.abspath(target))
    os.makedirs(parent, exist_ok=True)
    _reap_dead_stages(parent)
    stage = tempfile.mkdtemp(prefix=f".{name}{_STAGE_MARK}{os.getpid()}-", dir=parent)
    try:
        build(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    aside = None
    if replace and os.path.isdir(target):
        aside = stage + "-old"
        try:
            os.rename(target, aside)
        except FileNotFoundError:
            aside = None  # a concurrent replace moved it first
    try:
        os.rename(stage, target)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.isdir(target):
            if aside is not None:
                os.rename(aside, target)  # keep serving the old copy
                aside = None
            raise
        # lost the race: the winner's complete copy stays
    finally:
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)
    return target
