"""Generator determinism: same seed, same bytes; new seed, new bytes of
the same size; and the ingest truth follows the insert job's rules."""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import pyarrow.parquet as pq  # noqa: E402

from perfbench import gen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    a = _digest(gen.write_tables(7, 0.001, str(tmp_path / "a")))
    b = _digest(gen.write_tables(7, 0.001, str(tmp_path / "b")))
    c = _digest(gen.write_tables(8, 0.001, str(tmp_path / "c")))
    assert a == b
    assert a.keys() == c.keys()
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    for name in ("lineitem", "documents", "embeddings"):
        n7 = pq.read_metadata(tmp_path / "a" / f"{name}.parquet").num_rows
        n8 = pq.read_metadata(tmp_path / "c" / f"{name}.parquet").num_rows
        assert n7 == n8 > 0


def test_dependency_graph_is_seeded_and_cyclic():
    s1, d1 = gen.dependency_graph(3, 2_000)
    s2, d2 = gen.dependency_graph(3, 2_000)
    s3, d3 = gen.dependency_graph(4, 2_000)
    assert (s1 == s2).all() and (d1 == d2).all()
    assert len(set(zip(s1.tolist(), d1.tolist())) ^ set(zip(s3.tolist(), d3.tolist()))) > 0
    assert len(s1) == len(s3)
    pairs = set(zip(s1.tolist(), d1.tolist()))
    assert any((d, s) in pairs for s, d in pairs)  # back edges close cycles
    # preferential attachment: the busiest module has a hub-sized in-degree
    counts: dict[int, int] = {}
    for d in d1.tolist():
        counts[d] = counts.get(d, 0) + 1
    assert max(counts.values()) > 10 * len(d1) / 2_000


def test_dependency_graph_depth_is_the_same_for_every_seed():
    # the graph loops run as many supersteps as the graph is deep
    profiles = []
    for seed in (3, 4):
        s, d = gen.dependency_graph(seed, 2_000)
        truth = gen.graph_truth(s, d, root=2, pagerank_iterations=1)
        depths: dict[int, int] = {}
        for _, _, depth in truth["bfs_depths"]:
            depths[depth] = depths.get(depth, 0) + 1
        profiles.append(depths)
    assert profiles[0] == profiles[1]
    assert sum(profiles[0].values()) == 2_000  # the root's sweep covers the graph


def test_ingest_inputs_are_seeded(tmp_path):
    a = gen.IngestInputs.generate(5, 40, 10, 300)
    b = gen.IngestInputs.generate(5, 40, 10, 300)
    c = gen.IngestInputs.generate(6, 40, 10, 300)
    for inputs, d in ((a, "a"), (b, "b"), (c, "c")):
        gen.IngestInputs.write_lake(inputs.repos, str(tmp_path / d / "lake"))
        inputs.write_registry(str(tmp_path / d / "registry.parquet"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert len(a.repos) == len(c.repos) == 40
    assert a.delta(1, 4, 10, 300) == b.delta(1, 4, 10, 300) != a.delta(2, 4, 10, 300)
    f = gen.MiningFetcher(5)
    assert f.rows("k") == gen.MiningFetcher(5).rows("k") != gen.MiningFetcher(6).rows("k")


def test_ingest_truth_follows_closure_rules():
    inputs = gen.IngestInputs(seed=0)
    inputs.registry = {
        "lodash": {"dependencies": {"chalk": "^5"}, "devDependencies": None, "peerDependencies": None},
        "chalk": {"dependencies": {"ansi": "1"}, "devDependencies": {"jest": "^29"}, "peerDependencies": None},
        "ansi": {"dependencies": {"chalk": "^5"}, "devDependencies": {"deep-dev": "1"}, "peerDependencies": None},
        "jest": {"dependencies": {"left-pad": "1"}, "devDependencies": None, "peerDependencies": None},
    }
    repos = {
        "alice/app": {"name": "app", "dependencies": {"lodash": "^4"}, "devDependencies": {"jest": "^29"}},
        "bob/tool": {"name": "tool", "dependencies": {"chalk": "~5"}},
    }
    v, e = inputs.expected_graph(repos)
    rel = {(s, d, r) for s, d, r, *_ in e}
    assert ("left-pad", "NodeModule") in v  # unresolvable names stay as leaves
    assert ("chalk", "jest", "DEV_DEPENDS_ON") in rel  # repo-seeded: devDeps expand
    assert ("ansi", "deep-dev", "DEV_DEPENDS_ON") not in rel  # deeper: main deps only
    assert ("ansi", "chalk", "DEPENDS_ON") in rel  # the cycle is closed once
    assert ("alice", "alice/app", "OWNS") in rel
