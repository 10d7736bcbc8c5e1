"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different files of the
same size. The program under test only ever sees these files.

- ``write_tables``: the TPC-H-ish star schema plus the events,
  documents and embeddings tables, with the schemas of
  ``github_miner_spark.io.tables`` (analyst_queries, and the
  graph-store build of ingest_pipeline).
- ``dependency_graph``: a preferential-attachment module dependency
  graph with back edges (graph_supersteps).
- ``IngestInputs``: a manifest lake, an npm registry table, a
  deterministic mining fetcher, and the pure-Python truth the insert
  and mining jobs must reproduce (ingest_pipeline).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-ish tables
# ---------------------------------------------------------------------------

# Row counts per unit of scale factor (sf0.01 = 60,000 lineitem rows);
# documents and embeddings stay fixed-size like the reference data.
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_DOCS = 500
_EMB_DIM = 64
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
_DAY_US = 86_400_000_000


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    epoch = (start - dt.date(1970, 1, 1)).days
    return (epoch + rng.integers(0, span_days, n)).astype(np.int64) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (see module docstring)."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in _ROWS_PER_SF.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npart = n["part"]
    retail = np.round(900 + rng.integers(0, 1000, npart) / 10.0, 1)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000, 500_000),
            "o_orderdate": _ts(_days(rng, no, dt.date(1995, 1, 1), 2404)),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flags = rng.integers(0, 3, nl)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.98, 1.02, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in flags],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_days(rng, nl, dt.date(1995, 1, 2), 2498)),
        }
    )
    ne = n["events"]
    ev_start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(0.01 + rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    texts: list[str] = []
    for i in range(_DOCS):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(_DOCS), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), _DOCS)],
            "source": [f"src{i % 20}" for i in range(_DOCS)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, _DOCS)
    centers = rng.normal(0, 1, (10, _EMB_DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (_DOCS, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(_DOCS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# graph_supersteps: preferential-attachment dependency graph
# ---------------------------------------------------------------------------


# Share of the modules in each dependency layer above the root, from
# the foundational layer up to the apps nobody depends on. Fixed, so
# every seed has the same depth and the graph loops the same number of
# supersteps.
_LAYER_WEIGHTS = (1, 4, 16, 64)
_OUTDEG = (1, 1, 1, 2, 2, 3)


def dependency_graph(
    seed: int, n_vertices: int = 20_000, back_frac: float = 0.02
) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) int64 arrays: a layered dependency graph. Module 0 is
    the root (a lodash every chain ends at); the others sit in the
    layers of ``_LAYER_WEIGHTS`` and each depends on 1..3 modules of the
    layer below, picked by preferential attachment (weight: dependants
    so far + 1), so popular modules gain hub-sized in-degrees. A
    reversed copy of ``back_frac`` of the edges closes short cycles like
    real npm dependency loops. The seed decides who depends on whom;
    the layer sizes, the out-degree multiset and the back-edge count are
    fixed, so every seed gives the same vertex and edge counts and the
    same depth. Vertex ids are ``v*10 + 2`` like the engine's NodeModule
    ids; the edge list is sorted."""
    rng = np.random.default_rng(seed)
    w = np.array(_LAYER_WEIGHTS, np.float64)
    sizes = np.floor(w / w.sum() * (n_vertices - 1)).astype(np.int64)
    sizes[-1] += n_vertices - 1 - sizes.sum()
    bounds = np.concatenate([[0, 1], 1 + np.cumsum(sizes)])
    src: list[int] = []
    dst: list[int] = []
    indeg = np.zeros(n_vertices, np.float64)
    for layer in range(1, len(bounds) - 1):
        lo, hi = bounds[layer], bounds[layer + 1]
        below = np.arange(bounds[layer - 1], lo)
        outdeg = rng.permutation(np.resize(_OUTDEG, hi - lo))
        outdeg = np.minimum(outdeg, len(below))
        for v, k in zip(range(lo, hi), outdeg):
            p = indeg[below] + 1.0
            picks = rng.choice(below, size=int(k), replace=False, p=p / p.sum())
            indeg[picks] += 1
            src.extend([v] * len(picks))
            dst.extend(picks.tolist())
    s = np.array(src, np.int64)
    d = np.array(dst, np.int64)
    back = rng.choice(len(s), size=round(back_frac * len(s)), replace=False)
    s, d = np.concatenate([s, d[back]]), np.concatenate([d, s[back]])
    pairs = np.unique(np.stack([s * 10 + 2, d * 10 + 2], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


# ---------------------------------------------------------------------------
# ingest_pipeline: manifest lake, npm registry, mining fetcher, truth
# ---------------------------------------------------------------------------

REGISTRY_SCHEMA = pa.schema(
    [
        ("name", pa.string()),
        ("dependencies", pa.map_(pa.string(), pa.string())),
        ("devDependencies", pa.map_(pa.string(), pa.string())),
        ("peerDependencies", pa.map_(pa.string(), pa.string())),
    ]
)
_DEP_FIELDS = (
    ("dependencies", "DEPENDS_ON"),
    ("devDependencies", "DEV_DEPENDS_ON"),
    ("peerDependencies", "PEER_DEPENDS_ON"),
)


def _module_name(i: int) -> str:
    # every 7th module is scoped, like @babel/core
    return f"@scope{i % 13}/mod{i}" if i % 7 == 3 else f"mod{i}"


def _pareto_index(rng, n: int, size: int) -> np.ndarray:
    """Module indices skewed toward 0 (the most popular module)."""
    return np.minimum((rng.pareto(1.2, size) * n / 50).astype(np.int64), n - 1)


def _version(rng) -> str:
    return f"^{int(rng.integers(0, 20))}.{int(rng.integers(0, 10))}.0"


def _dep_map(rng, idx) -> dict[str, str]:
    return {_module_name(int(i)): _version(rng) for i in idx}


@dataclass
class IngestInputs:
    """The ingest workload's inputs and their expected results.

    ``repos`` maps ``owner/repo`` to its package.json; ``registry``
    maps a module name to its three dependency maps; ``delta_repos``
    are the extra repos one ``insert_delta`` op lands."""

    seed: int
    repos: dict[str, dict] = field(default_factory=dict)
    registry: dict[str, dict] = field(default_factory=dict)

    @classmethod
    def generate(
        cls, seed: int, n_repos: int, n_owners: int, n_modules: int
    ) -> IngestInputs:
        rng = np.random.default_rng(seed)
        inputs = cls(seed)
        for i in range(n_modules):
            # dependencies point at more popular (lower-index) modules;
            # 1% point upward, closing cycles the closure must survive
            k = int(rng.integers(0, 5)) if i else 0
            deps = set(int(d) % max(i, 1) for d in _pareto_index(rng, n_modules, k))
            if i and rng.random() < 0.01:
                deps.add(int(rng.integers(i, n_modules)))
            deps.discard(i)
            rec = {"dependencies": _dep_map(rng, sorted(deps)) or None}
            rec["devDependencies"] = (
                _dep_map(rng, sorted(set(_pareto_index(rng, n_modules, 2))))
                if rng.random() < 0.3
                else None
            )
            rec["peerDependencies"] = (
                _dep_map(rng, [int(rng.integers(0, 20))]) if rng.random() < 0.05 else None
            )
            inputs.registry[_module_name(i)] = rec
        inputs.repos = inputs.make_repos(rng, n_repos, n_owners, n_modules, "repo")
        return inputs

    def make_repos(self, rng, n_repos, n_owners, n_modules, prefix) -> dict[str, dict]:
        """``n_repos`` manifests with 3-15 dependencies and 0-8
        devDependencies on Pareto-popular modules; a few name modules
        missing from the registry, which the closure keeps as leaves."""
        out = {}
        for r in range(n_repos):
            owner = f"owner{int(_pareto_index(rng, n_owners, 1)[0])}"
            name = f"{prefix}{r}"
            deps = set(_pareto_index(rng, n_modules, int(rng.integers(3, 16))).tolist())
            dev = set(_pareto_index(rng, n_modules, int(rng.integers(0, 9))).tolist())
            manifest = {"name": name, "dependencies": _dep_map(rng, sorted(deps))}
            if dev:
                manifest["devDependencies"] = _dep_map(rng, sorted(dev))
            if rng.random() < 0.02:
                manifest["dependencies"][f"unpublished-{self.seed}-{r}"] = "1.0.0"
            out[f"{owner}/{name}"] = manifest
        return out

    def delta(self, k: int, n_repos: int, n_owners: int, n_modules: int) -> dict[str, dict]:
        """The ``k``-th batch of new repos for ``insert_delta``."""
        rng = np.random.default_rng([self.seed, 1, k])
        return self.make_repos(rng, n_repos, n_owners, n_modules, f"new{k}x")

    # -- writers -----------------------------------------------------------

    @staticmethod
    def write_lake(repos: dict[str, dict], lake_dir: str) -> None:
        """File-per-repo lake: ``<lake>/<owner>/<repo>/package.json``."""
        for full_name, manifest in sorted(repos.items()):
            d = os.path.join(lake_dir, full_name)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "package.json"), "w") as f:
                json.dump(manifest, f, sort_keys=True)

    def write_registry(self, path: str) -> None:
        def as_map(m):
            return None if m is None else sorted(m.items())

        names = sorted(self.registry)
        cols = {"name": names}
        for fld, _ in _DEP_FIELDS:
            cols[fld] = [as_map(self.registry[n][fld]) for n in names]
        pq.write_table(pa.table(cols, schema=REGISTRY_SCHEMA), path)

    # -- truth ---------------------------------------------------------------

    def expected_graph(self, repos: dict[str, dict]) -> tuple[set, set]:
        """(vertices, edges) that ``run_insert_job`` must write for
        ``repos``: vertices as (id, label), edges as (src, dst,
        rel_type, src_label, dst_label, version). Mirrors the job's
        frontier closure: dev/peer maps expand at the first level only,
        names missing from the registry stay as leaf modules."""
        vertices: set = set()
        edges: set = set()
        seed_modules: set = set()
        for full_name, manifest in repos.items():
            owner = full_name.split("/")[0]
            vertices.add((owner, "GitUser"))
            vertices.add((full_name, "GitRepo"))
            edges.add((owner, full_name, "OWNS", "GitUser", "GitRepo", None))
            for fld, rel in _DEP_FIELDS:
                for dep, ver in (manifest.get(fld) or {}).items():
                    edges.add((full_name, dep, rel, "GitRepo", "NodeModule", ver))
                    seed_modules.add(dep)
        frontier, resolved, level = seed_modules, set(), 0
        while frontier:
            resolved |= frontier
            batch = [n for n in frontier if n in self.registry]
            if not batch:
                break
            nxt = set()
            fields = _DEP_FIELDS if level == 0 else _DEP_FIELDS[:1]
            for name in batch:
                for fld, rel in fields:
                    for dep, ver in (self.registry[name][fld] or {}).items():
                        edges.add((name, dep, rel, "NodeModule", "NodeModule", ver))
                        nxt.add(dep)
            frontier = nxt - resolved
            level += 1
        vertices |= {(m, "NodeModule") for m in resolved}
        return vertices, edges


# -- mining ------------------------------------------------------------------


@dataclass(frozen=True)
class MiningFetcher:
    """Deterministic stand-in for the GitHub search fetch: the repos a
    search slice returns are a hash of (seed, slice key). Picklable, so
    it runs inside the mining job's fetch tasks."""

    seed: int
    per_partition: int = 25
    owners: int = 16

    def __call__(self, part) -> list[dict]:
        return self.rows(part.key)

    def rows(self, key: str) -> list[dict]:
        h = hashlib.sha256(f"{self.seed}|{key}".encode()).digest()
        base = int.from_bytes(h[:8], "little")
        out = []
        for i in range(self.per_partition):
            x = (base + i * 0x9E3779B97F4A7C15) % (1 << 63)
            owner = f"owner{x % self.owners}"
            name = f"r{x % 1_000_003}_{i}"
            out.append(
                {
                    "full_name": f"{owner}/{name}",
                    "owner": owner,
                    "name": name,
                    "stargazers_count": 100 + x % 5000,
                    "forks_count": 100 + (x >> 13) % 900,
                    "pushed_at": f"2019-{1 + x % 12:02d}-{1 + x % 28:02d}T00:00:00Z",
                }
            )
        return out

    def expected(self, keys) -> set[tuple]:
        """Landed rows (partition_key, full_name, owner, stars) for the
        slices ``keys``: what a mine + drain must leave in the store."""
        return {
            (k, r["full_name"], r["owner"], r["stargazers_count"])
            for k in keys
            for r in self.rows(k)
        }


def mining_slice(seed: int, k: int, n_windows: int):
    """The ``k``-th seeded search-partition slice: ``n_windows`` date
    windows ending on a seeded day, so every slice has new keys."""
    from github_miner_spark.etl.mining import plan_partitions

    rng = np.random.default_rng([seed, 2, k])
    end = dt.date(2019, 1, 1) + dt.timedelta(days=int(rng.integers(0, 3000)))
    return plan_partitions(end, lookback_days=400)[:n_windows]


def graph_truth(
    src: np.ndarray, dst: np.ndarray, root: int, pagerank_iterations: int
) -> dict[str, list[tuple]]:
    """What graph_supersteps' five calls must return on (src, dst), in
    plain Python: PageRank (non-normalized, damping
    0.85, dangling mass decays), weakly and strongly connected
    components (labeled by their smallest id), label propagation (5
    synchronous sweeps over the undirected graph without self-loops,
    ties to the smallest label) and min-depth BFS from ``root``."""
    from collections import defaultdict, deque

    edges = list(zip(src.tolist(), dst.tolist()))
    verts = sorted({v for e in edges for v in e})
    out: dict[str, list[tuple]] = {}

    outdeg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    rank = {v: 1.0 for v in verts}
    for _ in range(pagerank_iterations):
        msg = dict.fromkeys(verts, 0.0)
        for s, d in edges:
            msg[d] += rank[s] / outdeg[s]
        rank = {v: 0.15 + 0.85 * msg[v] for v in verts}
    out["pagerank"] = sorted(rank.items())

    parent = {v: v for v in verts}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    out["connected_components"] = sorted((v, find(v)) for v in verts)

    adj: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    comp: dict[int, int] = {}
    for start in verts:  # iterative Tarjan
        if start in index:
            continue
        work = [(start, 0)]
        while work:
            v, i = work.pop()
            if i == 0:
                index[v] = low[v] = len(index)
                stack.append(v)
                on_stack.add(v)
            nbrs = adj[v]
            while i < len(nbrs):
                w = nbrs[i]
                i += 1
                if w not in index:
                    work.append((v, i))
                    work.append((w, 0))
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            else:
                if low[v] == index[v]:
                    members = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        members.append(w)
                        if w == v:
                            break
                    label = min(members)
                    comp.update((m, label) for m in members)
                if work:
                    u = work[-1][0]
                    low[u] = min(low[u], low[v])
    out["strongly_connected_components"] = sorted(comp.items())

    nbr: dict[int, set[int]] = defaultdict(set)
    for s, d in edges:
        if s != d:
            nbr[s].add(d)
            nbr[d].add(s)
    labels = {v: v for v in verts}
    for _ in range(5):
        new = {}
        for v in verts:
            votes: dict[int, int] = defaultdict(int)
            for u in nbr[v]:
                votes[labels[u]] += 1
            new[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0] if votes else labels[v]
        labels = new
    out["label_propagation"] = sorted(labels.items())

    radj: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        radj[d].append(s)  # BFS runs over dependants: reversed edges
    depth: dict[int, int] = {}
    frontier, level = deque([root]), 0
    while frontier:
        level += 1
        nxt = deque()
        for v in frontier:
            for w in radj[v]:
                if w not in depth:
                    depth[w] = level
                    if w != root:
                        nxt.append(w)
        frontier = nxt
    out["bfs_depths"] = sorted((root, v, d) for v, d in depth.items())
    return out
