"""Seeded input generators owned by the benchmark.

Every input is a pure function of (workload, seed), computed on the
driver with numpy outside any timed region, so a change to the engine
cannot change what the benchmark feeds it. Both workloads start from a
source-code table `(repo, path, commit, lang, content)` in parquet, the
engine's north-star input; they differ in the link graph the import
statements spell out:

* `code_graph` draws imports as `webgraph_spark/synth.py` does: 0..11
  per file, Zipf(1.35) targets, so low file ids become hubs. Names follow
  synth.py, whose `org{r % 7}` prefix scatters neighbouring files across
  the sorted id space (no id locality).
* `web_graph` is `scripts/cnr_scale_validation.synth_edges` with the seed
  and the size as parameters: power-law out-degrees, forward-local links,
  consecutive runs and shared hub targets. Names sort in node order, so
  the engine's dense ids keep the gap locality BV-style codecs exploit.

`write_source_table` renders either graph with synth.py's four import
syntaxes and returns the ground truth (edges in dense-id space, import
count) that the benchmark's checks compare with.
"""

from __future__ import annotations

import hashlib

import numpy as np

LANGS = ["python", "java", "c", "js"]
_EXT = {"python": "py", "java": "java", "c": "c", "js": "js"}
FILES_PER_REPO = 10


# --------------------------------------------------------------------------
# file names and the source table
# --------------------------------------------------------------------------

def code_names(n_files: int) -> tuple[list[str], list[str]]:
    """(repo, stem) per file id, as synth._file_meta names them."""
    repo_i, file_j = np.divmod(np.arange(n_files), FILES_PER_REPO)
    repos = [f"org{r % 7}/repo{r}" for r in repo_i.tolist()]
    stems = [f"src/pkg{j % 10}/mod{j}" for j in file_j.tolist()]
    return repos, stems


def web_names(n_files: int) -> tuple[list[str], list[str]]:
    """(repo, stem) per node id; byte order of (repo, path) is id order."""
    repo_i, file_j = np.divmod(np.arange(n_files), FILES_PER_REPO)
    repos = [f"web/site{r:07d}" for r in repo_i.tolist()]
    stems = [f"page{j}" for j in file_j.tolist()]
    return repos, stems


def _import_lines(repos, stems) -> list[list[str]]:
    """Per importer language, the line that imports each file."""
    slash = [f"{r}/{s}" for r, s in zip(repos, stems)]
    dotted = [m.replace("/", ".") for m in slash]
    return [
        [f"from {m} import api" for m in dotted],
        [f"import {m};" for m in dotted],
        [f'#include "{m}.h"' for m in slash],
        [f'const m = require("{m}");' for m in slash],
    ]


def write_source_table(path: str, names, src: np.ndarray, dst: np.ndarray,
                       seed: int) -> dict:
    """Write one file per name whose imports are its out-edges.

    src must be sorted. Returns the ground truth: the edge list in the
    engine's dense-id space (the rank of (repo, path) in byte order,
    graph.dense_ids) and the number of import statements written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    repos, stems = names
    n = len(repos)
    lang = ((np.arange(n, dtype=np.int64) * 2654435761) % 4).tolist()
    lines = _import_lines(repos, stems)
    rng = np.random.default_rng([seed, 2])
    body_n = rng.integers(3, 20, n).tolist()
    pool = [f"x_{i % 20} = {v}" for i, v in
            enumerate(rng.integers(0, 1 << 30, 4096).tolist())]
    pool_off = rng.integers(0, len(pool) - 20, n).tolist()
    bounds = np.searchsorted(src, np.arange(n + 1)).tolist()
    dst_l = dst.tolist()
    content, paths, langs, commits = [], [], [], []
    for f in range(n):
        name = LANGS[lang[f]]
        own = lines[lang[f]]
        o = pool_off[f]
        content.append("\n".join(
            [f"// synthetic {name} module fid={f}"]
            + [own[t] for t in dst_l[bounds[f]:bounds[f + 1]]]
            + pool[o:o + body_n[f]]
        ))
        paths.append(f"{stems[f]}.{_EXT[name]}")
        langs.append(name)
        commits.append(hashlib.sha1(f"{seed}:{f}".encode()).hexdigest())
    pq.write_table(pa.table({
        "repo": repos, "path": paths, "commit": commits, "lang": langs,
        "content": content,
    }), path, row_group_size=1 << 15)
    keys = np.array([f"{r}\x00{p}" for r, p in zip(repos, paths)])
    vid = np.empty(n, dtype=np.int64)
    vid[np.argsort(keys, kind="stable")] = np.arange(n)
    order = np.lexsort((vid[dst], vid[src]))
    return {
        "n_files": n,
        "imports_written": int(src.size),
        "src": vid[src][order],
        "dst": vid[dst][order],
    }


# --------------------------------------------------------------------------
# code-import graph (synth.py shape)
# --------------------------------------------------------------------------

def code_graph(n_files: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Import pairs (src, dst) sorted by src, in write order per file:
    the first n_imports valid Zipf draws, then distinct targets, self
    imports dropped (synth._gen_batch)."""
    rng = np.random.default_rng([seed, 1])
    n_imp = rng.integers(0, 12, n_files)
    draws = 2 * n_imp
    owner = np.repeat(np.arange(n_files, dtype=np.int64), draws)
    tgt = rng.zipf(1.35, int(draws.sum())).astype(np.int64) - 1
    ok = (tgt < n_files) & (tgt != owner)
    owner, tgt = owner[ok], tgt[ok]
    rank = np.arange(owner.size) - np.searchsorted(owner, owner)
    keep = rank < n_imp[owner]
    owner, tgt = owner[keep], tgt[keep]
    _, first = np.unique(owner * n_files + tgt, return_index=True)
    first.sort()
    return owner[first], tgt[first]


# --------------------------------------------------------------------------
# web-storage: cnr-2000-shaped web-like edge list
# --------------------------------------------------------------------------

def web_graph(n_nodes: int, n_arcs: int, seed: int,
              overshoot: float = 1.3) -> tuple[np.ndarray, np.ndarray]:
    """Web-like edge list with exactly n_arcs arcs, sorted by (src, dst):
    power-law out-degrees, 55% forward-local links, 25% consecutive runs,
    10% shared hub targets, 10% uniform (cnr_scale_validation.synth_edges)."""
    rng = np.random.default_rng(seed)
    raw = np.minimum(rng.pareto(1.25, n_nodes) * 4.0 + 1.0, 20_000.0)
    deg = np.maximum((raw * (n_arcs * overshoot / raw.sum())).astype(np.int64), 1)
    src = np.repeat(np.arange(n_nodes, dtype=np.int64), deg)
    m = src.size
    kind = rng.random(m)
    dst = np.empty(m, dtype=np.int64)
    loc = kind < 0.55
    dst[loc] = src[loc] + 1 + rng.geometric(0.02, int(loc.sum()))
    run = (kind >= 0.55) & (kind < 0.80)
    anchors = src[run] + rng.integers(1, 2000, int(run.sum()))
    dst[run] = anchors + rng.integers(0, 12, int(run.sum()))
    hub = (kind >= 0.80) & (kind < 0.90)
    hubs = rng.integers(0, n_nodes, 200)
    dst[hub] = hubs[rng.integers(0, hubs.size, int(hub.sum()))]
    glo = kind >= 0.90
    dst[glo] = rng.integers(0, n_nodes, int(glo.sum()))
    dst %= n_nodes
    keep = src != dst
    key = np.unique(src[keep] * n_nodes + dst[keep])
    if key.size < n_arcs:
        if overshoot > 4.0:
            raise RuntimeError(f"undershoot: {key.size} < {n_arcs}")
        return web_graph(n_nodes, n_arcs, seed, overshoot * 1.25)
    # uniform thinning to the exact arc count (a suffix cut would drop
    # whole high-id nodes)
    drop = key.size - n_arcs
    mask = np.ones(key.size, dtype=bool)
    mask[np.arange(drop, dtype=np.int64) * (key.size // max(drop, 1))] = False
    key = key[mask]
    return key // n_nodes, key % n_nodes
