"""Seeded synthetic source-code table and its planted link graph.

The generator belongs to the benchmark, not to ``linkgraph.synth``, so a
change to the engine cannot change its own inputs.  One seed gives the same
rows, byte for byte, in a single process with no threads.

Rows are ``(repo, path, commit, lang, content)`` with
``commit = sha256(content)[:40]``.  Every file carries a ``#t=<time>``
marker and 0-3 import lines in one of the four languages the engine mines.
Import targets mix a Zipf-popular hub distribution with uniform picks, as
real dependency graphs do; the skew drives triangle and join cost.  Some
files import their own repo next to another import, some repeat an import
line (the engine must dedup both into the simple graph) and some repos
import nothing.

Repo names are distinct 9-digit decimal strings, so the engine's node id of
a repo is its integer value and the reference needs no copy of the
engine's string hash.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("go", "javascript", "python", "rust")


@dataclass(frozen=True)
class GenParams:
    repos: int
    files: int
    times: int = 64  # file timestamps are uniform in [0, times)
    hub_share: float = 0.6  # non-self imports drawn from the Zipf hubs
    zipf_s: float = 1.1
    self_import: float = 0.05  # share of files with 2+ imports that import their own repo
    repeat_import: float = 0.05
    silent_repos: float = 0.1  # repos whose files import nothing
    source_parts: int = 8
    graph_parts: int = 4

    def as_dict(self) -> dict:
        return asdict(self)


@dataclass
class Generated:
    params: GenParams
    source: pa.Table  # (repo, path, commit, lang, content)
    edges_t: pa.Table  # planted (src, dst, time, layer), one row per import line
    nodes_t: pa.Table  # planted (name, time), as LinkGraph.from_source_table


def _import_line(lang: str, dst: str, j: int) -> str:
    if lang == "python":
        return f"import {dst}" if j % 2 == 0 else f"from {dst} import mod{j}"
    if lang == "rust":
        return f"use {dst}::mod{j};" if j % 2 == 0 else f"extern crate {dst};"
    if lang == "go":
        return f'import "{dst}"'
    return f"const m{j} = require('{dst}');" if j % 2 == 0 else f"import m{j} from '{dst}';"


_BODY = {
    "python": "def f{i}(x):\n    return x + {i}\n",
    "rust": "fn f{i}(x: i64) -> i64 {{ x + {i} }}\n",
    "go": "func f{i}(x int) int {{ return x + {i} }}\n",
    "javascript": "function f{i}(x) {{ return x + {i}; }}\n",
}


def generate(seed: int, params: GenParams) -> Generated:
    rng = np.random.default_rng(seed)
    n, f = params.repos, params.files
    names = np.array(
        [str(v) for v in rng.choice(900_000_000, size=n, replace=False) + 100_000_000]
    )
    # popularity order for the hubs is independent of the id order
    hub_rank = rng.permutation(n)
    zipf_w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** params.zipf_s
    zipf_w /= zipf_w.sum()
    silent = rng.random(n) < params.silent_repos

    repo = rng.integers(0, n, size=f)
    lang = rng.integers(0, len(LANGS), size=f)
    t = rng.integers(0, params.times, size=f)
    k = np.where(silent[repo], 0, rng.integers(0, 4, size=f))

    slots = int(k.sum())
    owner = np.repeat(np.arange(f), k)
    hub_pick = hub_rank[rng.choice(n, size=slots, p=zipf_w)]
    uni_pick = rng.integers(0, n, size=slots)
    target = np.where(rng.random(slots) < params.hub_share, hub_pick, uni_pick)
    target = np.where(target == repo[owner], (target + 1) % n, target)
    repeat = rng.random(f) < params.repeat_import
    # a self-import only ever sits beside another import: a repo whose one
    # out-edge is a self-loop keeps 0.85 of its PageRank mass per superstep
    # and would make convergence (and so the work) depend on the seed
    self_file = (k >= 2) & (rng.random(f) < params.self_import)

    src_col, path_col, commit_col, lang_col, content_col = [], [], [], [], []
    e_src, e_dst, e_t = [], [], []
    pos = 0
    for i in range(f):
        ki = int(k[i])
        dsts = [names[x] for x in target[pos : pos + ki]]
        pos += ki
        if repeat[i] and ki >= 2:
            dsts[1] = dsts[0]  # the same import twice in one file
        if self_file[i]:
            dsts[-1] = names[repo[i]]
        lg = LANGS[lang[i]]
        r = names[repo[i]]
        lines = [f"// #t={t[i]}" if lg != "python" else f"# t={t[i]}"]
        lines += [_import_line(lg, d, j) for j, d in enumerate(dsts)]
        lines.append(_BODY[lg].format(i=i))
        content = "\n".join(lines)
        src_col.append(r)
        path_col.append(f"src/f{i}.{lg[:2]}")
        commit_col.append(hashlib.sha256(content.encode("utf-8")).hexdigest()[:40])
        lang_col.append(lg)
        content_col.append(content)
        e_src += [r] * len(dsts)
        e_dst += dsts
        e_t += [int(t[i])] * len(dsts)

    source = pa.table(
        {
            "repo": src_col,
            "path": path_col,
            "commit": commit_col,
            "lang": lang_col,
            "content": content_col,
        }
    )
    edges_t = pa.table(
        {
            "src": pa.array(e_src, pa.string()),
            "dst": pa.array(e_dst, pa.string()),
            "time": pa.array(e_t, pa.int64()),
            "layer": pa.array(["_default"] * len(e_src), pa.string()),
        }
    )
    nodes_t = pa.table(
        {
            "name": pa.array(src_col + e_dst, pa.string()),
            "time": pa.array([int(x) for x in t] + e_t, pa.int64()),
        }
    )
    return Generated(params, source, edges_t, nodes_t)


def _write_parts(table: pa.Table, directory: str, parts: int) -> int:
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{directory}/part-{i:05d}.parquet")
    return sum(os.path.getsize(f"{directory}/{p}") for p in os.listdir(directory))


def write(gen: Generated, root: str) -> int:
    """Write the source table to ``root/source`` and the planted graph in the
    ``LinkGraph.save`` layout to ``root/graph/{edges_t,nodes_t}``; returns
    the bytes written for the source table."""
    p = gen.params
    nbytes = _write_parts(gen.source, f"{root}/source", p.source_parts)
    _write_parts(gen.edges_t, f"{root}/graph/edges_t", p.graph_parts)
    _write_parts(gen.nodes_t, f"{root}/graph/nodes_t", p.graph_parts)
    return nbytes
