"""Seeded source-code corpus for the benchmark, with its planted import graph.

The engine reads a ``(repo, path, commit, lang, content)`` table and derives
the repo import graph from it with ``sources.corpus.extract_import_edges``.
This module writes such a table as parquet, from ``(seed, size)`` alone, and
records the edge set it planted, so the benchmark can check the engine
against a graph it never computed itself.

How the table is made:

- ``n_repos`` repos named ``org<k>/repo_<id>``; repo ``id`` provides module
  ``lib_mod_<id>`` (the naming the extractor resolves). The org ``k`` is
  drawn per seed, so the engine's sorted id map differs from the repo ids.
- Repos are split into ``n_ecosystems`` disconnected ecosystems of fixed,
  geometrically shrinking sizes; members are a random subset of ids.
- Files per repo follow a Zipf law (capped), taken at fixed quantiles and
  dealt to repos at random, and each file imports 1-4 modules in fixed
  proportions, so every seed yields the same number of files and imports.
  Half the imports go to the ecosystem's first few members (hubs), the
  rest are uniform within the ecosystem. File 0 of every member but the
  first imports a random earlier member, so every ecosystem is one weak
  component.
- Noise the extractor must drop or merge: imports of modules no repo
  provides (``lib_mod_<id>`` with ``id >= n_repos``), self-imports, and a
  repeated import line inside one file (one file counts once).
- Four import syntaxes: ``import m`` (py), ``import m.core;`` (java),
  ``import "m"`` (go), ``use m::prelude;`` (rs).

The planted edge set is ``(src repo id, dst repo id, weight)`` with weight
the number of distinct files of ``src`` that import ``dst``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EXT = np.array(["py", "java", "go", "rs"])
_SYNTAX = (
    "import lib_mod_{}",
    "import lib_mod_{}.core;",
    'import "lib_mod_{}"',
    "use lib_mod_{}::prelude;",
)
FILES_CAP = 32
HUB_SHARE = 0.5
P_MISSING = 0.03
P_SELF = 0.02
P_REPEAT = 0.02
N_PARTS = 4


class Corpus:
    """Inputs of one benchmark run: the corpus parquet directory and the
    planted graph (repo ids are positions in ``names``)."""

    def __init__(self, path: str, names: np.ndarray, eco: np.ndarray,
                 src: np.ndarray, dst: np.ndarray, weight: np.ndarray):
        self.corpus_dir = os.path.join(path, "corpus")
        self.names = names
        self.eco = eco
        self.src = src
        self.dst = dst
        self.weight = weight

    @property
    def n_edges(self) -> int:
        return len(self.src)


def _ecosystem_sizes(n_repos: int, n_ecosystems: int) -> np.ndarray:
    share = 0.55 ** np.arange(n_ecosystems)
    sizes = np.floor(n_repos * share / share.sum()).astype(np.int64)
    sizes[0] += n_repos - sizes.sum()
    return sizes


def _zipf_quantiles(n: int) -> np.ndarray:
    """``n`` file counts: the Zipf(2) law capped at FILES_CAP, read at the
    quantiles ``(i + 0.5) / n``."""
    k = np.arange(1, FILES_CAP + 1)
    cdf = np.cumsum(1.0 / k ** 2)
    cdf /= cdf[-1] + 1.0 / FILES_CAP  # mass beyond the cap lands on it
    q = (np.arange(n) + 0.5) / n
    return np.minimum(np.searchsorted(cdf, q) + 1, FILES_CAP)


def _plant(n_repos: int, n_ecosystems: int, seed: int) -> dict:
    rng = np.random.default_rng([seed, n_repos, n_ecosystems])
    sizes = _ecosystem_sizes(n_repos, n_ecosystems)
    order = rng.permutation(n_repos)  # ecosystem members, eco by eco
    eco_start = np.r_[0, np.cumsum(sizes)[:-1]]
    eco = np.empty(n_repos, np.int64)
    pos = np.empty(n_repos, np.int64)
    for e in range(n_ecosystems):
        members = order[eco_start[e]:eco_start[e] + sizes[e]]
        eco[members] = e
        pos[members] = np.arange(sizes[e])
    org = rng.integers(0, 97, n_repos)
    names = np.array([f"org{o}/repo_{r}" for r, o in enumerate(org)])
    lang = rng.integers(0, 4, n_repos)

    n_files = rng.permutation(_zipf_quantiles(n_repos))
    file_repo = np.repeat(np.arange(n_repos), n_files)
    file_idx = np.arange(len(file_repo)) - np.repeat(
        np.cumsum(n_files) - n_files, n_files
    )
    n_imp = rng.permutation(1 + np.arange(len(file_repo)) % 4)
    imp_file = np.repeat(np.arange(len(file_repo)), n_imp)
    imp_repo = file_repo[imp_file]
    e_of = eco[imp_repo]
    size_of = sizes[e_of]
    u = rng.random(len(imp_file))
    hub = rng.random(len(imp_file)) < HUB_SHARE
    tpos = np.where(hub, np.floor(size_of * u ** 3), np.floor(size_of * u))
    target = order[eco_start[e_of] + tpos.astype(np.int64)]

    # backbone: file 0 of member j > 0 imports a random earlier member
    first = np.nonzero(file_idx == 0)[0]
    first = first[pos[file_repo[first]] > 0]
    fr = file_repo[first]
    ppos = np.floor(pos[fr] * rng.random(len(first))).astype(np.int64)
    parent = order[eco_start[eco[fr]] + ppos]

    # noise: missing modules, self-imports, one repeated line
    n_all = len(file_repo)
    miss = rng.choice(n_all, round(P_MISSING * n_all), replace=False)
    selfi = rng.choice(n_all, round(P_SELF * n_all), replace=False)
    miss_mod = n_repos + rng.integers(0, n_repos, len(miss))

    imp_f = np.concatenate([imp_file, first])
    imp_t = np.concatenate([target, parent])
    per_file: list[list[int]] = [[] for _ in range(len(file_repo))]
    for f, t in zip(imp_f.tolist(), imp_t.tolist()):
        per_file[f].append(t)
    for f, t in zip(miss.tolist(), miss_mod.tolist()):
        per_file[f].append(t)
    for f in selfi.tolist():
        per_file[f].append(int(file_repo[f]))
    repeat = rng.choice(n_all, round(P_REPEAT * n_all), replace=False)
    for f in repeat.tolist():
        per_file[f].append(per_file[f][0])

    # planted edges: distinct (src, dst, file), self and missing dropped
    s = file_repo[imp_f]
    keep = s != imp_t
    key = np.unique(
        np.stack([s[keep], imp_t[keep], imp_f[keep]], axis=1), axis=0
    )
    pair, weight = np.unique(key[:, :2], axis=0, return_counts=True)

    commits = rng.bytes(20 * len(file_repo)).hex()
    repo_col, path_col, commit_col, lang_col, content_col = [], [], [], [], []
    for f in range(len(file_repo)):
        r = int(file_repo[f])
        lg = int(lang[r])
        lines = [f"// {names[r]} file {int(file_idx[f])}"]
        lines += [_SYNTAX[lg].format(t) for t in per_file[f]]
        lines.append(f"fn main_{int(file_idx[f])}() {{ return {r}; }}")
        repo_col.append(names[r])
        path_col.append(f"src/f_{int(file_idx[f])}.{_EXT[lg]}")
        commit_col.append(commits[40 * f:40 * f + 40])
        lang_col.append(str(_EXT[lg]))
        content_col.append("\n".join(lines))
    table = pa.table({
        "repo": repo_col, "path": path_col, "commit": commit_col,
        "lang": lang_col, "content": content_col,
    })
    return {
        "table": table, "names": names, "eco": eco,
        "src": pair[:, 0], "dst": pair[:, 1],
        "weight": weight.astype(np.int64),
    }


def load_or_generate(root: str, n_repos: int, n_ecosystems: int,
                     seed: int) -> Corpus:
    """Inputs for ``(seed, size)`` under ``root``; generated and written
    once, then read back on later runs with the same key."""
    path = os.path.join(root, f"corpus-{n_repos}-{n_ecosystems}-{seed}")
    planted = os.path.join(path, "planted.npz")
    if not os.path.exists(planted):
        p = _plant(n_repos, n_ecosystems, seed)
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "corpus"))
        rows = p["table"].num_rows
        step = -(-rows // N_PARTS)
        for i in range(N_PARTS):
            pq.write_table(
                p["table"].slice(i * step, step),
                os.path.join(tmp, "corpus", f"part-{i:05d}.parquet"),
            )
        np.savez(
            os.path.join(tmp, "planted.npz"), names=p["names"],
            eco=p["eco"], src=p["src"], dst=p["dst"], weight=p["weight"],
        )
        try:
            os.rename(tmp, path)
        except OSError:  # another run wrote the same key first
            if not os.path.exists(planted):
                raise
            shutil.rmtree(tmp)
    with np.load(planted) as z:
        return Corpus(path, z["names"], z["eco"], z["src"], z["dst"],
                      z["weight"])
