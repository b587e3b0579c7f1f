"""Seeded source-code corpus for the benchmark, written as parquet.

The corpus has the engine's input schema ``(repo, path, commit, lang,
content)`` and the shape of ``sources/corpus.py``: file ``i`` defines
``mod_i`` and imports 1..15 modules drawn from a power law toward low
ids, in the import syntax of its language. It is generated here with
numpy, not by the package, so a change to the package's corpus
generator cannot change a workload; the content digest pins it.

A workload pins the graph's shape (``shape_seed``); the run's ``seed``
relabels it. The seed permutes which file plays which vertex, so file
names, languages, vertex ids, hash partitioning and id tie-breaks all
change with the seed, but the graph stays isomorphic and superstep
counts that depend on shape alone (k-core, PageRank) stay fixed. Fresh
shapes swing k-core from 11 to 27 supersteps on 2,000 files, which no
timing bound survives.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

LANGS = (  # (lang, extension, comment prefix), file i uses LANGS[i % 6]
    ("python", "py", "# "),
    ("c", "c", "// "),
    ("go", "go", "// "),
    ("javascript", "js", "// "),
    ("java", "java", "// "),
    ("rust", "rs", "// "),
)
MAX_IMPORTS = 15
HUB_EXPONENT = 3.0
N_PART_FILES = 4


def _import_line(lang_idx: int, k: int, mod: str) -> str:
    if lang_idx == 0:
        return f"import {mod}"
    if lang_idx == 1:
        return f'#include "{mod}"'
    if lang_idx == 2:
        return f'import "{mod}"'
    if lang_idx == 3:
        return f"import x{k} from '{mod}'" if k % 2 == 0 else f"const x{k} = require('{mod}')"
    if lang_idx == 4:
        return f"import {mod};"
    return f"use {mod};"


def import_targets(n_files: int, seed: int) -> list[np.ndarray]:
    """Per file, the ids of the modules it imports (the graph's shape)."""
    rng = np.random.default_rng([seed, n_files])
    n_imp = rng.integers(1, MAX_IMPORTS + 1, size=n_files)
    u = rng.random(int(n_imp.sum()))
    t = np.minimum((u ** HUB_EXPONENT * n_files).astype(np.int64), n_files - 1)
    src = np.repeat(np.arange(n_files), n_imp)
    t = np.where(t == src, (t + 1) % n_files, t)
    return np.split(t, np.cumsum(n_imp)[:-1])


def edge_shape(n_files: int, shape_seed: int) -> tuple:
    """What any labeling of the graph must derive to: (edges, total
    weight, sorted out-degrees, sorted in-degrees), where an edge is a
    distinct (importer, imported) pair weighted by its import count."""
    pairs: dict[tuple[int, int], int] = {}
    for v, targets in enumerate(import_targets(n_files, shape_seed)):
        for t in targets.tolist():
            pairs[v, t] = pairs.get((v, t), 0) + 1
    src = np.array([p[0] for p in pairs])
    dst = np.array([p[1] for p in pairs])
    return (len(pairs), float(sum(pairs.values())),
            np.sort(np.bincount(src, minlength=n_files)).tolist(),
            np.sort(np.bincount(dst, minlength=n_files)).tolist())


def corpus_rows(n_files: int, shape_seed: int, seed: int) -> dict[str, list[str]]:
    """The corpus as columns of python strings: the import graph of
    ``shape_seed`` with its files relabeled by ``seed``."""
    n_repos = max(1, n_files // 100)
    rng = np.random.default_rng([seed, n_files, 1])  # a stream apart from the shape's
    perm = rng.permutation(n_files)
    body = rng.integers(0, 2**62, size=n_files)
    cols: dict[str, list[str]] = {c: [] for c in ("repo", "path", "commit", "lang", "content")}
    shape = import_targets(n_files, shape_seed)
    by_file = [None] * n_files
    for v, targets in enumerate(shape):
        by_file[perm[v]] = perm[targets]
    for i, targets in enumerate(by_file):
        li = i % len(LANGS)
        lang, ext, cmt = LANGS[li]
        repo = f"repo_{i * n_repos // n_files:04d}"
        path = f"src/m{i:07d}.{ext}"
        lines = [f"{cmt}module: mod_{i:07d}"]
        lines += [_import_line(li, k, f"mod_{t:07d}") for k, t in enumerate(targets)]
        lines.append(f"{cmt}body: {body[i]}")
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(hashlib.sha256(f"{repo}{path}v1".encode()).hexdigest()[:40])
        cols["lang"].append(lang)
        cols["content"].append("\n".join(lines))
    return cols


def digest(cols: dict[str, list[str]]) -> str:
    """sha256 over the rows in (repo, path) order, independent of file layout."""
    h = hashlib.sha256()
    order = sorted(range(len(cols["path"])), key=lambda r: (cols["repo"][r], cols["path"][r]))
    for r in order:
        h.update("\x1f".join(cols[c][r] for c in ("repo", "path", "commit", "lang", "content")).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def read_parquet_columns(path: str) -> dict[str, list[str]]:
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["repo", "path", "commit", "lang", "content"])
    return {c: table.column(c).to_pylist() for c in table.column_names}


def ensure_corpus(path: str, n_files: int, shape_seed: int, seed: int) -> str:
    """Write the corpus to ``path`` (a parquet directory) unless it is
    already there, then check that what is on disk has the digest of the
    seeded generator. Returns the digest; raises on a mismatch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = corpus_rows(n_files, shape_seed, seed)
    want = digest(cols)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(path, exist_ok=True)
        table = pa.table(cols)
        step = -(-n_files // N_PART_FILES)
        for k in range(N_PART_FILES):
            pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    got = digest(read_parquet_columns(path))
    if got != want:
        raise RuntimeError(f"corpus at {path} has digest {got}, the generator gives {want}")
    return got
