"""Reference results and output checks, computed outside the timed
window from the edge table the program derived.

Each check returns None when the output is right and a one-line reason
when it is not.
"""

from __future__ import annotations

import hashlib
from functools import cached_property

import networkx as nx
import numpy as np
import pandas as pd


def frame_digest(df: pd.DataFrame) -> str:
    """Order-independent sha256 of a result table."""
    rows = df.sort_values(list(df.columns)).astype(str).agg("\x1f".join, axis=1)
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


class Reference:
    """Graph views and reference answers for one edge table
    (``src_id``, ``dst_id``, ``weight``)."""

    def __init__(self, edges: pd.DataFrame) -> None:
        self.ids = np.unique(np.concatenate([edges.src_id.values, edges.dst_id.values]))
        self.n = len(self.ids)
        self.src = np.searchsorted(self.ids, edges.src_id.values)
        self.dst = np.searchsorted(self.ids, edges.dst_id.values)
        self.w = edges.weight.values.astype(float)

    @cached_property
    def undirected(self) -> nx.Graph:
        g = nx.Graph()
        g.add_nodes_from(self.ids.tolist())
        loop = self.src != self.dst
        g.add_edges_from(zip(self.ids[self.src[loop]].tolist(), self.ids[self.dst[loop]].tolist()))
        return g

    def pagerank(self, damping: float, tol: float, max_iter: int) -> tuple[np.ndarray, int]:
        """Power iteration with the engine's rule: uniform start, dangling
        mass spread uniformly, stop once the largest change is < tol."""
        out_w = np.bincount(self.src, weights=self.w, minlength=self.n)
        frac = self.w / out_w[self.src]
        dangling = out_w == 0
        r = np.full(self.n, 1.0 / self.n)
        for step in range(1, max_iter + 1):
            base = (1.0 - damping) / self.n + damping * r[dangling].sum() / self.n
            nr = base + damping * np.bincount(self.dst, weights=r[self.src] * frac, minlength=self.n)
            delta = np.abs(nr - r).max()
            r = nr
            if delta < tol:
                break
        return r, step

    @cached_property
    def coreness(self) -> dict[int, int]:
        return nx.core_number(self.undirected)

    # -- checks ---------------------------------------------------------

    def check_shape(self, shape: tuple, n_files: int) -> str | None:
        """The derived edge table against the corpus generator's graph."""
        pad = np.zeros(max(0, n_files - self.n), dtype=int)  # files no edge touches
        got = (len(self.src), float(self.w.sum()),
               np.sort(np.concatenate([pad, np.bincount(self.src, minlength=self.n)])).tolist(),
               np.sort(np.concatenate([pad, np.bincount(self.dst, minlength=self.n)])).tolist())
        names = ("edges", "total weight", "out-degrees", "in-degrees")
        bad = [name for name, a, b in zip(names, got, shape) if a != b]
        return f"derived edges differ from the corpus graph in {', '.join(bad)}" if bad else None

    def _same_ids(self, df: pd.DataFrame) -> str | None:
        if len(df) != self.n or not np.array_equal(np.sort(df.id.values), self.ids):
            return f"{len(df)} rows, not one per each of the {self.n} vertices"
        return None

    def check_vector(self, df: pd.DataFrame, cols: dict[str, np.ndarray], steps: int,
                     want_steps: int, atol: float) -> str | None:
        bad = self._same_ids(df)
        if bad:
            return bad
        if steps != want_steps:
            return f"{steps} supersteps, the reference took {want_steps}"
        df = df.sort_values("id")
        for col, want in cols.items():
            err = np.abs(df[col].values - want).max()
            if not err <= atol:
                return f"{col} differs from the reference by {err:.3g} (> {atol:g})"
        return None

    def check_labels(self, df: pd.DataFrame, col: str, want: dict[int, int]) -> str | None:
        bad = self._same_ids(df)
        if bad:
            return bad
        got = dict(zip(df.id.tolist(), df[col].tolist()))
        wrong = sum(got[v] != want[v] for v in want)
        return f"{wrong} vertices have the wrong {col}" if wrong else None

    def check_labelprop(self, df: pd.DataFrame) -> str | None:
        bad = self._same_ids(df)
        if bad:
            return bad
        if not np.isin(df.label.values, self.ids).all():
            return "a label is not a vertex id"
        return None

    def check_partition(self, df: pd.DataFrame, history: list[dict], k: int, lam: float) -> str | None:
        bad = self._same_ids(df)
        if bad:
            return bad
        if not df.part.between(0, k - 1).all():
            return "a part id is outside [0, k)"
        objs = [h["objective"] for h in history]
        if any(b > a for a, b in zip(objs, objs[1:])):
            return f"objective rose between rounds: {objs}"
        part = df.set_index("id").part.reindex(self.ids).values
        cut = self.w[part[self.src] != part[self.dst]].sum()
        loads = np.bincount(part, minlength=k)
        obj = cut + lam * float((loads.astype(float) ** 2).sum())
        if not np.isclose(obj, objs[-1], rtol=1e-12, atol=1e-9):
            return f"final objective {objs[-1]} but the assignment scores {obj}"
        return None
