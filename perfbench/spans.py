"""Spans recorded around the program's layer boundaries.

The tracer replaces functions of the package with wrappers for as long
as it is installed; the package's own code is not edited. Each span is
(name, start, end, parent, run id, attributes); spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

PKG = "cim_framework_graph_partitioning_spark"


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, out)
                return out
        return traced

    # -- installation ------------------------------------------------------

    def _patch_everywhere(self, fn, wrapper) -> None:
        """Rebind every module-level name bound to ``fn`` in the package
        (and ``main``) — operators import helpers by name."""
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == "main" or mname.startswith(PKG)):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def _patch_attr(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self, op_entries: dict[str, object]) -> None:
        """``op_entries`` maps a span name to an operator function."""
        from cim_framework_graph_partitioning_spark.operators import partitioner
        from cim_framework_graph_partitioning_spark.plans import barrier, superstep
        from cim_framework_graph_partitioning_spark.session import get_spark
        from cim_framework_graph_partitioning_spark.operators.edges import derive_edges

        for name, fn in op_entries.items():
            self._patch_everywhere(fn, self.wrap(f"op.{name}", fn))
        self._patch_everywhere(get_spark, self.wrap("session.get_spark", get_spark))
        self._patch_everywhere(derive_edges, self.wrap("edges.derive_edges", derive_edges))
        self._patch_everywhere(barrier.release_checkpoint, self.wrap(
            "barrier.release_checkpoint", barrier.release_checkpoint))
        self._patch_everywhere(partitioner.exact_objective, self.wrap(
            "partitioner.exact_objective", partitioner.exact_objective))

        def after_cut(rec, args, out):
            rec["hard"] = args[0]._prev is None  # cut() keeps only soft cuts in _prev

        self._patch_attr(barrier.PlanBarrier, "cut",
                         self.wrap("barrier.cut", barrier.PlanBarrier.cut, after_cut))

        run = superstep.SuperstepRunner.run
        tracer = self

        @functools.wraps(run)
        def traced_run(runner, init_state, step_fn, converged, *args, **kwargs):
            def traced_step(state, step):
                with tracer.span("superstep.step_fn", step=step) as rec:
                    new_state, metrics = step_fn(state, step)
                    rec["metrics"] = {k: float(v) for k, v in metrics.items()}
                    return new_state, metrics

            def traced_converged(metrics):
                with tracer.span("superstep.converged"):
                    return converged(metrics)

            with tracer.span("superstep.run", run_id=runner.run_id):
                return run(runner, init_state, traced_step, traced_converged, *args, **kwargs)

        self._patch_attr(superstep.SuperstepRunner, "run", traced_run)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, val = self._patches.pop()
            setattr(owner, attr, val)

    # -- output ------------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    def window(self, start: float, end: float, name: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["start"] >= start and s["end"] is not None and s["end"] <= end
                and (name is None or s["name"] == name)]


def duration(span: dict) -> float:
    return span["end"] - span["start"]
