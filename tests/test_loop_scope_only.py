"""Operators get loop conf and observed checkpoints from
``plans/superstep.py`` only: ``loop_scope`` pins and restores the conf,
``observed_checkpoint`` builds the observe-on-checkpoint job. A copy of
either scaffold inside an operator is how the copies drifted apart
(one left AQE off after a setup failure), so none may come back.

Likewise graph prep comes from ``operators/edges.py`` only: an operator
takes its vertex set from ``vertex_set`` and its probe-keyed edge table
from ``probe_edges``, so a hand-written endpoint union or e_v/e_u swap
union outside that module is a copy growing back."""

from __future__ import annotations

import pathlib
import re

OPERATORS = (
    pathlib.Path(__file__).parent.parent
    / "cim_framework_graph_partitioning_spark"
    / "operators"
)

BANNED = ("spark.conf.set", "Observation(")

# per-line patterns of hand-written graph prep, allowed in edges.py only
PREP_COPIES = (
    re.compile(r'unionByName\(\s*\w+\.select\(F\.col\("dst_id"\)\.alias\("id"\)\)\)'),
    re.compile(
        r'select\(F\.col\("dst_id"\)\.alias\("e_v"\),\s*F\.col\("src_id"\)\.alias\("e_u"\)\)'
    ),
)
PREP_MODULE = "edges.py"


def test_operators_use_the_shared_loop_scaffolding():
    offenders = [
        f"{path.name}:{i}: {token}"
        for path in sorted(OPERATORS.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), start=1)
        for token in BANNED
        if token in line
    ]
    offenders += [
        f"{path.name}:{i}: {pattern.pattern}"
        for path in sorted(OPERATORS.rglob("*.py"))
        if path.name != PREP_MODULE
        for i, line in enumerate(path.read_text().splitlines(), start=1)
        for pattern in PREP_COPIES
        if pattern.search(line)
    ]
    assert not offenders, f"loop scaffolding or graph prep copied into operators: {offenders}"
