"""Operators get loop conf and observed checkpoints from
``plans/superstep.py`` only: ``loop_scope`` pins and restores the conf,
``observed_checkpoint`` builds the observe-on-checkpoint job. A copy of
either scaffold inside an operator is how the copies drifted apart
(one left AQE off after a setup failure), so none may come back."""

from __future__ import annotations

import pathlib

OPERATORS = (
    pathlib.Path(__file__).parent.parent
    / "cim_framework_graph_partitioning_spark"
    / "operators"
)

BANNED = ("spark.conf.set", "Observation(")


def test_operators_use_the_shared_loop_scaffolding():
    offenders = [
        f"{path.name}:{i}: {token}"
        for path in sorted(OPERATORS.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), start=1)
        for token in BANNED
        if token in line
    ]
    assert not offenders, f"loop scaffolding copied into operators: {offenders}"
