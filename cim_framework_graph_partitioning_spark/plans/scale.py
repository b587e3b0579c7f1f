"""Data-proportional block counts for iterative superstep loops.

An iterative operator pays its partition count EVERY superstep: a
2k-vertex fixpoint spread over 32 shuffle partitions is ~100% task-
scheduling overhead, repeated 80 times (measured on this repo's PPR
convergence query: 0.9s/superstep at p=16 vs 0.3s at p=2 on 2.1k
vertices), while a 10^11-row state needs every core it can get. The
built-in answer for ONE-SHOT plans is AQE coalescing, but AQE inside
superstep loops re-plans every step (measured 2.3x slower per step on
the pagerank loop; ``LoopScope.pin`` in plans/superstep.py turns it
off); these loops therefore pick a FIXED block count up front,
proportional to the data.

``auto_blocks`` is that choice: one block per ``rows_per_block`` input
rows, clamped to [2, default_parallelism]. Operators call it with their
dominant-table row count (edges for matvec-shaped loops, vertices for
state-only loops) — a single count() job, amortized over every
superstep that follows. Callers can always override via ``num_blocks``.
"""

from __future__ import annotations


def auto_blocks(
    n_rows: int, default_parallelism: int, rows_per_block: int = 20_000
) -> int:
    """ceil(n_rows / rows_per_block) clamped to [2, default_parallelism]
    (lower bound drops to default_parallelism when that is below 2, so a
    local[1] session never gets MORE blocks than cores — over-splitting a
    single core would distort scaling baselines in the flattering
    direction).

    The default rows_per_block=20k is measured on this box: a 159k-edge
    PageRank is fastest near p=8, a 2.1k-vertex PPR near p=2, and a
    32M-edge loop saturates all cores (clamp binds). At cluster scale
    the clamp binds for any real table, so the knob only ever REDUCES
    parallelism for small inputs — it cannot starve a big job.
    """
    lo = min(2, default_parallelism)
    return max(lo, min(default_parallelism, -(-n_rows // rows_per_block)))
