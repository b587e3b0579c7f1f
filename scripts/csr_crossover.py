"""Settle the CSR-vs-dataframe PageRank question with data (VERDICT r1 #3).

Measures steady-state superstep time for both execution paths on the
SAME edge table at two scales (~8M and ~32M edges), local[32]. Whatever
wins at 32M becomes the documented default; the loser is demoted to an
explicitly experimental path.

Run: python scripts/csr_crossover.py   (prints JSON; CSR_WRITE_MD=1 to
regenerate BENCH/CSR_CROSSOVER.md, off by default — it is hand-curated)
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cim_framework_graph_partitioning_spark.operators.pagerank import pagerank
from cim_framework_graph_partitioning_spark.session import get_spark

SCALES = [int(x) for x in os.environ.get("CSR_SCALES", "1000000,4000000").split(",")]
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
STEPS = int(os.environ.get("CSR_STEPS", "6"))
# quiet-window adjudication protocol (VERDICT r3 #7): interleave the
# modes ROUNDS times within ONE session, so a neighbor spike lands on
# one round of every mode instead of one mode's only sample; the
# per-mode verdict statistic is the min-of-steady across rounds (same
# noise defense as scaling_bench). ROUNDS=1 keeps the original sweep.
ROUNDS = int(os.environ.get("CSR_ROUNDS", "1"))


from _edges import edge_table  # noqa: E402  shared recipe — scripts/_edges.py


def run_mode(spark, edges, mode: str) -> dict:
    n_edges = edges.count()
    sink: list = []
    t0 = time.monotonic()
    pagerank(spark, edges, tol=0.0, max_iter=STEPS, mode=mode,
             checkpoint_every=STEPS, metrics_sink=sink)
    wall = time.monotonic() - t0
    steady = [m["superstep_sec"] for m in sink[1:]] or [m["superstep_sec"] for m in sink]
    sec = sum(steady) / len(steady)
    return {
        "mode": mode, "edges": n_edges, "steps": STEPS,
        "wall_sec": round(wall, 2), "sec_per_superstep": round(sec, 3),
        "min_steady_sec": round(min(steady), 3),
        "steady_steps_sec": [round(s, 2) for s in steady],
        "edges_per_sec": round(n_edges / sec, 1),
    }


def main() -> None:
    results = []
    for n_files in SCALES:
        path = edge_table(n_files)
        spark = get_spark(app_name=f"csr-x-{n_files}", master=f"local[{CORES}]",
                          shuffle_partitions=CORES)
        edges = spark.read.parquet(path)
        modes = os.environ.get("CSR_MODES", "dataframe,csr").split(",")
        for rnd in range(ROUNDS):
            for mode in modes:
                r = run_mode(spark, edges, mode)
                r["n_files"] = n_files
                r["round"] = rnd
                results.append(r)
                print(json.dumps(r))
        spark.stop()

    today = datetime.date.today().isoformat()
    lines = [
        f"# CSR vs dataframe PageRank crossover ({today})",
        "",
        f"local[{CORES}], steady-state superstep seconds (mean of steps 2..{STEPS}),",
        "same parquet edge table for both modes at each scale.",
        "",
        "| edges | mode | s/superstep | edges/sec |",
        "|---|---|---|---|",
    ]
    for r in results:
        lines.append(
            f"| {r['edges']:,} | {r['mode']} | {r['sec_per_superstep']} "
            f"| {r['edges_per_sec']:,.0f} |"
        )
    lines += ["", "Raw JSON:", "```json", json.dumps(results), "```", ""]
    os.makedirs("BENCH", exist_ok=True)
    # BENCH/CSR_CROSSOVER.md carries a hand-curated verdict history, so
    # overwriting is OPT-IN: the default run prints JSON only and never
    # clobbers the curated doc.
    if os.environ.get("CSR_WRITE_MD"):
        with open("BENCH/CSR_CROSSOVER.md", "w") as f:
            f.write("\n".join(lines))
    print(json.dumps(results))


if __name__ == "__main__":
    main()
