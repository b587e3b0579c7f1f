"""N vs 4N EXECUTOR-PROCESS scaling evidence (the north rule's literal
criterion) via Spark's local-cluster pseudo-distributed mode.

``local[N]`` runs every executor thread in ONE JVM, which shares one
allocator, one mmap_lock, and one garbage collector — the measured
source of the single-box scaling wall (BENCH/ROOFLINE.md: ×2.21
CPU-cycle inflation at 8 threads on identical work; thread-vs-process
anon-fault ceiling). A real cluster runs N executors as N separate
PROCESSES. ``local-cluster[n, cores, mem]`` is Spark's pseudo-
distributed test mode: it spawns n REAL executor JVM processes on this
box with their own heaps, talking to the driver over the actual RPC +
shuffle-fetch paths — the closest thing to "spark-submit on a
multi-executor cluster at N and 4N executors" this sandbox can host.

Protocol mirrors scripts/scaling_bench.py exactly (same 32M-edge
parquet, one warm-up run, min-of-steady over N_STEPS fixed supersteps,
quiet-window gating, full arrays published):
N = CLUSTER_EXECS executors (default 2) vs 4N (default 8), each with
CLUSTER_CORES cores (default 2) and CLUSTER_MEM_MB heap.

Run: python scripts/cluster_scaling.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))

from pyspark.sql import SparkSession  # noqa: E402

from cim_framework_graph_partitioning_spark.operators.pagerank import (  # noqa: E402
    pagerank,
)
from cim_framework_graph_partitioning_spark.session import CODEGEN_CACHE_ENTRIES  # noqa: E402

from _edges import edge_table  # noqa: E402
from scaling_bench import wait_for_quiet  # noqa: E402

N_FILES = int(os.environ.get("SCALING_CORPUS_FILES", "4000000"))
N_EXECS = int(os.environ.get("CLUSTER_EXECS", "2"))
N_CORES = int(os.environ.get("CLUSTER_CORES", "2"))
MEM_MB = int(os.environ.get("CLUSTER_MEM_MB", "8192"))
N_STEPS = int(os.environ.get("SCALING_STEPS", "14"))
# partition count is FIXED across levels (the cluster convention: you
# scale executors, not the partitioning); 32 keeps tasks ~1M edges so
# no single task's hash state approaches an executor heap
N_PARTS = int(os.environ.get("CLUSTER_PARTS", "32"))


def run_level(execs: int, edges_path: str) -> dict:
    load = wait_for_quiet()
    total_cores = execs * N_CORES
    spark = (
        SparkSession.builder.master(f"local-cluster[{execs},{N_CORES},{MEM_MB}]")
        .appName(f"cluster-scaling-{execs}")
        .config("spark.sql.shuffle.partitions", str(N_PARTS))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    pagerank(spark, edges, tol=0.0, max_iter=2, num_blocks=N_PARTS)
    sink: list = []
    t0 = time.monotonic()
    _, steps = pagerank(
        spark, edges, tol=0.0, max_iter=N_STEPS, num_blocks=N_PARTS,
        checkpoint_every=N_STEPS + 1, metrics_sink=sink,
    )
    elapsed = time.monotonic() - t0
    spark.stop()
    steady = [m["superstep_sec"] for m in sink[1:]] or [
        m["superstep_sec"] for m in sink
    ]
    sec_per_step = min(steady)
    return {
        "executors": execs,
        "cores_per_executor": N_CORES,
        "total_cores": total_cores,
        "executor_mem_mb": MEM_MB,
        "edges": n_edges,
        "supersteps": steps,
        "elapsed_sec": round(elapsed, 2),
        "sec_per_superstep": round(sec_per_step, 3),
        "edges_per_sec": round(n_edges / sec_per_step, 1),
        "steady_steps_sec": [round(s, 2) for s in steady],
        "load_at_start": round(load, 2),
    }


def main() -> None:
    edges_path = edge_table(N_FILES)
    lo = run_level(N_EXECS, edges_path)
    hi = run_level(4 * N_EXECS, edges_path)
    eff = (hi["edges_per_sec"] / lo["edges_per_sec"]) / 4
    print(json.dumps({
        f"execs{N_EXECS}": lo,
        f"execs{4 * N_EXECS}": hi,
        "efficiency": round(eff, 4),
    }))


if __name__ == "__main__":
    main()
