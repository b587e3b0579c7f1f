"""Single-box memory-bandwidth roofline vs the PageRank scaling curve.

Purpose (VERDICT r3 #1): the scaling-gate pair moved from 2v8 (r2) to
1v4 (r3) on the claim that this box's DRAM bandwidth saturates between
4 and 8 threads — so the 4→8 efficiency collapse is a single-host
artifact that an N → 4N EXECUTOR scale-up (each node bringing its own
memory channels) does not share. That claim was argued from the shape
of the Spark curve; this script MEASURES it, in two parts:

Part A — STREAM-style bandwidth sweep: n independent processes
  (processes, not threads — numpy ufuncs hold the GIL) each run
  copy (dst[:] = src, 16 B/elem traffic) and triad
  (a = b + q*c, 24 B/elem traffic) loops over buffers far larger than
  LLC, for a fixed wall window, synchronized start. Aggregate GB/s at
  n ∈ {1,2,4,8,16,32}. If B(n) stops growing between 4 and 8, the
  DRAM-knee claim is measured, and the Spark per-doubling efficiency
  curve (0.96 / 0.96 / 0.52 / 0.65) should track B's per-doubling
  curve at the same thread counts.

Part B — engine attribution: instrumented PageRank runs (UI enabled)
  on the 32M-edge scaling table at local[4] AND local[8] — the two
  sides of the efficiency collapse. Per level, from the Spark REST
  API: accounted bytes per superstep (shuffle read+write + spills +
  cached-edge scan — a LOWER BOUND on DRAM traffic; shuffle bytes are
  lz4-compressed), executor CPU-seconds per superstep, JVM GC time
  per superstep, and run time. CPU-time INFLATION at 8 vs 4 cores on
  identical work is the direct signature of shared-resource
  contention (memory stalls, allocator/locks, GC) — the thing a
  multi-JVM cluster does not share; flat CPU time with idle run time
  would instead indicate scheduling/straggler effects.

Part C — anonymous-page first-touch throughput, processes vs
  threads: this sandbox faults fresh anon memory at ~10-50 MB/s per
  process (measured; ~100x slower than stock Linux — likely memory
  tracking in the microVM). local[N] is ONE JVM: N task threads share
  one address space, one mmap_lock, one collector. N executors on a
  real cluster do not. Comparing fault throughput of N processes
  (each touching its own fresh buffer) vs N threads in one process
  (same total work) measures the single-process ceiling directly.

Writes BENCH/roofline_raw.json + prints one JSON line; the analysis
narrative lives in the hand-curated BENCH/ROOFLINE.md (same division
as scaling_bench.py / BENCH/BASELINE.md).
Run: python scripts/roofline.py          (full: ~15 min incl. Spark)
     ROOFLINE_SKIP_SPARK=1 python scripts/roofline.py   (Part A only)
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

MB = 1024 * 1024
BUF_MB = int(os.environ.get("ROOFLINE_BUF_MB", "256"))  # per array, >> LLC
WINDOW_SEC = float(os.environ.get("ROOFLINE_WINDOW_SEC", "4.0"))
LEVELS = [int(x) for x in os.environ.get("ROOFLINE_LEVELS", "1,2,4,8,16,32").split(",")]
# repeats: each worker set takes REPEATS barrier-aligned windows in ONE
# spawn, and the ceiling estimate is max-of-windows — the same noise
# defense as min-of-steady in scaling_bench.py, flipped for a rate. All
# raw samples are published. (Windows are consecutive per spawn rather
# than interleaved across the run because first-touch page faults in
# this sandboxed VM run at ~44 MB/s per process — measured, see
# BENCH/ROOFLINE.md — so buffer allocation dominates any respawn.)
REPEATS = int(os.environ.get("ROOFLINE_REPEATS", "3"))
# published steady s/step per local[N] level for the 32M-edge PageRank
# (BENCH/BASELINE.md raw JSON: 1/2/4/8 from the r3 runs; 16/32 = min
# over the two fresh r4 runs each — full arrays in BASELINE.md)
STEADY_SEC = {1: 36.204, 2: 18.848, 4: 9.796, 8: 9.426, 16: 5.112, 32: 2.830}


def _busy_cores(sample_sec: float = 2.0) -> float:
    """Cores busy right now, from /proc/stat deltas — responsive, unlike
    the 1-min load average, which lags this script's own just-exited
    workers by minutes and would stall every level on its predecessor."""
    def snap():
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        idle = vals[3] + vals[4]  # idle + iowait
        return sum(vals), idle
    t0, i0 = snap()
    time.sleep(sample_sec)
    t1, i1 = snap()
    dt = t1 - t0
    return (dt - (i1 - i0)) / dt * os.cpu_count() if dt else 0.0


def wait_for_quiet(max_busy_cores: float = 4.0, timeout_sec: int = 120) -> float:
    t0 = time.monotonic()
    while True:
        busy = _busy_cores()
        if busy <= max_busy_cores or time.monotonic() - t0 > timeout_sec:
            return busy
        time.sleep(5)


def _worker(kind: str, barrier, window: float, reps: int, q: mp.Queue) -> None:
    n = BUF_MB * MB // 8
    src = np.ones(n, dtype="float64")
    dst = np.empty(n, dtype="float64")
    if kind == "triad":
        c = np.full(n, 2.0)
    # touch everything so first-fault page zeroing is off the clock
    dst[:] = src
    per_pass = (16 if kind == "copy" else 24) * n  # STREAM byte conventions
    out = []
    for _ in range(reps):
        barrier.wait()  # all workers aligned before every window
        t0 = time.monotonic()
        passes = 0
        while time.monotonic() < t0 + window:
            if kind == "copy":
                np.copyto(dst, src)
            else:
                np.add(src, c, out=dst)  # triad a = b + c (2 reads + 1 write)
            passes += 1
        out.append((passes * per_pass, time.monotonic() - t0))
    q.put(out)


# generous: covers worst-case allocation at this sandbox's measured
# ~10 MB/s/proc fault rate plus all windows; a dead worker must fail
# the run loudly, not hang q.get()/Barrier.wait() forever
WORKER_TIMEOUT_SEC = float(os.environ.get("ROOFLINE_WORKER_TIMEOUT", "900"))


def _drain(q: mp.Queue, procs: list) -> list:
    """Collect one queue item per worker, failing loudly if any worker
    died (OOM-kill, exception before q.put) instead of hanging."""
    import queue as _queue

    results = []
    for _ in procs:
        try:
            results.append(q.get(timeout=WORKER_TIMEOUT_SEC))
        except _queue.Empty:
            for p in procs:
                p.terminate()
            raise RuntimeError(
                f"worker died or stalled >{WORKER_TIMEOUT_SEC}s "
                f"(exitcodes: {[p.exitcode for p in procs]})"
            ) from None
    for p in procs:
        p.join()
    return results


def bandwidth_at(n_procs: int, kind: str) -> list[float]:
    """One aggregate GB/s sample per repeat window (allocation amortized
    over all windows — see REPEATS note)."""
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    barrier = ctx.Barrier(n_procs, timeout=WORKER_TIMEOUT_SEC)
    procs = [
        ctx.Process(target=_worker, args=(kind, barrier, WINDOW_SEC, REPEATS, q))
        for _ in range(n_procs)
    ]
    for p in procs:
        p.start()
    results = _drain(q, procs)
    # per window: aggregate rate = sum of per-worker rates over their own windows
    return [
        sum(worker[w][0] / worker[w][1] for worker in results) / 1e9
        for w in range(REPEATS)
    ]


def part_a() -> dict:
    out = {}
    for n in LEVELS:
        busy = wait_for_quiet()
        cs = [round(x, 2) for x in bandwidth_at(n, "copy")]
        ts = [round(x, 2) for x in bandwidth_at(n, "triad")]
        out[n] = {
            "copy_gbps": max(cs),
            "triad_gbps": max(ts),
            "copy_samples": cs,
            "triad_samples": ts,
            "busy_cores_at_start": round(busy, 2),
        }
        print(f"  {n:>2} procs: copy {cs} -> {max(cs)} GB/s, "
              f"triad {ts} -> {max(ts)} GB/s (busy@start {busy:.2f})",
              file=sys.stderr)
    return out


def _ensure_edges() -> str:
    if os.environ.get("SCALING_EDGES_PATH"):
        return os.environ["SCALING_EDGES_PATH"]
    from _edges import edge_table  # shared recipe — scripts/_edges.py

    return edge_table(4_000_000)


def _part_b_level(cores: int, edges_path: str) -> dict:
    import urllib.request

    from pyspark.sql import SparkSession

    from cim_framework_graph_partitioning_spark.operators.pagerank import pagerank
    from cim_framework_graph_partitioning_spark.session import CODEGEN_CACHE_ENTRIES

    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"roofline-traffic-{cores}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "true")  # REST metrics source
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    ui = spark.sparkContext.uiWebUrl  # port may move if 4040 lingers

    def stages_totals() -> dict:
        base = f"{ui}/api/v1"
        apps = json.load(urllib.request.urlopen(f"{base}/applications"))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(f"{base}/applications/{app_id}/stages?status=complete")
        )
        keys = [
            "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
            "memoryBytesSpilled", "diskBytesSpilled",
            "executorRunTime", "executorCpuTime", "jvmGcTime",
        ]
        return {k: sum(s.get(k, 0) for s in stages) for k in keys}

    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    pagerank(spark, edges, tol=0.0, max_iter=2)  # warm-up (JIT + normalize)
    before = stages_totals()
    n_steps = int(os.environ.get("ROOFLINE_STEPS", "6"))
    sink: list = []
    pagerank(spark, edges, tol=0.0, max_iter=n_steps,
             checkpoint_every=n_steps + 1, metrics_sink=sink)
    after = stages_totals()
    # cached normalized-edge scan per superstep: in-memory size of the
    # persisted edge state (storage REST endpoint), scanned >= once per
    # superstep from the executor cache (pure DRAM traffic).
    base = f"{ui}/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications"))
    rdds = json.load(
        urllib.request.urlopen(f"{base}/applications/{apps[0]['id']}/storage/rdd")
    )
    cached_bytes = max((r.get("memoryUsed", 0) for r in rdds), default=0)
    spark.stop()

    deltas = {k: after[k] - before[k] for k in before}
    steady = [m["superstep_sec"] for m in sink[1:]] or [m["superstep_sec"] for m in sink]
    shuffle_per_step = (
        deltas["shuffleReadBytes"] + deltas["shuffleWriteBytes"]
        + deltas["memoryBytesSpilled"] + deltas["diskBytesSpilled"]
    ) / n_steps
    # lower bound on DRAM traffic per superstep: one scan of the cached
    # edge state + the (compressed) shuffle read+write volume
    bytes_per_step = cached_bytes + shuffle_per_step
    return {
        "cores": cores,
        "n_edges": n_edges,
        "n_steps": n_steps,
        "cached_edge_bytes": cached_bytes,
        "stage_deltas": deltas,
        "shuffle_bytes_per_step": round(shuffle_per_step),
        "lower_bound_bytes_per_step": round(bytes_per_step),
        # attribution per superstep (REST: cpuTime ns, runTime/gcTime ms)
        "cpu_sec_per_step": round(deltas["executorCpuTime"] / 1e9 / n_steps, 3),
        "run_sec_per_step": round(deltas["executorRunTime"] / 1e3 / n_steps, 3),
        "gc_sec_per_step": round(deltas["jvmGcTime"] / 1e3 / n_steps, 3),
        "steady_steps_sec": [round(s, 2) for s in steady],
        "min_steady_sec": round(min(steady), 3),
    }


def part_b() -> dict:
    edges_path = _ensure_edges()
    levels = [
        int(x) for x in os.environ.get("ROOFLINE_SPARK_LEVELS", "4,8").split(",")
    ]
    out = {}
    for cores in levels:
        wait_for_quiet()
        r = _part_b_level(cores, edges_path)
        out[str(cores)] = r
        print(f"  local[{cores}]: min steady {r['min_steady_sec']}s/step, "
              f"cpu {r['cpu_sec_per_step']}s, gc {r['gc_sec_per_step']}s, "
              f"accounted {r['lower_bound_bytes_per_step']/1e9:.2f} GB/step",
              file=sys.stderr)
    return out


def part_c() -> dict:
    """Anon first-touch fault throughput: N processes vs N threads."""
    import threading

    fault_mb = int(os.environ.get("ROOFLINE_FAULT_MB", "256"))
    n_elem = fault_mb * MB // 8
    levels = [int(x) for x in os.environ.get("ROOFLINE_FAULT_LEVELS", "1,2,4,8").split(",")]

    def touch_rate_procs(n: int) -> float:
        ctx = mp.get_context("fork")
        q = ctx.Queue()
        barrier = ctx.Barrier(n, timeout=WORKER_TIMEOUT_SEC)

        def w(q=q, barrier=barrier):
            barrier.wait()
            t0 = time.monotonic()
            buf = np.empty(n_elem, dtype="float64")
            np.copyto(buf, 1.0)  # first-touch fault of every page
            q.put(time.monotonic() - t0)

        procs = [ctx.Process(target=w) for _ in range(n)]
        for p in procs:
            p.start()
        times = _drain(q, procs)
        return n * fault_mb / max(times) / 1024  # aggregate GB/s

    def touch_rate_threads(n: int) -> float:
        bufs = [np.empty(n_elem, dtype="float64") for _ in range(n)]
        barrier = threading.Barrier(n)
        times = [0.0] * n

        def w(i):
            barrier.wait()
            t0 = time.monotonic()
            np.copyto(bufs[i], 1.0)  # GIL released inside copyto
            times[i] = time.monotonic() - t0

        ts = [threading.Thread(target=w, args=(i,)) for i in range(n)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        del bufs
        return n * fault_mb / max(times) / 1024

    out = {}
    for n in levels:
        wait_for_quiet()
        p = round(touch_rate_procs(n), 3)
        t = round(touch_rate_threads(n), 3)
        out[str(n)] = {"procs_gbps": p, "threads_gbps": t}
        print(f"  fault {n:>2}x{fault_mb}MB: procs {p} GB/s, threads {t} GB/s",
              file=sys.stderr)
    return out


def main() -> None:
    if os.environ.get("ROOFLINE_SKIP_BW"):
        # Part-B-only rerun: reuse the bandwidth sweep already on disk
        with open("BENCH/roofline_raw.json") as f:
            prev = json.load(f)
        bw = {int(k): v for k, v in prev["bandwidth_gbps"].items()}
        result: dict = {
            "bandwidth_gbps": bw,
            "buf_mb": prev["buf_mb"],
            "window_sec": prev["window_sec"],
        }
        # carry over sections whose measurement is also being skipped
        if os.environ.get("ROOFLINE_SKIP_SPARK") and "engine" in prev:
            result["engine"] = prev["engine"]
        if os.environ.get("ROOFLINE_SKIP_FAULT") and "fault_throughput" in prev:
            result["fault_throughput"] = prev["fault_throughput"]
    else:
        print("Part A: bandwidth sweep", file=sys.stderr)
        bw = part_a()
        result = {"bandwidth_gbps": bw, "buf_mb": BUF_MB,
                  "window_sec": WINDOW_SEC, "repeats": REPEATS}

    if not os.environ.get("ROOFLINE_SKIP_SPARK"):
        print("Part B: instrumented PageRank traffic + attribution", file=sys.stderr)
        result["engine"] = part_b()

    if not os.environ.get("ROOFLINE_SKIP_FAULT"):
        print("Part C: anon first-touch fault throughput", file=sys.stderr)
        result["fault_throughput"] = part_c()

    # derived: per-doubling bandwidth efficiency vs Spark per-doubling
    # efficiency at the same thread counts
    doublings = []
    lv = sorted(bw)
    for a, c in zip(lv, lv[1:]):
        ratio = c / a
        doublings.append(
            {
                "pair": f"{a}->{c}",
                "bw_eff_triad": round(bw[c]["triad_gbps"] / bw[a]["triad_gbps"] / ratio, 3),
                "bw_eff_copy": round(bw[c]["copy_gbps"] / bw[a]["copy_gbps"] / ratio, 3),
                "spark_eff": (
                    round(STEADY_SEC[a] / STEADY_SEC[c] / ratio, 3)
                    if a in STEADY_SEC and c in STEADY_SEC
                    else None
                ),
            }
        )
    result["per_doubling"] = doublings
    if "engine" in result:
        # per measured level: the engine's accounted-traffic rate (lower
        # bound) against that level's measured bandwidth ceiling, plus
        # the 4->8 CPU-time inflation factor (same work, same steps)
        rate = {}
        for lvl, eng in result["engine"].items():
            n = int(lvl)
            rate[lvl] = {
                "engine_lower_bound_gbps": round(
                    eng["lower_bound_bytes_per_step"] / eng["min_steady_sec"] / 1e9, 2
                ),
                "ceiling_copy_gbps": bw[n]["copy_gbps"] if n in bw else None,
                "ceiling_triad_gbps": bw[n]["triad_gbps"] if n in bw else None,
            }
        result["engine_rate_vs_ceiling"] = rate
        lv = sorted(result["engine"], key=int)
        if len(lv) >= 2:
            a, c = result["engine"][lv[0]], result["engine"][lv[-1]]
            if a["cpu_sec_per_step"] > 0:
                result["cpu_inflation"] = {
                    "pair": f"{lv[0]}->{lv[-1]}",
                    "cpu_sec_per_step": [a["cpu_sec_per_step"], c["cpu_sec_per_step"]],
                    "factor": round(c["cpu_sec_per_step"] / a["cpu_sec_per_step"], 3),
                    "gc_sec_per_step": [a["gc_sec_per_step"], c["gc_sec_per_step"]],
                }
    print(json.dumps(result))
    with open("BENCH/roofline_raw.json", "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
