#!/usr/bin/env python3
"""Closed-loop benchmark of the link-graph engine.

One driver process starts a Spark session on local[3], loads a seeded
corpus the way ``main.py load_edges`` does, then calls the workload's
operators back to back: one cold pass, then timed passes until
``--seconds`` have gone by (at least one). Every result is checked
against a reference outside the timed window.

  python3 perfbench/run.py --workload loop_floor --seed 1 --seconds 5 --trace 0
  python3 perfbench/run.py --workload all      # every workload, both modes
  python3 perfbench/run.py --write-spec        # regenerate BENCHMARK.json
  python3 -m pytest perfbench -q -p no:cacheprovider

End-to-end metrics (``--trace 0``):
  setup_s       session start plus the median of three edge-table loads
                (read, derive_edges, integrity check, cache, count)
  first_pass_s  the cold pass, which a spark-submit user pays every job
  solve_s       median wall time of the timed passes
  cpu_s         median CPU of the process tree (driver, JVM, Python
                workers) per timed pass
  peak_rss_mb   sum of the tree's per-process peak RSS
Ops that raise or fail their check are counted in ``failed``.

``--trace 1`` is a separate run. It wraps the package's layer entry
points in spans (``spans.py``), reads per-op counters from the Spark
status store under one job group per op, times a traced, an untraced
and a traced pass (``trace.overhead_s`` is the difference of their
medians), fails the run if an op's counts differ between passes, and
prints the per-layer metrics; a layer a workload does not use reads 0.

The last line of stdout is one JSON object. The corpus cache, Spark's
scratch, span dumps and a full record of each run go to ``.perfbench/``
in the checkout root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

from workloads import OPS, WORKLOADS, Context  # noqa: E402

CORES = 3  # local[3] on a 4-core box: one core stays free for the driver, JIT and GC
DRIVER_MEMORY = "1g"  # pinned: the package default (16g) is larger than the 15 GiB box
LOAD_REPEATS = 3  # setup_s takes the median edge-table load
MIN_TIMED_PASSES = 1  # a traced run takes traced, untraced, traced: the order cancels warm-up drift
RUN_SECONDS = 5

END_TO_END = [  # (name, unit, bound)
    ("setup_s", "s", 0.25),
    ("first_pass_s", "s", 0.25),
    ("solve_s", "s", 0.25),
    ("cpu_s", "s", 0.25),
    ("peak_rss_mb", "MB", 0.25),
]
OP_METRICS = [
    ("wall_s", "s"), ("supersteps", "count"), ("jobs", "count"), ("stages", "count"),
    ("tasks", "count"), ("job_busy_s", "s"), ("driver_gap_s", "s"), ("task_cpu_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
]
LAYER_METRICS = [
    ("superstep.step_fn_s", "s"), ("superstep.self_s", "s"), ("superstep.step_p50_s", "s"),
    ("superstep.step_p90_s", "s"), ("superstep.late_step_s", "s"),
    ("barrier.cut_s", "s"), ("barrier.cuts_soft", "count"), ("barrier.cuts_hard", "count"),
    ("barrier.release_s", "s"),
    ("checkpoint.mb_written", "MB"), ("checkpoint.files", "count"), ("checkpoint.resume_s", "s"),
    ("partitioner.rounds", "count"), ("partitioner.moves", "count"),
    ("partitioner.objective", "score"), ("partitioner.exact_objective_s", "s"),
    ("session.start_s", "s"), ("edges.derive_s", "s"), ("edges.rows", "count"),
    ("jvm.jit_s", "s"), ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("jvm.cpu_s", "s"),
    ("pyworker.cpu_s", "s"), ("driver.cpu_s", "s"),
    ("session.leaked_rdds", "count"), ("session.conf_changed", "count"),
    ("trace.overhead_s", "s"),
]
HIGHER_IS_BETTER = {"edges.rows", "partitioner.moves"}


def op_names() -> list[str]:
    return [name for name in OPS if any(name in w.ops for w in WORKLOADS.values())]


def per_layer_metrics() -> list[tuple[str, str]]:
    return [(f"{op}.{m}", u) for op in op_names() for m, u in OP_METRICS] + LAYER_METRICS


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [{"name": n, "unit": u, "better": "lower", "bound": b}
                       for n, u, b in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n in HIGHER_IS_BETTER else "lower"}
                      for n, u in per_layer_metrics()],
    }


# -- the session ------------------------------------------------------------


def configure_env() -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    import shlex

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_LAUNCHER_OPTS=java_opts,  # spark-submit's own launcher JVM
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(CORES),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(
            ["--conf", f"spark.driver.extraJavaOptions={java_opts}", "pyspark-shell"]),
    )
    for var in ("SPARK_MASTER", "SPARK_DRIVER_MEMORY", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(var, None)


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    from collect import stop_tree

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    stop_tree()


# -- one pass through the workload's ops --------------------------------------


def run_pass(ctx: Context, ops, index: int, status=None, hygiene_on: bool = False) -> dict:
    from collect import hygiene, session_state, tree_cpu

    sc = ctx.spark.sparkContext
    rec = {"index": index, "ops": {}}
    cpu0 = tree_cpu()
    rec["start"] = time.perf_counter()
    for op in ops:
        group = f"pass{index}.{op.name}"
        before = session_state(ctx.spark) if hygiene_on else None
        if status:
            sc.setJobGroup(group, op.name)
        ctx.notes = {}
        t0 = time.perf_counter()
        try:
            result, steps, error = *op.call(ctx, op.operator()), None
        except Exception:  # noqa: BLE001 - a raising op is a counted failure, not the end of the run
            result, steps, error = None, None, traceback.format_exc()
        t1 = time.perf_counter()
        r = {"wall_s": t1 - t0, "start": t0, "end": t1, "supersteps": steps,
             "result": result, "error": error, "notes": ctx.notes}
        if status:
            sc.setJobGroup(f"pass{index}.bench", "bench")
            r["counters"] = status.collect(group)
        if hygiene_on:
            r["hygiene"] = hygiene(before, session_state(ctx.spark))
        rec["ops"][op.name] = r
    rec["end"] = time.perf_counter()
    rec["wall_s"] = sum(r["wall_s"] for r in rec["ops"].values())
    cpu1 = tree_cpu()
    rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    return rec


# -- correctness --------------------------------------------------------------


def check_passes(ctx: Context, ops, passes: list[dict], digest_file: str, key: str) -> list[str]:
    """One line per failed op call; digests must repeat across passes and
    across runs of the same workload and seed."""
    failures = []
    try:
        with open(digest_file) as f:
            known = json.load(f)
    except (OSError, ValueError):
        known = {}
    for op in ops:
        for p in passes:
            r = p["ops"][op.name]
            if r["error"] is None:
                bad = op.check(ctx, r["result"], r["supersteps"])
                if bad is None and op.digest is not None:
                    d = op.digest(r["result"])
                    want = known.setdefault(f"{key}/{op.name}", d)
                    if d != want:
                        bad = f"result digest {d[:12]} differs from the first run's {want[:12]}"
                r["error"] = bad
            if r["error"]:
                failures.append(f"pass {p['index']} {op.name}: {r['error']}")
    with open(digest_file, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    return failures


REPEATED = ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb")


def counter_mismatches(ops, passes: list[dict]) -> list[str]:
    """Counts that differ between passes of one process: a nondeterministic
    plan, or stage data evicted from the status store."""
    out = []
    for op in ops:
        seen = {}
        for p in passes:
            r = p["ops"][op.name]
            vals = {"supersteps": r["supersteps"], **{k: r["counters"][k] for k in REPEATED}}
            for k, v in vals.items():
                if seen.setdefault(k, v) != v:
                    out.append(f"{op.name}.{k}: {seen[k]} in one pass, {v} in pass {p['index']}")
    return out


# -- per-layer metrics from spans and counters ------------------------------


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layer_metrics(run: dict, tracer, traced: list[dict], timed: list[dict], ops, n_vertices: int) -> dict:
    from spans import duration

    m = {}
    for op in ops:
        rs = [p["ops"][op.name] for p in timed]
        c = rs[-1]["counters"]  # counts repeat across passes (counter_mismatches)
        m.update({
            f"{op.name}.wall_s": _median(r["wall_s"] for r in rs),
            f"{op.name}.supersteps": rs[-1]["supersteps"],
            f"{op.name}.jobs": c["jobs"], f"{op.name}.stages": c["stages"], f"{op.name}.tasks": c["tasks"],
            f"{op.name}.job_busy_s": _median(r["counters"]["job_busy_s"] for r in rs),
            f"{op.name}.driver_gap_s": _median(r["wall_s"] - r["counters"]["job_busy_s"] for r in rs),
            f"{op.name}.task_cpu_s": _median(r["counters"]["task_cpu_s"] for r in rs),
            f"{op.name}.shuffle_write_mb": c["shuffle_write_mb"],
            f"{op.name}.shuffle_read_mb": c["shuffle_read_mb"],
            f"{op.name}.spill_mb": c["spill_mb"],
        })

    def per_pass(fn):
        return _median(fn(tracer.window(p["start"], p["end"])) for p in traced)

    def total(name):
        return lambda spans: sum(duration(s) for s in spans if s["name"] == name)

    def count(name, pred=lambda s: True):
        return lambda spans: sum(1 for s in spans if s["name"] == name and pred(s))

    def runner_self(spans):
        inner = sum(duration(s) for s in spans if s["name"] in ("superstep.step_fn", "superstep.converged"))
        return total("superstep.run")(spans) - inner

    steps = [s for p in traced for s in tracer.window(p["start"], p["end"], "superstep.step_fn")]
    step_s = sorted(duration(s) for s in steps)
    late = [duration(s) for s in steps if s["metrics"].get("changed", n_vertices) < 0.01 * n_vertices]
    q = statistics.quantiles(step_s, n=10) if len(step_s) >= 2 else [step_s[0] if step_s else 0.0] * 9
    m.update({
        "superstep.step_fn_s": per_pass(total("superstep.step_fn")),
        "superstep.self_s": per_pass(runner_self),
        "superstep.step_p50_s": _median(step_s),
        "superstep.step_p90_s": q[8],
        "superstep.late_step_s": _median(late),
        "barrier.cut_s": per_pass(total("barrier.cut")),
        "barrier.cuts_soft": per_pass(count("barrier.cut", lambda s: not s.get("hard"))),
        "barrier.cuts_hard": per_pass(count("barrier.cut", lambda s: s.get("hard"))),
        "barrier.release_s": per_pass(total("barrier.release_checkpoint")),
        "partitioner.exact_objective_s": per_pass(total("partitioner.exact_objective")),
    })
    def note(key):  # what the ops measured of themselves, median over passes
        return _median(r["notes"][key] for p in timed for r in p["ops"].values() if key in r["notes"])

    m.update({
        "checkpoint.mb_written": note("mb_written"),
        "checkpoint.files": note("files"),
        "checkpoint.resume_s": note("resume_s"),
        "partitioner.rounds": note("rounds"),
        "partitioner.moves": note("moves"),
        "partitioner.objective": note("objective"),
        "session.start_s": run["session_s"],
        "edges.derive_s": _median(run["load_s"]),
        "edges.rows": run["edge_rows"],
        **{f"jvm.{k}": v for k, v in run["jvm"].items()},
        "jvm.cpu_s": _median(p["cpu"]["jvm"] for p in timed),
        "pyworker.cpu_s": _median(p["cpu"]["pyworker"] for p in timed),
        "driver.cpu_s": _median(p["cpu"]["driver"] for p in timed),
        "session.leaked_rdds": sum(r["hygiene"]["leaked_rdds"] for r in timed[-1]["ops"].values()),
        "session.conf_changed": sum(r["hygiene"]["conf_changed"] for r in timed[-1]["ops"].values()),
        "trace.overhead_s": _median(p["wall_s"] for p in traced)
        - _median(p["wall_s"] for p in timed if p not in traced),
    })
    return m


# -- one run ------------------------------------------------------------------


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    # Import the program first: without it there is nothing to measure.
    import main as program  # noqa: F401
    from cim_framework_graph_partitioning_spark import session as session_mod

    from checks import Reference
    from collect import StatusStore, jvm_runtime, tree_peak_rss_mb
    from corpus import edge_shape, ensure_corpus
    from spans import Tracer

    wl = WORKLOADS[name]
    ops = [OPS[o] for o in wl.ops]
    configure_env()
    run = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
           "settings": {"master": f"local[{CORES}]", "nproc": os.cpu_count(),
                        "driver_memory": DRIVER_MEMORY, "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
                        "warmup_passes": 1, "min_timed_passes": MIN_TIMED_PASSES,
                        "load_repeats": LOAD_REPEATS},
           "load_avg_start": os.getloadavg()}
    corpus_dir = os.path.join(WORK, "corpus", f"{wl.files}-{wl.shape_seed}-{seed}")
    run["corpus_digest"] = ensure_corpus(corpus_dir, wl.files, wl.shape_seed, seed)
    tag = f"{name}-s{seed}-t{int(trace)}"
    tracer = Tracer(tag)
    op_entries = {o.name: o.operator() for o in ops}
    if trace:
        tracer.install(op_entries)

    t0 = time.perf_counter()
    spark = session_mod.get_spark(app_name=f"perfbench-{name}", master=f"local[{CORES}]",
                                  shuffle_partitions=CORES, driver_memory=DRIVER_MEMORY)
    run["session_s"] = time.perf_counter() - t0
    run["load_s"], edges = [], None
    for _ in range(LOAD_REPEATS):
        if edges is not None:
            edges.unpersist()
        t0 = time.perf_counter()
        edges = program.load_edges(spark, corpus_dir).persist()
        run["edge_rows"] = edges.count()
        run["load_s"].append(time.perf_counter() - t0)
    run["setup_s"] = run["session_s"] + statistics.median(run["load_s"])
    run["process_to_loaded_s"] = time.perf_counter() - T_START

    ctx = Context(spark=spark, edges=edges, scratch=os.path.join(WORK, f"scratch-{os.getpid()}"))
    status = StatusStore(spark) if trace else None
    if trace:
        tracer.uninstall()  # the cold pass runs untraced, as in the timed run

    passes = [run_pass(ctx, ops, 0, status, hygiene_on=trace)]
    timed, traced = [], []
    t_window = time.perf_counter()
    min_passes = MIN_TIMED_PASSES + (2 if trace else 0)
    while len(timed) < min_passes or time.perf_counter() - t_window < seconds:
        on = trace and len(timed) % 2 == 0  # traced, untraced, traced, ...
        if on:
            tracer.install(op_entries)
        p = run_pass(ctx, ops, len(passes), status, hygiene_on=trace)
        if on:
            tracer.uninstall()
            traced.append(p)
        passes.append(p)
        timed.append(p)
    run["window_s"] = time.perf_counter() - t_window

    # correctness, outside the timed window
    ctx.ref = Reference(edges.select("src_id", "dst_id", "weight").toPandas())
    bad_edges = ctx.ref.check_shape(edge_shape(wl.files, wl.shape_seed), wl.files)
    failures = [f"load_edges: {bad_edges}"] if bad_edges else []
    failures += check_passes(ctx, ops, passes, os.path.join(WORK, "digests.json"), f"{name}/{seed}")
    mismatches = counter_mismatches(ops, timed) if trace else []
    run["jvm"] = jvm_runtime(spark)
    run["peak_rss_mb"] = peak_rss = tree_peak_rss_mb()
    run["load_avg_end"] = os.getloadavg()

    if trace:
        metrics = layer_metrics(run, tracer, traced, timed, ops, ctx.ref.n)
        units = dict(per_layer_metrics())
        names = [n for n, _ in per_layer_metrics()]
    else:
        metrics = {
            "setup_s": run["setup_s"],
            "first_pass_s": passes[0]["wall_s"],
            "solve_s": statistics.median(p["wall_s"] for p in timed),
            "cpu_s": statistics.median(sum(p["cpu"].values()) for p in timed),
            "peak_rss_mb": sum(peak_rss.values()),
        }
        units = {n: u for n, u, _ in END_TO_END}
        names = list(units)
    for n in names:
        metrics.setdefault(n, 0)

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    if trace:
        tracer.write(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    for p in passes:
        for r in p["ops"].values():
            r.pop("result", None)
    run.update(passes=passes, failures=failures, counter_mismatches=mismatches, metrics=metrics)
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(run, f, indent=1, default=str)

    shutil.rmtree(ctx.scratch, ignore_errors=True)
    shutdown(spark)

    for line in failures + mismatches:
        print(f"FAILED {line}", file=sys.stderr)
    s = run["settings"]
    print(f"# {name} seed={seed} {s['master']} driver_memory={s['driver_memory']} "
          f"timed_passes={len(timed)} load_avg={run['load_avg_start'][0]:.2f}->{run['load_avg_end'][0]:.2f}")
    for n in names:
        print(f"{n:40s} {metrics[n]:>14.6g} {units[n]}")
    attempted = 1 + sum(len(p["ops"]) for p in passes)  # the edge load, then every op call
    result = {
        "correct": not failures and not mismatches,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }
    print(json.dumps(result))
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in its own process."""
    code = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            res = subprocess.run(cmd, capture_output=True, text=True)
            lines = res.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            code |= res.returncode
            if res.returncode or not lines or not json.loads(lines[-1])["correct"]:
                print(f"# {name} trace={trace} failed (exit {res.returncode})")
                code |= 1
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true", help="write BENCHMARK.json and exit")
    args = ap.parse_args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec(), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
