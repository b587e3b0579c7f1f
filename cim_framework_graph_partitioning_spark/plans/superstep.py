"""Generic Pregel-style superstep runtime.

The reference's driver loop evaluates candidate costs, keeps the global
best, and terminates when no legal move improves it (reference:
process.py:94-150 stage DP; calc_cost.py:399-420 keep-best/terminate).
This runtime generalizes that shape: per superstep one distributed
DataFrame pass produces the next state, the driver evaluates a scalar
convergence metric, and state + per-partition lineage + metrics are
checkpointed so a run is resumable mid-convergence.

Checkpoint layout (parquet; Iceberg layout when the connector is on the
classpath — same DataFrame surface):

  {dir}/state/superstep=N/        next state snapshot
  {dir}/lineage/                  (run_id, superstep, partition_id,
                                   metric, value) — long format, one row
                                  per partition per recorded quantity:
                                  "rows", "bytes" (real size of the
                                  parquet part file that partition
                                  wrote), and "sum_<col>"/"max_<col>"
                                  for every numeric state column (the
                                  partition's contribution to the global
                                  metrics — the engine's analogue of the
                                  reference's per-core instruction
                                  streams, partition_result_gen.py:15-380)
  {dir}/metrics/                  (run_id, superstep, name, value)

Checkpointing doubles as iterative-lineage truncation (SURVEY §4.3):
re-reading the parquet snapshot cuts the logical plan that would
otherwise grow linearly with supersteps. Without a checkpoint_dir the
runtime falls back to ``localCheckpoint()`` (in-memory truncation, not
resumable).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator, Sequence
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .barrier import PlanBarrier, checkpoint_leaf_ids, release_checkpoint

_AQE = "spark.sql.adaptive.enabled"
_SHUFFLE = "spark.sql.shuffle.partitions"


def _persisted_rdds(spark: SparkSession):
    return spark.sparkContext._jsc.getPersistentRDDs()


class LoopScope:
    """What one iterative operator call owns on its session: the loop
    conf it pinned, and the setup caches and checkpoints it registered.
    Created by ``loop_scope``, which releases all of it on exit."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._saved_conf: dict[str, str] = {}
        self._cached: list[DataFrame] = []
        self._checkpoints: list[tuple[DataFrame, frozenset[int]]] = []
        self._rdds_at_entry = set(_persisted_rdds(spark).keySet())

    def pin(self, p: int, pin_aqe: bool = True) -> None:
        """Loop conf: ``shuffle.partitions = p`` so every exchange of the
        loop lands on hash(key, p), and AQE off (explicit partitioning,
        no per-step re-planning) unless ``pin_aqe=False``. The values
        seen before the first pin are restored at scope exit."""
        pins = {_SHUFFLE: str(p)}
        if pin_aqe:
            pins[_AQE] = "false"
        for key, value in pins.items():
            self._saved_conf.setdefault(key, self.spark.conf.get(key))
            self.spark.conf.set(key, value)

    def cache(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, unpersisted at scope exit."""
        df = df.persist()
        self._cached.append(df)
        return df

    def own(self, df: DataFrame, protect: frozenset[int] = frozenset()) -> DataFrame:
        """Register a checkpointed frame: the checkpoint RDDs its plan
        reads, except ``protect``, are released at scope exit. Never
        register the frame the operator returns, nor one it reads."""
        self._checkpoints.append((df, protect))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint(eager=True)``, released at scope exit."""
        return self.own(df.localCheckpoint(eager=True))

    def _close(self, failed: bool) -> None:
        try:
            for df in self._cached:
                df.unpersist()
            for df, protect in self._checkpoints:
                release_checkpoint(df, protect=protect)
            if failed:
                # a failed call returns nothing, so every RDD it left
                # persisted is an orphan: a step's checkpoint, a barrier
                # cut, or the localCheckpoint of the job that failed
                # (registered before its job ran, never handed back)
                live = _persisted_rdds(self.spark)
                for rdd_id in set(live.keySet()) - self._rdds_at_entry:
                    rdd = live.get(rdd_id)
                    if rdd is not None:  # the map drops GC'd entries
                        rdd.unpersist(False)
        finally:
            for key, value in self._saved_conf.items():
                self.spark.conf.set(key, value)


@contextmanager
def loop_scope(
    spark: SparkSession, p: int | None = None, pin_aqe: bool = True
) -> Iterator[LoopScope]:
    """The session state one iterative operator call owns.

    ``p`` pins the loop conf at entry (``LoopScope.pin``); an operator
    whose setup must run under the session conf passes no ``p`` and
    pins after setup. Setup caches and checkpoints registered with the
    scope are released at exit and the conf is restored, on success
    and on exception. On exception every RDD persisted since entry is
    released too, which includes an input the caller cached lazily and
    the call materialized first (it stays correct, only uncached). Like
    the conf pin itself, this assumes one loop at a time per session."""
    scope = LoopScope(spark)
    try:
        if p is not None:
            scope.pin(p, pin_aqe)
        yield scope
    except BaseException:
        scope._close(failed=True)
        raise
    scope._close(failed=False)


def local_rows(spark: SparkSession, rows: Iterable[Sequence], ddl: str) -> DataFrame:
    """A small driver-built table, typed by ``ddl`` (every field nullable,
    as when ``spark.createDataFrame`` is given a list and a DDL string).
    The rows reach the JVM as one Arrow batch and become a local
    relation, so reading the frame starts no Python worker; a list given
    to ``spark.createDataFrame`` becomes ``sc.parallelize`` plus a
    per-row identity lambda, re-run in Python workers on every read.
    For tables whose size is a constant or a result size (part loads, a
    move batch, checkpoint bookkeeping), never graph-sized."""
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)  # allow-arrow-table: the one audited list-to-frame path


def observed_checkpoint(
    df: DataFrame,
    select: tuple[str, ...] | None = None,
    cut: Callable[[DataFrame], DataFrame] | None = None,
    **metrics: Column,
) -> tuple[DataFrame, dict[str, float]]:
    """Materialize ``df`` with ``metrics`` riding the same job as
    observed aggregates: observe, then the optional column ``select``,
    then ``cut`` (default ``localCheckpoint(eager=True)``; a
    ``PlanBarrier.cut`` also works). One Spark job, no separate stats
    scan. Returns (materialized frame, {name: value}); an aggregate over
    no rows reads 0.0."""
    obs = Observation()
    out = df.observe(obs, *(col.alias(name) for name, col in metrics.items()))
    if select is not None:
        out = out.select(*select)
    out = cut(out) if cut is not None else out.localCheckpoint(eager=True)
    return out, {name: float(v or 0) for name, v in obs.get.items()}


class SuperstepRunner:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        run_id: str = "run",
        checkpoint_every: int = 1,
        metrics_sink: list | None = None,
    ) -> None:
        self.spark = spark
        self.dir = checkpoint_dir
        self.run_id = run_id
        self.checkpoint_every = max(1, checkpoint_every)
        self.history: list[dict] = []  # driver-side metric log
        self.sink = metrics_sink  # the caller's list: gets each record too

    # -- checkpoint plumbing -------------------------------------------

    def _state_path(self, step: int) -> str:
        return f"{self.dir}/state/superstep={step}"

    def latest_step(self) -> int | None:
        """Largest superstep with a committed state snapshot, else None."""
        if not self.dir:
            return None
        root = f"{self.dir}/state"
        if not os.path.isdir(root):
            return None
        steps = []
        for d in os.listdir(root):
            if d.startswith("superstep="):
                p = os.path.join(root, d)
                if os.path.exists(os.path.join(p, "_SUCCESS")):
                    steps.append(int(d.split("=", 1)[1]))
        return max(steps) if steps else None

    def _checkpoint(self, state: DataFrame, step: int) -> DataFrame:
        if self.dir:
            path = self._state_path(step)
            state.write.mode("overwrite").parquet(path)
            self._write_lineage(state, step, path)
            return self.spark.read.parquet(path)
        return state.localCheckpoint(eager=True)

    def _write_lineage(self, state: DataFrame, step: int, path: str) -> None:
        """Per-partition lineage with content: row count, each numeric
        column's sum/max contribution, and the REAL bytes each partition
        wrote (its parquet part file size — part-NNNNN carries the write
        task index, which is the partition id of ``state``).

        Long format (partition_id, metric, value) so every algorithm's
        state schema lands in one stable lineage table."""
        from pyspark.sql.types import NumericType

        num_cols = [
            f.name for f in state.schema.fields
            if isinstance(f.dataType, NumericType)
        ]
        aggs = [F.count("*").cast("double").alias("rows")]
        for c in num_cols:
            # sum in DOUBLE: ids are xxhash64-sized longs and a long sum
            # overflows immediately under ANSI mode.
            aggs.append(F.sum(F.col(c).cast("double")).alias(f"sum_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"max_{c}"))
        wide = state.groupBy(F.spark_partition_id().alias("partition_id")).agg(*aggs)
        kv = []
        for name in ["rows"] + [p + c for c in num_cols for p in ("sum_", "max_")]:
            kv.append(F.lit(name))
            kv.append(F.col(name))
        melted = wide.select(
            "partition_id", F.explode(F.create_map(*kv)).alias("metric", "value")
        )
        # The "bytes" metric needs to stat the written part files. That
        # only works when the checkpoint dir is a driver-visible POSIX
        # path (local/NFS); on HDFS/S3 URIs (the 100-TB deployment) we
        # degrade to omitting "bytes" rather than raising — rows and the
        # per-column sums/maxes above are filesystem-independent.
        sizes = []
        if os.path.isdir(path):
            for fn in os.listdir(path):
                if fn.startswith("part-") and fn.endswith(".parquet"):
                    sizes.append(
                        (int(fn.split("-")[1]), "bytes",
                         float(os.path.getsize(os.path.join(path, fn))))
                    )
        rows_df = melted
        if sizes:
            bytes_df = local_rows(
                self.spark, sizes, "partition_id int, metric string, value double"
            )
            rows_df = melted.unionByName(bytes_df)
        lineage = rows_df.select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(step).alias("superstep"),
            "partition_id",
            "metric",
            "value",
        )
        lineage.write.mode("append").parquet(f"{self.dir}/lineage")

    def logged_metrics(self, step: int) -> dict[str, float]:
        """The metrics this run id logged to ``{dir}/metrics`` for
        ``step`` (empty without a checkpoint dir, or for step 0). A
        resumed loop whose convergence test compares against the
        previous step reads its last committed step from here."""
        path = f"{self.dir}/metrics"
        if not self.dir or not os.path.isdir(path):
            return {}
        rows = (
            self.spark.read.parquet(path)
            .filter((F.col("run_id") == self.run_id) & (F.col("superstep") == step))
            .select("name", "value")
            .collect()
        )
        return {r.name: r.value for r in rows}

    def _log_metrics(self, step: int, metrics: dict[str, float]) -> None:
        record = {"superstep": step, **metrics}
        self.history.append(record)
        if self.sink is not None:
            self.sink.append(record)
        if self.dir:
            rows = [(self.run_id, step, k, float(v)) for k, v in metrics.items()]
            local_rows(
                self.spark, rows, "run_id string, superstep int, name string, value double"
            ).write.mode("append").parquet(f"{self.dir}/metrics")

    # -- the loop -------------------------------------------------------

    def run(
        self,
        init_state: DataFrame,
        step_fn: Callable[[DataFrame, int], tuple[DataFrame, dict[str, float]]],
        converged: Callable[[dict[str, float]], bool],
        max_iter: int,
        resume: bool = False,
        pre_truncated: bool = False,
    ) -> tuple[DataFrame, int]:
        """Iterate ``state, metrics = step_fn(state, step)`` until
        ``converged(metrics)`` or max_iter. Returns (final_state, steps_run).

        ``step_fn`` performs the distributed pass (it should ``persist()``
        the new state before running its own convergence action, so the
        action doubles as materialization); ``converged`` is the
        driver-side convergence check evaluated each superstep.

        Durable checkpoints (parquet + lineage + metrics) happen every
        ``checkpoint_every`` supersteps and at convergence; in between,
        ``localCheckpoint`` truncates the growing iterative plan.
        """
        barrier = PlanBarrier(
            self.spark,
            hard_every=min(8, self.checkpoint_every) if self.dir else 8,
            tag=self.run_id,
        )
        start = 0
        state = init_state
        # checkpoints the CALLER owns (its init plan may sit on top of a
        # localCheckpoint'ed input, e.g. a materialized near-dup pair
        # graph): never release those — freeing an ancestor checkpoint
        # mid-loop kills every later superstep that still reads it.
        foreign = checkpoint_leaf_ids(init_state)
        if resume:
            last = self.latest_step()
            if last is not None:
                state = self.spark.read.parquet(self._state_path(last))
                start = last + 1
        if start == 0 and self.dir:
            state = self._checkpoint(state, 0)

        import time as _time

        step = start
        for step in range(max(start, 1), max_iter + 1):
            _t0 = _time.monotonic()
            try:
                new_state, metrics = step_fn(state, step)
            except BaseException:
                if state is not init_state:  # the runner's own checkpoint
                    release_checkpoint(state, protect=foreign)
                raise
            metrics["superstep_sec"] = round(_time.monotonic() - _t0, 3)
            self._log_metrics(step, metrics)
            done = converged(metrics) or step == max_iter
            # ALWAYS truncate lineage each superstep: the logical plan
            # otherwise nests every prior superstep and Catalyst
            # planning/cache-lookup cost grows superlinearly (measured
            # 10s/step at cadence 8 vs 1.5s/step truncating each step).
            # Additionally, a HARD barrier (parquet round-trip) must run
            # every few supersteps: localCheckpoint does not truncate
            # the physical RDD ancestry in this Spark build, and past
            # ~20 chained soft checkpoints the per-step cost explodes
            # (see plans/barrier.py). The durable checkpoint IS a hard
            # barrier; without a checkpoint_dir the barrier uses a
            # session-scoped scratch dir.
            if self.dir and (done or step % self.checkpoint_every == 0):
                snap = self._checkpoint(new_state, step)
                if new_state.is_cached:
                    new_state.unpersist()
                release_checkpoint(new_state, protect=foreign)
                new_state = snap
                barrier.mark_hard()
            elif pre_truncated:
                if step % barrier.hard_every == 0:
                    cut = barrier.cut(new_state, hard=True)
                    release_checkpoint(new_state, protect=foreign)  # replaced pre-truncated frame
                    new_state = cut
            else:
                trunc = barrier.cut(new_state)
                if new_state.is_cached:
                    new_state.unpersist()
                new_state = trunc
            if state.is_cached:
                state.unpersist()
            # superseded state: if it was a localCheckpoint (step_fn's
            # own truncation or a soft barrier cut), release its pinned
            # RDD — otherwise every superstep leaks one checkpointed RDD
            # plus its whole (untruncated) ancestry into the driver heap.
            if state is not new_state:
                release_checkpoint(state, protect=foreign)
            state = new_state
            if done:
                break
        return state, step
