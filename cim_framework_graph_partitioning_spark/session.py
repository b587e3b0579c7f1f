"""SparkSession factory.

Local-mode defaults tuned for the sandbox (local[N], one JVM); on a real
cluster the same code runs under ``spark-submit --py-files`` with
cluster-provided master/memory and proportionally larger
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import default_parallelism

# Entries in Spark's generated-class cache (the static SQL conf
# spark.sql.codegen.cache.maxEntries); sized in get_spark's docstring.
# Every session the repo builds takes it from here.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "cim-linkgraph",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """The one session factory of the engine, its scripts and its tests.

    Spark compiles every whole-stage and projection class through one
    JVM-wide cache, ``spark.sql.codegen.cache.maxEntries`` (default 100),
    a Guava cache split into 4 segments that each evict on their own at
    a quarter of the size. An iterative operator reuses the same classes
    superstep after superstep and call after call, so a cache smaller
    than the engine's working set recompiles them on every warm call:
    Janino first, then the JIT compiles the fresh class again.

    Working set, measured on local[3] as classes compiled on a cold pass
    with nothing evicted: ``bench.py``'s 19 leaves in one session 728
    (22 of them corpus synthesis and edge derivation); perfbench
    ``loop_floor`` 184 (kcore 79, labelprop 41, CSR pagerank 64) and
    ``partition_durable`` 156 (partitioner 96, durable pagerank 60).
    ``CODEGEN_CACHE_ENTRIES`` = 2000 gives each segment 500 entries,
    2.7x its share (182) of the largest of these. A second pass of the
    19 leaves then compiles no class of the loop operators; the AQE
    queries (minhash, bm25) may still compile a few, when AQE numbers
    the same stages in another order. Holding the classes costs little:
    after three passes of the 19 leaves, Metaspace read 180 MB against
    174 MB at the default, and the code heaps were level.

    The value is a static conf: it is read when the session is created
    and ``getOrCreate`` on a live session cannot change it. A session
    built elsewhere (``spark-submit``, a notebook, a driver that hands
    the engine its own session) must set it at creation, e.g.
    ``--conf spark.sql.codegen.cache.maxEntries=2000``.
    """
    cores = default_parallelism()
    # Under spark-submit the gateway JVM already exists and its conf
    # carries the submitted --master; forcing .master() here would
    # override the cluster manager the user launched against. The
    # gateway env vars are the reliable submit signature.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    master = master or os.environ.get("SPARK_MASTER") or (
        None if under_submit else f"local[{cores}]"
    )
    shuffle_partitions = shuffle_partitions or cores
    driver_memory = driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    # shuffle spill dir on tmpfs when available: local-mode shuffles are
    # disk-bound on the overlay fs and serialize under many threads
    # (measured local[32] slower than local[8] at 32M-edge shuffles).
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    builder = (
        (SparkSession.builder.master(master) if master
         else SparkSession.builder)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
