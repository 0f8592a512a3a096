"""SparkSession factory with scale-oriented defaults.

All defaults here are chosen for the 100 TB / 1000-executor target and
merely *tested* on local[N]:

  * AQE on (runtime join-strategy switching, partition coalescing,
    skew-join splitting) — the reference hand-schedules everything
    single-threaded; we let the engine re-plan at runtime instead.
  * Arrow on for all pandas UDF / mapInPandas exchange.
  * shuffle partitions sized to cores locally; on a real cluster this is
    overridden by --conf (AQE coalesces down, so over-provisioning is
    cheap; under-provisioning is not).
  * Python workers forked by ``askg_spark.worker_daemon``
    (``spark.python.daemon.module``). Stock ``pyspark.daemon`` makes a
    reused worker pay ~200 ms of CPU per task around a UDF body of a
    few ms: on Python 3.11 every task's ``importlib.invalidate_caches``
    re-reads ``pyspark.zip``'s directory once per zip importer (~16
    times), and every task ends with a full ``gc.collect()`` over the
    pandas/pyarrow heap. The daemon re-reads an archive only when its
    (mtime, size) changed and ``gc.freeze()``-s the heap after a
    worker's first task. It wraps ``pyspark.daemon`` instead of copying
    it, so no second daemon drifts from the installed pyspark. The zip
    fix has nothing to do on Python >= 3.12, whose zip importers
    invalidate lazily. ``get_spark`` puts the package on the workers'
    ``PYTHONPATH`` so the daemon can be imported before any task.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Keep Python workers warm for the whole app. The pipeline
    # alternates Python (mapInPandas) and JVM-only stages; with Spark
    # 4.1's idle-worker reaping at its defaults, workers released
    # after a Python stage are culled during the JVM stages in
    # between, so every later Python stage pays daemon re-fork +
    # pandas/numpy re-import PER WORKER — measured 571 core-s of
    # worker-init time at local[8] on the 1M-page corpus (vs 72 at
    # local[2]: the cost scales with worker count, a pure
    # anti-scaling term). Pinning an app-lifetime pool removed ~9%
    # of wall at local[8] (188.9s -> 175.2s, identical output).
    "spark.python.worker.reuse": "true",
    "spark.python.factory.idleWorkerMaxPoolSize": "64",
    "spark.python.worker.idleTimeoutSeconds": "0",
    "spark.python.worker.killOnIdleTimeout": "false",
    # stock daemon minus two fixed per-task costs (module docstring)
    "spark.python.daemon.module": "askg_spark.worker_daemon",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.session.timeZone": "UTC",
    # deterministic float formatting in checksums
    "spark.sql.legacy.allowNegativeScaleOfDecimal": "true",
    "spark.ui.enabled": "false",
    # NB: honored only when the JVM is launched by this process (plain
    # `python` entrypoints); under spark-submit pass --driver-memory.
    # local[32] is one JVM doing all executor work — size accordingly.
    "spark.driver.memory": os.environ.get("ASKG_DRIVER_MEM", "48g"),
}

# Shuffle/spill scratch: Spark's default is /tmp, which on this box is
# a shared spinning-rust root volume — the 200k-server event log shows
# 562 core-s (22% of ALL task time) inside Shuffle Write Time, and the
# contention grows with concurrent writers (pure anti-scaling: more
# cores = more writers on one disk queue). /dev/shm is a 126 GiB tmpfs;
# the pipeline's total shuffle volume at bench scale is < 2 GiB, so RAM
# scratch is safe and removes the disk from the scaling path entirely.
# On a real cluster this maps to the standard practice of pointing
# spark.local.dir at fast node-local NVMe (or ramdisk for small
# shuffle tiers) rather than a shared volume.
_SHM = "/dev/shm"
if os.path.isdir(_SHM) and os.access(_SHM, os.W_OK):
    DEFAULT_CONFS["spark.local.dir"] = os.path.join(_SHM, "askg-spark-local")


# The directory askg_spark is imported from (a checkout, site-packages,
# or a --py-files zip). Python workers must import askg_spark from it.
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))


def _export_package_path(spark: SparkSession) -> None:
    """Put ``_PACKAGE_ROOT`` on the Python workers' ``PYTHONPATH``.

    ``SparkContext.environment`` seeds the environment of every Python
    function this process creates from then on, and already holds any
    ``spark.executorEnv.PYTHONPATH``; the root is appended to it, so a
    value set by the caller keeps precedence."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_ROOT])


def get_spark(
    app_name: str = "askg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Master resolution order: explicit ``master`` arg > ``ASKG_MASTER``
    env > whatever spark-submit / spark-defaults already set (builder
    left untouched so ``--master`` is honored) > ``local[$SPARK_GRAFT_
    CPUS]`` for plain ``python`` entrypoints. NB: calling
    ``builder.master`` unconditionally would silently override
    spark-submit's ``--master`` — exactly the bug that made every
    spark-submit "local[8] vs local[32]" scaling pair run at
    local[*] twice.

    Python workers get the directory ``askg_spark`` was imported from
    on their ``PYTHONPATH``. The engine's UDFs always needed the
    package importable on workers; the worker daemon
    (``spark.python.daemon.module``) needs it before any task runs, and
    without it every Python task fails, ``createDataFrame`` from a list
    included. Override ``spark.python.daemon.module`` with
    ``pyspark.daemon`` in ``extra_confs`` where workers cannot reach
    that directory.
    """
    master = master or os.environ.get("ASKG_MASTER")
    # spark-submit pre-launches the JVM gateway (and has already fixed
    # spark.master from --master / spark-defaults); a plain `python`
    # entrypoint has no gateway yet. (SparkConf() can't be probed here:
    # before a SparkContext exists it is a py-local dict that does NOT
    # see the submitted JVM properties.)
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _export_package_path(spark)
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" not in (
            extra_confs or {}):
        # 4x the session's ACTUAL parallelism (read back from the live
        # context, so spark-submit masters are sized correctly too):
        # the salted quadratic joins hash (key, salt) combos into
        # shuffle partitions — over-provisioning smooths collision
        # imbalance and AQE coalesces the small ones back for free;
        # under-provisioning serializes the hot pair-generation tasks.
        n = int(os.environ.get(
            "ASKG_SHUFFLE_PARTITIONS",
            4 * spark.sparkContext.defaultParallelism))
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    if "spark.sql.files.minPartitionNum" not in (extra_confs or {}):
        # File scans bin-pack small files by (size + 4 MB open cost) /
        # maxPartitionBytes, which quantizes a many-small-file table
        # into a handful of splits regardless of cores (the 200k-page
        # corpus: 257 files -> 9 splits -> a 2-wave mapInPandas parse
        # at local[8], +50% extract wall). Pinning the scan floor to
        # 4x parallelism keeps the parse stage in short balanced waves
        # at any local[N] (2x left a 39s max-task straggler spanning
        # most of a 52s extract stage at the 1M-page corpus — per-task
        # parse cost varies with template mix, so finer splits cut the
        # last-wave tail); on a real cluster file count >> cores and
        # the floor is a no-op.
        spark.conf.set(
            "spark.sql.files.minPartitionNum",
            str(4 * spark.sparkContext.defaultParallelism))
    return spark


def unpersist_checkpoints(df: DataFrame) -> None:
    """Unpersist the ``localCheckpoint`` RDDs that ``df`` reads from.

    ``DataFrame.unpersist`` does not release a local checkpoint: the
    checkpoint is a ``LogicalRDD`` leaf over a persisted RDD, not a
    cache-manager entry. This unpersists every such leaf of ``df``'s
    plan, so call it only on a checkpoint (or a projection of one)
    that the caller owns, once everything that reads it has been
    materialized."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(False)
