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

One lifetime rule covers every cached and checkpointed frame.
Operators store frames only through :func:`persist` and
:func:`checkpoint`, inside a function wrapped by :func:`operator_scope`.
When it returns, the scope releases all it stored except what its
result reads; that passes to the caller (the enclosing scope, which
applies the same rule, or the code that called the operator). A loop
releases each round with :func:`release` once the next is
materialized. ``release`` frees caches and local checkpoints alike,
without blocking, so no caller needs to know which kind it holds.

Builds that several queries share are named views (:func:`shared_view`,
:func:`view`). A view is built once per live SparkContext and input
directory, inside its own operator scope, and each frame it exports is
stored once by one rule: a frame that is itself a cache or checkpoint
is kept as it is, any other is coalesced to ``defaultParallelism`` and
persisted MEMORY_AND_DISK. :func:`release_views` frees them all.

Frames that serve many small requests are also copied to the driver
(:func:`driver_table`): one Arrow fetch of a stored frame at or below a
row gate, kept while the frame object lives and until :func:`release`
frees what it copied. Driver rows become frames through Arrow
(:func:`local_frame`), whose plan is a ``LocalRelation`` that collects
without a job.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import weakref
from collections.abc import Callable

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def _default_heap(meminfo: str | None) -> str:
    """The driver heap for a host whose ``/proc/meminfo`` reads
    ``meminfo``: half its ``MemTotal``, at most 48g; 48g when the text
    gives no ``MemTotal``. In ``local[N]`` mode the one JVM does all
    executor work, so the heap is sized for the whole host."""
    for line in (meminfo or "").splitlines():
        field = line.split()
        if field[:1] == ["MemTotal:"] and len(field) > 1 \
                and field[1].isdigit():
            mb = int(field[1]) // 2048  # kB -> MB, halved
            return f"{mb}m" if mb < 48 * 1024 else "48g"
    return "48g"


def _meminfo() -> str | None:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return None


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
    "spark.driver.memory": (os.environ.get("ASKG_DRIVER_MEM")
                            or _default_heap(_meminfo())),
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


# ------------------------------------------------------- frame lifetimes

class _Scopes(threading.local):
    def __init__(self) -> None:
        self.stack: list[list] = []  # per open scope: (session, leaf)


_OPEN = _Scopes()


def _kind(leaf) -> str:
    return leaf.getClass().getSimpleName()


def _plan(df: DataFrame):
    """``df``'s analyzed plan with caches substituted afresh: the
    frame's own ``withCachedData`` is fixed when it is first planned."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    return cm.useCachedData(df._jdf.queryExecution().analyzed())


def _leaves(df: DataFrame) -> list:
    """The cache (``InMemoryRelation``) and checkpoint (``LogicalRDD``)
    leaves ``df`` reads."""
    it = _plan(df).collectLeaves().iterator()
    out = []
    while it.hasNext():
        leaf = it.next()
        if _kind(leaf) in ("InMemoryRelation", "LogicalRDD"):
            out.append(leaf)
    return out


def _same(a, b) -> bool:
    if _kind(a) != _kind(b):
        return False
    if _kind(a) == "LogicalRDD":
        return a.rdd().id() == b.rdd().id()
    # the cache manager tells its entries apart by sameResult
    return a.cacheBuilder().logicalPlan().sameResult(
        b.cacheBuilder().logicalPlan())


def _drop(jspark, leaf) -> None:
    for df, (root, _) in list(_COPIES.items()):
        if _same(root, leaf):
            _COPIES.pop(df, None)  # a driver copy goes with what it copied
    if _kind(leaf) == "LogicalRDD":
        leaf.rdd().unpersist(False)
    else:
        jspark.sharedState().cacheManager().uncacheQuery(
            jspark, leaf.cacheBuilder().logicalPlan(), False, False)


def _own(df: DataFrame) -> DataFrame:
    if _OPEN.stack:
        jspark = df.sparkSession._jsparkSession
        _OPEN.stack[-1].extend((jspark, leaf) for leaf in _leaves(df))
    return df


def persist(df: DataFrame, level: StorageLevel =
            StorageLevel.MEMORY_AND_DISK_DESER) -> DataFrame:
    """``df.persist(level)``, owned by the innermost open scope."""
    return _own(df.persist(level))


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """A MEMORY_AND_DISK ``localCheckpoint`` of ``df``, owned by the
    innermost open scope: consumers read blocks, never ``df``'s plan."""
    return _own(df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK))


def release(*dfs: DataFrame) -> None:
    """Release the caches and checkpoints ``dfs`` read, once all that
    reads them is materialized. Inside an operator scope only the
    scope's own are released: an operator never frees its inputs."""
    for df in dfs:
        for leaf in _leaves(df):
            if _OPEN.stack:
                made = _OPEN.stack[-1]
                hit = [_same(m[1], leaf) for m in made]
                if not any(hit):
                    continue
                made[:] = [m for m, h in zip(made, hit) if not h]
            _drop(df.sparkSession._jsparkSession, leaf)


def _frames(out) -> list[DataFrame]:
    """A frame, or the frames in a returned dict or object's fields."""
    if isinstance(out, DataFrame):
        return [out]
    values = out.values() if isinstance(out, dict) else \
        getattr(out, "__dict__", {}).values()
    return [x for x in values if isinstance(x, DataFrame)]


def operator_scope(fn):
    """Release, when ``fn`` returns or raises, the frames it stored
    (its callees' included), except those its result reads (see
    :func:`_frames`). Those pass to the caller."""
    @functools.wraps(fn)
    def run(*args, **kwargs):
        made: list = []
        _OPEN.stack.append(made)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            for m in made:
                _drop(*m)
            raise
        finally:
            _OPEN.stack.pop()
        reads = [leaf for df in _frames(out) for leaf in _leaves(df)]
        for m in made:
            if any(_same(m[1], r) for r in reads):
                if _OPEN.stack:
                    _OPEN.stack[-1].append(m)
            else:
                _drop(*m)
        return out
    return run


# ---------------------------------------------------------- shared views

# name -> build(spark, sf) returning {frame name: frame}
VIEWS: dict[str, Callable[[SparkSession, str], dict[str, DataFrame]]] = {}
_BUILT: dict[tuple[str, str], dict[str, DataFrame]] = {}
_built_in = None  # the SparkContext the frames in _BUILT live in
_BUILDING = threading.RLock()  # a build may request the views it reads


def shared_view(name: str):
    """Register the decorated ``build(spark, sf)`` as view ``name``.
    Register a view after the views its build requests, so that
    building them in ``VIEWS`` order charges each build to its own."""
    def register(build):
        VIEWS[name] = build
        return build
    return register


@contextlib.contextmanager
def _unscoped():
    # a view outlives whichever operator first requests it
    outer, _OPEN.stack = _OPEN.stack, []
    try:
        yield
    finally:
        _OPEN.stack = outer


def _is_stored(df: DataFrame) -> bool:
    root = _plan(df)
    return _kind(root) == "InMemoryRelation" or (
        _kind(root) == "LogicalRDD"
        and root.rdd().getStorageLevel().isValid())


def row_bound(df: DataFrame) -> int | None:
    """An upper bound on ``df``'s rows known without a job, or None:
    the row count of the built cache that ``df`` only filters and
    projects (Spark counts a cache's rows as it builds it)."""
    node = _plan(df)
    while _kind(node) in ("Project", "Filter"):
        node = node.child()
    if _kind(node) != "InMemoryRelation" \
            or not node.cacheBuilder().isCachedColumnBuffersLoaded():
        return None
    return node.cacheBuilder().rowCountStats().value()


@operator_scope
def _build(spark: SparkSession, name: str, sf: str) -> dict[str, DataFrame]:
    frames = VIEWS[name](spark, sf)
    width = spark.sparkContext.defaultParallelism
    for key, df in frames.items():
        if not _is_stored(df):
            # a cache pins its width (AQE cannot coalesce through it);
            # the core count keeps every scan of it one full task wave
            frames[key] = persist(df.coalesce(width),
                                  StorageLevel.MEMORY_AND_DISK)
            frames[key].count()
    return frames


def view(spark: SparkSession, name: str, sf: str) -> dict[str, DataFrame]:
    """The frames of view ``name`` over input directory ``sf``, built
    by the first request in the live SparkContext; later requests get
    the same frames and run no job. A new context starts afresh."""
    global _built_in
    with _BUILDING:
        if _built_in is not spark.sparkContext:
            _BUILT.clear()  # a stopped context's storage is gone with it
            _built_in = spark.sparkContext
        if (name, sf) not in _BUILT:
            with _unscoped():
                _BUILT[name, sf] = _build(spark, name, sf)
        return _BUILT[name, sf]


def release_views() -> None:
    """Release every built view's storage with one :func:`release`."""
    with _BUILDING:
        frames = [df for built in _BUILT.values() for df in built.values()]
        _BUILT.clear()
        if frames and _built_in._jsc is not None:
            with _unscoped():
                release(*frames)


# ---------------------------------------------------------- driver copies

# stored frame -> (the cache or checkpoint it reads, its Arrow copy or
# None above the gate)
_COPIES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def driver_table(df: DataFrame, max_rows: int,
                 project: Callable[[DataFrame], DataFrame]
                 ) -> pa.Table | None:
    """``project(df)`` as an Arrow table in the driver, or None when
    ``df`` is not stored (a cache or a live checkpoint) or
    ``project(df)`` holds more than ``max_rows`` rows. The first request
    for a stored frame runs one ``limit(max_rows + 1)`` fetch; the
    answer, copy or None, is kept per frame object (one per frame: the
    first request's ``project`` and ``max_rows`` make it) until the
    frame dies or what it reads is released. A later request with a
    smaller ``max_rows`` than the copy's rows gets None. An unstored
    frame is never fetched: each request would recompute it."""
    copy = _COPIES.get(df)
    if copy is None:
        if not _is_stored(df):
            return None
        table = project(df).limit(max_rows + 1).toArrow()
        copy = _COPIES[df] = (_plan(df), table if table.num_rows <= max_rows
                              else None)
    table = copy[1]
    return table if table is not None and table.num_rows <= max_rows \
        else None


def local_frame(spark: SparkSession, rows, schema: str | StructType
                ) -> DataFrame:
    """The driver-side ``rows`` (tuples in ``schema``'s column order)
    as a frame built through Arrow: its plan is a ``LocalRelation``,
    which collects without a job. ``createDataFrame`` of a list is a
    Python-RDD scan, and reading it runs a Python-worker job."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=arrow), schema)
