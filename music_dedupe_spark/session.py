"""SparkSession factory with scale-oriented defaults, and the lifetime
of every cache the engine takes.

The reference tunes SQLite PRAGMAs and a 4-thread pool
(/root/reference/app/core.py:42,144-146); our equivalents are explicit
shuffle-partition control, AQE (runtime coalescing + skew-join splitting),
and Arrow batching for the vectorized-UDF path — the three knobs the
north rule requires to be explicit.

Cache lifetimes: every persist in the package goes through ``persist``,
which registers the frame in the innermost open ``cache_scope``; the
scope unpersists its frames on exit. A frame that must outlive the
scope it was built in is handed to the enclosing one with ``keep``.
With no scope open, a persist lives for the session. A plan that is
already cached stays with the owner that cached it first.
"""

from __future__ import annotations

import contextlib
import contextvars
import hashlib
import os
import sys
from collections.abc import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

#: Share of the host's MemTotal given to the driver heap (in local mode
#: the driver JVM is the only JVM). The JVM's resident size runs a few GB
#: above its heap, and the Python workers need room beside it.
DRIVER_HEAP_SHARE = 0.4


def _host_driver_mem() -> str:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, int(mem_kb * DRIVER_HEAP_SHARE / 1024 / 1024))}g"


DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "music_dedupe_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    In production this runs under ``spark-submit --py-files`` on a real
    cluster and ``master`` comes from the submit command; locally we run
    ``local[N]``. All settings below are cluster-safe.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    shuffle_partitions = shuffle_partitions or cpus
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # explicit shuffle control (north rule): size to cores locally,
        # to ~2-3x total cores on a real cluster.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting. At
        # 100 TB hot blocking keys (empty files, LICENSE, __init__.py)
        # produce skewed join sides; AQE splits them after the fact, our
        # blocking layer salts/caps them before the fact.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / applyInPandas / mapInPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # shuffle/spill codec (round-6 A/B, BENCH/ab_conf_r06.json):
        # zstd trades a little CPU for a markedly better ratio — fewer
        # shuffle bytes is what a bandwidth-bound cluster pays for, and
        # it measured neutral-to-positive locally.
        .config("spark.io.compression.codec", "zstd")
        # let the planner pick shuffled-hash join where its size checks
        # pass instead of defaulting to sort-merge (no sort pass; the
        # blocking layer caps partition-level build sides, and AQE's
        # skew handling still applies) — guide-recommended baseline.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # scalar @udf hops (none on data paths, but entry glue) cross
        # as Arrow batches instead of pickled rows
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # deterministic timestamps vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # sized to the host (SPARK_GRAFT_DRIVER_MEM overrides): a fixed
        # heap larger than the machine gets the driver OOM-killed
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    print(f"music_dedupe_spark: local[{cpus}], driver heap {driver_mem}", file=sys.stderr)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the executors (the ``spark-submit
    --py-files`` contract from the north rule, self-applied): without
    it, Python workers spawned outside the repo directory fail to
    unpickle our pandas UDFs with ModuleNotFoundError."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = _package_zip_path(pkg_dir)
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < max(
        (os.path.getmtime(os.path.join(r, f)) for r, _, fs in os.walk(pkg_dir) for f in fs),
        default=0,
    ):
        with zipfile.ZipFile(zip_path + ".tmp", "w") as z:
            for root, _, names in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for name in names:
                    if name.endswith(".py"):
                        full = os.path.join(root, name)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(zip_path + ".tmp", zip_path)
    spark.sparkContext.addPyFile(zip_path)


def _package_zip_path(pkg_dir: str) -> str:
    """Where the zip of the package at ``pkg_dir`` is built: one file
    per checkout (a short hash of its directory), so a session never
    ships another checkout's code to its workers."""
    tag = hashlib.sha256(pkg_dir.encode()).hexdigest()[:12]
    return os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"music_dedupe_spark_pyfiles_{tag}.zip"
    )


#: The open cache scopes of the current thread, innermost last. Each
#: thread starts with none, so a scope opened on a worker thread (the
#: LSH canary pass) never collects the main thread's frames.
_SCOPES: contextvars.ContextVar[tuple[list[DataFrame], ...]] = contextvars.ContextVar(
    "cache_scopes", default=()
)


@contextlib.contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist, on exit (also on error), every frame ``persist``
    cached inside the block and did not ``keep``."""
    frames: list[DataFrame] = []
    token = _SCOPES.set(_SCOPES.get() + (frames,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for df in frames:
            df.unpersist()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)``, owned by the innermost open
    ``cache_scope`` (by the session when none is open).

    Spark keys a cache by its plan, so a frame whose plan is already
    cached shares that cache: it stays with its first owner, and this
    scope neither registers nor releases it."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
    return df


def keep(df: DataFrame) -> DataFrame:
    """Hand a frame ``persist`` cached in the innermost scope to the
    enclosing scope (to the session when there is none), so it outlives
    the scope it was built in. A frame the innermost scope does not own
    is left with its owner."""
    scopes = _SCOPES.get()
    if scopes and any(f is df for f in scopes[-1]):
        frames = scopes[-1]
        frames[:] = [f for f in frames if f is not df]
        if len(scopes) > 1:
            scopes[-2].append(df)
    return df
