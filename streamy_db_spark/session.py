"""SparkSession factory tuned for this host (local[N]) but cluster-safe.

Every knob here is also the right default on a 1000-executor cluster:
AQE re-plans skewed shuffles at runtime, shuffle partitions scale with
input (AQE coalesces), Arrow keeps the Python boundary batched, and UTC
pins timestamp semantics for oracle comparison (DuckDB is UTC-naive).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    cloudpickle serializes module-level functions referenced from UDF
    closures (e.g. the applyInPandasWithState processors in
    streaming/engine_stream.py) BY REFERENCE; a worker whose interpreter
    can't import the package — driver launched from a different cwd, or
    any real cluster — fails at unpickle time. ``addPyFile`` with a
    package zip is the standard deployment fix; idempotent per context."""
    import tempfile
    import zipfile
    from pathlib import Path

    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    pkg = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / "streamy_db_spark_pkg.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(pkg.parent))
    try:
        spark.sparkContext.addPyFile(str(zpath))
    except Exception:
        pass  # e.g. Spark Connect without SC access; cwd import still works
    _SHIPPED.add(key)


def release_local_checkpoints(df) -> None:
    """Deterministically free the storage blocks behind a DataFrame's
    ``localCheckpoint`` leaves once nothing will read them again.

    ``DataFrame.unpersist()`` is a no-op for checkpoints (the blocks
    belong to the checkpointed internal RDD, not the CacheManager), so
    without this the blocks linger until Python GC -> py4j detach ->
    JVM GC -> ContextCleaner finally drops them — which in practice
    means a long-lived session accumulates every checkpoint it ever
    made (guide §5: cached data competes with execution memory;
    unpersist when done). Walking the analyzed plan's LogicalRDD
    leaves frees exactly the checkpoint blocks under ``df`` (unions
    over several checkpoints release them all; LocalRelation and scan
    leaves are skipped).

    SAFETY: a localCheckpoint's lineage is truncated, so a released
    checkpoint that something later tries to read fails LOUDLY
    ("checkpoint block not found") rather than recomputing silently —
    call this only when the frame (and every lazy derivative of it)
    is finished. Best-effort by design: on Spark Connect there is no
    ``_jdf`` and the call degrades to the old GC-eventually behavior."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass  # Connect / exotic plan: ContextCleaner reclaims eventually


@contextmanager
def partition_preserving_checkpoints(spark: SparkSession):
    """Scope in which eager ``localCheckpoint``s capture their plan's
    hash partitioning and sort order for downstream reuse.

    Under AQE the executed plan is an ``AdaptiveSparkPlanExec`` whose
    final partitioning never reaches the ``LogicalRDD`` a checkpoint
    creates, so every downstream operation keyed the same way re-pays
    an Exchange (and Sort) over the checkpointed data. With AQE off at
    checkpoint CREATION the LogicalRDD advertises outputPartitioning /
    outputOrdering, and downstream windows / groupBys / joins on the
    same key skip their Exchange+Sort entirely — even when the
    downstream query itself is planned with AQE back on (measured:
    Exchanges=0, Sorts=0; plan-gated in tests/test_plans.py). Guide
    §2.4: remove shuffles outright.

    Only checkpoint creation needs the scope; keep it tight so the
    rest of the session retains AQE's skew/coalesce handling. The conf
    flip is session-global — do not hold the scope across work on
    OTHER driver threads. Prefer ``checkpoint_preserving(df)`` (below),
    which enters and exits per checkpoint, over wrapping a whole
    multi-action region: a region-wide wrap plans and executes EVERY
    join/window/count inside it with AQE off (r13 verdict's
    perf-weak #1 — the replay used to hold this scope for its entire
    wavefront loop)."""
    conf = spark.conf
    try:
        old = conf.get("spark.sql.adaptive.enabled")
    except Exception:  # pragma: no cover - exotic conf backends
        old = "true"
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old)


def checkpoint_preserving(df):
    """Eager ``localCheckpoint`` whose LogicalRDD advertises the plan's
    hash partitioning and sort order — the per-checkpoint form of
    ``partition_preserving_checkpoints``, scoped to exactly this one
    checkpoint's creation (plan + execute) so every other query on the
    session — per-round counts, collects, concurrent driver threads —
    keeps AQE's coalesce/skew handling (r14, tightening the r13
    replay-wide scope). The physical plan a checkpoint captures is
    identical to one created inside the region form: the conf is read
    when the checkpoint action forces ``executedPlan``, which for a
    freshly-built frame is inside this scope."""
    with partition_preserving_checkpoints(df.sparkSession):
        return df.localCheckpoint(eager=True)


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    ``min(16 GiB, ¾ of physical memory)``, in MiB. A fixed 16g on a host
    with 15 GiB and no swap lets a heap that grows toward its cap be
    killed by the kernel instead of garbage-collected; the ¼ left over
    holds the JVM's off-heap memory, the Python workers and the OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, phys * 3 // 4 // 2**20)}m"


def get_spark(app_name: str = "streamy_db_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as epoch-nanos long and derive a
        # proper timestamp in the loader (full ns precision kept for ordering).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
