"""SparkSession factory + per-session tuning.

The harness passes its own SparkSession into ``queries()`` callables,
so anything correctness-critical (session time zone, Arrow) must be
applied at *runtime* via ``tune(spark)``, not only at build time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session we are handed.
# - UTC pins current_timestamp()/date_trunc semantics to match a
#   naive-timestamp oracle (DuckDB timestamps are UTC-naive).
# - Arrow makes pandas_udf exchange columnar batches.
# - TIMESTAMP_MICROS: Spark's default parquet timestamp encoding is
#   legacy INT96, which carries NO min/max statistics — every
#   time-range scan over an INT96-written table reads every row group.
#   INT64 micros restores footer stats (and is what every modern
#   reader expects), making ts-clustered layers actually skippable.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Parquet timestamps written WITHOUT isAdjustedToUTC otherwise read
    # as TIMESTAMP_NTZ, which strict chrono functions (unix_micros,
    # to_utc_timestamp) reject at analysis time. With the session tz
    # pinned to UTC above, reading them as plain TIMESTAMP is
    # value-identical to the naive-timestamp oracle AND keeps min/max
    # footer stats usable by time-range pushdown (a projection-level
    # NTZ->TZ cast would block PushedFilters).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session. Idempotent."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static on some builds; best-effort
    return spark


def pool_task(spark: SparkSession, fn):
    """``fn`` wrapped for a ``ThreadPoolExecutor.submit``: under
    PySpark's pinned-thread mode a pool thread's Spark jobs otherwise
    carry none of the caller's local properties (job group,
    description, scheduler pool), so ``cancelJobGroup`` cannot stop
    them and per-group accounting misses them. Wrap once per submit:
    each wrapper holds its own copy of the properties, and two threads
    sharing one copy would see each other's SQL execution ids. With
    pinned threads off (``PYSPARK_PIN_THREAD=false``) pyspark does no
    hand-off and returns its argument instead of a decorator, so
    ``fn`` is returned unwrapped."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


_BLAS_ENV_VARS = (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)


def _blas_worker_env() -> dict[str, str]:
    """Per-worker native-threading env: default 1 thread per library,
    an explicitly exported var wins (see the rationale at the use
    site in ``get_spark``)."""
    return {var: os.environ.get(var, "1") for var in _BLAS_ENV_VARS}


def get_spark(app_name: str = "lakehouse-to-rag-spark", cpus: int | None = None) -> SparkSession:
    """Local session sized for the test harness (local[N], N from
    $SPARK_GRAFT_CPUS, default 32).

    Scale notes (100 TB posture): everything here is also what you
    want on a real cluster — AQE for runtime re-planning (partition
    coalescing, skew-join splitting), broadcast threshold for star
    joins, shuffle partitions sized to parallelism (on a cluster this
    would be 2-3x total cores; AQE coalesces down).
    """
    n = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local[N] runs ALL executor work inside the driver JVM: at 8g
        # the heap fills after ~20 mixed queries and full GCs stall
        # plan building for 5-20 s (measured: dedup_simhash 1.7 s vs
        # 20.6 s across bench runs, variance entirely in driver-side
        # build). 32g on the 128 GiB harness box removes the cliff; on
        # a real cluster driver memory only holds plans + collected
        # results, so 8-16g suffices there.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    # One BLAS thread per Python worker (r13 optimization round,
    # guide §4.5): every task slot runs its own numpy worker, so
    # nested BLAS auto-threading oversubscribes cores slot×threads —
    # measured on this harness: 16 concurrent GEMM workers at
    # OpenBLAS defaults ran 26-30 s/task vs 13-16 s pinned, and the
    # numpy-heavy bench rows (audio_fingerprint_dedup 3.6x,
    # dedup_tf_cosine 1.5x, doc_pagerank's self-kNN edges ~2x
    # steady-state) swing with it. This is the standard
    # numpy-on-Spark deployment discipline at any scale, not a
    # local[32] tune: executors schedule one Python worker per core,
    # so intra-worker parallelism belongs to Spark, not BLAS. An
    # explicitly exported env var wins (a single-slot GPU-ish box
    # may legitimately want threaded BLAS).
    for var, val in _blas_worker_env().items():
        builder = builder.config(f"spark.executorEnv.{var}", val)
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
