"""SparkSession factory tuned for this engine.

Scale posture (100 TB / 1000-executor design, tested on local[32]):
- AQE on: runtime join-strategy switching, skew-join splitting, shuffle
  coalescing — replaces hand-tuning per scale factor.
- Arrow on: every Pandas-UDF hop is Arrow-batched, never per-row pickling.
- Shuffle partitions sized to cores locally; on a real cluster this is
  overridden (AQE coalescing makes the initial number less critical).
- UTC session timezone so results compare bit-for-bit with the DuckDB oracle
  (timestamps in the driver parquet are timezone-naive).
- RocksDB state store for streaming state (reference keeps its table state in
  RocksDB too: ``streams/PolyKVStore.scala:79-219``) — bounded memory at scale.
- Python workers fork from the package's worker daemon when they can import
  the package (:func:`worker_daemon_conf`): it spares every Python task the
  per-task re-read of ``pyspark.zip`` (:mod:`.worker_daemon`).
"""

from __future__ import annotations

import os
import site

from pyspark import SparkContext
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def worker_daemon_conf(master: str) -> dict[str, str]:
    """``spark.python.daemon.module`` set to the package's worker daemon, or
    nothing (Spark's own daemon) unless the Python workers can import the
    package: a local master, whose workers start in the JVM's cwd with its
    ``PYTHONPATH``, and the package's parent directory is that cwd, on that
    ``PYTHONPATH``, or in site-packages. A daemon module that does not
    import would fail every Python task."""
    if master != "local" and not master.startswith("local["):
        return {}
    jvm = SparkContext._jvm
    cwd = (jvm.java.lang.System.getProperty("user.dir") if jvm is not None
           else os.getcwd())
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    dirs = [cwd, *(os.path.join(cwd, p) for p in parts if p),
            *site.getsitepackages(), site.getusersitepackages()]
    home = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.realpath(home) not in {os.path.realpath(d) for d in dirs}:
        return {}
    return {"spark.python.daemon.module": f"{__package__}.worker_daemon"}


def get_spark(
    app_name: str = "fs2-kafka-streams-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    All configs are plain public Spark confs; AQE handles runtime re-planning
    so the same session config works from sf0.001 smoke tests to the 100 TB
    design point.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
    )
    for key, value in {**worker_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(key, value)

    # getActiveSession is thread-local; a session created on another thread
    # is still reused by getOrCreate (via the default session), so probe
    # the classic-mode default too — missing it would skip the warning.
    reused = (
        SparkSession.getActiveSession() is not None
        or getattr(SparkSession, "_instantiatedSession", None) is not None
    )
    spark = builder.getOrCreate()
    if reused and extra_conf:
        # On an existing session getOrCreate copies every builder config
        # into the session's runtime conf — so conf.get() echoes the new
        # value even for STATIC configs (driver memory, state-store
        # provider, event-log settings) that can no longer take effect.
        # The honest signal is whether conf.set accepts the key: Spark
        # raises CANNOT_MODIFY_(STATIC_)CONFIG for exactly the classes
        # that cannot apply at runtime, while custom app keys and
        # runtime SQL confs (which getOrCreate really did apply) pass.
        # Warn on the rejected keys whose live SparkConf value differs —
        # restart the JVM (new process) when a static conf matters.
        import warnings

        def _landed(k: str, v: str) -> bool:
            try:
                current = spark.conf.get(k, None)
                # re-setting the echoed value is a no-op probe for
                # modifiability, never a value change
                spark.conf.set(k, current if current is not None else v)
                return True
            except Exception:
                pass
            try:
                actual = spark.sparkContext.getConf().get(k, None)
            except Exception:  # Spark Connect: cannot confirm statics
                return False
            return actual == v

        stale = [k for k, v in extra_conf.items() if not _landed(k, str(v))]
        if stale:
            warnings.warn(
                "get_spark reused the existing SparkSession; these "
                f"extra_conf entries did NOT take effect: {sorted(stale)}",
                stacklevel=2,
            )
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:  # Spark Connect: no SparkContext; log level is
        pass  # a cluster-side setting there, not a client call
    return spark
