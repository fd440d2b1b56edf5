"""SparkSession construction tuned for this engine.

Local test profile: one JVM, ``local[N]`` threads. The config below is
chosen so the same code scales to a real cluster: AQE handles runtime
partition coalescing and skew joins, Arrow makes the Python boundary
columnar, and shuffle partitions default to core count locally (a cluster
deployment would size this to ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _enable_py4j_nodelay() -> None:
    """Set TCP_NODELAY on every py4j driver<->JVM connection.

    py4j never sets it, so each small request/response round-trip can sit
    in Nagle/delayed-ACK territory; measured here (gVisor netstack):
    3.3 ms -> 1.8 ms per driver op (OPTIMIZATION_r15.md §2).  Every
    DataFrame construction and job submission is a chain of such ops, so
    this is a global driver-latency lever, results-neutral by definition
    (a socket option changes timing only).  Patches the connection
    classes so FUTURE connections (one per driver thread) inherit it.
    """
    import socket as _socket

    import py4j.clientserver as _cs
    import py4j.java_gateway as _jg

    if getattr(_cs, "_dask_obj_nodelay", False):
        return

    def _patch(cls, meth: str) -> None:
        orig = getattr(cls, meth)

        def wrapper(self, *a, **kw):
            r = orig(self, *a, **kw)
            try:
                self.socket.setsockopt(
                    _socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1
                )
            except (OSError, AttributeError):
                pass  # e.g. a unix-domain socket: nothing to do
            return r

        setattr(cls, meth, wrapper)

    _patch(_cs.ClientServerConnection, "connect_to_java_server")
    _patch(_jg.GatewayConnection, "start")
    _cs._dask_obj_nodelay = True


def _nodelay_existing_connections(spark: SparkSession) -> None:
    """Apply TCP_NODELAY to connections opened before the class patch
    took effect (the launch connection getOrCreate itself used)."""
    import socket as _socket

    try:
        client = spark.sparkContext._gateway._gateway_client
        for conn in list(client.deque):
            conn.socket.setsockopt(
                _socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1
            )
    except (OSError, AttributeError):
        pass


def get_spark(
    app_name: str = "dask_obj_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    Scale notes (100 TB design intent):
    - AQE on: runtime re-plan (partition coalescing, skew-join splitting,
      broadcast demotion/promotion) is the main lever when static stats lie.
    - Arrow on: every pandas/mapInPandas boundary is columnar batches.
    - UTC session timezone: deterministic timestamp semantics vs the
      DuckDB oracle and across cluster nodes.
    """
    _enable_py4j_nodelay()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    # Python-boundary fix (guide §4, OPTIMIZATION_r15.md §1): the stock
    # worker daemon pays ~160 ms of pure overhead PER TASK here (zip-TOC
    # re-reads in importlib.invalidate_caches + a full gc.collect between
    # tasks — see dask_obj_daemon.py for the measurements).  Swap in the
    # repo's daemon module via the public spark.python.daemon.module
    # config; the daemon process resolves it via PYTHONPATH, which must
    # therefore include the repo root BEFORE the JVM is launched.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    daemon_conf: dict[str, str] = {}
    if os.path.exists(os.path.join(repo_root, "dask_obj_daemon.py")):
        parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if repo_root not in parts:
            os.environ["PYTHONPATH"] = os.pathsep.join(
                [repo_root] + [p for p in parts if p]
            )
        daemon_conf["spark.python.daemon.module"] = "dask_obj_daemon"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescing floor: Spark's 1 MB default; 64 KB regressed (OPTIMIZATION_r15.md)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark refuses by default; read as long (ns since epoch) and
        # convert in the loader (lossless: the data is µs-granular)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in daemon_conf.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _nodelay_existing_connections(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
