"""SparkSession factory.

Reference analog: ``hbase/HBaseConnection.kt:28-44`` builds one singleton
HBase client connection per process and bootstraps the system catalog
tables. Here the session *is* the connection: one SparkSession whose
config is tuned for analytics, with AQE enabled so plans re-optimize at
runtime (partition coalescing, skew-join splitting) — the behavior you
want on a 1000-executor cluster and on local[32] alike.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "kt_sql_hbase_ex_spark"


def default_parallelism() -> int:
    """CPU budget: env override first (driver contract), else machine CPUs."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Config notes, written for the 100 TB target even though tests run on
    ``local[N]``:

    * ``spark.sql.shuffle.partitions`` — sized to the core budget here; on a
      real cluster AQE coalescing makes the static number a ceiling, not a
      tuning knob.
    * AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching (sort-merge -> broadcast when a side
      turns out small after filtering).
    * Arrow enabled: every pandas interchange (Pandas UDFs, toPandas) goes
      through columnar Arrow batches instead of row pickling.
    * UTC session timezone so timestamp semantics match the DuckDB oracle.
    * Streaming checkpoints (offset log, commit log, state-store deltas)
      are written through ``FileSystemBasedCheckpointFileManager``. Spark's
      default goes through Hadoop's ``FileContext``; on a local file system
      without native IO, each of its writes runs ``chmod`` subprocesses
      (``RawLocalFileSystem.setPermission`` via ``Shell.execCommand``).
      Measured on a 4-core host: 32–44 ms per tiny checkpoint file through
      ``FileContext``, 9.5–12 ms through ``FileSystem``, paid several times
      per micro-batch. Semantics are unchanged: Spark already falls back
      to this manager where ``FileContext`` is unsupported (S3A); on HDFS
      ``FileSystem.rename`` does not overwrite; on the local file system
      both managers check the destination before the rename, so the
      offset log still fails if a batch file already exists.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4's default, pinned explicitly: money.py's overflow-is-
        # loud guarantee (long sums raise, never wrap) must survive a
        # cluster spark-defaults that flips ANSI off
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffledHashJoinFactor", "3")
        # Whole-stage-codegen CLASS CACHE, sized to the query registry
        # (static conf, default 100 compiled classes): this engine
        # serves ~270 registered queries of several codegen stages
        # each, so at the default the bench/battery sweeps thrash the
        # cache and re-Janino-compile hot plans on every execution —
        # measured: d03's minhash stage compiles in seconds and ran 3x
        # slower mid-sweep than isolated, purely from eviction. 2048
        # classes is a few hundred MB of driver metaspace at worst,
        # the same sizing call a multi-tenant cluster driver makes.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Python-worker handshake timeout (default 15s): an
        # oversubscribed host spawning many streaming-source workers
        # concurrently (parallel test shards, parity batteries) can
        # trip it and kill a healthy stream with "Python worker failed
        # to connect back" — a pure infra flake. 60s is harmless on an
        # idle host and on a real cluster.
        .config("spark.python.authenticate.socketTimeout", "60s")
        # Checkpoint writes through Hadoop FileSystem, not FileContext:
        # without native IO, FileContext's local writes spawn chmod
        # subprocesses (~4x slower per file; every micro-batch writes the
        # offset and commit logs). See the docstring for the semantics.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
