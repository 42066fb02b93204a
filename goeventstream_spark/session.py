"""SparkSession factory with 100 TB-minded defaults.

The reference (main.go:94-95) is one process / one node; this engine is
designed for a 1000-executor cluster. Local testing uses local[N], but
every config below is chosen to hold at cluster scale:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast selection) so small-SF tests and 100 TB runs share one code
  path while the planner adapts partition counts.
- Arrow on for the few Pandas-UDF operators (multimodal decode) so
  Python exchange is columnar-batched, never per-row pickling.
- shuffle.partitions sizes the batch shuffles, which AQE coalesces at
  runtime; at cluster scale the deployer sets it to ~2-3x total cores.
  It is NOT a ceiling for streaming stateful operators: AQE is off for
  them, and the state store keeps the partition count the query was
  first started with. ``streaming.game_server`` therefore runs every
  state partition on each trigger, each a Python task plus a
  state-store commit, however few games the batch touched.
- Python workers fork from the engine's own daemon,
  ``goeventstream_spark._pydaemon`` (``spark.python.daemon.module``).
  PySpark invalidates import caches before every task, and up to
  CPython 3.12 that re-reads the central directory of ``pyspark.zip``
  and the Spark jar once per zip importer: ~0.24 s of CPU per task,
  most of a serve-loop trigger. The daemon re-reads an archive only when
  it changed. CPython 3.13 made the re-read lazy, so there the daemon
  installs nothing; delete it once the lowest supported Python is 3.13.
  The package's parent directory goes on the workers' ``PYTHONPATH`` so
  the daemon and the stateful UDFs import from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Directory that holds the package: Python workers need it on their path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "goeventstream_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults come from env so the driver harness, pytest, and bench.py
    share one factory: ``SPARK_GRAFT_CPUS`` sets local parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # At 100 TB, 128 MiB splits -> ~800k input partitions; AQE
        # coalesces post-shuffle stages back down to useful sizes.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- python exchange --------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Workers fork from the engine's daemon (see module docstring),
        # which must import from any working directory.
        .config("spark.python.daemon.module", "goeventstream_spark._pydaemon")
        # --- broadcast: dims (region/nation/customer/supplier/part at
        # 100 TB the first two stay tiny; AQE upgrades others at runtime)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- streaming state --------------------------------------------
        # RocksDB is the production state store (bounded heap, spills to
        # disk, changelog checkpointing) and is required by the Spark 4
        # transformWithStateInPandas operators in streaming/stateful.py.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # Deterministic session timezone for tick arithmetic.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    # ``environment`` holds the spark.executorEnv.* values every Python
    # UDF ships to its daemon; put the package in front of any
    # PYTHONPATH already set there.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    return spark
