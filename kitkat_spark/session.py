"""SparkSession factory.

Tuned for the test harness (local[N], one JVM) but every setting is the one
you'd want on a 1000-executor cluster too: AQE on (runtime shuffle-partition
coalescing, skew-join splitting, broadcast demotion), Arrow for the Python
boundary, UTC session timezone so timestamp semantics match the DuckDB oracle.

At 100 TB the only knobs that change are cluster-level (executor count/memory,
`spark.sql.shuffle.partitions` as a *ceiling* — AQE coalesces down), not
anything baked into operator code here.

Python workers start from ``kitkat_spark.pyworker`` (``spark.python.daemon.
module``) with the package root first on ``spark.executorEnv.PYTHONPATH``, so
codec UDFs import kitkat_spark wherever the driver runs. Spark puts
``pyspark.zip``, the py4j zip and the spark-core JAR (5,359 entries, no
``.py``) ahead of everything on the workers' path, and
``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
once per Python node per task. On Python 3.11 that makes every cached
``zipimporter`` re-read its whole archive directory: 12 over ``pyspark.zip``
at ~10 ms each and 2 over the JAR at ~40 ms each, ~200 ms of worker CPU per
node per task (on a 4 vCPU host, an identity pandas UDF over 200 rows cost
~210 ms more than the bare scan). The daemon drops archives without Python
modules and imports pyspark from ``$SPARK_HOME/python`` instead of the zip
before pyspark is loaded; the forked workers inherit that path.

Streaming checkpoints are written by Spark's
``FileSystemBasedCheckpointFileManager`` (``spark.sql.streaming.
checkpointFileManagerClass``), for every offset, commit, file-source,
file-sink and state-store file. Spark's default,
``FileContextBasedCheckpointFileManager``, renames each log file with
``FileContext.rename``; on ``file:`` without libhadoop, Hadoop resolves
every path of that rename (temp file, target and both ``.crc`` files) with
``RawLocalFileSystem.getFileLinkStatus``, which forks a ``readlink``
process each time. A JFR trace of the driver over one perfbench
``consume_tail`` run (seed 1, 12 s, 4 vCPUs) counted 1,452 process starts,
1,040 of them ``readlink`` (32 per micro-batch); with this manager it
counted 531 and no ``readlink``, and a traced run's median ``walCommit``
fell 41.5 → 9 ms and ``latestOffset`` 48 → 16 ms. Its
``fs.rename`` is ``rename(2)`` on local disk and refuses an existing
target on HDFS, so a log write stays atomic. ``fs.file.impl`` is left
alone: the remaining forks (two ``chmod`` per created file, through
``RawLocalFileSystem.setPermission``) would go with
``RawLocalFileSystem``, but ``FileSystem.getLocal`` must return a
``LocalFileSystem`` and the RocksDB state store then fails its commits
with a ``ClassCastException``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import kitkat_spark

# the directory that holds the kitkat_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(kitkat_spark.__file__)))

# writes every streaming checkpoint file with FileSystem.create + rename
# (see the module docstring for why not Spark's FileContext default)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "kitkat_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Local mode: shuffle partitions ≈ cores. On a real cluster this would be
    # 2-3× total cores as a ceiling; AQE coalesces small partitions either way.
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "kitkat_spark.pyworker")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
