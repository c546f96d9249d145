"""SparkSession factory tuned for this engine: the one place a session
is built, for the tests, the benchmarks and the ``spark-submit
--py-files`` jobs alike (AQE on, Arrow on, UTC timestamps for oracle
comparison).

Precedence, key by key: an explicit argument to ``get_spark`` wins over
a key the launcher set (``spark-submit --conf``, ``spark-defaults.conf``
or ``PYSPARK_SUBMIT_ARGS``), and a launcher key wins over the engine's
default. So a job run as ``spark-submit --conf
spark.sql.shuffle.partitions=512 jobs/run_extract.py ...`` gets 512
partitions, and ``--master`` is honoured whenever the caller leaves
``master=None``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# keys this process passed to the JVM it launched; the JVM's system
# properties hold them next to the launcher's keys, and a launcher key
# is one whose value is not what this process passed
_launched: dict[str, str] = {}


def _engine_defaults() -> dict[str, str]:
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


def _default_shuffle_partitions(master: str) -> int:
    """The local core count: Spark's default of 200 over-parallelizes
    small local runs. Elsewhere the launcher should set it per cluster
    (2-3x total cores); 200 is Spark's own default."""
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        return 32 if inner == "*" else max(4, int(inner))
    return 200


def _launcher_conf(launch: dict[str, str]) -> dict[str, str]:
    """The keys the launcher set. Starts the JVM gateway if this
    process has none yet, passing ``launch`` first on its command line
    so that JVM-start keys (driver memory and options) take effect and
    any launcher key for the same name comes later and wins."""
    if SparkContext._gateway is None:
        SparkContext._ensure_initialized(conf=SparkConf(loadDefaults=False).setAll(launch.items()))
        _launched.clear()
        _launched.update(launch)
    return {k: v for k, v in SparkConf().getAll() if _launched.get(k) != v}


def get_spark(
    master: str | None = None,
    app_name: str = "docling_api_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master=None`` means the launcher's master (``spark-submit
    --master``; ``local[*]`` when the launcher names none).
    ``shuffle_partitions=None`` means the launcher's
    ``spark.sql.shuffle.partitions`` if it set one, else the local core
    count for a ``local[N]`` master (32 for ``local[*]``) and 200 for
    any other. ``extra_conf`` keys are explicit, like the arguments.
    """
    explicit = {"spark.app.name": app_name, **(extra_conf or {})}
    if master is not None:
        explicit["spark.master"] = master
    if shuffle_partitions is not None:
        explicit[_SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    defaults = _engine_defaults()
    launcher = _launcher_conf({**defaults, **explicit})
    master = explicit.get("spark.master") or launcher.get("spark.master", "local[*]")
    defaults["spark.master"] = master
    defaults[_SHUFFLE_PARTITIONS] = str(_default_shuffle_partitions(master))
    builder = SparkSession.builder
    for k, v in defaults.items():
        if k not in launcher:
            builder = builder.config(k, v)
    for k, v in explicit.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_conditions(spark: SparkSession) -> dict:
    """The live session's master, default parallelism and shuffle
    partitions, for a job's report line."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get(_SHUFFLE_PARTITIONS)),
    }
