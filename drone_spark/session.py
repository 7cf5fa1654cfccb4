"""SparkSession factory with scale-appropriate defaults.

Local-mode knobs mirror what we'd set cluster-side: AQE on (runtime
skew-join splitting + partition coalescing), Arrow on (every Python
kernel is vectorized), shuffle partitions sized to parallelism instead
of the 200 default. On a real cluster the same builder is used by
spark-submit --py-files; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# the directory holding the drone_spark package: Python workers must be
# able to import it even when the driver found it only through sys.path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "drone_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); shuffle
    partitions default to the same number so every reduce stage uses all
    threads without tiny-partition overhead at test scale.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    python_path = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE on: skew splitting and runtime coalescing are wanted at
        # scale, and in the superstep loop it measured a wash against off
        # (OPTIMIZATION_r06.md §Engine, item 5)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(int(os.environ.get("SPARK_GRAFT_BROADCAST_MB", "64")) * 1024 * 1024),
        )
        # guide §3.1/§9: allow the planner to pick shuffled-hash join
        # where its size conditions hold — a sort-merge join re-sorts
        # the (cached, already co-partitioned) edge table every
        # superstep, while SHJ builds a hash table over the small
        # per-partition state side (OPTIMIZATION_r06.md §Engine, item 1)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.executorEnv.PYTHONPATH", python_path)
    )
    # local mode: shuffle spill through tmpfs when available — local disk
    # does not scale with cores and would cap measured scaling efficiency
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
