"""SparkSession factory tuned for the full-text workload.

Local-mode testing config; on a real cluster the same settings hold except
memory/master come from spark-submit. AQE is on so skew joins / partition
coalescing re-plan at runtime (head-term skew also gets explicit salting in
index/build.py — AQE alone won't restructure a pathological groupBy).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the clucene_spark package (or the zip it was
# shipped in), so Python workers import it from any working directory
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def usable_cpus() -> int:
    """Cores this process may run on (its CPU affinity, not the host's
    core count)."""
    return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "clucene_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(usable_cpus())
    if master is None:
        # respect a master provided by spark-submit (exported as $MASTER
        # for python drivers) before falling back to local[$SPARK_GRAFT_CPUS]
        master = os.environ.get("MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        cpus if cpus.isdigit() else usable_cpus()
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # PySpark's per-Column call-site capture costs extra py4j round
        # trips on every DataFrame/Column call of a query's plan build
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # CPU-heavy Python stages (tokenizer DFA) need scan partitions ~
        # cores, not ~128MB blocks: a 200MB text corpus must not collapse
        # into 2 tasks on a 32-core executor fleet
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                           str(16 * 1024 * 1024)),
        )
    )
    # shuffle spill dir: tmpfs (/dev/shm) emulates per-node local SSD for
    # BENCH runs only — as a library-wide default it would push all shuffle
    # spill into RAM (tmpfs caps at ~50% of memory -> ENOSPC/OOM on big
    # shuffles). Opt in explicitly: SPARK_GRAFT_LOCAL_DIR=/dev/shm/spark-local.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # job-shape JVM tuning passthrough. The direct bulk-load plan keeps all
    # data work in python workers — the JVM only schedules — yet thread
    # profiling showed the C2 JIT burning ~11s of CPU per 4-core node
    # compiling optimized code the job never amortizes. index_job --direct
    # sets -XX:TieredStopAtLevel=1 (C1 only) here; any caller can override.
    jvm_opts = os.environ.get("SPARK_GRAFT_JVM_OPTS")
    if jvm_opts:
        builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
