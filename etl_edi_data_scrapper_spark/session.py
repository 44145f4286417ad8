"""SparkSession factory tuned for this engine.

Local test profile defaults to ``local[N]`` with shuffle partitions ≈ cores;
on a real cluster the same builder is used with master unset (inherited from
spark-submit) and AQE handles partition coalescing / skew at runtime.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_MAX_DRIVER_MEMORY_MB = 24 * 1024


def default_driver_memory(meminfo: str | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset: half
    of ``MemTotal`` in ``/proc/meminfo`` (the text is read when not given),
    never above 24g. A heap sized past the host's RAM is never refused at
    start-up; it fails later, when the OS kills the JVM. Where there is no
    ``/proc/meminfo`` (or no ``MemTotal`` line in it) the default is 24g."""
    if meminfo is None:
        try:
            with open("/proc/meminfo", encoding="ascii") as f:
                meminfo = f.read()
        except FileNotFoundError:
            meminfo = ""
    total = re.search(r"^MemTotal:\s+(\d+)\s+kB", meminfo, re.MULTILINE)
    if total is None:
        return f"{_MAX_DRIVER_MEMORY_MB // 1024}g"
    return f"{min(int(total.group(1)) // 2048, _MAX_DRIVER_MEMORY_MB)}m"


def get_spark(
    app_name: str = "etl-edi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    UTC session timezone is pinned so results are stable against external
    oracles; Arrow is enabled for any pandas-UDF path; AQE is on so runtime
    statistics re-plan joins (broadcast promotion, skew splitting, partition
    coalescing) — the scale path for 100 TB inputs. File scans open at a
    1 MiB cost, so a mid-size feed file splits across every core while a
    small one stays one partition (see the setting below).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start every shuffle FINE and let AQE coalesce down to the
        # advisory size: with initialPartitionNum = cores, a factor-300
        # input pushed one map task's aggregate hash state past the pool
        # (r13 smoke: AGGREGATE_OUT_OF_MEMORY in dedup_clusters' pair
        # distinct at 24 g/32 threads) — per-task state must SHRINK as
        # data grows, which needs more reduce partitions, not more
        # memory. 8× cores here; real clusters size it ~2-4× total cores
        # via SPARK_INITIAL_SHUFFLE_PARTITIONS. At bench scale AQE
        # coalesces the extra partitions back to the same effective
        # layout, so small-query plans are unchanged.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_INITIAL_SHUFFLE_PARTITIONS",
                str(int(shuffle_partitions) * 8),
            ),
        )
        # every SQL shuffle takes the serialized writer (one data file per
        # map task). With the partition count above at or under the bypass
        # threshold (200, so any host of ≤ 25 cores), Spark picks the bypass
        # writer instead, which opens one file and one LZ4 stream per reduce
        # partition: a 500-row map task wrote 32 files. Measured on 4 cores,
        # single runs: stage CPU 130 → 65 ms for a 2,750-row merge, 87 →
        # 46 ms for a 1,250-row XLSX map stage, 183 → 75 ms for a
        # 5,000-row JSONL feed. A 32-core host was already past the
        # threshold, so this also makes the writer the same on every host.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        # split mid-size feed files across every core: a file scan's split
        # size is min(maxPartitionBytes, max(openCost, (bytes + openCost) /
        # cores)), so at the 4 MiB default a 5.8 MB CSV read as 2 tasks and
        # a 3.1 MB one as 1 on 4 cores (now 4 and 3). 1 MiB is the smallest
        # power of two that still reads every small feed of perfbench (the
        # largest a 653 KB JSONL) as one partition; 512 KiB would split it.
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce CACHED plans too (off by default): the iterative
        # operators (connected components, k-means) persist small label /
        # centroid frames each round — without this they keep full-width
        # shuffle partitioning, ~100 near-empty tasks per round
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # PHP-permissive cast semantics (malformed → NULL, not error); the
        # cleaning exprs rely on this, mirroring intval/floatval behavior.
        .config("spark.sql.ansi.enabled", "false")
        # the parsed-SQL literal paths (hashing.str_array_sql, clustering
        # _dlit/_sqdist_sql, similarity._darr_sql) escape for the DEFAULT
        # parser mode; pin it so a Hive-compat session can't silently
        # reinterpret doubled backslashes in word-list literals (r14 advice)
        .config("spark.sql.parser.escapedStringLiterals", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 100 entries thrashes on a many-query workload (each query
        # holds several whole-stage-codegen units); evictions force Janino
        # recompiles of multi-hundred-KB classes on re-run
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # ParallelGC for the single-JVM local profile: G1 (the JDK 17
        # default) showed random 10-30x whole-query slowdowns on this
        # many-small-queries workload — all cores busy, identical plans, no
        # logged pauses (G1 concurrent cycle behavior); ParallelGC ran the
        # full suite repeatedly with zero such cliffs at the same best-case
        # total. Cluster deployments with big executors may still prefer
        # G1 via SPARK_DRIVER_JAVA_OPTS.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
