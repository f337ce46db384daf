"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "pmocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    """Build a session tuned for the sandbox (local[N]) but with the
    configs that matter at cluster scale: AQE (runtime re-plan +
    skew-join splitting), UTC session TZ (duckdb-oracle parity), Arrow
    batches for pandas UDFs.
    """
    default_master, driver_mem = host_defaults()
    master = master or default_master
    cores = _parse_cores(master)
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # round 6: let AQE re-optimize CACHED plans too. Off (default),
        # every persisted intermediate materializes with the raw
        # shuffle-partition count (32 here) even when it holds a few
        # hundred KB, and every consumer stage then pays 32 near-empty
        # tasks; on, the cache inherits AQE's coalesced partitioning —
        # data-proportional at any scale (SPARK-35332 / SPARK-38697).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # media blobs are O(KB); large Arrow batches amortize the Python
        # boundary without blowing worker memory (SURVEY.md §4.2)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", driver_mem)
        # blob tables are wide rows (KB-scale binary): 128MB scan splits
        # give too few tasks when the span side of the blob join
        # broadcasts (the UDF stage inherits the scan partitioning) —
        # smaller splits keep every core busy; at cluster scale the same
        # setting bounds per-task memory for media batches
        .config("spark.sql.files.maxPartitionBytes", "16MB")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("PMOCR_WAREHOUSE", "/tmp/pmocr_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # P5 zombie detection: a straggler/hung task gets a speculative
        # copy (pmOCR's WaitForTaskCompletion kill path, pmocr.sh:926-987).
        # Inert on local[N] (one executor), effective on a real cluster;
        # safe because every task here is idempotent and side-effect-free
        # up to the (deterministic) sink write.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        # iterative queries (q50 CC, q51 k-means) checkpoint per round;
        # on the reliable path (PMOCR_RELIABLE_CHECKPOINT=1 +
        # setCheckpointDir) each round's files would otherwise pile up
        # on HDFS/S3 until application exit — let the ContextCleaner
        # delete a round's checkpoint once its RDD is unreferenced
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def host_defaults() -> tuple[str, str]:
    """(master, driver memory) when the caller names neither:
    PMOCR_SPARK_MASTER / PMOCR_DRIVER_MEM, else sized to this host —
    local[<CPUs this process may run on>] (what nproc prints) and half
    the physical memory in whole GiB, between 1g and 16g."""
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return (
        os.environ.get("PMOCR_SPARK_MASTER", f"local[{len(os.sched_getaffinity(0))}]"),
        os.environ.get("PMOCR_DRIVER_MEM", f"{min(max(mem_gib, 1), 16)}g"),
    )


def reliable_checkpoint() -> bool:
    """Whether PMOCR_RELIABLE_CHECKPOINT is on (1/true/yes).

    Iterative operators (connected components, BPE merges, PageRank) cut
    their lineage every round. Off, they use executor-local
    localCheckpoint, which a lost executor takes with it. On, they use
    fault-tolerant DataFrame.checkpoint() into the directory set with
    sparkContext.setCheckpointDir (HDFS/S3). Set it on every cluster run.
    """
    return os.environ.get("PMOCR_RELIABLE_CHECKPOINT", "").lower() in ("1", "true", "yes")


def _parse_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32
