"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are chosen for the 100TB design point and merely parameterized down
for local testing: AQE on (runtime re-plan + skew-join splitting), Arrow
enabled for the vectorized extraction stage, shuffle partitions sized to the
cluster (here: local cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine-wide defaults. On a real cluster these come from spark-submit confs;
# the values here are the ones the engine *requires* for its plans to behave
# (AQE skew handling per SURVEY.md §4.1, Arrow batching per §2.12).
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for the extract UDF: large enough to amortize per-batch
    # Python/Arrow overhead, small enough to bound batch memory for fat turns.
    "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
        "SPARK_GRAFT_ARROW_BATCH", "10000"
    ),
    # Broadcast threshold: small dims (tool/config/resource registries) are
    # broadcast; 32MB is conservative for 100TB-scale fact sides.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Bound scan-partition size so blob/text-heavy tables split into
    # executor-memory-sized tasks at any input scale (spill-aware sizing,
    # SURVEY.md "Optimize for scale").
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Accept subset co-partitioning for joins (a join on (k1, k2) can reuse
    # children already hash-partitioned on k1 alone): several operators
    # arrange their aggregations to be pre-partitioned on the window/join
    # prefix key exactly so the downstream join is exchange-free (guide
    # §2.1); the default (true) re-shuffles both sides on the full key set.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # In local mode the driver heap IS the executor heap: size it for the
    # concurrent-task count or GC thrash serializes the Python stages
    # (measured: 8g heap made local[32] extraction 5x slower than 32g).
    # The default is 48g or half the host's memory, whichever is less: a
    # heap allowed past physical memory gets the JVM killed from outside.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM",
        f"{min(48 << 10, os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') >> 21)}m",
    ),
    # One BLAS thread per Python worker: Spark already runs one task per
    # core, so numpy/OpenBLAS spawning its own per-core pool inside every
    # task oversubscribes cores x tasks threads — measured as 4-20s
    # nondeterministic wall on the numpy-matmul operators (cur5) whose
    # block sizes are far too small to profit from threaded BLAS anyway.
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
}


def get_spark(
    app_name: str = "transcript-kg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract).
    ``shuffle_partitions`` defaults to the local parallelism — on a real
    cluster this should be ~2-3x total executor cores and is set via submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpus
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("*", "") else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(ENGINE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs["spark.default.parallelism"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
