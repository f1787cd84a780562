"""SparkSession factory tuned for the pipit-spark engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); on a real
cluster callers pass their own session. All knobs here are scale-oriented:
AQE (runtime re-plan + skew-join splitting), Arrow for the pandas-UDF
matching pass, and a shuffle-partition count that callers can override per
deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pipit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults favor the 100 TB design point: AQE on (coalesces
    post-shuffle partitions and splits skewed ones at runtime), broadcast
    threshold left to Spark, Arrow enabled so grouped-map pandas UDFs move
    batches in columnar form instead of pickled rows.
    """
    from .config import get_option

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    # Arrow batch rows for every pandas-UDF lane (the matching emit
    # pass is the big consumer), from the matching.max_records_per_batch
    # option — the same value the location kernel slices its emit by.
    # Per-task heap in the emit lane scales with it (in-flight Arrow
    # buffers on both sides of the Python worker).
    arrow_batch = int(get_option("matching.max_records_per_batch"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.session.timeZone", "UTC")
        # read TIMESTAMP(NANOS) parquet (driver testdata) as long ns
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow transfers (mapInPandas/applyInPandas) allocate from the
        # JVM's DIRECT pool, whose default cap follows -Xmx. A
        # multi-stage local run (ingest → match in one JVM) can exhaust
        # that implicit cap even though each stage passes alone —
        # diagnosed as PLANS.md §21 Trap 1, previously mitigated by
        # raising SPARK_GRAFT_DRIVER_MEM by hand. Cap direct memory
        # EXPLICITLY and decoupled from heap so the headroom is a code
        # guarantee: direct buffers are lazily allocated, so a generous
        # cap costs nothing when unused. On a real cluster per-executor
        # pools make this a non-issue (callers pass their own session).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:MaxDirectMemorySize="
            + os.environ.get("SPARK_GRAFT_DIRECT_MEM", "16g"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

def cluster_conf(
    executor_cores: int = 8,
    executor_mem_gb: int = 32,
    target_partition_mb: int = 256,
    dataset_tb: float | None = None,
    num_executors: int | None = None,
) -> dict[str, str]:
    """Recommended spark-submit conf for running this engine on a real
    cluster — the local defaults above, re-expressed per-executor, plus
    the sizing rules the SCALING.md/PLANS.md rungs measured.

    Returns a plain ``{conf key: value}`` dict (pass to spark-submit
    ``--conf`` flags or ``SparkSession.builder.config``); callers own
    the session on a cluster, so this is guidance-as-data, not a
    session factory.

    Sizing rules encoded (each traces to a measured rung):

    * ``shuffle.partitions`` — sized so one post-shuffle partition is
      ~``target_partition_mb`` of the dataset (when ``dataset_tb`` is
      given); when ``num_executors`` is also given, floored at
      2× total cluster cores so a small dataset on a big cluster
      still fans out past its parallelism. AQE coalescing makes
      over-partitioning cheap and under-partitioning is the spill
      mode, so round up (PLANS.md §5 shuffle audit).
    * straggler/wedge self-healing — ``spark.speculation`` plus the
      task reaper. Rationale: the round-8 1.2 B capstone recorded one
      non-reproducing ingest wedge (a half-closed PythonRunner
      handshake: JVM task thread blocked in read, Python worker in
      recv, writer gone — SCALING.md round-8 capstone item 3) whose
      identical retry ran clean. On a cluster, speculation re-launches
      the hung straggler instead of stalling the stage, and the
      reaper guarantees the superseded task actually dies rather
      than leaking its Python worker. Not settable in get_spark:
      speculation requires a cluster scheduler, and local[*] retries
      share the one JVM the wedge lives in.
    * ``files.maxPartitionBytes`` = ``target_partition_mb`` — scan
      tasks sized like shuffle tasks keep Arrow batch memory flat
      (the binary readers' bounded-chunk design assumes this).
    * executor direct-memory headroom — the Arrow lanes
      (mapInPandas/applyInPandas) allocate from the DIRECT pool; cap
      it explicitly like the local builder does (PLANS.md §21 Trap 1:
      the implicit cap follows heap and a multi-stage job can exhaust
      it). 1/2 of heap is generous and lazily allocated.
    * matching-pass partition size — ~500k events/task cleared every
      rung from 18M to 120M events (SCALING.md round-4/round-7);
      plumb via ``Trace(match_partitions=...)``, not session conf.
      THIS RULE IS THE BILLION-TIER HEAP FLOOR (round-11 probe
      ladder): the match pass hashes by location, so the DEFAULT
      partition count (cluster parallelism, 32) put 37 M rows into
      every emit sort at 1.2 B — that shape OOMs a stock 8 g /
      32-task box (GCLocker-starved heap exhaustion in the emit
      stage; neither a smaller Arrow batch nor the sorter bound
      saves it). At one location per task (~9.3 M rows) the SAME
      stock 8 g box clears the 1.2 B match in 892.5 s — faster than
      the 24 g default-partition run (971.1 s), because smaller
      sorts also spill less. Rows-per-partition is the floor
      variable; effective partitions cap at the location count.
      Since r11 the chunked pass SELF-SIZES to this rule by default
      (one cheap count; ``assume_wellformed`` stays lazy and keeps
      the bare default — size those calls explicitly).
    * emit-sort spill bound — the chunked matching kernel's emit pass
      sorts within partitions via SortExec, whose
      ``UnsafeExternalRowSorter`` reads
      ``spark.shuffle.spill.maxSizeInBytesForSpillThreshold`` from the
      session conf (a STATIC SparkEnv read — set it at session build,
      not runtime). The round-9 rung measured the sort's working
      memory at ~0.75 g × concurrent task at billion-rows-per-location
      width, OOMing a stock 8 g / 32-task box before adaptive spilling
      engaged; bounding each sorter to a quarter of per-core heap
      (floored at 64 MB) forces the spill before the allocation that
      OOMs. Measured (SCALING.md round-10 probe ladder): with the
      bound the 1.2 B exact match clears 12 g / 32 tasks (~0.375 g
      per task — half the r09 floor) at DEFAULT (32) match
      partitions; the residual stock-8 g failure at that shape was
      resolved by round 11 as a PARTITION-SIZING violation, not a
      kernel floor — see the matching-pass bullet below (stock 8 g
      clears 1.2 B at one location per task, with or without this
      bound). On the recommended 2–4 g-per-core shapes the bound
      (0.5–1 g) sits above the normal working set — a safety net,
      not a throttle. SCOPE: the knob is SESSION-GLOBAL — every
      ``UnsafeExternalSorter`` in the session reads it (shuffle
      sorts, sort-merge joins, sort-based aggregation), not just the
      emit pass. On the recommended shapes that is invisible (the
      bound exceeds normal sorter working sets), but on unusually
      small heap-per-core shapes it will also force earlier spilling
      in unrelated stages sharing the session — if another workload
      on the same session shows new spill pressure, this is where it
      comes from.
    * parquet writer footprint — ``parquet.block.size`` bounded so
      concurrent row-group buffers fit the heap:
      ``min(128 MB, executor_mem_gb*1024 // (16*executor_cores))``.
      Rationale: the round-8 1.2 B capstone's ingest write OOMed a
      stock 8 g / 32-writer session at the 128 MB default and needed
      a hand-tuned 64 g heap (~16× block per concurrent writer once
      sort/Arrow/task overheads stack); the bound makes the same
      write fit the configured heap instead. Typical cluster shapes
      (≥2 g heap per core) keep the full 128 MB row groups — the
      scan-efficiency default only shrinks when the heap is actually
      too small for it (measured: SCALING.md round-9 stock-session
      billion-write rung).
    """
    if executor_cores < 1 or executor_mem_gb < 1 or target_partition_mb < 1:
        raise ValueError("executor sizing must be positive")
    parquet_block_mb = min(
        128, max(8, executor_mem_gb * 1024 // (16 * executor_cores))
    )
    sorter_spill_mb = max(64, executor_mem_gb * 1024 // (4 * executor_cores))
    conf = {
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverhead": f"{max(2, executor_mem_gb // 8)}g",
        "spark.executor.extraJavaOptions":
            f"-XX:MaxDirectMemorySize={max(4, executor_mem_gb // 2)}g",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.hadoop.parquet.block.size": str(parquet_block_mb * 1024 * 1024),
        # emit-sort spill bound (see docstring): each UnsafeExternal-
        # RowSorter spills past a quarter of per-core heap instead of
        # growing until the heap allocation fails
        "spark.shuffle.spill.maxSizeInBytesForSpillThreshold":
            str(sorter_spill_mb * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # wedge self-healing (see docstring): speculatively re-launch
        # far-behind stragglers, and hard-kill superseded/hung tasks
        "spark.speculation": "true",
        "spark.speculation.multiplier": "4",
        "spark.speculation.quantile": "0.9",
        "spark.task.reaper.enabled": "true",
        "spark.task.reaper.killTimeout": "120s",
    }
    if num_executors is not None and num_executors >= 1:
        conf["spark.executor.instances"] = str(num_executors)
    if dataset_tb is not None:
        n = max(1, int(dataset_tb * 1024 * 1024 // target_partition_mb))
        if num_executors is not None and num_executors >= 1:
            n = max(2 * executor_cores * num_executors, n)
        conf["spark.sql.shuffle.partitions"] = str(n)
    return conf
