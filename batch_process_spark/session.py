"""SparkSession factory.

Defaults are tuned so that the same code runs correctly on local[N]
(tests, bench) and would scale on a multi-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy).
- Shuffle partitions sized to the local core count instead of the 200
  default; on a real cluster this is overridden by AQE coalescing.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB correctness oracle.
- Arrow enabled for all pandas interchange (Pandas UDFs, toPandas).
- Python workers fork from the engine's own daemon
  (``batch_process_spark.pydaemon``). Stock PySpark makes every
  ``zipimporter`` over ``pyspark.zip`` re-read the archive directory on
  every Python task (about 130 ms a task on Python 3.11, 4-vCPU VM); the engine's
  daemon re-reads an archive only when it changed. The directory that
  holds the package goes on ``spark.executorEnv.PYTHONPATH`` so the
  daemon (and the engine's UDFs, which cloudpickle pickles by
  reference) import wherever the driver runs. Deployment rule: on a
  cluster the package must be importable on the executors, either
  installed there or shipped with ``--py-files``.
- The driver JVM starts from a class-data-sharing archive that the
  engine records on first use (``batch_process_spark.cds``): the first
  session dumps the classes it loaded when its JVM exits (17-19 s,
  4-vCPU VM), and every later one maps them instead of loading and
  verifying them again (perfbench catalog ``setup_s`` median 9.3 ->
  4.9 s on that VM, ``cdsarchive_r17.json``).
  Only a launch on the bare Spark class path takes this path: with
  ``SPARK_CONF_DIR``, ``HADOOP_CONF_DIR``, extra jars or the user's own
  CDS flags the launch command is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from batch_process_spark import cds

DEFAULT_SHUFFLE_PARTITIONS = max(8, os.cpu_count() or 8)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "batch_process_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[*]`` only when no master is configured
    (so spark-submit on a cluster wins).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]" if cpus else "local[*]")

    n_shuffle = shuffle_partitions or (int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS)
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # NOTE (measured r12, q219 at 2M near-cap docs): when a
        # row-heavy workload outgrows the static shuffle partition
        # count, raise spark.sql.shuffle.partitions — 32 static cost
        # 152.7 s steady where 164 ran 63 s. Raising ONLY the AQE
        # initialPartitionNum does NOT substitute (212/112 s): AQE
        # coalesces by shuffle BYTES and is blind to downstream
        # per-row CPU (window sorts, pair fan-out), so it collapses
        # wide exchanges right back. BASELINE §5ah. Round 13: the
        # span family (q207/q219/q240/q247) no longer needs this knob
        # — its wide exchanges self-size from the corpus estimate
        # (queries_ext15._span_scale_parts, gated explicit
        # repartitions; BASELINE §5ai). The note stays for OTHER
        # row-heavy workloads a deployment may add.
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Let AQE re-optimize CACHED plans too (off by default in
        # Spark 3.2+/4.x): persisted frames otherwise materialize at
        # the STATIC shuffle partition count, and every downstream map
        # stage over the cache inherits that width — the memoized edge
        # frame in the iterative graph queries landed at 64 partitions
        # for 33k rows, so each power-iteration round paid 64 task
        # launches per map stage (measured q169 at sf0.1: 6.2 s steady
        # -> 1.8-2.4 s with this on; cold 21.5 -> 10.9 s). Explicitly
        # sized memo exchanges (REPARTITION_BY_NUM, e.g. the span
        # family's) are exempt from AQE coalescing and keep their
        # width; results are partitioning-independent either way.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.session.timeZone": "UTC",
        # lenient semantics (reference is errors-as-data; also aligns
        # element_at/cast out-of-range with DuckDB NULL behavior)
        "spark.sql.ansi.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        # local mode: shuffle spill compresses to driver-local disk
        "spark.shuffle.compress": "true",
        # ContextCleaner only reclaims broadcasts/shuffle files after a
        # DRIVER GC; the default periodic GC is 30min, so a long session
        # of small queries accumulates state until jobs degrade 5-20x
        # (measured on repeated LSH runs: 0.9s -> 16s over 8 trials).
        # One forced GC a minute is noise-level cost at any scale.
        "spark.cleaner.periodicGC.interval": "60s",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # smaller split target: keeps many-small-parquet scans (the
        # local test shape) parallel across all cores; harmless for big
        # files (row-group granularity governs anyway)
        "spark.sql.files.maxPartitionBytes": "32m",
        # the engine's worker daemon (module docstring)
        "spark.python.daemon.module": "batch_process_spark.pydaemon",
    }
    if extra_conf:
        conf.update(extra_conf)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, [_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")])
    )
    with cds.archived_launch(conf):
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
