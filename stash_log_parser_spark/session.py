"""SparkSession factory with the scale-tuned config profile.

The same profile is used by tests (small core counts) and the bench /
scaling runs (local[8] vs local[32]); on a real cluster the identical
config ships through ``spark-submit --py-files`` (see plans/job.py).
:func:`materialize` is how operators reuse a relation within a query;
it reads the deployment's ``spark.checkpoint.dir``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "stash-log-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the pipeline's config profile.

    * AQE on (coalesce + skew-join) — runtime re-planning for the skewed
      repo/user aggregations and the in|out pairing join.
    * Arrow enabled — the decode UDF is a pandas/Arrow UDF; Arrow batch
      transfer is the only JVM↔Python boundary in the pipeline.
    * shuffle partitions sized to cores locally; on a cluster this is
      overridden to ~2-3× total executor cores via spark-submit conf.
    * UTC session timezone so timestamp goldens are stable everywhere.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        # Under spark-submit the gateway JVM already carries the submitted
        # master (PYSPARK_GATEWAY_PORT is set); respect it instead of
        # forcing a local one.
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            master = "local[{}]".format(os.environ.get("SPARK_GRAFT_CPUS", "*"))
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The routed-sink token re-attach is a unique-key join with a wide
        # array payload: sorting the payload side (SMJ) costs far more than
        # hash-building the narrow side — prefer shuffled hash joins.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # The routing fan-out submits per-sink jobs from threads; FAIR
        # keeps one long sink job (the raw-row payload join) from
        # starving the small aggregate sinks. (Read at context creation;
        # a no-op when attaching to an existing context.)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Catalyst push filters into Python Data Sources (the
        # stashlog connector turns file_day predicates into
        # planning-time file pruning; off by default in Spark 4.1)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Token-sequence rows expand ~4-8× from parquet to in-flight size
        # (int32 arrays + parquet list-writer state); 16 MB splits keep a
        # full wave of parse+write tasks well inside executor heaps and
        # give the Arrow stage enough parallelism on packed small files.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # Small Arrow batches: bounds Python-worker memory AND keeps
        # JVM↔worker socket flow in small quanta — 10k-row batches of
        # token arrays (~12 MB) reproducibly stalled the bidirectional
        # stream at high core counts; 2048-row batches never did.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        # Fresh Python worker per task: a reused daemon worker was observed
        # wedged mid-write on its data socket after repeated pipeline runs,
        # deadlocking the next AQE stage. Fork-per-task (COW from the
        # daemon) costs little and removes the shared-state failure mode.
        .config("spark.python.worker.reuse", "false")
        # Python workers are forked by the JVM and do not see this
        # process's sys.path: put the package's parent directory (the
        # checkout, or the --py-files zip) on theirs, so the package
        # imports whatever directory the driver runs from.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus and cpus.isdigit():
            shuffle_partitions = max(int(cpus), 4)
        elif master and master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # make format("stashlog") available out of the box (idempotent;
        # re-registration under the same name just overwrites)
        from .sources.datasource import StashLogDataSource

        spark.dataSource.register(StashLogDataSource)
    except Exception:  # pragma: no cover - never block session creation
        pass
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and cut its lineage: the one way an operator
    reuses a relation that several consumers of one query read.

    A reliable ``checkpoint(eager=True)`` when the context has a
    checkpoint directory (``spark.checkpoint.dir``), otherwise
    ``localCheckpoint(eager=True)``. Why not ``cache``/``persist``:

    * no CacheManager entry is made, so a repeat of the query recomputes
      instead of reading the first run's result;
    * the blocks belong to the returned frame, and the ContextCleaner
      frees them once it is garbage-collected (nothing to unpersist;
      reliable checkpoint files go too only when the deployment sets
      ``spark.cleaner.referenceTracking.cleanCheckpoints``).

    The costs: the caller runs one job now, while its plan is being
    built; and a lost cached partition is recomputed from lineage, but
    a checkpoint has none. Local blocks die with their executor and
    fail the query, so a deployment that must survive executor loss
    sets ``spark.checkpoint.dir``.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
