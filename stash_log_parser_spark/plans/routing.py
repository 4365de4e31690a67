"""Fan-out routing: one parse, many per-analysis sinks, resumable.

The reference runs one analysis per CLI invocation over the same files
(Main.hs mode dispatch [K]); at 10^12 rows re-parsing per analysis is
the dominant cost, so the rebuild parses ONCE into a day-partitioned
parsed STAGE table and fans every sink out as a column-pruned scan of
it (SURVEY.md §8.1 M6). The stage is lineage-committed like any sink,
so incremental runs never re-parse committed days, and it doubles as a
queryable artifact (the "parsed logs" table a log platform would keep).

Batch and streaming share one core: ``parse_stage`` builds the stage
frame (parse → enrich → project, ``day`` = the filename day) and
``fan_out`` runs every sink on its own thread and scheduler pool.
Both write the stage as the ``parsed_stage`` table and fan out over
pruned scans of it: ``run_pipeline`` in ``day=`` partitions,
streaming_ingest (streaming/stream.py) in ``batch=<id>/day=`` ones.

Incremental / resumable semantics mirror the reference's "progressive"
file-level resume (File.hs:~50 createPredicate [K]) at day granularity:
the routing day is the date embedded in the source *filename*
(``atlassian-stash-access-YYYY-MM-DD.N.log`` — File.hs:~30
sortLogFiles [K]), every sink is day-partitioned, and a restart skips
(sink, day) partitions already recorded in the ``_lineage`` table.
Partition writes are whole-day overwrites, so a crash between data and
lineage commits is repaired by an idempotent rewrite.

Scale design: per-day aggregates are MERGEABLE partials — global
repositoryStats / protocolStats roll up from the daily sinks without
touching raw data; exact global percentiles come from the routed
request_durations raw sink. Each daily aggregate sink IS the reference
analysis (operators/analyses.py) called with ``by=("day",)``, so a
sink keeps the analysis' filters and a rollup equals the analysis run
over the same lines; only the hourly gauge (a string hour label) and
the raw-row sink (the token join) have bodies here. Lineage row-counts
come from the parquet footers of the files each write left behind
(SinkCatalog.day_rows), read on the driver; an Iceberg backend counts
with a Spark aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions.parse import parse_corpus, read_corpus
from ..operators import analyses as A
from ..operators.enrich import enrich
from ..sources.catalog import SinkCatalog
from ..sources.logfiles import FILENAME_DATE_RE


def estimate_scan_splits(df: DataFrame, input_path: str) -> int:
    """Estimate how many splits the parquet scan behind ``df`` (reading
    ``input_path``) yields, replicating FilePartition's packing math:
    each file contributes size + openCostInBytes, and splits are sized to
    min(maxPartitionBytes, max(openCost, bytesPerCore)). The file count
    comes from the scan's own file index, which, like Spark, leaves out
    hidden ``_SUCCESS`` / ``.crc`` files; the byte total is one
    driver-side FS metadata call. No physical plan or RDD conversion
    (round-1 note). Pinned against Spark's actual partition count in
    tests/test_routing.py."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    conf = spark._jsparkSession.sessionState().conf()
    max_part = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    jpath = spark._jvm.org.apache.hadoop.fs.Path(input_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, len(df._jdf.inputFiles()))
    padded = total_bytes + n_files * open_cost
    max_split = min(max_part, max(open_cost, padded // max(par, 1)))
    return max(1, padded // max(max_split, 1))


def spread_scan(df: DataFrame, path: str, *key_cols: str) -> DataFrame:
    """Spread a pathologically under-split scan before a CPU-bound stage
    (optimization guide §2.5 "input skew: one huge unsplittable file —
    repartition immediately after the read").

    Parquet scans split at row-group granularity, so one big gzip or a
    single-row-group table (the driver's sf tables) otherwise runs every
    narrow stage above the first exchange — the parse, shingling,
    MinHash, SimHash votes, PII regexes, pair scoring — as ONE task
    regardless of core count (measured r6: docs_minhash_lsh_pairs 11.4 s
    at sf1.0 with 31 idle cores). When ``estimate_scan_splits`` plans
    fewer splits than ``max(2, defaultParallelism // 2)``, repartition to
    defaultParallelism: scale-adaptive (derived from the master's core
    count, never a constant), and a no-op for any healthily split input.
    Spark already spreads SMALL inputs across cores (the bytesPerCore
    term), so packed many-small-file inputs never take the branch — a
    byte-count-only rule once shuffled their whole token payload for
    nothing.

    With ``key_cols`` the rows are hashed on the input's stable unique
    key, so a retried task sees the same rows (deterministic under task
    retry — guide §2.5 / SPARK-38388; never ``rand()``). Without keys it
    round-robins, for callers whose key partitioning the planner could
    reuse to co-partition a later join on a subset of its keys."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if estimate_scan_splits(df, path) >= max(2, par // 2):
        return df
    return df.repartition(par, *[F.col(c) for c in key_cols])


# The stage's ``day`` is the FILE day (the date in the source filename —
# the same notion the resume/lineage protocol is keyed on), and every
# routed sink is partitioned on it. Analytic columns derived from the
# event timestamp (hour buckets) keep their true ts values, so a row
# whose timestamp spills across midnight (log-rotation boundary) is
# WRITTEN — under its file's day partition — rather than silently
# dropped by a day mismatch; global per-hour rollups merge the
# (day, hour) partials. Round-1 review flagged the previous ts-derived
# day keys for losing exactly those rows.


def parse_stage(raw: DataFrame) -> DataFrame:
    """Parse → enrich a raw token frame into the stage every sink reads,
    with ``day`` = the filename day. The one parse path of the batch
    pipeline and the streaming ingest.

    The stage holds only PARSED columns — the token payload stays in
    the raw input and re-attaches to the one sink that needs it by a
    doc_id join (_sink_request_durations). Two measured reasons: (a)
    shipping token arrays through the Python stage as Arrow passengers
    was 2.5x slower than leaving them behind (payload roundtrip
    serialization, not decode, is the cost); (b) parquet-list-encoding
    the arrays a second time into the stage cost ~5s of the 14s stage
    build — and at scale would store the 100 TB payload twice."""
    # defensive: callers may bring their own session (driver harness);
    # small Arrow batches are required for the tokens-through parse
    raw.sparkSession.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    return enrich(parse_corpus(raw)).select(
        "doc_id", "n_tok", "source", "is_parsed",
        "protocol", "req_dir", "req_counter", "username", "client_ip",
        "ts", "ts_raw", "repo_slug", "duration_ms", "op_type", "cache_hit",
        "hour", "project_key", "datacenter",
        # last, where a day-partitioned read of the stage puts it
        F.regexp_extract("source", FILENAME_DATE_RE, 1).alias("day"),
    )


def fan_out(spark: SparkSession, sinks: dict, route_one) -> list:
    """Run ``route_one(name, fn)`` for every sink CONCURRENTLY, one thread
    per sink, and return the results in sink order.

    At bench scale each sink job underutilizes the cluster and the e2e
    was scheduling-bound (round-1 profile: 33 s of 63 s), while on a
    real cluster concurrent scheduling overlaps the many small stages.
    Each thread runs in its own scheduler pool: with FAIR mode
    (session.py) the long payload-join sink cannot starve the small
    aggregates. setLocalProperty is per-thread, which is exactly the
    scope of one sink."""
    from concurrent.futures import ThreadPoolExecutor

    def _run(item):
        name, fn = item
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        return route_one(name, fn)

    with ThreadPoolExecutor(max_workers=len(sinks)) as ex:
        return list(ex.map(_run, sinks.items()))


def _sink_concurrency_by_hour(p: DataFrame, _raw: DataFrame) -> DataFrame:
    """Per-hour peak of the running gauge, with the hour stored as a
    ``yyyy-MM-dd HH`` label like the other hourly sinks
    (A.concurrency_by_hour returns the hour as a timestamp). The gauge
    itself is windowed by the stage's ``day`` (the file day: one file
    sequence per day, the reference's reset boundary), so spill rows
    extend their own file's gauge and land in that file's partition."""
    tl = A.concurrency_timeline(p)
    return tl.groupBy(
        "day", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour")
    ).agg(F.max("concurrent").alias("max_concurrent"))


def _sink_request_durations(p: DataFrame, raw: DataFrame) -> DataFrame:
    """Routed RAW rows — A.request_durations' rows, carrying the original
    tokens (BASELINE.json:15).

    Tokens re-attach by a doc_id join against the RAW input rather than
    riding in the stage table: the payload is then written exactly once
    (in this sink), never stored twice, and moves through one shuffle as
    join VALUE — measured ~5s of the 14s stage build was parquet
    list-encoding the token arrays a second time. The stage side of the
    join is narrow. The pipeline does not bucket its tables; at scale an
    Iceberg ``bucket(N, doc_id)`` transform on both would make the join
    exchange-free."""
    ops = p.filter(
        F.col("is_parsed") & F.col("op_type").isNotNull() & F.col("duration_ms").isNotNull()
    ).select(
        "doc_id", "op_type", "duration_ms", "username", "client_ip",
        "project_key", "datacenter", "ts_raw", "day",
    )
    return ops.join(raw.select("doc_id", "tokens"), "doc_id")


# Every other sink is a reference analysis grouped by day: the mergeable
# per-day partial that a global rollup below sums back.
# ``duration_hist_daily`` is the percentile partial (error <= 1/16 by
# bucket construction, see analyses.duration_bucket); ``metrics`` counts
# malformed lines per source, never silently dropping them
# (SURVEY.md §3.3 F5).
SINKS: dict[str, callable] = {
    "git_operations": lambda p, _raw: A.git_operations(p, by=("day",)),
    "protocol_by_hour": lambda p, _raw: A.protocol_by_hour(p, by=("day",)),
    "concurrency_by_hour": _sink_concurrency_by_hour,
    "protocol_counts_daily": lambda p, _raw: A.protocol_counts(p, by=("day",)),
    "repository_stats_daily": lambda p, _raw: A.repository_stats(p, by=("day",)),
    "request_durations": _sink_request_durations,
    "duration_hist_daily": lambda p, _raw: A.duration_histogram(p, by=("day",)),
    "pairing_daily": lambda p, _raw: A.pairing_stats(p, by=("day",)),
    "metrics": lambda p, _raw: A.count_requests(p, by=("day", "source")),
}


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output: str,
    run_id: str = "run-0",
    force: bool = False,
    sinks: dict | None = None,
) -> dict:
    """Parse → enrich → route the corpus at ``input_path`` into per-analysis
    day-partitioned sinks under ``output``. Returns a summary dict.

    Resume: (sink, day) partitions already in ``_lineage`` are skipped
    (``force=True`` reprocesses everything). Days still pending for ANY
    sink are parsed once into the stage table and fanned out.
    """
    sinks = sinks or SINKS
    catalog = SinkCatalog(spark, output)
    committed = set() if force else catalog.committed()

    raw = read_corpus(spark, input_path)
    raw = raw.withColumn("file_day", F.regexp_extract("source", FILENAME_DATE_RE, 1))
    all_days = sorted(r.file_day for r in raw.select("file_day").distinct().collect())

    pending: dict[str, list[str]] = {
        name: [d for d in all_days if (name, d) not in committed] for name in sinks
    }
    days_needed = sorted({d for ds in pending.values() for d in ds})
    summary = {"run_id": run_id, "days_total": len(all_days), "days_parsed": len(days_needed), "sinks": {}}
    if not days_needed:
        return summary

    # ---- phase 1: the parsed STAGE table --------------------------------
    # One full parse materialized as a day-partitioned parquet/Iceberg
    # table (array intermediates dropped). Chosen over DataFrame caching
    # after measurement: the columnar cache build cost ~3x the parse
    # itself and did not scale with cores, while a parquet stage writes
    # in parallel and gives every sink a column-PRUNED scan. The stage
    # is lineage-committed per day, so a resume never re-parses
    # committed days - the parsed table is itself a useful artifact.
    stage_days = [d for d in days_needed if ("parsed_stage", d) not in committed]
    if stage_days:
        scoped = raw.filter(F.col("file_day").isin(stage_days))
        # The parse stage is CPU-bound: spread an unsplittable input
        # (one giant gzip) across the cores first. A production Iceberg
        # table is range-partitioned into many files and never spreads.
        scoped = spread_scan(scoped, input_path, "doc_id")
        # File-count note: input shards are expected day-aligned (a real
        # ingest table is range-partitioned by date — SURVEY.md S3), so
        # each write task emits into ONE day-partition and the commit
        # moves O(tasks) files. A round-robin-sharded input instead
        # yields tasks×days files; we accept that rather than paying a
        # full-payload reshuffle here.
        catalog.write_partitions(parse_stage(scoped), "parsed_stage")
        stage_counts = catalog.day_rows("parsed_stage", stage_days)
        summary["stage_rows"] = sum(stage_counts.values())
        catalog.commit(
            [("parsed_stage", d, n) for d, n in stage_counts.items()],
            run_id,
        )
    summary["stage_days_written"] = len(stage_days)

    # partition inference reads ``day=YYYY-MM-DD`` back as a date; the
    # cast gives the sinks parse_stage's string day, as in streaming
    stage = catalog.read("parsed_stage").withColumn("day", F.col("day").cast("string"))

    # ---- phase 2: fan-out over pruned stage scans ------------------------
    # Every sink frame is day-partitioned, so the concurrent sink jobs
    # write disjoint directories; the lineage commit log appends
    # uniquely-named files and is safe to write from worker threads.
    def _route(name, fn):
        days = pending[name]
        if not days:
            return {"days_written": 0, "rows": 0}
        df = fn(
            stage.filter(F.col("day").isin(days)),
            raw.filter(F.col("file_day").isin(days)),
        )
        # a safety net against a sink emitting days outside its commit
        # set (such rows could never be resumed)
        df = df.filter(F.col("day").isin(days))
        catalog.write_partitions(df, name, days=days)
        # lineage carries TRUE per-day counts from the written files; a
        # day the sink emitted no rows for (no files) commits an
        # explicit zero
        per_day = catalog.day_rows(name, days)
        catalog.commit([(name, d, n) for d, n in per_day.items()], run_id)
        return {"days_written": len(days), "rows": sum(per_day.values())}

    summary["sinks"] = dict(zip(sinks, fan_out(spark, sinks, _route)))
    # steady-state maintenance: fold the commit log once it accumulates
    # (one tiny driver-side parquet rewrite; no-op below the threshold —
    # without this, thousands of incremental runs leave committed()
    # reading thousands of small files). Iceberg backends compact the
    # lineage table via rewrite_data_files out-of-band instead.
    if not catalog.use_iceberg:
        summary["lineage_compaction"] = catalog.compact_lineage(max_files=512)
    return summary


# -- global rollups from the mergeable daily sinks ---------------------------


def repository_stats_global(catalog: SinkCatalog) -> DataFrame:
    daily = catalog.read("repository_stats_daily")
    sums = [F.sum(c).alias(c) for c in A._OP_PLURAL.values()]
    return daily.groupBy("repo_slug").agg(*sums).orderBy(F.desc("clones"), F.asc("repo_slug"))


def protocol_counts_global(catalog: SinkCatalog) -> DataFrame:
    return (
        catalog.read("protocol_counts_daily")
        .groupBy("protocol")
        .agg(F.sum("n").alias("n"))
        .orderBy("protocol")
    )


def duration_percentiles_global_sketch(catalog: SinkCatalog) -> DataFrame:
    """Global per-op percentiles from the MERGED daily histogram sink —
    the 10^12-row path: the rollup touches O(days × ops × buckets) rows
    instead of re-scanning every raw duration (what
    duration_percentiles_global below still does, kept as the exact
    twin). Reported values are bucket lower bounds: within 6.25 % below
    the true order statistic by construction (error bound asserted in
    test_analyses.test_histogram_percentiles_error_bound)."""
    return A.percentiles_from_histogram(catalog.read("duration_hist_daily"))


def duration_percentiles_global(catalog: SinkCatalog) -> DataFrame:
    """Exact (interpolated) global per-op percentiles over the routed
    request_durations raw sink — the exact twin of
    duration_percentiles_global_sketch, which is the mergeable path at
    scale."""
    durs = catalog.read("request_durations")
    pcts = [0.5, 0.9, 0.95, 0.99]
    names = ["p50", "p90", "p95", "p99"]
    agg = F.percentile(F.col("duration_ms"), F.array(*[F.lit(p) for p in pcts]))
    exploded = [F.get(F.col("_p"), i).cast("double").alias(n) for i, n in enumerate(names)]
    return (
        durs.groupBy("op_type")
        .agg(F.count("*").alias("n"), agg.alias("_p"))
        .select("op_type", "n", *exploded)
        .orderBy("op_type")
    )
