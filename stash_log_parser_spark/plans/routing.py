"""Fan-out routing: one parse, many per-analysis sinks, resumable.

The reference runs one analysis per CLI invocation over the same files
(Main.hs mode dispatch [K]); at 10^12 rows re-parsing per analysis is
the dominant cost, so the rebuild parses ONCE into a day-partitioned
parsed STAGE table and fans every sink out as a column-pruned scan of
it (SURVEY.md §8.1 M6). The stage is lineage-committed like any sink,
so incremental runs never re-parse committed days, and it doubles as a
queryable artifact (the "parsed logs" table a log platform would keep).

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
request_durations raw sink. Lineage row-counts come from the parquet
footers of the files each write left behind (SinkCatalog.day_rows),
read on the driver; an Iceberg backend counts with a Spark aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions.parse import parse_corpus
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


# Every routed sink is partitioned on FILE_DAY (the date in the source
# filename — the same notion the resume/lineage protocol is keyed on).
# Analytic columns derived from the event timestamp (hour buckets) keep
# their true ts values, so a row whose timestamp spills across midnight
# (log-rotation boundary) is WRITTEN — under its file's day partition —
# rather than silently dropped by a day mismatch; global per-hour
# rollups merge the (file_day, hour) partials. Round-1 review flagged
# the previous ts-derived day keys for losing exactly those rows.


def _sink_git_operations(p: DataFrame, _raw: DataFrame) -> DataFrame:
    """Per-(file_day, hour) git-op hit/miss counts (A5, mergeable)."""
    ops = p.filter(F.col("is_parsed") & F.col("op_type").isNotNull())
    aggs = []
    for op in A.OP_TYPES:
        is_op = F.col("op_type") == op
        aggs.append(F.sum((is_op & F.col("cache_hit")).cast("long")).alias(f"{op}_hit"))
        aggs.append(F.sum((is_op & ~F.col("cache_hit")).cast("long")).alias(f"{op}_miss"))
    return ops.groupBy(
        F.col("file_day").alias("day"),
        F.date_format("hour", "yyyy-MM-dd HH").alias("hour"),
    ).agg(*aggs)


def _sink_protocol_by_hour(p: DataFrame, _raw: DataFrame) -> DataFrame:
    ops = p.filter(F.col("is_parsed") & F.col("op_type").isNotNull())
    return ops.groupBy(
        F.col("file_day").alias("day"),
        F.date_format("hour", "yyyy-MM-dd HH").alias("hour"),
    ).agg(
        F.sum((F.col("protocol") == "ssh").cast("long")).alias("ssh"),
        F.sum(F.col("protocol").isin("http", "https").cast("long")).alias("http"),
    )


def _sink_concurrency_by_hour(p: DataFrame, _raw: DataFrame) -> DataFrame:
    """Per-hour peak of the running gauge. The gauge itself is windowed
    by the stage's ``day`` (= file_day: one file sequence per day, the
    reference's reset boundary), so spill rows extend their own file's
    gauge and land in that file's partition."""
    tl = A.concurrency_timeline(p, two_level=True)
    return tl.groupBy(
        F.col("file_day").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
    ).agg(F.max("concurrent").alias("max_concurrent"))


def _sink_protocol_counts_daily(p: DataFrame, _raw: DataFrame) -> DataFrame:
    return (
        p.filter(F.col("is_parsed"))
        .groupBy("file_day", "protocol")
        .agg(F.count("*").alias("n"))
        .withColumnRenamed("file_day", "day")
    )


def _sink_repository_stats_daily(p: DataFrame, _raw: DataFrame) -> DataFrame:
    ops = p.filter(F.col("op_type").isNotNull() & F.col("repo_slug").isNotNull())
    aggs = [
        F.sum((F.col("op_type") == op).cast("long")).alias(plural)
        for op, plural in A._OP_PLURAL.items()
    ]
    return (
        ops.groupBy("file_day", "repo_slug").agg(*aggs).withColumnRenamed("file_day", "day")
    )


def _sink_request_durations(p: DataFrame, raw: DataFrame) -> DataFrame:
    """Routed RAW rows — carries the original tokens (BASELINE.json:15).

    Tokens re-attach by a doc_id join against the RAW input rather than
    riding in the stage table: the payload is then written exactly once
    (in this sink), never stored twice, and moves through one shuffle as
    join VALUE — measured ~5s of the 14s stage build was parquet
    list-encoding the token arrays a second time. The stage side of the
    join is narrow; co-bucketing both tables on doc_id makes the join
    exchange-free at scale (see SinkCatalog.write_bucketed)."""
    ops = p.filter(
        F.col("op_type").isNotNull() & F.col("duration_ms").isNotNull()
    ).select(
        "doc_id", "op_type", "duration_ms", "username", "client_ip",
        "project_key", "datacenter", "ts_raw",
        F.col("file_day").alias("day"),
    )
    return ops.join(raw.select("doc_id", "tokens"), "doc_id")


def _sink_duration_hist(p: DataFrame, _raw: DataFrame) -> DataFrame:
    """Per-(file_day, op_type, bucket) duration histogram — the
    MERGEABLE percentile partial: a few hundred rows per day replace
    re-scanning the raw durations sink for global percentiles
    (duration_percentiles_global_sketch; error ≤ 1/16 by bucket
    construction, see analyses.duration_bucket)."""
    return A.duration_histogram(p, extra_keys=(F.col("file_day").alias("day"),))


def _sink_pairing_daily(p: DataFrame, _raw: DataFrame) -> DataFrame:
    pairs = A.pair_requests(p)
    return (
        pairs.groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.sum((F.col("ts_in").isNotNull() & F.col("ts_out").isNotNull()).cast("long")).alias("matched_pairs"),
            F.sum(F.col("ts_out").isNull().cast("long")).alias("unmatched_incoming"),
            F.sum(F.col("ts_in").isNull().cast("long")).alias("unmatched_outgoing"),
        )
    )


def _sink_metrics(p: DataFrame, _raw: DataFrame) -> DataFrame:
    """Per-(day, source) parse metrics — malformed lines are counted here,
    never silently dropped (SURVEY.md §3.3 F5)."""
    return (
        p.groupBy(F.col("file_day").alias("day"), "source")
        .agg(
            F.count("*").alias("total_lines"),
            F.sum(F.col("is_parsed").cast("long")).alias("parsed_lines"),
            F.sum((~F.col("is_parsed")).cast("long")).alias("malformed_lines"),
        )
    )


SINKS: dict[str, callable] = {
    "git_operations": _sink_git_operations,
    "protocol_by_hour": _sink_protocol_by_hour,
    "concurrency_by_hour": _sink_concurrency_by_hour,
    "protocol_counts_daily": _sink_protocol_counts_daily,
    "repository_stats_daily": _sink_repository_stats_daily,
    "request_durations": _sink_request_durations,
    "duration_hist_daily": _sink_duration_hist,
    "pairing_daily": _sink_pairing_daily,
    "metrics": _sink_metrics,
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
    import time

    t_start = time.perf_counter()
    timings: dict[str, float] = {}

    def mark(name: str, t0: float) -> None:
        timings[name] = round(time.perf_counter() - t0, 2)

    sinks = sinks or SINKS
    # defensive: callers may bring their own session (driver harness);
    # small Arrow batches are required for the tokens-through parse
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    catalog = SinkCatalog(spark, output)
    committed = set() if force else catalog.committed()

    t0 = time.perf_counter()
    raw = spark.read.parquet(input_path).select("doc_id", "tokens", "n_tok", "source")
    raw = raw.withColumn("file_day", F.regexp_extract("source", FILENAME_DATE_RE, 1))
    all_days = sorted(r.file_day for r in raw.select("file_day").distinct().collect())
    mark("discover_days", t0)

    pending: dict[str, list[str]] = {
        name: [d for d in all_days if (name, d) not in committed] for name in sinks
    }
    days_needed = sorted({d for ds in pending.values() for d in ds})
    summary = {"run_id": run_id, "days_total": len(all_days), "days_parsed": len(days_needed), "sinks": {}}
    if not days_needed:
        return summary

    # ---- phase 1: the parsed STAGE table --------------------------------
    # One full parse materialized as a day-partitioned parquet/Iceberg
    # table (tokens included, array intermediates dropped). Chosen over
    # DataFrame caching after measurement: the columnar cache build cost
    # ~3x the parse itself and did not scale with cores, while a parquet
    # stage writes in parallel and gives every sink a column-PRUNED scan
    # (the heavy tokens column is only read by the routed raw-row sink).
    # The stage is lineage-committed per day, so a resume never re-parses
    # committed days - the parsed table is itself a useful artifact.
    stage_days = [d for d in days_needed if ("parsed_stage", d) not in committed]
    t0 = time.perf_counter()
    if stage_days:
        scoped = raw.filter(F.col("file_day").isin(stage_days))
        # The parse stage is CPU-bound: spread an unsplittable input
        # (one giant gzip) across the cores first. A production Iceberg
        # table is range-partitioned into many files and never spreads.
        scoped = spread_scan(scoped, input_path, "doc_id")
        # The stage stores only PARSED columns — the token payload stays
        # in the input table and re-attaches to the one sink that needs
        # it by a doc_id join (_sink_request_durations). Two measured
        # reasons: (a) shipping token arrays through the Python stage as
        # Arrow passengers was 2.5x slower than leaving them behind
        # (payload roundtrip serialization, not decode, is the cost);
        # (b) parquet-list-encoding the arrays a second time into the
        # stage cost ~5s of the 14s stage build — and at scale would
        # store the 100 TB payload twice. The tokens are consumed INSIDE
        # the Arrow decode stage and never emitted from it.
        parsed = enrich(parse_corpus(scoped)).withColumn(
            "file_day", F.regexp_extract("source", FILENAME_DATE_RE, 1)
        )
        stage_df = parsed.select(
            "doc_id", "n_tok", "source", "is_parsed",
            "protocol", "req_dir", "req_counter", "username", "client_ip",
            "ts", "ts_raw", "repo_slug", "duration_ms", "op_type", "cache_hit",
            "hour", F.col("file_day").alias("day"), "project_key", "datacenter",
        )
        # File-count note: input shards are expected day-aligned (a real
        # ingest table is range-partitioned by date — SURVEY.md S3), so
        # each write task emits into ONE day-partition and the commit
        # moves O(tasks) files. A round-robin-sharded input instead
        # yields tasks×days files; we accept that rather than paying a
        # full-payload reshuffle here.
        catalog.write_partitions(stage_df, "parsed_stage")
        stage_counts = catalog.day_rows("parsed_stage", stage_days)
        summary["stage_rows"] = sum(stage_counts.values())
        catalog.commit(
            [("parsed_stage", d, n) for d, n in stage_counts.items()],
            run_id,
        )
    mark("parse_stage", t0)
    summary["stage_days_written"] = len(stage_days)

    stage = catalog.read("parsed_stage").withColumn("file_day", F.col("day"))

    # ---- phase 2: fan-out over pruned stage scans ------------------------
    # Sinks are submitted CONCURRENTLY (one thread per sink): at bench
    # scale each sink job underutilizes the cluster and the e2e was
    # scheduling-bound (round-1 profile: 33 s of 63 s), while on a real
    # cluster concurrent scheduling overlaps the many small stages.
    # Every sink frame is day-partitioned on file_day, so the jobs write
    # disjoint directories; the lineage commit log appends uniquely-named
    # files and is safe to write from worker threads.
    from concurrent.futures import ThreadPoolExecutor

    def _run_sink(item):
        name, fn = item
        t0 = time.perf_counter()
        days = pending[name]
        if not days:
            return name, {"days_written": 0, "rows": 0}, 0.0
        # one scheduler pool per sink: with FAIR mode (session.py) the
        # long payload-join sink cannot starve the small aggregates.
        # setLocalProperty is per-thread, which is exactly the scope of
        # this worker.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        df = fn(
            stage.filter(F.col("file_day").isin(days)),
            raw.filter(F.col("file_day").isin(days)),
        )
        # day is always file_day-derived now; the isin is kept as a
        # safety net against a sink emitting days outside its commit set
        # (such rows could never be resumed).
        df = df.filter(F.col("day").isin(days))
        catalog.write_partitions(df, name, days=days)
        # lineage carries TRUE per-day counts from the written files; a
        # day the sink emitted no rows for (no files) commits an
        # explicit zero
        per_day = catalog.day_rows(name, days)
        catalog.commit([(name, d, n) for d, n in per_day.items()], run_id)
        info = {"days_written": len(days), "rows": sum(per_day.values())}
        return name, info, time.perf_counter() - t0

    with ThreadPoolExecutor(max_workers=len(sinks)) as ex:
        for name, info, dt in ex.map(_run_sink, sinks.items()):
            summary["sinks"][name] = info
            timings[f"sink_{name}"] = round(dt, 2)
    # steady-state maintenance: fold the commit log once it accumulates
    # (one tiny driver-side parquet rewrite; no-op below the threshold —
    # without this, thousands of incremental runs leave committed()
    # reading thousands of small files). Iceberg backends compact the
    # lineage table via rewrite_data_files out-of-band instead.
    if not catalog.use_iceberg:
        summary["lineage_compaction"] = catalog.compact_lineage(max_files=512)
    timings["total"] = round(time.perf_counter() - t_start, 2)
    summary["timings"] = timings
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


def duration_percentiles_global(catalog: SinkCatalog, approx: bool = False) -> DataFrame:
    durs = catalog.read("request_durations")
    pcts = [0.5, 0.9, 0.95, 0.99]
    names = ["p50", "p90", "p95", "p99"]
    fn = F.percentile_approx if approx else F.percentile
    agg = fn(F.col("duration_ms"), F.array(*[F.lit(p) for p in pcts]))
    exploded = [F.get(F.col("_p"), i).cast("double").alias(n) for i, n in enumerate(names)]
    return (
        durs.groupBy("op_type")
        .agg(F.count("*").alias("n"), agg.alias("_p"))
        .select("op_type", "n", *exploded)
        .orderBy("op_type")
    )
