"""Per-analysis CLI — the reference's actual UX, one mode per run.

The reference is invoked as ``logparser <mode> access-log*.gz`` and
prints the analysis as pipe-separated plot data to stdout for the
repo's gnuplot scripts (Main.hs cmdargs mode dispatch, Output.hs
formatting [K]; SURVEY.md §3.5/§4 E1). This module is that surface on
Spark: same mode names, same input (raw, optionally gzipped log files —
or a tokenized-sequence parquet table, autodetected), pipe-separated
stdout by default.

    python -m stash_log_parser_spark gitOperations \
        'logs/atlassian-stash-access-*.log*' [--since 2012-09-08] \
        [--until 2012-09-09] [--format pipe|csv|table]

``python -m stash_log_parser_spark.plans.analyze`` is the same command:
the package's ``__main__`` runs this module's :func:`main`.

Raw logs are read by ``sources.logfiles.read_log_files`` alone: log
files outside ``--since``/``--until`` are skipped before the scan, as
the reference's File.hs ``createPredicate`` does. The ``stashlog`` data
source is only the ``--export-logs`` writer.

The big-corpus path remains plans/job.py (parse once → all sinks); this
CLI recomputes one analysis per invocation exactly like the reference —
convenient for ad-hoc queries, quadratically wasteful at 10^12 rows.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame

from ..session import build_session

# mode name (reference CLI spelling) → builder(parsed) -> DataFrame
# (SURVEY.md §3.5: A1 countRequests, A2 maxConn, A3 plotDataConcurrentConn
# {Minute,Hour}, A4 protocolStats, A5 gitOperations, A6 repositoryStats,
# A7 requestDurations.)


def _modes():
    from ..operators import analyses as A

    return {
        "countRequests": A.count_requests,
        "maxConn": A.max_concurrent,
        "plotConnMinute": lambda p: A.concurrency_by_hour(p, bucket="minute"),
        "plotConnHour": lambda p: A.concurrency_by_hour(p, bucket="hour"),
        "protocolStats": A.protocol_counts,
        "protocolStatsByHour": A.protocol_by_hour,
        "gitOperations": A.git_operations,
        "repositoryStats": A.repository_stats,
        "requestDurations": lambda p: A.request_durations(p, keep_tokens=False),
        "durationPercentiles": A.duration_percentiles,
        "durationPercentilesSketch": lambda p: A.percentiles_from_histogram(
            A.duration_histogram(p)
        ),
    }


def _is_parquet(path: str) -> bool:
    if path.endswith(".parquet"):
        return True
    return os.path.isdir(path) and any(
        n.endswith(".parquet") for n in os.listdir(path)
    )


def _load_corpus(spark, path: str, since, until) -> DataFrame:
    """Tokenized parquet → parse_corpus, rows filtered by filename date."""
    from pyspark.sql import functions as F

    from ..functions.parse import parse_corpus, read_corpus
    from ..sources.logfiles import FILENAME_DATE_RE

    raw = read_corpus(spark, path).withColumn(
        "file_day", F.regexp_extract("source", FILENAME_DATE_RE, 1)
    )
    if since:
        raw = raw.filter(F.col("file_day") >= str(since))
    if until:
        raw = raw.filter(F.col("file_day") <= str(until))
    return parse_corpus(raw)


def _emit(df: DataFrame, fmt: str, out_path: str | None = None, sep: str = "|") -> int:
    """Stream the result to stdout or a plot-data file; returns the row
    count. toLocalIterator keeps driver memory at one-partition
    granularity — the reference prints/writes lazily for the same
    reason (Output.hs [K]; gnuplot scripts consume the emitted file)."""
    if fmt == "table":
        df.show(1000, truncate=False)
        return -1
    if fmt == "csv":
        sep = ","
    n = 0
    sink = open(out_path, "w") if out_path else sys.stdout
    try:
        for row in df.toLocalIterator():
            print(sep.join("" if v is None else str(v) for v in row), file=sink)
            n += 1
    finally:
        if out_path:
            sink.close()
    return n


def main(argv: list[str] | None = None) -> int:
    modes = _modes()
    ap = argparse.ArgumentParser(
        description="Run ONE analysis over access logs, print plot data."
    )
    ap.add_argument("mode", choices=sorted(modes))
    ap.add_argument("inputs", nargs="+",
                    help="raw .log/.log.gz files/globs, or one tokenized parquet")
    ap.add_argument("--since", default=None, help="inclusive ISO date (filename-derived)")
    ap.add_argument("--until", default=None, help="inclusive ISO date")
    ap.add_argument("--format", default="pipe", choices=["pipe", "csv", "table"])
    ap.add_argument("--output", default=None,
                    help="write plot data to this file instead of stdout")
    ap.add_argument("--master", default=None)
    ap.add_argument("--top", type=int, default=None, metavar="N",
                    help="emit only the first N result rows (the reference's "
                         "possible '--top N' CLI flag, SURVEY §3.6 O2; applied "
                         "after the mode's own ordering, so e.g. "
                         "repositoryStats --top 10 is the top-10 repos)")
    ap.add_argument("--export-logs", default=None, metavar="DIR",
                    help="also re-emit the date-filtered RAW lines as a "
                         "day-sharded log archive via the stashlog staged-"
                         "rename writer (archive slicing); raw-log inputs "
                         "only")
    ap.add_argument("--export-compression", default="gzip",
                    choices=["gzip", "none"],
                    help="compression for --export-logs files")
    args = ap.parse_args(argv)
    if args.top is not None and args.top <= 0:
        ap.error("--top must be a positive integer")
    if args.format == "table" and args.output:
        # df.show renders to stdout (truncated at 1000 rows); silently
        # exiting 0 with an unwritten --output file was round-2 advice.
        ap.error("--format table renders to stdout and cannot honor "
                 "--output; use --format pipe or csv for file sinks")

    corpus_input = len(args.inputs) == 1 and _is_parquet(args.inputs[0])
    if corpus_input and args.export_logs is not None:
        ap.error("--export-logs re-emits RAW lines; raw-log inputs only")

    spark = build_session(app_name=f"analyze-{args.mode}", master=args.master)
    if corpus_input:
        parsed = _load_corpus(spark, args.inputs[0], args.since, args.until)
    else:
        from ..functions.parse import parse_lines
        from ..sources.logfiles import read_log_files

        raw = read_log_files(spark, args.inputs, args.since, args.until)
        if args.export_logs is not None:
            # format("stashlog") is registered by build_session
            (
                raw.select("line", "file_day")
                .write.format("stashlog")
                .option("path", args.export_logs)
                .option("compression", args.export_compression)
                .mode("overwrite")
                .save()
            )
        parsed = parse_lines(raw).drop("line")
    result = modes[args.mode](parsed)
    if args.top is not None:
        # limit over the mode's own ordering → TakeOrderedAndProject in
        # the physical plan (no full materialization of the result)
        result = result.limit(args.top)
    _emit(result, args.format, args.output)
    return 0


if __name__ == "__main__":
    sys.exit(main())
