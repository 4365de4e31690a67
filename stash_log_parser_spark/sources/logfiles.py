"""Plain access-log file source (the reference's native input mode).

A user of the reference feeds ``atlassian-stash-access-YYYY-MM-DD.N.log``
(optionally ``.gz``) files; this module gives the rebuild the same
front door (SURVEY.md §3.1 S1–S4):

* S1 multi-file scan  → ``spark.read.text(paths)`` (one row per line)
* S2 gzip decompress  → transparent: Spark's text source decodes ``.gz``
  by codec; no code needed
* S3 filename-date order → the date is parsed out of ``input_file_name``
  into a ``file_day`` column; analyses bucket by timestamp anyway, so
  ordering is metadata, not a physical sort
* S4 date-range file filter → the inputs are listed on the driver and
  files whose name date is out of range are dropped before the scan
  (the reference's ``createPredicate``); the ``file_day`` row predicate
  stays, so an input that cannot be listed locally is still exact

The decoded lines feed the SAME grok (functions.parse.parse_lines) and
therefore every analysis unchanged.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import data_files

FILENAME_DATE_RE = r"(\d{4}-\d{2}-\d{2})"


def file_day(name: str) -> str:
    """The ISO date in a log file's basename, or "" when it has none."""
    m = re.search(FILENAME_DATE_RE, os.path.basename(name))
    return m.group(1) if m else ""


def _files_in_range(paths: str | list[str], since, until) -> list[str]:
    """Expand ``paths`` on the driver (``glob.glob``, then the catalog's
    listing walk, which skips ``_``/``.`` names as Spark does) and drop
    the files whose name date is out of range. An input that lists
    nothing locally (a remote URI, a missing path) is kept as given, so
    Spark reads it or raises its own error."""
    lo = None if since is None else str(since)
    hi = None if until is None else str(until)
    kept = []
    for p in [paths] if isinstance(paths, str) else paths:
        files = [f for m in sorted(glob.glob(p)) for f in data_files(m)]
        if not files:
            kept.append(p)
            continue
        kept.extend(
            f for f in files
            if (lo is None or file_day(f) >= lo) and (hi is None or file_day(f) <= hi)
        )
    return kept


def read_log_files(
    spark: SparkSession,
    paths: str | list[str],
    since: str | dt.date | None = None,
    until: str | dt.date | None = None,
) -> DataFrame:
    """Read raw access-log file(s) into (line, source, file_day, doc_id).

    ``since``/``until`` (inclusive ISO dates) filter by the date embedded
    in the file name — the reference's ``sortLogFiles``/``createPredicate``
    semantics (File.hs:~30/~50 [K]): out-of-range files are never
    scanned, and the same range filters rows by ``file_day``.

    ``doc_id`` is synthesized as ``<file>#<hash>`` where the hash is
    ``xxhash64(line, occurrence-among-identical-lines)`` — STABLE across
    scans, retries, and partition-layout changes (a
    monotonically_increasing_id, as in round 1, re-keys on every read
    and silently mis-joins the routed raw-row re-attach). Identical
    duplicate lines are interchangeable, so the occurrence number's
    arbitrary assignment still yields a stable id MULTISET. The
    occurrence window costs one shuffle — keyed on
    ``(source, xxhash64(line))``, NOT the line text itself, so the
    exchange hashes/compares 8-byte keys while the line rides as row
    payload (round-2 review: the full-line key was the last
    payload-keyed shuffle in the repo). Hash collisions merely co-locate
    two distinct lines in one window partition; the within-partition
    sort on ``line`` keeps each line's occurrence numbering contiguous
    and deterministic, so doc_ids stay stable. A production ingest
    assigns row ids at write time (e.g. Iceberg) and skips this — the
    raw-file front door favors correctness over that one pass.
    """
    from pyspark.sql import Window

    df = spark.read.text(_files_in_range(paths, since, until))
    src = F.element_at(F.split(F.input_file_name(), "/"), -1)
    df = (
        df.withColumn("source", src)
        .withColumn("file_day", F.regexp_extract("source", FILENAME_DATE_RE, 1))
        .withColumnRenamed("value", "line")
        .withColumn("_lh", F.xxhash64("line"))
    )
    occ = F.row_number().over(Window.partitionBy("source", "_lh").orderBy("line"))
    df = df.withColumn(
        "doc_id",
        F.format_string("%s#%016x", F.col("source"), F.xxhash64("line", occ)),
    ).drop("_lh")
    if since is not None:
        df = df.filter(F.col("file_day") >= str(since))
    if until is not None:
        df = df.filter(F.col("file_day") <= str(until))
    return df


def parse_log_files(
    spark: SparkSession,
    paths: str | list[str],
    since: str | dt.date | None = None,
    until: str | dt.date | None = None,
) -> DataFrame:
    """Raw log files → fully parsed LogEntry frame (same schema as the
    tokenized-corpus path, minus the tokens column)."""
    from ..functions.parse import parse_lines

    lines = read_log_files(spark, paths, since, until)
    return parse_lines(lines).drop("line")


def sort_log_files(names: list[str]) -> list[str]:
    """Filename-date (then sequence-number) ordering of log file names —
    the reference's sortLogFiles, for callers that enumerate files
    themselves."""

    def key(name: str):
        m = re.search(FILENAME_DATE_RE, name)
        n = re.search(r"\.(\d+)\.log", name)
        return (m.group(1) if m else "", int(n.group(1)) if n else 0, name)

    return sorted(names, key=key)
