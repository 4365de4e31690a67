"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource``) for
raw access-log files: format ``"stashlog"`` — batch AND streaming.

The raw-log front door (:mod:`.logfiles`, the CLI's only reader) reads
log files through ``spark.read.text`` and drops out-of-range files by
name on the driver before the scan. This connector is the
DataSource-V2-style sibling that owns its own planning:

* **Filter pushdown** — Catalyst pushes ``file_day`` predicates written
  on the loaded frame into :meth:`StashLogBatchReader.pushFilters`;
  pruned files are never opened, never scheduled, never read.
* **Stable per-file row ids** — exactly one reader task owns a file,
  so ``doc_id = <file>#<line-number>`` is deterministic with NO
  occurrence-window shuffle (the text-source path needs one; see
  logfiles.read_log_files).
* **A replayable streaming source** — ``spark.readStream.format(
  "stashlog")`` replays the archive one file per micro-batch in
  filename-date order (offset = file index), feeding the streaming
  pipeline without a Kafka stand-in.
* **A writer** (batch and streaming) that lays lines back down as
  day-sharded log files; the CLI's ``--export-logs`` uses it.

As a batch reader it is slower than the text source (every line
crosses the Python/JVM boundary; README "Sources" has the numbers), so
the CLI does not read through it.

Parallelism = one :class:`InputPartition` per file — the natural grain
of log archives (day-sharded, ~100 MB each); gzip members are not
splittable anyway. Executors decompress/decode locally; nothing is
shuffled.

Usage::

    spark.dataSource.register(StashLogDataSource)
    df = (spark.read.format("stashlog").option("path", log_dir).load()
          .filter(F.col("file_day") >= "2012-09-09"))   # pruned at planning
    stream = spark.readStream.format("stashlog").option("path", log_dir).load()

    # write path (batch + streaming sink): day-sharded .log.gz files a
    # reader — this one or the reference CLI — consumes directly
    df.write.format("stashlog").mode("overwrite").option("path", out).save()
    q = (stream.writeStream.format("stashlog").option("path", out)
         .option("checkpointLocation", ckpt).start())

Reference parity: S1 multi-file scan, S2 gzip decode, S3 filename-date
ordering, S4 date-range pruning (SURVEY.md §3.1) — re-expressed through
the public connector API: the range is a filter on the frame, not a
reader option.
"""

from __future__ import annotations

import glob
import gzip
import os
from typing import Iterable, Iterator, List, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from .logfiles import file_day, sort_log_files

SCHEMA_DDL = "doc_id string, line string, source string, file_day string"


def _discover(path: str) -> List[str]:
    """All .log/.log.gz files under ``path`` in filename-date order."""
    if os.path.isfile(path):
        return [path]
    names = glob.glob(os.path.join(path, "*.log")) + glob.glob(
        os.path.join(path, "*.log.gz")
    )
    return sort_log_files(names)


def _read_lines(path: str) -> Iterator[str]:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8", errors="replace") as f:
        for line in f:
            yield line.rstrip("\n")


def _rows_for(path: str) -> Iterator[Tuple[str, str, str, str]]:
    source = os.path.basename(path)
    day = file_day(path)
    for i, line in enumerate(_read_lines(path)):
        yield (f"{source}#{i}", line, source, day)


class StashLogBatchReader(DataSourceReader):
    def __init__(self, options):
        self._files = _discover(options.get("path", ""))

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        """Absorb ``file_day`` comparisons as planning-time FILE pruning.

        Every row of a file shares its file_day, so a file-level prune
        implements the row-level predicate EXACTLY — absorbed filters
        are not re-evaluated by Spark. Anything else is returned
        (Spark keeps evaluating it above the scan). Pruning is applied
        EAGERLY and a plain list returned — a generator here would
        mutate the file list only when (and if) the engine drains it,
        an ordering this implementation must not depend on."""
        ops = {
            EqualTo: lambda a, b: a == b,
            GreaterThan: lambda a, b: a > b,
            GreaterThanOrEqual: lambda a, b: a >= b,
            LessThan: lambda a, b: a < b,
            LessThanOrEqual: lambda a, b: a <= b,
        }
        leftover = []
        for f in filters:
            cmp = ops.get(type(f))
            if cmp is not None and getattr(f, "attribute", None) == ("file_day",):
                self._files = [x for x in self._files if cmp(file_day(x), f.value)]
            else:
                leftover.append(f)
        return leftover

    def partitions(self) -> List[InputPartition]:
        # an empty source (no files, or everything pruned) must plan as
        # one no-op partition: returning [] makes Spark invoke read(None)
        if not self._files:
            return [InputPartition(None)]
        return [InputPartition(f) for f in self._files]

    def read(self, partition: InputPartition) -> Iterator[Tuple]:
        if partition is None or partition.value is None:
            return
        yield from _rows_for(partition.value)


class StashLogStreamReader(SimpleDataSourceStreamReader):
    """One log file per micro-batch, filename-date order; the offset is
    the index into the sorted file list, so replay from a checkpoint is
    exact (files are immutable once rotated)."""

    def __init__(self, options):
        self._files = _discover(options.get("path", ""))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        idx = int(start["idx"])
        if idx >= len(self._files):
            return [], {"idx": idx}
        # a LIST, not a generator: the simple-reader protocol prefetches
        # on the driver and pickles the batch into the offset cache
        return list(_rows_for(self._files[idx])), {"idx": idx + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        for idx in range(int(start["idx"]), int(end["idx"])):
            yield from _rows_for(self._files[idx])

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to clean up


class _StagedFiles(WriterCommitMessage):
    """Commit message: the staged (hidden) files one task produced,
    as (staged_name, final_name) pairs relative to the sink dir."""

    def __init__(self, pairs: List[Tuple[str, str]]):
        self.pairs = pairs


def _write_day_files(
    path: str, tag: str, iterator, gz: bool
) -> "_StagedFiles":
    """Executor-side helper shared by the batch and stream writers:
    drain the row iterator into one text file per file_day, staged
    under a dot-prefixed name (``glob('*.log*')`` skips dotfiles, so
    readers cannot observe an uncommitted write). Rows need ``line``;
    ``file_day`` defaults to 1970-01-01 so schema-light frames still
    round-trip."""
    os.makedirs(path, exist_ok=True)
    handles: dict = {}
    pairs: List[Tuple[str, str]] = []
    ext = ".log.gz" if gz else ".log"
    try:
        for row in iterator:
            day = getattr(row, "file_day", None) or "1970-01-01"
            h = handles.get(day)
            if h is None:
                final = f"stash-access-{day}.{tag}{ext}"
                staged = "." + final
                full = os.path.join(path, staged)
                h = (
                    gzip.open(full, "wt", encoding="utf-8")
                    if gz
                    else open(full, "wt", encoding="utf-8")
                )
                handles[day] = h
                pairs.append((staged, final))
            h.write(row.line + "\n")
    finally:
        for h in handles.values():
            h.close()
    return _StagedFiles(pairs)


def _commit_staged(path: str, messages, overwrite: bool) -> None:
    """Driver-side publish: optionally clear the sink, then atomically
    rename every staged file into visibility. Rename is the commit
    point — a crash before it leaves only invisible dotfiles."""
    if overwrite:
        for f in _discover(path):
            os.remove(f)
    for m in messages:
        if m is None:
            continue
        for staged, final in m.pairs:
            os.replace(os.path.join(path, staged), os.path.join(path, final))


def _abort_staged(path: str, messages) -> None:
    for m in messages:
        if m is None:
            continue
        for staged, _final in m.pairs:
            try:
                os.remove(os.path.join(path, staged))
            except FileNotFoundError:
                pass


class StashLogBatchWriter(DataSourceWriter):
    """Round-trip write path: ``df.write.format("stashlog")`` lays the
    frame back down as day-sharded access-log text files the batch and
    stream READERS (and the reference CLI) consume directly.

    Commit protocol = the classic staging rename: tasks write
    dot-prefixed files (invisible to the reader's glob), the driver
    renames them into place only after every task succeeded —
    all-or-nothing visibility without a manifest. One file per
    (file_day, task): the same day-grain the reader plans on, so a
    written sink prunes identically to an original archive."""

    def __init__(self, options, overwrite: bool):
        self._path = options.get("path", "")
        self._gz = options.get("compression", "gzip") != "none"
        self._overwrite = overwrite

    def write(self, iterator) -> _StagedFiles:
        from pyspark import TaskContext

        tc = TaskContext.get()
        tag = f"part-{tc.partitionId() if tc else 0}"
        return _write_day_files(self._path, tag, iterator, self._gz)

    def commit(self, messages) -> None:
        _commit_staged(self._path, messages, self._overwrite)

    def abort(self, messages) -> None:
        _abort_staged(self._path, messages)


class StashLogStreamWriter(DataSourceStreamWriter):
    """Streaming sink twin: ``df.writeStream.format("stashlog")``.
    Task files stage exactly as in batch; the driver renames them under
    batch-qualified names at epoch commit, so a replayed micro-batch
    (same batchId after recovery) republishes over its own files —
    idempotent by construction, no write-ahead log needed."""

    def __init__(self, options):
        self._path = options.get("path", "")
        self._gz = options.get("compression", "gzip") != "none"

    def write(self, iterator) -> _StagedFiles:
        from pyspark import TaskContext

        tc = TaskContext.get()
        tag = f"part-{tc.partitionId() if tc else 0}"
        return _write_day_files(self._path, tag, iterator, self._gz)

    def commit(self, messages, batchId: int) -> None:
        renamed = []
        staged_names = set()
        for m in messages:
            if m is None:
                continue
            staged_names.update(staged for staged, _ in m.pairs)
            renamed.append(
                _StagedFiles(
                    [
                        (staged, final.replace(".part-", f".b{batchId}-part-"))
                        for staged, final in m.pairs
                    ]
                )
            )
        # True REPLACE semantics for the epoch: a replay after recovery
        # may repartition differently, so renaming alone could leave the
        # pre-crash commit's files with other part ids alongside the new
        # set (duplicate rows). Drop every visible file of THIS epoch
        # first, then publish the new set. Also sweep dotfiles that are
        # not part of this commit — orphans of aborted attempts (the
        # stream runs one epoch at a time, so any other dotfile is dead).
        if os.path.isdir(self._path):
            marker = f".b{batchId}-part-"
            for name in os.listdir(self._path):
                full = os.path.join(self._path, name)
                stale_epoch_file = marker in name and not name.startswith(".")
                orphan_dotfile = (
                    name.startswith(".stash-access-") and name not in staged_names
                )
                if stale_epoch_file or orphan_dotfile:
                    try:
                        os.remove(full)
                    except FileNotFoundError:
                        pass
        _commit_staged(self._path, renamed, overwrite=False)

    def abort(self, messages, batchId: int) -> None:
        _abort_staged(self._path, messages)


class StashLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "stashlog"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> StashLogBatchReader:
        return StashLogBatchReader(self.options)

    def simpleStreamReader(self, schema) -> StashLogStreamReader:
        return StashLogStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> StashLogBatchWriter:
        return StashLogBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> StashLogStreamWriter:
        return StashLogStreamWriter(self.options)
