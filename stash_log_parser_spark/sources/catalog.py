"""Storage seam: per-analysis sinks + lineage, Iceberg or plain parquet.

In production the pipeline writes Iceberg tables
(``df.writeTo(tbl).overwritePartitions()`` — atomic per-partition
replace). This sandbox has no Iceberg jar (SURVEY.md §8.4), so the seam
falls back to partitioned parquet with
``partitionOverwriteMode=dynamic``, which gives the same idempotent
overwrite-one-day semantics. Both backends share the lineage protocol:

* every committed (sink, day) partition appends one row to the
  ``_lineage`` table: (sink, day, rows, run_id, committed_at_order);
* a restart consults ``_lineage`` and skips already-committed
  (sink, day) pairs — a partial crash (sink written, lineage not)
  simply rewrites that partition, which is safe because writes are
  whole-partition overwrites (SURVEY.md §3.1 S4, BASELINE.json:14).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reserved batch id for batch-pipeline writes into a sink that already
# carries the streaming batch=<id>/day=<d> layout (see write_partitions)
BACKFILL_BATCH_ID = -1

LINEAGE_SCHEMA = "sink string, day string, rows long, run_id string, seq long"

# the footer key under which Spark's parquet writer stores the row schema
# of the data columns (partition columns live in the paths)
SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(path: str):
    """The data files of a parquet read of ``path``, in a sorted walk:
    ``path`` itself when it is a file, else every file under it except
    ``_``/``.``-prefixed files and directories (``_SUCCESS``, ``.crc``,
    compaction staging), which Spark's listing skips too. Yields
    nothing when ``path`` is not a local path."""
    if os.path.isfile(path):
        yield path
        return
    if not os.path.isdir(path):
        return
    for entry in sorted(os.scandir(path), key=lambda e: e.name):
        if entry.name.startswith(("_", ".")):
            continue
        if entry.is_file():
            yield entry.path
        else:
            yield from data_files(entry.path)


def first_data_file(path: str) -> str | None:
    """The first of :func:`data_files`, or None."""
    return next(data_files(path), None)


class SinkCatalog:
    """Catalog of per-analysis sinks rooted at ``base`` (dir or Iceberg ns)."""

    def __init__(self, spark: SparkSession, base: str, use_iceberg: bool | None = None):
        self.spark = spark
        self.base = base.rstrip("/")
        if use_iceberg is None:
            # Iceberg only when an Iceberg catalog is configured: any
            # other catalog (JDBC, Hive, ...) keeps the parquet backend.
            prefix = "spark.sql.catalog."
            use_iceberg = any(
                k.startswith(prefix)
                and "." not in k[len(prefix):]  # the class, not an option
                and v.startswith("org.apache.iceberg.")
                for k, v in spark.sparkContext.getConf().getAll()
            )
        self.use_iceberg = use_iceberg
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- sink I/O -----------------------------------------------------------

    def _path(self, sink: str) -> str:
        return f"{self.base}/{sink}"

    def _has_layout(self, sink: str, prefix: str) -> bool:
        """True when a sink has a top-level ``<prefix>`` partition dir:
        ``batch=`` for streaming_ingest's ``batch=<id>/day=<d>`` layout,
        ``day=`` for run_pipeline's flat one."""
        p = self._path(sink)
        return (
            not self.use_iceberg
            and os.path.isdir(p)
            and any(n.startswith(prefix) for n in os.listdir(p))
        )

    def check_stream_layout(self, sink: str) -> None:
        """Raise ValueError when ``sink`` has run_pipeline's flat layout: a
        stream's ``batch=`` dirs next to it would make every read fail
        with CONFLICTING_PARTITION_COLUMN_NAMES."""
        if self._has_layout(sink, "day="):
            raise ValueError(
                f"{self.base}: {sink} holds flat day= partitions written by "
                "the batch pipeline; a stream cannot write batch= "
                "partitions next to them. Stream into a fresh output root."
            )

    def write_partitions(
        self,
        df: DataFrame,
        sink: str,
        partition_col: str = "day",
        days: list | None = None,
    ) -> None:
        """Overwrite exactly the day-partitions present in ``df``.

        If the sink was previously written by streaming_ingest it is
        partitioned ``batch=<id>/day=<d>``; writing a flat ``day=`` dir
        next to those would leave parquet files at two partition depths
        and the next read would fail with conflicting directory
        structures (hit when a batch run writes new days into an output
        the stream wrote). Such sinks are written under the reserved
        ``batch=-1`` partition instead, and any stale ``batch=N/day=D``
        leftovers for the days being written are dropped so the
        overwrite stays whole-day idempotent. When the caller does not
        name the ``days`` they are derived from ``df`` (one distinct
        over the partition column — day-count-sized); skipping the drop
        would leave the old rows alongside the new ones and every later
        read would silently double-count those days."""
        if self.use_iceberg:
            df.writeTo(f"{self.base}.{sink}").overwritePartitions()
            return
        if self._has_layout(sink, "batch="):
            if days is None:
                days = [r[0] for r in df.select(partition_col).distinct().collect()]
            self.write_batch_partitions(df, sink, BACKFILL_BATCH_ID, partition_col)
            if days:
                import shutil

                root = self._path(sink)
                for bdir in os.listdir(root):
                    if bdir.startswith("batch=") and bdir != f"batch={BACKFILL_BATCH_ID}":
                        for d in days:
                            shutil.rmtree(
                                os.path.join(root, bdir, f"{partition_col}={d}"),
                                ignore_errors=True,
                            )
            return
        (
            df.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(self._path(sink))
        )

    def write_batch_partitions(
        self, df: DataFrame, sink: str, batch_id: int, partition_col: str = "day"
    ) -> None:
        """Streaming-ingest write: overwrite exactly the (batch, day)
        partitions present in ``df``. Namespacing every micro-batch's
        output under its own ``batch=<id>`` partition makes a foreachBatch
        REPLAY (failure after data write, before checkpoint commit)
        idempotent — the replayed batch overwrites only its own
        partitions — without needing a transactional sink. Readers merge
        partials across batches exactly like the batch pipeline's
        mergeable daily partials."""
        out = df.withColumn("batch", F.lit(int(batch_id)))
        if self.use_iceberg:
            out.writeTo(f"{self.base}.{sink}").overwritePartitions()
        else:
            (
                out.write.mode("overwrite")
                .partitionBy("batch", partition_col)
                .parquet(self._path(sink))
            )

    def compact_partitions(
        self,
        sink: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_col: str = "day",
    ) -> dict:
        """Small-file compaction — the steady-state maintenance op of a
        10^12-row ingest table: day partitions accumulated from many
        incremental/streaming commits are rewritten into ~target-size
        files. Selection is driver-side FS metadata only; each selected
        day is rewritten via the same whole-partition dynamic overwrite
        as normal writes (idempotent — a crash mid-compaction leaves
        either the old or the new file set, both complete). Row
        contents, lineage, and uncompacted days are untouched. Under
        Iceberg this is `rewrite_data_files`; this is the parquet-seam
        equivalent. Returns {day: (files_before, files_after)}."""
        import math
        import shutil

        if self.use_iceberg:
            raise NotImplementedError(
                "Iceberg backend: use CALL catalog.system.rewrite_data_files "
                f"('{self.base}.{sink}') — the snapshot-atomic form of this op."
            )
        path = self._path(sink)
        self.recover_compactions(sink)
        todo: dict[str, tuple[list[str], int]] = {}
        for name in os.listdir(path):
            if not name.startswith(f"{partition_col}="):
                continue
            day_dir = os.path.join(path, name)
            files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
            total = sum(os.path.getsize(os.path.join(day_dir, f)) for f in files)
            want = max(1, math.ceil(total / max(target_file_bytes, 1)))
            if len(files) > want:
                todo[name.split("=", 1)[1]] = (files, want)
        out = {}
        for day, (old_files, want) in sorted(todo.items()):
            day_dir = os.path.join(path, f"{partition_col}={day}")
            # Spark cannot overwrite a path it is lazily reading, so the
            # compacted files land in a hidden staging dir (dot-prefixed
            # — parquet readers skip it) and are swapped in with two
            # directory RENAMES: old day dir aside, staging into place,
            # then the aside is deleted. Every crash window is repaired
            # by recover_compactions using the staging _SUCCESS marker —
            # readers/re-runs can never see old+new rows coexist (the
            # previous move-files-then-delete form doubled the partition
            # if it crashed between the move and the delete). Under
            # Iceberg rewrite_data_files makes the whole swap one atomic
            # snapshot commit.
            staging = os.path.join(path, f".compact-stage-{partition_col}={day}")
            aside = os.path.join(path, f".compact-aside-{partition_col}={day}")
            (
                self.read(sink)
                .filter(F.col(partition_col).cast("string") == day)
                .repartition(want)
                .drop(partition_col)
                .write.mode("overwrite")
                .parquet(staging)
            )
            n_new = sum(1 for f in os.listdir(staging) if f.endswith(".parquet"))
            os.rename(day_dir, aside)
            os.rename(staging, day_dir)
            shutil.rmtree(aside)
            out[day] = (len(old_files), n_new)
        return out

    def recover_compactions(self, sink: str) -> dict:
        """Repair partially-applied :meth:`compact_partitions` swaps.

        Scans for the generic ``.compact-aside-`` / ``.compact-stage-``
        prefixes and parses the ``<col>=<val>`` suffix from each dir
        name, so a crash during a compaction run with ANY partition
        column is repaired by every subsequent :meth:`read` — not only
        by a maintenance call that happens to pass the same column
        (round-3 advice: the old form took the column as an argument and
        defaulted to ``day``, leaving e.g. an ``hour=``-compacted sink's
        partition invisible until someone guessed the right column).

        Crash windows and their repairs (all idempotent):
        * after the staging write, before the aside rename → live dir
          intact; drop the stale staging;
        * between the two renames (live dir is the ASIDE) → if staging
          completed (``_SUCCESS``), finish the swap; else restore the
          aside;
        * after the swap, before the aside delete → drop the aside.
        Returns {"<col>=<val>": action}."""
        import shutil

        path = self._path(sink)
        if not os.path.isdir(path):
            return {}
        actions: dict[str, str] = {}
        stage_pre = ".compact-stage-"
        aside_pre = ".compact-aside-"
        for name in sorted(os.listdir(path)):
            if not name.startswith(aside_pre) or "=" not in name:
                continue
            part = name[len(aside_pre):]  # "<col>=<val>"
            part_dir = os.path.join(path, part)
            staging = os.path.join(path, stage_pre + part)
            aside = os.path.join(path, name)
            if os.path.isdir(part_dir):
                shutil.rmtree(aside)
                actions[part] = "finished_swap"
            elif os.path.exists(os.path.join(staging, "_SUCCESS")):
                os.rename(staging, part_dir)
                shutil.rmtree(aside)
                actions[part] = "completed_swap"
            else:
                os.rename(aside, part_dir)
                shutil.rmtree(staging, ignore_errors=True)
                actions[part] = "restored_original"
        for name in sorted(os.listdir(path)):
            if name.startswith(stage_pre) and "=" in name:
                part = name[len(stage_pre):]
                if os.path.isdir(os.path.join(path, part)):
                    shutil.rmtree(os.path.join(path, name))
                    actions.setdefault(part, "dropped_stale_staging")
        return actions

    def read(self, sink: str) -> DataFrame:
        """The sink as a DataFrame. The parquet backend reads with the
        row schema Spark's writer left in the footer of the sink's first
        data file, read on the driver: no schema-inference job, and the
        same schema inference would give, since that footer is all it
        reads. The partition columns (``day``, ``batch``) are not in
        that schema, so Spark still infers them from the paths (``day``
        as a date). A sink whose footer has no Spark schema (the
        pyarrow-written ``_lineage``) or that has no data file is read
        with inference, which keeps Spark's error for an empty sink."""
        if self.use_iceberg:
            return self.spark.read.table(f"{self.base}.{sink}")
        # a compaction crash between its two renames leaves the day
        # only in a dot-prefixed aside dir parquet listings skip —
        # repair BEFORE every read, not only on the next maintenance
        # run (round-3 review; one listdir when nothing is pending)
        self.recover_compactions(sink)
        path = self._path(sink)
        first = first_data_file(path)
        if first is not None:
            import pyarrow.parquet as pq

            row_schema = (pq.read_schema(first).metadata or {}).get(SPARK_ROW_SCHEMA_KEY)
            if row_schema is not None:
                schema = T.StructType.fromJson(json.loads(row_schema))
                return self.spark.read.schema(schema).parquet(path)
        return self.spark.read.parquet(path)

    def day_rows(
        self, sink: str, days: list | None = None, batch_id: int | None = None
    ) -> dict[str, int]:
        """{day: rows} of a sink's written day partitions — the lineage
        row counts. The parquet backend sums ``num_rows`` from the
        footers of the files a Spark read would list under ``day=D/``
        and ``batch=*/day=D/`` (only ``batch=<batch_id>/`` when given),
        on the driver: no Spark job, and the count is what the files
        hold, not what a write job observed (a retried task would count
        twice). ``days`` limits the result to those days and gives a day
        without files an explicit 0; without it every written day is
        listed. The Iceberg backend counts with a Spark aggregate."""
        if self.use_iceberg:
            df = self.spark.read.table(f"{self.base}.{sink}")
            if batch_id is not None:
                df = df.filter(F.col("batch") == batch_id)
            if days is not None:
                df = df.filter(F.col("day").isin(days))
            got = {
                r["day"]: r["count"]
                for r in df.groupBy(F.col("day").cast("string").alias("day")).count().collect()
            }
            return got if days is None else {d: got.get(d, 0) for d in days}
        import pyarrow.parquet as pq

        # same repair a read runs first: a compaction crash can leave a
        # day only in a dot-prefixed aside dir that listings skip
        self.recover_compactions(sink)
        root = self._path(sink)
        if batch_id is not None:
            parents = [os.path.join(root, f"batch={batch_id}")]
        elif os.path.isdir(root):
            parents = [root] + [e.path for e in os.scandir(root) if e.name.startswith("batch=")]
        else:
            parents = []
        counts: dict[str, int] = {} if days is None else dict.fromkeys(days, 0)
        for parent in parents:
            if not os.path.isdir(parent):
                continue
            for part in os.scandir(parent):
                day = part.name[len("day="):]
                if not part.name.startswith("day=") or (days is not None and day not in counts):
                    continue
                counts[day] = counts.get(day, 0) + sum(
                    pq.read_metadata(f.path).num_rows
                    for f in os.scandir(part.path)
                    # Spark's file listing skips _SUCCESS and .crc files
                    if f.is_file() and not f.name.startswith(("_", "."))
                )
        return counts

    def exists(self, sink: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(f"{self.base}.{sink}")
        p = self._path(sink)
        return os.path.isdir(p) and any(
            n.startswith(("day=", "_SUCCESS", "part-")) for n in os.listdir(p)
        )

    # -- lineage ------------------------------------------------------------
    #
    # The lineage is a tiny driver-side commit log (a handful of rows per
    # run). Writing it through a Spark job costs a full job-scheduling
    # round-trip per sink (~4s measured locally), so the parquet backend
    # appends it with pyarrow directly on the driver; the Iceberg backend
    # appends to a catalog table (one metadata commit). Readers can still
    # load it as a normal parquet directory (``read("_lineage")``).

    def committed(self) -> set[tuple[str, str]]:
        """(sink, day) pairs already committed by previous runs."""
        if self.use_iceberg:
            tbl = f"{self.base}._lineage"
            if not self.spark.catalog.tableExists(tbl):
                return set()
            recs = self.spark.read.table(tbl).select("sink", "day").distinct().collect()
            return {(r.sink, r.day) for r in recs}
        path = self._path("_lineage")
        if not os.path.isdir(path):
            return set()
        import pyarrow.dataset as ds

        t = ds.dataset(path, format="parquet").to_table(columns=["sink", "day"])
        return set(zip(t.column("sink").to_pylist(), t.column("day").to_pylist()))

    def commit(self, entries: list[tuple[str, str, int]], run_id: str) -> None:
        """Append lineage rows for freshly written (sink, day, rows)."""
        if not entries:
            return
        if self.use_iceberg:
            data = [(s, d, n, run_id, i) for i, (s, d, n) in enumerate(entries)]
            df = self.spark.createDataFrame(data, LINEAGE_SCHEMA)
            df.writeTo(f"{self.base}._lineage").append()
            return
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self._path("_lineage")
        os.makedirs(path, exist_ok=True)
        table = pa.table(
            {
                "sink": [s for s, _, _ in entries],
                "day": [d for _, d, _ in entries],
                "rows": pa.array([int(n) for _, _, n in entries], type=pa.int64()),
                "run_id": [run_id] * len(entries),
                "seq": pa.array(range(len(entries)), type=pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(path, f"commit-{run_id}-{uuid.uuid4().hex}.parquet"))

    def compact_lineage(self, max_files: int = 64) -> dict:
        """Fold the lineage commit log into one file once it exceeds
        ``max_files`` — the append-per-commit protocol otherwise leaves
        ``committed()`` reading thousands of tiny files after thousands
        of incremental runs (round-2 review item). Driver-side pyarrow,
        like the appends. Crash-safe by keying, not ordering: the new
        file is written BEFORE the old ones are deleted, and rows are
        deduplicated on the full (sink, day, rows, run_id, seq) commit
        key — a crash between write and delete leaves exact-duplicate
        rows that the next compaction (or any reader: ``committed()``
        is a set) collapses again. Under Iceberg the lineage is a
        catalog table and this is its rewrite_data_files."""
        if self.use_iceberg:
            raise NotImplementedError(
                "Iceberg backend: CALL catalog.system.rewrite_data_files "
                f"('{self.base}._lineage')"
            )
        import uuid

        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        path = self._path("_lineage")
        if not os.path.isdir(path):
            return {"files_before": 0, "files_after": 0}
        old = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if len(old) <= max_files:
            return {"files_before": len(old), "files_after": len(old)}
        t = (
            ds.dataset([os.path.join(path, f) for f in old], format="parquet")
            .to_table()
            .group_by(["sink", "day", "rows", "run_id", "seq"])
            .aggregate([])
        )
        pq.write_table(
            t, os.path.join(path, f"commit-compact-{uuid.uuid4().hex}.parquet")
        )
        for f in old:
            try:
                os.remove(os.path.join(path, f))
            except FileNotFoundError:
                pass  # a concurrent compaction (two runs sharing the
                # output both crossing the threshold) already removed
                # it; the commit-key dedup makes the overlap harmless
        return {"files_before": len(old), "files_after": 1, "rows": t.num_rows}
