"""Custom Python Data Source ("stashlog"): batch read, gzip decode,
planning-time filter pushdown, streaming replay."""

import datetime
import gzip

import pytest
from pyspark.sql import functions as F

from stash_log_parser_spark import corpus
from stash_log_parser_spark.sources.datasource import (
    StashLogBatchReader,
    StashLogDataSource,
)
from stash_log_parser_spark.sources.logfiles import read_log_files


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dsrawlogs")
    for day_idx in range(3):
        lines = list(corpus.gen_day_lines(day_idx, 120, seed=5, malformed_rate=0.05))
        day = (corpus.EPOCH_DAY0 + datetime.timedelta(days=day_idx)).isoformat()
        name = f"atlassian-stash-access-{day}.0.log"
        if day_idx == 2:
            with gzip.open(d / (name + ".gz"), "wt") as f:
                f.write("\n".join(lines) + "\n")
        else:
            (d / name).write_text("\n".join(lines) + "\n")
    return str(d)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(StashLogDataSource)
    return spark


def test_batch_read_with_gzip_and_stable_ids(registered, log_dir):
    df = registered.read.format("stashlog").option("path", log_dir).load()
    rows = df.collect()
    days = {r.file_day for r in rows}
    assert days == {"2012-09-08", "2012-09-09", "2012-09-10"}  # .gz included
    # one partition per file
    assert df.rdd.getNumPartitions() == 3
    # doc_id = <file>#<lineno>: unique and stable across reads
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    again = registered.read.format("stashlog").option("path", log_dir).load()
    assert sorted(ids) == sorted(r.doc_id for r in again.collect())


def test_file_day_filter_prunes_at_planning_time(registered, log_dir):
    """A file_day predicate must reach pushFilters and shrink the file
    list BEFORE partition planning — observable as partition count."""
    df = (
        registered.read.format("stashlog").option("path", log_dir).load()
        .filter(F.col("file_day") >= "2012-09-09")
    )
    assert {r.file_day for r in df.select("file_day").distinct().collect()} == {
        "2012-09-09",
        "2012-09-10",
    }
    assert df.rdd.getNumPartitions() == 2  # third file never scheduled

    eq = (
        registered.read.format("stashlog").option("path", log_dir).load()
        .filter(F.col("file_day") == "2012-09-08")
    )
    assert eq.rdd.getNumPartitions() == 1


def test_push_filters_unit_semantics(log_dir):
    """Whitebox: absorbed vs yielded-back filters."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, StringContains

    r = StashLogBatchReader({"path": log_dir})
    assert len(r.partitions()) == 3
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("file_day",), "2012-09-09"),
                StringContains(("line",), "ssh"),  # not ours — yielded back
                EqualTo(("source",), "x"),  # not file_day — yielded back
            ]
        )
    )
    assert len(r.partitions()) == 2
    assert len(leftover) == 2


def test_matches_text_source_front_door(registered, log_dir):
    """Same lines per (source, file_day) as the spark.read.text path."""
    ds = registered.read.format("stashlog").option("path", log_dir).load()
    txt = read_log_files(registered, log_dir)
    a = sorted((r.source, r.file_day, r.line) for r in ds.collect())
    b = sorted((r.source, r.file_day, r.line) for r in txt.collect())
    assert a == b


def test_streaming_replays_one_file_per_batch(registered, log_dir):
    """The simple stream reader advances one file per micro-batch
    (availableNow is not supported by the simple-reader protocol, so
    poll a default-trigger query until the replay drains)."""
    import time

    want = registered.read.format("stashlog").option("path", log_dir).load().count()
    stream = registered.readStream.format("stashlog").option("path", log_dir).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("ds_stream")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if registered.sql("select * from ds_stream").count() >= want:
                break
            time.sleep(0.5)
        got = registered.sql("select * from ds_stream").count()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert got == want
    assert len(batches) == 3  # one file per micro-batch


def test_streaming_source_feeds_the_pipeline(registered, log_dir):
    """stashlog streaming source → grok → per-hour git-op counts equals
    the same computation over the batch read: the connector is a real
    pipeline front door, not just a scan."""
    import time

    from pyspark.sql import functions as F

    from stash_log_parser_spark.functions.parse import parse_lines

    def agg(parsed):
        ops = parsed.filter(F.col("is_parsed") & F.col("op_type").isNotNull())
        return ops.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"), "op_type"
        ).agg(F.count("*").alias("n"))

    batch = agg(
        parse_lines(registered.read.format("stashlog").option("path", log_dir).load())
    )
    want = {(r.hour, r.op_type): r.n for r in batch.collect()}

    stream = registered.readStream.format("stashlog").option("path", log_dir).load()
    q = (
        agg(parse_lines(stream))
        .writeStream.format("memory")
        .queryName("ds_pipe")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            got = {
                (r.hour, r.op_type): r.n
                for r in registered.sql("select * from ds_pipe").collect()
            }
            if got == want:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert got == want and len(want) > 10


def test_batch_write_round_trip(registered, log_dir, tmp_path):
    """df.write.format('stashlog') lays down day-sharded .log.gz files
    the reader consumes identically to an original archive."""
    src = registered.read.format("stashlog").option("path", log_dir).load()
    out = str(tmp_path / "sink")
    (
        src.write.format("stashlog")
        .mode("append")
        .option("path", out)
        .save()
    )
    back = registered.read.format("stashlog").option("path", out).load()
    a = sorted(
        (r.line, r.file_day) for r in src.select("line", "file_day").collect()
    )
    b = sorted(
        (r.line, r.file_day) for r in back.select("line", "file_day").collect()
    )
    assert a == b
    # written files carry the day in the basename -> pruning still works
    one_day = (
        registered.read.format("stashlog").option("path", out).load()
        .filter(F.col("file_day") == "2012-09-09")
    )
    assert one_day.select("file_day").distinct().collect()[0][0] == "2012-09-09"
    # no staging dotfiles left behind
    import os

    assert not [f for f in os.listdir(out) if f.startswith(".")]


def test_batch_write_overwrite_clears_sink(registered, log_dir, tmp_path):
    out = str(tmp_path / "sink2")
    src = registered.read.format("stashlog").option("path", log_dir).load()
    one = src.filter(F.col("file_day") == "2012-09-08")
    two = src.filter(F.col("file_day") == "2012-09-09")
    one.write.format("stashlog").mode("append").option("path", out).save()
    two.write.format("stashlog").mode("overwrite").option("path", out).save()
    back = registered.read.format("stashlog").option("path", out).load()
    assert back.select("file_day").distinct().collect()[0][0] == "2012-09-09"
    assert back.count() == two.count()


def test_stream_write_sink_is_idempotent_per_batch(registered, log_dir, tmp_path):
    """writeStream.format('stashlog'): each micro-batch publishes
    batch-qualified files; the sink re-read equals the source."""
    import os
    import time

    out = str(tmp_path / "streamsink")
    ckpt = str(tmp_path / "ckpt")
    want = registered.read.format("stashlog").option("path", log_dir).load().count()
    stream = registered.readStream.format("stashlog").option("path", log_dir).load()
    q = (
        stream.writeStream.format("stashlog")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if (
                os.path.isdir(out)
                and sum(
                    1
                    for _ in registered.read.format("stashlog")
                    .option("path", out)
                    .load()
                    .collect()
                )
                >= want
            ):
                break
            time.sleep(0.5)
    finally:
        q.stop()
    back = registered.read.format("stashlog").option("path", out).load()
    assert back.count() == want
    names = os.listdir(out)
    assert all(".b" in n for n in names)  # batch-qualified, replay-safe


def test_batch_read_empty_dir_returns_empty(registered, tmp_path):
    """An empty (or fully pruned) source plans as a no-op partition —
    zero rows, never read(None) (regression: empty partitions() made
    Spark call read with None)."""
    d = str(tmp_path / "empty")
    import os

    os.makedirs(d)
    df = registered.read.format("stashlog").option("path", d).load()
    assert df.count() == 0
    # pruning everything away must behave the same
    src = registered.read.format("stashlog").option("path", d).load()
    assert src.filter(F.col("file_day") >= "2099-01-01").count() == 0


def test_stream_commit_is_true_epoch_replace_and_sweeps_orphans(tmp_path):
    """A replayed micro-batch may repartition differently: commit must
    REPLACE the epoch's previously published files (not merely add the
    new part ids alongside — duplicate rows), and sweep staged dotfiles
    orphaned by aborted attempts (round-4 advice)."""
    import os

    from stash_log_parser_spark.sources.datasource import (
        StashLogStreamWriter,
        _StagedFiles,
    )

    out = str(tmp_path / "sink")
    os.makedirs(out)

    def put(name, text):
        with open(os.path.join(out, name), "w") as f:
            f.write(text)

    # pre-crash commit of epoch 5 published TWO part files
    put("stash-access-2012-09-08.b5-part-0.log", "old0\n")
    put("stash-access-2012-09-08.b5-part-1.log", "old1\n")
    # another epoch's file must survive
    put("stash-access-2012-09-08.b4-part-0.log", "epoch4\n")
    # an orphaned dotfile from an aborted attempt
    put(".stash-access-2012-09-08.part-9.log", "orphan\n")
    # the replay stages ONE file (different partitioning than pre-crash)
    put(".stash-access-2012-09-08.part-0.log", "new0\n")

    w = StashLogStreamWriter({"path": out, "compression": "none"})
    w.commit(
        [
            _StagedFiles(
                [
                    (
                        ".stash-access-2012-09-08.part-0.log",
                        "stash-access-2012-09-08.part-0.log",
                    )
                ]
            )
        ],
        batchId=5,
    )
    names = sorted(os.listdir(out))
    assert names == [
        "stash-access-2012-09-08.b4-part-0.log",
        "stash-access-2012-09-08.b5-part-0.log",
    ]
    with open(os.path.join(out, "stash-access-2012-09-08.b5-part-0.log")) as f:
        assert f.read() == "new0\n"
