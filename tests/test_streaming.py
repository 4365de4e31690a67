"""Streaming/batch agreement: the Structured Streaming twins produce
exactly the batch answers when replaying the same corpus."""

import pytest
from pyspark.sql import functions as F

from stash_log_parser_spark import corpus
from stash_log_parser_spark.functions.parse import parse_corpus
from stash_log_parser_spark.streaming.stream import (
    run_to_memory,
    stream_corpus,
    streaming_git_operations,
    streaming_protocol_counts,
    streaming_sessionize,
)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("streamcorpus")
    p = str(d / "part1.parquet")
    corpus.write_corpus(p, n_requests_per_day=300, n_days=2, seed=21)
    # re-shard into several files so maxFilesPerTrigger yields >1 microbatch
    df = spark.read.parquet(p).select("doc_id", "tokens", "n_tok", "source")
    out = str(d / "sharded")
    df.repartition(6).write.mode("overwrite").parquet(out)
    return out


def test_streaming_git_operations_equals_batch(spark, corpus_dir):
    stream = stream_corpus(spark, corpus_dir)
    run_to_memory(streaming_git_operations(stream), "sgo")
    got = {
        (r.hour, r.op_type): (r.n, r.hits)
        for r in spark.sql("select * from sgo").collect()
    }
    batch = parse_corpus(spark.read.parquet(corpus_dir)).filter(
        F.col("is_parsed") & F.col("op_type").isNotNull()
    )
    want = {
        (r.hour, r.op_type): (r.n, r.hits)
        for r in batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
            "op_type",
        )
        .agg(F.count("*").alias("n"), F.sum(F.col("cache_hit").cast("long")).alias("hits"))
        .collect()
    }
    assert got == want and len(got) > 10


def test_streaming_protocol_counts_equals_batch(spark, corpus_dir):
    stream = stream_corpus(spark, corpus_dir)
    run_to_memory(streaming_protocol_counts(stream), "spc")
    got = {r.protocol: r.n for r in spark.sql("select * from spc").collect()}
    batch = parse_corpus(spark.read.parquet(corpus_dir)).filter("is_parsed")
    want = {r.protocol: r[1] for r in batch.groupBy("protocol").count().collect()}
    assert got == want


def test_streaming_sessionize_matches_batch_session_count(spark):
    """session_window sessions == the batch lag+prefix-sum session count
    (same 30-min gap definition) on the events table."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = "/tmp/slp_stream_events"
    ev.repartition(4).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(d)
    )
    run_to_memory(streaming_sessionize(stream), "ssess")
    got = {
        r.user_id: r.n
        for r in spark.sql(
            "select user_id, count(*) n from ssess group by user_id"
        ).collect()
    }
    import __spark_entry__ as E

    want = {
        r.user_id: r.n_sessions
        for r in E.queries()["events_sessionize"](spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_stateful_pairing_across_microbatches(spark, tmp_path):
    """applyInPandasWithState pairing: pairs that straddle micro-batches
    match exactly the batch pairing result (i events land in file 1,
    their o events partly in file 2; maxFilesPerTrigger=1 forces
    sequential micro-batches)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.operators.analyses import pair_requests
    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_pair_requests,
    )

    p = str(tmp_path / "c.parquet")
    corpus.write_corpus(p, n_requests_per_day=150, n_days=1, seed=31)
    full = spark.read.parquet(p).select("doc_id", "tokens", "n_tok", "source")
    # time-ordered halves → many pairs straddle the file boundary
    rows = full.collect()
    half = len(rows) // 2
    d = str(tmp_path / "stream_in")
    spark.createDataFrame(rows[:half], full.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    spark.createDataFrame(rows[half:], full.schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(full.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = run_to_memory(
        streaming_pair_requests(parse_corpus(stream)), "spairs", output_mode="append"
    )
    assert len(q.recentProgress) >= 2  # really multiple micro-batches
    got = {
        (r.day, r.req_counter): (r.ts_in, r.ts_out, r.latency_ms)
        for r in spark.sql("select * from spairs where matched").collect()
    }
    want = {
        (str(r.day), r.req_counter): (r.ts_in, r.ts_out, r.latency_ms)
        for r in pair_requests(parse_corpus(full))
        .filter("ts_in is not null and ts_out is not null")
        .collect()
    }
    assert got == want and len(got) > 100


def test_streaming_unmatched_outgoing_keeps_ts_out(spark, tmp_path):
    """An outgoing event whose incoming half never arrives must emit,
    on event-time timeout, WITH its response timestamp (round-1 dropped
    ts_out in the timeout branch, diverging from the batch twin)."""
    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_pair_requests,
    )

    day = "2012-09-08"
    src = f"atlassian-stash-access-{day}.0.log"

    def tok(lines):
        rows = [
            (f"{day}-s{i:03d}", list(ln.encode()), len(ln.encode()), src)
            for i, ln in enumerate(lines)
        ]
        return spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string"
        )

    def pair_at(hh, counter):
        return [
            f"10.0.0.5 | ssh | i{hh*60}x{counter}x1 | jdoe | {day} {hh:02d}:00:00,000 | "
            f"git-upload-pack '/CONF/confluence.git' | - | - | - | - |",
            f"10.0.0.5 | ssh | o{hh*60}x{counter}x1 | jdoe | {day} {hh:02d}:00:01,000 | "
            f"git-upload-pack '/CONF/confluence.git' | - | fetch | 1000 | - |",
        ]

    lone_out = (
        f"10.0.0.5 | ssh | o10x77x1 | jdoe | {day} 00:10:00,000 | "
        f"git-upload-pack '/CONF/confluence.git' | - | fetch | 500 | - |"
    )
    d = str(tmp_path / "stream_in")
    tok([lone_out]).coalesce(1).write.mode("overwrite").parquet(d)
    tok(pair_at(3, 88)).coalesce(1).write.mode("append").parquet(d)
    tok(pair_at(6, 99)).coalesce(1).write.mode("append").parquet(d)
    tok(pair_at(9, 111)).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(tok([lone_out]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    run_to_memory(
        streaming_pair_requests(parse_corpus(stream)), "sunmatched", output_mode="append"
    )
    rows = spark.sql(
        "select * from sunmatched where req_counter = 77"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert not r.matched and r.ts_in is None
    assert r.ts_out is not None and r.ts_out.strftime("%H:%M") == "00:10"
    assert r.op_type == "fetch" and r.username == "jdoe"


# ---------------------------------------------------------------------------
# streaming ingest (foreachBatch routed sinks)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def day_aligned_dir(tmp_path_factory, spark):
    """One parquet file per day — the ingest-shard layout both pipelines
    assume for the order-sensitive sinks."""
    d = tmp_path_factory.mktemp("ingestcorpus")
    p = str(d / "gen.parquet")
    corpus.write_corpus(p, n_requests_per_day=250, n_days=3, seed=31)
    df = spark.read.parquet(p).select("doc_id", "tokens", "n_tok", "source")
    out = str(d / "by_day")
    days = [r.d for r in df.select(
        F.regexp_extract("source", r"(\d{4}-\d{2}-\d{2})", 1).alias("d")
    ).distinct().collect()]
    for day in sorted(days):
        (
            df.filter(F.col("source").contains(day))
            .coalesce(1)
            .write.mode("append")
            .parquet(out)
        )
    return out


def _sink_rows(spark, root, name, drop=("batch",)):
    df = spark.read.parquet(f"{root}/{name}")
    for c in drop:
        if c in df.columns:
            df = df.drop(c)
    return sorted(
        tuple(str(v) for v in r) for r in df.select(*sorted(df.columns)).collect()
    )


def test_streaming_ingest_equals_batch_pipeline(spark, day_aligned_dir, tmp_path):
    """foreachBatch ingest (one day per micro-batch) writes exactly the
    batch pipeline's sink rows, for EVERY sink including the
    order-sensitive gauge and pairing."""
    from stash_log_parser_spark.plans.routing import SINKS, run_pipeline
    from stash_log_parser_spark.streaming.stream import streaming_ingest

    sout = str(tmp_path / "stream_sinks")
    prog = streaming_ingest(
        spark, day_aligned_dir, sout, str(tmp_path / "cp"),
        max_files_per_trigger=1,
    )
    assert prog["batches"] == 3 and prog["rows"] > 0
    bout = str(tmp_path / "batch_sinks")
    run_pipeline(spark, day_aligned_dir, bout, run_id="twin")
    for name in SINKS:
        assert _sink_rows(spark, sout, name) == _sink_rows(spark, bout, name), name


def test_batch_and_streaming_sinks_see_one_stage_schema(spark, day_aligned_dir, tmp_path):
    """Both front doors hand every sink the same stage: the column names
    and types a sink receives from run_pipeline and from streaming_ingest
    match, ``day`` included (a string, not the date partition inference
    would make of the read-back stage's directory names)."""
    from stash_log_parser_spark.plans.routing import SINKS, run_pipeline
    from stash_log_parser_spark.streaming.stream import streaming_ingest

    seen = {}

    def recording(tag):
        def sink(stage, raw):
            seen.setdefault(tag, stage.dtypes)
            return SINKS["metrics"](stage, raw)

        return {"metrics": sink}

    run_pipeline(spark, day_aligned_dir, str(tmp_path / "b"), sinks=recording("batch"))
    streaming_ingest(
        spark, day_aligned_dir, str(tmp_path / "s"), str(tmp_path / "cp"),
        sinks=recording("stream"),
    )
    assert seen["batch"] == seen["stream"]
    assert seen["batch"][-1] == ("day", "string")
    assert "file_day" not in dict(seen["batch"])


def test_streaming_ingest_replay_is_idempotent(spark, day_aligned_dir, tmp_path):
    """Crash-replay: drop the last checkpoint commit so restart re-runs
    the final micro-batch — sink contents must not change (per-batch
    partition overwrite, not append)."""
    import os

    from stash_log_parser_spark.plans.routing import SINKS
    from stash_log_parser_spark.streaming.stream import streaming_ingest

    sout = str(tmp_path / "sinks")
    cp = str(tmp_path / "cp")
    streaming_ingest(spark, day_aligned_dir, sout, cp, max_files_per_trigger=1)
    before = {n: _sink_rows(spark, sout, n, drop=()) for n in SINKS}
    commits = sorted(
        f for f in os.listdir(os.path.join(cp, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(cp, "commits", commits[-1]))
    crc = os.path.join(cp, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # local FS keeps a hidden checksum twin
        os.remove(crc)
    prog = streaming_ingest(spark, day_aligned_dir, sout, cp, max_files_per_trigger=1)
    assert prog["batches"] == 1  # exactly the replayed batch
    after = {n: _sink_rows(spark, sout, n, drop=()) for n in SINKS}
    assert after == before  # batch column included: replay overwrote in place


def _file_days(df):
    return sorted(
        r.d
        for r in df.select(
            F.regexp_extract("source", r"(\d{4}-\d{2}-\d{2})", 1).alias("d")
        ).distinct().collect()
    )


def _write_split_days(df, src, split_days):
    """Write ``df`` one parquet file per day in day order, except that
    each of ``split_days`` goes out as two hash halves: with
    maxFilesPerTrigger=1 such a day spans two micro-batches."""
    for day in _file_days(df):
        part = df.filter(F.col("source").contains(day))
        if day not in split_days:
            part.coalesce(1).write.mode("append").parquet(src)
            continue
        for half in (0, 1):
            (
                part.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == half)
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )


def _rollup(spark, root, name):
    """A sink's rows with the per-batch partials of an additive sink
    summed over ``batch`` (a no-op for a flat batch-pipeline sink)."""
    df = spark.read.parquet(f"{root}/{name}")
    if "batch" in df.columns:
        df = df.drop("batch")
    keys = [
        c for c, t in df.dtypes if t == "string" or c in ("day", "hour", "bucket")
    ]
    nums = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(*[F.sum(c).cast("long").alias(c) for c in nums])
    return sorted(
        tuple(str(v) for v in r) for r in agg.select(*sorted(agg.columns)).collect()
    )


def _assert_misaligned_ingest_equals_batch(spark, src, batch_input, tmp_path, n_batches):
    """Stream ``src`` one file per micro-batch and check the whole-day
    rule: every sink equals run_pipeline's over ``batch_input``, the
    order-sensitive ones exactly and as flat ``day=`` partitions; no
    warning; the stage parsed each row once, committed only by
    stream batches; a later batch run into the root has nothing to do."""
    import os
    import warnings as W

    from stash_log_parser_spark.plans.routing import SINKS, run_pipeline
    from stash_log_parser_spark.sources.catalog import SinkCatalog
    from stash_log_parser_spark.streaming.stream import (
        ORDER_SENSITIVE_SINKS,
        streaming_ingest,
    )

    sout = str(tmp_path / "sinks")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        prog = streaming_ingest(
            spark, src, sout, str(tmp_path / "cp"), max_files_per_trigger=1
        )
    assert [str(w.message) for w in caught] == []
    assert prog["batches"] == n_batches

    bout = str(tmp_path / "batch_twin")
    run_pipeline(spark, batch_input, bout, run_id="twin")
    for name in SINKS:
        if name in ORDER_SENSITIVE_SINKS:
            root = os.path.join(sout, name)
            assert all(d.startswith("day=") for d in os.listdir(root)
                       if not d.startswith(("_", "."))), name
            assert _sink_rows(spark, sout, name) == _sink_rows(spark, bout, name), name
        elif name == "request_durations":
            # raw rows: the per-batch partials union directly
            assert _sink_rows(spark, sout, name) == _sink_rows(spark, bout, name), name
        else:
            assert _rollup(spark, sout, name) == _rollup(spark, bout, name), name

    cat = SinkCatalog(spark, sout)
    lineage = cat.read("_lineage").filter(F.col("sink") == "parsed_stage")
    runs = {r.run_id for r in lineage.select("run_id").distinct().collect()}
    assert runs and all(r.startswith("stream-batch-") for r in runs), runs
    n_input = spark.read.parquet(src).count()
    assert sum(cat.day_rows("parsed_stage").values()) == n_input
    assert prog["rows"] == n_input

    s = run_pipeline(spark, src, sout, run_id="after")
    assert s["days_parsed"] == 0
    for name in SINKS:
        assert s["sinks"].get(name, {"days_written": 0})["days_written"] == 0, name


def test_streaming_ingest_recomputes_days_split_over_every_batch(
    spark, day_aligned_dir, tmp_path
):
    """Misaligned layout: every day is split over two single-file
    micro-batches. The second batch of each day recomputes the
    order-sensitive sinks over the whole day, so every sink ends equal
    to the batch pipeline's."""
    src = str(tmp_path / "misaligned")
    df = spark.read.parquet(day_aligned_dir)
    days = _file_days(df)
    _write_split_days(df, src, split_days=set(days))
    _assert_misaligned_ingest_equals_batch(
        spark, src, day_aligned_dir, tmp_path, n_batches=2 * len(days)
    )


def test_streaming_ingest_recomputes_one_split_day(spark, day_aligned_dir, tmp_path):
    """Partial mix: ONE day spans two micro-batches while the other days
    are batch-aligned; every sink still equals the batch pipeline's."""
    src = str(tmp_path / "partial")
    df = spark.read.parquet(day_aligned_dir)
    days = _file_days(df)
    _write_split_days(df, src, split_days={days[0]})
    _assert_misaligned_ingest_equals_batch(
        spark, src, day_aligned_dir, tmp_path, n_batches=len(days) + 1
    )


def test_streaming_ingest_refuses_a_batch_pipeline_root(spark, tmp_path):
    """A stream into an output root that run_pipeline wrote first fails
    before it starts, naming the root and ``parsed_stage``: its
    ``batch=`` partitions next to the batch run's flat ``day=`` ones
    would leave the root unreadable. The root's files are untouched and
    a later batch run still appends the next day."""
    import hashlib
    import os

    from stash_log_parser_spark.plans.routing import run_pipeline
    from stash_log_parser_spark.streaming.stream import streaming_ingest

    p = str(tmp_path / "gen.parquet")
    corpus.write_corpus(p, n_requests_per_day=100, n_days=2, seed=41)
    df = spark.read.parquet(p).select("doc_id", "tokens", "n_tok", "source")
    first = _file_days(df)[0]
    day0 = str(tmp_path / "day0")
    df.filter(F.col("source").contains(first)).coalesce(1).write.parquet(day0)
    both = str(tmp_path / "both")
    _write_split_days(df, both, split_days=set())
    out = str(tmp_path / "out")
    run_pipeline(spark, day0, out, run_id="day0")

    def listing():
        files = {}
        for d, _, names in os.walk(out):
            for n in names:
                with open(os.path.join(d, n), "rb") as f:
                    files[os.path.relpath(os.path.join(d, n), out)] = (
                        hashlib.sha256(f.read()).hexdigest()
                    )
        return files

    before = listing()
    with pytest.raises(ValueError, match="parsed_stage") as err:
        streaming_ingest(
            spark, both, out, str(tmp_path / "cp"), max_files_per_trigger=1
        )
    assert out in str(err.value)
    assert listing() == before
    s = run_pipeline(spark, both, out, run_id="day1")
    assert s["days_parsed"] == 1


def test_streaming_exact_dedup_suppresses_across_batches(spark, tmp_path):
    """A re-crawled duplicate arriving BATCHES after its original must be
    suppressed by keyed GroupState (in-batch grouping can't see it), and
    an in-batch duplicate keeps the minimum doc_id."""
    import os

    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_exact_dedup,
    )

    d = str(tmp_path / "chunks")
    os.makedirs(d)
    c1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (7, "beta")], "doc_id long, text string"
    )
    c2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "beta")], "doc_id long, text string"
    )
    for i, c in enumerate((c1, c2), 1):
        stage = str(tmp_path / f"stage{i}")
        c.coalesce(1).write.mode("overwrite").parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(d, f"chunk-{i}.parquet")
        os.rename(os.path.join(stage, src), dst)
        os.utime(dst, (1_600_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    run_to_memory(streaming_exact_dedup(stream), "dd_test", output_mode="append")
    got = {r.text_hash: r.doc_id for r in spark.table("dd_test").collect()}
    import hashlib

    h = lambda t: hashlib.md5(t.encode()).hexdigest()
    # alpha kept from batch 1 (10 suppressed), beta kept min(2,7)=2
    # (12 suppressed), gamma first seen in batch 2
    assert got == {h("alpha"): 1, h("beta"): 2, h("gamma"): 11}


def test_interval_join_across_microbatches(spark, tmp_path):
    """Stream-stream interval join: pairs straddling micro-batches still
    match (the engine parks the unmatched leg in join state until the
    watermark passes); a corpus-spanning watermark makes the availableNow
    replay land exactly on the batch interval-join result."""
    from pyspark.sql import functions as F

    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_interval_join,
    )

    p = str(tmp_path / "c.parquet")
    corpus.write_corpus(p, n_requests_per_day=150, n_days=1, seed=33)
    full = spark.read.parquet(p).select("doc_id", "tokens", "n_tok", "source")
    rows = full.collect()
    half = len(rows) // 2
    d = str(tmp_path / "stream_in")
    spark.createDataFrame(rows[:half], full.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    spark.createDataFrame(rows[half:], full.schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(full.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = run_to_memory(
        streaming_interval_join(parse_corpus(stream), watermark="48 hours"),
        "sjoin",
        output_mode="append",
    )
    assert len(q.recentProgress) >= 2
    got = {
        (r.day, r.req_counter): (r.ts_in, r.ts_out, r.duration_ms)
        for r in spark.sql("select * from sjoin").collect()
    }

    parsed = parse_corpus(full).filter(
        F.col("is_parsed") & F.col("req_dir").isin("i", "o")
    )
    ins = parsed.filter("req_dir = 'i'").select(
        F.col("day").cast("string").alias("day"),
        F.col("req_counter").alias("rc"),
        F.col("ts").alias("ts_in"),
    )
    outs = parsed.filter("req_dir = 'o'").select(
        F.col("day").cast("string").alias("day_o"),
        F.col("req_counter").alias("rc_o"),
        F.col("ts").alias("ts_out"),
    )
    want = {
        (r.day, r.rc): (r.ts_in, r.ts_out, r.duration_ms)
        for r in ins.join(
            outs,
            (F.col("day") == F.col("day_o"))
            & (F.col("rc") == F.col("rc_o"))
            & (F.col("ts_out") >= F.col("ts_in"))
            & (F.col("ts_out") <= F.expr("ts_in + interval 1 hour")),
        )
        .select(
            "day", "rc", "ts_in", "ts_out",
            (F.unix_millis("ts_out") - F.unix_millis("ts_in")).alias("duration_ms"),
        )
        .collect()
    }
    assert got == want and len(got) > 100


def test_streaming_enrich_equals_batch(spark, corpus_dir):
    """Stream-static broadcast enrichment drains to exactly the batch
    J3/J4 census."""
    from stash_log_parser_spark.operators.enrich import enrich
    from stash_log_parser_spark.streaming.stream import (
        streaming_enrich_by_project,
    )

    stream = stream_corpus(spark, corpus_dir)
    run_to_memory(streaming_enrich_by_project(stream), "senrich")
    got = {
        (r.project_key, r.datacenter): r.n_ops
        for r in spark.sql("select * from senrich").collect()
    }
    batch = enrich(parse_corpus(spark.read.parquet(corpus_dir))).filter(
        F.col("op_type").isNotNull()
    )
    want = {
        (r.project_key, r.datacenter): r.n_ops
        for r in batch.groupBy("project_key", "datacenter")
        .agg(F.count("*").alias("n_ops"))
        .collect()
    }
    assert got == want and len(want) > 1


def test_streaming_scd2_enrich_asof_semantics(spark, tmp_path):
    """As-of boundary rules: an event AT a version's valid_from joins
    that version (half-open intervals); events before the key's first
    version keep NULL state; the current (open) version matches
    onward events."""
    import datetime as dt
    import os

    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_scd2_enrich,
    )

    def t(h):
        return dt.datetime(2024, 1, 1, h)

    # dim: user 1 is 'A' from 02:00, 'B' from 05:00 (current)
    dim = spark.createDataFrame(
        [
            (1, "A", t(2), t(5)),
            (1, "B", t(5), None),
        ],
        "user_id long, state string, valid_from timestamp_ntz,"
        " valid_to timestamp_ntz",
    )
    events = spark.createDataFrame(
        [
            (1, t(1), 1, "click"),   # before first version -> NULL
            (2, t(2), 1, "click"),   # boundary: joins 'A'
            (3, t(4), 1, "view"),    # inside 'A'
            (4, t(5), 1, "click"),   # boundary: 'B' (half-open)
            (5, t(9), 1, "view"),    # current 'B'
            (6, t(3), 2, "click"),   # unknown user -> NULL
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
    )
    d = os.path.join(tmp_path, "ev")
    events.coalesce(1).write.parquet(d)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string"
        )
        .parquet(d)
    )
    run_to_memory(streaming_scd2_enrich(stream, dim), "scd2_asof_t", "complete")
    got = {
        (r.event_type, r.active_state): r.n_events
        for r in spark.table("scd2_asof_t").collect()
    }
    assert got == {
        ("click", None): 2,
        ("click", "A"): 1,
        ("click", "B"): 1,
        ("view", "A"): 1,
        ("view", "B"): 1,
    }


def test_streaming_psi_equals_batch_psi(spark, tmp_path):
    """The registry's streaming PSI monitor (second half streamed in
    micro-batches, first half static) must equal the batch
    psi_value_drift output exactly — count additivity across batches."""
    import importlib.util
    import os
    import sys

    entry = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    spec = importlib.util.spec_from_file_location("slp_entry_psi_test", entry)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["slp_entry_psi_test"] = mod
    spec.loader.exec_module(mod)

    from stash_log_parser_spark.operators.analyses import psi_value_drift

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in mod._q_events_stream_psi(spark, sf).collect()]
    ev = spark.read.parquet(f"{sf}/events.parquet")
    want = [tuple(r) for r in psi_value_drift(ev).collect()]
    assert got == want and len(got) > 3


def test_outer_interval_join_emits_and_loss_mode(spark, tmp_path):
    """LEFT OUTER stream-stream join semantics, pinned on a handmade
    parsed stream: (1) a matched pair emits with its duration; (2) an
    unmatched in-leg far from the stream end emits NULL-padded once the
    watermark passes its window; (3) an unmatched in-leg inside the
    final watermark+lag horizon is HELD in state and never emits from a
    drained availableNow run — the documented loss mode."""
    import uuid

    from pyspark.sql import functions as F

    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_outer_interval_join,
    )

    def ts(s):
        return f"2012-09-08 10:{s}"

    rows = [
        # matched pair (rc=1): out 3s after in
        ("i", 1, ts("00:00")), ("o", 1, ts("00:03")),
        # unmatched early in-leg (rc=2): must emit null-padded
        ("i", 2, ts("00:10")),
        # out-leg beyond the 10s lag for rc=3: in emits null-padded
        ("i", 3, ts("00:20")), ("o", 3, ts("00:40")),
        # unmatched in-leg near the end (rc=4): inside watermark+lag of
        # the max event time -> state survives the drain, never emits
        ("i", 4, ts("59:55")),
        # watermark driver: the stream's max event time
        ("o", 9, ts("59:59")),
    ]
    df = spark.createDataFrame(
        [(d, rc, t) for d, rc, t in rows],
        "req_dir string, req_counter long, ts_s string",
    ).select(
        F.lit(True).alias("is_parsed"),
        "req_dir",
        "req_counter",
        F.to_timestamp("ts_s").alias("ts"),
        F.to_date(F.to_timestamp("ts_s")).alias("day"),
    )
    d = str(tmp_path / "parsed_stream")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d)
    name = "slp_oj_t_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_outer_interval_join(stream, watermark="10 seconds",
                                      max_lag="10 seconds"),
        name,
        output_mode="append",
    )
    got = {r.req_counter: r for r in spark.table(name).collect()}
    assert got[1].ts_out is not None and got[1].duration_ms == 3000
    assert got[2].ts_out is None and got[2].duration_ms is None
    assert got[3].ts_out is None            # out exists but beyond lag
    assert 4 not in got                     # loss mode: held in state
    assert set(got) == {1, 2, 3}


def test_streaming_ewma_state_crosses_batches(spark, tmp_path):
    """The EWMA judged against in batch k must be the state carried
    from batch k-1 (only GroupState can express that), with the
    all-integer recurrence and the relative alarm rule exact."""
    import datetime as dt
    import os

    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_ewma_anomaly,
    )

    base = dt.datetime(2024, 1, 1)
    mk = lambda n, off: [
        (base + dt.timedelta(seconds=off + i), "view") for i in range(n)
    ]
    # batch counts 8, 8, 20 (spike), 4
    counts = [8, 8, 20, 4]
    d = str(tmp_path / "chunks")
    os.makedirs(d)
    for i, n in enumerate(counts, 1):
        c = spark.createDataFrame(
            mk(n, i * 1000), "ts timestamp, event_type string"
        )
        stage = str(tmp_path / f"stage{i}")
        c.coalesce(1).write.mode("overwrite").parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(d, f"chunk-{i}.parquet")
        os.rename(os.path.join(stage, src), dst)
        os.utime(dst, (1_600_000_000 + i,) * 2)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    run_to_memory(
        streaming_ewma_anomaly(stream), "ewma_test", output_mode="append"
    )
    rows = sorted(spark.table("ewma_test").collect(), key=lambda r: r.batch_seq)
    assert [r.n for r in rows] == counts
    # replicate the integer recurrence (alpha=1/4, thr=1/2)
    ewma, exp = None, []
    for n in counts:
        ne6 = n * 1_000_000
        if ewma is None:
            exp.append((ne6, ne6, False))
            ewma = ne6
        else:
            alarm = abs(ne6 - ewma) * 2 > ewma
            after = (ne6 + 3 * ewma) // 4
            exp.append((ewma, after, alarm))
            ewma = after
    got = [(r.ewma_before_e6, r.ewma_after_e6, r.alarm) for r in rows]
    assert got == exp
    # the spike (20 vs ewma 8) alarms; the recovery (4 vs 11) does too;
    # the steady batch 2 does not
    assert [r.alarm for r in rows] == [False, False, True, True]
