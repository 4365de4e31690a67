"""Structured Streaming variant of the pipeline (SURVEY.md §3.8 T2/T3).

The reference is strictly batch; this is the optional streaming twin:
the same decode/grok (mapInArrow and every Catalyst expression work
unchanged under Structured Streaming) feeding watermarked tumbling-
window aggregates. Kept small — the north rule doesn't gate on it —
but each piece is tested for batch/stream agreement:

* :func:`streaming_git_operations` — 1-hour tumbling windows on ``ts``
  with a watermark: the streaming twin of analyses A5.
* :func:`streaming_protocol_counts` — running protocol totals (A4).
* :func:`streaming_sessionize` — ``session_window`` 30-min gap
  sessions: the native streaming twin of the batch lag+prefix-sum
  sessionization in __spark_entry__._q_events_sessionize.

At scale the source is Kafka / an Iceberg CDC stream; here the file
source replays the same parquet corpus so tests can assert the
streaming results equal the batch results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.parse import CORPUS_SCHEMA, parse_corpus

# Routed sinks whose per-day rows are NOT mergeable partials: the
# concurrency gauge (a running count — per-batch maxima under-count when
# a day splits) and the pairing summary (in|out partials don't pair
# across batches). streaming_ingest recomputes these over whole days.
ORDER_SENSITIVE_SINKS = {"concurrency_by_hour", "pairing_daily"}

def stream_corpus(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a tokenized-corpus parquet directory."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def streaming_git_operations(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Per-hour git-op counts over a tokenized log stream (A5 twin).

    Watermark bounds state: windows older than max(ts) − watermark are
    finalized and their state dropped — the knob that keeps a forever-
    running job at bounded memory.
    """
    parsed = parse_corpus(stream)
    ops = parsed.filter(F.col("is_parsed") & F.col("op_type").isNotNull())
    return (
        ops.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "op_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("cache_hit").cast("long")).alias("hits"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour"),
            "op_type",
            "n",
            "hits",
        )
    )


def streaming_protocol_counts(stream: DataFrame) -> DataFrame:
    parsed = parse_corpus(stream)
    return (
        parsed.filter(F.col("is_parsed"))
        .groupBy("protocol")
        .agg(F.count("*").alias("n"))
    )


def streaming_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows over an event stream: one row per
    (user, session) with its span and event count."""
    # watermarks require TIMESTAMP (with local tz); parquet event tables
    # often carry TIMESTAMP_NTZ — session tz is UTC, so the cast is exact.
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete"):
    """Drain an availableNow stream into an in-memory table; returns the
    query after completion (used by tests and demos)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_pair_requests(
    parsed_stream: DataFrame,
    unmatched_after_ms: int = 3_600_000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator (SURVEY.md §3.8 T3): pair ``i``/``o``
    events ACROSS micro-batches with per-key state.

    State is keyed on (day, req_counter) — the reference pairs in stream
    order within one process (Analyser.hs:~60 [K]); under unbounded
    streaming the pair may straddle micro-batches, so the incoming
    timestamp parks in GroupState until the response arrives. Matched
    pairs emit (ts_in, ts_out, latency_ms, op_type, username); state is
    dropped on match. Keys idle past ``unmatched_after_ms`` of EVENT
    time (watermark-driven) emit an unmatched record with null ts_out
    and clear state — bounded state forever.

    NB two build quirks found while testing: (1) a raising user
    function wedges the stateful runner protocol instead of failing the
    task — keep this function exception-free; (2) ProcessingTimeTimeout
    hangs under trigger(availableNow) in this Spark build, so the
    event-time timeout (which also replays deterministically) is used.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("day", T.StringType()),
            T.StructField("req_counter", T.LongType()),
            T.StructField("ts_in", T.TimestampType()),
            T.StructField("ts_out", T.TimestampType()),
            T.StructField("latency_ms", T.DoubleType()),
            T.StructField("op_type", T.StringType()),
            T.StructField("username", T.StringType()),
            T.StructField("matched", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ts_in_us", T.LongType()),
            T.StructField("ts_out_us", T.LongType()),
            T.StructField("op_type", T.StringType()),
            T.StructField("username", T.StringType()),
        ]
    )

    def _us(ts) -> int:
        return int(ts.value // 1000) if ts is not None else -1

    def pair(key, pdfs, state: GroupState):
        day, counter = key
        if state.hasTimedOut:
            ts_in_us, ts_out_us, op, user = state.get
            state.remove()
            # keep whichever side arrived: an unmatched OUTGOING must
            # retain its response timestamp (mirrors the batch twin,
            # which reports ts_out for unmatched-outgoing keys)
            ts_in = pd.Timestamp(ts_in_us, unit="us") if ts_in_us >= 0 else None
            ts_out = pd.Timestamp(ts_out_us, unit="us") if ts_out_us >= 0 else None
            yield pd.DataFrame(
                [[day, counter, ts_in, ts_out, None, op, user, False]],
                columns=[f.name for f in out_schema.fields],
            )
            return
        ts_in_us, ts_out_us, op, user = state.get if state.exists else (-1, -1, None, None)
        for pdf in pdfs:
            for row in pdf.itertuples():
                if row.req_dir == "i":
                    ts_in_us = _us(row.ts)
                else:
                    ts_out_us = _us(row.ts)
                    op = row.op_type if row.op_type is not None else op
                    user = row.username if row.username is not None else user
        if ts_in_us >= 0 and ts_out_us >= 0:
            state.remove()
            ts_in = pd.Timestamp(ts_in_us, unit="us")
            ts_out = pd.Timestamp(ts_out_us, unit="us")
            lat = (ts_out_us - ts_in_us) / 1000.0
            yield pd.DataFrame(
                [[day, counter, ts_in, ts_out, lat, op, user, True]],
                columns=[f.name for f in out_schema.fields],
            )
        else:
            state.update((ts_in_us, ts_out_us, op, user))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + int(unmatched_after_ms))

    events = (
        parsed_stream.filter(F.col("is_parsed") & F.col("req_dir").isin("i", "o"))
        .select(
            F.col("day").cast("string").alias("day"),
            "req_counter", "req_dir", "ts", "op_type", "username",
        )
        .withWatermark("ts", watermark)
    )
    return events.groupBy("day", "req_counter").applyInPandasWithState(
        pair,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _interval_join(
    parsed_stream: DataFrame, watermark: str, max_lag: str, how: str
) -> DataFrame:
    """Shared body of the two interval joins: watermarked ``i`` and ``o``
    legs joined on (day, req_counter) with ts_out in [ts_in, ts_in +
    max_lag]; ``how`` is the Spark join type."""
    base = parsed_stream.filter(
        F.col("is_parsed") & F.col("req_dir").isin("i", "o")
    )
    ins = (
        base.filter(F.col("req_dir") == "i")
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("req_counter").alias("rc"),
            F.col("ts").alias("ts_in"),
        )
        .withWatermark("ts_in", watermark)
    )
    outs = (
        base.filter(F.col("req_dir") == "o")
        .select(
            F.col("day").cast("string").alias("day_o"),
            F.col("req_counter").alias("rc_o"),
            F.col("ts").alias("ts_out"),
        )
        .withWatermark("ts_out", watermark)
    )
    return (
        ins.join(
            outs,
            (F.col("day") == F.col("day_o"))
            & (F.col("rc") == F.col("rc_o"))
            & (F.col("ts_out") >= F.col("ts_in"))
            & (F.col("ts_out") <= F.expr(f"ts_in + interval {max_lag}")),
            how,
        )
        .select(
            "day",
            F.col("rc").alias("req_counter"),
            "ts_in",
            "ts_out",
            (F.unix_millis("ts_out") - F.unix_millis("ts_in")).alias("duration_ms"),
        )
    )


def streaming_interval_join(
    parsed_stream: DataFrame,
    watermark: str = "1 hour",
    max_lag: str = "1 hour",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (T3c): the ``i`` leg of
    each request joins its ``o`` leg with the same (day, req_counter)
    key arriving within ``[ts_in, ts_in + max_lag]`` — Spark's native
    stream-stream join, the declarative sibling of the GroupState
    pairing operator above.

    State bound: with both sides watermarked and the join range closed
    on both ends, each side buffers only rows younger than
    watermark + max_lag of event time — the engine drops older join
    state automatically, so a forever-running job holds
    O(arrival_rate × (watermark + lag)) rows, never the full history.
    Compare streaming_pair_requests, which owns its eviction via
    setTimeoutTimestamp; here Catalyst derives it from the watermark +
    range condition.

    Emits one row per matched pair: (day, req_counter, ts_in, ts_out,
    duration_ms). Unmatched legs never emit (inner join semantics);
    duplicate ids on a side would cross-product exactly as the batch
    twin does, keeping the oracle equality honest.
    """
    return _interval_join(parsed_stream, watermark, max_lag, "inner")


def streaming_exact_dedup(docs_stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Stateful streaming EXACT dedup: emit each distinct text once, on
    first arrival, keyed GroupState over md5(text) — the
    training-ingest shape (an unbounded crawl feed where tonight's
    batch must not re-emit documents any earlier batch already kept;
    batch dedup can't express 'first arrival wins across an unbounded
    stream').

    Per key and micro-batch the group's minimum doc_id is computed
    pandas-side; if the key has state (seen in an earlier batch) the
    group emits NOTHING, else it emits (text_hash, doc_id) and marks
    the state. With doc_id-ordered input chunks the kept id equals the
    batch keep-first answer (min doc_id per text), which is the oracle.

    Scale: state is one boolean per distinct text, hash-partitioned by
    the 16-byte key — memory-bounded by the distinct count, not the
    stream length; at 10^12 docs use RocksDB state store and a
    watermark-driven TTL if 'first in the last N days' is the wanted
    semantics. NoTimeout here: the availableNow replay is finite.
    Exception-free by design (a raising user function wedges the
    stateful runner protocol — see streaming_pair_requests)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("text_hash", T.StringType()),
            T.StructField("doc_id", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def keep_first(key, pdfs, state: GroupState):
        mn = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                mn = m if mn is None or m < mn else mn
        if state.exists or mn is None:
            return iter(())
        state.update((True,))
        return iter([pd.DataFrame({"text_hash": [key[0]], "doc_id": [mn]})])

    keyed = docs_stream.select(
        F.md5(F.col(text_col)).alias("text_hash"), F.col("doc_id").cast("long")
    )
    return keyed.groupBy("text_hash").applyInPandasWithState(
        keep_first,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ewma_anomaly(
    events_stream: DataFrame,
    key_col: str = "event_type",
    alpha_num: int = 1,
    alpha_den: int = 4,
    thr_num: int = 1,
    thr_den: int = 2,
) -> DataFrame:
    """EWMA control chart maintained ACROSS micro-batches with keyed
    GroupState (T3): per key the state carries (batch_seq, ewma_e6) of
    the per-batch arrival count; each batch emits one control row —
    the batch's count, the EWMA it was judged against, the updated
    EWMA, and the alarm flag. This is the streaming shape of a volume
    anomaly monitor (traffic drop / spike per event type): the cusum
    twin is per-key BATCH scan, the stream PSI twin re-aggregates
    distributions — this one owns a RECURRENCE whose state must
    survive the micro-batch boundary, which only GroupState expresses.

    All-integer recurrence (the cusum e6 discipline, so the DuckDB
    recursive-CTE oracle is bit-exact):

        first batch:  ewma_e6 = n·10⁶, no alarm
        later:        alarm  ⇔ |n·10⁶ − ewma_e6| · thr_den
                                 > ewma_e6 · thr_num
                      ewma_e6' = (alpha_num·n·10⁶
                                  + (alpha_den−alpha_num)·ewma_e6)
                                 // alpha_den

    Emits (key, batch_seq, n, ewma_before_e6, ewma_after_e6, alarm).

    Scale: state is two longs per key, hash-partitioned; the emitted
    control stream is keys × batches, never row-scale. NoTimeout: the
    availableNow replay is finite; a forever-run wants a processing-
    time timeout emitting n=0 rows for silent keys (documented, not
    needed for the oracle harness). Exception-free by design."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("batch_seq", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("ewma_before_e6", T.LongType()),
            T.StructField("ewma_after_e6", T.LongType()),
            T.StructField("alarm", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("ewma_e6", T.LongType()),
        ]
    )

    def step(key, pdfs, state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        ne6 = n * 1_000_000
        if state.exists:
            seq, prev = state.get
            alarm = abs(ne6 - prev) * thr_den > prev * thr_num
            after = (alpha_num * ne6 + (alpha_den - alpha_num) * prev) // alpha_den
            before = prev
        else:
            seq, before, after, alarm = 0, ne6, ne6, False
        state.update((seq + 1, after))
        return iter(
            [
                pd.DataFrame(
                    {
                        key_col: [key[0]],
                        "batch_seq": [seq + 1],
                        "n": [n],
                        "ewma_before_e6": [before],
                        "ewma_after_e6": [after],
                        "alarm": [alarm],
                    }
                )
            ]
        )

    return events_stream.groupBy(key_col).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming ingest: the pipeline's streaming front door
# ---------------------------------------------------------------------------


def streaming_ingest(
    spark: SparkSession,
    input_dir: str,
    output: str,
    checkpoint: str,
    sinks: dict | None = None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Route a STREAM of tokenized sequences into the same per-analysis
    sinks as plans/routing.run_pipeline, via foreachBatch.

    Each micro-batch runs the batch pipeline's own core: routing's
    ``parse_stage`` builds the stage, which is written as the
    ``parsed_stage`` table under ``batch=<id>/day=<d>`` partitions
    (SinkCatalog.write_batch_partitions), and ``fan_out`` runs every
    sink over column-pruned scans of that table on its own thread and
    scheduler pool. The stage, like every sink, is lineage-committed per
    day with ``run_id = stream-batch-<id>``.

    The additive sinks read the batch's own stage partition and write
    ``batch=<id>/day=<d>`` partials: the same mergeable per-day partials
    as the batch pipeline, so global rollups just also sum over
    ``batch``. The ORDER-SENSITIVE sinks (concurrency gauge, in|out
    pairing) do not merge across batches, so they read every stage row
    of the batch's days, from all batches so far, and overwrite whole
    flat ``day=<d>`` partitions (SinkCatalog.write_partitions): a day
    that spans micro-batches is recomputed by each batch that touches
    it and is exact after the last one. The raw frame a sink gets is
    the batch's own input rows.

    A replayed batch (crash after data write, before the checkpoint
    commit) overwrites exactly the partitions it wrote before, giving
    exactly-once sink contents without a transactional store.

    An output root that run_pipeline wrote first is refused with a
    ValueError before the stream starts.

    Runs with trigger(availableNow) and blocks until the backlog is
    drained; returns {"batches": n, "rows": total,
    "lineage_compaction": {...}}, ``rows`` summed from the stage's
    parquet footers.
    """
    from ..plans.routing import SINKS, fan_out, parse_stage
    from ..sources.catalog import SinkCatalog

    sinks = sinks or SINKS
    catalog = SinkCatalog(spark, output)
    catalog.check_stream_layout("parsed_stage")
    progress = {"batches": 0, "rows": 0}

    def handle(raw_batch: DataFrame, batch_id: int) -> None:
        run_id = f"stream-batch-{batch_id}"
        catalog.write_batch_partitions(parse_stage(raw_batch), "parsed_stage", batch_id)
        stage_rows = catalog.day_rows("parsed_stage", batch_id=batch_id)
        days = sorted(stage_rows)
        if days:
            # partition inference reads ``day=YYYY-MM-DD`` back as a
            # date; the cast gives the sinks parse_stage's string day
            stage = catalog.read("parsed_stage").withColumn(
                "day", F.col("day").cast("string")
            )
            own = stage.filter(F.col("batch") == batch_id).drop("batch")
            whole_days = stage.filter(F.col("day").isin(days)).drop("batch")

            def _write(name, fn):
                if name in ORDER_SENSITIVE_SINKS:
                    catalog.write_partitions(fn(whole_days, raw_batch), name, days=days)
                    return catalog.day_rows(name, days)
                catalog.write_batch_partitions(fn(own, raw_batch), name, batch_id)
                return catalog.day_rows(name, batch_id=batch_id)

            per_sink = dict(zip(sinks, fan_out(spark, sinks, _write)))
            per_sink["parsed_stage"] = stage_rows
            catalog.commit(
                [
                    (name, d, n)
                    for name, per_day in per_sink.items()
                    for d, n in sorted(per_day.items())
                ],
                run_id,
            )
        progress["batches"] += 1
        progress["rows"] += sum(stage_rows.values())

    stream = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        stream.parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # same steady-state commit-log maintenance as the batch pipeline —
    # a long-lived stream appends lineage every batch
    if not catalog.use_iceberg:
        progress["lineage_compaction"] = catalog.compact_lineage(max_files=512)
    return progress


def streaming_native_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 days",
) -> DataFrame:
    """Built-in streaming dedup twin of streaming_exact_dedup:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key
    and suppresses re-arrivals for as long as the key stays inside the
    watermark horizon — state is BOUNDED by the watermark (the whole
    point of the native operator vs a grow-forever GroupState). With a
    horizon longer than the replayed range it degenerates to exact
    global keep-first, which is what the oracle checks; in production
    the horizon is the dedup SLA ("suppress re-crawls within 10
    days")."""
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_enrich_by_project(
    stream: DataFrame,
    repo_project: DataFrame | None = None,
    ip_datacenter: DataFrame | None = None,
) -> DataFrame:
    """Stream–static enrichment (the J3/J4 joins on a live stream):
    each micro-batch of the tokenized log stream left-joins the STATIC
    repo→project and IP-/24→datacenter dimensions — Structured
    Streaming plans a stream-static join as a per-batch broadcast hash
    join, so the streaming side never shuffles and no join state
    accumulates (unlike stream-stream joins, nothing must be
    watermarked: the static side is complete by definition). Output is
    the running (project, datacenter) op census — the streaming twin of
    the batch log_enrich_project query, byte-identical once the replay
    drains."""
    from stash_log_parser_spark.operators.enrich import enrich

    parsed = parse_corpus(stream)
    e = enrich(parsed, repo_project, ip_datacenter).filter(
        F.col("op_type").isNotNull()
    )
    return e.groupBy("project_key", "datacenter").agg(
        F.count("*").alias("n_ops")
    )


def streaming_scd2_enrich(events_stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream–static SCD2 AS-OF enrichment: each streamed event picks
    the dimension version ACTIVE AT ITS EVENT TIME — the "campaign /
    price / config as of the click" join every telemetry pipeline
    needs, expressed as a per-batch stream-static join whose predicate
    is the validity-interval containment ``valid_from <= ts <
    valid_to`` (valid_to NULL = current). SCD2 intervals are disjoint
    per key, so containment matches AT MOST ONE version — no argmax
    pass, and no stream-stream state: the static side is re-planned
    (and broadcast when dimension-sized) every micro-batch, nothing is
    watermarked.

    Events before a key's first version keep a NULL state (LEFT join)
    — dropped-row enrichment is a silent-bias bug this surfaces as an
    explicit NULL group. Output: running (event_type, active_state)
    census in complete mode; drained over availableNow it must equal
    the batch as-of SQL exactly (the driver oracle).
    """
    e = events_stream.alias("e")
    d = dim.select("user_id", "state", "valid_from", "valid_to").alias("d")
    joined = e.join(
        d,
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.col("e.ts") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("e.ts") < F.col("d.valid_to"))),
        "left",
    )
    return joined.groupBy(
        F.col("e.event_type").alias("event_type"),
        F.col("d.state").alias("active_state"),
    ).agg(F.count("*").alias("n_events"))


def streaming_outer_interval_join(
    parsed_stream: DataFrame,
    watermark: str = "10 seconds",
    max_lag: str = "10 seconds",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the
    emission semantics the inner form (streaming_interval_join) cannot
    show: an ``i`` leg with no ``o`` leg inside ``[ts_in,
    ts_in + max_lag]`` is held in state and emitted NULL-padded only
    when the global watermark passes its join window (i.e. the engine
    can prove no future match exists).  Three row classes result:

    * matched — emitted in the data batch, like the inner join;
    * provably unmatched — emitted null-padded by the eviction pass
      (availableNow's terminal no-data batch) once
      ts_in + max_lag < final watermark;
    * never emitted — unmatched rows inside the last
      (watermark + max_lag) of event time, whose state outlives the
      availableNow run.  A forever-running job emits them later; a
      drained run does not — the oracle must model this loss mode
      explicitly (same honesty discipline as events_stream_late_drop /
      events_stream_window_final).

    State bound: identical to the inner form — both sides watermarked,
    range closed on both ends, so state is
    O(arrival_rate × (watermark + max_lag)).
    """
    return _interval_join(parsed_stream, watermark, max_lag, "leftOuter")
