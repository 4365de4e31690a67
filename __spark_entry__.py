"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2/§3.
Every module-level ``_q_<name>`` function is registered as ``<name>``:

* ``log_*`` — the stash-log-parser analyses, run end-to-end on a
  deterministic tokenized access-log corpus committed at
  ``data/log_corpus_small.parquet`` (generated by
  stash_log_parser_spark/corpus.py, seed 42). The matching oracle SQL
  makes DuckDB *independently re-parse the raw log lines* from the same
  parquet (the Spark side reads only the tokenized contract columns and
  decodes via the Arrow UDF; DuckDB uses the convenience ``line``
  column) — so decode, grok, classification, and every aggregate are
  cross-engine verified.
* ``events_*`` / ``tpch_*`` — the same operator shapes (hourly
  conditional aggregates, window prefix scans, percentiles, broadcast
  joins, top-k) over the driver's TPC-H-ish tables.
* ``docs_*`` / ``emb_*`` / ``media_*`` — training-data operators:
  dedup, similarity search, text analysis, multimodal plumbing.

Float policy: any column produced by float arithmetic is either scaled
to integer cents (``floor(x*100 + 0.5)``) or rounded to a fixed number
of decimals IDENTICALLY on both engines, so value-hashes are stable.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

CORPUS = os.path.join(_REPO, "data", "log_corpus_small.parquet")

# ---------------------------------------------------------------------------
# corpus + parsed-frame helpers (Spark side)
# ---------------------------------------------------------------------------


def _ensure_corpus() -> str:
    if not os.path.exists(CORPUS):
        from stash_log_parser_spark.corpus import write_corpus

        write_corpus(CORPUS, n_requests_per_day=2000, n_days=3, seed=42)
    return CORPUS


def _parsed(spark: SparkSession, slim: bool = True) -> DataFrame:
    """Parsed log frame; slim (tokens dropped inside the Arrow stage)
    unless the caller routes raw rows and needs doc_id/tokens."""
    from stash_log_parser_spark.functions.parse import parse_corpus

    return parse_corpus(spark.read.parquet(_ensure_corpus()), slim=slim)


def _docs(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    # spread=True is opt-in per query: it wins where the pre-shuffle
    # per-row compute dominates (shingling, regexes, votes) and loses
    # where the exchange would outweigh it (cheap projections,
    # multi-pass operators that would pay it per pass) — r6 measured
    # both directions at sf1.0, see OPTIMIZATION_r06.md.
    from stash_log_parser_spark.plans.routing import spread_scan

    path = f"{sf_dir}/documents.parquet"
    df = spark.read.parquet(path)
    return spread_scan(df, path, "doc_id") if spread else df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    from stash_log_parser_spark.plans.routing import spread_scan

    path = f"{sf_dir}/embeddings.parquet"
    df = spark.read.parquet(path)
    return spread_scan(df, path, "vec_id") if spread else df


def _cents(col):
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# entry — flagship smoke query on sf0.001
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-hour conditional event-type aggregate (the
    gitOperations shape — A5) over sf0.001 events, enriched with a
    broadcast join against customer (the J3 shape)."""
    sf = "/root/testdata/sf0.001"
    ev = _events(spark, sf)
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    hourly = (
        ev.join(cust, ev.user_id == cust.c_custkey, "left")
        .groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
        .orderBy("hour")
    )
    return hourly


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def _q_log_count_requests(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import count_requests

    return count_requests(_parsed(spark))


def _q_log_protocol_counts(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import protocol_counts

    return protocol_counts(_parsed(spark))


def _q_log_protocol_by_hour(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import protocol_by_hour

    return protocol_by_hour(_parsed(spark))


def _q_log_git_operations(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import git_operations

    return git_operations(_parsed(spark))


def _q_log_repository_stats(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import repository_stats

    return repository_stats(_parsed(spark))


def _q_log_repository_stats_salted(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import repository_stats

    return repository_stats(_parsed(spark), salt_partitions=8)


def _q_log_request_durations(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import request_durations

    return request_durations(_parsed(spark, slim=False), keep_tokens=False).select(
        "doc_id", "op_type", "duration_ms", "username", "client_ip"
    )


def _q_log_duration_percentiles(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import duration_percentiles

    df = duration_percentiles(_parsed(spark))
    return df.select(
        "op_type",
        "n",
        F.round("mean_ms", 4).alias("mean_ms"),
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
        F.round("p95", 4).alias("p95"),
        F.round("p99", 4).alias("p99"),
    )


def _q_log_duration_percentiles_sketch(spark, sf_dir):
    """Percentiles from the MERGEABLE HDR-style histogram (the 10^12-row
    rollup path — see analyses.duration_bucket): integer-exact bucketing
    in both engines, so the sketch itself is value-hash oracled, not
    just bounded."""
    from stash_log_parser_spark.operators.analyses import (
        duration_histogram,
        percentiles_from_histogram,
    )

    return percentiles_from_histogram(duration_histogram(_parsed(spark)))


def _q_log_latency_heatmap(spark, sf_dir):
    """(hour × duration-bucket) counts — the latency-heatmap feed every
    ops dashboard wants, built on the same integer-exact HDR buckets as
    the percentile sketch (so it is value-hash oracled)."""
    from stash_log_parser_spark.operators.analyses import duration_bucket

    p = _parsed(spark)
    ops = p.filter(
        F.col("is_parsed")
        & F.col("op_type").isNotNull()
        & F.col("duration_ms").isNotNull()
    )
    return (
        ops.groupBy(
            F.date_format("hour", "yyyy-MM-dd HH").alias("hour"),
            duration_bucket(F.col("duration_ms")).alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("hour", "bucket")
    )


def _q_log_max_concurrent(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import max_concurrent

    return max_concurrent(_parsed(spark))


def _q_log_concurrency_by_hour(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import concurrency_by_hour

    df = concurrency_by_hour(_parsed(spark))
    return df.select(
        F.date_format("hour", "yyyy-MM-dd HH").alias("hour"), "max_concurrent"
    )


def _q_log_concurrency_by_minute(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import concurrency_by_hour

    df = concurrency_by_hour(_parsed(spark), bucket="minute")
    return df.select(
        F.date_format("minute", "yyyy-MM-dd HH:mm").alias("minute"), "max_concurrent"
    )


def _q_log_pairing_stats(spark, sf_dir):
    from stash_log_parser_spark.operators.analyses import pairing_stats

    return pairing_stats(_parsed(spark))


def _q_log_top_users(spark, sf_dir):
    p = _parsed(spark).filter(F.col("op_type").isNotNull())
    return (
        p.groupBy("username")
        .agg(
            F.count("*").alias("n_ops"),
            F.sum("duration_ms").alias("total_duration_ms"),
        )
        .orderBy(F.desc("n_ops"), F.asc("username"))
        .limit(10)
    )


def _q_log_cache_stats(spark, sf_dir):
    p = _parsed(spark).filter(F.col("op_type").isNotNull())
    return (
        p.groupBy("op_type")
        .agg(
            F.sum(F.col("cache_hit").cast("long")).alias("hits"),
            F.sum((~F.col("cache_hit")).cast("long")).alias("misses"),
        )
        .withColumn(
            "hit_rate",
            F.round(F.col("hits") / (F.col("hits") + F.col("misses")), 4),
        )
        .orderBy("op_type")
    )


def _q_log_git_client_versions(spark, sf_dir):
    """User-agent (git client) distribution of parsed http requests —
    field 7 of the grammar; ssh requests have none."""
    p = _parsed(spark).filter(F.col("is_parsed") & F.col("user_agent").isNotNull())
    return (
        p.groupBy("user_agent")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("user_agent"))
    )


def _q_log_referrer_stats(spark, sf_dir):
    """Referrer distribution (grammar field 7's first quoted string —
    closes round-1 gap #2: only the user-agent half was extracted)."""
    p = _parsed(spark).filter(F.col("is_parsed") & F.col("referrer").isNotNull())
    return (
        p.groupBy("referrer")
        .agg(F.count("*").alias("n"), F.countDistinct("username").alias("n_users"))
        .orderBy(F.desc("n"), F.asc("referrer"))
    )


def _q_log_session_stats(spark, sf_dir):
    """Per-session activity over grammar field 10 (closes round-1 gap
    #3: session_id was parsed but never analyzed): request count and
    wall-clock span of each http session."""
    p = _parsed(spark).filter(F.col("is_parsed") & F.col("session_id").isNotNull())
    return (
        p.groupBy("session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("req_counter").alias("n_requests"),
            F.max("username").alias("username"),
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / F.lit(1000))
            .cast("long")
            .alias("span_ms"),
        )
        .orderBy(F.desc("n_events"), F.asc("session_id"))
        .limit(20)
    )


def _q_events_intersect_except(spark, sf_dir):
    """Relational INTERSECT / EXCEPT (survey O4): users who both clicked
    and purchased, and users who clicked but never purchased."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersect(purchases).withColumn("set_op", F.lit("click_and_purchase"))
    only = clicks.distinct().exceptAll(purchases.distinct()).withColumn(
        "set_op", F.lit("click_no_purchase")
    )
    return both.unionByName(only).orderBy("set_op", "user_id")


def _q_log_unique_users_daily(spark, sf_dir):
    """Exact distinct users per day via the skew-safe two-phase form:
    dedupe (day, username) first (map-side partials apply), then count —
    a plain countDistinct would funnel each day's rows into one reducer."""
    p = _parsed(spark).filter(F.col("is_parsed") & F.col("username").isNotNull())
    dedup = p.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "username").distinct()
    return dedup.groupBy("day").agg(F.count("*").alias("n_users")).orderBy("day")


def _q_log_malformed_by_source(spark, sf_dir):
    p = _parsed(spark)
    return (
        p.groupBy("source")
        .agg(
            F.count("*").alias("total_lines"),
            F.sum((~F.col("is_parsed")).cast("long")).alias("malformed_lines"),
        )
        .orderBy("source")
    )


def _q_log_enrich_project(spark, sf_dir):
    from stash_log_parser_spark.operators.enrich import enrich

    e = enrich(_parsed(spark)).filter(F.col("op_type").isNotNull())
    return (
        e.groupBy("project_key", "datacenter")
        .agg(F.count("*").alias("n_ops"))
        .orderBy("project_key", "datacenter")
    )


def _q_events_hourly_type_counts(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), _cents(F.sum("value")).alias("sum_value_cents"))
        .orderBy("hour", "event_type")
    )


def _q_events_running_max(spark, sf_dir):
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.max("value").over(w).alias("running_max")
    )


def _q_events_percentiles(spark, sf_dir):
    ev = _events(spark, sf_dir)
    pcts = [0.5, 0.9, 0.99]
    agg = F.percentile(F.col("value"), F.array(*[F.lit(p) for p in pcts]))
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), agg.alias("_p"))
        .select(
            "event_type",
            "n",
            F.round(F.get("_p", 0), 4).alias("p50"),
            F.round(F.get("_p", 1), 4).alias("p90"),
            F.round(F.get("_p", 2), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via window lag +
    prefix sum — the batch twin of the streaming session_window."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ in the parquet; go through timestamp_ltz
    # (session tz is UTC) to get epoch seconds, matching DuckDB's epoch().
    epoch = lambda c: c.cast("timestamp_ltz").cast("long")  # noqa: E731
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(
        lag_ts.isNull() | (epoch(F.col("ts")) - epoch(lag_ts) > 1800), 1
    ).otherwise(0)
    return (
        ev.withColumn("_new", new_s)
        .groupBy("user_id")
        .agg(F.sum("_new").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def _q_events_dau_wau(spark, sf_dir):
    """DAU / trailing-7-day WAU per day. Distinct-over-a-sliding-range
    is not a window aggregate in any engine — the standard exact shape
    is (user, day)-distinct (one hash-agg that collapses the event
    stream to at most users×days rows) range-joined to the
    DIMENSION-sized day list (broadcast nested-loop on ~days rows, the
    one place a non-equi join is the right plan), then a count-distinct
    per day."""
    ev = _events(spark, sf_dir).select(
        F.to_date("ts").alias("d"), "user_id"
    )
    ud = ev.distinct()
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count_distinct("user_id").alias("dau"))
    w = (
        days.join(
            ud.select(F.col("d").alias("d2"), "user_id"),
            (F.col("d2") <= F.col("d")) & (F.col("d2") >= F.date_sub("d", 6)),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(w, "d")
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "wau")
        .orderBy("day")
    )


def _q_events_rolling_1h(spark, sf_dir):
    """Per-user 1-hour ROLLING spend: a RANGE window frame over event
    time (not ROWS — peers at the same timestamp aggregate identically
    regardless of physical order, which is what makes the result
    deterministic). Exact µs bounds and cents sums; one user-keyed
    shuffle."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t_us"),
        _cents(F.col("value")).alias("v_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum("v_cents").over(w).alias("roll_cents"),
        F.count("*").over(w).alias("roll_n"),
    ).orderBy("user_id", "event_id")


def _q_events_gap_detection(spark, sf_dir):
    """Per-user inactivity-gap audit: count gaps > 30 min between
    consecutive events and the largest gap — the telemetry-health lag
    window (one user-keyed shuffle, integer epoch-second arithmetic so
    the oracle is exact)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact-µs integers end-to-end: second-granularity casts truncate in
    # Spark but ROUND in a DuckDB double→BIGINT cast — µs avoids the issue
    epoch = lambda c: F.unix_micros(c.cast("timestamp_ltz"))  # noqa: E731
    gap_us = epoch(F.col("ts")) - epoch(F.lag("ts").over(w))
    return (
        ev.withColumn("_gap", gap_us)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("_gap") > 1_800_000_000, 1).otherwise(0)
            ).alias("n_gaps"),
            F.coalesce(F.max("_gap"), F.lit(0)).alias("max_gap_us"),
        )
        .orderBy("user_id")
    )


def _q_docs_length_histogram(spark, sf_dir):
    """Power-of-two length histogram per source (the corpus-shape
    diagnostic run before choosing packing budgets): bucket = the
    HDR-style bit-length bucket used by the duration sketch — exact
    integer arithmetic in both engines."""
    docs = _docs(spark, sf_dir)
    bucket = F.pow(
        F.lit(2.0), (F.length(F.bin(F.col("n_chars"))) - 1).cast("double")
    ).cast("long")
    return (
        docs.groupBy(
            "source", F.when(F.col("n_chars") > 0, bucket).otherwise(0).alias("bucket_lo")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
        .orderBy("source", "bucket_lo")
    )


def _q_log_sketch_error_audit(spark, sf_dir):
    """Sketch self-validation: per op_type, the EXACT interpolated p99
    next to the mergeable HDR sketch's p99 and their relative error —
    the query an operator runs before trusting the 10^12-row sketch
    path. Composed from the two independently-oracled pipelines; the
    sketch's octave/16 design bounds rel_err at 6.25 %."""
    from stash_log_parser_spark.operators.textstats import round6

    exact = _q_log_duration_percentiles(spark, sf_dir).select(
        "op_type", F.col("p99").alias("exact_p99")
    )
    sk = _q_log_duration_percentiles_sketch(spark, sf_dir).select(
        "op_type", F.col("p99").cast("long").alias("sketch_p99")
    )
    return (
        exact.join(sk, "op_type")
        .select(
            "op_type",
            "exact_p99",
            "sketch_p99",
            round6(
                F.abs(F.col("exact_p99") - F.col("sketch_p99"))
                / F.col("exact_p99")
            ).alias("rel_err"),
        )
        .orderBy("op_type")
    )


def _q_emb_int8_recall_audit(spark, sf_dir):
    """Quantizer self-validation: recall@5 of the int8 KNN against the
    exact float KNN, per query — the acceptance gate before shipping
    the 4-8× bandwidth saving. Composed from the two independently
    mirrored pipelines (same device as log_sketch_error_audit)."""
    from stash_log_parser_spark.operators.textstats import round6

    exact = _q_emb_knn_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    hits = _q_emb_knn_int8(spark, sf_dir).select(
        "query_id", "vec_id"
    ).withColumn("_hit", F.lit(1))
    return (
        exact.join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            round6(F.col("n_overlap") / F.lit(5.0)).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


def _q_log_weekday_profile(spark, sf_dir):
    """Traffic by ISO weekday (Mon=1..Sun=7 — computed with explicit
    integer arithmetic from Spark's Sun=1 dayofweek so both engines
    agree exactly): request and distinct-user counts."""
    parsed = _parsed(spark).filter(F.col("is_parsed"))
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    return (
        parsed.groupBy(iso.alias("iso_dow"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("username").alias("n_users"),
        )
        .orderBy("iso_dow")
    )


def _q_log_token_integrity(spark, sf_dir):
    """Corpus-wide token-array integrity census — the north rule's
    routed-row token equality made oracle-visible: per source, row and
    token counts, n_tok↔len(tokens) mismatches, and two exact integer
    checksums (plain sum + position-weighted sum) that bind EVERY token
    value and position into the value hash. Pure per-row HOF arithmetic
    (no shuffle beyond the source-keyed partial agg); the oracle
    recomputes both checksums from the same parquet with DuckDB's
    unnest/generate_subscripts zip."""
    raw = spark.read.parquet(_ensure_corpus())
    toks = F.col("tokens")
    tok_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    weighted = F.aggregate(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.size(toks)),
            lambda t, i: t.cast("long") * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        raw.select(
            "source",
            "n_tok",
            (F.size(toks) != F.col("n_tok")).cast("int").alias("_mismatch"),
            tok_sum.alias("_s"),
            weighted.alias("_w"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_mismatch").alias("n_len_mismatch"),
            F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
            F.sum("_s").alias("token_sum"),
            F.sum("_w").alias("weighted_sum"),
        )
        .orderBy("source")
    )


def _q_events_last_touch(spark, sf_dir):
    """Last-touch attribution: per user, the timestamp and value of
    their LAST click (max_by / arg_max — deterministic because the agg
    key (ts, event_id) is unique per user). One user-keyed hash-agg."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(F.col("event_id"), key).alias("last_event_id"),
            F.max_by(_cents(F.col("value")), key).alias("last_value_cents"),
            F.count("*").alias("n_clicks"),
        )
        .orderBy("user_id")
    )


def _q_docs_length_quartiles(spark, sf_dir):
    """Per-source length quartiles via ntile(4) over (n_chars, doc_id).

    Scale note, stated honestly: a keyed window hash-partitions by
    source and sorts WITHIN the partition, so one giant source is one
    giant sort task. That is fine at bench scale and for dashboards
    over ≤10^8-row sources; at 10^12 rows the same quartile counts come
    exactly from the value-histogram route — n_chars is a small-int
    domain, so count per (source, n_chars) (dimension-sized hash-agg
    with map-side partials) + a cumulative sum over the tiny histogram
    gives every quantile without sorting the corpus. ntile is kept here
    because its position-based tie-splitting is the contract the oracle
    mirrors; the scale path is IMPLEMENTED as the registered twin
    ``docs_length_quartiles_hist`` (textstats.ntile_agg_hist), pinned
    to this form by the shared oracle and by test."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("q", F.ntile(4).over(w))
        .groupBy("source", "q")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
        .orderBy("source", "q")
    )


def _q_docs_length_quartiles_hist(spark, sf_dir):
    """Histogram-route twin of docs_length_quartiles: identical output
    (same DuckDB oracle), but the only corpus-scale operation is one
    map-side-combinable hash-agg to the (source, n_chars) histogram —
    the window sort runs over the distinct-length domain, so no
    per-source global sort survives at 10^12 rows. See
    operators/textstats.py:ntile_agg_hist for the boundary math."""
    from stash_log_parser_spark.operators.textstats import ntile_agg_hist

    docs = _docs(spark, sf_dir)
    out = ntile_agg_hist(docs, group_col="source", value_col="n_chars", n_tiles=4)
    return out.select(
        "source", F.col("q").cast("int").alias("q"), "n_docs", "total_chars"
    ).orderBy("source", "q")


def _q_events_user_segments(spark, sf_dir):
    ev = _events(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        ev.join(cust, ev.user_id == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("c_mktsegment")
    )


def _q_events_outliers(spark, sf_dir):
    """Telemetry anomaly detection: events whose value sits more than
    2 population-σ from their OWN user's mean — computed entirely in
    int64 (cents; (n·x−S1)² > 4·(n·S2−S1²)), so the oracle matches
    bit-for-bit with no rounding anywhere."""
    from stash_log_parser_spark.operators.analyses import integer_zscore_outliers

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", _cents(F.col("value")).alias("value_cents")
    )
    out = integer_zscore_outliers(ev, "user_id", "value_cents", k=2, min_n=3)
    return out.select("event_id", "user_id", "value_cents", "n_in_group").orderBy(
        "event_id"
    )


def _q_events_type_hour_cube(spark, sf_dir):
    """Grouping-sets rollup (SURVEY.md §3.5 A8): counts by (type, hour),
    by type alone, and grand total, in one pass."""
    ev = _events(spark, sf_dir).withColumn(
        "hour", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00")
    )
    return (
        ev.groupingSets([["event_type", "hour"], ["event_type"], []], "event_type", "hour")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "hour")
    )


def _q_tpch_shipping_priority(spark, sf_dir):
    """Q3 shape: 3-table join, filter, agg, top-k. No broadcast hint on
    the customer slice: customer is fact-proportional in TPC-H, so a
    forced broadcast OOMs executors at 100× scale — AQE picks a
    broadcast join on its own while the slice is under the threshold
    (plan-asserted in tests) and degrades to a shuffled join beyond it
    (round-3 verdict)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_cents(rev)).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(20)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
    )


def _q_tpch_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            _cents(F.sum("l_extendedprice")).alias("sum_base_price_cents"),
            F.sum(_cents(disc_price)).alias("sum_disc_price_cents"),
            F.sum(_cents(charge)).alias("sum_charge_cents"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_tpch_top_customers(spark, sf_dir):
    """Top-20 customers by order revenue (cents-exact), enriched with
    the customer dim via broadcast hash join — the J3 lookup-join shape
    on TPC-H tables."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
        .join(c, F.col("o_custkey") == c.c_custkey, "inner")
        .select("o_custkey", "c_name", "c_mktsegment", "n_orders", "revenue_cents")
        .orderBy(F.desc("revenue_cents"), F.asc("o_custkey"))
        .limit(10)
    )


def _q_events_orders_asof(spark, sf_dir):
    """As-of join: each event gets the total price of the user's most
    recent order at-or-before the event timestamp (union+window form)."""
    from stash_log_parser_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir).select("event_id", "user_id", F.col("ts").alias("ets"))
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("tp"))
    )
    out = asof_join(ev, orders, "ets", "o_orderdate", "user_id", "o_custkey", ["tp"])
    return out.select("event_id", "user_id", _cents(F.col("tp")).alias("last_order_cents"))


def _q_parts_balance_range_join(spark, sf_dir):
    """Bucketed range join: customers whose account balance falls in a
    +/-5 band around each part's retail price (p_partkey < 200)."""
    from stash_log_parser_spark.operators.joins import range_join_buckets

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_acctbal")
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            (F.col("p_retailprice") - 5).alias("lo"),
            (F.col("p_retailprice") + 5).alias("hi"),
        )
    )
    j = range_join_buckets(cust, part, "c_acctbal", "lo", "hi", cell_width=10.0)
    return (
        j.groupBy("p_partkey")
        .agg(F.count("*").alias("n_customers"), F.min("c_custkey").alias("min_custkey"))
        .orderBy("p_partkey")
    )


def _q_docs_text_stats(spark, sf_dir):
    from stash_log_parser_spark.operators.textstats import text_stats

    return text_stats(_docs(spark, sf_dir, spread=True))


def _q_docs_langid(spark, sf_dir):
    from stash_log_parser_spark.operators.textstats import lang_scores

    return lang_scores(_docs(spark, sf_dir))


def _q_docs_fingerprint(spark, sf_dir):
    from stash_log_parser_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _q_docs_exact_dedup(spark, sf_dir):
    from stash_log_parser_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_docs_dedup_corpus(spark, sf_dir):
    """The deduplicated corpus itself (keep-first): the output a training
    pipeline actually feeds downstream."""
    from stash_log_parser_spark.operators.dedup import exact_dedup_keep_first

    return exact_dedup_keep_first(_docs(spark, sf_dir)).select("doc_id", "lang")


def _q_docs_curate_corpus(spark, sf_dir):
    """The flagship training-data composition, end-to-end: language gate
    (stopword-marker langid == 'en') → quality gate (score ≥ 0.75) →
    exact dedup (keep-first) → near-duplicate removal (MinHash LSH
    pairs at jaccard ≥ 0.9; the GREATER id of every pair is dropped —
    a deterministic keep-first rule both engines express identically).
    Output = the curated corpus ids a pipeline would feed downstream.
    Every stage reuses an operator whose own oracle row is green; the
    LSH pair set equals the bruteforce set on this corpus (see
    _q_docs_minhash_lsh_pairs), so the oracle mirrors the whole chain
    in plain SQL."""
    from stash_log_parser_spark.operators import textstats as TS
    from stash_log_parser_spark.operators.dedup import (
        exact_dedup_keep_first,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    lang = TS.lang_scores(docs).select("doc_id", "lang_pred")
    qual = TS.text_stats(docs).select("doc_id", "quality_score")
    gated = (
        docs.join(lang, "doc_id")
        .join(qual, "doc_id")
        .filter((F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.75))
        .select("doc_id", "text")
    )
    deduped = exact_dedup_keep_first(gated)
    cap: dict = {}
    pairs = minhash_lsh_pairs(
        deduped, bands=8, jaccard_threshold=0.9, cap_metrics=cap
    )
    assert cap["n_capped_buckets"] == 0, cap  # truncation never silent
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return deduped.join(drop, "doc_id", "left_anti").select("doc_id").orderBy("doc_id")


def _q_docs_curate_corpus_clustered(spark, sf_dir):
    """The curation chain with CLUSTER-level near-dup removal: same
    langid → quality → exact-dedup gates as docs_curate_corpus, but the
    near-dup stage keeps the MINIMUM id of each connected component
    (near_dup_clusters) instead of dropping doc_b per pair — the
    correct survivor rule when similarity chains (A~B, B~C without
    A~C). Oracle: the chain mirror with a recursive-CTE transitive
    closure."""
    from stash_log_parser_spark.operators import textstats as TS
    from stash_log_parser_spark.operators.dedup import (
        exact_dedup_keep_first,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    docs = _docs(spark, sf_dir)
    lang = TS.lang_scores(docs).select("doc_id", "lang_pred")
    qual = TS.text_stats(docs).select("doc_id", "quality_score")
    gated = (
        docs.join(lang, "doc_id")
        .join(qual, "doc_id")
        .filter((F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.75))
        .select("doc_id", "text")
    )
    deduped = exact_dedup_keep_first(gated)
    cap: dict = {}
    pairs = minhash_lsh_pairs(
        deduped, bands=8, jaccard_threshold=0.9, cap_metrics=cap
    )
    assert cap["n_capped_buckets"] == 0, cap  # truncation never silent
    clusters = near_dup_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster")).select("doc_id")
    return deduped.join(drop, "doc_id", "left_anti").select("doc_id").orderBy("doc_id")


def _q_docs_contamination(spark, sf_dir):
    """Train/test CONTAMINATION check — the eval-integrity question a
    training pipeline must answer: which near-duplicate pairs straddle
    the split (a test doc whose near-copy sits in train poisons the
    eval)? Composition of two oracled operators: the deterministic
    md5 split + LSH near-dup pairs (≥0.9), keeping only cross-split
    pairs, reported test-doc-first."""
    from stash_log_parser_spark.operators.dedup import minhash_lsh_pairs
    from stash_log_parser_spark.operators.textstats import train_test_split

    docs = _docs(spark, sf_dir)
    split = train_test_split(docs)
    # audit the bucket cap: a capped bucket here would be MISSED
    # contamination — the one place silent truncation is unforgivable
    cap: dict = {}
    pairs = minhash_lsh_pairs(
        docs, bands=8, jaccard_threshold=0.9, cap_metrics=cap
    )
    assert cap["n_capped_buckets"] == 0, cap
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "test", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc"),
            F.when(F.col("split_a") == "test", F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
            "jaccard",
        )
        .orderBy("test_doc", "train_doc")
    )


def _q_log_stream_pairs(spark, sf_dir):
    """The custom stateful streaming operator (T3b) end-to-end: replay
    the corpus as a stream, pair in/out events with per-key GroupState,
    return the matched pairs. availableNow with no maxFilesPerTrigger
    drains ALL files in ONE data micro-batch, so the output is
    deterministic while the 8-file layout parallelizes the in-batch
    parse (multi-batch straddling is covered by pytest); the oracle is
    the batch pairing SQL. Throughput note: the stateful stage is
    bound by applyInPandasWithState's one-Python-call-per-key floor —
    measured to scale with state partitions (more partitions = faster),
    so the session's cores-sized shuffle setting is the right default."""
    import tempfile
    import uuid

    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.streaming.stream import (
        CORPUS_SCHEMA,
        run_to_memory,
        streaming_pair_requests,
    )

    d = tempfile.mkdtemp(prefix="slp_stream_")
    spark.read.parquet(_ensure_corpus()).select(
        "doc_id", "tokens", "n_tok", "source"
    ).repartition(8).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(d)
    name = "slp_pairs_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_pair_requests(parse_corpus(stream)), name, output_mode="append"
    )
    return (
        spark.table(name)
        .filter("matched")
        .select(
            "day",
            "req_counter",
            "ts_in",
            "ts_out",
            F.round("latency_ms", 3).alias("latency_ms"),
            "op_type",
            "username",
        )
        .orderBy("day", "req_counter")
    )


def _q_log_stream_interval_join(spark, sf_dir):
    """Native watermarked stream-stream interval join (T3c): the in/out
    legs of each request id joined within a 1-hour event-time range —
    the declarative sibling of the GroupState pairing operator. One
    availableNow data batch (no maxFilesPerTrigger) keeps the output
    deterministic; multi-batch straddling is covered by pytest with a
    corpus-spanning watermark. Oracle = the batch interval join."""
    import tempfile
    import uuid

    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.streaming.stream import (
        CORPUS_SCHEMA,
        run_to_memory,
        streaming_interval_join,
    )

    d = tempfile.mkdtemp(prefix="slp_sj_")
    spark.read.parquet(_ensure_corpus()).select(
        "doc_id", "tokens", "n_tok", "source"
    ).repartition(8).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(d)
    name = "slp_sj_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_interval_join(parse_corpus(stream)), name, output_mode="append"
    )
    return spark.table(name).orderBy("day", "req_counter")


def _q_log_stream_outer_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER interval join (10 s lag):
    in-legs with no out-leg inside the window emit NULL-padded from the
    eviction pass of availableNow's terminal no-data batch. On this
    corpus the drained output EQUALS the full batch left join — the
    latest unmatched in-leg sits 19 minutes before the final watermark,
    so every eviction fires (verified; the never-emitted loss mode for
    tail rows inside the last watermark+lag is pinned by pytest with a
    crafted straddler). Oracle = the batch left interval join."""
    import tempfile
    import uuid

    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.streaming.stream import (
        CORPUS_SCHEMA,
        run_to_memory,
        streaming_outer_interval_join,
    )

    d = tempfile.mkdtemp(prefix="slp_oj_")
    spark.read.parquet(_ensure_corpus()).select(
        "doc_id", "tokens", "n_tok", "source"
    ).repartition(8).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(d)
    name = "slp_oj_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_outer_interval_join(parse_corpus(stream)),
        name,
        output_mode="append",
    )
    return spark.table(name).orderBy("day", "req_counter", "ts_in")


def _q_docs_cluster_survivors(spark, sf_dir):
    """Quality-aware near-dup survivor selection: per duplicate
    CLUSTER keep the highest-quality member (tie → lowest id), not the
    naive min-id — the curation upgrade over SemDeDup-style keep-first
    (the survivor is what trains; keeping the worst copy wastes the
    cluster). Composition of three oracled operators: LSH pairs →
    connected components → text_stats quality argmax, with a
    beats_min_id audit flag showing where quality choice actually
    changed the outcome. Scale: the per-cluster argmax is a window
    over the clusters frame (dup-rows only), never the corpus."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from stash_log_parser_spark.operators.textstats import text_stats

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, bands=8, jaccard_threshold=0.2)
    clusters = near_dup_clusters(pairs)
    q = text_stats(docs).select("doc_id", "quality_score")
    j = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster")
    r = (
        j.withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.desc("quality_score"), F.asc("doc_id"))
            ),
        )
        .withColumn("n_members", F.count("*").over(w).cast("long"))
    )
    return (
        r.filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("survivor_id"),
            "n_members",
            F.col("quality_score").alias("best_quality"),
            (F.col("doc_id") != F.col("cluster")).alias("beats_min_id"),
        )
        .orderBy("cluster")
    )


def _q_docs_dedup_clusters(spark, sf_dir):
    """Cluster-level near-dup semantics: connected components over the
    LSH pair graph (keep one doc per duplicate CLUSTER — A~B, B~C must
    collapse even when A~C was never emitted). Spark side = iterative
    min-label propagation (operators.dedup.near_dup_clusters); oracle =
    a recursive-CTE transitive closure over the bruteforce pair set
    (equal to the LSH pair set on this corpus, see
    docs_minhash_lsh_pairs)."""
    from stash_log_parser_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), bands=8, jaccard_threshold=0.2)
    return near_dup_clusters(pairs).orderBy("doc_id")


def _q_docs_top_ngrams(spark, sf_dir):
    """Corpus vocabulary stats: top-50 word bigrams by frequency (count
    desc, ngram asc — strict total order, deterministic cut)."""
    from stash_log_parser_spark.operators.textstats import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=50)


def _q_docs_train_test_split(spark, sf_dir):
    """Deterministic hash-based corpus split — the boring-but-critical
    training-data op: membership depends only on doc_id (stable across
    runs, engines, and partitionings), via a lexicographic threshold on
    the first two md5 hex chars (204/256 = 79.7 % train)."""
    from stash_log_parser_spark.operators.textstats import train_test_split

    return train_test_split(_docs(spark, sf_dir)).orderBy("doc_id")


_PII_PLANT = (
    " contact user{id}@example.com see https://example.org/d{id} call 555-0199"
)


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically append synthetic PII to every 7th document (the
    corpus itself is PII-free word salad, so the scrub operator needs
    planted positives to prove anything — same device as the planted
    duplicates in _q_emb_near_dup_pairs; the DuckDB oracle plants the
    identical suffix)."""
    suffix = F.concat(
        F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com see "),
        F.lit("https://example.org/d"), F.col("doc_id"), F.lit(" call 555-0199"),
    )
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), suffix)).otherwise(
            F.col("text")
        ),
    )


def _q_docs_pii_scrub(spark, sf_dir):
    """PII redaction pass: counts per kind on the original text plus an
    md5 of the scrubbed text (binds the full replacement output into the
    value hash without shipping megabytes through the compare)."""
    from stash_log_parser_spark.operators.textstats import pii_scrub

    out = pii_scrub(_plant_pii(_docs(spark, sf_dir, spread=True)))
    return out.select(
        "doc_id", "n_email", "n_url", "n_phone",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


def _q_docs_repetition(spark, sf_dir):
    """Gopher-style repetition quality signal: duplicate word-trigram
    fraction per document."""
    from stash_log_parser_spark.operators.textstats import repetition_score

    return repetition_score(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_docs_cross_dedup(spark, sf_dir):
    """Incremental-crawl dedup: odd doc_ids are 'tonight's crawl', even
    doc_ids the already-trained reference; keep new docs whose text is
    absent from the reference (exact md5 anti-join)."""
    from stash_log_parser_spark.operators.dedup import cross_corpus_dedup

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    return (
        cross_corpus_dedup(new, ref)
        .select("doc_id", "source", F.md5("text").alias("text_md5"))
        .orderBy("doc_id")
    )


def _q_events_retention_cohorts(spark, sf_dir):
    """Telemetry retention: users bucketed by first-seen day (cohort),
    distinct actives per (cohort, day-offset). Two key-hash shuffles
    (per-user min, then cohort/offset agg) — both on small keys, no
    payload; the first-seen relation is user-proportional so its join
    is left to AQE, not force-broadcast."""
    ev = _events(spark, sf_dir).select("user_id", F.to_date("ts").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            F.datediff("d", "cohort").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort", "day_offset")
    )


def _q_tpch_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer.
    Only nation (fixed 25 rows) carries a broadcast hint; customer and
    orders are fact-proportional and left to AQE."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_cents(rev)).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


def _q_tpch_priority_semi(spark, sf_dir):
    """TPC-H Q4 shape (adapted to the slim lineitem): orders in 1996
    with at least one RETURNED lineitem, counted per order priority —
    the EXISTS/semi-join aggregate. The probe side reduces to a
    single-column key relation before the semi join; a left_semi never
    duplicates orders rows however many lineitems match, so no distinct
    is needed anywhere."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li_r = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(li_r, orders.o_orderkey == li_r.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def _q_tpch_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: single filter-aggregate with every predicate
    pushed to the parquet scan (date range + discount band + quantity
    cap) — the canonical scan-efficiency probe. No shuffle at all
    beyond the final 1-row reduce."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
            "revenue_cents"
        ),
        F.count("*").alias("n_items"),
    )


def _q_tpch_order_count_dist(spark, sf_dir):
    """TPC-H Q13 shape: customer LEFT JOIN orders, per-customer order
    count, then the distribution of those counts — the left-outer +
    double-aggregation pattern. count(o_orderkey) counts non-nulls, so
    order-less customers land in bucket 0."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderkey"
    )
    per = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count("*").alias("n_custs"))
        .orderBy(F.desc("n_custs"), F.desc("c_count"))
    )


def _q_tpch_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo-type revenue share over one month. The
    part join is fact-proportional (AQE decides the strategy — no
    forced broadcast per the round-3 review); the share is a ratio of
    two exact cents sums, round6-quantized."""
    from stash_log_parser_spark.operators.textstats import round6

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_type")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    agg = li.join(part, li.l_partkey == part.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias(
            "promo_cents"
        ),
        F.sum(rev).alias("total_cents"),
    )
    return agg.select(
        "promo_cents",
        "total_cents",
        round6(100.0 * F.col("promo_cents") / F.col("total_cents")).alias(
            "promo_pct"
        ),
    )


def _q_tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: revenue per supplier over a quarter, return the
    supplier(s) tying the maximum. The max is a 1-row aggregate crossed
    back in (broadcast by construction — scalar, not scale-growing);
    cents ints make the equality exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "total_rev_cents"
            )
        )
    )
    mx = rev.agg(F.max("total_rev_cents").alias("mx"))
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.join(F.broadcast(mx), rev.total_rev_cents == mx.mx)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_cents")
        .orderBy("s_suppkey")
    )


def _q_tpch_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from lineitems whose quantity is under
    20 % of their part's average — the correlated scalar subquery,
    decorrelated into a per-part aggregate join. The threshold compare
    is the exact integer cross-multiplication 5·qty·n < sum_qty (no
    float avg on either engine)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    stats = li.groupBy("l_partkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    return (
        li.join(stats, "l_partkey")
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            5 * F.col("l_quantity").cast("long") * F.col("n") < F.col("sum_qty")
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents"),
            F.count("*").alias("n_lines"),
        )
    )


def _q_tpch_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds 300, with
    their customer — the having-on-sum semi-join pattern. The heavy
    groupBy reduces lineitem to (orderkey, qty) before any join; both
    joins stay key-only until the final narrow projection."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


def _q_tpch_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between supplier-nation and
    customer-nation pairs per year. Only nation (25 fixed rows) is
    broadcast-hinted; supplier/orders/customer joins are left to AQE."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n1 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    ))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("sk"))
        .join(n2, F.col("c_nationkey") == F.col("ck"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "volume_cents"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _q_tpch_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one supplier-nation's share of yearly revenue
    within a customer region, for one part type. Share = conditional
    cents sum / total cents sum (two exact ints → one double division),
    round6-quantized. nation/region broadcast-hinted (fixed dims);
    everything fact-proportional is AQE-decided."""
    from stash_log_parser_spark.operators.textstats import round6

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_type") == "LARGE"
    ).select("p_partkey")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    cust_nat = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "AMERICA")
        .select(F.col("n_nationkey").alias("cnk"))
    )
    supp_nat = F.broadcast(
        nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    )
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(cust_nat, cust.c_nationkey == F.col("cnk"))
        .join(supp_nat, supp.s_nationkey == F.col("snk"))
    )
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))).alias(
            "nation_cents"
        ),
        F.sum(rev).alias("total_cents"),
    )
    return agg.select(
        "o_year",
        "nation_cents",
        "total_cents",
        round6(F.col("nation_cents") / F.col("total_cents")).alias("mkt_share"),
    ).orderBy("o_year")


def _q_tpch_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides (brand × quantity bands). Catalyst splits the
    disjunction: the quantity bounds common to all branches push to the
    lineitem scan, the brand IN-list to the part scan, and the residual
    OR evaluates after the join — the standard disjunctive-pushdown
    decomposition."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    j = li.join(part, li.l_partkey == part.p_partkey)
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (qty >= 1) & (qty <= 11))
        | ((F.col("p_brand") == "Brand#2") & (qty >= 10) & (qty <= 20))
        | ((F.col("p_brand") == "Brand#3") & (qty >= 20) & (qty <= 30))
    )
    return j.filter(cond).agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue_cents"
        ),
        F.count("*").alias("n_lines"),
    )


def _q_tpch_supplier_census(spark, sf_dir):
    """TPC-H Q16 shape (adapted — no partsupp table in the slim schema):
    distinct suppliers serving each (brand, size band), derived from
    lineitem, EXCLUDING suppliers with negative balance via NOT IN
    (planned as a null-safe anti-join). Distinct-count is the skew-safe
    two-exchange expansion; the exclusion list is dimension-sized."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand", "p_size"
    )
    bad = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    band = (
        F.when(F.col("p_size") <= 10, "S")
        .when(F.col("p_size") <= 30, "M")
        .otherwise("L")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", band.alias("size_band"))
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
        .orderBy("p_brand", "size_band")
    )


def _q_tpch_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape (l_linestatus standing in for the slim schema's
    missing shipmode): high- vs low-priority order counts per
    linestatus for one shipping year — the conditional-sum-after-join
    pattern."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linestatus")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def _q_tpch_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers richer than the positive-balance
    average with NO recent orders, per market segment — anti-join plus
    scalar-aggregate threshold. The average compare is the exact
    integer cross-multiplication bal_cents·n > sum_cents (no float avg
    boundary on either engine); the 1-row aggregate is crossed in
    broadcast-by-construction."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", _cents(F.col("c_acctbal")).alias("bal_cents")
    )
    pos = cust.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count("*").alias("n")
    )
    recent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n") > F.col("s"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


def _q_events_funnel(spark, sf_dir):
    """Ordered conversion funnel over the telemetry stream: per user the
    first view, the first click AFTER that view, the first purchase
    AFTER that click; one row of stage counts. Three conditional-min
    hash aggregations, each keyed on user_id — the narrow key is the
    only thing that ever shuffles, and AQE is free to broadcast the
    per-user stage relations when small."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    tv = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    tc = (
        ev.join(tv, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    tp = (
        ev.join(tc, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    return tp.agg(
        F.count("user_id").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


def _q_events_pivot_types(spark, sf_dir):
    """Pivot with an EXPLICIT value list (day × event_type counts as
    columns). Explicit values keep the pivot a single pass with no
    value-discovery job and a deterministic column set — the form that
    scales; an open-ended pivot first scans for distinct values and can
    explode the schema. Missing combinations fill 0 like the oracle's
    conditional sums."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .orderBy("day")
    )


def _q_docs_subsample_k(spark, sf_dir):
    """Deterministic per-source subsample of exactly k=5 docs: rank by
    md5(doc_id) inside each source (a stable pseudo-random order — the
    same docs win under any partitioning or corpus ordering) and keep
    rank ≤ k. One window per source partition, key-only shuffle."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rank_in_source", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_source") <= 5)
        .select("doc_id", "source", "rank_in_source")
        .orderBy("source", "rank_in_source")
    )


def _q_events_sliding_rate(spark, sf_dir):
    """Sliding-window event rate: 10-minute windows sliding every 5 —
    each event lands in exactly two windows (F.window duplicates rows
    window-side, epoch-aligned starts; the oracle mirrors with an
    unnest over the two bucket offsets). The tumbling special case is
    covered by the streaming twins; this is the overlapping-window
    batch shape."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w_start"),
            "event_type",
            "n",
        )
        .orderBy("w_start", "event_type")
    )


def _q_docs_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination: docs with doc_id < 20 stand in
    for the eval set; every training doc sharing any word 5-gram with
    it is flagged (the eval docs flag themselves trivially)."""
    from stash_log_parser_spark.operators.dedup import ngram_decontaminate

    docs = _docs(spark, sf_dir)
    return ngram_decontaminate(
        docs, docs.filter(F.col("doc_id") < 20), n=5
    ).orderBy("doc_id")


def _q_docs_word_rarity(spark, sf_dir):
    """Corpus-relative mean word-frequency rank per document."""
    from stash_log_parser_spark.operators.textstats import word_rarity

    return word_rarity(_docs(spark, sf_dir)).orderBy("doc_id")


_BOILER = (
    "subscribe to our newsletter for updates terms of service apply "
    "all rights reserved worldwide today"
)  # exactly 15 words = one segment


def _q_docs_segment_dedup(spark, sf_dir):
    """Line-level (segment) dedup: a boilerplate 15-word header is
    planted on every 7th doc — the census must drop it everywhere while
    keeping each document's own segments."""
    from stash_log_parser_spark.operators.dedup import segment_dedup

    docs = _docs(spark, sf_dir, spread=True).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.lit(_BOILER + " "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    return segment_dedup(docs, seg_words=15, max_docs=1).orderBy("doc_id")


def _q_docs_curate_v2(spark, sf_dir):
    """Round-4 flagship curation chain composing the session's
    operators end-to-end: plant boilerplate (every 5th doc) + PII
    (every 7th) → segment-level dedup EDITS the text (boilerplate
    census-dropped everywhere) → Gopher rule gate on the cleaned text →
    PII scrub → deterministic mixture sampling. Output binds the final
    edited text into the value hash via md5.

    Scale shape: each stage keeps the established patterns — hash-keyed
    census with narrow exchanges (segment dedup), pure-projection gates
    (gopher/pii), doc_id-keyed re-attach joins between stages, and a
    shuffle-free hash-threshold sample."""
    from stash_log_parser_spark.operators.dedup import segment_dedup
    from stash_log_parser_spark.operators.mixture import sample_mixture
    from stash_log_parser_spark.operators.textstats import (
        gopher_quality,
        pii_scrub,
    )

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit(_BOILER + " "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    docs = _plant_pii(docs)
    cleaned = segment_dedup(docs, seg_words=15, max_docs=1, emit_text=True).select(
        "doc_id", "clean_text"
    )
    # gate on the three rules that discriminate on this corpus (the
    # word-salad vocabulary contains only one Gopher stopword, so the
    # full `passes` conjunction would be vacuously empty here — rule
    # subsets are how real curation configs use these flags anyway)
    gate = (
        gopher_quality(cleaned, text_col="clean_text")
        .filter("flag_word_count AND flag_alpha_words AND flag_symbol_ratio")
        .select("doc_id")
    )
    scrubbed = pii_scrub(cleaned.join(gate, "doc_id"), text_col="clean_text")
    out = (
        scrubbed.select(
            "doc_id",
            (F.col("n_email") + F.col("n_url") + F.col("n_phone")).alias("n_pii"),
            F.md5("clean_text").alias("final_md5"),
        )
        .join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
    )
    return (
        sample_mixture(out, {"src0": 0.5, "src1": 0.25, "src2": 0.0})
        .select("doc_id", "source", "n_pii", "final_md5")
        .orderBy("doc_id")
    )


def _q_docs_gopher_quality(spark, sf_dir):
    """Gopher rule-based quality flags — every threshold an integer
    cross-multiplication, so the oracle is exact by construction."""
    from stash_log_parser_spark.operators.textstats import gopher_quality

    return gopher_quality(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_docs_tfidf_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (corpus keyword signal)."""
    from stash_log_parser_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3).orderBy("doc_id", "rank")


def _q_docs_bigram_lm(spark, sf_dir):
    """Bigram LM perplexity proxy: mean −ln P(w2|w1) per doc with the
    corpus itself as the model (the KenLM-style fluency filter)."""
    from stash_log_parser_spark.operators.textstats import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_docs_kneser_ney(spark, sf_dir):
    """Interpolated Kneser–Ney bigram cross-entropy per doc (D=0.75,
    continuation-unigram backoff, micro-nat BIGINT sums) — the
    smoothed upgrade of docs_bigram_lm — see
    operators/textstats.py:kneser_ney_score."""
    from stash_log_parser_spark.operators.textstats import kneser_ney_score

    return kneser_ney_score(_docs(spark, sf_dir, spread=True)).orderBy("doc_id")


def _q_docs_zipf_fit(spark, sf_dir):
    """Zipf-law exponent of the corpus vocabulary: least-squares slope
    of ln(freq) over ln(rank) — the one-number sanity check that a
    corpus has natural token statistics (natural text ≈ −1). The
    regression runs over the vocabulary DIMENSION (never the corpus),
    and the slope is computed from explicit Σx/Σy/Σxy/Σx² sums with
    the closed-form formula — NOT regr_slope, whose single-pass
    covariance algorithm differs between engines while the explicit
    sums are the same IEEE ops in both."""
    from pyspark.sql import Window
    from stash_log_parser_spark.operators.textstats import round6

    words = _docs(spark, sf_dir).select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("w"))),
        )
        .select(F.log("rank").alias("x"), F.log("n").alias("y"))
    )
    s = vocab.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("m").alias("vocab_size"),
        round6(-slope).alias("neg_zipf_slope"),
    )


def _q_log_hourly_trend(spark, sf_dir):
    """Traffic-trend detection: least-squares slope of hourly request
    counts over the hour index — same explicit-sums device as the Zipf
    fit (engine-identical formula), over the tiny hours dimension."""
    from stash_log_parser_spark.operators.textstats import round6

    parsed = _parsed(spark).filter(F.col("is_parsed"))
    hourly = parsed.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
    ).agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    xy = hourly.select(
        (F.row_number().over(Window.orderBy("hour")) - 1).cast("double").alias("x"),
        F.col("n").cast("double").alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("m").alias("n_hours"), round6(slope).alias("slope_per_hour")
    )


def _q_docs_language_mix(spark, sf_dir):
    """Language × source composition rollup (the per-domain language
    report a multilingual corpus ships with)."""
    from stash_log_parser_spark.operators.textstats import lang_scores

    docs = _docs(spark, sf_dir)
    pred = lang_scores(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", "source")
        .join(pred, "doc_id")
        .groupBy("source", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "lang_pred")
    )


def _q_corpus_pack_efficiency(spark, sf_dir):
    """Packing-utilization report over the boundary packing: packs,
    mean fill ratio, and wasted chars per source — the number that
    decides whether the packing budget is right."""
    from stash_log_parser_spark.operators.mixture import pack_sequences
    from stash_log_parser_spark.operators.textstats import round6

    packed = pack_sequences(_docs(spark, sf_dir), budget=4096, len_col="n_chars")
    per_pack = packed.groupBy("source", "pack_id").agg(
        F.sum("length").alias("fill")
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.count("*").alias("n_packs"),
            round6(F.avg(F.col("fill") / F.lit(4096.0))).alias("mean_fill"),
            F.sum(
                F.when(F.lit(4096) - F.col("fill") > 0, F.lit(4096) - F.col("fill"))
                .otherwise(F.lit(0))
            ).alias("wasted_chars"),
        )
        .orderBy("source")
    )


def _q_docs_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve: distinct words seen within
    the first N docs, for N in {10, 50, 100, 500, 1000, ...} — the
    diagnostic behind tokenizer-vocab sizing. Shape: per-word
    first-seen doc (a vocabulary-sized derived dimension via min-agg),
    range-joined to the tiny threshold list (broadcast non-equi), then
    one count per threshold — the corpus is never re-scanned per
    threshold."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    first = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    thresholds = spark.createDataFrame(
        [(n,) for n in (10, 50, 100, 500, 1000, 5000, 10000)], "n long"
    )
    return (
        F.broadcast(thresholds)
        .join(first, first.first_doc <= F.col("n"))
        .groupBy("n")
        .agg(F.count("*").alias("vocab_size"))
        .orderBy("n")
    )


def _q_events_mode_by_type(spark, sf_dir):
    """Deterministic mode: the most frequent value-cents per event
    type, ties broken toward the smallest value — a two-level agg
    (count per (type, value) → max_by on the (count, -value) order
    key), never a sort of the raw stream."""
    ev = _events(spark, sf_dir).select(
        "event_type", _cents(F.col("value")).alias("v")
    )
    counts = ev.groupBy("event_type", "v").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("event_type")
        .agg(
            F.max_by(F.col("v"), F.struct(F.col("n"), (-F.col("v")).alias("nv"))).alias(
                "mode_value_cents"
            ),
            F.max("n").alias("mode_count"),
        )
        .orderBy("event_type")
    )


def _q_emb_norm_stats(spark, sf_dir):
    """Per-label embedding L2-norm statistics (the pre-normalization
    sanity check before cosine indexing): mean/min/max norm, round6.
    Norms are row-local ordered folds; only (label, norm) ever
    aggregates."""
    from stash_log_parser_spark.operators.similarity import _norm
    from stash_log_parser_spark.operators.textstats import round6

    emb = _emb(spark, sf_dir).select(
        "label", _norm(F.col("embedding")).alias("nrm")
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            round6(F.avg("nrm")).alias("mean_norm"),
            round6(F.min("nrm")).alias("min_norm"),
            round6(F.max("nrm")).alias("max_norm"),
        )
        .orderBy("label")
    )


def _q_docs_source_jaccard(spark, sf_dir):
    """Lexical domain-affinity matrix: Jaccard overlap of the DISTINCT
    vocabularies of every source pair — the word-level sibling of the
    embedding-centroid affinity matrix. Everything downstream of the
    first distinct is dimension-sized (vocab × sources)."""
    from stash_log_parser_spark.operators.textstats import round6

    sw = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
        )
        .distinct()
    )
    sizes = sw.groupBy("source").agg(F.count("*").alias("sz"))
    a = sw.select(F.col("source").alias("src_a"), "w")
    b = sw.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            round6(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def _q_log_burstiness(spark, sf_dir):
    """Traffic burstiness: the Fano factor (variance / mean) of
    per-minute request counts per protocol — dispersion = 1 for a
    Poisson process, ≫ 1 for bursty traffic. Variance from explicit
    (n, Σx, Σx²) sums with the population formula, identical IEEE ops
    in both engines."""
    from stash_log_parser_spark.operators.textstats import round6

    parsed = _parsed(spark).filter(F.col("is_parsed"))
    per_min = parsed.groupBy(
        "protocol", F.date_format("ts", "yyyy-MM-dd HH:mm").alias("minute")
    ).agg(F.count("*").alias("c"))
    x = F.col("c").cast("double")
    s = per_min.groupBy("protocol").agg(
        F.count("*").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    mean = F.col("sx") / F.col("m")
    var = F.col("sxx") / F.col("m") - mean * mean
    return s.select(
        "protocol",
        F.col("m").alias("n_minutes"),
        round6(mean).alias("mean_per_min"),
        round6(var / mean).alias("fano"),
    ).orderBy("protocol")


def _q_docs_shard_balance(spark, sf_dir):
    """Training-shard assignment audit: docs hashed into 256 output
    shards (first 2 md5 hex chars — the engine-portable form of
    pmod(xxhash64, 256)), per-shard row and char counts. The check run
    before writing shards: a skewed shard here is a straggler at
    training time. Shuffle-free except the 256-group hash-agg."""
    docs = _docs(spark, sf_dir)
    shard = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        docs.groupBy(shard.alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
        .orderBy("shard")
    )


def _q_docs_dup_ratio_by_source(spark, sf_dir):
    """Per-source duplication dashboard: docs, distinct texts, and the
    duplicate ratio — the first number a corpus owner checks per
    domain. Distinct is md5-keyed (never the text payload)."""
    from stash_log_parser_spark.operators.textstats import round6

    docs = _docs(spark, sf_dir).select("source", F.md5("text").alias("h"))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("h").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            round6(
                (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs")
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


def _q_docs_quality_sampled(spark, sf_dir):
    """Quality-stratified sampling: full retention above quality 0.8,
    half in [0.7, 0.8), 10 % below — the quality-curriculum knob,
    deterministic by md5 threshold. Tier compares are engine-exact
    because quality_score is round6-quantized."""
    from stash_log_parser_spark.operators.mixture import quality_stratified_sample
    from stash_log_parser_spark.operators.textstats import text_stats

    docs = _docs(spark, sf_dir)
    ts = text_stats(docs).select("doc_id", "quality_score")
    joined = docs.select("doc_id", "source").join(ts, "doc_id")
    return quality_stratified_sample(
        joined, "quality_score", [(0.8, 1.0), (0.7, 0.5)], default_rate=0.1
    ).orderBy("doc_id")


def _q_docs_sample_mixture(spark, sf_dir):
    """Deterministic domain re-weighting: keep 50 % of src0, 25 % of
    src1, none of src2, everything else. Membership is a pure function
    of (doc_id, source) — stable under runs/engines/partitionings."""
    from stash_log_parser_spark.operators.mixture import sample_mixture

    return (
        sample_mixture(
            _docs(spark, sf_dir), {"src0": 0.5, "src1": 0.25, "src2": 0.0}
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _q_corpus_pack_boundary(spark, sf_dir):
    """Document-boundary sequence packing (budget 4096 chars): window
    cumsum per source, closed form, SQL-mirrored."""
    from stash_log_parser_spark.operators.mixture import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), budget=4096, len_col="n_chars"
    ).orderBy("doc_id")


def _q_corpus_pack_greedy(spark, sf_dir):
    """Exact greedy bin-fill packing (reset recurrence → applyInPandas
    per source). Deterministic, so it oracles against a committed
    golden; a pytest additionally pins it to a pure-python reference."""
    from stash_log_parser_spark.operators.mixture import pack_sequences_greedy

    return pack_sequences_greedy(
        _docs(spark, sf_dir), budget=4096, len_col="n_chars"
    ).orderBy("doc_id")


def _q_docs_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs over the capped chunk-pair banding (the
    round-4 scale fix), hamming-verified. max_hamming=4 (6 chunks,
    C(6,2)=15 band keys): on this small-vocab synthetic corpus larger
    radii connect a few percent of ALL pairs (h=8 -> 92k pairs at
    sf0.1), which is volume without meaning. Golden-parquet oracle:
    xxhash64 is not reproducible in DuckDB."""
    from stash_log_parser_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir, spread=True), max_hamming=4).orderBy(
        "doc_a", "doc_b"
    )


def _q_log_stream_pairs_multibatch(spark, sf_dir):
    """T3 stateful pairing with the BATCH-BOUNDARY path driver-oracled:
    the corpus replays as 4 ts-ordered sequential chunks, one file per
    micro-batch (maxFilesPerTrigger=1; strictly ascending mtimes pin the
    file-source pickup order), so any in|out pair straddling a chunk
    boundary must park in GroupState across micro-batches — the path
    the single-batch log_stream_pairs query cannot exercise. The
    ts-ordered split keeps the event-time watermark monotone (no batch
    ever delivers events older than a previous batch's watermark), so
    nothing is late-dropped and the matched-pair set is split-invariant:
    the oracle is the SAME batch pairing SQL as log_stream_pairs."""
    import os
    import tempfile
    import uuid

    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.streaming.stream import (
        CORPUS_SCHEMA,
        run_to_memory,
        streaming_pair_requests,
    )

    n_chunks = 4
    raw = spark.read.parquet(_ensure_corpus()).select(
        "doc_id", "tokens", "n_tok", "source"
    )
    # chunk by global ts order (one small committed corpus — the ntile
    # window is a test-harness device, not a pipeline operator)
    from pyspark.sql import Window

    with_ts = parse_corpus(raw).select("doc_id", "ts")
    d = _replay_chunks(
        raw.join(with_ts, "doc_id"),
        ["doc_id", "tokens", "n_tok", "source"],
        n_chunks=n_chunks,
        order_by=[F.col("ts").asc_nulls_first(), "doc_id"],
        prefix="slp_stream_mb_",
    )
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_pairs_mb_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_pair_requests(parse_corpus(stream)), name, output_mode="append"
    )
    return (
        spark.table(name)
        .filter("matched")
        .select(
            "day",
            "req_counter",
            "ts_in",
            "ts_out",
            F.round("latency_ms", 3).alias("latency_ms"),
            "op_type",
            "username",
        )
        .orderBy("day", "req_counter")
    )


def _q_docs_stream_dedup(spark, sf_dir):
    """Stateful streaming exact dedup end-to-end: the documents table
    (plus planted re-crawls of doc_id<10 under +100000, which land in
    the LAST chunk) replays as 4 doc_id-ordered single-file
    micro-batches, so every planted duplicate arrives batches after its
    original and must be suppressed by GroupState, not by in-batch
    grouping. doc_id-ordered chunks make first-arrival == min doc_id,
    so the oracle is the batch keep-first dedup over the same augmented
    corpus."""
    import shutil
    import uuid

    from pyspark.sql import Window
    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_exact_dedup,
    )

    import tempfile

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    aug = docs.unionByName(planted)
    n_chunks = 4
    # single-partition ntile over the small committed corpus — a
    # test-harness staging device (like the multibatch pairing query),
    # not a pipeline operator
    d = _replay_chunks(
        aug, ["doc_id", "text"], n_chunks=n_chunks,
        order_by=["doc_id"], prefix="slp_stream_dd_",
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_dd_" + uuid.uuid4().hex[:8]
    run_to_memory(streaming_exact_dedup(stream), name, output_mode="append")
    return spark.table(name).orderBy("text_hash")


def _q_docs_jaccard_top_pairs(spark, sf_dir):
    from stash_log_parser_spark.operators.dedup import jaccard_pairs_bruteforce

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return (
        jaccard_pairs_bruteforce(docs, n=3, threshold=0.0)
        .filter(F.col("jaccard") > 0)
        .orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(50)
    )


def _q_tpch_basket_rules(spark, sf_dir):
    """Market-basket association rules over (order, part) transactions
    with the Apriori frequent-item prune
    (operators/analyses.py:basket_rules): item census broadcast back as
    the prune, baskets collected ONCE and i<j pairs generated
    row-locally (no transaction self-join, cost bounded by post-prune
    basket size²), support/confidence/lift exact-BIGINT until one
    round6 division each."""
    from stash_log_parser_spark.operators.analyses import basket_rules

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return basket_rules(li, min_item_count=5, min_pair_count=3).orderBy(
        "antecedent", "consequent"
    )


def _q_docs_prefix_filter_pairs(spark, sf_dir):
    """Exact Jaccard-threshold similarity join via AllPairs/PPJoin
    prefix filtering (operators/dedup.py:prefix_filter_pairs): only the
    rarest (1−t)-fraction prefix of each doc's canonically-ordered
    shingle set is indexed, a BIGINT cross-multiplied size filter
    prunes length-incompatible collisions, and shingle arrays are
    re-attached for candidate pairs only.  The EXACT counterpart of the
    probabilistic banded-MinHash path — same output as the full
    inverted-index join at 5.4× fewer joined rows on this corpus
    (and the gap widens with t).  Oracle = brute force over all pairs."""
    from stash_log_parser_spark.operators.dedup import prefix_filter_pairs

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 250)
    return prefix_filter_pairs(docs, n=3, threshold=0.4).orderBy(
        "doc_a", "doc_b"
    )


def _q_emb_mutual_knn(spark, sf_dir):
    """Mutual-nearest-neighbor pair mining between two label populations
    (the bitext/alignment-mining shape) with Artetxe–Schwenk ratio
    margins — one scored relation feeds both argmax directions and both
    neighborhood sums; cosines carried as BIGINT micro-units so margins
    are exact until one division — see
    operators/similarity.py:mutual_knn_pairs."""
    from stash_log_parser_spark.operators.similarity import mutual_knn_pairs

    # A side spread (the Arrow scoring kernel parallelizes across its
    # partitions); B side on the plain read — it is driver-collected by
    # the kernel, so an exchange before the collect is pure cost.
    emb_a = _emb(spark, sf_dir, spread=True).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    emb_b = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return mutual_knn_pairs(
        emb_a.filter(F.col("label") == 0),
        emb_b.filter(F.col("label") == 1),
        k_margin=4,
    )


def _q_emb_knn_bruteforce(spark, sf_dir):
    from stash_log_parser_spark.operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir, spread=True).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, q, k=5).select("query_id", "vec_id", "cosine", "rank")


# -- approximate operators, oracled by exactness-on-this-corpus --------------
#
# The LSH operators are approximate in general, but on the driver's FIXED
# corpora their parameters are chosen so the candidate sets provably or
# empirically cover every true pair (near-dup docs here sit at jaccard
# ≥ 0.9, where band-collision probability is ~1-1e-8; planted duplicate
# embeddings share every LSH bucket BY CONSTRUCTION) — so the verified
# output EQUALS the bruteforce result and plain bruteforce SQL is an
# exact oracle. pytest keeps the recall/containment properties honest on
# perturbed inputs.


def _q_docs_minhash_lsh_pairs(spark, sf_dir):
    from stash_log_parser_spark.operators.dedup import minhash_lsh_pairs

    # bands=8 (rows=2): a j=0.9 pair escapes all 8 bands with p≈2e-8 —
    # on this corpus the LSH pair set equals the bruteforce pair set
    # (verified at sf0.001/sf0.01/sf0.1), which the oracle checks. The
    # bucket-cap audit (n_capped_buckets / n_capped_entries) runs too —
    # truncation is never silent; on this corpus nothing is capped, so
    # auditing cannot perturb the oracled output.
    cap: dict = {}
    out = minhash_lsh_pairs(
        _docs(spark, sf_dir, spread=True), bands=8, jaccard_threshold=0.2, cap_metrics=cap
    )
    assert cap["n_capped_buckets"] == 0, cap
    return out


def _q_docs_simhash(spark, sf_dir):
    """SimHash signatures; oracle = committed golden parquet (xxhash64 is
    not reproducible in DuckDB — tools/make_goldens.py regenerates)."""
    from stash_log_parser_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir, spread=True))


def _q_emb_lsh_topk(spark, sf_dir):
    from stash_log_parser_spark.operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir, spread=True).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # 16 tables × 3 planes: candidate sets cover the exact top-5 for
    # every query on this corpus (verified sf0.001/sf0.01), so the
    # brute-force top-k SQL is an exact oracle.
    return lsh_topk(emb, q, k=5, tables=16, n_planes=3)


def _q_emb_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) approximate top-k. Unlike the LSH queries this
    needs NO exactness-on-corpus argument: the DuckDB oracle is a full
    mirror of the algorithm (deterministic first-n centroids, argmax-
    cosine cell assignment, nprobe probing, exact re-rank), so it checks
    the IVF result INCLUDING its misses."""
    from stash_log_parser_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    return ivf_topk(emb, q, k=5, n_cells=16, nprobe=4)


def _q_emb_mutual_knn_ivf(spark, sf_dir):
    """IVF-bucketed mutual-kNN mining (the scale path of
    emb_mutual_knn): A rows probe their 8 nearest of 16 cells, score
    only the B rows assigned there, then the identical mutual/margin
    back half. Like emb_ivf_topk the DuckDB oracle is a FULL mirror of
    the algorithm (deterministic first-16 centroids, argmax assignment,
    quantized probe ranking, candidate windows) — misses included, so
    the approximation plumbing itself is value-hash-checked."""
    import numpy as np

    from stash_log_parser_spark.operators.similarity import mutual_knn_ivf

    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    emb_a = _emb(spark, sf_dir, spread=True).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = np.array(
        [r.embedding for r in emb.orderBy("vec_id").limit(16).collect()]
    )
    return mutual_knn_ivf(
        emb_a.filter(F.col("label") == 0),
        emb.filter(F.col("label") == 1),
        cents,
        nprobe=8,
        k_margin=4,
    )


def _q_emb_ivfpq_topk(spark, sf_dir):
    """IVFADC (Jégou et al. 2011): coarse-quantizer cell routing +
    product-quantized asymmetric-distance scoring — the composition a
    10^12-vector index ships. ADC table entries are strict left-fold
    e6-floored BIGINTs, so scores are exact integer sums and the
    full-chain DuckDB mirror (centroids → cells → codebooks → codes →
    probes → table → lookup-sum) value-hashes misses included — see
    operators/similarity.py:ivfpq_topk."""
    from stash_log_parser_spark.operators.similarity import ivfpq_topk

    emb = _emb(spark, sf_dir)
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    return ivfpq_topk(emb, q, m=4, k=8, n_cells=16, nprobe=4, topk=5)


def _q_emb_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette per IVF cell + overall
    (cell = -1): the cluster-quality eval of the k-means coarse
    quantizer — see operators/similarity.py:silhouette_by_cell."""
    from stash_log_parser_spark.operators.similarity import silhouette_by_cell

    return silhouette_by_cell(_emb(spark, sf_dir), n_cells=16, iters=2)


def _silhouette_sql(iters: int = 2, n_cells: int = 16, dim: int = 64) -> str:
    """DuckDB mirror of silhouette_by_cell: same k-means fit/assignment
    prefix, round6-quantized cosines to every centroid, s summed as
    integer micro units; cells come out 0-based (cid - 1) to match the
    Spark argmax index."""
    prefix, final = _kmeans_cells_prefix(iters, n_cells, dim)
    return f"""WITH {prefix},
cosr AS (
  SELECT m.vec_id, m.cell, c.cid,
         floor(list_cosine_similarity(m.vec, c.cvec) * 1000000 + 0.5)
           / 1000000 AS cr
  FROM cells m CROSS JOIN {final} c),
ab AS (
  SELECT vec_id, cell,
         max(CASE WHEN cid = cell THEN cr END) AS own,
         max(CASE WHEN cid <> cell THEN cr END) AS oth
  FROM cosr GROUP BY vec_id, cell),
s AS (
  SELECT cell, CAST(floor((CASE WHEN greatest(1.0 - own, 1.0 - oth) > 0
      THEN ((1.0 - oth) - (1.0 - own)) / greatest(1.0 - own, 1.0 - oth)
      ELSE 0.0 END) * 1000000 + 0.5) AS BIGINT) AS s_micro
  FROM ab),
per AS (
  SELECT CAST(cell - 1 AS INTEGER) AS cell,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(s_micro) AS BIGINT) AS sm
  FROM s GROUP BY cell),
u AS (
  SELECT cell, n_vecs, sm FROM per
  UNION ALL
  SELECT CAST(-1 AS INTEGER), CAST(sum(n_vecs) AS BIGINT),
         CAST(sum(sm) AS BIGINT) FROM per)
SELECT cell, n_vecs,
       floor(sm::DOUBLE / (1000000.0 * n_vecs::DOUBLE) * 1000000 + 0.5)
         / 1000000 AS mean_sil
FROM u ORDER BY cell"""


def _q_emb_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-k with a TRAINED coarse quantizer: 2 seeded distributed
    Lloyd iterations (init = first-16-by-id, per-cell means rounded to
    6 decimals JVM-side each step) instead of the raw first-n sample —
    closing the round-2 'centroids would come from a k-means fit' IOU.
    The DuckDB oracle is a full algorithm mirror INCLUDING the two
    iterations (see _ivf_kmeans_sql), so the fit itself — assignment
    tie-breaks, mean rounding, empty-cell carry-over — is cross-engine
    verified, not just the final probe."""
    from stash_log_parser_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    return ivf_topk(emb, q, k=5, n_cells=16, nprobe=4, kmeans_iters=2)


def _kmeans_cells_prefix(iters: int = 2, n_cells: int = 16,
                         dim: int = 64) -> tuple[str, str]:
    """Shared CTE prefix for every k-means-fitted oracle: ``e`` (the
    embedding scan), ``cents0``..``cents{iters}`` (the fit — cents0 =
    first-n by id; each iteration re-assigns by argmax cosine, cid ASC
    tie-break == np.argmax first-occurrence since cents0 cids are
    ordered like the numpy rows, then takes per-cell means rounded to
    6 decimals — the same JVM-side F.round the Spark fit uses; empty
    cells coalesce to the previous centroid, exactly like the Spark
    carry-over) and ``cells`` (the final assignment, 1-based cid).
    Returns (cte_sql, final_cents_name)."""
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)",
        f"""cents0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cid, vec AS cvec
  FROM (SELECT vec_id, vec FROM e ORDER BY vec_id LIMIT {n_cells}))""",
    ]
    for it in range(1, iters + 1):
        prev = f"cents{it - 1}"
        ctes.append(f"""assign{it} AS (
  SELECT vec_id, vec, cid AS cell FROM (
    SELECT e.vec_id, e.vec, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.vec, c.cvec) DESC, c.cid ASC) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1)""")
        ctes.append(f"""cents{it} AS (
  SELECT p.cid, coalesce(m.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN (
    SELECT cell AS cid, list(mv ORDER BY i) AS cvec FROM (
      SELECT a.cell, t.i, round(sum(a.vec[t.i]) / count(*), 6) AS mv
      FROM assign{it} a CROSS JOIN generate_series(1, {dim}) t(i)
      GROUP BY a.cell, t.i)
    GROUP BY cell) m ON m.cid = p.cid)""")
    final = f"cents{iters}"
    ctes.append(f"""cells AS (
  SELECT vec_id, vec, cid AS cell FROM (
    SELECT e.vec_id, e.vec, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.vec, c.cvec) DESC, c.cid ASC) AS rn
    FROM e CROSS JOIN {final} c) WHERE rn = 1)""")
    return ",\n".join(ctes), final


def _ivf_kmeans_sql(iters: int = 2, n_cells: int = 16, dim: int = 64,
                    nprobe: int = 4, k: int = 5) -> str:
    """DuckDB mirror of ivf_topk(kmeans_iters=N) — fit/assignment CTEs
    shared via _kmeans_cells_prefix."""
    prefix, final = _kmeans_cells_prefix(iters, n_cells, dim)
    return f"""WITH {prefix},
q AS (SELECT vec_id AS query_id, vec AS qvec FROM e ORDER BY vec_id LIMIT 3),
qprobe AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT q.query_id, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC, c.cid ASC) AS rn
    FROM q CROSS JOIN {final} c) WHERE rn <= {nprobe}),
scored AS (
  SELECT p.query_id, m.vec_id,
         round(list_cosine_similarity(m.vec, p.qvec), 6) AS cosine
  FROM qprobe p JOIN cells m ON m.cell = p.cell)
SELECT query_id, vec_id, cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
ORDER BY query_id, rank"""


def _q_emb_label_centroids(spark, sf_dir):
    """Per-label embedding centroids as narrow (label, dim) rows."""
    from stash_log_parser_spark.operators.similarity import label_centroids

    return label_centroids(_emb(spark, sf_dir)).orderBy("label", "dim")


def _q_emb_centroid_sims(spark, sf_dir):
    """Pairwise cosine between label centroids (domain-affinity matrix)."""
    from stash_log_parser_spark.operators.similarity import (
        centroid_similarity,
        label_centroids,
    )

    return centroid_similarity(label_centroids(_emb(spark, sf_dir))).orderBy(
        "label_a", "label_b"
    )


def _q_emb_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization (the 4-8× ANN bandwidth
    lever), verified through scalar digests: rounded scale, saturated-
    code count, code sum and L1 — every step portable arithmetic, so
    the DuckDB mirror reproduces the quantizer exactly."""
    from stash_log_parser_spark.operators.similarity import quantize_int8

    q8 = quantize_int8(
        _emb(spark, sf_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
    )
    return q8.select(
        "vec_id",
        F.round("scale", 9).alias("scale9"),
        F.size(F.filter("codes", lambda c: F.abs(c) == 127)).alias("n_sat"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda acc, c: acc + c
        ).alias("qsum"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda acc, c: acc + F.abs(c)
        ).alias("ql1"),
    ).orderBy("vec_id")


def _q_emb_knn_int8(spark, sf_dir):
    """Approximate top-k by int8-quantized inner product; the oracle is
    a FULL mirror of the quantizer + exact-integer dot + fixed-order
    scale multiply, so the int8 path's misses are checked too."""
    from stash_log_parser_spark.operators.similarity import int8_knn

    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return int8_knn(emb, q, k=5)


def _q_emb_near_dup_pairs(spark, sf_dir):
    """Near-duplicate detection with planted duplicates: the corpus'
    random embeddings have no true near-dups, so the query plants exact
    copies of the first 50 vectors under vec_id+100000. Identical
    vectors share every LSH bucket by construction, so recall of the
    planted pairs is 1 deterministically and the output equals the
    bruteforce pair set (the DuckDB oracle plants the same copies)."""
    from stash_log_parser_spark.operators.similarity import embedding_near_dup_pairs

    emb = (
        _emb(spark, sf_dir)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
    )
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return embedding_near_dup_pairs(
        emb.unionByName(planted), cosine_threshold=0.95
    ).orderBy("id_a", "id_b")


def _q_emb_near_dup_bruteforce(spark, sf_dir):
    """Exact-pair embedding cosine above threshold (oracle twin of the
    LSH near-dup path; O(n²) — the scale path is emb_near_dup_pairs)."""
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).filter(F.col("vec_id") < 300)
    from stash_log_parser_spark.operators.similarity import cosine_expr

    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine_expr(F.col("a.embedding"), F.col("b.embedding")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
        .orderBy("id_a", "id_b")
    )


def _q_media_features(spark, sf_dir):
    from stash_log_parser_spark.operators.multimodal import extract_features, synth_media

    # use_real_decoder=False pins the deterministic fake: the committed
    # golden must not depend on whether the executors ship Pillow
    feats = extract_features(synth_media(spark, n=60, seed=42), use_real_decoder=False)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.get("feature", 0).cast("double"), 3).alias("f0"),
        "thumb_w",
        "thumb_h",
    )


def _q_media_resize(spark, sf_dir):
    """Binary-OUT multimodal plumbing: resize every payload to an 8×8
    thumbnail — a NEW binary column leaves the Arrow stage (digested to
    md5 for the oracle compare; the resample kernel is the declared
    deterministic stand-in — no media libs in this container). Oracle =
    committed golden (tools/make_goldens.py)."""
    from stash_log_parser_spark.operators.multimodal import resize_media, synth_media

    return resize_media(synth_media(spark, n=60, seed=42), target=(8, 8)).select(
        "media_id",
        "kind",
        F.md5("payload").alias("payload_md5"),
        "width",
        "height",
        "n_bytes",
    )


def _q_media_frames(spark, sf_dir):
    """Frame-sampling plumbing for video rows; the oracle independently
    recomputes the sampled indices (generate_series) from the pinned
    media metadata golden."""
    from stash_log_parser_spark.operators.multimodal import sample_frames, synth_media

    return sample_frames(synth_media(spark, n=60, seed=42), every_n=10).orderBy(
        "media_id", "frame_index"
    )


def _q_log_pipeline_e2e(spark, sf_dir):
    """Full parse→enrich→route run into a temp sink dir; returns the
    metrics sink (demonstrates fan-out + lineage end-to-end)."""
    import tempfile

    from stash_log_parser_spark.plans.routing import run_pipeline
    from stash_log_parser_spark.sources.catalog import SinkCatalog

    out = tempfile.mkdtemp(prefix="slp_sinks_")
    run_pipeline(spark, _ensure_corpus(), out, run_id="driver-check")
    m = SinkCatalog(spark, out).read("metrics")
    # pin column order/types (partition col `day` reads back last and may
    # be type-inferred) so the DuckDB twin hashes identically
    return m.select(
        F.col("day").cast("string").alias("day"),
        "source",
        "total_lines",
        "parsed_lines",
        "malformed_lines",
    ).orderBy("day", "source")


def _q_log_stream_ingest(spark, sf_dir):
    """The STREAMING front door end-to-end: foreachBatch routes micro-
    batches into the same per-analysis sinks (per-(batch, day) overwrite
    partitions = replay-idempotent), then the mergeable metrics partials
    are rolled up across batches. Oracle = the identical independent SQL
    as the batch e2e — the streaming and batch pipelines must land on
    the same answer."""
    import tempfile

    from stash_log_parser_spark.sources.catalog import SinkCatalog
    from stash_log_parser_spark.streaming.stream import streaming_ingest

    src = _ensure_stream_corpus(spark)
    out = tempfile.mkdtemp(prefix="slp_singest_")
    cp = tempfile.mkdtemp(prefix="slp_singest_cp_")
    streaming_ingest(spark, src, out, cp, max_files_per_trigger=4)
    m = SinkCatalog(spark, out).read("metrics")
    return (
        m.groupBy(F.col("day").cast("string").alias("day"), "source")
        .agg(
            F.sum("total_lines").cast("long").alias("total_lines"),
            F.sum("parsed_lines").cast("long").alias("parsed_lines"),
            F.sum("malformed_lines").cast("long").alias("malformed_lines"),
        )
        .orderBy("day", "source")
    )


_STREAM_CORPUS_DIR: list = []


def _ensure_stream_corpus(spark) -> str:
    """Stage the committed corpus once per session as an 8-file parquet
    dir for the streaming front-door queries (ingest + sketch rollup
    reuse it; checkpoints stay per-query)."""
    if not _STREAM_CORPUS_DIR:
        import tempfile

        d = tempfile.mkdtemp(prefix="slp_stream_src_")
        spark.read.parquet(_ensure_corpus()).select(
            "doc_id", "tokens", "n_tok", "source"
        ).repartition(8).write.mode("overwrite").parquet(d)
        _STREAM_CORPUS_DIR.append(d)
    return _STREAM_CORPUS_DIR[0]


def _q_log_stream_duration_sketch(spark, sf_dir):
    """The mergeable-sketch claim exercised through the STREAMING door:
    foreachBatch ingest writes per-(batch, day) histogram partials;
    the global rollup merges them into percentiles that must equal the
    single-pass batch sketch — the oracle is the very same sketch SQL
    (log_duration_percentiles_sketch), so mergeability across batch
    boundaries is what's actually being checked."""
    import tempfile

    from stash_log_parser_spark.operators.analyses import percentiles_from_histogram
    from stash_log_parser_spark.sources.catalog import SinkCatalog
    from stash_log_parser_spark.streaming.stream import streaming_ingest

    src = _ensure_stream_corpus(spark)
    out = tempfile.mkdtemp(prefix="slp_sds_")
    cp = tempfile.mkdtemp(prefix="slp_sds_cp_")
    streaming_ingest(spark, src, out, cp, max_files_per_trigger=4)
    hist = SinkCatalog(spark, out).read("duration_hist_daily")
    return percentiles_from_histogram(hist)


def _q_tpch_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: the 6-table join (region→nation→customer/
    supplier→orders→lineitem) with the same-nation customer/supplier
    restriction — the classic join-reorder/broadcast workout. Only the
    true dimensions (region, nation⨝region: fixed 5/25 rows at every
    scale factor) carry broadcast hints; customer and supplier are
    fact-proportional, so their joins are left to AQE — broadcast while
    small, shuffled at scale (round-3 verdict: a forced broadcast of
    customer OOMs at 100×). The orders⨝lineitem join is the only
    unavoidable large shuffle."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dims = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    cust = customer.join(
        F.broadcast(dims), customer.c_nationkey == dims.n_nationkey
    ).select("c_custkey", "n_nationkey", "n_name")
    supp = supplier.select("s_suppkey", "s_nationkey")
    j = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, lineitem.l_suppkey == supp.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("n_nationkey"))
    )
    # per-ROW cents before summing (the repo's float policy): integer
    # sums are accumulation-order-independent, unlike sum-then-quantize
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("n_name")
        .agg(F.sum(_cents(rev)).alias("revenue_cents"), F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue_cents"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# session-3 additions: time-series / robust-stats / layout shapes
# ---------------------------------------------------------------------------


def _q_events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences — the behavioural-model building block (next-action
    prediction, anomaly scoring of improbable paths). One lag window
    per user (ties broken by event_id, so the sequence is total-ordered
    and engine-independent), then a (prev, next) hash-agg; row
    probabilities divide by the prev-state total via a second window
    over the |types|²-row matrix — dimension-sized, never the fact
    table. Scale: the only fact-sized shuffle is the user_id lag
    window, the same key the sessionize family already pays."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        round6(F.col("n") / F.sum("n").over(tot)).alias("prob"),
    ).orderBy("prev_type", "next_type")


def _q_events_mad_outliers(spark, sf_dir):
    """Robust anomaly detection: median / MAD (median absolute
    deviation) per event type plus the count of values beyond the
    3×MAD fence — unlike the z-score twin (events_outliers) the fence
    itself is immune to the outliers it hunts. Exact medians
    (percentile, not approx) — two passes over events with a broadcast
    of the |types|-row stats between them. Every fence compare happens
    on round6-quantized deviations against a single IEEE multiply
    (3*mad), identical in both engines, so membership is exact."""
    from stash_log_parser_spark.operators.textstats import round6

    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        round6(F.expr("percentile(value, 0.5)")).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        round6(F.abs(F.col("value") - F.col("med"))).alias("dev"),
    )
    stats = dev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.first("med").alias("med"),
        round6(F.expr("percentile(dev, 0.5)")).alias("mad"),
    )
    out = (
        dev.join(F.broadcast(stats.select("event_type", "mad")), "event_type")
        .filter(F.col("dev") > 3 * F.col("mad"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_out"))
    )
    return (
        stats.join(out, "event_type", "left")
        .select(
            "event_type",
            "n",
            "med",
            "mad",
            F.coalesce(F.col("n_out"), F.lit(0)).cast("long").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def _q_log_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation of per-minute request counts per protocol
    — the burstiness twin that measures *memory*: r≈0 for Poisson
    traffic, r→1 when load trends minute-over-minute (a ramp or an
    attack, not noise). Pearson r from explicit
    (n, Σx, Σy, Σxy, Σx², Σy²) sums over (c_t, c_{t+1}) pairs built by
    one lead window over the (protocol, minute) series — the window
    input is the per-minute rollup (thousands of rows), never raw
    lines."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    parsed = _parsed(spark).filter(F.col("is_parsed"))
    per_min = parsed.groupBy(
        "protocol", F.date_format("ts", "yyyy-MM-dd HH:mm").alias("minute")
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("protocol").orderBy("minute")
    xy = per_min.select(
        "protocol",
        F.col("c").cast("double").alias("x"),
        F.lead("c").over(w).cast("double").alias("y"),
    ).filter(F.col("y").isNotNull())
    s = xy.groupBy("protocol").agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    m = F.col("m").cast("double")
    num = m * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (m * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (m * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "protocol",
        F.col("m").alias("n_pairs"),
        round6(num / den).alias("r_lag1"),
    ).orderBy("protocol")


def _q_docs_zorder_key(spark, sf_dir):
    """Z-order (Morton) layout key over (doc_id mod 256, n_chars mod
    256) — the multi-dimensional clustering transform lakehouse writers
    (Delta OPTIMIZE ZORDER, Iceberg sort orders) apply so file-level
    min/max stats prune on BOTH dimensions at once. The 16-bit
    interleave is explicit integer bit arithmetic — exact in any
    engine; here it keys an ordered layout preview (first 100 rows by
    zkey). At scale this expression feeds repartitionByRange(zkey)
    before the writer, turning two unrelated predicates into file
    skips."""
    docs = _docs(spark, sf_dir)
    b1 = F.pmod(F.col("doc_id"), F.lit(256))
    b2 = F.pmod(F.col("n_chars"), F.lit(256))
    z = F.lit(0)
    for k in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(b1, k).bitwiseAND(F.lit(1)), 2 * k + 1)
            + F.shiftleft(F.shiftright(b2, k).bitwiseAND(F.lit(1)), 2 * k)
        )
    return (
        docs.select(
            "doc_id",
            b1.alias("b_doc"),
            b2.alias("b_len"),
            z.cast("long").alias("zkey"),
        )
        .orderBy("zkey", "doc_id")
        .limit(100)
    )


def _q_docs_dup_ngram_spans(spark, sf_dir):
    """Duplicate 8-gram span census per document (Lee et al. 2022
    suffix-array dedup signal) — see
    operators/dedup.py:duplicate_ngram_spans for the scale shape."""
    from stash_log_parser_spark.operators.dedup import duplicate_ngram_spans

    return duplicate_ngram_spans(_docs(spark, sf_dir), n=8).orderBy("doc_id")


def _q_docs_source_kl_drift(spark, sf_dir):
    """Per-source KL divergence of the unigram distribution against the
    whole-corpus distribution — the distribution-drift detector a
    corpus owner runs per domain/crawl snapshot before mixing (a source
    whose KL jumps is spam, a template flood, or a language shift).
    KL(source ‖ corpus) = Σ_w p ln(p/q) over the source's vocabulary.
    Scale: one word-keyed hash-agg builds (source, w) counts; the
    corpus marginals derive from THAT table (no second scan of the
    text); the per-source totals broadcast. The fact-sized shuffle is
    the word-keyed census every vocab query already pays."""
    from stash_log_parser_spark.operators.textstats import round6

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    sw = words.groupBy("source", "w").agg(F.count("*").alias("c"))
    ns = sw.groupBy("source").agg(F.sum("c").alias("ns"))
    cw = sw.groupBy("w").agg(F.sum("c").alias("cw"))
    ntot = sw.agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("ns")
    q = F.col("cw") / F.col("n")
    return (
        sw.join(F.broadcast(ns), "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(ntot))
        .groupBy("source")
        .agg(
            F.first("ns").alias("n_words"),
            F.count("*").alias("vocab_size"),
            round6(F.sum(p * F.log(p / q))).alias("kl_nats"),
        )
        .orderBy("source")
    )


def _q_tpch_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    the slim schema (no l_receiptdate/l_commitdate): for multi-supplier
    orders, count per supplier the orders where THIS supplier shipped
    strictly last (its per-order max l_shipdate equals the order max
    and no other supplier shares it) — the exists/not-exists pair of
    the original, restated as two window aggregates over the
    (order, supplier) rollup. Scale note: the rollup is a partial hash-agg
    on (orderkey, suppkey); both windows share ONE orderkey exchange
    (Catalyst collapses same-spec windows); supplier join is
    AQE-decided (no forced broadcast of a fact-proportional table —
    round-3 verdict rule)."""
    from pyspark.sql import Window

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    ss = lineitem.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("s_max")
    )
    w = Window.partitionBy("l_orderkey")
    w2 = (
        ss.withColumn("o_max", F.max("s_max").over(w))
        .withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "n_at_max",
            F.sum((F.col("s_max") == F.col("o_max")).cast("int")).over(w),
        )
    )
    waiting = w2.filter(
        (F.col("n_supp") >= 2)
        & (F.col("s_max") == F.col("o_max"))
        & (F.col("n_at_max") == 1)
    )
    return (
        waiting.join(supplier, waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(25)
    )


def _q_tpch_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (important stock), adapted to the slim schema
    (no partsupp): per-part revenue from suppliers of region 0's
    nations, kept when the part's value exceeds 2× the mean part value
    — a scale-free threshold (Q11's fixed fraction starves to 0 rows
    as the part count grows). The compare is EXACT integer
    cross-multiplication (value_cents * n_parts > 2 * total_cents) —
    no float threshold can flip a row between engines. Scale:
    nation/region broadcast
    (true dimensions); the scalar total re-enters via a 1-row
    broadcast cross join; per-row cents before summing keeps the
    aggregate accumulation-order-independent."""
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    nat0 = nation.filter(F.col("n_regionkey") == 0).select("n_nationkey")
    supp0 = supplier.join(
        F.broadcast(nat0), supplier.s_nationkey == nat0.n_nationkey
    ).select("s_suppkey")
    li = lineitem.join(supp0, lineitem.l_suppkey == supp0.s_suppkey)
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("value_cents"))
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * F.col("n_parts") > 2 * F.col("total_cents"))
        .join(part, per_part.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "value_cents")
        .orderBy(F.desc("value_cents"), F.asc("p_partkey"))
    )


def _q_tpch_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year), adapted
    to the slim schema (no partsupp.ps_supplycost): cost basis is
    0.6·p_retailprice per unit, so profit = extprice·(1−disc) −
    0.6·retail·qty for parts named '%bolt%'. Per-row integer cents
    before the sum keep the aggregate order-independent (negatives
    included). Scale: nation broadcast (true dimension); part/supplier/
    orders joins AQE-decided — part is SF-proportional, never
    force-broadcast (round-3 verdict rule)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey", "p_retailprice")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    nation = F.broadcast(
        spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_name"
        )
    )
    amount = _cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("long").alias("profit_cents"))
        .orderBy("nation", F.desc("o_year"))
    )


def _q_tpch_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part), adapted to the slim
    schema (no partsupp.ps_supplycost): each supplier's offer price for
    a part is its OBSERVED unit sell price — exact per-pair sums
    Σcents(extprice)/Σqty, round6-quantized so the per-part min and the
    equality join-back match bit-for-bit across engines. SMALL-type
    parts, region EUROPE suppliers, Q2's ORDER BY (acctbal DESC) LIMIT
    100 with full tie-break. Scale: the (part, supplier) rollup is one
    partial hash-agg; the per-part min is a window over that rollup
    keyed on partkey — no second corpus scan; nation/region broadcast,
    part/supplier AQE-decided."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6 as _round6

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_type") == "SMALL"
    ).select("p_partkey", "p_name")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "EUROPE"
    )
    nat = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("pc"),
        F.sum(F.col("l_quantity")).cast("long").alias("q"),
    ).filter(F.col("q") > 0)
    unit = _round6(F.col("pc").cast("double") / F.col("q").cast("double"))
    offers = (
        ps.withColumn("unit_cost", unit)
        .join(part, ps.l_partkey == part.p_partkey)
        .join(supp, ps.l_suppkey == supp.s_suppkey)
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", F.col("n_name").alias("nation"),
            "p_partkey", "p_name", "unit_cost",
        )
        .orderBy(
            F.desc("s_acctbal"), "nation", "s_name", "p_partkey"
        )
        .limit(100)
    )


def _q_tpch_dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (candidate-supplier promotion), adapted to the
    slim schema (no partsupp.ps_availqty): a supplier DOMINATES a
    'small%' part when it shipped more than 1.5× its fair share of
    that part's total quantity — Q20's exists-with-correlated-
    threshold, restated as an EXACT integer cross-multiplication
    (2·n_supp·qty_s > 3·qty_total; no float 1.5/n can flip a row).
    Reports suppliers with ≥1 dominated part. Scale: one (part,
    supplier) partial hash-agg; the per-part total AND supplier count
    are windows over the rollup sharing one partkey exchange; nation
    broadcast."""
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = F.broadcast(
        spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_name"
        )
    )
    ps = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )
    w = Window.partitionBy("l_partkey")
    dom = (
        ps.withColumn("qt", F.sum("q").over(w))
        .withColumn("ns", F.count("*").over(w))
        .filter(2 * F.col("ns") * F.col("q") > 3 * F.col("qt"))
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("long").alias("n_dominated"))
    )
    return (
        dom.join(supp, dom.l_suppkey == supp.s_suppkey)
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_name", F.col("n_name").alias("nation"), "n_dominated"
        )
        .orderBy("s_name")
    )


def _q_emb_pca_power(spark, sf_dir):
    """Top principal direction of the embedding table via two
    distributed power iterations (see
    operators/similarity.py:pca_power_iteration). The oracle unrolls
    both Xᵀ(Xv) passes in SQL — the iterate is re-quantized to 1e-6
    after every normalization on BOTH engines, so the trajectory is
    engine-exact (same discipline as the k-means-fit oracle)."""
    from stash_log_parser_spark.operators.similarity import pca_power_iteration

    return pca_power_iteration(
        _emb(spark, sf_dir).select("embedding"), iters=2
    ).orderBy("dim")


def _zorder_sql() -> str:
    terms = []
    for k in range(8):
        # fully parenthesize each term: SQL '<<' binds looser than '+'
        terms.append(f"((((doc_id % 256) >> {k}) & 1) << {2 * k + 1})")
        terms.append(f"((((n_chars % 256) >> {k}) & 1) << {2 * k})")
    expr = "\n         + ".join(terms)
    return f"""
SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS b_doc,
       CAST(n_chars % 256 AS BIGINT) AS b_len,
       CAST({expr} AS BIGINT) AS zkey
FROM documents ORDER BY zkey, doc_id LIMIT 100"""


def _q_docs_dsir_importance(spark, sf_dir):
    """DSIR importance weighting against the src0 "target domain":
    hashed unigram+bigram bucket log-likelihood ratios, integer-micro
    quantized at the <=1024-row bucket dimension so per-doc sums are
    BIGINT (order-independent, engine-exact). See
    operators/mixture.py:dsir_importance."""
    from stash_log_parser_spark.operators.mixture import dsir_importance

    return dsir_importance(
        _docs(spark, sf_dir), target_source="src0", n_buckets=1024
    ).orderBy("doc_id")


def _q_corpus_token_budget(spark, sf_dir):
    """Quality-first token-budget selection (60k-char budget): keep
    the best documents until the budget is spent — the two-level
    distributed prefix scan over (quality DESC, doc_id) order. Oracle
    is the equivalent single global window."""
    from stash_log_parser_spark.operators.mixture import select_token_budget
    from stash_log_parser_spark.operators.textstats import text_stats

    docs = _docs(spark, sf_dir)
    ts = text_stats(docs).select("doc_id", "quality_score")
    joined = docs.select("doc_id", "n_chars").join(ts, "doc_id")
    return select_token_budget(joined, budget=60_000).orderBy("doc_id")


def _q_emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining: per query, the 5 most-cosine-similar
    vectors with a DIFFERENT label (the near-miss negatives
    contrastive training wants). Same broadcast-scan-window plan as
    the exact KNN, label filter pushed into the scan."""
    from stash_log_parser_spark.operators.similarity import hard_negatives

    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return hard_negatives(emb, q, k=5).select(
        "query_id", "vec_id", "label", "cosine", "rank"
    )


def _q_log_top_repo_p99(spark, sf_dir):
    """Composition: the 5 highest-traffic repos, each with exact
    p50/p99 duration — the "which hot repos are slow" dashboard
    query. Top-k (TakeOrderedAndProject) feeds a broadcast semi-join
    back onto the duration stream; percentiles after the filter so
    the heavy agg only sees 5 groups."""
    p = _parsed(spark).filter(
        F.col("is_parsed")
        & F.col("op_type").isNotNull()
        & F.col("duration_ms").isNotNull()
        & F.col("repo_slug").isNotNull()
    )
    top = (
        p.groupBy("repo_slug")
        .agg(F.count("*").alias("n_ops"))
        .orderBy(F.desc("n_ops"), F.asc("repo_slug"))
        .limit(5)
    )
    return (
        p.join(F.broadcast(top), "repo_slug")
        .groupBy("repo_slug", "n_ops")
        .agg(
            F.round(F.expr("percentile(duration_ms, 0.5D)"), 4).alias("p50"),
            F.round(F.expr("percentile(duration_ms, 0.99D)"), 4).alias("p99"),
        )
        .orderBy(F.desc("n_ops"), F.asc("repo_slug"))
    )


def _q_events_hll_users(spark, sf_dir):
    """Deterministic cross-engine HyperLogLog (operators/sketches.py):
    exact distinct users vs the 256-register HLL estimate and its
    relative error — the sketch self-validation shape (like the HDR
    p99 audit). Every intermediate is bit-exact across engines, so the
    estimate itself is value-hash oracled, not just 'close'."""
    from stash_log_parser_spark.operators.sketches import hll_estimate

    ev = _events(spark, sf_dir)
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    est = hll_estimate(ev, "user_id")
    return exact.join(est).select(
        "n_exact",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


def _q_events_stream_sessionize(spark, sf_dir):
    """Native STREAMING session windows (streaming/stream.py
    streaming_sessionize): the events table replays as 3 ts-ordered
    micro-batches, so sessions spanning batch boundaries must be
    merged by the session-window state store, not by in-batch
    grouping. Complete output mode drains every closed-and-open
    session; the oracle is the batch gap-island equivalent (new
    session iff gap STRICTLY exceeds 30 min — the session_window
    merge rule, pinned empirically; end = last event + gap)."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window
    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_sessionize,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id")
    n_chunks = 3
    # single-partition ntile over the committed corpus — test-harness
    # staging (same device as the stream-dedup query), not an operator
    d = _replay_chunks(
        ev, ["ts", "user_id"], n_chunks=n_chunks,
        order_by=["ts", "event_id"], prefix="slp_stream_sw_",
    )
    stream = (
        spark.readStream.schema("ts timestamp_ntz, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_sw_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_sessionize(stream, gap="30 minutes"),
        name,
        output_mode="complete",
    )
    return (
        spark.table(name)
        .select(
            "user_id",
            F.unix_micros("session_start").alias("s_start_us"),
            F.unix_micros("session_end").alias("s_end_us"),
            "n_events",
        )
        .orderBy("user_id", "s_start_us")
    )


def _q_log_repo_coaccess(spark, sf_dir):
    """Repo co-access pairs (market-basket over the access log) with
    the per-user incidence cap that bounds the self-join — see
    operators/analyses.py:repo_coaccess."""
    from stash_log_parser_spark.operators.analyses import repo_coaccess

    return repo_coaccess(_parsed(spark), max_repos_per_user=20, top_pairs=20)


def _q_docs_token_counts(spark, sf_dir):
    """BPE-ish pretokenizer token counting (letter runs / digit runs /
    single symbols) — see operators/textstats.py:token_counts."""
    from stash_log_parser_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_docs_quantile_norm(spark, sf_dir):
    """Per-source quantile normalization of quality_score
    (percent_rank within source) — see
    operators/textstats.py:quantile_normalize."""
    from stash_log_parser_spark.operators.textstats import (
        quantile_normalize,
        text_stats,
    )

    docs = _docs(spark, sf_dir)
    ts = text_stats(docs).select("doc_id", "quality_score")
    joined = docs.select("doc_id", "source").join(ts, "doc_id")
    return quantile_normalize(joined, "quality_score").orderBy("doc_id")


def _q_events_pettitt(spark, sf_dir):
    """Pettitt nonparametric changepoint over per-type daily counts
    (midrank identity keeps U_t exact BIGINT; no O(T²) double sum) —
    see operators/analyses.py:pettitt_changepoint."""
    from stash_log_parser_spark.operators.analyses import pettitt_changepoint

    return pettitt_changepoint(_events(spark, sf_dir))


def _q_events_cusum_drift(spark, sf_dir):
    """One-sided CUSUM change detection over per-type hourly counts
    (operators/analyses.py:cusum_drift): integer-micro state, so the
    reset recurrence is bit-exact and the oracle unrolls it with a
    recursive CTE."""
    from stash_log_parser_spark.operators.analyses import cusum_drift

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
    ).agg(F.count("*").alias("x"))
    return cusum_drift(hourly).orderBy("event_type", "hour")


def _q_docs_weighted_sample(spark, sf_dir):
    """Deterministic Efraimidis–Spirakis weighted sample (k=20,
    weight = n_chars) — see operators/mixture.py:weighted_sample."""
    from stash_log_parser_spark.operators.mixture import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir), k=20, weight_col="n_chars"
    ).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"), "race_key"
    )


def _q_events_stream_dedup_native(spark, sf_dir):
    """Built-in dropDuplicatesWithinWatermark streaming dedup over a
    3-micro-batch ts-ordered replay of events, keyed on
    (user_id, event_type): re-arrivals in LATER batches must be
    suppressed by the watermark state store. With the horizon wider
    than the replayed range this equals batch DISTINCT, which is the
    oracle."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window
    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_native_dedup,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    n_chunks = 3
    d = _replay_chunks(
        ev, ["ts", "user_id", "event_type"], n_chunks=n_chunks,
        order_by=["ts", "event_id"], prefix="slp_stream_nd_",
    )
    stream = (
        spark.readStream.schema("ts timestamp_ntz, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_nd_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_native_dedup(stream, ["user_id", "event_type"]),
        name,
        output_mode="append",
    )
    # keys only: WHICH row of a same-key batch is kept is engine
    # nondeterministic, the key set is not
    return (
        spark.table(name)
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


def _q_docs_kmv_vocab(spark, sf_dir):
    """KMV distinct-count sketch (k=64) of each source's vocabulary vs
    its exact size — the second mergeable cardinality sketch, fully
    value-hash oracled (operators/sketches.py:kmv_distinct)."""
    from stash_log_parser_spark.operators.sketches import kmv_distinct

    words = _docs(spark, sf_dir).select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    )
    return kmv_distinct(words, "word", "source", k=64).orderBy("source")


def _coaccess_edges(spark):
    from stash_log_parser_spark.operators.analyses import coaccess_pairs

    return coaccess_pairs(_parsed(spark), max_repos_per_user=20)


def _q_log_repo_pagerank(spark, sf_dir):
    """PageRank over the repo co-access graph (3 bulk-synchronous
    iterations, d=0.85, 1e-6-quantized trajectory) — see
    operators/graph.py:pagerank; the oracle unrolls the iterations as
    CTEs with the same per-step quantization."""
    from stash_log_parser_spark.operators.graph import pagerank

    return pagerank(_coaccess_edges(spark), iters=3, damping=0.85)


def _q_log_repo_triangles(spark, sf_dir):
    """Per-repo triangle census of the co-access graph via the
    degree-oriented wedge join (all-integer, no float risk) — see
    operators/graph.py:triangle_census."""
    from stash_log_parser_spark.operators.graph import triangle_census

    return triangle_census(_coaccess_edges(spark))


def _q_docs_cms_tokens(spark, sf_dir):
    """Count-min-sketch heavy hitters over the corpus vocabulary
    (depth 4 × width 256, md5-bucketed so the whole grid is
    engine-exact) — see operators/sketches.py:cms_heavy_hitters."""
    from stash_log_parser_spark.operators.sketches import cms_heavy_hitters

    words = _docs(spark, sf_dir).select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
    )
    return cms_heavy_hitters(words, "word", depth=4, width=256, top_k=30)


def _q_docs_chunk_stride(spark, sf_dir):
    """Context-window chunking (64-word windows, stride 32,
    right-anchored final window) — see
    operators/mixture.py:chunk_documents."""
    from stash_log_parser_spark.operators.mixture import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), window=64, stride=32).orderBy(
        "doc_id", "chunk_idx"
    )


def _q_docs_char_entropy(spark, sf_dir):
    """Per-doc character-distribution Shannon entropy (bits) — see
    operators/textstats.py:char_entropy."""
    from stash_log_parser_spark.operators.textstats import char_entropy

    return char_entropy(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_events_seasonal_naive(spark, sf_dir):
    """Seasonal-naive (24h-lag) forecast MAE per event type over
    hourly counts — see operators/analyses.py:seasonal_naive_error."""
    from stash_log_parser_spark.operators.analyses import seasonal_naive_error

    return seasonal_naive_error(_events(spark, sf_dir)).orderBy("event_type")


def _q_emb_matryoshka_recall(spark, sf_dir):
    """Matryoshka audit: recall@5 of first-16-dim truncated cosine KNN
    against the full 64-dim exact KNN (the MRL 4× prefix-truncation
    acceptance gate), composed from two mirrored cosine_topk
    pipelines — same device as emb_int8_recall_audit."""
    from stash_log_parser_spark.operators.similarity import cosine_topk
    from stash_log_parser_spark.operators.textstats import round6

    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, q, k=5).select("query_id", "vec_id")
    emb_t = emb.withColumn("embedding", F.slice("embedding", 1, 16))
    q_t = q.withColumn("query_vec", F.slice("query_vec", 1, 16))
    trunc = (
        cosine_topk(emb_t, q_t, k=5)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(trunc, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            round6(F.col("n_overlap") / F.lit(5.0)).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


def _plant_urls(docs: DataFrame) -> DataFrame:
    """Deterministically append two URLs (cdn{id%5}.example.com,
    mirror0.example.net) to every 3rd document — the corpus is
    URL-free word salad, so domain extraction needs planted positives
    (same device as _plant_pii); the oracle plants the identical
    suffix."""
    suffix = F.concat(
        F.lit(" see https://cdn"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com/a and http://mirror"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example.net/b"),
    )
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), suffix)
        ).otherwise(F.col("text")),
    )


def _q_docs_url_domains(spark, sf_dir):
    """Top URL domains (domain-mix report) over planted-URL docs — see
    operators/textstats.py:url_domains."""
    from stash_log_parser_spark.operators.textstats import url_domains

    return url_domains(_plant_urls(_docs(spark, sf_dir)), top_k=20)


def _q_events_session_paths(spark, sf_dir):
    """Top event-type trigram paths within 30-min-gap user sessions —
    see operators/analyses.py:session_paths."""
    from stash_log_parser_spark.operators.analyses import session_paths

    return session_paths(_events(spark, sf_dir), gap_s=1800, top_k=20)


def _q_docs_winsorized(spark, sf_dir):
    """Winsorized [p10, p90] robust mean of document length per source
    (integer-rank order-statistic boundaries) — see
    operators/textstats.py:winsorized_stats."""
    from stash_log_parser_spark.operators.textstats import winsorized_stats

    return winsorized_stats(
        _docs(spark, sf_dir), "n_chars", "source"
    ).orderBy("source")


def _q_events_hll_sliding(spark, sf_dir):
    """Trailing-24h distinct users per hour via MERGED hourly HLL
    register tables (scan once, answer every window from ≤24·256
    register rows) with the exact count riding along — see
    operators/sketches.py:hll_sliding_distinct."""
    from stash_log_parser_spark.operators.sketches import hll_sliding_distinct

    return hll_sliding_distinct(
        _events(spark, sf_dir), key_col="user_id", window_hours=24
    ).orderBy("hr")


def _q_docs_lsh_recall_audit(spark, sf_dir):
    """LSH self-validation: recall/precision of the banded-MinHash
    near-dup pairs against the exact n-gram-Jaccard pair set at the
    same threshold — the acceptance gate before trusting LSH at a
    scale where bruteforce is impossible. On this corpus the verified
    LSH set equals the exact set (bands=8 ⇒ miss p≈2e-8 at j≥0.9),
    which the oracle asserts — a real recall drop FAILS the value
    hash loudly."""
    from stash_log_parser_spark.operators.dedup import (
        jaccard_pairs_exact,
        minhash_lsh_pairs,
    )
    from stash_log_parser_spark.operators.textstats import round6

    docs = _docs(spark, sf_dir)
    # prefix-filtered inverted-index exact join — same output as the
    # bruteforce cross join (the oracle keeps that form), 249 s → ~4 s
    # at sf0.1
    exact = jaccard_pairs_exact(docs, n=3, threshold=0.2).select(
        "doc_a", "doc_b", F.lit(1).alias("_e")
    )
    lsh = minhash_lsh_pairs(docs, bands=8, jaccard_threshold=0.2).select(
        "doc_a", "doc_b", F.lit(1).alias("_l")
    )
    both = exact.join(lsh, ["doc_a", "doc_b"], "full")
    return both.agg(
        F.sum(F.coalesce("_e", F.lit(0))).alias("n_exact"),
        F.sum(F.coalesce("_l", F.lit(0))).alias("n_lsh"),
        F.sum(F.coalesce("_e", F.lit(0)) * F.coalesce("_l", F.lit(0))).alias(
            "n_overlap"
        ),
    ).select(
        "n_exact",
        "n_lsh",
        "n_overlap",
        round6(F.col("n_overlap") / F.col("n_exact")).alias("recall_at_t"),
        round6(F.col("n_overlap") / F.col("n_lsh")).alias("precision_at_t"),
    )


def _q_docs_ngram_novelty(spark, sf_dir):
    """Per-doc fraction of trigram shingles first seen in this doc
    (incremental-crawl novelty census) — see
    operators/dedup.py:ngram_novelty."""
    from stash_log_parser_spark.operators.dedup import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), n=3).orderBy("doc_id")


def _q_log_fuzzy_users(spark, sf_dir):
    """Blocked fuzzy username linkage over the distinct-user registry
    plus planted doubled-last-char typo variants (the corpus has no
    natural near-misses — same planted-positive device as pii_scrub).
    A variant differing in the FIRST char would be missed by the
    blocking on both engines alike; see
    operators/joins.py:fuzzy_match_pairs."""
    from stash_log_parser_spark.operators.joins import fuzzy_match_pairs

    users = (
        _parsed(spark)
        .filter(F.col("is_parsed") & F.col("username").isNotNull())
        .select("username")
        .distinct()
    )
    variants = users.select(
        F.concat(
            F.col("username"), F.substring(F.col("username"), -1, 1)
        ).alias("username")
    )
    aug = users.union(variants).distinct()
    return fuzzy_match_pairs(aug, "username", max_distance=2)


def _q_docs_token_pmi(spark, sf_dir):
    """Top adjacent-token collocations by PMI (min_count=5) — see
    operators/textstats.py:token_pmi_pairs."""
    from stash_log_parser_spark.operators.textstats import token_pmi_pairs

    return token_pmi_pairs(_docs(spark, sf_dir), min_count=5, top_k=30)


def _q_docs_tokenizer_fertility(spark, sf_dir):
    """Per-source tokenizer fertility (BPE-ish tokens per word, chars
    per token) — see operators/textstats.py:tokenizer_fertility."""
    from stash_log_parser_spark.operators.textstats import tokenizer_fertility

    return tokenizer_fertility(_docs(spark, sf_dir)).orderBy("source")


def _q_log_benford_durations(spark, sf_dir):
    """Benford first-digit forensics over request durations — see
    operators/analyses.py:benford_first_digit."""
    from stash_log_parser_spark.operators.analyses import benford_first_digit

    return benford_first_digit(
        _parsed(spark).filter(F.col("is_parsed")), "duration_ms"
    )


def _q_log_slo_burn(spark, sf_dir):
    """5-minute SLO burn-rate series (threshold 1000 ms, SLO 0.99)
    over outgoing request durations — see
    operators/analyses.py:slo_burn_rate."""
    from stash_log_parser_spark.operators.analyses import slo_burn_rate

    return slo_burn_rate(
        _parsed(spark), threshold_ms=1000, slo=0.99, window_min=5
    )


def _q_events_key_skew(spark, sf_dir):
    """Pre-shuffle skew audit of candidate partition keys (user_id vs
    event_type) — see operators/analyses.py:key_skew_audit."""
    from stash_log_parser_spark.operators.analyses import key_skew_audit

    return key_skew_audit(_events(spark, sf_dir), ["event_type", "user_id"])


def _q_emb_mmr_topk(spark, sf_dir):
    """MMR diversified retrieval (λ=0.7, pool 8 → select 4) over the
    exact cosine pool — see operators/similarity.py:mmr_topk; the
    oracle unrolls the four greedy rounds."""
    from stash_log_parser_spark.operators.similarity import mmr_topk

    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return mmr_topk(emb, q, pool_k=8, select_k=4, lam=0.7)


def _q_docs_pair_edit(spark, sf_dir):
    """Levenshtein verify stage over the LSH near-dup pairs (400-char
    prefixes bound the DP) — see operators/dedup.py:pair_edit_distance.
    Oracle pairs come from the exact Jaccard set, which equals the
    verified LSH set at this threshold (docs_lsh_recall_audit pins
    that equality)."""
    from stash_log_parser_spark.operators.dedup import (
        minhash_lsh_pairs,
        pair_edit_distance,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, bands=8, jaccard_threshold=0.2)
    return pair_edit_distance(docs, pairs, prefix_chars=400)


def _q_log_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend of hourly request counts (median of
    pairwise slopes + median intercept) — the outlier-proof companion
    to log_hourly_trend's OLS slope; see
    operators/analyses.py:theil_sen_trend."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.analyses import theil_sen_trend

    parsed = _parsed(spark).filter(F.col("is_parsed"))
    hourly = parsed.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
    ).agg(F.count("*").alias("n"))
    xy = hourly.select(
        (F.row_number().over(Window.orderBy("hour")) - 1)
        .cast("long")
        .alias("x"),
        F.col("n").cast("long").alias("y"),
    )
    return theil_sen_trend(xy)


def _q_tpch_bloom_prune(spark, sf_dir):
    """Bloom-filter semi-join pruning audit: BUILDING-segment customer
    keys build an md5-sliced Bloom filter, the orders fact probes it,
    and the one-row result reports pass/true/false-positive counts —
    see operators/joins.py:bloom_semi_audit (the engine-portable twin
    of Spark's runtime bloom-filter join pushdown)."""
    from stash_log_parser_spark.operators.joins import bloom_semi_audit

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return bloom_semi_audit(orders, cust, "o_custkey", "c_custkey", n_hashes=4)


def _q_log_repo_lpa(spark, sf_dir):
    """Synchronous label-propagation communities over the repo
    co-access graph (3 deterministic rounds, min-label tie-break) —
    see operators/graph.py:label_propagation; the oracle unrolls the
    rounds as CTEs."""
    from stash_log_parser_spark.operators.graph import label_propagation

    return label_propagation(_coaccess_edges(spark), rounds=3)


def _q_log_repo_assoc(spark, sf_dir):
    """Market-basket association rules (confidence + lift, both rule
    directions, support ≥ 2) over the capped user→repo baskets — see
    operators/analyses.py:association_rules."""
    from stash_log_parser_spark.operators.analyses import association_rules

    return association_rules(
        _parsed(spark), max_repos_per_user=20, min_support=2, top=20
    )


# Near-dup connected-components closure shared by the
# docs_dedup_clusters and docs_cluster_survivors oracles: 2-shingles →
# bruteforce jaccard pairs (== the LSH pair set on this corpus) →
# recursive transitive closure → `cl` (doc_id, cluster = min reachable
# id). Must be spliced after a WITH RECURSIVE keyword.
_CLUSTERS_CTES = """s AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
), p AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.2
), und AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM p
  UNION ALL SELECT doc_b, doc_a FROM p
), reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
), cl AS (
  SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster
  FROM reach GROUP BY a)"""


# BM25 scoring pipeline shared by the docs_bm25_topk and
# docs_retrieval_ndcg oracles: words → tf/dl/stats → first-8-term query
# sets → Lucene-idf scoring, ending at the unranked `scored` relation.
_BM25_CTES = r"""words AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1)
           AS pos
  FROM documents),
tf AS (SELECT doc_id, w, count(*) AS n FROM words GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
qids AS (SELECT doc_id AS query_id FROM documents ORDER BY doc_id LIMIT 3),
qterms AS (
  SELECT query_id, w FROM (
    SELECT q.query_id, ws.w, min(ws.pos) AS fpos
    FROM words ws JOIN qids q ON ws.doc_id = q.query_id
    GROUP BY q.query_id, ws.w
    QUALIFY row_number() OVER (PARTITION BY q.query_id
                               ORDER BY fpos ASC, w ASC) <= 8)),
dft AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
qdf AS (SELECT query_id, qterms.w, df FROM qterms JOIN dft USING (w)),
hits AS (
  SELECT qdf.query_id, tf.doc_id, tf.n, qdf.df, dl.dl,
         stats.n_docs, stats.avgdl
  FROM tf JOIN qdf USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
  WHERE tf.doc_id <> qdf.query_id),
scored AS (
  SELECT query_id, doc_id,
    floor(sum(floor(
        ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        * ((n * (1.2 + 1.0))
           / (n + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
        * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) / 1000000 AS score,
    CAST(count(*) AS BIGINT) AS n_terms
  FROM hits GROUP BY query_id, doc_id)"""


def _q_docs_retrieval_ndcg(spark, sf_dir):
    """nDCG@5 of the BM25 ranking against graded term-overlap
    relevance, with IDCG from per-level counts (no global sort) — see
    operators/textstats.py:retrieval_ndcg."""
    from stash_log_parser_spark.operators.textstats import retrieval_ndcg

    return retrieval_ndcg(_docs(spark, sf_dir))


def _q_docs_bm25_topk(spark, sf_dir):
    """Okapi BM25 more-like-this retrieval: first 3 docs as queries
    (first 8 distinct words each), Lucene-style idf, top-5 per query —
    see operators/textstats.py:bm25_topk (the sparse leg of the hybrid
    retriever; emb_rrf_fusion is the fusion device)."""
    from stash_log_parser_spark.operators.textstats import bm25_topk

    return bm25_topk(_docs(spark, sf_dir))


def _q_emb_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (k=60) of the full-dim exact cosine leg
    and the first-16-dim Matryoshka leg, top-5 fused — see
    operators/similarity.py:rrf_fusion."""
    from stash_log_parser_spark.operators.similarity import rrf_fusion

    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return rrf_fusion(emb, q, pool_k=10, k=5)


def _q_log_apdex(spark, sf_dir):
    """Hourly Apdex score (T=500ms) over outgoing request durations —
    see operators/analyses.py:apdex."""
    from stash_log_parser_spark.operators.analyses import apdex

    return apdex(_parsed(spark), t_ms=500)


def _q_events_ab_lift(spark, sf_dir):
    """Deterministic md5-bucketed A/B conversion analysis with
    two-proportion z statistic — see operators/analyses.py:ab_lift."""
    from stash_log_parser_spark.operators.analyses import ab_lift

    return ab_lift(_events(spark, sf_dir), convert_type="purchase")


def _q_events_srm_check(spark, sf_dir):
    """Sample-Ratio Mismatch goodness-of-fit over a 4-way md5 nibble
    split (exact-BIGINT chi-square numerator, α=0.05 flag) — see
    operators/analyses.py:srm_check."""
    from stash_log_parser_spark.operators.analyses import srm_check

    return srm_check(_events(spark, sf_dir), n_variants=4)


def _q_events_conversion_lag(spark, sf_dir):
    """First-view → first-purchase lag distribution with exact
    integer-rank median — see operators/analyses.py:conversion_lag."""
    from stash_log_parser_spark.operators.analyses import conversion_lag

    return conversion_lag(_events(spark, sf_dir), "view", "purchase")


def _q_events_scd2(spark, sf_dir):
    """Type-2 SCD validity intervals (gaps-and-islands) of each user's
    event_type state — see operators/analyses.py:scd2_intervals."""
    from stash_log_parser_spark.operators.analyses import scd2_intervals

    return scd2_intervals(_events(spark, sf_dir), "user_id", "event_type")


def _q_docs_cdc_apply(spark, sf_dir):
    """CDC MERGE semantics: planted update (doc_id%7: text+' v2',
    seq 1) and delete (doc_id%11, seq 2) feeds applied to the
    documents snapshot; last-op-per-key wins — see
    operators/analyses.py:cdc_apply. doc_id 77k gets BOTH (the delete
    must win)."""
    from stash_log_parser_spark.operators.analyses import cdc_apply

    docs = _docs(spark, sf_dir)
    upd = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        "lang",
        "source",
        "n_chars",
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    dels = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.lit("D").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    final = cdc_apply(docs, upd.unionByName(dels), "doc_id")
    return final.select(
        "doc_id", F.md5("text").alias("text_md5"), "lang", "source"
    ).orderBy("doc_id")


def _q_tpch_dq_expectations(spark, sf_dir):
    """Data-quality expectation suite over lineitem/orders (null keys,
    ranges, FK orphans) — see operators/analyses.py:dq_expectations."""
    from stash_log_parser_spark.operators.analyses import dq_expectations

    return dq_expectations(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
    )


def _q_docs_bpe_compression(spark, sf_dir):
    """Learn 4 BPE merges corpus-wide, apply them, report per-source
    compression (chars/token, tokens/word) — see
    operators/textstats.py:bpe_apply_stats; oracle re-learns the same
    4 unrolled rounds then joins the symbolized vocab."""
    from stash_log_parser_spark.operators.textstats import bpe_apply_stats

    return bpe_apply_stats(_docs(spark, sf_dir), n_merges=4)


def _q_log_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit of the (protocol, repo_slug)
    quasi-identifier with username as the sensitive column — see
    operators/analyses.py:k_anonymity_audit."""
    from stash_log_parser_spark.operators.analyses import k_anonymity_audit

    base = _parsed(spark).filter(
        F.col("is_parsed") & F.col("repo_slug").isNotNull()
    )
    return k_anonymity_audit(base, ["protocol", "repo_slug"], "username", k=5)


def _q_events_cum_users(spark, sf_dir):
    """Cumulative distinct users per day via the first-seen rewrite
    (no expanding-window distinct) — see
    operators/analyses.py:cumulative_users."""
    from stash_log_parser_spark.operators.analyses import cumulative_users

    return cumulative_users(_events(spark, sf_dir))


def _q_docs_vocab_coverage(spark, sf_dir):
    """Top-k vocabulary coverage curve (k ∈ {100, 1k, 10k}) — see
    operators/textstats.py:vocab_coverage."""
    from stash_log_parser_spark.operators.textstats import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir), ks=(100, 1000, 10000))


def _q_docs_oov_rate(spark, sf_dir):
    """OOV rate of the frozen top-1000 train vocabulary on the test
    split — see operators/textstats.py:oov_rate."""
    from stash_log_parser_spark.operators.textstats import oov_rate

    return oov_rate(_docs(spark, sf_dir), vocab_k=1000, train_frac=0.8)


def _q_log_identity_clusters(spark, sf_dir):
    """Entity resolution end-to-end: blocked Levenshtein username
    pairs (the log_fuzzy_users device, planted doubled-last-char
    variants) fed into connected-component min-label clustering —
    every identity resolved to a canonical username with cluster
    size. Composition of joins.fuzzy_match_pairs and
    dedup.near_dup_clusters; the oracle recurses the same reach."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.dedup import near_dup_clusters
    from stash_log_parser_spark.operators.joins import fuzzy_match_pairs

    users = (
        _parsed(spark)
        .filter(F.col("is_parsed") & F.col("username").isNotNull())
        .select("username")
        .distinct()
    )
    variants = users.select(
        F.concat(
            F.col("username"), F.substring(F.col("username"), -1, 1)
        ).alias("username")
    )
    aug = users.union(variants).distinct()
    pairs = fuzzy_match_pairs(aug, "username", max_distance=2).select(
        F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b")
    )
    clusters = near_dup_clusters(pairs)
    resolved = aug.join(
        clusters.withColumnRenamed("doc_id", "username"), "username", "left"
    ).select(
        "username",
        F.coalesce("cluster", "username").alias("canonical"),
    )
    return resolved.select(
        "username",
        "canonical",
        F.count("*")
        .over(Window.partitionBy("canonical"))
        .cast("long")
        .alias("cluster_size"),
    ).orderBy("canonical", "username")


def _q_events_stream_hll(spark, sf_dir):
    """STREAMING mergeable HLL: the events table replays as 3
    ts-ordered micro-batches and the register table is maintained by a
    native streaming max-aggregation — the mergeability law (max of
    per-batch registers == batch registers) makes the streamed
    estimate EXACTLY equal the batch sketch, so the oracle is the
    batch HLL SQL (events_hll_users). Raises unless the replay really
    spanned multiple micro-batches."""
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window

    from stash_log_parser_spark.operators.sketches import (
        hll_estimate_by,
        hll_registers,
    )
    from stash_log_parser_spark.streaming.stream import run_to_memory

    ev = _events(spark, sf_dir).select("ts", "user_id")
    n_chunks = 3
    d = _replay_chunks(
        ev, ["ts", "user_id"], n_chunks=n_chunks,
        order_by=["ts", "user_id"], prefix="slp_stream_hll_",
    )
    stream = (
        spark.readStream.schema("ts timestamp_ntz, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_hll_" + uuid.uuid4().hex[:8]
    q = run_to_memory(hll_registers(stream, "user_id"), name, "complete")
    if q.lastProgress and q.lastProgress["batchId"] < 2:
        raise RuntimeError("streaming HLL replay did not span 3 micro-batches")
    regs = spark.table(name).withColumn("_g", F.lit(1))
    est = hll_estimate_by(regs, "_g").select("hll_estimate")
    exact = _events(spark, sf_dir).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(est).select(
        "n_exact",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


def _q_events_logrank(spark, sf_dir):
    """Two-sample log-rank test of time-to-first-purchase between the
    md5 A/B arms (integer-quantized hypergeometric term sums) — see
    operators/analyses.py:logrank_test."""
    from stash_log_parser_spark.operators.analyses import logrank_test

    return logrank_test(_events(spark, sf_dir))


def _q_events_stream_psi(spark, sf_dir):
    """STREAMING drift monitor: the SECOND half of the day range
    replays as 3 ts-ordered micro-batches whose per-bucket counts are
    maintained by a native streaming aggregation (complete mode); the
    FIRST half is the static baseline. Counts are additive across
    micro-batches, so after the drain the streamed PSI table is
    EXACTLY the batch psi_value_drift output — the oracle IS the batch
    PSI SQL (the mergeability law, same device as events_stream_hll).
    This is the deploy shape of a production drift monitor: baseline
    table static, live traffic streamed, PSI refreshed per batch.
    Raises unless the replay really spanned multiple micro-batches."""
    import uuid

    from pyspark.sql import Window

    from stash_log_parser_spark.streaming.stream import run_to_memory

    ev = _events(spark, sf_dir).select("ts", "value")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    b = ev.agg(F.min(day).alias("d0"), F.max(day).alias("d1")).collect()[0]
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    bucket = F.when(cents > 0, F.length(F.bin(cents))).otherwise(0).cast("int")

    base = (
        ev.filter(day * 2 <= b.d0 + b.d1)
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_base"))
    )
    cur = ev.filter(day * 2 > b.d0 + b.d1)
    d = _replay_chunks(
        cur, ["value"], n_chunks=3, order_by=["ts", "value"],
        prefix="slp_stream_psi_",
    )
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_psi_" + uuid.uuid4().hex[:8]
    q = run_to_memory(
        stream.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_cur")),
        name,
        "complete",
    )
    if q.lastProgress and q.lastProgress["batchId"] < 2:
        raise RuntimeError("streaming PSI replay did not span 3 micro-batches")
    streamed = spark.table(name)

    joined = base.join(streamed, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    p_b = F.col("n_base") / F.sum("n_base").over(w_all)
    p_c = F.col("n_cur") / F.sum("n_cur").over(w_all)
    term = F.when(
        (F.col("n_base") > 0) & (F.col("n_cur") > 0),
        F.floor((p_c - p_b) * F.log(p_c / p_b) * 1_000_000 + F.lit(0.5)).cast(
            "long"
        ),
    )
    return joined.select(
        "bucket", "n_base", "n_cur", term.alias("psi_term_e6")
    ).orderBy("bucket")


def _q_log_repo_kcore(spark, sf_dir):
    """2-core of the repo co-access graph by synchronous peeling
    (4 unrolled rounds, all-integer) — see operators/graph.py:kcore."""
    from stash_log_parser_spark.operators.graph import kcore

    return kcore(_coaccess_edges(spark), k=2, rounds=4)


def _q_docs_bpe_merges(spark, sf_dir):
    """First 4 distributed-BPE merge rules learned from the corpus
    (corpus-weighted pair counts, deterministic tie-break) — see
    operators/textstats.py:bpe_learn_merges. The oracle unrolls all
    four rounds (k-means-oracle discipline)."""
    from stash_log_parser_spark.operators.textstats import bpe_learn_merges

    merges, _ = bpe_learn_merges(_docs(spark, sf_dir), n_merges=4)
    return merges


def _q_docs_source_temperature(spark, sf_dir):
    """Temperature-scaled (α=0.5) source mixing weights — see
    operators/mixture.py:source_temperature_mix."""
    from stash_log_parser_spark.operators.mixture import source_temperature_mix

    return source_temperature_mix(_docs(spark, sf_dir))


def _q_log_ewma_smooth(spark, sf_dir):
    """EWMA (half-life 1 h, 20-h window) smoothing of hourly request
    counts — exact dyadic-rational arithmetic, see
    operators/analyses.py:ewma_halflife."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.analyses import ewma_halflife

    parsed = _parsed(spark).filter(F.col("is_parsed"))
    hourly = parsed.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
    ).agg(F.count("*").alias("n"))
    xy = hourly.select(
        (F.row_number().over(Window.orderBy("hour")) - 1)
        .cast("long")
        .alias("x"),
        F.col("n").cast("long").alias("y"),
    )
    return ewma_halflife(xy, window=20)


def _q_tpch_zonemap_prune(spark, sf_dir):
    """Zone-map data-skipping audit of lineitem under range- vs
    hash-clustered shard layouts (30-day shipdate predicate) — see
    operators/analyses.py:zonemap_prune_audit."""
    from stash_log_parser_spark.operators.analyses import zonemap_prune_audit

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return zonemap_prune_audit(
        li, "l_shipdate", "l_orderkey", n_shards=32,
        pred_start_pct=40, pred_days=30,
    )


def _q_log_repo_jaccard(spark, sf_dir):
    """Repo–repo Jaccard similarity over capped distinct-user
    audiences (the normalized coaccess ranking) — see
    operators/analyses.py:repo_jaccard."""
    from stash_log_parser_spark.operators.analyses import repo_jaccard

    return repo_jaccard(_parsed(spark), max_repos_per_user=20, top_pairs=20)


def _q_docs_readability(spark, sf_dir):
    """Flesch reading-ease per corpus source from exact integer
    word/sentence/vowel-group counts — see
    operators/textstats.py:readability_by_source."""
    from stash_log_parser_spark.operators.textstats import readability_by_source

    return readability_by_source(_docs(spark, sf_dir))


def _q_events_decay_engagement(spark, sf_dir):
    """Time-decayed (half-life 1 day) engagement score per user,
    top 20 — exact power-of-two decay terms, see
    operators/analyses.py:decayed_engagement."""
    from stash_log_parser_spark.operators.analyses import decayed_engagement

    return decayed_engagement(_events(spark, sf_dir), top=20)


def _q_emb_nprobe_sweep(spark, sf_dir):
    """IVF recall-vs-cost tuning curve over nprobe ∈ {1,2,4}: one
    cell-assignment pass serves every sweep point — see
    operators/similarity.py:ivf_nprobe_sweep. The oracle mirrors the
    full algorithm (assignment, probing per nprobe, re-rank, exact-KNN
    comparison), so misses are checked too."""
    from stash_log_parser_spark.operators.similarity import ivf_nprobe_sweep

    emb = _emb(spark, sf_dir)
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    return ivf_nprobe_sweep(emb, q, k=5, n_cells=16, nprobes=(1, 2, 4))


def _q_docs_ppl_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity tiers per source over
    the bigram-LM fluency proxy (ntile cut on the round6-quantized
    score) — see operators/textstats.py:ppl_buckets."""
    from stash_log_parser_spark.operators.textstats import ppl_buckets

    return ppl_buckets(_docs(spark, sf_dir), n_buckets=3)


def _q_emb_semdedup(spark, sf_dir):
    """SemDeDup end-to-end: planted exact copies (+100000 of the first
    50 ids, +200000 of the first 25 — so 25 three-vector clusters, 25
    two-vector clusters) resolved to connected components with one
    min-id representative kept per cluster — see
    operators/similarity.py:semdedup. Exact copies collide in every
    LSH table, so the candidate graph provably covers every planted
    pair and the bruteforce-reach oracle checks the FULL verdict,
    singletons included."""
    from stash_log_parser_spark.operators.similarity import semdedup

    emb = (
        _emb(spark, sf_dir)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
    )
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") < 50).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    ).unionByName(
        emb.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
        )
    )
    return semdedup(aug, cosine_threshold=0.95)


def _q_events_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 94% CI of the mean event value (32 one-pass
    replicates via md5-derived Poisson(1) weights) — see
    operators/analyses.py:poisson_bootstrap_ci."""
    from stash_log_parser_spark.operators.analyses import poisson_bootstrap_ci

    return poisson_bootstrap_ci(
        _events(spark, sf_dir), "event_id", "value", n_resamples=32
    )


def _q_events_seasonal_anomaly(spark, sf_dir):
    """Seasonally-adjusted (24h-lag residual) median/MAD anomaly census
    per event type, integer-exact verdicts — see
    operators/analyses.py:seasonal_anomaly."""
    from stash_log_parser_spark.operators.analyses import seasonal_anomaly

    return seasonal_anomaly(_events(spark, sf_dir), k_mad=3)


def _q_events_hll_overlap(spark, sf_dir):
    """HLL set algebra: click vs view distinct-user audiences merged by
    per-bucket register max; |A∩B| by inclusion–exclusion, audited
    against the exact counts — see
    operators/sketches.py:hll_set_overlap."""
    from stash_log_parser_spark.operators.sketches import hll_set_overlap

    return hll_set_overlap(
        _events(spark, sf_dir), "user_id", "event_type", "click", "view"
    )


def _q_corpus_epoch_plan(spark, sf_dir):
    """Data-mixing epoch plan: target weights + a 10M-token budget →
    per-source target tokens and repeat factor (oversampling flag) —
    see operators/mixture.py:mixture_epoch_plan. Chars stand in for
    tokens as the budget currency (same device as corpus_token_budget)."""
    from stash_log_parser_spark.operators.mixture import mixture_epoch_plan

    weights = {f"src{i}": w for i, w in enumerate(
        [0.3, 0.2, 0.15, 0.1, 0.05] + [0.02] * 10
    )}
    return mixture_epoch_plan(
        _docs(spark, sf_dir), weights, token_budget=10_000_000
    )


def _q_log_stream_enrich(spark, sf_dir):
    """Stream–static broadcast enrichment driver-oracled across REAL
    micro-batch boundaries: the corpus replays as 4 ts-ordered
    single-file batches, each joined against the static repo→project /
    IP→datacenter dims (per-batch broadcast hash join, no join state),
    complete-mode census — the drained result must equal the batch
    log_enrich_project SQL exactly. See
    streaming/stream.py:streaming_enrich_by_project."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import Window

    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.streaming.stream import (
        CORPUS_SCHEMA,
        run_to_memory,
        streaming_enrich_by_project,
    )

    n_chunks = 4
    raw = spark.read.parquet(_ensure_corpus()).select(
        "doc_id", "tokens", "n_tok", "source"
    )
    with_ts = parse_corpus(raw).select("doc_id", "ts")
    d = _replay_chunks(
        raw.join(with_ts, "doc_id"),
        ["doc_id", "tokens", "n_tok", "source"],
        n_chunks=n_chunks,
        order_by=[F.col("ts").asc_nulls_first(), "doc_id"],
        prefix="slp_stream_enrich_",
    )
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_enrich_" + uuid.uuid4().hex[:8]
    run_to_memory(
        streaming_enrich_by_project(stream), name, output_mode="complete"
    )
    return (
        spark.table(name)
        .select("project_key", "datacenter", F.col("n_ops").cast("long").alias("n_ops"))
        .orderBy("project_key", "datacenter")
    )


def _q_docs_pair_bleu(spark, sf_dir):
    """BLEU-2 (clipped 1/2-gram precision) verify over the LSH near-dup
    pairs — see operators/textstats.py:pair_bleu. Oracle pairs come
    from the exact Jaccard set (equal to the verified LSH set at this
    threshold, pinned by docs_lsh_recall_audit)."""
    from stash_log_parser_spark.operators.dedup import minhash_lsh_pairs
    from stash_log_parser_spark.operators.textstats import pair_bleu

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, bands=8, jaccard_threshold=0.2)
    return pair_bleu(docs, pairs)


def _q_events_linear_attribution(spark, sf_dir):
    """Linear multi-touch attribution of purchases across the 24h
    click/view touch window (micro-unit-exact credit split) — see
    operators/analyses.py:linear_attribution."""
    from stash_log_parser_spark.operators.analyses import linear_attribution

    return linear_attribution(_events(spark, sf_dir))


def _q_events_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B lift: pre-period covariate adjustment
    with exact decimal moment sums and closed-form adjusted arm
    difference — see operators/analyses.py:cuped_adjusted_lift."""
    from stash_log_parser_spark.operators.analyses import cuped_adjusted_lift

    return cuped_adjusted_lift(_events(spark, sf_dir))


def _q_log_bot_flags(spark, sf_dir):
    """Bot/abuse heuristic: per-user request rate per active minute vs
    3× the corpus median (integer-exact relative rule), top offenders —
    see operators/analyses.py:bot_rate_flags."""
    from stash_log_parser_spark.operators.analyses import bot_rate_flags

    return bot_rate_flags(_parsed(spark), rate_mult=3, top=20)


def _q_events_props_variant(spark, sf_dir):
    """Spark 4 VARIANT shredding of the JSON props payload
    (parse_json + variant_get, fully JVM-side) with exact integer
    stats per event type — see
    operators/analyses.py:props_variant_stats."""
    from stash_log_parser_spark.operators.analyses import props_variant_stats

    return props_variant_stats(_events(spark, sf_dir))


def _q_events_unpivot(spark, sf_dir):
    """Unpivot (melt) round-trip: the explicit-list day×type pivot
    flows back to long form through DataFrame.unpivot — the wide→long
    reshape is a pure projection+explode (no shuffle beyond the pivot's
    own aggregation), and the round-trip binds pivot and unpivot
    semantics to one oracle."""
    types = ["click", "error", "purchase", "signup", "view"]
    wide = _q_events_pivot_types(spark, sf_dir)
    return (
        wide.unpivot("day", types, "event_type", "n")
        .select("day", "event_type", F.col("n").cast("long").alias("n"))
        .orderBy("day", "event_type")
    )


def _q_log_concurrency_twa(spark, sf_dir):
    """Time-weighted average concurrency per day (step-function
    integral over the gauge, exact micro second×gauge sums) — see
    operators/analyses.py:concurrency_twa."""
    from stash_log_parser_spark.operators.analyses import concurrency_twa

    return concurrency_twa(_parsed(spark))


def _q_events_rfm_segments(spark, sf_dir):
    """RFM quintile segmentation census (recency/frequency/monetary,
    integer-exact with total-order ntile cuts) — see
    operators/analyses.py:rfm_segments."""
    from stash_log_parser_spark.operators.analyses import rfm_segments

    return rfm_segments(_events(spark, sf_dir))


def _q_log_p99_ci(spark, sf_dir):
    """Distribution-free p99 confidence interval per op_type
    (order-statistic ranks from the binomial normal approximation,
    integer-exact values) — see
    operators/analyses.py:percentile_rank_ci."""
    from stash_log_parser_spark.operators.analyses import percentile_rank_ci

    return percentile_rank_ci(_parsed(spark), p_pct=99)


def _q_tpch_revenue_pareto(spark, sf_dir):
    """Revenue-concentration audit per market segment: Gini coefficient
    + Pareto-80 head count over per-customer order revenue (integer
    cross-multiplied cut, exact Σi·x) — see
    operators/analyses.py:revenue_concentration."""
    from stash_log_parser_spark.operators.analyses import revenue_concentration

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return revenue_concentration(
        o, c, "o_custkey", "c_custkey", "c_mktsegment", "o_totalprice"
    )


def _q_emb_knn_outliers(spark, sf_dir):
    """kNN-distance outlier scoring (cosine distance to the 5th
    nearest neighbor, top 20) on the same bounded id slice as the
    bruteforce KNN twin — see operators/similarity.py:knn_outliers."""
    from stash_log_parser_spark.operators.similarity import knn_outliers

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 300)
    return knn_outliers(emb, k=5, top=20)


def _q_events_ab_power(spark, sf_dir):
    """Minimum detectable effect at 80% power / 95% confidence for the
    ab_lift arms (two-proportion approximation, harmonic-mean arm
    size) — see operators/analyses.py:ab_power_mde."""
    from stash_log_parser_spark.operators.analyses import ab_power_mde

    return ab_power_mde(_events(spark, sf_dir), convert_type="purchase")


def _q_docs_pair_containment(spark, sf_dir):
    """Asymmetric shingle containment over the LSH near-dup pairs
    (quote/superset detection) — see
    operators/dedup.py:pair_containment; oracle pairs from the exact
    Jaccard set, containment recomputed on string shingle sets."""
    from stash_log_parser_spark.operators.dedup import (
        minhash_lsh_pairs,
        pair_containment,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, bands=8, jaccard_threshold=0.2)
    return pair_containment(docs, pairs, n=3)


def _q_log_templates(spark, sf_dir):
    """Drain-lite log template mining + rare-template anomaly flag —
    see operators/analyses.py:log_template_census."""
    from stash_log_parser_spark.operators.analyses import log_template_census

    return log_template_census(_parsed(spark))


def _q_log_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnostics over repo_slug (the measurement
    behind repository_stats_salted's salt choice) — see
    operators/analyses.py:shuffle_skew_report."""
    from stash_log_parser_spark.operators.analyses import shuffle_skew_report

    return shuffle_skew_report(_parsed(spark), "repo_slug")


def _q_events_retention_weekly(spark, sf_dir):
    """Weekly cohort retention matrix (first-seen week × offset) — see
    operators/analyses.py:retention_cohorts."""
    from stash_log_parser_spark.operators.analyses import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir))


def _q_events_psi_drift(spark, sf_dir):
    """Population Stability Index of the value distribution, first vs
    second half of the day range — see
    operators/analyses.py:psi_value_drift."""
    from stash_log_parser_spark.operators.analyses import psi_value_drift

    return psi_value_drift(_events(spark, sf_dir))


def _q_docs_zipf_topk(spark, sf_dir):
    """Zipf-law OLS fit over the TOP-K vocabulary head with integer-exact
    moment sums (the CUPED discipline; the full-vocab float twin is
    docs_zipf_fit) — see
    operators/textstats.py:zipf_fit."""
    from stash_log_parser_spark.operators.textstats import zipf_fit

    return zipf_fit(_docs(spark, sf_dir))


def _q_emb_cosine_lag_hist(spark, sf_dir):
    """Pairwise-cosine distribution over a deterministic LINEAR pair
    sample — see operators/similarity.py:cosine_lag_histogram."""
    from stash_log_parser_spark.operators.similarity import cosine_lag_histogram

    return cosine_lag_histogram(_emb(spark, sf_dir))


def _q_tpch_join_size_stats(spark, sf_dir):
    """Exact join cardinality + fanout skew from per-side key censuses,
    never executing the fact join — see
    operators/joins.py:join_size_stats."""
    from stash_log_parser_spark.operators.joins import join_size_stats

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return join_size_stats(orders, li, "o_orderkey", "l_orderkey")


def _q_events_ab_funnel(spark, sf_dir):
    """view→click→purchase funnel split by md5 experiment arm — see
    operators/analyses.py:ab_funnel."""
    from stash_log_parser_spark.operators.analyses import ab_funnel

    return ab_funnel(_events(spark, sf_dir))


def _q_events_survival_km(spark, sf_dir):
    """Kaplan–Meier time-to-first-purchase with right censoring — see
    operators/analyses.py:survival_km."""
    from stash_log_parser_spark.operators.analyses import survival_km

    return survival_km(_events(spark, sf_dir))


def _q_events_did(spark, sf_dir):
    """Difference-in-differences on per-user spend across the md5 arms
    and the midpoint-day pre/post split — see
    operators/analyses.py:did_estimator."""
    from stash_log_parser_spark.operators.analyses import did_estimator

    return did_estimator(_events(spark, sf_dir))


def _q_docs_quality_calibration(spark, sf_dir):
    """Reliability diagram of the alpha-ratio quality score against a
    deterministic Bernoulli label — see
    operators/textstats.py:quality_calibration."""
    from stash_log_parser_spark.operators.textstats import quality_calibration

    return quality_calibration(_docs(spark, sf_dir))


def _q_docs_label_agreement(spark, sf_dir):
    """Cohen's kappa between the length rater and the alpha-majority
    rater — see operators/textstats.py:label_agreement."""
    from stash_log_parser_spark.operators.textstats import label_agreement

    return label_agreement(_docs(spark, sf_dir))


def _q_log_token_vocab_census(spark, sf_dir):
    """Token-ID vocab census straight off the tokens:array<int32>
    payload — see operators/tokens.py:token_vocab_census."""
    from stash_log_parser_spark.operators.tokens import token_vocab_census

    return token_vocab_census(spark.read.parquet(_ensure_corpus()))


def _q_log_token_cdc_dedup(spark, sf_dir):
    """Content-defined-chunking dedup census straight off the
    tokens:array<int32> payload — alignment-robust duplicate-token
    share per source via rolling md5 boundary classes — see
    operators/tokens.py:token_cdc_chunks."""
    from stash_log_parser_spark.operators.tokens import token_cdc_chunks

    return token_cdc_chunks(spark.read.parquet(_ensure_corpus()))


def _q_log_token_bigram_novelty(spark, sf_dir):
    """Token-bigram distinct/total novelty per source — see
    operators/tokens.py:token_bigram_novelty."""
    from stash_log_parser_spark.operators.tokens import token_bigram_novelty

    return token_bigram_novelty(spark.read.parquet(_ensure_corpus()))


def _q_log_token_surprisal(spark, sf_dir):
    """Top-5 most surprising sequences per source under the
    corpus-global unigram token LM (exact e6-integer accumulation) —
    the hard-sequence mining readout; see
    operators/tokens.py:token_surprisal."""
    from stash_log_parser_spark.operators.tokens import token_surprisal

    return token_surprisal(spark.read.parquet(_ensure_corpus()), top_k=5)


def _q_log_token_pmi(spark, sf_dir):
    """Top-10 token-bigram collocations per source by PMI (min pair
    count 5; one-double-expression ln parity) — see
    operators/tokens.py:token_pmi."""
    from stash_log_parser_spark.operators.tokens import token_pmi

    return token_pmi(
        spark.read.parquet(_ensure_corpus()), top_k=10, min_count=5
    )


def _q_events_hourly_densified(spark, sf_dir):
    """Calendar-densified hourly series per event type with zero-fill
    and a trailing-3h sum over the DENSE axis — see
    operators/analyses.py:hourly_densified."""
    from stash_log_parser_spark.operators.analyses import hourly_densified

    return hourly_densified(_events(spark, sf_dir), trailing_hours=3)


_DAILY_CORPUS = os.path.join(_REPO, "data", "log_corpus_daily")
_DAYS_DIM = os.path.join(_REPO, "data", "log_days_dim.parquet")


def _ensure_daily_corpus(spark) -> tuple[str, str]:
    """Materialize (once) the corpus as a day-PARTITIONED parquet plus
    a tiny day-dimension parquet (day DATE, iso_dow INT) — the layout
    the dynamic-partition-pruning exhibit reads. Spark infers the
    day=... directory values as DATE, so the dim writes day as DATE to
    keep the join key un-cast (a cast would defeat DPP)."""
    if not (
        os.path.isdir(_DAILY_CORPUS)
        and os.path.exists(os.path.join(_DAILY_CORPUS, "_SUCCESS"))
        and os.path.exists(_DAYS_DIM)
    ):
        flat = spark.read.parquet(_ensure_corpus())
        (
            flat.select("doc_id", "source", "n_tok", "day")
            .repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(_DAILY_CORPUS)
        )
        (
            flat.select(F.to_date("day").alias("day"))
            .distinct()
            .select(
                "day",
                (F.weekday("day") + F.lit(1)).cast("int").alias("iso_dow"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(_DAYS_DIM)
        )
    return _DAILY_CORPUS, _DAYS_DIM


def dpp_prune_counts(spark, iso_dow: int = 1) -> DataFrame:
    """Dynamic-partition-pruning exhibit: per-source doc counts for the
    days whose ISO weekday matches, expressed as fact ⨝ dim so Spark's
    DPP turns the dim filter into a runtime PartitionFilter on the
    day-partitioned fact scan — the fact directories for other days are
    never opened. This is the mechanism that makes dim-filtered scans
    over a 100 TB day-partitioned lake read only the qualifying days;
    tests/test_entry_contract.py asserts ``dynamicpruning`` appears in
    the fact scan's executed plan.
    """
    fact_path, dim_path = _ensure_daily_corpus(spark)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(
        F.col("iso_dow") == iso_dow
    )
    return (
        fact.join(dim, "day")
        .groupBy(
            F.col("day").cast("string").alias("day"),
            "source",
        )
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("day", "source")
    )


def _q_log_dpp_prune(spark, sf_dir):
    """Dynamic partition pruning over the day-partitioned corpus: the
    weekday dim filter prunes fact day-directories at runtime — see
    dpp_prune_counts above (plan-asserted in tests)."""
    return dpp_prune_counts(spark, iso_dow=1)


def _q_events_holt_forecast(spark, sf_dir):
    """Holt double-exponential level+trend fit per event type over the
    densified hourly series, with 3-step forecast and one-step MAE —
    see operators/analyses.py:holt_forecast."""
    from stash_log_parser_spark.operators.analyses import holt_forecast

    return holt_forecast(_events(spark, sf_dir), alpha=0.5, beta=0.3)


def _q_log_erlang_capacity(spark, sf_dir):
    """Per-hour Erlang-C capacity scorecard (offered erlangs,
    utilization, delay probability, headroom for an 8-worker fleet)
    off the completed-request stream — see
    operators/analyses.py:erlang_capacity."""
    from stash_log_parser_spark.operators.analyses import erlang_capacity

    return erlang_capacity(_parsed(spark), servers=8)


def _q_events_obrien_fleming(spark, sf_dir):
    """Group-sequential A/B monitoring: cumulative Welch z at 5 equally
    spaced looks vs O'Brien-Fleming boundaries — see
    operators/analyses.py:group_sequential_obf."""
    from stash_log_parser_spark.operators.analyses import (
        group_sequential_obf,
    )

    return group_sequential_obf(_events(spark, sf_dir), looks=5)


def _q_log_burn_multiwindow(spark, sf_dir):
    """Multi-window multi-burn-rate SLO paging rule (5 m + 60 m, both
    over 10× budget burn) on the densified minute axis — see
    operators/analyses.py:burn_multiwindow."""
    from stash_log_parser_spark.operators.analyses import burn_multiwindow

    return burn_multiwindow(
        _parsed(spark), threshold_ms=1000, slo=0.99, burn_thr=10
    )


def _q_events_winsorized_lift(spark, sf_dir):
    """Capped-metric A/B lift: arm difference after winsorizing at the
    pooled exact-p99 order statistic — see
    operators/analyses.py:winsorized_lift."""
    from stash_log_parser_spark.operators.analyses import winsorized_lift

    return winsorized_lift(_events(spark, sf_dir), cap_permille=990)


def _q_events_stream_ewma(spark, sf_dir):
    """STREAMING volume-anomaly control chart: events replay as 4
    ts-ordered micro-batches; per event type a GroupState EWMA of the
    per-batch count crosses batch boundaries and emits one control row
    per (type, batch) — the all-integer recurrence is mirrored by a
    DuckDB recursive CTE over the same ntile(4) batch split. Raises
    unless the replay really spanned 4 micro-batches."""
    import uuid

    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_ewma_anomaly,
    )

    ev = _events(spark, sf_dir).select("ts", "event_type")
    d = _replay_chunks(
        ev, ["ts", "event_type"], n_chunks=4, order_by=["ts"],
        prefix="slp_stream_ewma_",
    )
    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_ewma_" + uuid.uuid4().hex[:8]
    q = run_to_memory(streaming_ewma_anomaly(stream), name, "append")
    if q.lastProgress and q.lastProgress["batchId"] < 3:
        raise RuntimeError("EWMA replay did not span 4 micro-batches")
    return spark.table(name).orderBy("event_type", "batch_seq")


def _q_events_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (level+trend+24h season) per event type
    over the densified hourly series, 3-step seasonal forecast — see
    operators/analyses.py:holt_winters."""
    from stash_log_parser_spark.operators.analyses import holt_winters

    return holt_winters(
        _events(spark, sf_dir), alpha=0.25, beta=0.1, gamma=0.25
    )


def _q_events_shapley_attribution(spark, sf_dir):
    """Shapley-value channel attribution over exact pre-conversion
    touchpoint sets (view/click/signup → purchase) — see
    operators/analyses.py:shapley_attribution."""
    from stash_log_parser_spark.operators.analyses import (
        shapley_attribution,
    )

    return shapley_attribution(_events(spark, sf_dir))


def _q_events_rate_limit(spark, sf_dir):
    """Token-bucket rate-limit policy simulation per user (1 token/h,
    burst 2): rejection counts + first rejected request — see
    operators/analyses.py:rate_limit_audit."""
    from stash_log_parser_spark.operators.analyses import rate_limit_audit

    return rate_limit_audit(
        _events(spark, sf_dir), rate_per_hour=1, burst=2
    )


def _q_events_did_pretrends(spark, sf_dir):
    """Parallel-trends diagnostic for DiD: per-arm OLS slope of the
    pre-period daily mean (e6-exact moments) and their gap — see
    operators/analyses.py:did_pretrends."""
    from stash_log_parser_spark.operators.analyses import did_pretrends

    return did_pretrends(_events(spark, sf_dir))


def _q_log_autoscale_sim(spark, sf_dir):
    """HPA-style autoscaler policy simulation over the densified
    minute load series (scale-up 3' over 70%, scale-down 10' under
    30%, 5' cooldown) — see operators/analyses.py:autoscale_sim."""
    from stash_log_parser_spark.operators.analyses import autoscale_sim

    return autoscale_sim(_parsed(spark))


def _q_events_ipw_ate(spark, sf_dir):
    """Stratified inverse-propensity ATE under confounded (activity-
    dependent) treatment assignment: naive vs Horvitz-Thompson vs
    Hájek — see operators/analyses.py:ipw_ate."""
    from stash_log_parser_spark.operators.analyses import ipw_ate

    return ipw_ate(_events(spark, sf_dir))


def _q_log_token_coverage_curve(spark, sf_dir):
    """Vocab-sizing curve off the tokens:array<int32> payload: minimal
    vocab size reaching 50/90/99/99.9 % cumulative token mass — see
    operators/tokens.py:token_coverage_curve."""
    from stash_log_parser_spark.operators.tokens import token_coverage_curve

    return token_coverage_curve(spark.read.parquet(_ensure_corpus()))


def _q_log_jsonl_front_door(spark, sf_dir):
    """The JSONL ingest door end-to-end: the corpus materialized as
    day-partitioned .jsonl.gz collector envelopes (2 planted broken
    envelopes per day), read back via text+from_json PERMISSIVE,
    grokked by the same parse_lines as the plain-text door — protocol
    counts must equal the parquet door's and the malformed census must
    count BOTH failure layers (grok-garbage lines + corrupt envelopes).
    See sources/jsonl.py."""
    import tempfile

    from stash_log_parser_spark.sources.jsonl import (
        parse_jsonl_logs,
        write_jsonl_logs,
    )

    corpus = spark.read.parquet(_ensure_corpus())
    out = tempfile.mkdtemp(prefix="slp_jsonl_")
    write_jsonl_logs(corpus, out, corrupt_per_day=2)
    parsed = parse_jsonl_logs(spark, out)
    ok = (
        parsed.filter(F.col("is_parsed"))
        .groupBy("protocol")
        .agg(F.count("*").cast("long").alias("n"))
    )
    bad = (
        parsed.filter(~F.col("is_parsed"))
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.lit("_malformed").alias("protocol"), "n")
    )
    return ok.unionByName(bad).orderBy("protocol")


def _q_events_funnel_windowed(spark, sf_dir):
    """Time-constrained view→click→purchase funnel (each step within
    1 h of the previous anchor, first-touch chaining) — see
    operators/analyses.py:funnel_windowed."""
    from stash_log_parser_spark.operators.analyses import funnel_windowed

    return funnel_windowed(_events(spark, sf_dir), window_s=3600)


def _replay_chunks(df, cols, n_chunks=3, order_by=None, prefix="slp_replay_"):
    """Write ``df`` as ``n_chunks`` single-file parquet chunks with
    strictly increasing mtimes so a file stream replays them as ordered
    micro-batches (the established stream-oracle harness shape).
    Returns the chunk directory."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    chunked = df.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy(*(order_by or cols)))
    )
    d = tempfile.mkdtemp(prefix=prefix)
    t0 = 1_600_000_000
    for i in range(1, n_chunks + 1):
        stage = tempfile.mkdtemp(prefix=prefix + "chunk_")
        (
            chunked.filter(F.col("_chunk") == i)
            .select(*cols)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(d, f"chunk-{i:02d}.parquet")
        os.replace(os.path.join(stage, src), dst)
        shutil.rmtree(stage, ignore_errors=True)
        os.utime(dst, (t0 + i, t0 + i))
    return d


def _q_events_stream_topk(spark, sf_dir):
    """STREAMING leaderboard: events replay as 3 ts-ordered
    micro-batches into a native complete-mode count aggregation (the
    running state is the per-user count table); the top-10 readout
    (count desc, user_id asc — deterministic tie) is taken from the
    final state, which exactly equals the batch aggregation, so the
    batch SQL is an exact oracle. Raises unless the replay really
    spanned multiple micro-batches."""
    import uuid

    from stash_log_parser_spark.streaming.stream import run_to_memory

    ev = _events(spark, sf_dir).select("ts", "user_id")
    d = _replay_chunks(ev, ["ts", "user_id"], order_by=["ts", "user_id"],
                       prefix="slp_stream_topk_")
    stream = (
        spark.readStream.schema("ts timestamp_ntz, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    counts = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    name = "slp_topk_" + uuid.uuid4().hex[:8]
    q = run_to_memory(counts, name, "complete")
    if q.lastProgress and q.lastProgress["batchId"] < 2:
        raise RuntimeError("streaming top-k replay did not span 3 micro-batches")
    return (
        spark.table(name)
        .select("user_id", F.col("n").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


def _q_emb_pq_codebook(spark, sf_dir):
    """Product-quantization fit + per-(subspace, code) census with mean
    distortion — see operators/similarity.py:pq_codebook_stats."""
    from stash_log_parser_spark.operators.similarity import pq_codebook_stats

    return pq_codebook_stats(_emb(spark, sf_dir), m=4, k=8)


def _q_emb_pq_recall(spark, sf_dir):
    """Recall@5 of PQ asymmetric-distance search vs exact L2 — see
    operators/similarity.py:pq_adc_recall."""
    from stash_log_parser_spark.operators.similarity import pq_adc_recall

    return pq_adc_recall(_emb(spark, sf_dir), m=4, k=8, n_queries=3, topk=5)


def _q_events_uplift_segments(spark, sf_dir):
    """Per-activity-segment A/B uplift (fixed-threshold segments — the
    scan-local, growth-stable cut) — see
    operators/analyses.py:uplift_by_segment."""
    from stash_log_parser_spark.operators.analyses import uplift_by_segment

    return uplift_by_segment(_events(spark, sf_dir))


def _q_tpch_salted_join(spark, sf_dir):
    """Skew-mitigated fact⨝dim join: lineitem scattered across 8 salt
    replicas of the orders slice, then rolled up by priority — result
    is exactly the unsalted join (the oracle), only the shuffle layout
    differs. See operators/joins.py:salted_join for why the salt must
    be deterministic (retry idempotency) and how to size n_salt."""
    from stash_log_parser_spark.operators.joins import salted_join
    from stash_log_parser_spark.plans.routing import spread_scan

    # r6 (guide §2.3 "project before the exchange"): the per-row revenue
    # cents are computed BEFORE the salted join, so the fact shuffle
    # carries one BIGINT instead of two doubles — identical per-row
    # values (same floor(x*100+0.5) on the same rows), identical sums.
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", _cents(rev).alias("rev_cents")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    # the dim side is exploded ×n_salt inside salted_join; spreading the
    # 2-split orders scan first makes that amplification parallel.
    # Round-robin, NOT hash-by-o_orderkey: a key-partitioned dim side
    # could satisfy the join's clustering on the orderkey subset and let
    # the planner co-partition on orderkey alone — which would silently
    # undo the (key, salt) scatter the query exists to demonstrate.
    orders = spread_scan(orders, f"{sf_dir}/orders.parquet")
    j = salted_join(li, orders, "l_orderkey", "o_orderkey", "l_linenumber", 8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("rev_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


def _q_docs_topic_tags(spark, sf_dir):
    """Broadcast-lexicon topic tagging per (source, topic) — the
    constant-IN-list projection form (no explode, no word shuffle);
    see operators/textstats.py:topic_tags."""
    from stash_log_parser_spark.operators.textstats import topic_tags

    return topic_tags(_docs(spark, sf_dir))


def _q_docs_shard_rebalance(spark, sf_dir):
    """Mod-hash vs consistent-hash-ring doc movement when growing
    8 → 9 shards — see operators/mixture.py:shard_rebalance."""
    from stash_log_parser_spark.operators.mixture import shard_rebalance

    return shard_rebalance(_docs(spark, sf_dir), n_from=8, n_to=9)


def _q_log_token_prefix_groups(spark, sf_dir):
    """Top shared-token-prefix boilerplate groups on the tokens
    payload — see operators/tokens.py:token_prefix_groups."""
    from stash_log_parser_spark.operators.tokens import token_prefix_groups

    return token_prefix_groups(
        spark.read.parquet(_ensure_corpus()), k=16, top_n=20
    )


def _q_events_stream_late_drop(spark, sf_dir):
    """Watermark LATE-DATA audit: events replay as 4 micro-batches
    ordered by user_id (each chunk spans the whole time range, so later
    batches genuinely carry events older than the advanced watermark),
    through a 1-hour tumbling count with a 2-hour watermark, in update
    mode.  Per window: the batch truth, the streamed count, and the
    deficit = rows Spark dropped as late.  The oracle reproduces
    Spark's exact rule, pinned empirically against 4.1's availableNow
    execution: the watermark VISIBLE to batch N is
    max(event_time over batches <= N-2) - delay (the tracker updates
    at batch end, AFTER batch N's offsets were already logged with the
    older value — one batch later than the docs' idealized model), and
    a row is dropped iff its window END <= that watermark (window-
    level, NOT row-level: rows older than the watermark still count
    while their window stays open).  Both rules are value-hashed per
    window across every SF, so a Spark behavior change would trip this
    row, not silently reshape pipelines built on it.  Windows whose
    every row is late never reach the sink (n_stream = 0).  Semantics
    doc, not a perf operator: the production dial this audits is the
    delay/completeness tradeoff."""
    import uuid

    from stash_log_parser_spark.streaming.stream import run_to_memory

    ev = _events(spark, sf_dir).select("ts", "user_id", "event_id")
    d = _replay_chunks(
        ev,
        ["ts", "user_id"],
        n_chunks=4,
        order_by=["user_id", "ts", "event_id"],
        prefix="slp_stream_late_",
    )
    stream = (
        spark.readStream.schema("ts timestamp_ntz, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        # watermarks require TIMESTAMP; session tz is UTC so the
        # NTZ cast is exact (same device as streaming_sessionize)
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    name = "slp_late_" + uuid.uuid4().hex[:8]
    q = run_to_memory(agg, name, "update")
    if q.lastProgress and q.lastProgress["batchId"] < 3:
        raise RuntimeError("late-drop replay did not span 4 micro-batches")
    streamed = (
        spark.table(name)
        .groupBy(
            F.col("w.start").cast("timestamp_ntz").alias("window_start")
        )
        .agg(F.max("n").cast("long").alias("n_stream"))
    )
    batch = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").cast("long").alias("n_batch"))
        .select(F.col("w.start").alias("window_start"), "n_batch")
    )
    return (
        batch.join(streamed, "window_start", "left")
        .select(
            "window_start",
            "n_batch",
            F.coalesce("n_stream", F.lit(0)).cast("long").alias("n_stream"),
            (F.col("n_batch") - F.coalesce("n_stream", F.lit(0)))
            .cast("long")
            .alias("n_late"),
        )
        .orderBy("window_start")
    )


def _q_docs_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters (count > N/30) via shard-local pigeonhole
    candidates + broadcast-verified global counts — see
    operators/sketches.py:heavy_hitters.  The oracle is the naive
    exact form; the completeness guarantee makes them equal."""
    from stash_log_parser_spark.operators.sketches import heavy_hitters

    return heavy_hitters(_docs(spark, sf_dir), k=30, n_shards=8)


def _q_log_token_decontam(spark, sf_dir):
    """Token-level n-gram decontamination census (train days vs the
    last-day holdout) — see operators/tokens.py:token_ngram_decontam.
    n=64 here, not the text-level 13 convention: these are BYTE-level
    tokens, and log lines share short field templates, so a 13-byte
    horizon flags every line (measured rate 1.0); 64 bytes ≈ a 13-word
    window and yields a discriminating ~0.79."""
    from stash_log_parser_spark.operators.tokens import token_ngram_decontam

    return token_ngram_decontam(spark.read.parquet(_ensure_corpus()), n=64)


def _q_events_stream_window_final(spark, sf_dir):
    """APPEND-mode window finalization audit — the completeness
    counterpart of events_stream_late_drop: the same 4-batch
    out-of-order replay through the same watermarked 1-hour count, but
    in append mode, where a window only EMITS when the visible
    watermark passes its end.  Per emitted window the count is frozen
    at the rows that had arrived by its eviction batch, and windows
    the terminal watermark never passes are NOT flushed at availableNow
    termination — both real production gotchas, value-hashed here.
    The oracle composes the pinned rules: wm visible to data batch N =
    max(event time over batches <= N-2) - delay; after the last data
    batch, no-data micro-batches advance the watermark to
    max(all batches) - delay, flushing (only) what it passes; an
    emitted window's count covers the chunks before its eviction
    batch; and a window whose EVERY row arrived late never enters
    state, so it emits nothing at all (the sparse-SF discriminator —
    a completeness loss mode the per-row drop counters don't show)."""
    import uuid

    from stash_log_parser_spark.streaming.stream import run_to_memory

    ev = _events(spark, sf_dir).select("ts", "user_id", "event_id")
    d = _replay_chunks(
        ev,
        ["ts", "user_id"],
        n_chunks=4,
        order_by=["user_id", "ts", "event_id"],
        prefix="slp_stream_wf_",
    )
    stream = (
        spark.readStream.schema("ts timestamp_ntz, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    name = "slp_wf_" + uuid.uuid4().hex[:8]
    q = run_to_memory(agg, name, "append")
    if q.lastProgress and q.lastProgress["batchId"] < 3:
        raise RuntimeError("window-final replay did not span 4 micro-batches")
    return (
        spark.table(name)
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("n").cast("long").alias("n_final"),
        )
        .orderBy("window_start")
    )


def _q_docs_incremental_dedup(spark, sf_dir):
    """Snapshot-incremental exact dedup: the 20%% doc_id-mod delta
    probed against the base corpus's hash registry, then against
    itself — see operators/dedup.py:incremental_dedup."""
    from stash_log_parser_spark.operators.dedup import incremental_dedup

    return incremental_dedup(_docs(spark, sf_dir), delta_mod=5)


def _q_log_token_drift(spark, sf_dir):
    """Per-day token-ID-distribution PSI vs the first day, BIGINT sum
    of e6-quantized terms — see operators/tokens.py:token_day_drift."""
    from stash_log_parser_spark.operators.tokens import token_day_drift

    return token_day_drift(spark.read.parquet(_ensure_corpus()))


def _q_log_token_truncation(spark, sf_dir):
    """Token loss under a fixed max-seq-len budget (150 here: the
    corpus lines run ~90-220 bytes, so the cut is non-trivial but not
    total) — see operators/tokens.py:token_truncation_audit."""
    from stash_log_parser_spark.operators.tokens import token_truncation_audit

    return token_truncation_audit(
        spark.read.parquet(_ensure_corpus()), max_len=150
    )


def _q_tpch_scd2_asof(spark, sf_dir):
    """SCD2 × as-of composition: build each customer's order-priority
    validity intervals (scd2_intervals over orders, gaps-and-islands),
    then enrich every lineitem shipment with the state VALID AT its
    ship date (half-open [valid_from, valid_to) — same-day state flips
    produce an empty first interval, so each shipment matches exactly
    once), rolled up by state.  The production shape: a fact stream
    joined to a slowly-changing dimension as-of event time.  Scale:
    the interval table is key-dimension-sized; the as-of is an
    equi-join on the customer key with the range predicate as a
    post-join filter (cust-keyed shuffle, no interval explode)."""
    from stash_log_parser_spark.operators.analyses import scd2_intervals

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    dim = scd2_intervals(
        orders, "o_custkey", "o_orderpriority",
        ts_col="o_orderdate", tie_col="o_orderkey",
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    fact = li.join(orders.select("o_orderkey", "o_custkey"),
                   li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_custkey", "l_shipdate"
    )
    j = fact.join(dim, "o_custkey").filter(
        (F.col("valid_from") <= F.col("l_shipdate"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to")))
    )
    return (
        j.groupBy(F.col("state").alias("priority_state"))
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        )
        .orderBy("priority_state")
    )


def _q_docs_token_linear_probe(spark, sf_dir):
    """Linear probe predicting whitespace-token count from char-class
    counts (the token-budget estimator) — one exact moment-matrix agg
    + a Cramer solve; see operators/textstats.py:token_linear_probe."""
    from stash_log_parser_spark.operators.textstats import token_linear_probe

    return token_linear_probe(_docs(spark, sf_dir))


def _q_docs_loo_probe_influence(spark, sf_dir):
    """Leave-one-source-out influence on the token linear probe: all
    |S|+1 refits from ONE moment-matrix pass (total − own, exact
    BIGINT) — see operators/textstats.py:loo_probe_influence."""
    from stash_log_parser_spark.operators.textstats import loo_probe_influence

    return loo_probe_influence(_docs(spark, sf_dir))


def _q_docs_signal_spearman(spark, sf_dir):
    """Exact tie-aware Spearman rank correlation between document
    length and alphabetic per-mille WITHOUT a corpus sort (histogram
    average-ranks + pair census) — see
    operators/textstats.py:signal_spearman."""
    from stash_log_parser_spark.operators.textstats import signal_spearman

    return signal_spearman(_docs(spark, sf_dir))


def _q_docs_chi2_independence(spark, sf_dir):
    """Pearson chi-square + Cramér's V between source and length
    bucket (does a length filter reweight the source mixture?) — see
    operators/textstats.py:chi2_independence."""
    from stash_log_parser_spark.operators.textstats import chi2_independence

    return chi2_independence(_docs(spark, sf_dir))


def _q_emb_intrinsic_dim(spark, sf_dir):
    """TwoNN intrinsic-dimension MLE of the embedding manifold on a
    deterministic md5 sample — see
    operators/similarity.py:twonn_intrinsic_dim."""
    from stash_log_parser_spark.operators.similarity import twonn_intrinsic_dim

    return twonn_intrinsic_dim(_emb(spark, sf_dir), sample_n=256)


def _q_events_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank test between the A/B arms' value
    distributions via the cents-quantized value census (no global
    sort) — see operators/analyses.py:mann_whitney_u."""
    from stash_log_parser_spark.operators.analyses import mann_whitney_u

    return mann_whitney_u(_events(spark, sf_dir))


def _q_events_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between the A/B arms,
    supremum taken over exact integer census cumulatives — see
    operators/analyses.py:ks_two_sample."""
    from stash_log_parser_spark.operators.analyses import ks_two_sample

    return ks_two_sample(_events(spark, sf_dir))


def _q_docs_incremental_near_dedup(spark, sf_dir):
    """Snapshot-incremental NEAR-dup dedup: the 20% doc_id-mod delta
    LSH-probed against the base corpus's band registry (Jaccard-
    verified), then cluster-deduped against itself — see
    operators/dedup.py:incremental_near_dedup."""
    from stash_log_parser_spark.operators.dedup import incremental_near_dedup

    return incremental_near_dedup(_docs(spark, sf_dir), delta_mod=5)


def _q_docs_neyman_allocation(spark, sf_dir):
    """Neyman-optimal stratified eval-sample allocation per source
    (n_h ∝ N_h·S_h from exact integer moments, largest-remainder
    rounding) — see operators/mixture.py:neyman_allocation."""
    from stash_log_parser_spark.operators.mixture import neyman_allocation

    return neyman_allocation(_docs(spark, sf_dir), budget=200)


def _q_emb_kcenter_coreset(spark, sf_dir):
    """Farthest-first (Gonzalez) k-center diversity coreset: 8
    maximally-spread exemplars via k broadcast scans with an
    incrementally-folded min-distance column — see
    operators/similarity.py:kcenter_coreset."""
    from stash_log_parser_spark.operators.similarity import kcenter_coreset

    return kcenter_coreset(_emb(spark, sf_dir), k=8)


def _q_log_arrival_dispersion(spark, sf_dir):
    """Per-protocol Poisson dispersion (VMR) of per-minute arrival
    counts over the full observed span, empty minutes counted — see
    operators/analyses.py:arrival_dispersion."""
    from stash_log_parser_spark.operators.analyses import arrival_dispersion

    return arrival_dispersion(_parsed(spark))


def _q_docs_word_cond_entropy(spark, sf_dir):
    """Conditional word entropy H(next|current) of the corpus bigram
    model via the exact cancelling-lnN integer identity — see
    operators/textstats.py:word_cond_entropy."""
    from stash_log_parser_spark.operators.textstats import word_cond_entropy

    return word_cond_entropy(_docs(spark, sf_dir))


def _q_docs_pmi_collocations(spark, sf_dir):
    """Top-25 PMI collocations from the adjacent-bigram census, ranked
    on 1e-6-quantized PMI with lexicographic tie-breaks — see
    operators/textstats.py:pmi_collocations."""
    from stash_log_parser_spark.operators.textstats import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir, spread=True), top_k=25, min_count=5)


def _q_docs_token_burstiness(spark, sf_dir):
    """Variance-to-mean dispersion of per-doc counts for the top-50
    words (zeros counted via the exact integer identity) — see
    operators/textstats.py:token_burstiness."""
    from stash_log_parser_spark.operators.textstats import token_burstiness

    return token_burstiness(_docs(spark, sf_dir), top_k=50)


def _q_events_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between the A/B arms' value
    histograms, summed as 1e-9-quantized BIGINT terms — see
    operators/analyses.py:js_arm_divergence."""
    from stash_log_parser_spark.operators.analyses import js_arm_divergence

    return js_arm_divergence(_events(spark, sf_dir))


def _q_docs_vocab_richness(spark, sf_dir):
    """Chao1 richness + Good-Turing unseen mass + hapax ratio from the
    word census — see operators/textstats.py:vocab_richness."""
    from stash_log_parser_spark.operators.textstats import vocab_richness

    return vocab_richness(_docs(spark, sf_dir))


def _q_events_sprt(spark, sf_dir):
    """Wald SPRT early-stopping test on the purchase rate (H0 p=0.15
    vs H1 p=0.25, α=β=0.05) — first boundary crossing in (ts,
    event_id) order, prefix counts day-partitioned — see
    operators/analyses.py:sprt_bernoulli."""
    from stash_log_parser_spark.operators.analyses import sprt_bernoulli

    return sprt_bernoulli(_events(spark, sf_dir))


def _q_log_user_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the repo-access distribution
    (insider-risk / bot-breadth feature) — see
    operators/analyses.py:user_access_entropy."""
    from stash_log_parser_spark.operators.analyses import user_access_entropy

    return user_access_entropy(_parsed(spark))


def _q_events_xcorr_lag(spark, sf_dir):
    """Lead–lag Pearson cross-correlation between the click and
    purchase hourly count series (lag 0..3 on a dense hour spine) —
    see operators/analyses.py:xcorr_lead_lag."""
    from stash_log_parser_spark.operators.analyses import xcorr_lead_lag

    return xcorr_lead_lag(_events(spark, sf_dir))


def _q_docs_data_card(spark, sf_dir):
    """Per-source data card: volume, language mix, exact-dup rate,
    median length — the release-notes rollup composed from the
    engine's own primitives — see operators/textstats.py:data_card."""
    from stash_log_parser_spark.operators.textstats import data_card

    return data_card(_docs(spark, sf_dir))


def _q_docs_token_runs(spark, sf_dir):
    """Degenerate-repetition QC: longest same-token run (single left
    fold over the split array) + type/token support ratio per doc —
    see operators/textstats.py:token_runs. The oracle recomputes the
    run length relationally (unnest + gaps-and-islands)."""
    from stash_log_parser_spark.operators.textstats import token_runs

    return token_runs(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_corpus_unimax(spark, sf_dir):
    """UniMax epoch-capped budget allocation (Chung et al. 2023):
    exact BIGINT waterfilling in closed window form over the per-source
    rollup — see operators/mixture.py:unimax_plan. Budget 6M tokens,
    4-epoch cap (chars as the token currency, same device as
    corpus_token_budget)."""
    from stash_log_parser_spark.operators.mixture import unimax_plan

    return unimax_plan(
        _docs(spark, sf_dir), token_budget=6_000_000, epochs_cap=4.0
    )


def _q_docs_split_leakage(spark, sf_dir):
    """Train/test split contamination audit: per split, how many docs
    have an exact-duplicate twin in the other split — decided at the
    content-hash group level, no corpus join-back — see
    operators/textstats.py:split_leakage."""
    from stash_log_parser_spark.operators.textstats import split_leakage

    return split_leakage(_docs(spark, sf_dir), train_frac=0.8)


def _q_docs_near_split_leakage(spark, sf_dir):
    """Near-dup train/test contamination at J ≥ 0.4: the exact
    prefix-filtered pair join composed with the engine's own
    deterministic split rule — docs whose cross-split near-twin would
    compromise a held-out eval — see
    operators/dedup.py:near_split_leakage."""
    from stash_log_parser_spark.operators.dedup import near_split_leakage

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 250)
    return near_split_leakage(docs, n=3, threshold=0.4, train_frac=0.8)


def _q_docs_dup_size_pareto(spark, sf_dir):
    """Duplicate-cluster-size census with cumulative reclaimable share
    (size-k-and-above dedup yield) — two successively narrower
    hash-aggs, window over the tiny size-distribution table — see
    operators/dedup.py:dup_size_pareto."""
    from stash_log_parser_spark.operators.dedup import dup_size_pareto

    return dup_size_pareto(_docs(spark, sf_dir))


def _q_corpus_shuffle_order(spark, sf_dir):
    """Deterministic seeded corpus shuffle → (shard, pos) training
    order; per-shard sort, no global sort — see
    operators/mixture.py:shuffle_order."""
    from stash_log_parser_spark.operators.mixture import shuffle_order

    return shuffle_order(_docs(spark, sf_dir), n_shards=8, seed=42)


def _q_corpus_interleave_order(spark, sf_dir):
    """Stride-scheduled proportional source interleave (WFQ virtual
    time); global rank via the range-bucket offset device instead of a
    global sort — see operators/mixture.py:interleave_order."""
    from stash_log_parser_spark.operators.mixture import interleave_order

    return interleave_order(_docs(spark, sf_dir), seed=42)


def _q_corpus_order_audit(spark, sf_dir):
    """Shuffle-quality audit of the stride-interleaved order: per-source
    run-length islands + adjacent same-source pairs vs the exact
    random-permutation expectation — see
    operators/mixture.py:order_audit."""
    from stash_log_parser_spark.operators.mixture import (
        interleave_order,
        order_audit,
    )

    return order_audit(interleave_order(_docs(spark, sf_dir), seed=42))


def _q_docs_lsh_s_curve(spark, sf_dir):
    """Analytic LSH banding sweep over the corpus's exact qualifying
    pairs: expected detected pairs + recall per (bands, rows) config at
    a fixed 16-perm budget — see operators/dedup.py:lsh_s_curve."""
    from stash_log_parser_spark.operators.dedup import lsh_s_curve

    return lsh_s_curve(_docs(spark, sf_dir))


def _q_tpch_rollup_sales(spark, sf_dir):
    """ROLLUP (cust-nation, order-year) revenue with an explicit
    grouping-level column — the subtotal/grand-total surface of the
    grouping-sets family (cube and pivot are registered separately).
    Only nation (25 rows) is broadcast-hinted; the fact joins are left
    to AQE."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    nation = F.broadcast(
        spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_name"
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "cents"
            ),
        )
        .rollup("n_name", "o_year")
        .agg(
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.count("*").cast("long").alias("n_items"),
            F.grouping_id().cast("long").alias("lvl"),
        )
        .orderBy("lvl", "n_name", "o_year")
    )


def _q_events_stream_scd2_enrich(spark, sf_dir):
    """Stream–static SCD2 AS-OF enrichment across real micro-batch
    boundaries: events replay as 4 ts-ordered chunks; each event joins
    the version of its user's state dimension (SCD2 intervals built
    from the event_id%3==0 change subset) active at the event's ts;
    running (event_type, active_state) census in complete mode must
    equal the batch as-of SQL exactly — see
    streaming/stream.py:streaming_scd2_enrich."""
    import uuid

    from stash_log_parser_spark.operators.analyses import scd2_intervals
    from stash_log_parser_spark.streaming.stream import (
        run_to_memory,
        streaming_scd2_enrich,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    dim = scd2_intervals(
        ev.filter(F.col("event_id") % 3 == 0), "user_id", "event_type"
    )
    d = _replay_chunks(
        ev,
        ["event_id", "ts", "user_id", "event_type"],
        n_chunks=4,
        order_by=["ts", "event_id"],
        prefix="slp_stream_scd2_",
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "slp_scd2_" + uuid.uuid4().hex[:8]
    q = run_to_memory(streaming_scd2_enrich(stream, dim), name, "complete")
    if q.lastProgress and q.lastProgress["batchId"] < 3:
        raise RuntimeError("scd2-enrich replay did not span 4 micro-batches")
    return (
        spark.table(name)
        .select(
            "event_type",
            "active_state",
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("event_type", "active_state")
    )


def _q_events_session_gap_sweep(spark, sf_dir):
    """Session-timeout sweep: sessions + events/session for 4 candidate
    gaps from ONE lag pass (exact integer-µs deltas) — see
    operators/analyses.py:session_gap_sweep."""
    from stash_log_parser_spark.operators.analyses import session_gap_sweep

    return session_gap_sweep(_events(spark, sf_dir))


def _q_docs_jaccard_threshold_sweep(spark, sf_dir):
    """Near-dup threshold sweep: pair and affected-doc counts for the
    whole dedup-aggressiveness grid from ONE prefix-filtered exact pair
    computation — see operators/dedup.py:jaccard_threshold_sweep."""
    from stash_log_parser_spark.operators.dedup import jaccard_threshold_sweep

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 250)
    return jaccard_threshold_sweep(docs, thresholds=(0.3, 0.4, 0.5, 0.7, 0.9))


def _q_docs_dup_span_removal(spark, sf_dir):
    """Duplicated-span removal applied (global-first-occurrence keeper,
    case-folded matching, original casing preserved) — see
    operators/dedup.py:remove_dup_spans."""
    from stash_log_parser_spark.operators.dedup import remove_dup_spans

    return remove_dup_spans(_docs(spark, sf_dir), n=8)


def _q_log_shadow_diff(spark, sf_dir):
    """Shadow-run reconciliation: the hash-agg pairing vs its join-twin
    formulation diffed per column with frame_diff — n_mismatch must be
    0 everywhere and n_only_left must equal the unmatched in/out count
    (the join form drops unpaired requests, the agg form keeps them as
    nulls). The generic migration-validation surface — see
    operators/analyses.py:frame_diff."""
    from stash_log_parser_spark.operators.analyses import (
        frame_diff,
        pair_requests,
    )

    p = _parsed(spark)
    return frame_diff(
        pair_requests(p, use_join=False),
        pair_requests(p, use_join=True),
        keys=["day", "req_counter"],
    )


def _q_docs_winnow_fingerprints(spark, sf_dir):
    """MOSS winnowing fingerprint stats (window-min over k-gram hashes,
    guarantee on >= w+k-1 token overlaps) — see
    operators/dedup.py:winnow_fingerprints."""
    from stash_log_parser_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=4, w=5)


def _q_docs_winnow_shared_pairs(spark, sf_dir):
    """Copy-detection candidates: pairs sharing >= 2 winnowed
    fingerprints (deterministic recall for long verbatim overlaps,
    unlike banded MinHash) — see
    operators/dedup.py:winnow_shared_pairs."""
    from stash_log_parser_spark.operators.dedup import winnow_shared_pairs

    return winnow_shared_pairs(_docs(spark, sf_dir), k=4, w=5, min_shared=2)


def _q_tpch_sql_grouping_sets(spark, sf_dir):
    """SQL front door: the same logical plan every DataFrame query
    compiles to, declared as ANSI SQL over temp views — GROUPING SETS
    ((nation), (year), ()) revenue subtotals, the one grouping-sets
    shape rollup/cube can't express. Catalyst treats this identically
    to the DataFrame form (one Expand + hash-agg); the exhibit is the
    API surface, not a new plan."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "sql_lineitem"
    )
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "sql_orders"
    )
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView(
        "sql_customer"
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "sql_nation"
    )
    return spark.sql(
        """
        WITH j AS (
          SELECT n.n_name,
                 CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                            + 0.5) AS BIGINT) AS cents
          FROM sql_lineitem l
          JOIN sql_orders o ON l.l_orderkey = o.o_orderkey
          JOIN sql_customer c ON o.o_custkey = c.c_custkey
          JOIN sql_nation n ON c.c_nationkey = n.n_nationkey)
        SELECT n_name, o_year,
               CAST(sum(cents) AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(grouping_id() AS BIGINT) AS lvl
        FROM j
        GROUP BY n_name, o_year GROUPING SETS ((n_name), (o_year), ())
        ORDER BY lvl, n_name, o_year
        """
    )


def _q_docs_domain_cap(spark, sf_dir):
    """C4-style per-domain document cap (keep top-8 by length per URL
    domain, salted two-phase exact top-k) over planted-URL docs — see
    operators/mixture.py:domain_cap."""
    from stash_log_parser_spark.operators.mixture import domain_cap

    return domain_cap(_plant_urls(_docs(spark, sf_dir)), k=8)


def _q_docs_conformal_bounds(spark, sf_dir):
    """Split-conformal prediction half-width + empirical coverage per
    source for the calibration-mean length predictor — see
    operators/textstats.py:conformal_bounds."""
    from stash_log_parser_spark.operators.textstats import conformal_bounds

    return conformal_bounds(_docs(spark, sf_dir))


def _q_events_wasserstein_drift(spark, sf_dir):
    """Exact integer-numerator 1-Wasserstein distance between first-
    and second-half value distributions (the mass-distance complement
    to events_psi_drift) — see
    operators/analyses.py:wasserstein_value_drift."""
    from stash_log_parser_spark.operators.analyses import wasserstein_value_drift

    return wasserstein_value_drift(_events(spark, sf_dir))


def _q_emb_rbo_overlap(spark, sf_dir):
    """Rank-Biased Overlap between the full-dim and Matryoshka-
    truncated retriever legs (integer-quantized W table shared with the
    oracle) — see operators/similarity.py:rbo_overlap."""
    from stash_log_parser_spark.operators.similarity import rbo_overlap

    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return rbo_overlap(emb, q, pool_k=10)


def _q_docs_length_gini(spark, sf_dir):
    """Exact per-source Gini concentration of doc length off the
    distinct-value census (Lorenz trapezoid identity) — see
    operators/textstats.py:length_gini."""
    from stash_log_parser_spark.operators.textstats import length_gini

    return length_gini(_docs(spark, sf_dir))


def _q_events_qq_shift(spark, sf_dir):
    """Doksum quantile-quantile shift function between the A/B arms,
    deciles by exact order statistics off the cents census — see
    operators/analyses.py:qq_shift."""
    from stash_log_parser_spark.operators.analyses import qq_shift

    return qq_shift(_events(spark, sf_dir))


def _q_log_repo_hits(spark, sf_dir):
    """Bipartite HITS over the capped user→repo incidence (3
    L1-normalized iterations, 1e-6-quantized trajectory): repo
    authority from user hub breadth — see operators/graph.py:hits;
    the oracle unrolls the half-steps as CTEs with the same per-step
    quantization."""
    from stash_log_parser_spark.operators.analyses import capped_incidence
    from stash_log_parser_spark.operators.graph import hits

    return hits(capped_incidence(_parsed(spark), 20), iters=3)


def _q_log_repo_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction over the capped user→repo
    incidence: top-30 repo pairs by Σ 1/ln(deg(common user)) — see
    operators/graph.py:adamic_adar."""
    from stash_log_parser_spark.operators.analyses import capped_incidence
    from stash_log_parser_spark.operators.graph import adamic_adar

    return adamic_adar(capped_incidence(_parsed(spark), 20), top_pairs=30)


def _q_docs_quality_auc(spark, sf_dir):
    """ROC-AUC of the type-token-ratio quality signal predicting
    exact-duplicate membership, per source — the "does this signal
    actually find the dups?" eval gate; BIGINT-exact doubled-rank
    census, see operators/analyses.py:roc_auc."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.analyses import roc_auc

    docs = _docs(spark, sf_dir)
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    score = F.floor(
        F.size(F.array_distinct(ws)).cast("double") / F.size(ws) * 10000
        + F.lit(0.5)
    ).cast("long")
    is_dup = (
        F.count("*").over(Window.partitionBy(F.md5(F.col("text")))) > 1
    ).cast("long")
    d = docs.select(
        "source", score.alias("score"), is_dup.alias("label")
    )
    return roc_auc(d, "score", "label", "source")


def _q_events_fdr_bh(spark, sf_dir):
    """Benjamini–Hochberg FDR correction over the per-event-type A/B
    two-proportion tests (q=0.1) — the multiple-testing guard for the
    multi-metric experiment readout; see
    operators/analyses.py:per_type_conversion_tests + fdr_bh."""
    from stash_log_parser_spark.operators.analyses import (
        fdr_bh,
        per_type_conversion_tests,
    )

    return fdr_bh(per_type_conversion_tests(_events(spark, sf_dir)), q=0.1)


def _jl_mat():
    """The one JL sign matrix (16×64, seed 777) shared by the Spark
    query and its SQL oracle — both consume it as literals, so the
    left-associated projection sums are bit-identical."""
    from stash_log_parser_spark.operators.similarity import jl_sign_matrix

    return jl_sign_matrix(dim=64, k=16, seed=777)


def _q_emb_jl_recall_audit(spark, sf_dir):
    """Johnson–Lindenstrauss audit: recall@5 of cosine KNN in a ±1
    sign-projected 16-dim space against the exact 64-dim KNN — the
    random-projection twin of emb_matryoshka_recall (that one
    truncates learned prefixes; this one needs NO training, the JL
    lemma alone) — see operators/similarity.py:jl_project."""
    from stash_log_parser_spark.operators.similarity import (
        cosine_topk,
        jl_project,
    )
    from stash_log_parser_spark.operators.textstats import round6

    mat = _jl_mat()
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, q, k=5).select("query_id", "vec_id")
    emb_p = emb.withColumn("embedding", jl_project(F.col("embedding"), mat))
    q_p = q.withColumn("query_vec", jl_project(F.col("query_vec"), mat))
    proj = (
        cosine_topk(emb_p, q_p, k=5)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(proj, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            round6(F.col("n_overlap") / F.lit(5.0)).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


def _q_events_seasonality_strength(spark, sf_dir):
    """Variance share of hourly counts explained by the hour-of-day
    profile per event type (dense spine, empty hours = 0) — see
    operators/analyses.py:seasonality_strength."""
    from stash_log_parser_spark.operators.analyses import (
        seasonality_strength,
    )

    return seasonality_strength(_events(spark, sf_dir))


def _q_tpch_incremental_agg(spark, sf_dir):
    """Incremental view maintenance exhibit: the Q1-style pricing
    aggregate maintained as MERGEABLE PARTIALS — base partition and
    delta partition aggregated independently, merged by summation —
    which must equal the full recompute (the oracle).  The device that
    turns a 100 TB nightly re-aggregation into a delta-sized job; the
    same partial-merge discipline as the HLL/histogram sketches, on
    exact BIGINT state."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")

    def part(df, tag):
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias(
                "sum_qty"
            ),
            F.sum(cents).cast("long").alias("revenue_cents"),
            F.lit(tag).alias("_part"),
        )

    base = part(li.filter(F.col("l_orderkey") % 10 != 0), "base")
    delta = part(li.filter(F.col("l_orderkey") % 10 == 0), "delta")
    merged = (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_qty").cast("long").alias("sum_qty"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.count("*").cast("long").alias("n_partials"),
        )
    )
    return merged.orderBy("l_returnflag", "l_linestatus")


def _q_events_cohort_ltv(spark, sf_dir):
    """Cumulative revenue per cohort user by week of cohort age (the
    LTV curve; exact cents, dimension-sized cumsum) — see
    operators/analyses.py:cohort_ltv."""
    from stash_log_parser_spark.operators.analyses import cohort_ltv

    return cohort_ltv(_events(spark, sf_dir))


def _q_log_p_chart(spark, sf_dir):
    """Shewhart p-chart on the hourly slow-request proportion
    (binomial 3σ control limits around the corpus-wide rate) — see
    operators/analyses.py:p_chart."""
    from stash_log_parser_spark.operators.analyses import p_chart

    return p_chart(_parsed(spark), slow_ms=500, sigma=3.0)


def _q_docs_lang_confusion(spark, sf_dir):
    """Declared-vs-detected language confusion census (the language-ID
    eval twin of docs_langid): per (declared, predicted) cell, count +
    share of the declared language — the table that says whether the
    lang column can be TRUSTED before language-filtered sampling uses
    it.  Composition of lang_scores (doc_id-keyed join back to the
    declared column) + one dimension-sized census window."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import lang_scores, round6

    docs = _docs(spark, sf_dir)
    pred = lang_scores(docs).select("doc_id", "lang_pred")
    j = docs.select("doc_id", "lang").join(pred, "doc_id")
    cen = j.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("lang")
    return cen.select(
        "lang",
        "lang_pred",
        "n",
        round6(F.col("n") / F.sum("n").over(w)).alias("share_of_declared"),
        (F.col("lang") == F.col("lang_pred")).alias("agrees"),
    ).orderBy("lang", "lang_pred")


def _q_log_cidr_enrich(spark, sf_dir):
    """Longest-prefix-match CIDR routing census: every request resolved
    against the mixed-length block table (a /24 inside its covering /8
    must take the /24) via the cascade-of-broadcast-equi-joins plan —
    see operators/enrich.py:cidr_enrich."""
    from stash_log_parser_spark.operators.enrich import cidr_enrich

    base = _parsed(spark).filter(
        F.col("is_parsed") & F.col("client_ip").isNotNull()
    )
    e = cidr_enrich(base)
    return (
        e.groupBy("network", "matched_plen")
        .agg(
            F.count("*").cast("long").alias("n_requests"),
            F.countDistinct("username").cast("long").alias("n_users"),
        )
        .orderBy("network", "matched_plen")
    )


def _q_docs_norm_dedup(spark, sf_dir):
    """Normalization-robust exact dedup (casefold / punctuation /
    whitespace canonicalization before hashing), with per-group
    raw-variant counts proving the catch beyond plain exact_dedup —
    see operators/dedup.py:normalized_dedup.  The corpus is already
    canonical word salad, so every 7th doc gets a deterministically
    re-cased, re-punctuated TWIN planted (same device as _plant_pii) —
    the oracle plants the identical twins."""
    from stash_log_parser_spark.operators.dedup import normalized_dedup

    docs = _docs(spark, sf_dir)
    twins = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(twins)
    return normalized_dedup(both)


def _q_events_markov_entropy(spark, sf_dir):
    """Entropy RATE of the first-order behaviour chain (bits per
    transition): H = −Σ_{s,t} (c_st/N)·log2(c_st/c_s·) over the same
    (prev, next) census as events_markov_transitions — the one-number
    'how predictable is the next action' readout (0: deterministic
    funnels; log2|S|: uniform wandering), with the normalized form for
    cross-corpus comparison.  Scale: the census shuffle is the
    already-paid user_id lag window; everything after is |types|²."""
    import math

    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").cast("long").alias("c")
    )
    cells = counts.select(
        "prev_type",
        "c",
        F.sum("c").over(Window.partitionBy("prev_type")).alias("ct"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    ln2 = F.lit(math.log(2.0))
    term = (
        F.col("c").cast("double") / F.col("n")
    ) * F.log(F.col("c").cast("double") / F.col("ct")) / ln2
    agg = cells.agg(
        F.max("n").cast("long").alias("n_transitions"),
        F.countDistinct("prev_type").cast("long").alias("n_states"),
        (-F.sum(term)).alias("h"),
    )
    max_h = F.log(F.col("n_states").cast("double")) / ln2
    return agg.select(
        "n_transitions",
        "n_states",
        round6(F.col("h")).alias("entropy_rate_bits"),
        F.when(F.col("n_states") > 1, round6(F.col("h") / max_h)).alias(
            "normalized_entropy"
        ),
    )


def _q_emb_class_separability(spark, sf_dir):
    """Fisher-style between/within variance audit of the labeled
    embedding space (per-label rows + overall ratio row, label −1),
    all from (label, dim) moments — see
    operators/similarity.py:class_separability."""
    from stash_log_parser_spark.operators.similarity import class_separability

    return class_separability(_emb(spark, sf_dir))


def _q_log_littles_law(spark, sf_dir):
    """Little's law L ≟ λ·W audit per day over the concurrency gauge,
    arrival stream, and duration field — see
    operators/analyses.py:littles_law_audit."""
    from stash_log_parser_spark.operators.analyses import littles_law_audit

    return littles_law_audit(_parsed(spark))


def _q_corpus_curriculum_order(spark, sf_dir):
    """Length-staged curriculum training order (4 exact-quantile
    stages easy→hard, seeded md5 shuffle within stage, 8 shards) —
    see operators/mixture.py:curriculum_order."""
    from stash_log_parser_spark.operators.mixture import curriculum_order

    return curriculum_order(
        _docs(spark, sf_dir), n_shards=8, seed=42, n_stages=4
    )


def _q_docs_hill_tail(spark, sf_dir):
    """Hill power-law tail-index of doc length per source (top-10%
    order statistics off the length census, no per-group sort) — see
    operators/textstats.py:hill_tail_index."""
    from stash_log_parser_spark.operators.textstats import hill_tail_index

    return hill_tail_index(_docs(spark, sf_dir))


def _q_docs_boilerplate(spark, sf_dir):
    """Per-source boilerplate census (operators/dedup.py:
    boilerplate_census — the CCNet/RefinedWeb within-domain
    line-frequency pass): a 15-word banner is planted on every 4th
    doc, so inside each source its within-source document frequency
    (~25% of the source's docs) clears the
    max(min_df=2, ceil(0.2·docs_in_source)) threshold while organic
    segments stay below it. Output = per-document boilerplate load
    (n_boiler / n_segments) a quality gate would threshold on."""
    from stash_log_parser_spark.operators.dedup import boilerplate_census

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.lit(_BOILER + " "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    return boilerplate_census(
        docs, seg_words=15, df_ratio=0.2, min_df=2
    ).orderBy("doc_id")


def _q_events_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-style row-pattern query: sessions containing
    view →(no purchase)*→ purchase, as a regex (``V[^P]*P``) counted
    over per-session event-code strings — see
    operators/analyses.py:sequence_pattern_match."""
    from stash_log_parser_spark.operators.analyses import sequence_pattern_match

    return sequence_pattern_match(
        _events(spark, sf_dir),
        pattern="V[^P]*P",
        type_codes={
            "click": "C",
            "view": "V",
            "purchase": "P",
            "error": "E",
            "signup": "S",
        },
        gap_s=1800,
    )


def _q_log_repo_gini(spark, sf_dir):
    """Gini concentration of request traffic across repositories — the
    skew dial that decides when repository_stats needs its salted twin.
    Pure composition: the per-repo request census feeds the existing
    histogram-route operators/textstats.py:length_gini (Lorenz trapezoid
    identity, exact BIGINT moments)."""
    from stash_log_parser_spark.operators.textstats import length_gini

    census = (
        _parsed(spark)
        .filter(F.col("is_parsed") & F.col("repo_slug").isNotNull())
        .groupBy("repo_slug")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn("scope", F.lit("all"))
    )
    g = length_gini(census, value_col="c", by_col="scope")
    return g.select(
        F.col("n_docs").alias("n_repos"),
        F.col("total_chars").alias("total_requests"),
        "gini_e6",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name[3:]: fn for name, fn in globals().items() if name.startswith("_q_")}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_RID = r"^([io])(\d+)x(\d+)x(\d+)$"

# DuckDB re-parse of the raw lines — independent of the Spark grok.
_PARSE_CTE = f"""
WITH _r AS (
  SELECT doc_id, source,
         string_split(regexp_replace(line, ' \\|$', ''), ' | ') AS p
  FROM read_parquet('{CORPUS}')
), _p1 AS (
  SELECT doc_id, source, len(p) AS nf,
    string_split(p[1], ',')[1] AS client_ip,
    p[2] AS protocol,
    nullif(regexp_extract(p[3], '{_RID}', 1), '') AS req_dir,
    try_cast(nullif(regexp_extract(p[3], '{_RID}', 3), '') AS BIGINT) AS req_counter,
    try_cast(nullif(regexp_extract(p[3], '{_RID}', 4), '') AS INTEGER) AS req_concurrent,
    nullif(p[4], '-') AS username,
    nullif(regexp_extract(p[7], '^"([^"]*)"', 1), '') AS referrer,
    nullif(p[10], '-') AS session_id,
    p[5] AS ts_raw,
    try_strptime(replace(p[5], ',', '.'), '%Y-%m-%d %H:%M:%S.%g') AS ts,
    p[6] AS action,
    CASE WHEN p[8] IS NULL OR p[8] = '-' THEN []::VARCHAR[]
         ELSE string_split(p[8], ', ') END AS labels,
    try_cast(nullif(p[9], '-') AS BIGINT) AS duration_ms
  FROM _r
), _p2 AS (
  SELECT *,
    (nf = 10 AND ts IS NOT NULL AND req_counter IS NOT NULL) AS is_parsed,
    CASE WHEN action LIKE '"%'
         THEN regexp_extract(action, '^"(\\S+) (\\S+)', 1)
         ELSE regexp_extract(action, '^(git-[a-z-]+) ''([^'']+)''', 1) END AS method,
    split_part(CASE WHEN action LIKE '"%'
         THEN regexp_extract(action, '^"(\\S+) (\\S+)', 2)
         ELSE regexp_extract(action, '^(git-[a-z-]+) ''([^'']+)''', 2) END, '?', 1) AS path
  FROM _p1
), parsed AS (
  SELECT *,
    nullif(lower(regexp_extract(path, '^(?:/scm)?/([^/]+/[^/]+?)\\.git(?:/|$)', 1)), '') AS repo_slug,
    CASE WHEN req_dir = 'o' THEN
      CASE WHEN list_contains(labels, 'shallow clone') THEN 'shallow_clone'
           WHEN list_contains(labels, 'clone') THEN 'clone'
           WHEN list_contains(labels, 'fetch') THEN 'fetch'
           WHEN list_contains(labels, 'push') OR action LIKE '%git-receive-pack%' THEN 'push'
           WHEN list_contains(labels, 'refs')
                OR (method = 'GET' AND path LIKE '%/info/refs') THEN 'ref_advertisement'
      END END AS op_type,
    list_contains(labels, 'cache:hit') AS cache_hit,
    substr(ts_raw, 1, 13) AS hour_str,
    substr(ts_raw, 1, 10) AS day_str
  FROM _p2
)
"""

_KNN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS query_vec
  FROM embeddings ORDER BY vec_id LIMIT 3
), scored AS (
  SELECT q.query_id, e.vec_id,
    round(list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec), 6) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
ORDER BY query_id, rank"""

_OPS = ["clone", "fetch", "shallow_clone", "push", "ref_advertisement"]
_OP_PLURAL = {
    "clone": "clones",
    "fetch": "fetches",
    "shallow_clone": "shallow_clones",
    "push": "pushes",
    "ref_advertisement": "ref_advertisements",
}


def _repo_stats_sql() -> str:
    sums = ",\n    ".join(
        f"CAST(sum(CASE WHEN op_type = '{op}' THEN 1 ELSE 0 END) AS BIGINT) AS {pl}"
        for op, pl in _OP_PLURAL.items()
    )
    return f"""{_PARSE_CTE}
SELECT repo_slug,
    {sums}
FROM parsed
WHERE is_parsed AND op_type IS NOT NULL AND repo_slug IS NOT NULL
GROUP BY repo_slug
ORDER BY clones DESC, repo_slug ASC"""


def _git_ops_sql() -> str:
    cols = []
    for op in _OPS:
        cols.append(
            f"CAST(sum(CASE WHEN op_type = '{op}' AND cache_hit THEN 1 ELSE 0 END) AS BIGINT) AS {op}_hit"
        )
        cols.append(
            f"CAST(sum(CASE WHEN op_type = '{op}' AND NOT cache_hit THEN 1 ELSE 0 END) AS BIGINT) AS {op}_miss"
        )
    col_sql = ",\n    ".join(cols)
    return f"""{_PARSE_CTE}
SELECT hour_str AS hour,
    {col_sql}
FROM parsed
WHERE is_parsed AND op_type IS NOT NULL
GROUP BY hour_str
ORDER BY hour"""


def _lang_sql() -> str:
    from stash_log_parser_spark.operators.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_cols = []
    for lang in langs:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        # floor-scale quantization mirrors textstats.round6 exactly
        score_cols.append(
            f"floor(len(list_filter(words, w -> list_contains([{markers}], w))) "
            f"/ greatest(len(words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 "
            f"AS score_{lang}"
        )
    # lexicographic-tie argmax, identical to the Spark fold
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, score_{lang})"
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
  FROM documents
), s AS (
  SELECT doc_id, {", ".join(score_cols)} FROM w
)
SELECT *, {pred} AS lang_pred FROM s"""


def _curate_v2_sql() -> str:
    from stash_log_parser_spark.operators.textstats import GOPHER_STOPS

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^\s]+"
    phone = r"\b\d{3}[-.]\d{4}\b"
    return f"""
WITH d0 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN '{_BOILER} ' || text ELSE text END AS t0
  FROM documents),
d1 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0
              THEN t0 || ' contact user' || doc_id || '@example.com see ' ||
                   'https://example.org/d' || doc_id || ' call 555-0199'
              ELSE t0 END AS text
  FROM d0),
w AS (SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\\s+') AS words FROM d1),
segs AS (
  SELECT doc_id, CAST(i AS INTEGER) AS idx,
         array_to_string(words[(i*15+1):(i*15+15)], ' ') AS seg
  FROM (SELECT doc_id, words,
               unnest(range(CAST(ceil(len(words)/15.0) AS BIGINT))) AS i
        FROM w)),
dup AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 1),
kept AS (SELECT s.doc_id, s.idx, s.seg FROM segs s ANTI JOIN dup USING (seg)),
clean1 AS (
  SELECT w.doc_id, w.source, coalesce(agg.txt, '') AS t
  FROM w LEFT JOIN (
    SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS txt
    FROM kept GROUP BY doc_id) agg USING (doc_id)),
gw AS (
  SELECT doc_id, source, t,
         string_split_regex(trim(lower(t)), '\\s+') AS words,
         length(regexp_replace(trim(lower(t)), '\\s+', '', 'g')) AS sum_chars
  FROM clean1),
gate AS (
  SELECT doc_id, source, t FROM (
    SELECT *, len(words) AS n_words,
      len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
      len(list_intersect(list_distinct(words), [{stops}])) AS n_stop,
      len(regexp_extract_all(t, '#|\\.\\.\\.')) AS n_sym
    FROM gw)
  WHERE n_words >= 50 AND n_words <= 100000
    AND 5 * n_alpha >= 4 * n_words AND 10 * n_sym <= n_words),
scrub AS (
  SELECT doc_id, source,
    len(regexp_extract_all(t, '{email}'))::INT
      + len(regexp_extract_all(t, '{url}'))::INT
      + len(regexp_extract_all(t, '{phone}'))::INT AS n_pii,
    md5(regexp_replace(
          regexp_replace(
            regexp_replace(t, '{email}', '<EMAIL>', 'g'),
            '{url}', '<URL>', 'g'),
          '{phone}', '<PHONE>', 'g')) AS final_md5
  FROM gate)
SELECT doc_id, source, n_pii, final_md5 FROM scrub
WHERE substr(md5(doc_id || ':' || source), 1, 6) <
      CASE source WHEN 'src0' THEN '800000'
                  WHEN 'src1' THEN '400000'
                  WHEN 'src2' THEN '000000'
                  ELSE 'zzzzzz' END
ORDER BY doc_id"""


def _gopher_sql() -> str:
    from stash_log_parser_spark.operators.textstats import GOPHER_STOPS

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    return f"""
WITH w AS (
  SELECT doc_id, text,
    string_split_regex(trim(lower(text)), '\\s+') AS words,
    length(regexp_replace(trim(lower(text)), '\\s+', '', 'g')) AS sum_chars
  FROM documents
), c AS (
  SELECT doc_id,
    len(words) AS n_words,
    sum_chars,
    len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
    len(list_intersect(list_distinct(words), [{stops}])) AS n_stop,
    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym
  FROM w
)
SELECT doc_id,
  CAST(n_words AS INTEGER) AS n_words,
  CAST(sum_chars AS INTEGER) AS sum_word_chars,
  CAST(n_alpha AS INTEGER) AS n_alpha_words,
  CAST(n_stop AS INTEGER) AS n_stop_distinct,
  CAST(n_sym AS INTEGER) AS n_symbols,
  (n_words >= 50 AND n_words <= 100000) AS flag_word_count,
  (3 * n_words <= sum_chars AND sum_chars <= 10 * n_words) AS flag_mean_word_len,
  (5 * n_alpha >= 4 * n_words) AS flag_alpha_words,
  (n_stop >= 2) AS flag_stop_words,
  (10 * n_sym <= n_words) AS flag_symbol_ratio,
  ((n_words >= 50 AND n_words <= 100000)
   AND (3 * n_words <= sum_chars AND sum_chars <= 10 * n_words)
   AND (5 * n_alpha >= 4 * n_words)
   AND (n_stop >= 2)
   AND (10 * n_sym <= n_words)) AS passes
FROM c ORDER BY doc_id"""


def _text_stats_sql() -> str:
    from stash_log_parser_spark.operators.textstats import BPE_RE, LANG_MARKERS

    en = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    return f"""
WITH tsw AS (
  SELECT doc_id, text,
    length(text) AS n_chars,
    string_split_regex(trim(lower(text)), '\\s+') AS words,
    len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
  FROM documents
), tss AS (
  -- every reference is tsw.-qualified: a MATERIALIZED CTE anywhere in
  -- the statement makes DuckDB's binder mistake same-named select
  -- aliases for (forbidden) forward lateral references
  SELECT tsw.doc_id,
    tsw.n_chars,
    len(tsw.words) AS n_ws_tokens,
    tsw.n_bpe_tokens,
    tsw.n_punct,
    floor(tsw.n_punct / greatest(tsw.n_chars, 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS punct_ratio,
    floor(len(list_filter(tsw.words, x -> list_contains([{en}], x)))
          / greatest(len(tsw.words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS stopword_ratio,
    floor(tsw.n_chars / greatest(len(tsw.words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS mean_token_chars
  FROM tsw
)
SELECT tss.doc_id, CAST(tss.n_chars AS BIGINT) AS n_chars,
  CAST(tss.n_ws_tokens AS INTEGER) AS n_ws_tokens,
  CAST(tss.n_bpe_tokens AS INTEGER) AS n_bpe_tokens,
  CAST(tss.n_punct AS INTEGER) AS n_punct,
  tss.punct_ratio, tss.stopword_ratio, tss.mean_token_chars,
  floor((0.25 * least(tss.n_ws_tokens / 50.0, 1.0)
      + 0.25 * least(tss.stopword_ratio * 5.0, 1.0)
      + 0.25 * (1.0 - least(tss.punct_ratio * 5.0, 1.0))
      + 0.25 * (CASE WHEN tss.mean_token_chars >= 3 AND tss.mean_token_chars <= 12
                     THEN 1.0 ELSE 0.0 END)) * 1000000 + 0.5) / 1000000 AS quality_score
FROM tss"""


# Shared curation-chain mirror prefix (langid gate -> quality gate ->
# keep-first exact dedup -> bruteforce jaccard pairs); RECURSIVE so the
# clustered variant can append a transitive-closure CTE.
_CURATE_PREFIX = """
WITH RECURSIVE w AS (
  SELECT doc_id, text, length(text) AS n_chars,
    string_split_regex(trim(lower(text)), '\\s+') AS words,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
  FROM documents
), feat AS (
  SELECT doc_id, text, words,
    floor(n_punct / greatest(n_chars, 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS punct_ratio,
    floor(len(list_filter(words, x -> list_contains(['the','and','of','is','not','that','a','with'], x))) / greatest(len(words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS score_en,
    floor(len(list_filter(words, x -> list_contains(['der','die','und','ist','nicht','das','ein','mit'], x))) / greatest(len(words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS score_de,
    floor(len(list_filter(words, x -> list_contains(['el','la','y','es','no','que','un','con'], x))) / greatest(len(words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS score_es,
    floor(len(list_filter(words, x -> list_contains(['le','la','et','est','pas','que','un','avec'], x))) / greatest(len(words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS score_fr,
    floor(n_chars / greatest(len(words), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS mean_tok,
    len(words) AS n_ws
  FROM w
), gated AS (
  SELECT doc_id, text, words FROM feat
  WHERE (CASE WHEN score_fr > greatest(greatest(score_de, score_en), score_es) THEN 'fr'
         ELSE CASE WHEN score_es > greatest(score_de, score_en) THEN 'es'
         ELSE CASE WHEN score_en > score_de THEN 'en' ELSE 'de' END END END) = 'en'
    AND floor((0.25 * least(n_ws / 50.0, 1.0)
        + 0.25 * least(score_en * 5.0, 1.0)
        + 0.25 * (1.0 - least(punct_ratio * 5.0, 1.0))
        + 0.25 * (CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 1.0 ELSE 0.0 END)) * 1000000 + 0.5) / 1000000 >= 0.75
), dedup AS (
  SELECT doc_id, words FROM gated
  WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY md5(text))
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM dedup
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    floor(len(list_intersect(a.shingles, b.shingles))
          / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)"""


def _sketch_sql() -> str:
    """HDR-sketch percentile mirror - shared by the batch sketch query
    and the streaming rollup (which must land on the SAME answer)."""
    return f"""{_PARSE_CTE}, d AS (
  SELECT op_type, duration_ms AS v FROM parsed
  WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL
), bk AS (
  SELECT op_type,
    CASE WHEN v < 32 THEN v
         ELSE CAST(floor(v / power(2, length(bin(v)) - 5))
                   * power(2, length(bin(v)) - 5) AS BIGINT)
    END AS bucket,
    count(*) AS n
  FROM d GROUP BY 1, 2
), c AS (
  SELECT op_type, bucket,
         sum(n) OVER (PARTITION BY op_type ORDER BY bucket) AS cum,
         sum(n) OVER (PARTITION BY op_type) AS total
  FROM bk
)
SELECT op_type, CAST(max(total) AS BIGINT) AS n,
  CAST(min(CASE WHEN cum >= ceil(0.5  * total) THEN bucket END) AS BIGINT) AS p50,
  CAST(min(CASE WHEN cum >= ceil(0.9  * total) THEN bucket END) AS BIGINT) AS p90,
  CAST(min(CASE WHEN cum >= ceil(0.95 * total) THEN bucket END) AS BIGINT) AS p95,
  CAST(min(CASE WHEN cum >= ceil(0.99 * total) THEN bucket END) AS BIGINT) AS p99
FROM c GROUP BY op_type ORDER BY op_type"""


def _topic_tags_oracle() -> str:
    """DuckDB twin of topic_tags, generated from the SAME
    TOPIC_LEXICON constant so the lexicon can never drift between
    engines (the same single-source-of-truth device as the ring-anchor
    oracle below)."""
    from stash_log_parser_spark.operators.textstats import TOPIC_LEXICON

    hit_cols, roll_cols, unions = [], [], []
    for t, terms in TOPIC_LEXICON.items():
        in_list = ", ".join(f"'{w}'" for w in terms)
        hit_cols.append(
            f"CAST(len(list_filter(ws, w -> w IN ({in_list}))) AS BIGINT)"
            f" AS h_{t}"
        )
        roll_cols.append(
            f"CAST(sum(h_{t}) AS BIGINT) AS hits_{t},\n"
            f"         CAST(sum(CASE WHEN h_{t} > 0 THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS nd_{t}"
        )
        unions.append(
            f"SELECT source, '{t}' AS topic, nd_{t} AS n_docs,"
            f" hits_{t} AS hits, n_src FROM r"
        )
    hit_sql = ",\n         ".join(hit_cols)
    roll_sql = ",\n         ".join(roll_cols)
    union_sql = "\n      UNION ALL ".join(unions)
    return f"""
WITH d AS (
  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents),
h AS (
  SELECT source,
         {hit_sql}
  FROM d),
r AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src,
         {roll_sql}
  FROM h GROUP BY source),
u AS ({union_sql})
SELECT source, topic, n_docs, hits,
       floor(n_docs::DOUBLE / n_src * 1000000 + 0.5) / 1000000 AS hit_rate
FROM u ORDER BY source, topic"""


def _shard_rebalance_oracle(n_from: int = 8, n_to: int = 9) -> str:
    """DuckDB twin of shard_rebalance with the ring anchors inlined
    from the same driver-side hashlib constants the Spark plan uses."""
    from stash_log_parser_spark.operators.mixture import (
        RING_SPACE,
        _ring_anchors,
    )

    def least_expr(n: int) -> str:
        terms = ", ".join(
            f"((CAST({a} AS BIGINT) - h + {RING_SPACE}) % {RING_SPACE})"
            f" * 1024 + {s}"
            for s, a in enumerate(_ring_anchors(n))
        )
        return f"least({terms}) % 1024"

    return f"""
WITH d AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
  FROM documents),
f AS (
  SELECT CASE WHEN h % {n_from} <> h % {n_to} THEN 1 ELSE 0 END AS mv_mod,
         CASE WHEN ({least_expr(n_from)}) <> ({least_expr(n_to)})
              THEN 1 ELSE 0 END AS mv_ring
  FROM d),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(mv_mod) AS BIGINT) AS moved_mod,
         CAST(sum(mv_ring) AS BIGINT) AS moved_ring
  FROM f)
SELECT 'mod' AS strategy, n_docs, moved_mod AS n_moved,
       floor(moved_mod::DOUBLE / n_docs * 1000000 + 0.5) / 1000000 AS moved_frac
FROM a
UNION ALL
SELECT 'ring' AS strategy, n_docs, moved_ring AS n_moved,
       floor(moved_ring::DOUBLE / n_docs * 1000000 + 0.5) / 1000000 AS moved_frac
FROM a
ORDER BY strategy"""


def _winnow_ctes(k: int = 4, w: int = 5) -> str:
    """Shared DuckDB CTE chain for the winnowing twins: positional
    k-gram 48-bit md5 hashes, forward window-min, start-position
    filter, distinct census — mirrors dedup._winnowed exactly (DuckDB
    positions are 1-based; Spark's posexplode is 0-based, hence the
    +1 on the filter bound)."""
    return rf"""
wds AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(array_to_string(ws[i:i+{k - 1}], ' ')),
                              1, 12)) AS BIGINT) AS h
  FROM wds,
  LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - {k - 1}, 1)))
           AS i) u),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
       FROM g GROUP BY doc_id),
mins AS (
  SELECT g.doc_id, g.i,
         min(h) OVER (PARTITION BY g.doc_id ORDER BY g.i
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mh,
         pd.n_grams
  FROM g JOIN pd USING (doc_id)),
sel AS (SELECT DISTINCT doc_id, mh FROM mins
        WHERE i <= greatest(n_grams - {w}, 0) + 1)"""


def _lsh_s_curve_oracle(
    configs: tuple = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)),
    threshold: float = 0.2,
) -> str:
    """DuckDB twin of dedup.lsh_s_curve: same exact-Jaccard pair set,
    same repeated-multiplication powers (left-assoc, never pow()),
    same e6 quantization — double arithmetic is bit-identical."""

    def powi(expr: str, k: int) -> str:
        return "(" + " * ".join([expr] * k) + ")"

    selects = []
    for b, r in configs:
        jr = powi("jaccard", r)
        q = powi(f"(1.0 - {jr})", b)
        p = f"(1.0 - {q})"
        selects.append(
            f"SELECT CAST({b} AS BIGINT) AS bands,"
            f" CAST({r} AS BIGINT) AS rows_per_band,"
            f" CAST(floor({p} * 1000000 + 0.5) AS BIGINT) AS p_e6 FROM p"
        )
    union = "\n  UNION ALL\n  ".join(selects)
    return rf"""
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)
),
p AS (
  SELECT jaccard FROM (
    SELECT floor(len(list_intersect(a.shingles, b.shingles))
          / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
          * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id)
  WHERE jaccard >= {threshold}),
e AS (
  {union})
SELECT bands, rows_per_band, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(p_e6) AS BIGINT) AS exp_detected_e6,
       floor(sum(p_e6)::DOUBLE / 1000000 / count(*) * 1000000 + 0.5)
         / 1000000.0 AS exp_recall
FROM e GROUP BY bands, rows_per_band ORDER BY bands, rows_per_band"""


def oracle_sql() -> dict[str, str]:
    _ensure_corpus()
    from stash_log_parser_spark.operators.textstats import FP_BASE, FP_MOD

    d = {
        "log_count_requests": f"""{_PARSE_CTE}
SELECT CAST(count(*) AS BIGINT) AS total_lines,
       CAST(sum(CASE WHEN is_parsed THEN 1 ELSE 0 END) AS BIGINT) AS parsed_lines,
       CAST(sum(CASE WHEN is_parsed THEN 0 ELSE 1 END) AS BIGINT) AS malformed_lines
FROM parsed""",
        "log_protocol_counts": f"""{_PARSE_CTE}
SELECT protocol, CAST(count(*) AS BIGINT) AS n
FROM parsed WHERE is_parsed GROUP BY protocol ORDER BY protocol""",
        "log_protocol_by_hour": f"""{_PARSE_CTE}
SELECT hour_str AS hour,
       CAST(sum(CASE WHEN protocol = 'ssh' THEN 1 ELSE 0 END) AS BIGINT) AS ssh,
       CAST(sum(CASE WHEN protocol IN ('http','https') THEN 1 ELSE 0 END) AS BIGINT) AS http
FROM parsed WHERE is_parsed AND op_type IS NOT NULL
GROUP BY hour_str ORDER BY hour""",
        "log_git_operations": _git_ops_sql(),
        "log_repository_stats": _repo_stats_sql(),
        "log_repository_stats_salted": _repo_stats_sql(),
        "log_request_durations": f"""{_PARSE_CTE}
SELECT doc_id, op_type, duration_ms, username, client_ip
FROM parsed
WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL""",
        "log_duration_percentiles": f"""{_PARSE_CTE}
SELECT op_type, CAST(count(*) AS BIGINT) AS n,
       round(avg(duration_ms), 4) AS mean_ms,
       round(quantile_cont(duration_ms, 0.5), 4) AS p50,
       round(quantile_cont(duration_ms, 0.9), 4) AS p90,
       round(quantile_cont(duration_ms, 0.95), 4) AS p95,
       round(quantile_cont(duration_ms, 0.99), 4) AS p99
FROM parsed
WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL
GROUP BY op_type ORDER BY op_type""",
        # HDR-style histogram sketch: the bucket formula is exact
        # integer arithmetic in both engines (bit length via bin()
        # string length; v/2^k is exact IEEE division for v < 2^53),
        # so the sketch is value-hash oracled
        "log_duration_percentiles_sketch": _sketch_sql(),
        "log_latency_heatmap": f"""{_PARSE_CTE}
SELECT hour_str AS hour,
  CASE WHEN duration_ms < 32 THEN duration_ms
       ELSE CAST(floor(duration_ms / power(2, length(bin(duration_ms)) - 5))
                 * power(2, length(bin(duration_ms)) - 5) AS BIGINT)
  END AS bucket,
  CAST(count(*) AS BIGINT) AS n
FROM parsed
WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL
GROUP BY hour, bucket
ORDER BY hour, bucket""",
        # the streaming rollup must land on the SAME sketch answer —
        # this oracle re-checks mergeability across micro-batches
        "log_stream_duration_sketch": _sketch_sql(),
        "log_max_concurrent": f"""{_PARSE_CTE}
SELECT CAST(max(run) AS INTEGER) AS max_concurrent FROM (
  SELECT sum(CASE WHEN req_dir = 'i' THEN 1 ELSE -1 END)
           OVER (PARTITION BY day_str ORDER BY ts, req_dir, req_counter
                 ROWS UNBOUNDED PRECEDING) AS run
  FROM parsed WHERE is_parsed AND req_dir IN ('i','o'))""",
        "log_concurrency_by_hour": f"""{_PARSE_CTE}
SELECT hour, CAST(max(run) AS INTEGER) AS max_concurrent FROM (
  SELECT hour_str AS hour,
         sum(CASE WHEN req_dir = 'i' THEN 1 ELSE -1 END)
           OVER (PARTITION BY day_str ORDER BY ts, req_dir, req_counter
                 ROWS UNBOUNDED PRECEDING) AS run
  FROM parsed WHERE is_parsed AND req_dir IN ('i','o'))
GROUP BY hour ORDER BY hour""",
        "log_concurrency_by_minute": f"""{_PARSE_CTE}
SELECT minute, CAST(max(run) AS INTEGER) AS max_concurrent FROM (
  SELECT substr(ts_raw, 1, 16) AS minute,
         sum(CASE WHEN req_dir = 'i' THEN 1 ELSE -1 END)
           OVER (PARTITION BY day_str ORDER BY ts, req_dir, req_counter
                 ROWS UNBOUNDED PRECEDING) AS run
  FROM parsed WHERE is_parsed AND req_dir IN ('i','o'))
GROUP BY minute ORDER BY minute""",
        "log_pairing_stats": f"""{_PARSE_CTE}
SELECT CAST(sum(CASE WHEN ts_in IS NOT NULL AND ts_out IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched_pairs,
       CAST(sum(CASE WHEN ts_out IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unmatched_incoming,
       CAST(sum(CASE WHEN ts_in IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unmatched_outgoing
FROM (
  SELECT day_str, req_counter,
         min(CASE WHEN req_dir = 'i' THEN ts END) AS ts_in,
         max(CASE WHEN req_dir = 'o' THEN ts END) AS ts_out
  FROM parsed WHERE is_parsed AND req_dir IN ('i','o')
  GROUP BY day_str, req_counter)""",
        "log_top_users": f"""{_PARSE_CTE}
SELECT username, CAST(count(*) AS BIGINT) AS n_ops,
       CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
FROM parsed WHERE is_parsed AND op_type IS NOT NULL
GROUP BY username ORDER BY n_ops DESC, username ASC LIMIT 10""",
        "log_cache_stats": f"""{_PARSE_CTE}
SELECT op_type,
       CAST(sum(CASE WHEN cache_hit THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST(sum(CASE WHEN cache_hit THEN 0 ELSE 1 END) AS BIGINT) AS misses,
       round(sum(CASE WHEN cache_hit THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 4) AS hit_rate
FROM parsed WHERE is_parsed AND op_type IS NOT NULL
GROUP BY op_type ORDER BY op_type""",
        "log_git_client_versions": f"""{_PARSE_CTE}
SELECT user_agent, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT nullif(regexp_extract(p[7], '"([^"]*)"\\s*$', 1), '') AS user_agent, is_parsed
  FROM parsed JOIN _r USING (doc_id))
WHERE is_parsed AND user_agent IS NOT NULL
GROUP BY user_agent ORDER BY n DESC, user_agent ASC""",
        "log_referrer_stats": f"""{_PARSE_CTE}
SELECT referrer, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT username) AS BIGINT) AS n_users
FROM parsed WHERE is_parsed AND referrer IS NOT NULL
GROUP BY referrer ORDER BY n DESC, referrer ASC""",
        "log_session_stats": f"""{_PARSE_CTE}
SELECT session_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT req_counter) AS BIGINT) AS n_requests,
       max(username) AS username,
       CAST((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000 AS BIGINT) AS span_ms
FROM parsed WHERE is_parsed AND session_id IS NOT NULL
GROUP BY session_id ORDER BY n_events DESC, session_id ASC LIMIT 20""",
        "events_intersect_except": """
SELECT user_id, 'click_and_purchase' AS set_op FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase')
UNION ALL
SELECT user_id, 'click_no_purchase' AS set_op FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
ORDER BY set_op, user_id""",
        "log_unique_users_daily": f"""{_PARSE_CTE}
SELECT day_str AS day, CAST(count(DISTINCT username) AS BIGINT) AS n_users
FROM parsed WHERE is_parsed AND username IS NOT NULL
GROUP BY day_str ORDER BY day""",
        "log_malformed_by_source": f"""{_PARSE_CTE}
SELECT source, CAST(count(*) AS BIGINT) AS total_lines,
       CAST(sum(CASE WHEN is_parsed THEN 0 ELSE 1 END) AS BIGINT) AS malformed_lines
FROM parsed GROUP BY source ORDER BY source""",
        "log_enrich_project": f"""{_PARSE_CTE},
repo_project(repo_slug, project_key) AS (VALUES
  ('conf/confluence','CONF'), ('conf/teams','CONF'), ('teams/website','TEAMS'),
  ('jira/jira-core','JIRA'), ('bamb/bamboo','BAMB'), ('stash/stash','STASH'),
  ('fe/frontend','FE'), ('ops/deploy-tools','OPS')),
ip_dc(ip_prefix, datacenter) AS (VALUES
  ('172.16.1','dc-syd'), ('10.0.0','dc-ams'), ('63.246.22','external'), ('192.168.1','dc-lab'))
SELECT rp.project_key, dc.datacenter, CAST(count(*) AS BIGINT) AS n_ops
FROM parsed p
LEFT JOIN repo_project rp ON p.repo_slug = rp.repo_slug
LEFT JOIN ip_dc dc ON regexp_extract(p.client_ip, '^(\\d+\\.\\d+\\.\\d+)\\.', 1) = dc.ip_prefix
WHERE p.is_parsed AND p.op_type IS NOT NULL
GROUP BY rp.project_key, dc.datacenter
ORDER BY rp.project_key, dc.datacenter""",
        # -- driver tables -------------------------------------------------
        "events_hourly_type_counts": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
        "events_running_max": """
SELECT event_id, user_id,
       max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS running_max
FROM events""",
        "events_percentiles": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type ORDER BY event_type""",
        "events_sessionize": """
SELECT user_id, CAST(sum(_new) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS _new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
GROUP BY user_id ORDER BY user_id""",
        "log_token_integrity": f"""
WITH t AS (
  SELECT doc_id, source, n_tok, len(tokens) AS n_actual, tokens
  FROM read_parquet('{CORPUS}')
), rowagg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN n_tok = n_actual THEN 0 ELSE 1 END) AS BIGINT)
           AS n_len_mismatch,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens
  FROM t GROUP BY source
), flat AS (
  SELECT source, CAST(generate_subscripts(tokens, 1) AS BIGINT) AS i,
         CAST(unnest(tokens) AS BIGINT) AS tok
  FROM t
), sums AS (
  SELECT source, CAST(sum(tok) AS BIGINT) AS token_sum,
         CAST(sum(i * tok) AS BIGINT) AS weighted_sum
  FROM flat GROUP BY source)
SELECT source, n_rows, n_len_mismatch, total_tokens, token_sum, weighted_sum
FROM rowagg JOIN sums USING (source) ORDER BY source""",
        "events_last_touch": """
SELECT user_id, event_id AS last_event_id,
       floor(value * 100 + 0.5)::BIGINT AS last_value_cents,
       n_clicks
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_clicks
  FROM events WHERE event_type = 'click')
WHERE rn = 1 ORDER BY user_id""",
        "docs_length_quartiles": """
SELECT source, CAST(q AS INTEGER) AS q, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT source, n_chars,
         ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS q
  FROM documents)
GROUP BY source, q ORDER BY source, q""",
        # the histogram-route twin must equal the ntile form exactly:
        # SAME oracle.
        "docs_length_quartiles_hist": """
SELECT source, CAST(q AS INTEGER) AS q, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT source, n_chars,
         ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS q
  FROM documents)
GROUP BY source, q ORDER BY source, q""",
        "log_templates": f"""{_PARSE_CTE}
, tpl AS (
  SELECT CASE WHEN is_parsed AND method IS NOT NULL AND method != '' THEN
      regexp_replace(
        regexp_replace(concat_ws(' ', method, path),
          '/[A-Za-z0-9_.\\-]+/[A-Za-z0-9_.\\-]+\\.git', '/<repo>.git', 'g'),
        '[0-9]+', '<n>', 'g')
    ELSE '<malformed>' END AS template, username
  FROM parsed),
c AS (SELECT template, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(count(DISTINCT username) AS BIGINT) AS n_users
      FROM tpl GROUP BY template)
SELECT template, n_lines, n_users,
       n_lines * 1000000 < (SELECT sum(n_lines) FROM c) * 5000 AS is_rare
FROM c ORDER BY n_lines DESC, template ASC""",
        "log_skew_report": f"""{_PARSE_CTE}
, c AS (SELECT coalesce(repo_slug, '<null>') AS k,
               CAST(count(*) AS BIGINT) AS c
        FROM parsed GROUP BY k),
s AS (SELECT
        CAST(sum(CASE WHEN k != '<null>' THEN 1 ELSE 0 END) AS BIGINT) AS n_keys,
        CAST(coalesce(sum(CASE WHEN k != '<null>' THEN c END), 0) AS BIGINT) AS n_rows,
        CAST(coalesce(max(CASE WHEN k != '<null>' THEN c END), 0) AS BIGINT) AS max_rows,
        CAST(coalesce(sum(CASE WHEN k = '<null>' THEN c END), 0) AS BIGINT) AS n_null_rows
      FROM c),
h AS (SELECT min(k) AS hot_key FROM c, s WHERE k != '<null>' AND c = max_rows)
SELECT n_keys, n_rows, n_null_rows, max_rows, hot_key,
       CAST((max_rows * 1000000) // n_rows AS BIGINT) AS top_share_ppm,
       CAST((max_rows * n_keys + n_rows - 1) // n_rows AS BIGINT) AS recommended_salt
FROM s, h""",
        "events_retention_weekly": """
WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS wk FROM events),
f AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id),
cs AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_cohort FROM f GROUP BY cohort_wk),
r AS (SELECT f.cohort_wk,
             CAST(date_diff('day', f.cohort_wk, uw.wk) // 7 AS INTEGER) AS week_offset,
             CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_active
      FROM uw JOIN f USING (user_id)
      WHERE date_diff('day', f.cohort_wk, uw.wk) // 7 <= 8
      GROUP BY 1, 2)
SELECT strftime(r.cohort_wk, '%Y-%m-%d') AS cohort_week, week_offset,
       n_cohort, n_active,
       CAST((n_active * 1000000) // n_cohort AS BIGINT) AS retention_ppm
FROM r JOIN cs USING (cohort_wk)
ORDER BY cohort_week, week_offset""",
        "events_cohort_ltv": """
WITH f AS (
  SELECT user_id, min(date_trunc('week', ts)::DATE) AS cohort_wk
  FROM events GROUP BY user_id),
cs AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_cohort
       FROM f GROUP BY cohort_wk),
rev AS (
  SELECT f.cohort_wk,
    CAST(date_diff('day', f.cohort_wk, date_trunc('week', e.ts)::DATE)
         // 7 AS INTEGER) AS week_offset,
    CAST(sum(floor(e.value * 100 + 0.5)::BIGINT) AS BIGINT) AS week_cents,
    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_spenders
  FROM events e JOIN f USING (user_id)
  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
    AND date_diff('day', f.cohort_wk, date_trunc('week', e.ts)::DATE)
        // 7 <= 8
  GROUP BY 1, 2),
c AS (
  SELECT cohort_wk, week_offset, week_cents, n_spenders,
    CAST(sum(week_cents) OVER (PARTITION BY cohort_wk ORDER BY week_offset
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_cents
  FROM rev)
SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week, week_offset,
       n_cohort, n_spenders, week_cents, cum_cents,
       floor(CAST(cum_cents AS DOUBLE) / (n_cohort * 100.0)
             * 1000000 + 0.5) / 1000000.0 AS ltv_per_user
FROM c JOIN cs USING (cohort_wk)
ORDER BY cohort_week, week_offset""",
        "events_psi_drift": """
WITH b AS (SELECT min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d0,
                  max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d1
           FROM events),
h AS (SELECT CAST(CASE WHEN floor(value * 100 + 0.5)::BIGINT > 0
                  THEN length(bin(floor(value * 100 + 0.5)::BIGINT))
                  ELSE 0 END AS INTEGER) AS bucket,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 2 <= d0 + d1 AS is_base
      FROM events, b),
c AS (SELECT bucket,
             CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
      FROM h GROUP BY bucket),
t AS (SELECT CAST(sum(n_base) AS DOUBLE) AS tb, CAST(sum(n_cur) AS DOUBLE) AS tc FROM c)
SELECT bucket, n_base, n_cur,
  CASE WHEN n_base > 0 AND n_cur > 0 THEN
    CAST(floor((n_cur / tc - n_base / tb) * ln((n_cur / tc) / (n_base / tb))
               * 1000000 + 0.5) AS BIGINT) END AS psi_term_e6
FROM c, t ORDER BY bucket""",
        "docs_zipf_topk": """
WITH w0 AS (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
            FROM documents),
v AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w0 WHERE w != '' GROUP BY w),
t AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, w ASC) AS rank FROM v),
p AS (SELECT CAST(floor(ln(rank::DOUBLE) * 10000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(freq::DOUBLE) * 10000 + 0.5) AS BIGINT) AS y
      FROM t WHERE rank <= 200),
m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx FROM p)
SELECT n AS n_words,
  floor(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        * 1000000 + 0.5) / 1000000 AS zipf_slope,
  floor((CAST(sy AS DOUBLE)
         - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
           * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) / 10000.0 * 1000000 + 0.5) / 1000000 AS zipf_intercept
FROM m""",
        "emb_cosine_lag_hist": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
l AS (SELECT unnest([1, 7, 49]) AS lag),
p AS (SELECT l.lag, a.v AS va, b.v AS vb
      FROM e a JOIN l ON true JOIN e b ON a.vec_id + l.lag = b.vec_id),
c AS (SELECT lag,
             CAST(floor(floor(list_cosine_similarity(va, vb) * 1000000 + 0.5)
                        / 1000000 * 10) AS INTEGER) AS bucket
      FROM p)
SELECT CAST(lag AS INTEGER) AS lag, bucket, CAST(count(*) AS BIGINT) AS n_pairs
FROM c GROUP BY lag, bucket ORDER BY lag, bucket""",
        "events_ab_funnel": """
WITH tv AS (
  SELECT user_id,
         CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8' THEN 'A' ELSE 'B' END AS arm,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY 1, 2),
tc AS (
  SELECT e.user_id, tv.arm, tv.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts > tv.t_view THEN e.ts END) AS t_click
  FROM events e JOIN tv USING (user_id) GROUP BY 1, 2, 3),
tp AS (
  SELECT e.user_id, tc.arm, tc.t_view, tc.t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > tc.t_click THEN e.ts END) AS t_purchase
  FROM events e JOIN tc USING (user_id) GROUP BY 1, 2, 3, 4)
SELECT arm,
       CAST(count(user_id) AS BIGINT) AS n_users,
       CAST(count(t_view) AS BIGINT) AS n_viewed,
       CAST(count(t_click) AS BIGINT) AS n_clicked_after_view,
       CAST(count(t_purchase) AS BIGINT) AS n_purchased_after_click
FROM tp GROUP BY arm ORDER BY arm""",
        "events_survival_km": """
WITH t0 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t0
  FROM events GROUP BY user_id),
t0f AS (SELECT * FROM t0 WHERE t0 IS NOT NULL),
te AS (
  SELECT e.user_id, t0f.t0,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > t0f.t0 THEN e.ts END) AS t_event
  FROM events e JOIN t0f USING (user_id) GROUP BY 1, 2),
c AS (SELECT max(CAST(ts AS DATE)) AS c_day FROM events),
pu AS (
  SELECT date_diff('day', CAST(t0 AS DATE),
                   coalesce(CAST(t_event AS DATE), c_day)) AS d_off,
         t_event IS NOT NULL AS is_event
  FROM te, c),
km AS (
  SELECT d_off,
         CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
  FROM pu GROUP BY d_off),
km2 AS (
  SELECT *,
         CAST(sum(n_events + n_censored) OVER ()
              - coalesce(sum(n_events + n_censored)
                         OVER (ORDER BY d_off
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at_risk
  FROM km)
SELECT CAST(d_off AS INTEGER) AS day_offset, n_at_risk, n_events, n_censored,
       CASE WHEN max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY d_off
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN 0.0
            ELSE floor(exp(sum(CASE WHEN n_events > 0 AND n_events < n_at_risk
                          THEN ln(1 - n_events::DOUBLE / n_at_risk::DOUBLE)
                          ELSE 0 END)
                 OVER (ORDER BY d_off
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             * 1000000 + 0.5) / 1000000 END AS survival
FROM km2 ORDER BY day_offset""",
        "events_uplift_segments": """
WITH pu AS (
  SELECT user_id,
         CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(count(*) AS BIGINT) AS n_ev,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) % 2
              AS BIGINT) AS converted
  FROM events GROUP BY 1, 2),
segd AS (
  SELECT CASE WHEN n_ev >= 8 THEN 'high'
              WHEN n_ev >= 4 THEN 'mid'
              ELSE 'low' END AS segment, arm, converted
  FROM pu),
agg AS (
  SELECT segment,
         CAST(sum(CASE WHEN arm='A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm='A' THEN converted ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN arm='B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm='B' THEN converted ELSE 0 END) AS BIGINT) AS c_b
  FROM segd GROUP BY segment)
SELECT segment, n_a, c_a, n_b, c_b,
       CASE WHEN n_a > 0
            THEN floor(c_a::DOUBLE / n_a * 1000000 + 0.5) / 1000000 END AS rate_a,
       CASE WHEN n_b > 0
            THEN floor(c_b::DOUBLE / n_b * 1000000 + 0.5) / 1000000 END AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN floor((c_b::DOUBLE / n_b - c_a::DOUBLE / n_a)
                       * 1000000 + 0.5) / 1000000 END AS uplift
FROM agg ORDER BY segment""",
        "events_stream_topk": """
SELECT user_id, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY user_id
ORDER BY n DESC, user_id ASC LIMIT 10""",
        "emb_pq_recall": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ss AS (SELECT unnest(generate_series(0, 3)) AS s),
sub AS (
  SELECT e.vec_id, ss.s, (e.v)[(ss.s*16+1):(ss.s*16+16)] AS sv
  FROM e, ss),
f8 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
cb0 AS (
  SELECT ss.s,
         row_number() OVER (PARTITION BY ss.s ORDER BY f8.vec_id) - 1 AS code,
         (f8.v)[(ss.s*16+1):(ss.s*16+16)] AS cv
  FROM f8, ss),
d0 AS (
  SELECT sub.vec_id, sub.s, cb0.code,
         list_reduce(list_transform(generate_series(1, 16),
             j -> (sub.sv[j] - cb0.cv[j]) * (sub.sv[j] - cb0.cv[j])),
           (a, x) -> a + x) AS d
  FROM sub JOIN cb0 ON sub.s = cb0.s),
a0 AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, code ASC) AS rn
    FROM d0) WHERE rn = 1),
m1 AS (
  SELECT a0.s, a0.code, js.j,
         round(sum(sub.sv[js.j]) / count(*), 6) AS mj
  FROM a0
  JOIN sub ON a0.vec_id = sub.vec_id AND a0.s = sub.s,
       (SELECT unnest(generate_series(1, 16)) AS j) js
  GROUP BY a0.s, a0.code, js.j),
cb1 AS (
  SELECT cb0.s, cb0.code, coalesce(mm.cv1, cb0.cv) AS cv
  FROM cb0 LEFT JOIN (
    SELECT s, code, list(mj ORDER BY j) AS cv1 FROM m1 GROUP BY s, code) mm
    ON cb0.s = mm.s AND cb0.code = mm.code),
d1 AS (
  SELECT sub.vec_id, sub.s, cb1.code,
         list_reduce(list_transform(generate_series(1, 16),
             j -> (sub.sv[j] - cb1.cv[j]) * (sub.sv[j] - cb1.cv[j])),
           (a, x) -> a + x) AS d
  FROM sub JOIN cb1 ON sub.s = cb1.s),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, code ASC) AS rn
    FROM d1) WHERE rn = 1),
q3 AS (SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT 3),
dt AS (
  SELECT q3.query_id, cb1.s, cb1.code,
         CAST(floor(list_reduce(list_transform(generate_series(1, 16),
             j -> (q3.qv[cb1.s*16 + j] - cb1.cv[j])
                  * (q3.qv[cb1.s*16 + j] - cb1.cv[j])),
           (a, x) -> a + x) * 1e6 + 0.5) AS BIGINT) AS d_e6
  FROM q3, cb1),
adc AS (
  SELECT dt.query_id, codes.vec_id, CAST(sum(dt.d_e6) AS BIGINT) AS adc_e6
  FROM codes JOIN dt ON codes.s = dt.s AND codes.code = dt.code
  GROUP BY dt.query_id, codes.vec_id),
pqtop AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_e6 ASC, vec_id ASC) AS rn
    FROM adc) WHERE rn <= 5),
ex AS (
  SELECT q3.query_id, e.vec_id,
         CAST(floor(list_reduce(list_transform(generate_series(1, 64),
             j -> (e.v[j] - q3.qv[j]) * (e.v[j] - q3.qv[j])),
           (a, x) -> a + x) * 1e6 + 0.5) AS BIGINT) AS d_e6
  FROM e, q3),
extop AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY d_e6 ASC, vec_id ASC) AS rn
    FROM ex) WHERE rn <= 5)
SELECT et.query_id,
       CAST(sum(CASE WHEN pt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlap,
       floor(CAST(sum(CASE WHEN pt.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / 5.0 * 1000000 + 0.5) / 1000000 AS recall_at_k
FROM extop et
LEFT JOIN pqtop pt ON et.query_id = pt.query_id AND et.vec_id = pt.vec_id
GROUP BY et.query_id ORDER BY et.query_id""",
        # IVFADC full-chain mirror: the PQ CTEs are the emb_pq_recall
        # chain verbatim; cells/probes are the emb_ivf_topk chain; adc
        # is restricted to probed-cell members.
        "emb_ivfpq_topk": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ss AS (SELECT unnest(generate_series(0, 3)) AS s),
sub AS (
  SELECT e.vec_id, ss.s, (e.v)[(ss.s*16+1):(ss.s*16+16)] AS sv
  FROM e, ss),
f8 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
cb0 AS (
  SELECT ss.s,
         row_number() OVER (PARTITION BY ss.s ORDER BY f8.vec_id) - 1 AS code,
         (f8.v)[(ss.s*16+1):(ss.s*16+16)] AS cv
  FROM f8, ss),
d0 AS (
  SELECT sub.vec_id, sub.s, cb0.code,
         list_reduce(list_transform(generate_series(1, 16),
             j -> (sub.sv[j] - cb0.cv[j]) * (sub.sv[j] - cb0.cv[j])),
           (a, x) -> a + x) AS d
  FROM sub JOIN cb0 ON sub.s = cb0.s),
a0 AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, code ASC) AS rn
    FROM d0) WHERE rn = 1),
m1 AS (
  SELECT a0.s, a0.code, js.j,
         round(sum(sub.sv[js.j]) / count(*), 6) AS mj
  FROM a0
  JOIN sub ON a0.vec_id = sub.vec_id AND a0.s = sub.s,
       (SELECT unnest(generate_series(1, 16)) AS j) js
  GROUP BY a0.s, a0.code, js.j),
cb1 AS (
  SELECT cb0.s, cb0.code, coalesce(mm.cv1, cb0.cv) AS cv
  FROM cb0 LEFT JOIN (
    SELECT s, code, list(mj ORDER BY j) AS cv1 FROM m1 GROUP BY s, code) mm
    ON cb0.s = mm.s AND cb0.code = mm.code),
d1 AS (
  SELECT sub.vec_id, sub.s, cb1.code,
         list_reduce(list_transform(generate_series(1, 16),
             j -> (sub.sv[j] - cb1.cv[j]) * (sub.sv[j] - cb1.cv[j])),
           (a, x) -> a + x) AS d
  FROM sub JOIN cb1 ON sub.s = cb1.s),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, code ASC) AS rn
    FROM d1) WHERE rn = 1),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         v AS cvec
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cid ASC) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
q3 AS (SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT 3),
qprobe AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q3.query_id, c.cid,
           row_number() OVER (PARTITION BY q3.query_id
             ORDER BY list_cosine_similarity(q3.qv, c.cvec) DESC, c.cid ASC) AS rn
    FROM q3 CROSS JOIN cents c) WHERE rn <= 4),
members AS (
  SELECT p.query_id, cl.vec_id
  FROM qprobe p JOIN cells cl ON cl.cell = p.cell),
dt AS (
  SELECT q3.query_id, cb1.s, cb1.code,
         CAST(floor(list_reduce(list_transform(generate_series(1, 16),
             j -> (q3.qv[cb1.s*16 + j] - cb1.cv[j])
                  * (q3.qv[cb1.s*16 + j] - cb1.cv[j])),
           (a, x) -> a + x) * 1e6 + 0.5) AS BIGINT) AS d_e6
  FROM q3, cb1),
adc AS (
  SELECT mem.query_id, mem.vec_id, CAST(sum(dt.d_e6) AS BIGINT) AS adc_e6
  FROM members mem
  JOIN codes ON codes.vec_id = mem.vec_id
  JOIN dt ON dt.query_id = mem.query_id
         AND dt.s = codes.s AND dt.code = codes.code
  GROUP BY mem.query_id, mem.vec_id)
SELECT query_id, vec_id, adc_e6,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_e6 ASC, vec_id ASC) AS INTEGER) AS rank
FROM adc
QUALIFY rank <= 5
ORDER BY query_id, rank""",
        "emb_pq_codebook": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ss AS (SELECT unnest(generate_series(0, 3)) AS s),
sub AS (
  SELECT e.vec_id, ss.s, (e.v)[(ss.s*16+1):(ss.s*16+16)] AS sv
  FROM e, ss),
f8 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
cb0 AS (
  SELECT ss.s,
         row_number() OVER (PARTITION BY ss.s ORDER BY f8.vec_id) - 1 AS code,
         (f8.v)[(ss.s*16+1):(ss.s*16+16)] AS cv
  FROM f8, ss),
d0 AS (
  SELECT sub.vec_id, sub.s, cb0.code,
         list_reduce(list_transform(generate_series(1, 16),
             j -> (sub.sv[j] - cb0.cv[j]) * (sub.sv[j] - cb0.cv[j])),
           (a, x) -> a + x) AS d
  FROM sub JOIN cb0 ON sub.s = cb0.s),
a0 AS (
  SELECT vec_id, s, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, code ASC) AS rn
    FROM d0) WHERE rn = 1),
m1 AS (
  SELECT a0.s, a0.code, js.j,
         round(sum(sub.sv[js.j]) / count(*), 6) AS mj
  FROM a0
  JOIN sub ON a0.vec_id = sub.vec_id AND a0.s = sub.s,
       (SELECT unnest(generate_series(1, 16)) AS j) js
  GROUP BY a0.s, a0.code, js.j),
cb1 AS (
  SELECT cb0.s, cb0.code, coalesce(mm.cv1, cb0.cv) AS cv
  FROM cb0 LEFT JOIN (
    SELECT s, code, list(mj ORDER BY j) AS cv1 FROM m1 GROUP BY s, code) mm
    ON cb0.s = mm.s AND cb0.code = mm.code),
d1 AS (
  SELECT sub.vec_id, sub.s, cb1.code,
         list_reduce(list_transform(generate_series(1, 16),
             j -> (sub.sv[j] - cb1.cv[j]) * (sub.sv[j] - cb1.cv[j])),
           (a, x) -> a + x) AS d
  FROM sub JOIN cb1 ON sub.s = cb1.s),
a1 AS (
  SELECT vec_id, s, code, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, code ASC) AS rn
    FROM d1) WHERE rn = 1)
SELECT CAST(s AS INTEGER) AS s, CAST(code AS INTEGER) AS code,
       CAST(count(*) AS BIGINT) AS n_assigned,
       floor(CAST(sum(CAST(floor(d * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0) * 1000000 + 0.5) / 1000000 AS mean_dist
FROM a1 GROUP BY s, code ORDER BY s, code""",
        "log_token_vocab_census": f"""
WITH tok AS (
  SELECT source, doc_id, unnest(tokens) AS t
  FROM read_parquet('{CORPUS}')),
census AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, t),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY c DESC, t ASC) AS rk
  FROM census),
nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM read_parquet('{CORPUS}')
  GROUP BY source),
agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct_ids,
         CAST(min(t) AS INTEGER) AS min_id,
         CAST(max(t) AS INTEGER) AS max_id,
         CAST(max(CASE WHEN rk = 1 THEN t END) AS INTEGER) AS top_id,
         CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS top_count,
         CAST(sum(CASE WHEN rk <= 16 THEN c ELSE 0 END) AS BIGINT) AS topk
  FROM ranked GROUP BY source)
SELECT agg.source, n_docs, n_tokens, n_distinct_ids, min_id, max_id,
       top_id, top_count,
       floor(topk::DOUBLE / n_tokens * 1000000 + 0.5) / 1000000 AS coverage_topk
FROM agg JOIN nd ON agg.source = nd.source
ORDER BY agg.source""",
        "log_token_cdc_dedup": f"""
WITH c AS (SELECT * FROM read_parquet('{CORPUS}')),
tok AS (
  SELECT source, doc_id, p, tokens[p] AS t,
         CASE WHEN p >= 4 AND md5(concat_ws(',', tokens[p-3], tokens[p-2],
                                            tokens[p-1], tokens[p])) LIKE '0%'
              THEN 1 ELSE 0 END AS b
  FROM (SELECT source, doc_id, tokens,
               unnest(generate_series(1, n_tok)) AS p FROM c)),
chunked AS (
  SELECT source, doc_id, t, p,
         coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS chunk
  FROM tok),
chunks AS (
  SELECT source, doc_id, chunk,
         md5(string_agg(t::VARCHAR, ',' ORDER BY p)) AS h,
         CAST(count(*) AS BIGINT) AS chunk_len
  FROM chunked GROUP BY 1, 2, 3),
occ AS (
  SELECT *, CASE WHEN row_number() OVER (PARTITION BY h
                                         ORDER BY doc_id, chunk) > 1
                 THEN 1 ELSE 0 END AS dup
  FROM chunks)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(chunk_len) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(dup) AS BIGINT) AS n_dup_chunks,
       CAST(sum(dup * chunk_len) AS BIGINT) AS dup_tokens,
       floor(sum(dup * chunk_len)::DOUBLE / sum(chunk_len)
             * 1000000 + 0.5) / 1000000 AS dup_token_share
FROM occ GROUP BY source ORDER BY source""",
        "log_token_bigram_novelty": f"""
WITH c AS (SELECT * FROM read_parquet('{CORPUS}')),
bg AS (
  SELECT source, unnest(list_transform(generate_series(1, n_tok - 1),
                                       k -> tokens[k] * 256 + tokens[k + 1])) AS b
  FROM c WHERE n_tok >= 2),
per_doc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(greatest(n_tok - 1, 0)) AS BIGINT) AS n_bigrams
  FROM c GROUP BY source),
agg AS (
  SELECT source, CAST(count(DISTINCT b) AS BIGINT) AS n_distinct_bigrams
  FROM bg GROUP BY source)
SELECT p.source, n_docs, n_bigrams,
       CAST(coalesce(a.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
       CASE WHEN n_bigrams > 0
            THEN floor(coalesce(a.n_distinct_bigrams, 0)::DOUBLE / n_bigrams
                       * 1000000 + 0.5) / 1000000
       END AS novelty
FROM per_doc p LEFT JOIN agg a ON p.source = a.source
ORDER BY p.source""",
        "log_token_surprisal": f"""
WITH c AS (SELECT * FROM read_parquet('{CORPUS}')
           WHERE n_tok > 0),
tok AS (SELECT doc_id, unnest(tokens) AS t FROM c),
census AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS N FROM census),
term AS (
  SELECT t, CAST(floor(ln(N::DOUBLE / cnt) * 1000000 + 0.5) AS BIGINT)
              AS term_e6
  FROM census, tot),
scored AS (
  SELECT tok.doc_id, CAST(sum(term_e6) AS BIGINT) AS surprisal_e6
  FROM tok JOIN term USING (t) GROUP BY tok.doc_id),
sc AS (
  SELECT c.source, c.doc_id, CAST(c.n_tok AS BIGINT) AS n_tok,
         surprisal_e6,
         CAST(floor(surprisal_e6::DOUBLE / c.n_tok) AS BIGINT) AS mean_e6
  FROM scored JOIN c USING (doc_id)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY mean_e6 DESC, doc_id ASC) AS rank
  FROM sc)
SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, n_tok, surprisal_e6,
       floor(surprisal_e6::DOUBLE / n_tok / 1000000 * 1000000 + 0.5)
         / 1000000 AS mean_surprisal
FROM ranked WHERE rank <= 5 ORDER BY source, rank""",
        "log_token_pmi": f"""
WITH c AS (SELECT * FROM read_parquet('{CORPUS}')
           WHERE n_tok > 0),
bg AS (
  SELECT source, tokens[p] AS t1, tokens[p + 1] AS t2,
         CAST(count(*) AS BIGINT) AS c_xy
  FROM (SELECT source, tokens, unnest(generate_series(1, n_tok - 1)) AS p
        FROM c WHERE n_tok >= 2)
  GROUP BY 1, 2, 3),
uni AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest(tokens) AS t FROM c) GROUP BY 1, 2),
tot AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS N,
         CAST(sum(greatest(n_tok - 1, 0)) AS BIGINT) AS N_bg
  FROM c GROUP BY source),
j AS (
  SELECT bg.source, t1, t2, c_xy,
         CAST(floor(ln((c_xy::DOUBLE * N * N)
                       / (N_bg::DOUBLE * ux.cnt * uy.cnt))
                    * 1000000 + 0.5) AS BIGINT) AS pmi_e6
  FROM bg
  JOIN uni ux ON ux.source = bg.source AND ux.t = bg.t1
  JOIN uni uy ON uy.source = bg.source AND uy.t = bg.t2
  JOIN tot ON tot.source = bg.source
  WHERE c_xy >= 5),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY pmi_e6 DESC, t1 ASC, t2 ASC) AS rank
  FROM j)
SELECT source, CAST(rank AS INTEGER) AS rank, CAST(t1 AS INTEGER) AS t1,
       CAST(t2 AS INTEGER) AS t2, c_xy AS pair_count,
       floor(pmi_e6::DOUBLE / 1000000 * 1000000 + 0.5) / 1000000 AS pmi
FROM ranked WHERE rank <= 10 ORDER BY source, rank""",
        "events_funnel_windowed": """
WITH ev AS (SELECT user_id AS u, event_type, ts FROM events),
t1 AS (
  SELECT u, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM ev GROUP BY u),
t2 AS (
  SELECT ev.u, t1.t1,
         min(CASE WHEN event_type = 'click' AND ts > t1
                   AND ts <= t1 + INTERVAL 3600 SECOND THEN ts END) AS t2
  FROM ev JOIN t1 ON ev.u = t1.u WHERE t1.t1 IS NOT NULL
  GROUP BY ev.u, t1.t1),
t3 AS (
  SELECT ev.u, t2.t2,
         min(CASE WHEN event_type = 'purchase' AND ts > t2
                   AND ts <= t2 + INTERVAL 3600 SECOND THEN ts END) AS t3
  FROM ev JOIN t2 ON ev.u = t2.u WHERE t2.t2 IS NOT NULL
  GROUP BY ev.u, t2.t2),
base AS (
  SELECT CAST(count(t1.t1) AS BIGINT) AS n1,
         CAST(count(t2.t2) AS BIGINT) AS n2,
         CAST(count(t3.t3) AS BIGINT) AS n3
  FROM t1 LEFT JOIN t2 ON t1.u = t2.u LEFT JOIN t3 ON t1.u = t3.u)
SELECT * FROM (
  SELECT 1 AS step_idx, 'view' AS step, n1 AS n_users,
         CAST(NULL AS DOUBLE) AS conv_from_prev,
         CASE WHEN n1 > 0
              THEN floor(n1::DOUBLE / n1 * 1000000 + 0.5) / 1000000
         END AS conv_from_first
  FROM base
  UNION ALL
  SELECT 2, 'click', n2,
         CASE WHEN n1 > 0
              THEN floor(n2::DOUBLE / n1 * 1000000 + 0.5) / 1000000 END,
         CASE WHEN n1 > 0
              THEN floor(n2::DOUBLE / n1 * 1000000 + 0.5) / 1000000 END
  FROM base
  UNION ALL
  SELECT 3, 'purchase', n3,
         CASE WHEN n2 > 0
              THEN floor(n3::DOUBLE / n2 * 1000000 + 0.5) / 1000000 END,
         CASE WHEN n1 > 0
              THEN floor(n3::DOUBLE / n1 * 1000000 + 0.5) / 1000000 END
  FROM base)
ORDER BY step_idx""",
        "events_hourly_densified": """
WITH hc AS (
  SELECT event_type AS t,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
types AS (SELECT DISTINCT t FROM hc),
dense AS (
  SELECT types.t, spine.h, CAST(coalesce(hc.n, 0) AS BIGINT) AS n
  FROM spine CROSS JOIN types
  LEFT JOIN hc ON hc.t = types.t AND hc.h = spine.h)
SELECT t AS event_type,
       strftime(make_timestamp(h * 3600 * 1000000), '%Y-%m-%d %H:00') AS hour,
       n,
       CAST(sum(n) OVER (PARTITION BY t ORDER BY h
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS trailing_sum
FROM dense ORDER BY event_type, hour""",
        "log_jsonl_front_door": f"""{_PARSE_CTE}
SELECT * FROM (
  SELECT protocol, CAST(count(*) AS BIGINT) AS n
  FROM parsed WHERE is_parsed GROUP BY protocol
  UNION ALL
  SELECT '_malformed',
         CAST((SELECT count(*) FROM parsed WHERE NOT is_parsed)
              + 2 * (SELECT count(DISTINCT day)
                     FROM read_parquet('{CORPUS}'))
              AS BIGINT))
ORDER BY protocol""",
        "log_token_prefix_groups": f"""
WITH c AS (SELECT * FROM read_parquet('{CORPUS}')
           WHERE n_tok >= 16),
g AS (
  SELECT md5(array_to_string(list_transform(tokens[1:16],
                                            x -> CAST(x AS VARCHAR)), ',')) AS prefix,
         source, doc_id
  FROM c),
agg AS (
  SELECT prefix,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         min(doc_id) AS first_doc
  FROM g GROUP BY prefix)
SELECT prefix, n_docs, n_sources, first_doc
FROM agg ORDER BY n_docs DESC, prefix ASC LIMIT 20""",
        "tpch_scd2_asof": """
WITH m AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
    CASE WHEN lag(o_orderpriority) OVER w IS NULL
           OR lag(o_orderpriority) OVER w <> o_orderpriority
         THEN 1 ELSE 0 END AS _new
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
r AS (
  SELECT *, sum(_new) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS run
  FROM m),
i AS (
  SELECT o_custkey, run, min(o_orderpriority) AS state,
         min(o_orderdate) AS valid_from
  FROM r GROUP BY o_custkey, run),
dim AS (
  SELECT o_custkey, state, valid_from,
         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run)
           AS valid_to
  FROM i),
fact AS (
  SELECT o.o_custkey, l.l_shipdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
j AS (
  SELECT d.state, f.o_custkey
  FROM fact f JOIN dim d ON f.o_custkey = d.o_custkey
  WHERE d.valid_from <= f.l_shipdate
    AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to))
SELECT state AS priority_state,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM j GROUP BY state ORDER BY priority_state""",
        "docs_incremental_dedup": """
WITH d AS (SELECT doc_id, source, md5(text) AS h,
                  (doc_id % 5 = 4) AS is_delta FROM documents),
reg AS (SELECT DISTINCT h FROM d WHERE NOT is_delta),
delta AS (SELECT * FROM d WHERE is_delta),
fst AS (SELECT h, min(doc_id) AS first_id FROM delta GROUP BY h),
fl AS (
  SELECT delta.source,
         delta.h IN (SELECT h FROM reg) AS dup_base,
         delta.doc_id <> fst.first_id AS later_in_delta
  FROM delta JOIN fst ON delta.h = fst.h)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_delta,
       CAST(sum(CASE WHEN dup_base THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_base,
       CAST(sum(CASE WHEN NOT dup_base AND later_in_delta THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_within_delta,
       CAST(sum(CASE WHEN NOT dup_base AND NOT later_in_delta THEN 1 ELSE 0 END)
            AS BIGINT) AS n_survivors
FROM fl GROUP BY source ORDER BY source""",
        "events_stream_window_final": """
WITH e AS (
  SELECT ts, date_trunc('hour', ts) AS ws,
         ntile(4) OVER (ORDER BY user_id, ts, event_id) AS chunk
  FROM events),
m AS (
  SELECT max(CASE WHEN chunk <= 1 THEN ts END) AS m1,
         max(CASE WHEN chunk <= 2 THEN ts END) AS m2,
         max(ts) AS mall
  FROM e),
w AS (
  SELECT ws, ws + INTERVAL 1 HOUR AS we,
         CAST(sum(CASE WHEN chunk <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN chunk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(count(*) AS BIGINT) AS c4
  FROM e GROUP BY ws)
-- a window emits at the first batch whose VISIBLE watermark (lag-2
-- rule) passes its end, frozen at the rows arrived by then; terminal
-- no-data batches advance the watermark to max(all)-delay and flush
-- what it passes; later windows are lost at availableNow termination
-- and a window whose every row arrived late never ENTERS state, so
-- it emits nothing (n_final = 0 rows below): visible at sparse SFs
SELECT window_start, n_final FROM (
  SELECT ws AS window_start,
         CASE WHEN we <= m1 - INTERVAL 2 HOUR THEN c2
              WHEN we <= m2 - INTERVAL 2 HOUR THEN c3
              ELSE c4 END AS n_final
  FROM w, m
  WHERE we <= mall - INTERVAL 2 HOUR)
WHERE n_final > 0
ORDER BY window_start""",
        "log_token_drift": f"""
WITH tok AS (
  SELECT day, unnest(tokens) AS t
  FROM read_parquet('{CORPUS}')),
census AS (
  SELECT day, t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY day, t),
d0 AS (SELECT min(day) AS d0 FROM census),
base AS (
  SELECT t, n AS n_b FROM census, d0 WHERE day = d0),
base_tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS tot_b FROM base),
day_tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS tot FROM census GROUP BY day),
cur AS (
  SELECT c.day, c.t, c.n, b.n_b, dt.tot, bt.tot_b
  FROM census c
  JOIN d0 ON c.day <> d0.d0
  LEFT JOIN base b ON c.t = b.t
  JOIN day_tot dt ON c.day = dt.day
  CROSS JOIN base_tot bt)
SELECT day,
       CAST(max(tot) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN n_b IS NOT NULL
                THEN CAST(floor((n::DOUBLE / tot - n_b::DOUBLE / tot_b)
                                * ln((n::DOUBLE / tot) / (n_b::DOUBLE / tot_b))
                                * 1000000 + 0.5) AS BIGINT) END) AS BIGINT)
         AS psi_micro,
       CAST(sum(CASE WHEN n_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_skipped_ids
FROM cur GROUP BY day ORDER BY day""",
        "log_token_truncation": f"""
WITH c AS (SELECT * FROM read_parquet('{CORPUS}'))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_tok > 150 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_truncated,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(greatest(n_tok - 150, 0)) AS BIGINT) AS n_tokens_lost,
       floor(sum(greatest(n_tok - 150, 0))::DOUBLE / sum(n_tok)
             * 1000000 + 0.5) / 1000000 AS loss_rate
FROM c GROUP BY source ORDER BY source""",
        "log_token_decontam": f"""
WITH c AS (SELECT * FROM read_parquet('{CORPUS}')),
md AS (SELECT max(day) AS d FROM c),
g AS (
  SELECT doc_id, source, day,
         unnest(list_transform(generate_series(1, n_tok - 63),
                i -> md5(array_to_string(list_transform(tokens[i:i+63],
                                                        x -> CAST(x AS VARCHAR)),
                                         ',')))) AS g
  FROM c WHERE n_tok >= 64),
eg AS (SELECT DISTINCT g FROM g, md WHERE day = d),
cont AS (
  SELECT DISTINCT doc_id, source
  FROM g, md WHERE day <> d AND g IN (SELECT g FROM eg)),
tr AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_train
  FROM c, md WHERE day <> d GROUP BY source),
h AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated
  FROM cont GROUP BY source)
SELECT tr.source, n_train,
       CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       floor(coalesce(n_contaminated, 0)::DOUBLE / n_train * 1000000 + 0.5)
         / 1000000 AS contamination_rate
FROM tr LEFT JOIN h ON tr.source = h.source
ORDER BY tr.source""",
        "docs_heavy_hitters": """
WITH w AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents),
g AS (SELECT word, CAST(count(*) AS BIGINT) AS n_total FROM w GROUP BY word),
t AS (SELECT CAST(sum(n_total) AS BIGINT) AS n_words FROM g)
SELECT word, n_total,
       floor(n_total::DOUBLE / n_words * 1000000 + 0.5) / 1000000 AS share
FROM g, t WHERE n_total * 30 > n_words
ORDER BY n_total DESC, word""",
        "docs_topic_tags": _topic_tags_oracle(),
        "docs_shard_rebalance": _shard_rebalance_oracle(),
        "events_stream_late_drop": """
WITH e AS (
  SELECT ts, ntile(4) OVER (ORDER BY user_id, ts, event_id) AS chunk
  FROM events),
cmax AS (
  SELECT chunk, max(ts) AS mx FROM e GROUP BY chunk),
wm AS (
  -- the watermark VISIBLE to batch c is the one committed with its
  -- offsets, which reflects event-time stats through batch c-2 (the
  -- tracker updates at batch end, after the next batch's offsets are
  -- logged) — pinned empirically against Spark 4.1's availableNow
  -- execution; unset for the first two batches
  SELECT chunk,
         max(mx) OVER (ORDER BY chunk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - INTERVAL 2 HOUR AS watermark
  FROM cmax),
kept AS (
  SELECT date_trunc('hour', e.ts) AS window_start
  FROM e JOIN wm ON e.chunk = wm.chunk
  -- the drop filter is WINDOW-level: a row is late iff its tumbling
  -- window's END <= the visible watermark (rows older than the
  -- watermark still count while their window stays open)
  WHERE wm.watermark IS NULL
     OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.watermark),
b AS (
  SELECT date_trunc('hour', ts) AS window_start,
         CAST(count(*) AS BIGINT) AS n_batch
  FROM events GROUP BY 1),
s AS (
  SELECT window_start, CAST(count(*) AS BIGINT) AS n_stream
  FROM kept GROUP BY window_start)
SELECT b.window_start, n_batch,
       CAST(coalesce(n_stream, 0) AS BIGINT) AS n_stream,
       CAST(n_batch - coalesce(n_stream, 0) AS BIGINT) AS n_late
FROM b LEFT JOIN s ON b.window_start = s.window_start
ORDER BY b.window_start""",
        "tpch_salted_join": """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        "tpch_basket_rules": """
WITH t AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
n AS (SELECT count(DISTINCT okey) AS n_orders FROM t),
c AS (SELECT item, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
f AS (SELECT * FROM c WHERE cnt >= 5),
tf AS (SELECT t.okey, t.item, f.cnt FROM t JOIN f USING (item)),
p AS (
  SELECT a.item AS item_a, a.cnt AS cnt_a, b.item AS item_b, b.cnt AS cnt_b,
         count(*)::BIGINT AS n_both
  FROM tf a JOIN tf b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1,2,3,4 HAVING count(*) >= 3
),
r AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_both,
         cnt_a AS n_ante, cnt_b AS n_cons FROM p
  UNION ALL
  SELECT item_b, item_a, n_both, cnt_b, cnt_a FROM p
)
SELECT antecedent, consequent, n_both, n_ante, n_cons,
  floor(n_both / n_orders::DOUBLE * 1000000 + 0.5)/1000000 AS support,
  floor(n_both / n_ante::DOUBLE * 1000000 + 0.5)/1000000 AS confidence,
  floor((n_both * n_orders) / (n_ante * n_cons)::DOUBLE * 1000000 + 0.5)/1000000 AS lift
FROM r CROSS JOIN n
ORDER BY antecedent, consequent""",
        "events_did": """
WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
           FROM events),
pu AS (
  SELECT user_id,
         CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN CAST(e.ts AS DATE)
                   <= b.d0 + CAST(date_diff('day', b.d0, b.d1) // 2 AS INTEGER)
              THEN 1 ELSE 0 END AS is_pre,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events e, b),
cells AS (
  SELECT user_id, arm, is_pre, CAST(sum(c) AS BIGINT) AS s
  FROM pu GROUP BY 1, 2, 3),
agg AS (
  SELECT
    CAST(sum(CASE WHEN arm='A' AND is_pre=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_pre,
    CAST(sum(CASE WHEN arm='A' AND is_pre=1 THEN s ELSE 0 END) AS BIGINT) AS s_a_pre,
    CAST(sum(CASE WHEN arm='A' AND is_pre=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_post,
    CAST(sum(CASE WHEN arm='A' AND is_pre=0 THEN s ELSE 0 END) AS BIGINT) AS s_a_post,
    CAST(sum(CASE WHEN arm='B' AND is_pre=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b_pre,
    CAST(sum(CASE WHEN arm='B' AND is_pre=1 THEN s ELSE 0 END) AS BIGINT) AS s_b_pre,
    CAST(sum(CASE WHEN arm='B' AND is_pre=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b_post,
    CAST(sum(CASE WHEN arm='B' AND is_pre=0 THEN s ELSE 0 END) AS BIGINT) AS s_b_post
  FROM cells)
SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
       CASE WHEN n_a_pre > 0
            THEN floor(s_a_pre::DOUBLE / n_a_pre * 1000000 + 0.5) / 1000000
       END AS mean_a_pre_cents,
       CASE WHEN n_a_post > 0
            THEN floor(s_a_post::DOUBLE / n_a_post * 1000000 + 0.5) / 1000000
       END AS mean_a_post_cents,
       CASE WHEN n_b_pre > 0
            THEN floor(s_b_pre::DOUBLE / n_b_pre * 1000000 + 0.5) / 1000000
       END AS mean_b_pre_cents,
       CASE WHEN n_b_post > 0
            THEN floor(s_b_post::DOUBLE / n_b_post * 1000000 + 0.5) / 1000000
       END AS mean_b_post_cents,
       CASE WHEN n_a_pre > 0 AND n_a_post > 0 AND n_b_pre > 0 AND n_b_post > 0
            THEN floor(((s_b_post::DOUBLE / n_b_post - s_b_pre::DOUBLE / n_b_pre)
                        - (s_a_post::DOUBLE / n_a_post - s_a_pre::DOUBLE / n_a_pre))
                       * 1000000 + 0.5) / 1000000
       END AS did_cents
FROM agg""",
        "docs_quality_calibration": """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS a,
         CAST(n_chars AS BIGINT) AS n
  FROM documents WHERE n_chars > 0),
f AS (
  SELECT CAST(least(9, (a * 10) // n) AS INTEGER) AS bin,
         (a * 1000000) // n AS p_e6,
         CASE WHEN CAST(('0x' || substr(md5(doc_id), 1, 6)) AS BIGINT) * n
                   < a * 16777216 THEN 1 ELSE 0 END AS label
  FROM d)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(label) AS BIGINT) AS n_pos,
       floor(sum(p_e6)::DOUBLE / (count(*) * 1000000.0) * 1000000 + 0.5)
         / 1000000 AS mean_pred,
       floor(sum(label)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000 AS frac_pos,
       floor(abs(sum(label)::DOUBLE / count(*)
                 - sum(p_e6)::DOUBLE / (count(*) * 1000000.0))
             * 1000000 + 0.5) / 1000000 AS gap
FROM f GROUP BY bin ORDER BY bin""",
        "docs_label_agreement": """
WITH d AS (
  SELECT CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS r1,
         CASE WHEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        AS BIGINT) * 2 >= CAST(n_chars AS BIGINT)
              THEN 1 ELSE 0 END AS r2
  FROM documents WHERE n_chars > 0),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN r1=1 AND r2=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN r1=1 AND r2=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN r1=0 AND r2=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(sum(CASE WHEN r1=0 AND r2=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM d)
SELECT n_docs, n11, n10, n01, n00,
       floor((n11 + n00)::DOUBLE / n_docs * 1000000 + 0.5) / 1000000 AS p_observed,
       floor(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))::DOUBLE
             / (n_docs * n_docs) * 1000000 + 0.5) / 1000000 AS p_expected,
       CASE WHEN ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))::DOUBLE
                 / (n_docs * n_docs) < 1.0
            THEN floor(((n11 + n00)::DOUBLE / n_docs
                        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))::DOUBLE
                          / (n_docs * n_docs))
                       / (1.0 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))::DOUBLE
                                / (n_docs * n_docs))
                       * 1000000 + 0.5) / 1000000
       END AS kappa
FROM agg""",
        "tpch_join_size_stats": """
WITH lc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cl
            FROM orders WHERE o_orderkey IS NOT NULL GROUP BY k),
rc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cr
       FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY k),
b AS (SELECT cl * cr AS fan FROM lc JOIN rc USING (k))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM lc) AS n_keys_left,
       (SELECT CAST(count(*) AS BIGINT) FROM rc) AS n_keys_right,
       CAST(count(*) AS BIGINT) AS n_keys_both,
       CAST(coalesce(sum(fan), 0) AS BIGINT) AS join_rows,
       CAST(coalesce(max(fan), 0) AS BIGINT) AS max_key_fanout
FROM b""",
        "events_gap_detection": """
SELECT user_id,
       CAST(sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
       coalesce(max(gap), 0) AS max_gap_us
FROM (
  SELECT user_id,
    epoch_us(ts) - lag(epoch_us(ts))
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events)
GROUP BY user_id ORDER BY user_id""",
        "events_dau_wau": """
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM ud GROUP BY d),
wau AS (
  SELECT days.d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
  FROM days JOIN ud ON ud.d <= days.d AND ud.d >= days.d - INTERVAL 6 DAY
  GROUP BY days.d)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau, wau
FROM dau JOIN wau ON dau.d = wau.d ORDER BY day""",
        "events_rolling_1h": """
SELECT user_id, event_id,
       CAST(sum(floor(value * 100 + 0.5)::BIGINT)
         OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
       count(*)
         OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS roll_n
FROM events ORDER BY user_id, event_id""",
        "docs_length_histogram": """
SELECT source,
  CASE WHEN n_chars > 0
       THEN CAST(power(2, length(bin(n_chars)) - 1) AS BIGINT)
       ELSE 0 END AS bucket_lo,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source, bucket_lo ORDER BY source, bucket_lo""",
        "events_user_segments": """
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
        "tpch_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(floor(sum(l_extendedprice) * 100 + 0.5) AS BIGINT) AS sum_base_price_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
        "tpch_top_customers": """
SELECT o_custkey, c_name, c_mktsegment,
       CAST(n_orders AS BIGINT) AS n_orders, CAST(revenue_cents AS BIGINT) AS revenue_cents
FROM (
  SELECT o_custkey, count(*) AS n_orders,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS revenue_cents
  FROM orders GROUP BY o_custkey) o
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY revenue_cents DESC, o_custkey ASC LIMIT 10""",
        # integer z-score: no float anywhere → bit-exact across engines
        "events_outliers": """
WITH e AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
  FROM events
), s AS (
  SELECT event_id, user_id, value_cents,
         count(*) OVER (PARTITION BY user_id) AS n,
         sum(value_cents) OVER (PARTITION BY user_id) AS s1,
         sum(value_cents * value_cents) OVER (PARTITION BY user_id) AS s2
  FROM e
)
SELECT event_id, user_id, value_cents, CAST(n AS BIGINT) AS n_in_group
FROM s
WHERE n >= 3
  AND (n * value_cents - s1) * (n * value_cents - s1) > 4 * (n * s2 - s1 * s1)
ORDER BY event_id""",
        "events_type_hour_cube": """
SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
FROM (SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
      FROM events)
GROUP BY GROUPING SETS ((event_type, hour), (event_type), ())
ORDER BY event_type, hour""",
        "tpch_shipping_priority": """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 20""",
        "tpch_local_supplier_volume": """
SELECT n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE s.s_nationkey = c.c_nationkey
GROUP BY n.n_name
ORDER BY revenue_cents DESC, n_name ASC""",
        "events_orders_asof": """
WITH o AS (SELECT o_custkey, o_orderdate, max(o_totalprice) AS tp
           FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id,
       CAST(floor(o.tp * 100 + 0.5) AS BIGINT) AS last_order_cents
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""",
        "parts_balance_range_join": """
SELECT p.p_partkey, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(min(c.c_custkey) AS BIGINT) AS min_custkey
FROM customer c JOIN part p
  ON p.p_partkey < 200
 AND c.c_acctbal BETWEEN p.p_retailprice - 5 AND p.p_retailprice + 5
GROUP BY p.p_partkey ORDER BY p.p_partkey""",
        # -- training-data ops ----------------------------------------------
        "docs_text_stats": _text_stats_sql(),
        "docs_langid": _lang_sql(),
        "docs_lang_confusion": f"""
WITH pred AS ({_lang_sql()}),
j AS (
  SELECT d.lang, p.lang_pred FROM documents d
  JOIN pred p ON p.doc_id = d.doc_id),
cen AS (
  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM j GROUP BY lang, lang_pred)
SELECT lang, lang_pred, n,
  floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang)
        * 1000000 + 0.5) / 1000000.0 AS share_of_declared,
  lang = lang_pred AS agrees
FROM cen ORDER BY lang, lang_pred""",
        "docs_fingerprint": f"""
SELECT doc_id,
  CAST(CASE WHEN len(codes) = 0 THEN 0
       ELSE list_reduce(codes, (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD})
  END AS BIGINT) AS fingerprint
FROM (
  SELECT doc_id,
         [ascii(c)::BIGINT for c in string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), '')] AS codes
  FROM documents)""",
        "docs_exact_dedup": """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       (count(*) > 1) AS is_duplicated
FROM documents GROUP BY md5(text)""",
        "docs_norm_dedup": r"""
WITH uni AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper(text) || '!!' AS text
  FROM documents WHERE doc_id % 7 = 0),
n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash,
         md5(text) AS raw_hash
  FROM uni)
SELECT norm_hash, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       (count(*) > 1) AS is_duplicated
FROM n GROUP BY norm_hash""",
        "docs_dedup_corpus": """
SELECT doc_id, lang FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""",
        # connected components over the (bruteforce == LSH, see
        # docs_minhash_lsh_pairs) pair graph via recursive transitive
        # closure — checks the min-label propagation INCLUDING chains
        "docs_dedup_clusters": (
            "WITH RECURSIVE " + _CLUSTERS_CTES
            + "\nSELECT doc_id, cluster FROM cl ORDER BY doc_id"
        ),
        "docs_cluster_survivors": (
            "WITH RECURSIVE " + _CLUSTERS_CTES + """,
ts AS ({TS}),
j AS (
  SELECT c.cluster, c.doc_id, ts.quality_score
  FROM cl c JOIN ts ON ts.doc_id = c.doc_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY cluster
        ORDER BY quality_score DESC, doc_id ASC) AS rn,
     CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
  FROM j)
SELECT cluster, doc_id AS survivor_id, n_members,
       quality_score AS best_quality,
       doc_id <> cluster AS beats_min_id
FROM r WHERE rn = 1 ORDER BY cluster"""
        ).replace("{TS}", _text_stats_sql()),
        "docs_train_test_split": """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
            THEN 'train' ELSE 'test' END AS split
FROM documents ORDER BY doc_id""",
        # planted PII mirrors _plant_pii; replacement order (email →
        # url → phone, all-occurrence) is part of the contract
        "docs_pii_scrub": """
WITH aug AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
         THEN text || ' contact user' || doc_id || '@example.com see ' ||
              'https://example.org/d' || doc_id || ' call 555-0199'
         ELSE text END AS t
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT AS n_email,
  len(regexp_extract_all(t, 'https?://[^\\s]+'))::INT AS n_url,
  len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{4}\\b'))::INT AS n_phone,
  md5(regexp_replace(
        regexp_replace(
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          'https?://[^\\s]+', '<URL>', 'g'),
        '\\b\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')) AS clean_md5
FROM aug ORDER BY doc_id""",
        # duplicate word-trigram fraction; round6 floor-scale quantized
        # like every already-quantized ratio (textstats.round6 rationale)
        "docs_repetition": """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, len(ws) AS n_words,
    CASE WHEN len(ws) >= 3
         THEN list_transform(range(1, len(ws) - 1),
                             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         ELSE [] END AS grams
  FROM w)
SELECT doc_id, n_words,
  len(grams) AS n_ngrams,
  CASE WHEN len(grams) > 0
       THEN floor((1.0 - len(list_distinct(grams))::DOUBLE / len(grams)) * 1000000 + 0.5) / 1000000
       ELSE 0.0 END AS rep_frac
FROM g ORDER BY doc_id""",
        "events_pivot_types": """
SELECT strftime(ts::DATE, '%Y-%m-%d') AS day,
       CAST(sum((event_type = 'click')::BIGINT) AS BIGINT) AS click,
       CAST(sum((event_type = 'error')::BIGINT) AS BIGINT) AS error,
       CAST(sum((event_type = 'purchase')::BIGINT) AS BIGINT) AS purchase,
       CAST(sum((event_type = 'signup')::BIGINT) AS BIGINT) AS signup,
       CAST(sum((event_type = 'view')::BIGINT) AS BIGINT) AS view
FROM events GROUP BY 1 ORDER BY 1""",
        "docs_subsample_k": """
SELECT doc_id, source, rank_in_source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rank_in_source
  FROM documents)
WHERE rank_in_source <= 5
ORDER BY source, rank_in_source""",
        "events_sliding_rate": """
WITH e AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - (k * INTERVAL 5 MINUTE) AS w_start,
         event_type, ts
  FROM events, unnest([0, 1]) AS t(k)
  WHERE ts >= time_bucket(INTERVAL 5 MINUTE, ts) - (k * INTERVAL 5 MINUTE)
    AND ts <  time_bucket(INTERVAL 5 MINUTE, ts) - (k * INTERVAL 5 MINUTE) + INTERVAL 10 MINUTE)
SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS w_start, event_type, count(*) AS n
FROM e GROUP BY 1, 2 ORDER BY 1, 2""",
        "docs_decontaminate": """
WITH g AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) >= 5
    THEN list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
    ELSE [] END) AS gram
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents)),
ref AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
hit AS (SELECT DISTINCT g.doc_id FROM g JOIN ref USING (gram))
SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hit h USING (doc_id)
ORDER BY d.doc_id""",
        "docs_word_rarity": r"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents),
v AS (
  SELECT w, row_number() OVER (ORDER BY count(*) DESC, w ASC) AS rank
  FROM w GROUP BY w)
SELECT doc_id, count(*) AS n_words,
       floor(sum(rank)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000 AS mean_rank
FROM w JOIN v USING (w)
GROUP BY doc_id ORDER BY doc_id""",
        "docs_segment_dedup": f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN '{_BOILER} ' || text ELSE text END AS text
  FROM documents),
w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words FROM d),
segs AS (
  SELECT doc_id, CAST(i AS INTEGER) AS idx,
         array_to_string(words[(i*15+1):(i*15+15)], ' ') AS seg
  FROM (SELECT doc_id, words,
               unnest(range(CAST(ceil(len(words)/15.0) AS BIGINT))) AS i
        FROM w)),
dup AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 1),
kept AS (SELECT s.doc_id, s.idx, s.seg FROM segs s ANTI JOIN dup USING (seg)),
agg AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
         md5(string_agg(seg, ' ' ORDER BY idx)) AS clean_md5
  FROM kept GROUP BY doc_id)
SELECT w.doc_id,
       CAST(ceil(len(words)/15.0) AS INTEGER) AS n_segments,
       coalesce(n_kept, 0) AS n_kept,
       coalesce(clean_md5, md5('')) AS clean_md5
FROM w LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",
        "docs_boilerplate": f"""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 4 = 0 THEN '{_BOILER} ' || text ELSE text END AS text
  FROM documents),
w AS (SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\\s+') AS words FROM d),
segs AS (
  SELECT doc_id, source,
         array_to_string(words[(i*15+1):(i*15+15)], ' ') AS seg
  FROM (SELECT doc_id, source, words,
               unnest(range(CAST(ceil(len(words)/15.0) AS BIGINT))) AS i
        FROM w)),
nsrc AS (SELECT source, count(*) AS n_docs FROM d GROUP BY source),
boiler AS (
  SELECT s.source, s.seg
  FROM segs s JOIN nsrc USING (source)
  GROUP BY s.source, s.seg, n_docs
  HAVING count(DISTINCT doc_id) >= greatest(2, CAST(ceil(0.2 * n_docs) AS BIGINT)))
SELECT s.doc_id, s.source,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(coalesce(sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_boiler,
       CAST(sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS boiler_ratio
FROM segs s LEFT JOIN boiler b ON s.source = b.source AND s.seg = b.seg
GROUP BY s.doc_id, s.source ORDER BY s.doc_id""",
        "events_pattern_match": r"""
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'click' THEN 'C' WHEN 'view' THEN 'V'
              WHEN 'purchase' THEN 'P' WHEN 'error' THEN 'E'
              WHEN 'signup' THEN 'S' ELSE '.' END AS c,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800*1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT user_id, c, ts, event_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM o),
g AS (SELECT user_id, sid, string_agg(c, '' ORDER BY ts, event_id) AS codes
      FROM s GROUP BY user_id, sid),
m AS (SELECT len(regexp_extract_all(codes, 'V[^P]*P')) AS nm FROM g)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(nm) AS BIGINT) AS n_matches,
       CAST(sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS match_share
FROM m""",
        "docs_curate_v2": _curate_v2_sql(),
        "docs_gopher_quality": _gopher_sql(),
        "docs_tfidf_terms": r"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents),
tf AS (SELECT doc_id, w, count(*) AS n FROM words GROUP BY doc_id, w),
dl AS (SELECT doc_id, count(*) AS len FROM words GROUP BY doc_id),
dft AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, w,
    floor((n / len::DOUBLE) * ln(n_docs / df::DOUBLE) * 1000000 + 0.5)
      / 1000000 AS tfidf
  FROM tf JOIN dl USING (doc_id) JOIN dft USING (w) CROSS JOIN nd)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, w AS term, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, w ASC) AS rank
  FROM scored)
WHERE rank <= 3 ORDER BY doc_id, rank""",
        "docs_zipf_fit": """
WITH v AS (
  SELECT w, count(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM documents) GROUP BY w),
r AS (
  SELECT ln(row_number() OVER (ORDER BY n DESC, w ASC)) AS x, ln(n) AS y
  FROM v),
s AS (
  SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM r)
SELECT CAST(m AS BIGINT) AS vocab_size,
       floor(-((m * sxy - sx * sy) / (m * sxx - sx * sx)) * 1000000 + 0.5)
         / 1000000 AS neg_zipf_slope
FROM s""",
        "log_hourly_trend": f"""{_PARSE_CTE}, h AS (
  SELECT hour_str AS hour, count(*) AS n FROM parsed WHERE is_parsed
  GROUP BY hour_str),
xy AS (
  SELECT CAST(row_number() OVER (ORDER BY hour) - 1 AS DOUBLE) AS x,
         CAST(n AS DOUBLE) AS y
  FROM h),
s AS (
  SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy)
SELECT CAST(m AS BIGINT) AS n_hours,
       floor(((m * sxy - sx * sy) / (m * sxx - sx * sx)) * 1000000 + 0.5)
         / 1000000 AS slope_per_hour
FROM s""",
        "docs_language_mix": f"""
WITH l AS ({{L}})
SELECT d.source, l.lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM l JOIN documents d USING (doc_id)
GROUP BY d.source, l.lang_pred ORDER BY d.source, l.lang_pred""".replace(
            "{L}", _lang_sql()
        ),
        "corpus_pack_efficiency": """
WITH c AS (
  SELECT doc_id, source, n_chars::BIGINT AS length,
         (sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_chars)::BIGINT AS start_offset
  FROM documents),
pp AS (
  SELECT source, floor(start_offset / 4096.0)::BIGINT AS pack_id,
         sum(length) AS fill
  FROM c GROUP BY source, pack_id)
SELECT source, CAST(count(*) AS BIGINT) AS n_packs,
       floor(avg(fill / 4096.0) * 1000000 + 0.5) / 1000000 AS mean_fill,
       CAST(sum(CASE WHEN 4096 - fill > 0 THEN 4096 - fill ELSE 0 END)
            AS BIGINT) AS wasted_chars
FROM pp GROUP BY source ORDER BY source""",
        "docs_vocab_growth": """
WITH first AS (
  SELECT w, min(doc_id) AS first_doc FROM (
    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM documents) GROUP BY w),
t AS (SELECT unnest([10, 50, 100, 500, 1000, 5000, 10000]) AS n)
SELECT CAST(n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vocab_size
FROM t JOIN first ON first_doc <= n GROUP BY n ORDER BY n""",
        "events_mode_by_type": """
WITH c AS (
  SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS v, count(*) AS n
  FROM events GROUP BY event_type, v)
SELECT event_type, v AS mode_value_cents, n AS mode_count FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n DESC, v ASC) AS rn
  FROM c)
WHERE rn = 1 ORDER BY event_type""",
        "emb_norm_stats": """
WITH e AS (
  SELECT label,
         sqrt(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
                        list_transform(embedding, x -> x * x)),
           (a, x) -> a + x)) AS nrm
  FROM embeddings)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       floor(avg(nrm) * 1000000 + 0.5) / 1000000 AS mean_norm,
       floor(min(nrm) * 1000000 + 0.5) / 1000000 AS min_norm,
       floor(max(nrm) * 1000000 + 0.5) / 1000000 AS max_norm
FROM e GROUP BY label ORDER BY label""",
        "docs_source_jaccard": """
WITH sw AS (
  SELECT DISTINCT source, w FROM (
    SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM documents)),
sz AS (SELECT source, count(*) AS sz FROM sw GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
  GROUP BY src_a, src_b)
SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
       floor(n_common / (sa.sz + sb.sz - n_common)::DOUBLE * 1000000 + 0.5)
         / 1000000 AS jaccard
FROM inter JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
ORDER BY src_a, src_b""",
        "log_burstiness": f"""{_PARSE_CTE}, pm AS (
  SELECT protocol, substr(ts_raw, 1, 16) AS minute, count(*) AS c
  FROM parsed WHERE is_parsed GROUP BY protocol, minute),
s AS (
  SELECT protocol, count(*) AS m,
         sum(CAST(c AS DOUBLE)) AS sx,
         sum(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) AS sxx
  FROM pm GROUP BY protocol)
SELECT protocol, CAST(m AS BIGINT) AS n_minutes,
       floor(sx / m * 1000000 + 0.5) / 1000000 AS mean_per_min,
       floor((sxx / m - (sx / m) * (sx / m)) / (sx / m) * 1000000 + 0.5)
         / 1000000 AS fano
FROM s ORDER BY protocol""",
        "log_autocorr_lag1": f"""{_PARSE_CTE}, pm AS (
  SELECT protocol, substr(ts_raw, 1, 16) AS minute, count(*) AS c
  FROM parsed WHERE is_parsed GROUP BY protocol, minute),
xy AS (
  SELECT protocol, CAST(c AS DOUBLE) AS x,
         CAST(lead(c) OVER (PARTITION BY protocol ORDER BY minute)
              AS DOUBLE) AS y
  FROM pm),
s AS (
  SELECT protocol, count(*) AS m, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM xy WHERE y IS NOT NULL GROUP BY protocol)
SELECT protocol, CAST(m AS BIGINT) AS n_pairs,
       floor((m * sxy - sx * sy)
             / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
             * 1000000 + 0.5) / 1000000 AS r_lag1
FROM s ORDER BY protocol""",
        "events_markov_transitions": """
WITH p AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events),
c AS (
  SELECT prev_type, next_type, count(*) AS n FROM p
  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       floor(n / sum(n) OVER (PARTITION BY prev_type) * 1000000 + 0.5)
         / 1000000 AS prob
FROM c ORDER BY prev_type, next_type""",
        "events_mad_outliers": """
WITH med AS (
  SELECT event_type,
         floor(quantile_cont(value, 0.5) * 1000000 + 0.5) / 1000000 AS med
  FROM events GROUP BY event_type),
d AS (
  SELECT e.event_type, m.med,
         floor(abs(e.value - m.med) * 1000000 + 0.5) / 1000000 AS dev
  FROM events e JOIN med m USING (event_type)),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, any_value(med) AS med,
         floor(quantile_cont(dev, 0.5) * 1000000 + 0.5) / 1000000 AS mad
  FROM d GROUP BY event_type),
o AS (
  SELECT d.event_type, count(*) AS c
  FROM d JOIN s USING (event_type)
  WHERE d.dev > 3 * s.mad GROUP BY d.event_type)
SELECT s.event_type, s.n, s.med, s.mad,
       CAST(coalesce(o.c, 0) AS BIGINT) AS n_outliers
FROM s LEFT JOIN o USING (event_type)
ORDER BY s.event_type""",
        "docs_zorder_key": _zorder_sql(),
        # xxhash64 (Spark) vs md5 (DuckDB) window hashing: the hash never
        # reaches the output — only occurrence COUNTS do — so the engines
        # agree unless xxhash64 collides (≪ 1e-6 at any tested SF)
        "docs_dup_ngram_spans": """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
wins AS (
  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) u
  WHERE len(t) >= 8),
c AS (SELECT h, count(*) AS cnt FROM wins GROUP BY h),
per AS (
  SELECT w.doc_id, count(*) AS n_windows,
         sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM wins w JOIN c USING (h) GROUP BY w.doc_id)
SELECT d.doc_id,
       CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
       floor(coalesce(p.n_dup / p.n_windows::DOUBLE, 0) * 1000000 + 0.5)
         / 1000000 AS dup_frac
FROM documents d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""",
        "docs_source_kl_drift": """
WITH w AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
sw AS (SELECT source, w, count(*) AS c FROM w GROUP BY source, w),
ns AS (SELECT source, sum(c) AS ns FROM sw GROUP BY source),
cw AS (SELECT w, sum(c) AS cw FROM sw GROUP BY w),
n AS (SELECT sum(c) AS n FROM sw)
SELECT sw.source, CAST(any_value(ns.ns) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS vocab_size,
       floor(sum((sw.c / ns.ns) * ln((sw.c / ns.ns) / (cw.cw / n.n)))
             * 1000000 + 0.5) / 1000000 AS kl_nats
FROM sw JOIN ns USING (source) JOIN cw USING (w) CROSS JOIN n
GROUP BY sw.source ORDER BY sw.source""",
        "tpch_waiting_suppliers": """
WITH ss AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS s_max
  FROM lineitem GROUP BY l_orderkey, l_suppkey),
w AS (
  SELECT *, max(s_max) OVER (PARTITION BY l_orderkey) AS o_max,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp
  FROM ss),
w2 AS (
  SELECT *, sum(CASE WHEN s_max = o_max THEN 1 ELSE 0 END)
              OVER (PARTITION BY l_orderkey) AS n_at_max
  FROM w)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM w2 JOIN supplier s ON w2.l_suppkey = s.s_suppkey
WHERE n_supp >= 2 AND s_max = o_max AND n_at_max = 1
GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 25""",
        "tpch_important_parts": """
WITH supp0 AS (
  SELECT s_suppkey FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_regionkey = 0),
pp AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT)) AS value_cents
  FROM lineitem JOIN supp0 ON l_suppkey = s_suppkey
  GROUP BY l_partkey),
t AS (SELECT sum(value_cents) AS total_cents, count(*) AS n_parts FROM pp)
SELECT p.p_partkey, p.p_name, CAST(pp.value_cents AS BIGINT) AS value_cents
FROM pp CROSS JOIN t JOIN part p ON pp.l_partkey = p.p_partkey
WHERE pp.value_cents * t.n_parts > 2 * t.total_cents
ORDER BY value_cents DESC, p.p_partkey""",
        # both Xᵀ(Xv) power iterations unrolled; v is re-quantized to
        # 1e-6 after each normalization on both engines, so the whole
        # trajectory (and the sign, pinned by the all-positive init
        # 1/√64 = 0.125 exactly) is engine-independent
        "emb_pca_power": """
WITH u0 AS (
  SELECT generate_subscripts(embedding, 1) AS j,
         unnest(embedding)::DOUBLE AS x,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(embedding, y -> y * 0.125)),
                     (a, y) -> a + y) AS s
  FROM embeddings),
w1 AS (SELECT j, sum(s * x) AS w FROM u0 GROUP BY j),
n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w1),
v1 AS (SELECT j, floor(w / nrm * 1000000 + 0.5) / 1000000 AS v
       FROM w1 CROSS JOIN n1),
vv1 AS (SELECT list(v ORDER BY j) AS v FROM v1),
u1 AS (
  SELECT generate_subscripts(e.embedding, 1) AS j,
         unnest(e.embedding)::DOUBLE AS x,
         list_dot_product(e.embedding::DOUBLE[], vv1.v) AS s
  FROM embeddings e CROSS JOIN vv1),
w2 AS (SELECT j, sum(s * x) AS w FROM u1 GROUP BY j),
n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w2),
v2 AS (SELECT j, floor(w / nrm * 1000000 + 0.5) / 1000000 AS v
       FROM w2 CROSS JOIN n2),
vv2 AS (SELECT list(v ORDER BY j) AS v FROM v2),
s3 AS (SELECT list_dot_product(e.embedding::DOUBLE[], vv2.v) AS s
       FROM embeddings e CROSS JOIN vv2),
lam AS (SELECT floor(sum(s * s) * 10000 + 0.5) / 10000 AS eigenvalue,
               CAST(count(*) AS BIGINT) AS n_vecs FROM s3)
SELECT CAST(v2.j AS INTEGER) AS dim, v2.v AS loading,
       lam.eigenvalue, lam.n_vecs
FROM v2 CROSS JOIN lam ORDER BY dim""",
        "docs_shard_balance": """
SELECT substr(md5(doc_id::VARCHAR), 1, 2) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY shard ORDER BY shard""",
        "docs_dup_ratio_by_source": """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       floor((count(*) - count(DISTINCT md5(text)))
             / count(*)::DOUBLE * 1000000 + 0.5) / 1000000 AS dup_ratio
FROM documents GROUP BY source ORDER BY source""",
        "docs_bigram_lm": """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram, ws[i] AS w1
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM w WHERE len(ws) >= 2)),
bi AS (SELECT gram, count(*) AS cb FROM g GROUP BY gram),
uni AS (SELECT w1, count(*) AS cw FROM g GROUP BY w1),
s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         floor(-avg(ln(cb / cw::DOUBLE)) * 1000000 + 0.5) / 1000000
           AS neg_avg_logp
  FROM g JOIN bi USING (gram) JOIN uni USING (w1)
  GROUP BY doc_id)
SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(neg_avg_logp, 0.0) AS neg_avg_logp
FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""",
        "docs_kneser_ney": """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM w WHERE len(ws) >= 2)),
bi AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS cb,
         split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2
  FROM g GROUP BY gram),
fol AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw,
               CAST(count(*) AS BIGINT) AS n1f FROM bi GROUP BY w1),
pre AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM bi GROUP BY w2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bi),
model AS (
  SELECT gram, CAST(floor(ln(
      greatest(cb::DOUBLE - 0.75, 0.0) / cw::DOUBLE
      + (0.75 * n1f::DOUBLE / cw::DOUBLE)
        * (n1p::DOUBLE / t_types::DOUBLE)
    ) * 1000000 + 0.5) AS BIGINT) AS lp_micro
  FROM bi JOIN fol USING (w1) JOIN pre USING (w2) CROSS JOIN tot),
s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lp_micro) AS BIGINT) AS s_micro
  FROM g JOIN model USING (gram) GROUP BY doc_id)
SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(floor(-s_micro::DOUBLE
                      / (1000000.0 * n_bigrams::DOUBLE)
                      * 1000000 + 0.5) / 1000000, 0.0) AS kn_xent
FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""",
        "docs_quality_sampled": """
WITH ts AS ({TS})
SELECT t.doc_id, d.source, t.quality_score
FROM ts t JOIN documents d USING (doc_id)
WHERE substr(md5(t.doc_id || ':q'), 1, 6) <
      CASE WHEN t.quality_score >= 0.8 THEN 'zzzzzz'
           WHEN t.quality_score >= 0.7 THEN '800000'
           ELSE '199999' END
ORDER BY t.doc_id""".replace("{TS}", _text_stats_sql()),
        "docs_sample_mixture": """
SELECT doc_id, source FROM documents
WHERE substr(md5(doc_id || ':' || source), 1, 6) <
      CASE source WHEN 'src0' THEN '800000'
                  WHEN 'src1' THEN '400000'
                  WHEN 'src2' THEN '000000'
                  ELSE 'zzzzzz' END
ORDER BY doc_id""",
        "corpus_pack_boundary": """
WITH c AS (
  SELECT doc_id, source, n_chars::BIGINT AS length,
         (sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_chars)::BIGINT AS start_offset
  FROM documents)
SELECT doc_id, source, length, start_offset,
       floor(start_offset / 4096.0)::BIGINT AS pack_id,
       (start_offset % 4096)::BIGINT AS offset_in_pack
FROM c ORDER BY doc_id""",
        # streaming keep-first == batch keep-first on doc_id-ordered chunks
        "docs_stream_dedup": """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 10)
SELECT md5(text) AS text_hash, min(doc_id) AS doc_id
FROM aug GROUP BY md5(text) ORDER BY text_hash""",
        "docs_cross_dedup": """
SELECT doc_id, source, md5(text) AS text_md5
FROM documents n
WHERE doc_id % 2 = 1
  AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
ORDER BY doc_id""",
        "events_retention_cohorts": """
WITH f AS (SELECT user_id, min(ts::DATE) AS c FROM events GROUP BY user_id)
SELECT strftime(f.c, '%Y-%m-%d') AS cohort,
       datediff('day', f.c, e.ts::DATE)::INT AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2""",
        "tpch_priority_semi": """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        "events_funnel": """
WITH tv AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id),
tc AS (
  SELECT e.user_id, tv.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts > tv.t_view THEN e.ts END) AS t_click
  FROM events e JOIN tv USING (user_id) GROUP BY e.user_id, tv.t_view),
tp AS (
  SELECT e.user_id, tc.t_view, tc.t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > tc.t_click THEN e.ts END) AS t_purchase
  FROM events e JOIN tc USING (user_id) GROUP BY e.user_id, tc.t_view, tc.t_click)
SELECT count(user_id) AS n_users,
       count(t_view) AS n_viewed,
       count(t_click) AS n_clicked_after_view,
       count(t_purchase) AS n_purchased_after_click
FROM tp""",
        "tpch_returned_items": """
SELECT c_custkey, c_name, n_name,
       CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_cents DESC, c_custkey ASC
LIMIT 20""",
        "tpch_revenue_forecast": """
SELECT CAST(sum(floor(l_extendedprice * l_discount * 100 + 0.5)::BIGINT) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
        "tpch_order_count_dist": """
SELECT c_count, count(*) AS n_custs FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count ORDER BY n_custs DESC, c_count DESC""",
        "tpch_promo_revenue": """
WITH a AS (
  SELECT
    CAST(sum(CASE WHEN p_type = 'PROMO'
        THEN floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT
        ELSE 0 END) AS BIGINT) AS promo_cents,
    CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT) AS BIGINT) AS total_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')
SELECT promo_cents, total_cents,
       floor(100.0 * promo_cents / total_cents * 1000000 + 0.5) / 1000000 AS promo_pct
FROM a""",
        "tpch_top_supplier": """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT) AS BIGINT)
           AS total_rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev_cents
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_cents = (SELECT max(total_rev_cents) FROM rev)
ORDER BY s_suppkey""",
        "tpch_small_qty_revenue": """
WITH stats AS (
  SELECT l_partkey, count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(sum(floor(l_extendedprice * 100 + 0.5)::BIGINT) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines
FROM lineitem
JOIN stats USING (l_partkey)
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND 5 * CAST(l_quantity AS BIGINT) * n < sum_qty""",
        "tpch_large_orders": """
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_date, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""",
        "tpch_nation_volume": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT) AS BIGINT)
         AS volume_cents
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year""",
        "tpch_supplier_census": """
SELECT p_brand,
       CASE WHEN p_size <= 10 THEN 'S'
            WHEN p_size <= 30 THEN 'M' ELSE 'L' END AS size_band,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, size_band ORDER BY p_brand, size_band""",
        "tpch_priority_shipping": """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus""",
        "tpch_market_share": """
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         n1.n_name AS supp_nation,
         floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE p_type = 'LARGE' AND r_name = 'AMERICA'),
a AS (
  SELECT o_year,
         CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS BIGINT) AS nation_cents,
         CAST(sum(rev) AS BIGINT) AS total_cents
  FROM j GROUP BY o_year)
SELECT o_year, nation_cents, total_cents,
       floor(nation_cents / total_cents::DOUBLE * 1000000 + 0.5) / 1000000
         AS mkt_share
FROM a ORDER BY o_year""",
        "tpch_disjunctive_revenue": """
SELECT CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#2' AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#3' AND l_quantity >= 20 AND l_quantity <= 30)""",
        "tpch_idle_rich_customers": """
WITH cust AS (
  SELECT c_custkey, c_mktsegment,
         floor(c_acctbal * 100 + 0.5)::BIGINT AS bal_cents
  FROM customer),
pos AS (SELECT sum(bal_cents) AS s, count(*) AS n FROM cust WHERE bal_cents > 0),
recent AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01')
SELECT c_mktsegment, count(*) AS n_custs, CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
FROM cust, pos
WHERE bal_cents * n > s
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c_mktsegment ORDER BY c_mktsegment""",
        # contamination = near-dup pairs (bruteforce == LSH on this
        # corpus) straddling the md5 split, test doc first
        "docs_contamination": """
WITH s AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
), p AS (
  SELECT doc_a, doc_b, jaccard FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.9
), sp AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train' ELSE 'test' END AS split
  FROM documents
)
SELECT CASE WHEN sa.split = 'test' THEN p.doc_a ELSE p.doc_b END AS test_doc,
       CASE WHEN sa.split = 'test' THEN p.doc_b ELSE p.doc_a END AS train_doc,
       jaccard
FROM p
JOIN sp sa ON sa.doc_id = p.doc_a
JOIN sp sb ON sb.doc_id = p.doc_b
WHERE sa.split <> sb.split
ORDER BY test_doc, train_doc""",
        "docs_top_ngrams": """
WITH w AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS words FROM documents
), g AS (
  SELECT unnest(list_transform(
           generate_series(1, len(words) - 1),
           i -> array_to_string(words[i:i+1], ' '))) AS ngram
  FROM w WHERE len(words) >= 2
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n
FROM g GROUP BY ngram
ORDER BY n DESC, ngram ASC LIMIT 50""",
        "log_stream_interval_join": f"""{_PARSE_CTE}
SELECT a.day_str AS day, a.req_counter AS req_counter,
       a.ts AS ts_in, b.ts AS ts_out,
       CAST((epoch_us(b.ts) - epoch_us(a.ts)) / 1000 AS BIGINT) AS duration_ms
FROM parsed a JOIN parsed b
  ON a.day_str = b.day_str AND a.req_counter = b.req_counter
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
WHERE a.is_parsed AND a.req_dir = 'i' AND b.is_parsed AND b.req_dir = 'o'
ORDER BY day, req_counter""",
        # LEFT OUTER: drained streaming output == batch left join on
        # this corpus (all evictions fire; see the query docstring)
        "log_stream_outer_join": f"""{_PARSE_CTE}
SELECT a.day_str AS day, a.req_counter AS req_counter,
       a.ts AS ts_in, b.ts AS ts_out,
       CAST((epoch_us(b.ts) - epoch_us(a.ts)) / 1000 AS BIGINT) AS duration_ms
FROM (SELECT * FROM parsed
      WHERE is_parsed AND req_dir = 'i') a
LEFT JOIN (SELECT * FROM parsed
           WHERE is_parsed AND req_dir = 'o') b
  ON a.day_str = b.day_str AND a.req_counter = b.req_counter
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 SECOND
ORDER BY day, req_counter, ts_in""",
        "log_stream_pairs": f"""{_PARSE_CTE}
SELECT day, req_counter, ts_in, ts_out,
       round((epoch_us(ts_out) - epoch_us(ts_in)) / 1000.0, 3) AS latency_ms,
       op_type, username
FROM (
  SELECT day_str AS day, req_counter,
         min(CASE WHEN req_dir = 'i' THEN ts END) AS ts_in,
         max(CASE WHEN req_dir = 'o' THEN ts END) AS ts_out,
         max(CASE WHEN req_dir = 'o' THEN op_type END) AS op_type,
         max(CASE WHEN req_dir = 'o' THEN username END) AS username
  FROM parsed WHERE is_parsed AND req_dir IN ('i','o')
  GROUP BY day_str, req_counter)
WHERE ts_in IS NOT NULL AND ts_out IS NOT NULL
ORDER BY day, req_counter""",
        # the multi-batch replay must land on the SAME answer — the
        # matched-pair set is split-invariant by construction
        "log_stream_pairs_multibatch": f"""{_PARSE_CTE}
SELECT day, req_counter, ts_in, ts_out,
       round((epoch_us(ts_out) - epoch_us(ts_in)) / 1000.0, 3) AS latency_ms,
       op_type, username
FROM (
  SELECT day_str AS day, req_counter,
         min(CASE WHEN req_dir = 'i' THEN ts END) AS ts_in,
         max(CASE WHEN req_dir = 'o' THEN ts END) AS ts_out,
         max(CASE WHEN req_dir = 'o' THEN op_type END) AS op_type,
         max(CASE WHEN req_dir = 'o' THEN username END) AS username
  FROM parsed WHERE is_parsed AND req_dir IN ('i','o')
  GROUP BY day_str, req_counter)
WHERE ts_in IS NOT NULL AND ts_out IS NOT NULL
ORDER BY day, req_counter""",
        "docs_jaccard_top_pairs": """
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents WHERE doc_id < 200)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  floor(len(list_intersect(a.shingles, b.shingles))
        / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) > 0
ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 50""",
        # Prefix filtering is EXACT (candidate superset proven by the
        # prefix lemma; equality vs the full index pytest-pinned), so
        # plain brute force is the oracle — not an approximation bet.
        "docs_prefix_filter_pairs": """
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    floor(len(list_intersect(a.shingles, b.shingles))
          / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
          * 1000000 + 0.5) / 1000000 AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.4
ORDER BY doc_a, doc_b""",
        "emb_near_dup_bruteforce": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
ORDER BY id_a, id_b""",
        "emb_knn_bruteforce": _KNN_SQL,
        # full algorithm mirror: centroids, argmax cells, quantized
        # probe ranking, candidate-only windows — misses included
        "emb_mutual_knn_ivf": """
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), a AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS va FROM embeddings WHERE label = 0),
b AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS vb FROM embeddings WHERE label = 1),
bcell AS (
  SELECT b_id, vb, cid AS cell FROM (
    SELECT b.b_id, b.vb, c.cid,
           row_number() OVER (PARTITION BY b.b_id
             ORDER BY list_cosine_similarity(b.vb, c.cvec) DESC, c.cid ASC) AS rn
    FROM b CROSS JOIN cents c) WHERE rn = 1
), aprobe AS (
  SELECT a_id, va, cid AS cell FROM (
    SELECT a.a_id, a.va, c.cid,
           row_number() OVER (PARTITION BY a.a_id
             ORDER BY CAST(floor(list_cosine_similarity(a.va, c.cvec)
                                 * 1000000 + 0.5) AS BIGINT) DESC,
                      c.cid ASC) AS rn
    FROM a CROSS JOIN cents c) WHERE rn <= 8
), scored AS (
  SELECT p.a_id, m.b_id,
         CAST(floor(list_cosine_similarity(p.va, m.vb) * 1000000 + 0.5)
              AS BIGINT) AS c6
  FROM aprobe p JOIN bcell m ON m.cell = p.cell
), ranked AS (
  SELECT a_id, b_id, c6,
         row_number() OVER (PARTITION BY a_id ORDER BY c6 DESC, b_id ASC) AS rnf,
         row_number() OVER (PARTITION BY b_id ORDER BY c6 DESC, a_id ASC) AS rnb
  FROM scored),
fwd AS (
  SELECT a_id, CAST(sum(c6) AS BIGINT) AS s6_fwd, CAST(count(*) AS BIGINT) AS k_fwd
  FROM ranked WHERE rnf <= 4 GROUP BY a_id),
bwd AS (
  SELECT b_id, CAST(sum(c6) AS BIGINT) AS s6_bwd, CAST(count(*) AS BIGINT) AS k_bwd
  FROM ranked WHERE rnb <= 4 GROUP BY b_id)
SELECT m.a_id, m.b_id,
  floor(c6 / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS cosine,
  floor((c6 * k_fwd) / (CASE WHEN s6_fwd <> 0 THEN s6_fwd END)::DOUBLE
        * 1000000 + 0.5) / 1000000.0 AS margin_fwd,
  floor((c6 * k_bwd) / (CASE WHEN s6_bwd <> 0 THEN s6_bwd END)::DOUBLE
        * 1000000 + 0.5) / 1000000.0 AS margin_bwd
FROM ranked m JOIN fwd USING (a_id) JOIN bwd USING (b_id)
WHERE m.rnf = 1 AND m.rnb = 1
ORDER BY a_id""",
        "emb_mutual_knn": """
WITH a AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS va FROM embeddings WHERE label = 0),
b AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS vb FROM embeddings WHERE label = 1),
scored AS (
  SELECT a_id, b_id,
         CAST(floor(list_cosine_similarity(va, vb) * 1000000 + 0.5) AS BIGINT) AS c6
  FROM a CROSS JOIN b),
ranked AS (
  SELECT a_id, b_id, c6,
         row_number() OVER (PARTITION BY a_id ORDER BY c6 DESC, b_id ASC) AS rnf,
         row_number() OVER (PARTITION BY b_id ORDER BY c6 DESC, a_id ASC) AS rnb
  FROM scored),
fwd AS (
  SELECT a_id, CAST(sum(c6) AS BIGINT) AS s6_fwd, CAST(count(*) AS BIGINT) AS k_fwd
  FROM ranked WHERE rnf <= 4 GROUP BY a_id),
bwd AS (
  SELECT b_id, CAST(sum(c6) AS BIGINT) AS s6_bwd, CAST(count(*) AS BIGINT) AS k_bwd
  FROM ranked WHERE rnb <= 4 GROUP BY b_id)
SELECT m.a_id, m.b_id,
  floor(c6 / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS cosine,
  floor((c6 * k_fwd) / (CASE WHEN s6_fwd <> 0 THEN s6_fwd END)::DOUBLE
        * 1000000 + 0.5) / 1000000.0 AS margin_fwd,
  floor((c6 * k_bwd) / (CASE WHEN s6_bwd <> 0 THEN s6_bwd END)::DOUBLE
        * 1000000 + 0.5) / 1000000.0 AS margin_bwd
FROM ranked m JOIN fwd USING (a_id) JOIN bwd USING (b_id)
WHERE m.rnf = 1 AND m.rnb = 1
ORDER BY a_id""",
        # LSH queries: parameters make the verified candidate set cover
        # every true pair/top-k on this fixed corpus, so the bruteforce
        # SQL is an exact oracle (see the query docstrings).
        "emb_lsh_topk": _KNN_SQL,
        # Full algorithm mirror (centroid sample → argmax-cosine cell →
        # nprobe probing → exact re-rank): checks IVF including misses.
        "emb_ivf_topk": """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), acos AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, c.cid,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS cos
  FROM embeddings e CROSS JOIN cents c
), cells AS (
  SELECT vec_id, vec, cid AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM acos) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings ORDER BY vec_id LIMIT 3
), qcos AS (
  SELECT q.query_id, q.qvec, c.cid AS cell,
         list_cosine_similarity(q.qvec, c.cvec) AS cos
  FROM q CROSS JOIN cents c
), qprobe AS (
  SELECT query_id, qvec, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, cell ASC) AS rn
    FROM qcos) WHERE rn <= 4
), scored AS (
  SELECT p.query_id, m.vec_id,
         round(list_cosine_similarity(m.vec, p.qvec), 6) AS cosine
  FROM qprobe p JOIN cells m ON m.cell = p.cell
)
SELECT query_id, vec_id, cosine,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
ORDER BY query_id, rank""",
        # the k-means-fitted IVF: the mirror unrolls BOTH Lloyd
        # iterations, so the fit itself is oracle-checked
        "emb_ivf_kmeans_topk": _ivf_kmeans_sql(iters=2),
        "emb_silhouette": _silhouette_sql(iters=2),
        # int8 quantizer digest: the mirror recomputes scale, clamped
        # rounding, saturation count, and code sums from scratch
        "emb_label_centroids": """
WITH e AS (
  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         unnest(embedding) AS v
  FROM embeddings)
SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
       floor(avg(v) * 1000000 + 0.5) / 1000000 AS centroid
FROM e GROUP BY label, dim ORDER BY label, dim""",
        "emb_class_separability": """
WITH e AS (
  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
mom AS (
  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
         sum(v) AS s1, sum(v * v) AS s2
  FROM e GROUP BY label, dim),
g AS (SELECT dim, sum(s1) AS gs1, CAST(sum(n) AS BIGINT) AS gn
      FROM mom GROUP BY dim),
ld AS (
  SELECT label, n, s2 - s1 * s1 / n AS wss,
         (s1 / n - gs1 / gn) * (s1 / n - gs1 / gn) AS bd
  FROM mom JOIN g USING (dim)),
pl AS (
  SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
         sum(wss) AS wss_l, sum(bd) AS dist2
  FROM ld GROUP BY label),
lab AS (
  SELECT CAST(label AS BIGINT) AS label, n_vecs,
         floor(wss_l / n_vecs * 1000000 + 0.5) / 1000000.0 AS within_var,
         floor(dist2 * 1000000 + 0.5) / 1000000.0 AS between_dist2,
         CAST(NULL AS DOUBLE) AS fisher_ratio
  FROM pl),
tot AS (
  SELECT CAST(-1 AS BIGINT) AS label,
         CAST(sum(n_vecs) AS BIGINT) AS n_vecs,
         floor(sum(wss_l) / sum(n_vecs) * 1000000 + 0.5) / 1000000.0
           AS within_var,
         floor(sum(n_vecs * dist2) / sum(n_vecs) * 1000000 + 0.5)
           / 1000000.0 AS between_dist2,
         CASE WHEN sum(wss_l) / sum(n_vecs) > 0 THEN
           floor((sum(n_vecs * dist2) / sum(n_vecs))
                 / (sum(wss_l) / sum(n_vecs)) * 1000000 + 0.5) / 1000000.0
         END AS fisher_ratio
  FROM pl)
SELECT * FROM lab UNION ALL SELECT * FROM tot ORDER BY label""",
        "emb_centroid_sims": """
WITH e AS (
  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         unnest(embedding) AS v
  FROM embeddings),
c AS (
  SELECT label, dim, floor(avg(v) * 1000000 + 0.5) / 1000000 AS centroid
  FROM e GROUP BY label, dim),
n AS (SELECT label, sqrt(sum(centroid * centroid)) AS nrm FROM c GROUP BY label),
d AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.centroid * b.centroid) AS dot
  FROM c a JOIN c b USING (dim) WHERE a.label < b.label
  GROUP BY a.label, b.label)
SELECT label_a, label_b,
       floor(dot / (na.nrm * nb.nrm) * 1000000 + 0.5) / 1000000 AS cosine
FROM d JOIN n na ON na.label = label_a JOIN n nb ON nb.label = label_b
ORDER BY label_a, label_b""",
        "emb_quantize_int8": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale,
             v
      FROM e),
c AS (SELECT vec_id, scale,
             list_transform(v, x -> CAST(least(greatest(round(x / scale), -127.0),
                                               127.0) AS INTEGER)) AS codes
      FROM s)
SELECT vec_id, round(scale, 9) AS scale9,
       CAST(len(list_filter(codes, cd -> abs(cd) = 127)) AS INTEGER) AS n_sat,
       CAST(list_sum(codes) AS BIGINT) AS qsum,
       CAST(list_sum(list_transform(codes, cd -> abs(cd))) AS BIGINT) AS ql1
FROM c ORDER BY vec_id""",
        # int8 KNN: full mirror incl. the quantizer on both sides and
        # the fixed-order (dot·scale_a)·scale_q multiply
        "emb_knn_int8": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale,
             v
      FROM e),
c AS (SELECT vec_id, scale,
             list_transform(v, x -> CAST(least(greatest(round(x / scale), -127.0),
                                               127.0) AS INTEGER)) AS codes
      FROM s),
q AS (SELECT vec_id AS query_id, scale AS qscale, codes AS qcodes
      FROM c WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 3)),
scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(c.codes, q.qcodes) * c.scale * q.qscale, 6)
           AS approx_ip
  FROM c CROSS JOIN q)
SELECT query_id, vec_id, approx_ip,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY approx_ip DESC, vec_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 5
ORDER BY query_id, rank""",
        # full curation chain mirror: langid gate -> quality gate ->
        # keep-first exact dedup -> near-dup removal (bruteforce jaccard
        # = the LSH pair set on this corpus, see docs_minhash_lsh_pairs)
        "docs_curate_corpus": _CURATE_PREFIX + """
SELECT doc_id FROM dedup
WHERE doc_id NOT IN (SELECT doc_b FROM pairs WHERE j >= 0.9)
ORDER BY doc_id""",
        # same chain, cluster-level survivor rule: drop every component
        # member except its minimum id (recursive transitive closure)
        "docs_curate_corpus_clustered": _CURATE_PREFIX + """,
p AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.9),
und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
        UNION ALL SELECT doc_b, doc_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT doc_id FROM dedup
WHERE doc_id NOT IN (
  SELECT a FROM reach GROUP BY a HAVING least(a, min(b)) <> a)
ORDER BY doc_id""",
        "docs_minhash_lsh_pairs": """
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    floor(len(list_intersect(a.shingles, b.shingles))
          / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE * 1000000 + 0.5) / 1000000 AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id)
WHERE jaccard >= 0.2""",
        "emb_near_dup_pairs": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
aug AS (SELECT vec_id, v FROM e
        UNION ALL SELECT vec_id + 100000 AS vec_id, v FROM e WHERE vec_id < 50)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
WHERE cosine >= 0.95
ORDER BY id_a, id_b""",
        # goldens: deterministic Spark output pinned once (xxhash64 /
        # the fake decoder are not reproducible in DuckDB) — regenerate
        # with tools/make_goldens.py. Document-derived goldens carry one
        # slice PER SCALE FACTOR, dispatched by total corpus chars of
        # the live `documents` view (distinct at every SF; doc counts
        # collide between sf0.001 and sf0.01). Media is sf-independent.
        "docs_simhash": f"""
SELECT doc_id, simhash
FROM read_parquet('{_REPO}/data/golden/docs_simhash.parquet/*.parquet')
WHERE corpus_chars = (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)""",
        "corpus_pack_greedy": f"""
SELECT doc_id, source, length, pack_id, offset_in_pack
FROM read_parquet('{_REPO}/data/golden/corpus_pack_greedy.parquet/*.parquet')
WHERE corpus_chars = (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)""",
        "docs_simhash_pairs": f"""
SELECT doc_a, doc_b, hamming
FROM read_parquet('{_REPO}/data/golden/docs_simhash_pairs.parquet/*.parquet')
WHERE corpus_chars = (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)""",
        "media_features": f"""
SELECT media_id, kind, n_bytes, f0, thumb_w, thumb_h
FROM read_parquet('{_REPO}/data/golden/media_features.parquet/*.parquet')""",
        "media_resize": f"""
SELECT media_id, kind, payload_md5, width, height, n_bytes
FROM read_parquet('{_REPO}/data/golden/media_resize.parquet/*.parquet')""",
        "media_frames": f"""
SELECT media_id,
       CAST(unnest(generate_series(0, greatest(n_frames - 1, 0), 10)) AS INTEGER) AS frame_index,
       width, height
FROM read_parquet('{_REPO}/data/golden/media_meta.parquet/*.parquet')
WHERE kind = 'video'
ORDER BY media_id, frame_index""",
        "log_pipeline_e2e": f"""{_PARSE_CTE}
SELECT substr(regexp_extract(source, '(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1), 1, 10) AS day,
       source,
       CAST(count(*) AS BIGINT) AS total_lines,
       CAST(sum(CASE WHEN is_parsed THEN 1 ELSE 0 END) AS BIGINT) AS parsed_lines,
       CAST(sum(CASE WHEN is_parsed THEN 0 ELSE 1 END) AS BIGINT) AS malformed_lines
FROM parsed
GROUP BY day, source
ORDER BY day, source""",
        # streaming front door: same independent re-parse oracle — the
        # rolled-up streaming metrics must equal the batch answer
        "log_stream_ingest": f"""{_PARSE_CTE}
SELECT substr(regexp_extract(source, '(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1), 1, 10) AS day,
       source,
       CAST(count(*) AS BIGINT) AS total_lines,
       CAST(sum(CASE WHEN is_parsed THEN 1 ELSE 0 END) AS BIGINT) AS parsed_lines,
       CAST(sum(CASE WHEN is_parsed THEN 0 ELSE 1 END) AS BIGINT) AS malformed_lines
FROM parsed
GROUP BY day, source
ORDER BY day, source""",
    }
    # self-validation: exact p99 vs the mergeable HDR sketch's p99 —
    # composed from the two already-mirrored pipelines, so the audit
    # itself is oracle-checked (rel_err formula identical both engines)
    d["log_sketch_error_audit"] = f"""
WITH e AS ({d["log_duration_percentiles"]}),
s AS ({d["log_duration_percentiles_sketch"]})
SELECT e.op_type, e.p99 AS exact_p99, CAST(s.p99 AS BIGINT) AS sketch_p99,
       floor(abs(e.p99 - s.p99) / e.p99 * 1000000 + 0.5) / 1000000 AS rel_err
FROM e JOIN s USING (op_type) ORDER BY e.op_type"""
    # int8-KNN recall audit — composed from the two mirrored KNN oracles
    d["emb_int8_recall_audit"] = f"""
WITH e AS ({d["emb_knn_bruteforce"]}),
i AS ({d["emb_knn_int8"]})
SELECT e.query_id, CAST(count(i.vec_id) AS BIGINT) AS n_overlap,
       floor(count(i.vec_id) / 5.0 * 1000000 + 0.5) / 1000000 AS recall_at_5
FROM e LEFT JOIN i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
GROUP BY e.query_id ORDER BY e.query_id"""
    d["log_weekday_profile"] = f"""{_PARSE_CTE}
SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT username) AS BIGINT) AS n_users
FROM parsed WHERE is_parsed GROUP BY iso_dow ORDER BY iso_dow"""
    d["docs_dsir_importance"] = """
WITH w AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(gram), 1, 6)) AS BIGINT) % 1024 AS bucket
  FROM (
    SELECT doc_id, source, unnest(ws) AS gram FROM w
    UNION ALL
    SELECT doc_id, source, ws[i] || ' ' || ws[i+1] AS gram
    FROM (SELECT doc_id, source, ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM w WHERE len(ws) >= 2))),
c AS (SELECT bucket, count(*) AS cb FROM g GROUP BY bucket),
t AS (SELECT bucket, count(*) AS tb FROM g WHERE source = 'src0' GROUP BY bucket),
llr AS (
  SELECT c.bucket,
         CAST(floor((ln(coalesce(tb, 0) + 1.0) - ln(cb + 1.0)) * 1000000 + 0.5)
              AS BIGINT) AS llr_micro
  FROM c LEFT JOIN t USING (bucket)),
tot AS (
  SELECT CAST(floor((ln((SELECT sum(cb) FROM c) + 1024.0)
                     - ln((SELECT coalesce(sum(tb), 0) FROM t) + 1024.0))
               * 1000000 + 0.5) AS BIGINT) AS k_micro),
s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         sum(llr_micro) AS s_micro
  FROM g JOIN llr USING (bucket) GROUP BY doc_id)
SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams,
       coalesce((s.s_micro + s.n_grams * (SELECT k_micro FROM tot))
                / 1000000.0, 0.0) AS dsir_score
FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id"""
    d["corpus_token_budget"] = """
WITH ts AS ({TS}),
c AS (
  SELECT t.doc_id, t.quality_score, CAST(d.n_chars AS BIGINT) AS n_chars,
         CAST(coalesce(sum(d.n_chars) OVER (
             ORDER BY t.quality_score DESC, t.doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM ts t JOIN documents d USING (doc_id))
SELECT doc_id, quality_score, n_chars, cum_before
FROM c WHERE cum_before < 60000 ORDER BY doc_id""".replace(
        "{TS}", _text_stats_sql()
    )
    d["emb_hard_negatives"] = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS query_vec,
         label AS query_label
  FROM embeddings ORDER BY vec_id LIMIT 3
), scored AS (
  SELECT q.query_id, e.vec_id, e.label,
    round(list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec), 6)
      AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.label != q.query_label
)
SELECT query_id, vec_id, label, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank"""
    d["log_top_repo_p99"] = f"""{_PARSE_CTE},
ops AS (
  SELECT repo_slug, duration_ms FROM parsed
  WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL
    AND repo_slug IS NOT NULL),
top AS (
  SELECT repo_slug, CAST(count(*) AS BIGINT) AS n_ops
  FROM ops GROUP BY repo_slug
  ORDER BY n_ops DESC, repo_slug ASC LIMIT 5)
SELECT o.repo_slug, t.n_ops,
       round(quantile_cont(o.duration_ms, 0.5), 4) AS p50,
       round(quantile_cont(o.duration_ms, 0.99), 4) AS p99
FROM ops o JOIN top t USING (repo_slug)
GROUP BY o.repo_slug, t.n_ops ORDER BY t.n_ops DESC, o.repo_slug ASC"""
    # deterministic HLL: ALPHA*m^2 inlined as the python double's repr so
    # both engines parse the identical IEEE literal
    _alpha_m2 = repr(0.7213 / (1.0 + 1.079 / 256) * 65536.0)
    d["events_hll_users"] = f"""
WITH h AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
           AS hv
  FROM events),
r AS (
  SELECT hv >> 40 AS bucket,
         max(CASE WHEN (hv & 1099511627775) > 0
                  THEN 41 - length(bin(hv & 1099511627775))
                  ELSE 41 END) AS register
  FROM h GROUP BY bucket),
a AS (
  SELECT count(*) AS n_present,
         sum(1.0 / (CAST(1 AS BIGINT) << register)) AS s_present
  FROM r),
e AS (
  SELECT {_alpha_m2} / (s_present + (256 - n_present)) AS raw,
         256 - n_present AS v
  FROM a),
est AS (
  SELECT floor((CASE WHEN raw <= 640.0 AND v > 0
                     THEN 256.0 * ln(256.0 / v) ELSE raw END)
               * 1000000 + 0.5) / 1000000.0 AS hll_estimate
  FROM e)
SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
       hll_estimate,
       round(abs(hll_estimate - (SELECT count(DISTINCT user_id) FROM events))
             / (SELECT count(DISTINCT user_id) FROM events), 6) AS rel_err
FROM est"""
    d["events_stream_sessionize"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
m AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
s AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id, min(us) AS s_start_us, max(us) + 1800000000 AS s_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid ORDER BY user_id, s_start_us"""
    d["log_repo_coaccess"] = f"""{_PARSE_CTE},
inc AS (
  SELECT username, repo_slug, count(*) AS n_ops FROM parsed
  WHERE is_parsed AND op_type IS NOT NULL AND repo_slug IS NOT NULL
    AND username IS NOT NULL
  GROUP BY username, repo_slug),
capped AS (
  SELECT username, repo_slug FROM (
    SELECT username, repo_slug,
           row_number() OVER (PARTITION BY username
                              ORDER BY n_ops DESC, repo_slug ASC) AS r
    FROM inc) WHERE r <= 20)
SELECT a.repo_slug AS repo_a, b.repo_slug AS repo_b,
       CAST(count(*) AS BIGINT) AS n_users
FROM capped a JOIN capped b
  ON a.username = b.username AND a.repo_slug < b.repo_slug
GROUP BY repo_a, repo_b
ORDER BY n_users DESC, repo_a ASC, repo_b ASC LIMIT 20"""
    d["docs_token_counts"] = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(trim(lower(text)), '[a-z]+|[0-9]+|[^a-z0-9\s]')
           AS toks
  FROM documents),
u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN regexp_full_match(tok, '[a-z]+')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
         CAST(sum(CASE WHEN regexp_full_match(tok, '[0-9]+')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_digit
  FROM u GROUP BY doc_id)
SELECT t.doc_id, coalesce(n_tokens, 0) AS n_tokens,
       coalesce(n_alpha, 0) AS n_alpha, coalesce(n_digit, 0) AS n_digit,
       coalesce(n_tokens, 0) - coalesce(n_alpha, 0) - coalesce(n_digit, 0)
         AS n_symbol
FROM t LEFT JOIN c USING (doc_id) ORDER BY t.doc_id"""
    d["docs_quantile_norm"] = """
WITH ts AS ({TS})
SELECT t.doc_id, d.source, t.quality_score,
       floor(percent_rank() OVER (PARTITION BY d.source
             ORDER BY t.quality_score ASC, t.doc_id ASC)
             * 1000000 + 0.5) / 1000000 AS q_norm
FROM ts t JOIN documents d USING (doc_id) ORDER BY t.doc_id""".replace(
        "{TS}", _text_stats_sql()
    )
    d["events_cusum_drift"] = """
WITH RECURSIVE base AS (
  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, hour, x,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS i,
         CAST(floor(sum(x) OVER (PARTITION BY event_type) * 1000000.0
              / count(*) OVER (PARTITION BY event_type) + 0.5) AS BIGINT)
           AS k_micro
  FROM base),
rec AS (
  SELECT event_type, hour, x, i, k_micro,
         GREATEST(CAST(0 AS BIGINT), x * 1000000 - k_micro) AS s
  FROM idx WHERE i = 1
  UNION ALL
  SELECT t.event_type, t.hour, t.x, t.i, t.k_micro,
         GREATEST(CAST(0 AS BIGINT), r.s + t.x * 1000000 - t.k_micro)
  FROM idx t JOIN rec r ON t.event_type = r.event_type AND t.i = r.i + 1)
SELECT event_type, hour, x, s AS cusum_micro,
       s > CAST(floor(3.0 * k_micro + 0.5) AS BIGINT) AS alarm
FROM rec ORDER BY event_type, hour"""
    d["docs_weighted_sample"] = """
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(floor(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                       AS BIGINT) + 1.0) / 16777217.0)
            / n_chars * 1000000 + 0.5) AS BIGINT) AS race_key
FROM documents ORDER BY race_key, doc_id LIMIT 20"""
    d["events_stream_dedup_native"] = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type"""
    d["docs_kmv_vocab"] = r"""
WITH w AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
  FROM documents),
h AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(word), 1, 12)) AS BIGINT) AS hv
  FROM w),
r AS (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS r
  FROM h),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_exact,
         max(CASE WHEN r = 64 THEN hv END) AS hk
  FROM r GROUP BY source),
e AS (
  SELECT source, n_exact,
         CASE WHEN hk IS NOT NULL
              THEN floor(63.0 * 281474976710656.0 / hk * 1000000 + 0.5)
                   / 1000000.0
              ELSE CAST(n_exact AS DOUBLE) END AS kmv_estimate
  FROM g)
SELECT source, n_exact, kmv_estimate,
       round(abs(kmv_estimate - n_exact) / n_exact, 6) AS rel_err
FROM e ORDER BY source"""
    graph_cte = f"""{_PARSE_CTE},
inc AS (
  SELECT username, repo_slug, count(*) AS n_ops FROM parsed
  WHERE is_parsed AND op_type IS NOT NULL AND repo_slug IS NOT NULL
    AND username IS NOT NULL
  GROUP BY username, repo_slug),
capped AS (
  SELECT username, repo_slug FROM (
    SELECT username, repo_slug,
           row_number() OVER (PARTITION BY username
                              ORDER BY n_ops DESC, repo_slug ASC) AS r
    FROM inc) WHERE r <= 20),
pairs AS (
  SELECT a.repo_slug AS repo_a, b.repo_slug AS repo_b
  FROM capped a JOIN capped b
    ON a.username = b.username AND a.repo_slug < b.repo_slug
  GROUP BY repo_a, repo_b),
adj AS (SELECT repo_a AS src, repo_b AS dst FROM pairs
        UNION ALL SELECT repo_b AS src, repo_a AS dst FROM pairs),
deg AS (SELECT src AS node, count(*) AS deg FROM adj GROUP BY src)"""
    pr_iter = """
r{t} AS (
  SELECT a.dst AS node,
         floor(((1.0 - 0.85) / nn.n + 0.85 * sum(r.rank / d.deg))
               * 1000000 + 0.5) / 1000000.0 AS rank
  FROM r{p} r JOIN deg d ON d.node = r.node JOIN adj a ON a.src = r.node
  CROSS JOIN nn GROUP BY a.dst, nn.n)"""
    d["log_repo_pagerank"] = (
        graph_cte
        + """,
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT node, floor(1.0 / nn.n * 1000000 + 0.5) / 1000000.0 AS rank
       FROM deg CROSS JOIN nn),"""
        + ",".join(pr_iter.format(t=t, p=t - 1) for t in (1, 2, 3))
        + """
SELECT r3.node, CAST(d.deg AS BIGINT) AS degree, r3.rank AS pagerank
FROM r3 JOIN deg d ON d.node = r3.node
ORDER BY pagerank DESC, r3.node ASC"""
    )
    d["log_repo_triangles"] = (
        graph_cte
        + """,
e AS (
  SELECT p.repo_a AS a, p.repo_b AS b, da.deg AS da, db.deg AS db
  FROM pairs p JOIN deg da ON da.node = p.repo_a
               JOIN deg db ON db.node = p.repo_b),
o AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
         CASE WHEN da < db OR (da = db AND a < b) THEN da ELSE db END AS du,
         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
  FROM e),
w AS (
  SELECT o1.u AS x, o1.v AS y, o2.v AS z
  FROM o o1 JOIN o o2 ON o1.u = o2.u
  WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
t AS (SELECT x, y, z FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.y AND o.v = w.z)),
pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles
  FROM (SELECT unnest([x, y, z]) AS node FROM t) GROUP BY node)
SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
       coalesce(pn.triangles, 0) AS triangles
FROM deg d LEFT JOIN pn ON pn.node = d.node
ORDER BY triangles DESC, degree DESC, d.node ASC"""
    )
    hits_iter = """
a{t}r AS (SELECT c.repo_slug AS auth, sum(h{p}.h) AS ra
          FROM capped c JOIN h{p} ON h{p}.hub = c.username
          GROUP BY c.repo_slug),
a{t} AS (SELECT auth, floor(ra / (SELECT sum(ra) FROM a{t}r)
                            * 1000000 + 0.5) / 1000000.0 AS a FROM a{t}r),
h{t}r AS (SELECT c.username AS hub, sum(a{t}.a) AS rh
          FROM capped c JOIN a{t} ON a{t}.auth = c.repo_slug
          GROUP BY c.username),
h{t} AS (SELECT hub, floor(rh / (SELECT sum(rh) FROM h{t}r)
                           * 1000000 + 0.5) / 1000000.0 AS h FROM h{t}r)"""
    d["log_repo_hits"] = (
        graph_cte
        + """,
ad AS (SELECT repo_slug AS auth, CAST(count(*) AS BIGINT) AS ad
       FROM capped GROUP BY repo_slug),
h0 AS (SELECT DISTINCT username AS hub, 1.0 AS h FROM capped),"""
        + ",".join(hits_iter.format(t=t, p=t - 1) for t in (1, 2, 3))
        + """
SELECT a3.auth AS repo_slug, ad.ad AS degree, a3.a AS authority
FROM a3 JOIN ad ON ad.auth = a3.auth
ORDER BY authority DESC, repo_slug ASC"""
    )
    d["log_repo_adamic_adar"] = (
        graph_cte
        + """,
ud AS (SELECT username, count(*) AS du FROM capped GROUP BY username),
wi AS (SELECT c.username, c.repo_slug, 1.0 / ln(ud.du) AS w
       FROM capped c JOIN ud ON ud.username = c.username),
aa AS (
  SELECT a.repo_slug AS repo_a, b.repo_slug AS repo_b,
         CAST(count(*) AS BIGINT) AS common_users,
         floor(sum(a.w) * 1000000 + 0.5) / 1000000.0 AS aa_score
  FROM wi a JOIN wi b
    ON a.username = b.username AND a.repo_slug < b.repo_slug
  GROUP BY repo_a, repo_b)
SELECT repo_a, repo_b, common_users, aa_score
FROM aa ORDER BY aa_score DESC, repo_a ASC, repo_b ASC LIMIT 30"""
    )
    d["docs_cms_tokens"] = r"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
  FROM documents),
k AS (SELECT word, count(*) AS n FROM w GROUP BY word),
e AS (
  SELECT word, n, dd,
         CAST(('0x' || substr(md5(word || ':' || CAST(dd AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS bucket
  FROM k CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS dd)),
g AS (SELECT dd, bucket, sum(n) AS c FROM e GROUP BY dd, bucket),
est AS (
  SELECT e.word, max(e.n) AS exact_count, min(g.c) AS cms_est
  FROM e JOIN g ON g.dd = e.dd AND g.bucket = e.bucket
  GROUP BY e.word)
SELECT word, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_count AS BIGINT) AS overcount
FROM est ORDER BY exact_count DESC, word ASC LIMIT 30"""
    d["docs_chunk_stride"] = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
s AS (
  SELECT doc_id, ws, greatest(len(ws) - 64, 0) AS last FROM t),
st AS (
  SELECT doc_id, ws,
         CASE WHEN last % 32 = 0 THEN generate_series(0, last, 32)
              ELSE list_append(generate_series(0, last, 32), last)
         END AS starts
  FROM s),
x AS (
  SELECT doc_id, ws,
         generate_subscripts(starts, 1) - 1 AS chunk_idx,
         unnest(starts) AS start_word
  FROM st),
c AS (
  SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         CAST(start_word AS BIGINT) AS start_word,
         list_slice(ws, start_word + 1, start_word + 64) AS chunk
  FROM x)
SELECT doc_id, chunk_idx, start_word,
       CAST(len(chunk) AS BIGINT) AS n_words,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM c ORDER BY doc_id, chunk_idx"""
    d["docs_char_entropy"] = r"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
pc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
a AS (SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS s
      FROM pc GROUP BY doc_id)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       floor((ln(n) - s / n) / ln(2.0) * 1000000 + 0.5) / 1000000.0
         AS entropy_bits
FROM a ORDER BY doc_id"""
    d["events_seasonal_naive"] = r"""
WITH h AS (
  SELECT event_type AS key,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
         count(*) AS x
  FROM events GROUP BY key, hr),
j AS (
  SELECT cur.key AS event_type, abs(cur.x - prev.x) AS err
  FROM h cur JOIN h prev ON cur.key = prev.key AND cur.hr = prev.hr + 24)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(err) AS BIGINT) AS total_abs_err,
       floor(sum(err) / count(*)::DOUBLE * 1000000 + 0.5) / 1000000.0 AS mae
FROM j GROUP BY event_type ORDER BY event_type"""
    d["emb_matryoshka_recall"] = f"""
WITH e AS ({d["emb_knn_bruteforce"]}),
tq AS (
  SELECT vec_id AS query_id, (embedding::DOUBLE[])[1:16] AS query_vec
  FROM embeddings ORDER BY vec_id LIMIT 3),
ts AS (
  SELECT tq.query_id, x.vec_id,
    round(list_cosine_similarity((x.embedding::DOUBLE[])[1:16], tq.query_vec),
          6) AS cosine
  FROM embeddings x CROSS JOIN tq),
t AS (
  SELECT query_id, vec_id FROM ts
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id ASC) <= 5)
SELECT e.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
       floor(count(t.vec_id) / 5.0 * 1000000 + 0.5) / 1000000 AS recall_at_5
FROM e LEFT JOIN t ON e.query_id = t.query_id AND e.vec_id = t.vec_id
GROUP BY e.query_id ORDER BY e.query_id"""
    _jl_proj = (
        "["
        + ", ".join(
            " + ".join(f"v[{d + 1}] * {s:.1f}" for d, s in enumerate(row))
            for row in _jl_mat()
        )
        + "]"
    )
    d["emb_jl_recall_audit"] = f"""
WITH e AS ({d["emb_knn_bruteforce"]}),
pe AS (
  SELECT vec_id, {_jl_proj} AS p
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
tq AS (SELECT vec_id AS query_id, p AS query_vec
       FROM pe ORDER BY vec_id LIMIT 3),
ts AS (
  SELECT tq.query_id, x.vec_id,
    round(list_cosine_similarity(x.p, tq.query_vec), 6) AS cosine
  FROM pe x CROSS JOIN tq),
t AS (
  SELECT query_id, vec_id FROM ts
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id ASC) <= 5)
SELECT e.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
       floor(count(t.vec_id) / 5.0 * 1000000 + 0.5) / 1000000 AS recall_at_5
FROM e LEFT JOIN t ON e.query_id = t.query_id AND e.vec_id = t.vec_id
GROUP BY e.query_id ORDER BY e.query_id"""
    d["docs_url_domains"] = r"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' see https://cdn' || CAST(doc_id % 5 AS VARCHAR)
                   || '.example.com/a and http://mirror'
                   || CAST(doc_id % 3 AS VARCHAR) || '.example.net/b'
              ELSE text END AS text
  FROM documents),
u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, 'https?://([a-z0-9.-]+)', 1))
           AS domain
  FROM p)
SELECT domain, CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM u GROUP BY domain
ORDER BY n_mentions DESC, domain ASC LIMIT 20"""
    d["events_session_paths"] = """
WITH nn AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS _new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
  FROM nn),
g AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER w2 || '>'
           || lead(event_type, 2) OVER w2 AS path,
         lead(event_type, 2) OVER w2 AS t3
  FROM s WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id))
SELECT path, CAST(count(*) AS BIGINT) AS n FROM g WHERE t3 IS NOT NULL
GROUP BY path ORDER BY n DESC, path ASC LIMIT 20"""
    d["docs_winsorized"] = """
WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
r AS (SELECT source, v,
             row_number() OVER (PARTITION BY source ORDER BY v) AS r
      FROM v),
n AS (SELECT source, count(*) AS n_rows FROM v GROUP BY source),
b AS (
  SELECT r.source,
         max(CASE WHEN r.r = (1 * n.n_rows + 9) // 10 THEN r.v END) AS lo_val,
         max(CASE WHEN r.r = (9 * n.n_rows + 9) // 10 THEN r.v END) AS hi_val
  FROM r JOIN n ON n.source = r.source GROUP BY r.source),
c AS (
  SELECT v.source, least(greatest(v.v, b.lo_val), b.hi_val) AS c,
         b.lo_val, b.hi_val
  FROM v JOIN b ON b.source = v.source)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(lo_val) AS BIGINT) AS lo_val,
       CAST(max(hi_val) AS BIGINT) AS hi_val,
       CAST(sum(c) AS BIGINT) AS winsorized_sum,
       floor(sum(c) / count(*)::DOUBLE * 1000000 + 0.5) / 1000000.0
         AS winsorized_mean
FROM c GROUP BY source ORDER BY source"""
    d["events_hll_sliding"] = f"""
WITH h AS (
  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
         user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
           AS hv
  FROM events),
r AS (
  SELECT hr, hv >> 40 AS bucket,
         max(CASE WHEN (hv & 1099511627775) > 0
                  THEN 41 - length(bin(hv & 1099511627775))
                  ELSE 41 END) AS register
  FROM h GROUP BY hr, bucket),
hrs AS (SELECT DISTINCT hr FROM r),
m AS (
  SELECT hrs.hr AS hr, r.bucket, max(r.register) AS register
  FROM hrs JOIN r ON r.hr <= hrs.hr AND r.hr > hrs.hr - 24
  GROUP BY hrs.hr, r.bucket),
a AS (
  SELECT hr, count(*) AS n_present,
         sum(1.0 / (CAST(1 AS BIGINT) << register)) AS s_present
  FROM m GROUP BY hr),
e AS (
  SELECT hr, {_alpha_m2} / (s_present + (256 - n_present)) AS raw,
         256 - n_present AS v
  FROM a),
est AS (
  SELECT hr, floor((CASE WHEN raw <= 640.0 AND v > 0
                         THEN 256.0 * ln(256.0 / v) ELSE raw END)
                   * 1000000 + 0.5) / 1000000.0 AS hll_estimate
  FROM e),
du AS (SELECT DISTINCT hr, user_id FROM h),
ex AS (
  SELECT hrs.hr AS hr, count(DISTINCT du.user_id) AS n_exact
  FROM hrs JOIN du ON du.hr <= hrs.hr AND du.hr > hrs.hr - 24
  GROUP BY hrs.hr)
SELECT CAST(ex.hr AS BIGINT) AS hr, CAST(ex.n_exact AS BIGINT) AS n_exact,
       est.hll_estimate,
       round(abs(est.hll_estimate - ex.n_exact) / ex.n_exact, 6) AS rel_err
FROM ex JOIN est ON est.hr = ex.hr ORDER BY hr"""
    d["docs_lsh_recall_audit"] = r"""
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)
),
p AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
            * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.2)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(*) AS BIGINT) AS n_lsh,
       CAST(count(*) AS BIGINT) AS n_overlap,
       floor(count(*) / count(*)::DOUBLE * 1000000 + 0.5) / 1000000.0
         AS recall_at_t,
       floor(count(*) / count(*)::DOUBLE * 1000000 + 0.5) / 1000000.0
         AS precision_at_t
FROM p"""
    d["docs_ngram_novelty"] = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - 2, 1)),
           i -> array_to_string(ws[i:i+2], ' ')))) AS g
  FROM w),
hh AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT) AS h
       FROM g),
f AS (SELECT h, min(doc_id) AS first_doc FROM hh GROUP BY h),
p AS (
  SELECT hh.doc_id, count(*) AS n_shingles,
         sum(CASE WHEN f.first_doc = hh.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM hh JOIN f USING (h) GROUP BY hh.doc_id)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_novel AS BIGINT) AS n_novel,
       floor(n_novel / n_shingles::DOUBLE * 1000000 + 0.5) / 1000000.0
         AS novelty_ratio
FROM p ORDER BY doc_id"""
    d["log_fuzzy_users"] = f"""{_PARSE_CTE},
u AS (SELECT DISTINCT username FROM parsed
      WHERE is_parsed AND username IS NOT NULL),
aug AS (
  SELECT username FROM u
  UNION
  SELECT username || substr(username, length(username), 1) FROM u),
k AS (SELECT username AS kk, substr(username, 1, 1) AS blk,
             length(username) AS ln
      FROM aug)
SELECT a.kk AS key_a, b.kk AS key_b,
       CAST(levenshtein(a.kk, b.kk) AS BIGINT) AS distance
FROM k a JOIN k b
  ON a.blk = b.blk AND a.kk < b.kk AND abs(a.ln - b.ln) <= 2
WHERE levenshtein(a.kk, b.kk) <= 2
ORDER BY key_a, key_b"""
    d["docs_token_pmi"] = r"""
WITH w AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
uni AS (SELECT unnest(ws) AS w FROM w),
u AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
tu AS (SELECT sum(c) AS t_uni FROM u),
b0 AS (
  SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
  FROM w WHERE len(ws) >= 2),
bc AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS pair, count(*) AS c_ab
  FROM b0 GROUP BY pair),
nb AS (SELECT sum(c_ab) AS n_big FROM bc),
f AS (
  SELECT pair, c_ab, string_split(pair, ' ')[1] AS w_a,
         string_split(pair, ' ')[2] AS w_b
  FROM bc WHERE c_ab >= 5),
j AS (
  SELECT f.pair, f.c_ab, ua.c AS c_a, ub.c AS c_b, tu.t_uni, nb.n_big
  FROM f JOIN u ua ON ua.w = f.w_a JOIN u ub ON ub.w = f.w_b
  CROSS JOIN tu CROSS JOIN nb)
SELECT pair, CAST(c_ab AS BIGINT) AS n_pair, CAST(c_a AS BIGINT) AS n_left,
       CAST(c_b AS BIGINT) AS n_right,
       floor(ln((CAST(c_ab AS DOUBLE) * t_uni * t_uni)
                / (CAST(c_a AS DOUBLE) * c_b * n_big)) * 1000000 + 0.5)
         / 1000000.0 AS pmi
FROM j ORDER BY pmi DESC, pair ASC LIMIT 30"""
    d["docs_tokenizer_fertility"] = r"""
WITH t AS (
  SELECT source,
         len(regexp_extract_all(trim(lower(text)), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
           AS nt,
         len(string_split_regex(trim(lower(text)), '\s+')) AS nw,
         length(trim(text)) AS nc
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       floor(CAST(sum(nt) AS DOUBLE) / sum(nw) * 1000000 + 0.5) / 1000000.0
         AS tokens_per_word,
       floor(CAST(sum(nc) AS DOUBLE) / sum(nt) * 1000000 + 0.5) / 1000000.0
         AS chars_per_token
FROM t GROUP BY source ORDER BY source"""
    d["log_benford_durations"] = f"""{_PARSE_CTE},
v AS (SELECT duration_ms AS v FROM parsed
      WHERE is_parsed AND duration_ms >= 1),
dg AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
              count(*) AS n
       FROM v GROUP BY digit),
t AS (SELECT sum(n) AS n_total FROM dg)
SELECT digit, CAST(n AS BIGINT) AS n,
  floor(CAST(n AS DOUBLE) / n_total * 1000000 + 0.5) / 1000000.0 AS obs_share,
  floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000.0
    AS benford_share,
  floor(n_total * (CAST(n AS DOUBLE) / n_total - log10(1.0 + 1.0 / digit))
        * (CAST(n AS DOUBLE) / n_total - log10(1.0 + 1.0 / digit))
        / log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000.0 AS chi2_term
FROM dg CROSS JOIN t ORDER BY digit"""
    d["log_slo_burn"] = f"""{_PARSE_CTE},
b AS (
  SELECT epoch_us(ts) // 300000000 AS win,
         CASE WHEN duration_ms > 1000 THEN 1 ELSE 0 END AS bad
  FROM parsed
  WHERE is_parsed AND req_dir = 'o' AND duration_ms IS NOT NULL),
a AS (SELECT win, count(*) AS n_requests, sum(bad) AS n_bad
      FROM b GROUP BY win)
SELECT CAST(win AS BIGINT) AS win, CAST(n_requests AS BIGINT) AS n_requests,
       CAST(n_bad AS BIGINT) AS n_bad,
       floor(CAST(n_bad AS DOUBLE) / n_requests * 1000000 + 0.5) / 1000000.0
         AS bad_frac,
       floor(CAST(n_bad AS DOUBLE) / n_requests / (1.0 - 0.99)
             * 1000000 + 0.5) / 1000000.0 AS burn_rate,
       CAST(n_bad AS DOUBLE) / n_requests / (1.0 - 0.99) > 1.0 AS breach
FROM a ORDER BY win"""
    d["events_key_skew"] = """
WITH ks AS (
  SELECT 'event_type' AS key_col, CAST(event_type AS VARCHAR) AS k
  FROM events
  UNION ALL
  SELECT 'user_id' AS key_col, CAST(user_id AS VARCHAR) AS k FROM events),
c AS (SELECT key_col, k, count(*) AS c FROM ks GROUP BY key_col, k),
r AS (
  SELECT key_col, c,
         row_number() OVER (PARTITION BY key_col ORDER BY c ASC, k ASC) AS i,
         row_number() OVER (PARTITION BY key_col ORDER BY c DESC, k ASC)
           AS r_desc
  FROM c),
a AS (
  SELECT key_col, count(*) AS n_keys, sum(c) AS n_rows, max(c) AS max_count,
         sum(i * c) AS si,
         sum(CASE WHEN r_desc <= 10 THEN c ELSE 0 END) AS top10
  FROM r GROUP BY key_col)
SELECT key_col, CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(max_count AS BIGINT) AS max_count,
       floor(CAST(max_count AS DOUBLE) / n_rows * 1000000 + 0.5) / 1000000.0
         AS max_share,
       floor(CAST(top10 AS DOUBLE) / n_rows * 1000000 + 0.5) / 1000000.0
         AS top10_share,
       floor(CAST(2 * si - (n_keys + 1) * n_rows AS DOUBLE)
             / (CAST(n_keys AS DOUBLE) * n_rows) * 1000000 + 0.5) / 1000000.0
         AS gini
FROM a ORDER BY key_col"""
    bpe_round = r"""
t{T} AS (
  SELECT word, n,
         string_split(substr(sym, 2, length(sym) - 2), chr(31) || chr(31))
           AS toks
  FROM w{P}),
i{T} AS (
  SELECT n, toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM t{T} WHERE len(toks) >= 2),
p{T} AS (
  SELECT toks[i] || ' ' || toks[i + 1] AS pair, sum(n) AS cnt
  FROM i{T} GROUP BY pair),
m{T} AS (
  SELECT {T} AS step, string_split(pair, ' ')[1] AS lft,
         string_split(pair, ' ')[2] AS rgt, cnt
  FROM p{T} ORDER BY cnt DESC, pair ASC LIMIT 1),
w{T} AS (
  SELECT w.word, w.n,
         replace(w.sym,
                 chr(31) || m.lft || chr(31) || chr(31) || m.rgt || chr(31),
                 chr(31) || m.lft || m.rgt || chr(31)) AS sym
  FROM w{P} w CROSS JOIN m{T} m)"""
    d["docs_bpe_merges"] = (
        r"""
WITH wc AS (
  SELECT word, count(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
    FROM documents) GROUP BY word),
w0 AS (
  SELECT word, n,
         chr(31) || array_to_string(string_split(word, ''),
                                    chr(31) || chr(31)) || chr(31) AS sym
  FROM wc),"""
        + ",".join(bpe_round.format(T=t, P=t - 1) for t in (1, 2, 3, 4))
        + """
SELECT CAST(step AS INTEGER) AS step, lft AS "left", rgt AS "right",
       lft || rgt AS merged, CAST(cnt AS BIGINT) AS pair_count
FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
      UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4)
ORDER BY step"""
    )
    d["docs_source_temperature"] = """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
s AS (SELECT source, n,
             CAST(floor(sqrt(n) * 1000000 + 0.5) AS BIGINT) AS s
      FROM c),
t AS (SELECT sum(n) AS n_tot, sum(s) AS s_tot FROM s)
SELECT source, CAST(n AS BIGINT) AS n_docs,
       floor(CAST(n AS DOUBLE) / n_tot * 1000000 + 0.5) / 1000000.0
         AS raw_share,
       floor(CAST(s AS DOUBLE) / s_tot * 1000000 + 0.5) / 1000000.0
         AS temp_weight,
       floor((CAST(s AS DOUBLE) * n_tot) / (CAST(s_tot AS DOUBLE) * n)
             * 1000000 + 0.5) / 1000000.0 AS upsample_factor
FROM s CROSS JOIN t ORDER BY source"""
    kc_round = """
e{T} AS (SELECT b.src, b.dst FROM adj b
         JOIN a{P} x ON x.node = b.src JOIN a{P} y ON y.node = b.dst),
d{T} AS (SELECT src AS node, count(*) AS dg FROM e{T} GROUP BY src),
a{T} AS (SELECT node FROM d{T} WHERE dg >= 2)"""
    d["log_repo_kcore"] = (
        graph_cte
        + """,
a0 AS (SELECT node FROM deg WHERE deg >= 2),"""
        + ",".join(kc_round.format(T=t, P=t - 1) for t in (1, 2, 3, 4))
        + """,
ce AS (SELECT b.src, b.dst FROM adj b
       JOIN a4 x ON x.node = b.src JOIN a4 y ON y.node = b.dst),
cd AS (SELECT src AS node, count(*) AS dg FROM ce GROUP BY src)
SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
       CAST(coalesce(cd.dg, 0) AS BIGINT) AS core_degree,
       coalesce(cd.dg, 0) >= 2 AS in_core
FROM deg d LEFT JOIN cd ON cd.node = d.node
ORDER BY core_degree DESC, d.node ASC"""
    )
    d["docs_vocab_coverage"] = r"""
WITH u AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents),
c AS (SELECT w, count(*) AS c FROM u GROUP BY w),
r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r FROM c),
a AS (
  SELECT sum(c) AS tot, count(*) AS n,
         sum(CASE WHEN r <= 100 THEN c ELSE 0 END) AS cov100,
         sum(CASE WHEN r <= 1000 THEN c ELSE 0 END) AS cov1000,
         sum(CASE WHEN r <= 10000 THEN c ELSE 0 END) AS cov10000
  FROM r),
k AS (SELECT unnest([100, 1000, 10000]) AS k)
SELECT CAST(k AS BIGINT) AS k,
       CAST(least(k, n) AS BIGINT) AS vocab_size,
       CAST(CASE k WHEN 100 THEN cov100 WHEN 1000 THEN cov1000
                   ELSE cov10000 END AS BIGINT) AS covered_tokens,
       floor(CAST(CASE k WHEN 100 THEN cov100 WHEN 1000 THEN cov1000
                         ELSE cov10000 END AS DOUBLE) / tot
             * 1000000 + 0.5) / 1000000.0 AS coverage_frac
FROM k CROSS JOIN a ORDER BY k"""
    d["docs_oov_rate"] = r"""
WITH sp AS (
  SELECT text, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' AS is_train
  FROM documents),
tr AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM sp WHERE is_train),
tc AS (SELECT w, count(*) AS c FROM tr GROUP BY w),
v AS (SELECT w FROM tc ORDER BY c DESC, w ASC LIMIT 1000),
vs AS (SELECT count(*) AS vocab_size FROM v),
te AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM sp WHERE NOT is_train),
a AS (
  SELECT count(*) AS n_test_tokens,
         sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM te LEFT JOIN v ON v.w = te.w)
SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(n_test_tokens AS BIGINT) AS n_test_tokens,
       CAST(n_oov AS BIGINT) AS n_oov,
       floor(CAST(n_oov AS DOUBLE) / n_test_tokens * 1000000 + 0.5)
         / 1000000.0 AS oov_rate
FROM a CROSS JOIN vs"""
    d["log_identity_clusters"] = f"""WITH RECURSIVE
_r AS (
  SELECT doc_id, source,
         string_split(regexp_replace(line, ' \\|$', ''), ' | ') AS p
  FROM read_parquet('{CORPUS}')
), _p1 AS (
  SELECT nullif(p[4], '-') AS username, len(p) AS nf,
         try_strptime(replace(p[5], ',', '.'), '%Y-%m-%d %H:%M:%S.%g') AS ts,
         try_cast(nullif(regexp_extract(p[3], '{_RID}', 3), '') AS BIGINT)
           AS req_counter
  FROM _r
), u AS (
  SELECT DISTINCT username FROM _p1
  WHERE nf = 10 AND ts IS NOT NULL AND req_counter IS NOT NULL
        AND username IS NOT NULL
), aug AS (
  SELECT username FROM u
  UNION
  SELECT username || substr(username, length(username), 1) FROM u
), k AS (
  SELECT username AS kk, substr(username, 1, 1) AS blk,
         length(username) AS ln
  FROM aug
), pr AS MATERIALIZED (
  SELECT a.kk AS key_a, b.kk AS key_b
  FROM k a JOIN k b
    ON a.blk = b.blk AND a.kk < b.kk AND abs(a.ln - b.ln) <= 2
  WHERE levenshtein(a.kk, b.kk) <= 2
), und AS MATERIALIZED (
  SELECT key_a AS a, key_b AS b FROM pr
  UNION ALL SELECT key_b, key_a FROM pr
), reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u2.b FROM reach r JOIN und u2 ON r.b = u2.a
), cl AS (
  SELECT a AS u, least(a, min(b)) AS canon FROM reach GROUP BY a
), res AS (
  SELECT aug.username, coalesce(cl.canon, aug.username) AS canonical
  FROM aug LEFT JOIN cl ON cl.u = aug.username)
SELECT username, canonical,
       CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT) AS cluster_size
FROM res ORDER BY canonical, username"""
    d["events_stream_hll"] = d["events_hll_users"]
    d["docs_bpe_compression"] = (
        r"""
WITH wc AS (
  SELECT word, count(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
    FROM documents) GROUP BY word),
w0 AS (
  SELECT word, n,
         chr(31) || array_to_string(string_split(word, ''),
                                    chr(31) || chr(31)) || chr(31) AS sym
  FROM wc),"""
        + ",".join(bpe_round.format(T=t, P=t - 1) for t in (1, 2, 3, 4))
        + r""",
sw AS (
  SELECT source, word, count(*) AS n FROM (
    SELECT source,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
    FROM documents) GROUP BY source, word),
jj AS (
  SELECT sw.source, sw.n, length(sw.word) AS chars,
         len(string_split(substr(w4.sym, 2, length(w4.sym) - 2),
                          chr(31) || chr(31))) AS after
  FROM sw JOIN w4 ON w4.word = sw.word),
a AS (
  SELECT source, sum(n) AS n_words, sum(n * chars) AS n_chars,
         sum(n * after) AS n_tokens
  FROM jj GROUP BY source)
SELECT source, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       floor(CAST(n_chars AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000.0
         AS chars_per_token,
       floor(CAST(n_tokens AS DOUBLE) / n_words * 1000000 + 0.5) / 1000000.0
         AS tokens_per_word
FROM a ORDER BY source"""
    )
    d["log_k_anonymity"] = f"""{_PARSE_CTE},
b AS (SELECT protocol, repo_slug, username FROM parsed
      WHERE is_parsed AND repo_slug IS NOT NULL),
c AS (SELECT protocol, repo_slug, count(*) AS n_rows,
             count(DISTINCT username) AS l_div
      FROM b GROUP BY protocol, repo_slug)
SELECT CAST(5 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n_rows < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_classes,
       CAST(sum(CASE WHEN n_rows < 5 THEN n_rows ELSE 0 END) AS BIGINT)
         AS n_risky_rows,
       floor(CAST(sum(CASE WHEN n_rows < 5 THEN n_rows ELSE 0 END) AS DOUBLE)
             / sum(n_rows) * 1000000 + 0.5) / 1000000.0 AS risky_row_share,
       CAST(min(l_div) AS BIGINT) AS min_l_diversity
FROM c"""
    d["events_cum_users"] = """
WITH f AS (
  SELECT user_id, min(epoch_us(ts) // 86400000000) AS first_day
  FROM events GROUP BY user_id),
p AS (SELECT first_day AS day, count(*) AS n_new
      FROM f GROUP BY first_day)
SELECT CAST(day AS BIGINT) AS day, CAST(n_new AS BIGINT) AS n_new_users,
       CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_cum_users
FROM p ORDER BY day"""
    d["events_scd2"] = """
WITH m AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type
         THEN 1 ELSE 0 END AS _new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT *, sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
  FROM m),
i AS (
  SELECT user_id, run, min(event_type) AS state, min(ts) AS valid_from,
         count(*) AS n_events
  FROM r GROUP BY user_id, run)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       CAST(n_events AS BIGINT) AS n_events
FROM i WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
ORDER BY user_id, valid_from"""
    d["docs_cdc_apply"] = """
WITH ch AS (
  SELECT doc_id, text || ' v2' AS text, lang, source, n_chars,
         'U' AS op, 1 AS seq
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, text, lang, source, n_chars, 'D', 2
  FROM documents WHERE doc_id % 11 = 0),
allr AS (
  SELECT doc_id, text, lang, source, n_chars, 'I' AS op, 0 AS seq
  FROM documents
  UNION ALL SELECT * FROM ch),
lst AS (
  SELECT * FROM allr
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) = 1)
SELECT doc_id, md5(text) AS text_md5, lang, source
FROM lst WHERE op <> 'D' ORDER BY doc_id"""
    d["tpch_dq_expectations"] = """
WITH li AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_key,
         sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
                  THEN 1 ELSE 0 END) AS qty_range,
         sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS price_pos,
         sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                  THEN 1 ELSE 0 END) AS flag_domain
  FROM lineitem),
orph AS (
  SELECT count(*) AS orph
  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey IS NULL),
od AS (
  SELECT count(*) AS no,
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS total_pos
  FROM orders),
ck AS (
  SELECT 'lineitem_orderkey_not_null' AS c, n AS n_checked,
         null_key AS n_failed FROM li
  UNION ALL SELECT 'lineitem_quantity_1_50', n, qty_range FROM li
  UNION ALL SELECT 'lineitem_price_positive', n, price_pos FROM li
  UNION ALL SELECT 'lineitem_returnflag_domain', n, flag_domain FROM li
  UNION ALL SELECT 'lineitem_fk_orders', n, (SELECT orph FROM orph) FROM li
  UNION ALL SELECT 'orders_totalprice_positive', no, total_pos FROM od)
SELECT c AS "check", CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_failed AS BIGINT) AS n_failed, n_failed = 0 AS passed
FROM ck ORDER BY "check" """
    d["log_apdex"] = f"""{_PARSE_CTE},
b AS (SELECT epoch_us(ts) // 3600000000 AS hr, duration_ms FROM parsed
      WHERE is_parsed AND req_dir = 'o' AND duration_ms IS NOT NULL),
a AS (SELECT hr, count(*) AS n,
             sum(CASE WHEN duration_ms <= 500 THEN 1 ELSE 0 END) AS sat,
             sum(CASE WHEN duration_ms > 500 AND duration_ms <= 2000
                      THEN 1 ELSE 0 END) AS tol
      FROM b GROUP BY hr)
SELECT CAST(hr AS BIGINT) AS hr, CAST(n AS BIGINT) AS n_requests,
       CAST(sat AS BIGINT) AS n_satisfied, CAST(tol AS BIGINT) AS n_tolerating,
       floor(CAST(2 * sat + tol AS DOUBLE) / (2 * n) * 1000000 + 0.5)
         / 1000000.0 AS apdex
FROM a ORDER BY hr"""
    d["events_ab_lift"] = """
WITH pu AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) % 2
           AS converted
  FROM events GROUP BY user_id, arm),
a AS (
  SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS c_a,
         sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS c_b
  FROM pu)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
       CASE WHEN n_a > 0 THEN
         floor(CAST(c_a AS DOUBLE) / n_a * 1000000 + 0.5) / 1000000.0
       END AS rate_a,
       CASE WHEN n_b > 0 THEN
         floor(CAST(c_b AS DOUBLE) / n_b * 1000000 + 0.5) / 1000000.0
       END AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND c_a > 0 THEN
         floor((CAST(c_b AS DOUBLE) / n_b) / (CAST(c_a AS DOUBLE) / n_a)
               * 1000000 + 0.5) / 1000000.0 END AS rel_lift,
       CASE WHEN n_a > 0 AND n_b > 0 AND c_a + c_b > 0
                 AND c_a + c_b < n_a + n_b THEN
         floor(((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
                / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b)) + 10.0) * 1000000 + 0.5)
           / 1000000.0 END AS z_plus_10
FROM a"""
    d["events_seasonality_strength"] = """
WITH hc AS (
  SELECT event_type AS k, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY k, h),
span AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
spine AS (
  SELECT k, unnest(generate_series(h0, h1)) AS h
  FROM (SELECT DISTINCT k FROM hc) CROSS JOIN span),
dense AS (
  SELECT spine.k, spine.h, coalesce(hc.c, 0) AS c
  FROM spine LEFT JOIN hc ON hc.k = spine.k AND hc.h = spine.h),
hod AS (SELECT k, c, h % 24 AS hod FROM dense),
prof AS (SELECT k, hod, sum(c) AS s, count(*) AS m
         FROM hod GROUP BY k, hod),
tot AS (SELECT k, sum(c) AS st, count(*) AS n FROM hod GROUP BY k),
j AS (
  SELECT hod.k AS k, c,
         CAST(s AS DOUBLE) / m AS mu_hod,
         CAST(st AS DOUBLE) / n AS mu_all
  FROM hod JOIN prof ON prof.k = hod.k AND prof.hod = hod.hod
           JOIN tot ON tot.k = hod.k),
a AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_hours,
         sum((c - mu_all) * (c - mu_all)) AS sst,
         sum((c - mu_hod) * (c - mu_hod)) AS ssr
  FROM j GROUP BY k)
SELECT k AS event_type, n_hours,
  CASE WHEN sst > 0 THEN
    floor((1.0 - ssr / sst) * 1000000 + 0.5) / 1000000.0
  END AS seasonality_strength
FROM a ORDER BY event_type"""
    d["tpch_incremental_agg"] = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100
                      + 0.5)::BIGINT) AS BIGINT) AS revenue_cents,
       CAST(CASE WHEN sum(CASE WHEN l_orderkey % 10 <> 0 THEN 1 ELSE 0 END)
                      > 0 THEN 1 ELSE 0 END
          + CASE WHEN sum(CASE WHEN l_orderkey % 10 = 0 THEN 1 ELSE 0 END)
                      > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_partials
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""
    d["events_markov_entropy"] = """
WITH p AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS c
      FROM p WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type),
cc AS (
  SELECT prev_type, c,
         sum(c) OVER (PARTITION BY prev_type) AS ct,
         sum(c) OVER () AS n
  FROM c),
a AS (
  SELECT CAST(max(n) AS BIGINT) AS n_transitions,
         CAST(count(DISTINCT prev_type) AS BIGINT) AS n_states,
         -sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / ct)
              / ln(2.0)) AS h
  FROM cc)
SELECT n_transitions, n_states,
  floor(h * 1000000 + 0.5) / 1000000.0 AS entropy_rate_bits,
  CASE WHEN n_states > 1 THEN
    floor(h / (ln(CAST(n_states AS DOUBLE)) / ln(2.0)) * 1000000 + 0.5)
      / 1000000.0 END AS normalized_entropy
FROM a"""
    d["docs_quality_auc"] = r"""
WITH t AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS ws,
         md5(text) AS h
  FROM documents),
l AS (
  SELECT source,
         CAST(floor(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                    * 10000 + 0.5) AS BIGINT) AS s,
         CASE WHEN count(*) OVER (PARTITION BY h) > 1 THEN 1 ELSE 0 END AS y
  FROM t),
cen AS (SELECT source, s, sum(y) AS cp, count(*) AS c
        FROM l GROUP BY source, s),
r AS (SELECT source, cp, c,
        2 * coalesce(sum(c) OVER (PARTITION BY source ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1 AS r2
      FROM cen),
a AS (SELECT source, CAST(sum(cp) AS BIGINT) AS n_pos,
        CAST(sum(c) - sum(cp) AS BIGINT) AS n_neg,
        CAST(sum(cp * r2) AS BIGINT) AS sr2p
      FROM r GROUP BY source)
SELECT source, n_pos, n_neg,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    floor(CAST(sr2p - n_pos * (n_pos + 1) AS DOUBLE)
          / (2 * n_pos * n_neg) * 1000000 + 0.5) / 1000000.0
  END AS auc
FROM a ORDER BY source"""
    d["docs_hill_tail"] = """
WITH cen AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE n_chars > 0 GROUP BY source, n_chars),
cc AS (
  SELECT source, v, c,
    coalesce(sum(c) OVER (PARTITION BY source ORDER BY v DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
    sum(c) OVER (PARTITION BY source) AS n
  FROM cen),
kk AS (
  SELECT *, least(greatest(5, CAST(floor(n * 0.1) AS BIGINT)), n - 1) AS k
  FROM cc),
a AS (
  SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
    CAST(max(k) AS BIGINT) AS k,
    sum(CAST(greatest(0, least(c, k - cb)) AS DOUBLE) * ln(v)) AS s_ln,
    CAST(max(CASE WHEN cb <= k AND cb + c >= k + 1 THEN v END) AS BIGINT)
      AS x_k1
  FROM kk GROUP BY source)
SELECT source, n_docs, k, x_k1,
  CASE WHEN k >= 1 AND s_ln - k * ln(x_k1) > 0 THEN
    floor(CAST(k AS DOUBLE) / (s_ln - k * ln(x_k1)) * 1000000 + 0.5)
      / 1000000.0
  END AS hill_alpha
FROM a ORDER BY source"""
    d["events_fdr_bh"] = """
WITH u AS (
  SELECT DISTINCT user_id,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS ia
  FROM events),
nn AS (SELECT CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       FROM u),
put AS (SELECT event_type, user_id, count(*) % 2 AS conv
        FROM events GROUP BY event_type, user_id),
k AS (SELECT event_type,
        CAST(sum(CASE WHEN u.ia THEN conv ELSE 0 END) AS BIGINT) AS k_a,
        CAST(sum(CASE WHEN u.ia THEN 0 ELSE conv END) AS BIGINT) AS k_b
      FROM put JOIN u USING (user_id) GROUP BY event_type),
zt AS (
  SELECT event_type, n_a, k_a, n_b, k_b,
    n_a > 0 AND n_b > 0 AND k_a + k_b > 0 AND k_a + k_b < n_a + n_b AS ok,
    CASE WHEN n_a > 0 AND n_b > 0 AND k_a + k_b > 0
              AND k_a + k_b < n_a + n_b THEN
      (CAST(k_b AS DOUBLE) / n_b - CAST(k_a AS DOUBLE) / n_a)
      / sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
             * (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
             * (1.0 / n_a + 1.0 / n_b))
    ELSE 0.0 END AS z
  FROM k CROSS JOIN nn),
et AS (
  SELECT *, 1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)) AS t
  FROM zt),
pt AS (
  SELECT event_type, n_a, k_a, n_b, k_b, z,
    CASE WHEN ok THEN
      (((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
         - 0.284496736) * t + 0.254829592) * t)
      * exp(-((abs(z) / 1.4142135623730951)
              * (abs(z) / 1.4142135623730951)))
    ELSE 1.0 END AS p
  FROM et),
b AS (SELECT *, row_number() OVER (ORDER BY p, event_type) AS i,
             count(*) OVER () AS m
      FROM pt),
f AS (SELECT *, least(1.0, min(p * m / i) OVER (ORDER BY i
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS padj
      FROM b)
SELECT event_type, n_a, k_a, n_b, k_b,
  floor(z * 1000000 + 0.5) / 1000000.0 AS z,
  floor(p * 1000000 + 0.5) / 1000000.0 AS p_raw,
  floor(padj * 1000000 + 0.5) / 1000000.0 AS p_bh,
  padj <= 0.1 AS rejected
FROM f ORDER BY event_type"""
    d["events_conversion_lag"] = """
WITH pu AS (
  SELECT user_id AS u,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS ff,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS ft
  FROM events GROUP BY u),
l AS (SELECT u, ft - ff AS lag_us FROM pu
      WHERE ff IS NOT NULL AND ft IS NOT NULL AND ft >= ff),
r AS (SELECT u, lag_us, row_number() OVER (ORDER BY lag_us, u) AS r,
             count(*) OVER () AS n
      FROM l)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(min(lag_us) AS BIGINT) AS min_lag_us,
       CAST(max(lag_us) AS BIGINT) AS max_lag_us,
       floor(CAST(sum(lag_us) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000.0 AS mean_lag_us,
       CAST(sum(CASE WHEN r = (n + 1) // 2 THEN lag_us ELSE 0 END)
            + sum(CASE WHEN r = (n + 2) // 2 THEN lag_us ELSE 0 END)
            AS DOUBLE) / 2.0 AS median_lag_us
FROM r"""
    mmr_round = """
r{T} AS (
  SELECT c.query_id, c.vec_id, c.cosine, max(cc.sim) AS pen
  FROM cands c JOIN cc ON cc.query_id = c.query_id AND cc.xa = c.vec_id
  JOIN sel{P} s ON s.query_id = cc.query_id AND s.vec_id = cc.xb
  WHERE NOT EXISTS (SELECT 1 FROM sel{P} z
                    WHERE z.query_id = c.query_id AND z.vec_id = c.vec_id)
  GROUP BY c.query_id, c.vec_id, c.cosine),
s{T} AS (
  SELECT query_id, vec_id, {T} AS step,
         floor((0.7 * cosine - (1.0 - 0.7) * pen) * 1000000 + 0.5)
           / 1000000.0 AS score
  FROM r{T}
  QUALIFY row_number() OVER (
    PARTITION BY query_id
    ORDER BY floor((0.7 * cosine - (1.0 - 0.7) * pen) * 1000000 + 0.5)
               / 1000000.0 DESC, vec_id ASC) = 1),
sel{T} AS (SELECT * FROM sel{P} UNION ALL SELECT query_id, vec_id FROM s{T})"""
    d["emb_mmr_topk"] = (
        """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings ORDER BY vec_id LIMIT 3),
sc AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
           AS cosine
  FROM embeddings e CROSS JOIN q),
cands AS (
  SELECT query_id, vec_id, cosine FROM sc
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id ASC) <= 8),
cc AS (
  SELECT a.query_id, a.vec_id AS xa, b.vec_id AS xb,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS sim
  FROM cands a JOIN cands b
    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id),
s1 AS (
  SELECT query_id, vec_id, 1 AS step,
         floor(0.7 * cosine * 1000000 + 0.5) / 1000000.0 AS score
  FROM cands
  QUALIFY row_number() OVER (
    PARTITION BY query_id
    ORDER BY floor(0.7 * cosine * 1000000 + 0.5) / 1000000.0 DESC,
             vec_id ASC) = 1),
sel1 AS (SELECT query_id, vec_id FROM s1),"""
        + ",".join(mmr_round.format(T=t, P=t - 1) for t in (2, 3, 4))
        + """
SELECT query_id, vec_id, CAST(step AS INTEGER) AS step, score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
ORDER BY query_id, step"""
    )
    d["docs_pair_edit"] = r"""
WITH s AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)),
p AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
            * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.2),
t AS (SELECT doc_id, substr(text, 1, 400) AS tt FROM documents)
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(ta.tt, tb.tt) AS BIGINT) AS edit_distance,
       floor(CAST(levenshtein(ta.tt, tb.tt) AS DOUBLE)
             / greatest(length(ta.tt), length(tb.tt), 1) * 1000000 + 0.5)
         / 1000000.0 AS edit_ratio
FROM p JOIN t ta ON ta.doc_id = p.doc_a JOIN t tb ON tb.doc_id = p.doc_b
ORDER BY doc_a, doc_b"""
    d["docs_bm25_topk"] = (
        "WITH " + _BM25_CTES + r"""
SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score, n_terms
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
ORDER BY query_id, rank"""
    )
    d["docs_retrieval_ndcg"] = (
        "WITH " + _BM25_CTES + r""",
ranked AS (
  SELECT query_id, doc_id, rank
  FROM (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id ASC) AS rank FROM scored)
  WHERE rank <= 5),
dw AS (SELECT DISTINCT doc_id, w FROM words),
ov AS (
  SELECT q.query_id, dw.doc_id,
         CAST(least(3, count(*)) AS INTEGER) AS rel
  FROM dw JOIN qterms q USING (w)
  WHERE dw.doc_id <> q.query_id
  GROUP BY q.query_id, dw.doc_id),
dcg AS (
  SELECT r.query_id,
         CAST(sum(CAST(floor((power(2.0, coalesce(ov.rel, 0)) - 1.0)
             / log2(r.rank + 1) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS dcg_micro
  FROM ranked r LEFT JOIN ov
    ON ov.query_id = r.query_id AND ov.doc_id = r.doc_id
  GROUP BY r.query_id),
lvl AS (
  SELECT query_id,
         CAST(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM ov GROUP BY query_id),
idcg AS (
  SELECT query_id,
         CAST(sum(CAST(floor((power(2.0, CASE
             WHEN p <= n3 THEN 3
             WHEN p <= n3 + n2 THEN 2
             WHEN p <= n3 + n2 + n1 THEN 1 ELSE 0 END) - 1.0)
           / log2(p + 1) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS idcg_micro
  FROM lvl CROSS JOIN generate_series(1, 5) t(p) GROUP BY query_id)
SELECT q.query_id,
       CAST(coalesce(d.dcg_micro, 0) AS DOUBLE) / 1000000.0 AS dcg,
       CAST(coalesce(i.idcg_micro, 0) AS DOUBLE) / 1000000.0 AS idcg,
       CASE WHEN coalesce(i.idcg_micro, 0) > 0
         THEN floor(CAST(coalesce(d.dcg_micro, 0) AS DOUBLE)
                    / CAST(i.idcg_micro AS DOUBLE) * 1000000 + 0.5)
              / 1000000.0
         ELSE 0.0 END AS ndcg
FROM qids q LEFT JOIN dcg d USING (query_id) LEFT JOIN idcg i USING (query_id)
ORDER BY query_id"""
    )
    d["emb_rrf_fusion"] = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings ORDER BY vec_id LIMIT 3),
f AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank_full
  FROM (SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                 AS cosine
        FROM embeddings e CROSS JOIN q)
  QUALIFY rank_full <= 10),
t AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank_trunc
  FROM (SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity((e.embedding::DOUBLE[])[1:16],
                                            (q.qv)[1:16]), 6) AS cosine
        FROM embeddings e CROSS JOIN q)
  QUALIFY rank_trunc <= 10),
fused AS (
  SELECT coalesce(f.query_id, t.query_id) AS query_id,
         coalesce(f.vec_id, t.vec_id) AS vec_id,
         CAST(f.rank_full AS INTEGER) AS rank_full,
         CAST(t.rank_trunc AS INTEGER) AS rank_trunc,
         floor((coalesce(1.0 / (60 + f.rank_full), 0.0)
                + coalesce(1.0 / (60 + t.rank_trunc), 0.0))
               * 1000000 + 0.5) / 1000000 AS rrf_score
  FROM f FULL OUTER JOIN t
    ON f.query_id = t.query_id AND f.vec_id = t.vec_id)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
       rank_full, rank_trunc, rrf_score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, vec_id ASC)
              AS rank
      FROM fused)
WHERE rank <= 5
ORDER BY query_id, rank"""
    lpa_round = """
l{T} AS (
  SELECT node, label FROM (
    SELECT a.src AS node, l.label, count(*) AS c,
           row_number() OVER (PARTITION BY a.src
                              ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM adj a JOIN l{P} l ON l.node = a.dst
    GROUP BY a.src, l.label)
  WHERE rn = 1)"""
    d["log_repo_lpa"] = (
        graph_cte
        + """,
l0 AS (SELECT node, node AS label FROM deg),"""
        + ",".join(lpa_round.format(T=t, P=t - 1) for t in (1, 2, 3))
        + """,
sz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
       FROM l3 GROUP BY label)
SELECT l3.node, l3.label, sz.community_size
FROM l3 JOIN sz USING (label) ORDER BY node"""
    )
    d["log_repo_assoc"] = f"""{_PARSE_CTE},
inc AS (
  SELECT username, repo_slug, count(*) AS n_ops FROM parsed
  WHERE is_parsed AND op_type IS NOT NULL AND repo_slug IS NOT NULL
    AND username IS NOT NULL
  GROUP BY username, repo_slug),
capped AS (
  SELECT username, repo_slug FROM (
    SELECT username, repo_slug,
           row_number() OVER (PARTITION BY username
                              ORDER BY n_ops DESC, repo_slug ASC) AS r
    FROM inc) WHERE r <= 20),
np AS (SELECT CAST(count(DISTINCT username) AS BIGINT) AS n_users
       FROM capped),
item AS (SELECT repo_slug, count(*) AS n_item FROM capped GROUP BY repo_slug),
pr AS (
  SELECT a.repo_slug AS repo_a, b.repo_slug AS repo_b, count(*) AS n_both
  FROM capped a JOIN capped b
    ON a.username = b.username AND a.repo_slug < b.repo_slug
  GROUP BY repo_a, repo_b HAVING count(*) >= 2),
rules AS (
  SELECT repo_a AS antecedent, repo_b AS consequent, n_both FROM pr
  UNION ALL
  SELECT repo_b AS antecedent, repo_a AS consequent, n_both FROM pr)
SELECT antecedent, consequent, CAST(n_both AS BIGINT) AS n_both,
       CAST(ia.n_item AS BIGINT) AS n_antecedent,
       CAST(ic.n_item AS BIGINT) AS n_consequent,
       floor(n_both / CAST(ia.n_item AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS confidence,
       floor((n_both * np.n_users) / CAST(ia.n_item * ic.n_item AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS lift
FROM rules JOIN item ia ON ia.repo_slug = rules.antecedent
           JOIN item ic ON ic.repo_slug = rules.consequent
           CROSS JOIN np
ORDER BY lift DESC, confidence DESC, antecedent ASC, consequent ASC
LIMIT 20"""
    d["tpch_bloom_prune"] = """
WITH dk AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
  WHERE c_mktsegment = 'BUILDING'),
pk AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders),
js AS (SELECT unnest([0, 1, 2, 3]) AS j),
bloom AS (
  SELECT DISTINCT j, substr(md5(k), 1 + 4 * j, 4) AS pos
  FROM dk CROSS JOIN js),
ps AS (SELECT k, j, substr(md5(k), 1 + 4 * j, 4) AS pos
       FROM pk CROSS JOIN js),
hits AS (
  SELECT ps.k FROM ps JOIN bloom ON ps.j = bloom.j AND ps.pos = bloom.pos
  GROUP BY ps.k HAVING count(*) = 4),
tp AS (SELECT pk.k FROM pk WHERE EXISTS
         (SELECT 1 FROM dk WHERE dk.k = pk.k)),
a AS (
  SELECT (SELECT count(*) FROM dk) AS n_dim_keys,
         (SELECT count(*) FROM pk) AS n_probe_keys,
         (SELECT count(*) FROM bloom) AS n_filter_entries,
         (SELECT count(*) FROM hits) AS n_pass,
         (SELECT count(*) FROM tp) AS n_true)
SELECT CAST(n_dim_keys AS BIGINT) AS n_dim_keys,
       CAST(n_probe_keys AS BIGINT) AS n_probe_keys,
       CAST(n_filter_entries AS BIGINT) AS n_filter_entries,
       CAST(n_pass AS BIGINT) AS n_pass,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pass - n_true AS BIGINT) AS n_false_pos,
       floor((n_pass - n_true)
             / CAST(greatest(n_probe_keys - n_true, 1) AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS fp_rate
FROM a"""
    d["log_theil_sen"] = f"""{_PARSE_CTE},
h AS (SELECT hour_str AS hour, count(*) AS n FROM parsed WHERE is_parsed
      GROUP BY hour_str),
xy AS (SELECT CAST(row_number() OVER (ORDER BY hour) - 1 AS BIGINT) AS x,
              CAST(n AS BIGINT) AS y
       FROM h),
sl AS (SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS v
       FROM xy a JOIN xy b ON a.x < b.x),
ms AS (SELECT sum(v) / count(*) AS slope
       FROM (SELECT v, row_number() OVER (ORDER BY v) AS r FROM sl) t
       CROSS JOIN (SELECT count(*) AS n FROM sl) c
       WHERE t.r = (c.n + 1) // 2 OR t.r = (c.n + 2) // 2),
rs AS (SELECT CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE) AS v
       FROM xy CROSS JOIN ms),
mi AS (SELECT sum(v) / count(*) AS intercept
       FROM (SELECT v, row_number() OVER (ORDER BY v) AS r FROM rs) t
       CROSS JOIN (SELECT count(*) AS n FROM rs) c
       WHERE t.r = (c.n + 1) // 2 OR t.r = (c.n + 2) // 2)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM xy) AS n_points,
       (SELECT CAST(count(*) AS BIGINT) FROM sl) AS n_pairs,
       floor(slope * 1000000 + 0.5) / 1000000.0 AS ts_slope,
       floor(intercept * 1000000 + 0.5) / 1000000.0 AS ts_intercept
FROM ms CROSS JOIN mi"""
    d["log_ewma_smooth"] = f"""{_PARSE_CTE},
h AS (SELECT hour_str AS hour, count(*) AS n FROM parsed WHERE is_parsed
      GROUP BY hour_str),
xy AS (SELECT CAST(row_number() OVER (ORDER BY hour) - 1 AS BIGINT) AS x,
              CAST(n AS BIGINT) AS y
       FROM h)
SELECT b.x AS x,
       CAST(max(CASE WHEN a.x = b.x THEN a.y END) AS BIGINT) AS y,
       floor(sum(a.y * power(0.5, b.x - a.x))
             / sum(power(0.5, b.x - a.x)) * 1000000 + 0.5)
         / 1000000.0 AS ewma
FROM xy a JOIN xy b ON a.x <= b.x AND a.x > b.x - 20
GROUP BY b.x
ORDER BY x"""
    d["tpch_zonemap_prune"] = """
WITH base AS (
  SELECT CAST(datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
              AS BIGINT) AS d,
         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 4))
              AS BIGINT) AS h4
  FROM lineitem),
span AS (SELECT min(d) AS d_min, max(d) AS d_max FROM base),
sh AS (
  SELECT d,
         CAST(floor((d - d_min) * 32 / (d_max - d_min + 1)) AS BIGINT)
           AS shard_range,
         h4 % 32 AS shard_hash,
         d_min + CAST(floor((d_max - d_min + 1) * 40 / 100) AS BIGINT) AS lo
  FROM base CROSS JOIN span),
sh2 AS (SELECT *, lo + 29 AS hi,
               CASE WHEN d >= lo AND d <= lo + 29 THEN 1 ELSE 0 END AS m
        FROM sh),
zr AS (SELECT shard_range AS shard, min(d) AS zmin, max(d) AS zmax,
              count(*) AS nrows, sum(m) AS nmatch,
              min(lo) AS lo, min(hi) AS hi
       FROM sh2 GROUP BY shard_range),
zh AS (SELECT shard_hash AS shard, min(d) AS zmin, max(d) AS zmax,
              count(*) AS nrows, sum(m) AS nmatch,
              min(lo) AS lo, min(hi) AS hi
       FROM sh2 GROUP BY shard_hash),
a AS (
  SELECT 'hash' AS layout, count(*) AS n_shards,
         sum(CASE WHEN zmax >= lo AND zmin <= hi THEN 1 ELSE 0 END)
           AS shards_scanned,
         sum(CASE WHEN zmax >= lo AND zmin <= hi THEN nrows ELSE 0 END)
           AS rows_scanned,
         sum(nmatch) AS rows_matched
  FROM zh
  UNION ALL
  SELECT 'range', count(*),
         sum(CASE WHEN zmax >= lo AND zmin <= hi THEN 1 ELSE 0 END),
         sum(CASE WHEN zmax >= lo AND zmin <= hi THEN nrows ELSE 0 END),
         sum(nmatch)
  FROM zr)
SELECT layout, CAST(n_shards AS BIGINT) AS n_shards,
       CAST(shards_scanned AS BIGINT) AS shards_scanned,
       CAST(rows_scanned AS BIGINT) AS rows_scanned,
       CAST(rows_matched AS BIGINT) AS rows_matched,
       floor(rows_matched / CAST(rows_scanned AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS scan_efficiency
FROM a ORDER BY layout"""
    d["log_repo_jaccard"] = f"""{_PARSE_CTE},
inc AS (
  SELECT username, repo_slug, count(*) AS n_ops FROM parsed
  WHERE is_parsed AND op_type IS NOT NULL AND repo_slug IS NOT NULL
    AND username IS NOT NULL
  GROUP BY username, repo_slug),
capped AS (
  SELECT username, repo_slug FROM (
    SELECT username, repo_slug,
           row_number() OVER (PARTITION BY username
                              ORDER BY n_ops DESC, repo_slug ASC) AS r
    FROM inc) WHERE r <= 20),
deg AS (SELECT repo_slug, count(*) AS deg FROM capped GROUP BY repo_slug),
p AS (
  SELECT a.repo_slug AS repo_a, b.repo_slug AS repo_b,
         count(*) AS n_users
  FROM capped a JOIN capped b
    ON a.username = b.username AND a.repo_slug < b.repo_slug
  GROUP BY repo_a, repo_b)
SELECT repo_a, repo_b, CAST(n_users AS BIGINT) AS n_users,
       CAST(da.deg + db.deg - n_users AS BIGINT) AS n_union,
       floor(n_users / CAST(da.deg + db.deg - n_users AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS jaccard
FROM p JOIN deg da ON da.repo_slug = p.repo_a
       JOIN deg db ON db.repo_slug = p.repo_b
ORDER BY jaccard DESC, n_users DESC, repo_a ASC, repo_b ASC
LIMIT 20"""
    d["docs_readability"] = """
WITH per AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS w,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                  1) AS s,
         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
           AS y
  FROM documents),
a AS (SELECT source, count(*) AS n_docs, sum(w) AS tot_words,
             sum(s) AS tot_sentences, sum(y) AS tot_syllables
      FROM per GROUP BY source)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(tot_words AS BIGINT) AS tot_words,
       CAST(tot_sentences AS BIGINT) AS tot_sentences,
       CAST(tot_syllables AS BIGINT) AS tot_syllables,
       floor((206.835
              - 1.015 * (tot_words / CAST(tot_sentences AS DOUBLE))
              - 84.6 * (tot_syllables / CAST(tot_words AS DOUBLE)))
             * 1000000 + 0.5) / 1000000.0 AS flesch,
       floor(tot_words / CAST(tot_sentences AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS words_per_sentence,
       floor(tot_syllables / CAST(tot_words AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS syllables_per_word
FROM a ORDER BY source"""
    d["events_decay_engagement"] = """
WITH anchor AS (SELECT max(ts) AS t_max FROM events),
aged AS (
  SELECT user_id,
         CAST(datediff('day', CAST(ts AS DATE), CAST(t_max AS DATE))
              AS BIGINT) AS age
  FROM events CROSS JOIN anchor)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(age) AS BIGINT) AS days_since_last,
       floor(sum(power(0.5, age)) * 1000000 + 0.5) / 1000000.0 AS score
FROM aged GROUP BY user_id
ORDER BY score DESC, n_events DESC, user_id ASC
LIMIT 20"""
    d["emb_nprobe_sweep"] = """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), acos AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, c.cid,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS cos
  FROM embeddings e CROSS JOIN cents c
), cells AS (
  SELECT vec_id, vec, cid AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM acos) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings ORDER BY vec_id LIMIT 3
), qcos AS (
  SELECT q.query_id, q.qvec, c.cid AS cell,
         list_cosine_similarity(q.qvec, c.cvec) AS cos
  FROM q CROSS JOIN cents c
), qrank AS (
  SELECT query_id, qvec, cell, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, cell ASC) AS rn
  FROM qcos
), np AS (SELECT unnest([1, 2, 4]) AS nprobe),
qprobe AS (
  SELECT np.nprobe, qrank.query_id, qrank.qvec, qrank.cell
  FROM qrank CROSS JOIN np WHERE qrank.rn <= np.nprobe
), scored AS (
  SELECT nprobe, p.query_id, m.vec_id,
         round(list_cosine_similarity(m.vec, p.qvec), 6) AS cosine
  FROM qprobe p JOIN cells m ON m.cell = p.cell
), approx AS (
  SELECT nprobe, query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY nprobe, query_id
      ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored) WHERE rank <= 5
), allcos AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 6)
           AS cosine
  FROM embeddings e CROSS JOIN q
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM allcos) WHERE rank <= 5
), hits AS (
  SELECT a.nprobe, count(*) AS n_hits
  FROM approx a JOIN exact x
    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY a.nprobe
), cost AS (SELECT nprobe, count(*) AS n_candidates
            FROM scored GROUP BY nprobe)
SELECT CAST(cost.nprobe AS INTEGER) AS nprobe,
       CAST(3 AS BIGINT) AS n_queries,
       CAST(cost.n_candidates AS BIGINT) AS n_candidates,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       floor(coalesce(n_hits, 0) / 15.0 * 1000000 + 0.5) / 1000000.0
         AS recall_at_k
FROM cost LEFT JOIN hits ON cost.nprobe = hits.nprobe
ORDER BY nprobe"""
    d["docs_ppl_buckets"] = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram, ws[i] AS w1
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM w WHERE len(ws) >= 2)),
bi AS (SELECT gram, count(*) AS cb FROM g GROUP BY gram),
uni AS (SELECT w1, count(*) AS cw FROM g GROUP BY w1),
s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         floor(-avg(ln(cb / cw::DOUBLE)) * 1000000 + 0.5) / 1000000
           AS neg_avg_logp
  FROM g JOIN bi USING (gram) JOIN uni USING (w1)
  GROUP BY doc_id),
scored AS (
  SELECT d.doc_id, d.source,
         coalesce(n_bigrams, 0) AS n_bigrams,
         coalesce(neg_avg_logp, 0.0) AS neg_avg_logp
  FROM documents d LEFT JOIN s USING (doc_id)),
tiered AS (
  SELECT *, ntile(3) OVER (PARTITION BY source
                           ORDER BY neg_avg_logp ASC, doc_id ASC) AS tn
  FROM scored)
SELECT source,
       CASE WHEN tn = 1 THEN 'head'
            WHEN tn = 3 THEN 'tail'
            ELSE 'middle' END AS tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       min(neg_avg_logp) AS min_score,
       max(neg_avg_logp) AS max_score
FROM tiered GROUP BY source, tier
ORDER BY source, min_score"""
    d["emb_semdedup"] = """
WITH RECURSIVE
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
aug AS (SELECT vec_id, v FROM e
        UNION ALL SELECT vec_id + 100000, v FROM e WHERE vec_id < 50
        UNION ALL SELECT vec_id + 200000, v FROM e WHERE vec_id < 25),
pr AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95),
und AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pr
  UNION ALL SELECT id_b, id_a FROM pr),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u2.b FROM reach r JOIN und u2 ON r.b = u2.a),
cl AS (SELECT a AS vid, least(a, min(b)) AS cluster_id
       FROM reach GROUP BY a),
res AS (
  SELECT aug.vec_id, coalesce(cl.cluster_id, aug.vec_id) AS cluster_id
  FROM aug LEFT JOIN cl ON cl.vid = aug.vec_id)
SELECT vec_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       vec_id = cluster_id AS keep
FROM res ORDER BY cluster_id, vec_id"""
    d["events_bootstrap_ci"] = """
WITH base AS (
  SELECT CAST(event_id AS VARCHAR) AS id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
bs AS (SELECT unnest(generate_series(0, 31)) AS b),
rep AS (
  SELECT b, c,
         CAST(('0x' || substr(md5(id || ':' || CAST(b AS VARCHAR)), 1, 6))
              AS BIGINT) AS h
  FROM base CROSS JOIN bs),
wt AS (
  SELECT b, c,
         (CASE WHEN h >= 6171992 THEN 1 ELSE 0 END
          + CASE WHEN h >= 12343985 THEN 1 ELSE 0 END
          + CASE WHEN h >= 15429982 THEN 1 ELSE 0 END
          + CASE WHEN h >= 16458647 THEN 1 ELSE 0 END
          + CASE WHEN h >= 16715813 THEN 1 ELSE 0 END
          + CASE WHEN h >= 16767247 THEN 1 ELSE 0 END) AS w
  FROM rep),
means AS (
  SELECT b, sum(w * c) / CAST(sum(w) AS DOUBLE) AS m
  FROM wt GROUP BY b),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m) AS r FROM means),
pt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         sum(c) / CAST(count(*) AS DOUBLE) AS pm
  FROM base)
SELECT n_rows, CAST(32 AS BIGINT) AS n_resamples,
       floor(pm * 1000000 + 0.5) / 1000000.0 AS mean_cents,
       floor((SELECT m FROM ranked WHERE r = 2) * 1000000 + 0.5)
         / 1000000.0 AS ci_lo_cents,
       floor((SELECT m FROM ranked WHERE r = 31) * 1000000 + 0.5)
         / 1000000.0 AS ci_hi_cents
FROM pt"""
    d["events_seasonal_anomaly"] = """
WITH hourly AS (
  SELECT event_type AS key,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
         count(*) AS x
  FROM events GROUP BY key, hr),
resid AS (
  SELECT cur.key, cur.hr, cur.x - prev.x AS r
  FROM hourly cur JOIN hourly prev
    ON cur.key = prev.key AND cur.hr = prev.hr + 24),
med AS (SELECT key, CAST(median(r * 2) AS BIGINT) AS med2
        FROM resid GROUP BY key),
dev AS (
  SELECT resid.key, hr, r, med2, abs(r * 2 - med2) AS ad2
  FROM resid JOIN med ON resid.key = med.key),
mad AS (SELECT key, CAST(median(ad2 * 2) AS BIGINT) AS mad4
        FROM dev GROUP BY key),
fl AS (
  SELECT dev.key, med2, mad4, ad2 * 2 > 3 * mad4 AS is_anomaly
  FROM dev JOIN mad ON dev.key = mad.key)
SELECT key AS event_type, CAST(count(*) AS BIGINT) AS n_pairs,
       min(med2) / 2.0 AS median_resid,
       min(mad4) / 4.0 AS mad,
       CAST(sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM fl GROUP BY key ORDER BY event_type"""
    d["events_hll_overlap"] = f"""
WITH two AS (
  SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS s,
         user_id
  FROM events WHERE event_type IN ('click', 'view')),
h AS (
  SELECT s, CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                 AS BIGINT) AS hv
  FROM two),
r AS (
  SELECT s, hv >> 40 AS bucket,
         max(CASE WHEN (hv & 1099511627775) > 0
                  THEN 41 - length(bin(hv & 1099511627775))
                  ELSE 41 END) AS register
  FROM h GROUP BY s, bucket),
ru AS (
  SELECT 'u' AS s, bucket, max(register) AS register
  FROM r GROUP BY bucket),
allr AS (SELECT * FROM r UNION ALL SELECT * FROM ru),
a AS (
  SELECT s, count(*) AS n_present,
         sum(1.0 / (CAST(1 AS BIGINT) << register)) AS s_present
  FROM allr GROUP BY s),
e AS (
  SELECT s, {_alpha_m2} / (s_present + (256 - n_present)) AS raw,
         256 - n_present AS v
  FROM a),
est AS (
  SELECT s, floor((CASE WHEN raw <= 640.0 AND v > 0
                        THEN 256.0 * ln(256.0 / v) ELSE raw END)
                  * 1000000 + 0.5) / 1000000.0 AS he
  FROM e),
wide AS (
  SELECT max(CASE WHEN s = 'a' THEN he END) AS est_a,
         max(CASE WHEN s = 'b' THEN he END) AS est_b,
         max(CASE WHEN s = 'u' THEN he END) AS est_union
  FROM est),
ex AS (
  SELECT CAST(sum(CASE WHEN ns = 2 OR one = 'a' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exact_a,
         CAST(sum(CASE WHEN ns = 2 OR one = 'b' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exact_b,
         CAST(sum(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_both
  FROM (SELECT user_id, count(DISTINCT s) AS ns, min(s) AS one
        FROM two GROUP BY user_id))
SELECT n_exact_a, n_exact_b, n_exact_both, est_a, est_b, est_union,
       floor((est_a + est_b - est_union) * 1000000 + 0.5) / 1000000.0
         AS est_intersection
FROM ex CROSS JOIN wide"""
    _wm = ", ".join(
        f"('src{i}', {m})"
        for i, m in enumerate(
            [300000, 200000, 150000, 100000, 50000] + [20000] * 10
        )
    )
    d["corpus_epoch_plan"] = f"""
WITH wm(source, w) AS (VALUES {_wm}),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
j AS (
  SELECT per.source, n_docs, n_tokens,
         CAST(coalesce(w, 0) AS BIGINT) AS weight_micro,
         CAST((CAST(10000000 AS BIGINT) * coalesce(w, 0)) // 1000000
              AS BIGINT) AS target_tokens
  FROM per LEFT JOIN wm ON per.source = wm.source)
SELECT source, n_docs, n_tokens, weight_micro, target_tokens,
       floor(target_tokens / CAST(n_tokens AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS epochs,
       target_tokens > n_tokens AS oversampled
FROM j ORDER BY source"""
    # stream-static enrichment drains to the exact batch answer: same
    # independent SQL as the batch J3/J4 census
    d["log_stream_enrich"] = d["log_enrich_project"]
    d["docs_pair_bleu"] = r"""
WITH s AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)),
p AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
            * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.2),
t AS (
  SELECT doc_id, w AS wl,
         CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i+1])
              ELSE [] END AS gl
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents)),
j AS (
  SELECT p.doc_a, p.doc_b,
         ta.wl AS wa, ta.gl AS ga, tb.wl AS wb, tb.gl AS gb
  FROM p JOIN t ta ON ta.doc_id = p.doc_a
         JOIN t tb ON tb.doc_id = p.doc_b),
c AS (
  SELECT doc_a, doc_b, len(wb) AS ncw, len(wa) AS nrw, len(gb) AS ncg,
         list_sum(list_transform(list_distinct(wb),
           g -> least(len(list_filter(wb, x -> x = g)),
                      len(list_filter(wa, x -> x = g))))) AS clip1,
         list_sum(list_transform(list_distinct(gb),
           g -> least(len(list_filter(gb, x -> x = g)),
                      len(list_filter(ga, x -> x = g))))) AS clip2
  FROM j),
q AS (
  SELECT doc_a, doc_b, CAST(ncw AS BIGINT) AS n_cand_words,
         floor(coalesce(clip1, 0) / greatest(ncw, 1)::DOUBLE
               * 1000000 + 0.5) / 1000000.0 AS p1,
         floor(coalesce(clip2, 0) / greatest(ncg, 1)::DOUBLE
               * 1000000 + 0.5) / 1000000.0 AS p2,
         floor(ncw / greatest(nrw, 1)::DOUBLE * 1000000 + 0.5)
           / 1000000.0 AS brevity_ratio
  FROM c)
SELECT doc_a, doc_b, n_cand_words, p1, p2, brevity_ratio,
       floor(sqrt(p1 * p2) * 1000000 + 0.5) / 1000000.0 AS bleu2
FROM q ORDER BY doc_a, doc_b"""
    d["events_linear_attribution"] = """
WITH conv AS (
  SELECT user_id AS u, event_id AS conv_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'purchase'),
touch AS (
  SELECT user_id AS u, event_type AS channel, epoch_us(ts) AS t_us
  FROM events WHERE event_type IN ('click', 'view')),
j AS (
  SELECT conv.conv_id, touch.channel
  FROM conv LEFT JOIN touch
    ON conv.u = touch.u
   AND touch.t_us <= conv.c_us
   AND touch.t_us > conv.c_us - CAST(86400000000 AS BIGINT)),
per AS (SELECT conv_id, count(channel) AS n FROM j GROUP BY conv_id),
cr AS (
  SELECT j.channel, CAST(1000000 AS BIGINT) // per.n AS credit_micro
  FROM j JOIN per ON j.conv_id = per.conv_id
  WHERE j.channel IS NOT NULL),
byc AS (
  SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
         CAST(sum(credit_micro) AS BIGINT) AS credit_micro
  FROM cr GROUP BY channel),
un AS (
  SELECT 'unattributed' AS channel,
         CAST(count(*) AS BIGINT) AS n_touches,
         CAST(count(*) * 1000000 AS BIGINT) AS credit_micro
  FROM per WHERE n = 0)
SELECT * FROM byc UNION ALL SELECT * FROM un ORDER BY channel"""
    d["events_cuped"] = """
WITH sp AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us FROM events),
pu AS (
  SELECT user_id AS u,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         sum(CASE WHEN epoch_us(ts) <= mid_us
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS x,
         sum(CASE WHEN epoch_us(ts) > mid_us
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events CROSS JOIN sp GROUP BY u, arm),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2,
         CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS sxa,
         sum(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS sxb,
         sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS sya,
         sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS syb
  FROM pu),
f AS (
  SELECT n_users, na, nb,
         CAST(n_users * sxy - sx * sy AS DOUBLE) AS num,
         CAST(n_users * sx2 - sx * sx AS DOUBLE) AS den,
         CAST(n_users * sy2 - sy * sy AS DOUBLE) AS deny,
         CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE)
           - CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS raw_diff,
         CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)
           - CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS x_diff
  FROM agg)
SELECT n_users, na, nb,
       floor(num / den * 1000000 + 0.5) / 1000000.0 AS theta,
       floor(raw_diff * 1000000 + 0.5) / 1000000.0 AS raw_diff_cents,
       floor((raw_diff - (num / den) * x_diff) * 1000000 + 0.5)
         / 1000000.0 AS adjusted_diff_cents,
       floor(num * num / (den * deny) * 1000000 + 0.5) / 1000000.0
         AS var_reduction
FROM f"""
    d["log_bot_flags"] = f"""{_PARSE_CTE},
pu AS (
  SELECT username, CAST(count(*) AS BIGINT) AS n_req,
         CAST(count(DISTINCT epoch_us(ts) // 60000000) AS BIGINT)
           AS active_minutes,
         CAST(count(DISTINCT repo_slug) AS BIGINT) AS n_repos
  FROM parsed WHERE is_parsed AND username IS NOT NULL
  GROUP BY username),
pr AS (
  SELECT *, (n_req * CAST(1000000 AS BIGINT)) // active_minutes
              AS rate_micro
  FROM pu),
m AS (SELECT CAST(median(rate_micro * 2) AS BIGINT) AS med2 FROM pr)
SELECT username, n_req, active_minutes, n_repos, rate_micro,
       rate_micro * 2 > 3 * med2 AS is_bot
FROM pr CROSS JOIN m
ORDER BY rate_micro DESC, n_req DESC, username ASC
LIMIT 20"""
    d["events_props_variant"] = """
WITH e AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max,
       CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
FROM e GROUP BY event_type ORDER BY event_type"""
    d["events_unpivot"] = """
WITH days AS (
  SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events),
t(event_type) AS (
  VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
c AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
         count(*) AS n
  FROM events GROUP BY day, event_type)
SELECT d.day, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM days d CROSS JOIN t
LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
ORDER BY d.day, t.event_type"""
    d["log_p_chart"] = f"""{_PARSE_CTE},
h AS (
  SELECT strftime(ts, '%Y-%m-%d %H') AS hour,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN duration_ms > 500 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_slow
  FROM parsed WHERE is_parsed AND duration_ms IS NOT NULL
  GROUP BY hour),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(n_slow) AS BIGINT) AS ts_ FROM h)
SELECT hour, n, n_slow,
  floor(CAST(n_slow AS DOUBLE) / n * 1000000 + 0.5) / 1000000.0 AS p_hat,
  floor(CAST(ts_ AS DOUBLE) / tn * 1000000 + 0.5) / 1000000.0 AS p_bar,
  floor((CAST(ts_ AS DOUBLE) / tn
         + 3.0 * sqrt((CAST(ts_ AS DOUBLE) / tn)
                      * (1.0 - CAST(ts_ AS DOUBLE) / tn) / n))
        * 1000000 + 0.5) / 1000000.0 AS ucl,
  floor(greatest(0.0, CAST(ts_ AS DOUBLE) / tn
         - 3.0 * sqrt((CAST(ts_ AS DOUBLE) / tn)
                      * (1.0 - CAST(ts_ AS DOUBLE) / tn) / n))
        * 1000000 + 0.5) / 1000000.0 AS lcl,
  (CAST(n_slow AS DOUBLE) / n
     > CAST(ts_ AS DOUBLE) / tn
       + 3.0 * sqrt((CAST(ts_ AS DOUBLE) / tn)
                    * (1.0 - CAST(ts_ AS DOUBLE) / tn) / n))
  OR (CAST(n_slow AS DOUBLE) / n
     < greatest(0.0, CAST(ts_ AS DOUBLE) / tn
       - 3.0 * sqrt((CAST(ts_ AS DOUBLE) / tn)
                    * (1.0 - CAST(ts_ AS DOUBLE) / tn) / n)))
  AS out_of_control
FROM h CROSS JOIN t ORDER BY hour"""
    d["log_cidr_enrich"] = f"""{_PARSE_CTE},
blocks AS (
  SELECT * FROM (VALUES
    ('10.0.0.0', 8, 'net-corp'), ('10.0.0.0', 24, 'dc-ams'),
    ('172.16.0.0', 12, 'net-private'), ('172.16.1.0', 24, 'dc-syd'),
    ('63.246.22.0', 24, 'external'), ('192.168.0.0', 16, 'net-lab'),
    ('192.168.1.0', 24, 'dc-lab')) AS t(net, plen, network)),
dim AS (
  SELECT plen, network,
    (CAST(string_split(net, '.')[1] AS BIGINT) * 16777216
     + CAST(string_split(net, '.')[2] AS BIGINT) * 65536
     + CAST(string_split(net, '.')[3] AS BIGINT) * 256
     + CAST(string_split(net, '.')[4] AS BIGINT)) >> (32 - plen) AS k
  FROM blocks),
ips AS (
  SELECT DISTINCT client_ip FROM parsed
  WHERE is_parsed AND client_ip IS NOT NULL),
ipi AS (
  SELECT client_ip,
    CAST(string_split(client_ip, '.')[1] AS BIGINT) * 16777216
    + CAST(string_split(client_ip, '.')[2] AS BIGINT) * 65536
    + CAST(string_split(client_ip, '.')[3] AS BIGINT) * 256
    + CAST(string_split(client_ip, '.')[4] AS BIGINT) AS ip
  FROM ips),
m AS (
  SELECT client_ip, network, plen,
         row_number() OVER (PARTITION BY client_ip
                            ORDER BY plen DESC, network ASC) AS r
  FROM ipi JOIN dim ON (ip >> (32 - plen)) = k),
best AS (SELECT client_ip, network, plen FROM m WHERE r = 1),
e AS (
  SELECT coalesce(b.network, 'unrouted') AS network,
         CAST(b.plen AS INTEGER) AS matched_plen, p.username
  FROM parsed p LEFT JOIN best b ON b.client_ip = p.client_ip
  WHERE p.is_parsed AND p.client_ip IS NOT NULL)
SELECT network, matched_plen, CAST(count(*) AS BIGINT) AS n_requests,
       CAST(count(DISTINCT username) AS BIGINT) AS n_users
FROM e GROUP BY network, matched_plen ORDER BY network, matched_plen"""
    d["log_littles_law"] = f"""{_PARSE_CTE},
base AS (
  SELECT day_str AS day, epoch_us(ts) AS us, req_counter, req_dir,
         CAST(req_concurrent AS BIGINT) AS g
  FROM parsed WHERE is_parsed AND req_concurrent IS NOT NULL),
st AS (
  SELECT *, lead(us) OVER (PARTITION BY day
                           ORDER BY us, req_counter, req_dir) AS next_us
  FROM base),
lp AS (
  SELECT day, CAST(max(us) - min(us) AS BIGINT) AS span_us,
         CAST(sum(CASE WHEN next_us IS NOT NULL
                       THEN g * (next_us - us) ELSE 0 END) AS BIGINT)
           AS weighted_us
  FROM st GROUP BY day),
fl AS (
  SELECT day_str AS day,
         CAST(sum(CASE WHEN req_dir = 'i' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_arrivals,
         CAST(count(CASE WHEN req_dir = 'o' THEN duration_ms END) AS BIGINT)
           AS n_completed,
         CAST(sum(CASE WHEN req_dir = 'o' THEN duration_ms END) AS BIGINT)
           AS sum_dur_ms
  FROM parsed WHERE is_parsed GROUP BY day_str),
j AS (SELECT lp.day, n_arrivals, n_completed, span_us, weighted_us,
             sum_dur_ms
      FROM lp JOIN fl ON fl.day = lp.day)
SELECT day, n_arrivals, n_completed,
  CASE WHEN span_us > 0 THEN
    floor(CAST(weighted_us AS DOUBLE) / CAST(span_us AS DOUBLE)
          * 1000000 + 0.5) / 1000000.0 END AS l_twa,
  CASE WHEN span_us > 0 AND n_arrivals > 0 AND n_completed > 0
            AND sum_dur_ms > 0 THEN
    floor(n_arrivals * 1000000.0 / CAST(span_us AS DOUBLE)
          * 1000000 + 0.5) / 1000000.0 END AS lambda_per_s,
  CASE WHEN span_us > 0 AND n_arrivals > 0 AND n_completed > 0
            AND sum_dur_ms > 0 THEN
    floor(CAST(sum_dur_ms AS DOUBLE) / (n_completed * 1000.0)
          * 1000000 + 0.5) / 1000000.0 END AS w_s,
  CASE WHEN span_us > 0 AND n_arrivals > 0 AND n_completed > 0
            AND sum_dur_ms > 0 THEN
    floor((CAST(weighted_us AS DOUBLE) / CAST(span_us AS DOUBLE))
          / ((n_arrivals * 1000000.0 / CAST(span_us AS DOUBLE))
             * (CAST(sum_dur_ms AS DOUBLE) / (n_completed * 1000.0)))
          * 1000000 + 0.5) / 1000000.0 END AS littles_ratio
FROM j ORDER BY day"""
    d["log_concurrency_twa"] = f"""{_PARSE_CTE},
base AS (
  SELECT day_str AS day, epoch_us(ts) AS us, req_counter, req_dir,
         CAST(req_concurrent AS BIGINT) AS g
  FROM parsed WHERE is_parsed AND req_concurrent IS NOT NULL),
st AS (
  SELECT *, lead(us) OVER (PARTITION BY day
                           ORDER BY us, req_counter, req_dir) AS next_us
  FROM base)
SELECT day, CAST(count(*) AS BIGINT) AS n_points,
       CAST(max(us) - min(us) AS BIGINT) AS span_us,
       CAST(sum(CASE WHEN next_us IS NOT NULL
                     THEN g * (next_us - us) ELSE 0 END) AS BIGINT)
         AS weighted_us,
       floor(sum(CASE WHEN next_us IS NOT NULL
                      THEN g * (next_us - us) ELSE 0 END)
             / CAST(greatest(max(us) - min(us), 1) AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS twa_concurrency
FROM st GROUP BY day ORDER BY day"""
    d["events_rfm_segments"] = """
WITH a AS (SELECT max(CAST(ts AS DATE)) AS d_max FROM events),
pu AS (
  SELECT user_id AS u,
         CAST(min(datediff('day', CAST(ts AS DATE), d_max)) AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS monetary_cents
  FROM events CROSS JOIN a GROUP BY u),
sc AS (
  SELECT u, frequency, monetary_cents,
         ntile(5) OVER (ORDER BY recency_days DESC, u ASC) AS r_score,
         ntile(5) OVER (ORDER BY frequency ASC, u ASC) AS f_score,
         ntile(5) OVER (ORDER BY monetary_cents ASC, u ASC) AS m_score
  FROM pu)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(frequency) AS BIGINT) AS total_events,
       CAST(sum(monetary_cents) AS BIGINT) AS total_cents
FROM sc GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score"""
    d["log_p99_ci"] = f"""{_PARSE_CTE},
dd AS (
  SELECT op_type, CAST(duration_ms AS BIGINT) AS v FROM parsed
  WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL),
rk AS (
  SELECT op_type, v,
         row_number() OVER (PARTITION BY op_type ORDER BY v) AS r
  FROM dd),
sz AS (SELECT op_type, CAST(count(*) AS BIGINT) AS n FROM dd
       GROUP BY op_type),
mr AS (
  SELECT op_type, n,
         (n * 99) / 100.0 AS mean_r,
         sqrt(CAST(n AS DOUBLE) * 99 / 100 * 1 / 100) AS sd
  FROM sz WHERE n >= 30),
rr AS (
  SELECT op_type, n,
         (99 * n + 99) // 100 AS k,
         greatest(CAST(ceil(floor((mean_r - (196 / 100.0) * sd)
                                  * 1000000 + 0.5) / 1000000.0) AS BIGINT),
                  1) AS k_lo,
         least(CAST(ceil(floor((mean_r + (196 / 100.0) * sd)
                               * 1000000 + 0.5) / 1000000.0) AS BIGINT),
               n) AS k_hi
  FROM mr)
SELECT rr.op_type, rr.n,
       CAST(max(CASE WHEN rk.r = rr.k THEN rk.v END) AS BIGINT) AS p99,
       CAST(max(CASE WHEN rk.r = rr.k_lo THEN rk.v END) AS BIGINT) AS ci_lo,
       CAST(max(CASE WHEN rk.r = rr.k_hi THEN rk.v END) AS BIGINT) AS ci_hi
FROM rk JOIN rr ON rk.op_type = rr.op_type
GROUP BY rr.op_type, rr.n
ORDER BY rr.op_type"""
    d["tpch_revenue_pareto"] = """
WITH per AS (
  SELECT c.c_mktsegment AS segment, c.c_custkey AS entity,
         CAST(sum(floor(o.o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY segment, entity),
ranked AS (
  SELECT segment, cents,
         CAST(row_number() OVER (PARTITION BY segment
                                 ORDER BY cents ASC, entity ASC)
              AS BIGINT) AS i,
         sum(cents) OVER (PARTITION BY segment
                          ORDER BY cents DESC, entity ASC
                          ROWS UNBOUNDED PRECEDING) - cents AS cum_before
  FROM per),
agg AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n_entities,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(sum(i * cents) AS BIGINT) AS s_ix
  FROM ranked GROUP BY segment),
cut AS (
  SELECT r.segment,
         CAST(sum(CASE WHEN r.cum_before * 5 < a.total_cents * 4
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_for_80pct
  FROM ranked r JOIN agg a ON r.segment = a.segment
  GROUP BY r.segment)
SELECT agg.segment, n_entities, total_cents,
       floor((2.0 * s_ix / (CAST(n_entities AS DOUBLE) * total_cents)
              - (CAST(n_entities AS DOUBLE) + 1)
                / CAST(n_entities AS DOUBLE)) * 1000000 + 0.5)
         / 1000000.0 AS gini,
       n_for_80pct,
       floor(n_for_80pct / CAST(n_entities AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS head_share
FROM agg JOIN cut ON agg.segment = cut.segment
ORDER BY agg.segment"""
    d["emb_knn_outliers"] = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < 300),
s AS (
  SELECT a.vec_id, b.vec_id AS nn_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
kth AS (
  SELECT vec_id, nn_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, nn_id ASC) AS r
    FROM s) WHERE r = 5)
SELECT vec_id, nn_id AS kth_nn_id, cosine AS kth_nn_cosine,
       floor((1.0 - cosine) * 1000000 + 0.5) / 1000000.0 AS outlier_score
FROM kth ORDER BY kth_nn_cosine ASC, vec_id ASC LIMIT 20"""
    d["events_ab_power"] = """
WITH pu AS (
  SELECT user_id AS u,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) % 2
              AS BIGINT) AS converted
  FROM events GROUP BY u, arm),
a AS (
  SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(sum(converted) AS BIGINT) AS conv,
         CAST(count(*) AS BIGINT) AS n
  FROM pu),
f AS (
  SELECT na, nb, conv,
         conv / CAST(n AS DOUBLE) AS p,
         (2 * na * nb) / CAST(na + nb AS DOUBLE) AS nh
  FROM a),
g AS (
  SELECT na, nb, conv, p,
         ((196 + 84) / 100.0) * sqrt(2.0 * p * (1 - p) / nh) AS mde
  FROM f)
SELECT na, nb, conv,
       floor(p * 1000000 + 0.5) / 1000000.0 AS pooled_rate,
       floor(mde * 1000000 + 0.5) / 1000000.0 AS mde_abs,
       floor(mde / p * 1000000 + 0.5) / 1000000.0 AS mde_rel
FROM g"""
    d["docs_pair_containment"] = r"""
WITH s AS MATERIALIZED (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)),
p AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
            * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.2),
c AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(sa.shingles) AS BIGINT) AS n_shingles_a,
         CAST(len(sb.shingles) AS BIGINT) AS n_shingles_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
           AS n_common
  FROM p JOIN s sa ON sa.doc_id = p.doc_a
         JOIN s sb ON sb.doc_id = p.doc_b),
q AS (
  SELECT doc_a, doc_b, n_shingles_a, n_shingles_b, n_common,
         floor(n_common / CAST(greatest(n_shingles_a, 1) AS DOUBLE)
               * 1000000 + 0.5) / 1000000.0 AS containment_a,
         floor(n_common / CAST(greatest(n_shingles_b, 1) AS DOUBLE)
               * 1000000 + 0.5) / 1000000.0 AS containment_b
  FROM c)
SELECT *, greatest(containment_a, containment_b) AS max_containment
FROM q ORDER BY doc_a, doc_b"""
    d["docs_token_linear_probe"] = r"""
WITH f AS (
  SELECT CAST(n_chars AS BIGINT) AS x1,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
           AS x2,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS y
  FROM documents
  WHERE n_chars > 0 AND length(trim(text)) > 0),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM f),
dd AS (
  SELECT n,
         CAST(n AS DOUBLE) AS fn, CAST(s1 AS DOUBLE) AS f1,
         CAST(s2 AS DOUBLE) AS f2, CAST(sy AS DOUBLE) AS fy,
         CAST(s11 AS DOUBLE) AS f11, CAST(s12 AS DOUBLE) AS f12,
         CAST(s22 AS DOUBLE) AS f22, CAST(s1y AS DOUBLE) AS f1y,
         CAST(s2y AS DOUBLE) AS f2y, CAST(syy AS DOUBLE) AS fyy
  FROM m),
solved AS (
  SELECT n, fn, fy, f1y, f2y, fyy,
    (fn * (f11 * f22 - f12 * f12) - f1 * (f1 * f22 - f12 * f2)
       + f2 * (f1 * f12 - f11 * f2)) AS det,
    (fy * (f11 * f22 - f12 * f12) - f1 * (f1y * f22 - f12 * f2y)
       + f2 * (f1y * f12 - f11 * f2y)) AS det0,
    (fn * (f1y * f22 - f12 * f2y) - fy * (f1 * f22 - f12 * f2)
       + f2 * (f1 * f2y - f1y * f2)) AS det1,
    (fn * (f11 * f2y - f1y * f12) - f1 * (f1 * f2y - f1y * f2)
       + fy * (f1 * f12 - f11 * f2)) AS det2
  FROM dd),
w AS (
  SELECT n, fn, fy, f1y, f2y, fyy,
         det0 / det AS w0, det1 / det AS w1, det2 / det AS w2
  FROM solved),
fit AS (
  SELECT n, fn, w0, w1, w2,
         fyy - (w0 * fy + w1 * f1y + w2 * f2y) AS sse,
         fyy - fy * fy / fn AS sst
  FROM w)
SELECT n AS n_docs,
       floor(w0 * 1000000 + 0.5) / 1000000.0 AS w_intercept,
       floor(w1 * 1000000 + 0.5) / 1000000.0 AS w_nchars,
       floor(w2 * 1000000 + 0.5) / 1000000.0 AS w_alpha,
       floor((1.0 - sse / sst) * 1000000 + 0.5) / 1000000.0 AS r2,
       floor(sqrt(greatest(sse, 0.0) / fn) * 1000000 + 0.5) / 1000000.0
         AS rmse
FROM fit"""
    d["docs_signal_spearman"] = """
WITH b AS (
  SELECT CAST(n_chars AS BIGINT) AS xv,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000
              // n_chars AS BIGINT) AS yv
  FROM documents WHERE n_chars > 0),
c AS (SELECT xv, yv, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY xv, yv),
xm0 AS (SELECT xv, CAST(sum(c) AS BIGINT) AS cnt FROM c GROUP BY xv),
xm AS (
  SELECT xv,
         CAST(2 * COALESCE(sum(cnt) OVER (ORDER BY xv
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1 AS BIGINT) AS rx2
  FROM xm0),
ym0 AS (SELECT yv, CAST(sum(c) AS BIGINT) AS cnt FROM c GROUP BY yv),
ym AS (
  SELECT yv,
         CAST(2 * COALESCE(sum(cnt) OVER (ORDER BY yv
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1 AS BIGINT) AS ry2
  FROM ym0),
j AS (
  SELECT c.xv, c.yv, c.c, xm.rx2, ym.ry2
  FROM c JOIN xm USING (xv) JOIN ym USING (yv)),
s AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(count(DISTINCT xv) AS BIGINT) AS nx,
         CAST(count(DISTINCT yv) AS BIGINT) AS ny,
         CAST(sum(c * rx2) AS BIGINT) AS sx,
         CAST(sum(c * ry2) AS BIGINT) AS sy,
         CAST(sum(c * rx2 * rx2) AS BIGINT) AS sxx,
         CAST(sum(c * ry2 * ry2) AS BIGINT) AS syy,
         CAST(sum(c * rx2 * ry2) AS BIGINT) AS sxy
  FROM j),
f AS (
  SELECT n, nx, ny,
         CAST(n AS DOUBLE) AS fn, CAST(sx AS DOUBLE) AS fx,
         CAST(sy AS DOUBLE) AS fy, CAST(sxx AS DOUBLE) AS fxx,
         CAST(syy AS DOUBLE) AS fyy, CAST(sxy AS DOUBLE) AS fxy
  FROM s)
SELECT n AS n_docs, nx AS n_x_distinct, ny AS n_y_distinct,
       CASE WHEN (fn * fxx - fx * fx) > 0 AND (fn * fyy - fy * fy) > 0
            THEN floor((fn * fxy - fx * fy)
                       / (sqrt(fn * fxx - fx * fx)
                          * sqrt(fn * fyy - fy * fy)) * 1000000 + 0.5)
                 / 1000000.0
       END AS rho_spearman
FROM f"""
    d["docs_chi2_independence"] = """
WITH b AS (
  SELECT source, least(CAST(n_chars // 256 AS BIGINT), 7) AS bucket
  FROM documents WHERE n_chars > 0),
c AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS o
  FROM b GROUP BY source, bucket),
rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY source),
ct AS (SELECT bucket, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY bucket),
t AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT source) AS BIGINT) AS r,
         CAST(count(DISTINCT bucket) AS BIGINT) AS c2
  FROM c),
grid AS (SELECT rt.source, ct.bucket, rt.rt, ct.ct FROM rt CROSS JOIN ct),
cells AS (
  SELECT COALESCE(c.o, 0) AS o, g.rt, g.ct, t.n, t.r, t.c2
  FROM grid g LEFT JOIN c USING (source, bucket) CROSS JOIN t),
s AS (
  SELECT n, r, c2,
         sum(CAST((n * o - rt * ct) * (n * o - rt * ct) AS DOUBLE)
             / CAST(n * rt * ct AS DOUBLE)) AS chi2_raw
  FROM cells GROUP BY n, r, c2)
SELECT n AS n_docs, r AS n_sources, c2 AS n_buckets,
       CAST((r - 1) * (c2 - 1) AS BIGINT) AS dof,
       floor(chi2_raw * 1000000 + 0.5) / 1000000.0 AS chi2,
       CASE WHEN (r - 1) * (c2 - 1) > 0
                 AND CAST(n * least(r - 1, c2 - 1) AS DOUBLE) > 0
            THEN floor(sqrt(chi2_raw
                            / CAST(n * least(r - 1, c2 - 1) AS DOUBLE))
                       * 1000000 + 0.5) / 1000000.0
       END AS cramers_v
FROM s"""
    d["emb_intrinsic_dim"] = """
WITH ids AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
e AS (
  SELECT em.vec_id, em.embedding::DOUBLE[] AS v
  FROM embeddings em JOIN ids USING (vec_id)),
p AS (
  SELECT a.vec_id AS anchor, b.vec_id AS nn,
         floor((list_dot_product(a.v, a.v)
                - 2.0 * list_dot_product(a.v, b.v)
                + list_dot_product(b.v, b.v)) * 1000000 + 0.5)
           / 1000000.0 AS dsq
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
r AS (
  SELECT anchor, dsq,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY dsq ASC, nn ASC) AS rk
  FROM p),
nn2 AS (
  SELECT anchor,
         min(CASE WHEN rk = 1 THEN dsq END) AS d1sq,
         min(CASE WHEN rk = 2 THEN dsq END) AS d2sq
  FROM r WHERE rk <= 2 GROUP BY anchor),
u AS (
  SELECT anchor,
         CASE WHEN d1sq > 0 AND d2sq > 0
              THEN (ln(d2sq) - ln(d1sq)) / 2 END AS lnmu
  FROM nn2),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sample,
         CAST(sum(CASE WHEN lnmu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_used,
         sum(lnmu) AS slnmu
  FROM u)
SELECT n_sample, n_used,
       CAST(n_sample - n_used AS BIGINT) AS n_dup_anchors,
       CASE WHEN slnmu > 0
            THEN floor(CAST(n_used AS DOUBLE) / slnmu * 1000000 + 0.5)
                 / 1000000.0
       END AS intrinsic_dim,
       floor(slnmu / n_used * 1000000 + 0.5) / 1000000.0 AS mean_ln_mu
FROM s"""
    d["events_mann_whitney"] = """
WITH d AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS ia
  FROM events WHERE value IS NOT NULL),
c AS (
  SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
         CAST(sum(1 - ia) AS BIGINT) AS cb,
         CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY v),
r AS (
  SELECT ca, cb, c,
         CAST(2 * COALESCE(sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + c + 1 AS BIGINT) AS r2
  FROM c),
s AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
         CAST(sum(ca * r2) AS BIGINT) AS sr2a,
         CAST(sum(c * c * c - c) AS BIGINT) AS tie
  FROM r),
f AS (
  SELECT na, nb, tie,
         CAST(sr2a - na * (na + 1) AS BIGINT) AS u2a
  FROM s)
SELECT na AS n_a, nb AS n_b, u2a AS u2_a,
       CASE WHEN na > 0 AND nb > 0
            THEN floor(CAST(u2a AS DOUBLE) / 2.0 * 1000000 + 0.5) / 1000000.0
       END AS u_a,
       CASE WHEN na > 0 AND nb > 0
                 AND (CAST(na * nb AS DOUBLE) / 12.0
                      * (CAST(na + nb + 1 AS DOUBLE)
                         - CAST(tie AS DOUBLE)
                           / CAST((na + nb) * (na + nb - 1) AS DOUBLE))) > 0
            THEN floor(CAST(u2a - na * nb AS DOUBLE)
                       / (2.0 * sqrt(CAST(na * nb AS DOUBLE) / 12.0
                           * (CAST(na + nb + 1 AS DOUBLE)
                              - CAST(tie AS DOUBLE)
                                / CAST((na + nb) * (na + nb - 1) AS DOUBLE))))
                       * 1000000 + 0.5) / 1000000.0
            WHEN na > 0 AND nb > 0 AND u2a - na * nb = 0 THEN 0.0
       END AS z_u,
       CASE WHEN na > 0 AND nb > 0
            THEN floor((CAST(u2a AS DOUBLE) / CAST(na * nb AS DOUBLE) - 1.0)
                       * 1000000 + 0.5) / 1000000.0
       END AS rank_biserial
FROM f"""
    d["events_ks_two_sample"] = """
WITH d AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS ia
  FROM events WHERE value IS NOT NULL),
c AS (
  SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
         CAST(sum(1 - ia) AS BIGINT) AS cb
  FROM d GROUP BY v),
cum AS (
  SELECT CAST(sum(ca) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cuma,
         CAST(sum(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cumb
  FROM c),
t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM c),
m AS (
  SELECT t.na, t.nb,
         CAST(max(abs(cuma * t.nb - cumb * t.na)) AS BIGINT) AS dmax
  FROM cum CROSS JOIN t GROUP BY t.na, t.nb)
SELECT na AS n_a, nb AS n_b, dmax AS d_num_max,
       CASE WHEN na > 0 AND nb > 0
            THEN floor(CAST(dmax AS DOUBLE) / CAST(na * nb AS DOUBLE)
                       * 1000000 + 0.5) / 1000000.0
       END AS ks_d,
       CASE WHEN na > 0 AND nb > 0
            THEN floor(CAST(dmax AS DOUBLE) / CAST(na * nb AS DOUBLE)
                       * sqrt(CAST(na * nb AS DOUBLE)
                              / CAST(na + nb AS DOUBLE))
                       * 1000000 + 0.5) / 1000000.0
       END AS ks_lambda,
       CASE WHEN na > 0 AND nb > 0
            THEN CAST(CAST(dmax AS DOUBLE) / CAST(na * nb AS DOUBLE)
                      * sqrt(CAST(na * nb AS DOUBLE)
                             / CAST(na + nb AS DOUBLE))
                      > sqrt(-ln(0.025) / 2.0) AS BIGINT)
       END AS reject_05
FROM m"""
    d["docs_vocab_richness"] = r"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents),
v AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM w WHERE w <> '' GROUP BY w),
s AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1_hapax,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2_dis
  FROM v)
SELECT n_tokens, vocab_size, f1_hapax, f2_dis,
       floor((CAST(vocab_size AS DOUBLE)
              + CAST(f1_hapax AS DOUBLE) * (CAST(f1_hapax AS DOUBLE) - 1.0)
                / (2.0 * (CAST(f2_dis AS DOUBLE) + 1.0)))
             * 1000000 + 0.5) / 1000000.0 AS chao1,
       floor(CAST(f1_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS gt_unseen_mass,
       floor(CAST(f1_hapax AS DOUBLE) / CAST(vocab_size AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS hapax_ratio
FROM s"""
    d["docs_pmi_collocations"] = r"""
WITH wl AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
z AS (
  SELECT unnest(list_zip(ws[1:len(ws) - 1], ws[2:])) AS s FROM wl),
p AS (
  SELECT s[1] AS x, s[2] AS y FROM z
  WHERE s[1] <> '' AND s[2] <> ''),
c AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM p GROUP BY x, y),
mx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM c GROUP BY x),
my AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM c GROUP BY y),
tt AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM c),
s AS (
  SELECT c.x, c.y, c.c_xy, mx.c_x, my.c_y,
         CAST(floor(ln(CAST(c.c_xy * tt.n_bigrams AS DOUBLE)
                       / CAST(mx.c_x * my.c_y AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS pmi_e6
  FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tt
  WHERE c.c_xy >= 5),
r AS (
  SELECT *, CAST(row_number() OVER (ORDER BY pmi_e6 DESC, x ASC, y ASC)
                 AS BIGINT) AS rank
  FROM s)
SELECT rank, x, y, c_xy, c_x, c_y,
       floor(CAST(pmi_e6 AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
         AS pmi
FROM r WHERE rank <= 25 ORDER BY rank"""
    d["docs_token_burstiness"] = r"""
WITH w0 AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents),
wd AS (
  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM w0 WHERE w <> '' GROUP BY w, doc_id),
pw AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS df
  FROM wd GROUP BY w),
dt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
r AS (
  SELECT w, s1, s2, df,
         CAST(row_number() OVER (ORDER BY s1 DESC, w ASC) AS BIGINT) AS rank
  FROM pw)
SELECT rank, w, s1 AS freq, df AS doc_freq,
       floor(CAST(n_docs * s2 - s1 * s1 AS DOUBLE)
             / CAST(n_docs * s1 AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         AS vmr
FROM r CROSS JOIN dt WHERE rank <= 50 ORDER BY rank"""
    d["events_js_divergence"] = """
WITH d AS (
  SELECT CAST(CASE WHEN floor(value * 100 + 0.5)::BIGINT > 0
              THEN length(bin(floor(value * 100 + 0.5)::BIGINT))
              ELSE 0 END AS INTEGER) AS bucket,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS ia
  FROM events WHERE value IS NOT NULL),
c AS (
  SELECT bucket, CAST(sum(ia) AS BIGINT) AS ca,
         CAST(sum(1 - ia) AS BIGINT) AS cb
  FROM d GROUP BY bucket),
t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM c),
pq AS (
  SELECT ca, cb, na, nb,
         CASE WHEN na > 0 THEN CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
              ELSE 0.0 END AS p,
         CASE WHEN nb > 0 THEN CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
              ELSE 0.0 END AS q
  FROM c CROSS JOIN t),
r AS (
  SELECT na, nb,
         CAST(floor((CASE WHEN ca > 0 THEN p * ln(p / ((p + q) / 2.0))
                          ELSE 0.0 END
                     + CASE WHEN cb > 0 THEN q * ln(q / ((p + q) / 2.0))
                            ELSE 0.0 END) / 2.0
                    * 1000000000 + 0.5) AS BIGINT) AS t9
  FROM pq),
s AS (
  SELECT na, nb, CAST(sum(t9) AS BIGINT) AS js_e9,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM r GROUP BY na, nb)
SELECT na AS n_a, nb AS n_b, n_buckets, js_e9,
       CASE WHEN na > 0 AND nb > 0
            THEN floor(CAST(js_e9 AS DOUBLE) / 1000000000.0
                       * 1000000 + 0.5) / 1000000.0
       END AS js_nats,
       CASE WHEN na > 0 AND nb > 0
            THEN floor(CAST(js_e9 AS DOUBLE) / 1000000000.0 / ln(2.0)
                       * 1000000 + 0.5) / 1000000.0
       END AS js_bits_norm
FROM s"""
    d["log_arrival_dispersion"] = f"""{_PARSE_CTE},
mb AS (
  SELECT protocol,
         CAST(floor(floor(epoch(ts)) / 60) AS BIGINT) AS m
  FROM parsed WHERE is_parsed),
c AS (
  SELECT protocol, m, CAST(count(*) AS BIGINT) AS c
  FROM mb GROUP BY protocol, m),
b AS (SELECT min(m) AS m0, max(m) AS m1 FROM c),
pp AS (
  SELECT protocol, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS active_minutes
  FROM c GROUP BY protocol),
j AS (
  SELECT pp.*, CAST(b.m1 - b.m0 + 1 AS BIGINT) AS span
  FROM pp CROSS JOIN b)
SELECT protocol, n AS n_requests, span AS span_minutes, active_minutes,
       CAST(span - active_minutes AS BIGINT) AS empty_minutes,
       floor(CAST(span * s2 - n * n AS DOUBLE) / CAST(span * n AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS vmr
FROM j ORDER BY protocol"""
    d["docs_word_cond_entropy"] = r"""
WITH wl AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
z AS (
  SELECT unnest(list_zip(ws[1:len(ws) - 1], ws[2:])) AS s FROM wl),
p AS (
  SELECT s[1] AS x, s[2] AS y FROM z
  WHERE s[1] <> '' AND s[2] <> ''),
c AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY x, y),
sxy AS (
  SELECT CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 10000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS s_xy,
         CAST(sum(c) AS BIGINT) AS n
  FROM c),
mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM c GROUP BY x),
sx AS (
  SELECT CAST(sum(cx * CAST(floor(ln(CAST(cx AS DOUBLE)) * 10000 + 0.5)
                            AS BIGINT)) AS BIGINT) AS s_x
  FROM mx)
SELECT n AS n_bigrams,
       floor((ln(CAST(n AS DOUBLE))
              - CAST(s_xy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
             * 1000000 + 0.5) / 1000000.0 AS h_bigram_nats,
       floor((ln(CAST(n AS DOUBLE))
              - CAST(s_x AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
             * 1000000 + 0.5) / 1000000.0 AS h_first_nats,
       floor(CAST(s_x - s_xy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
             * 1000000 + 0.5) / 1000000.0 AS h_cond_nats,
       floor(exp(CAST(s_x - s_xy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
             * 1000000 + 0.5) / 1000000.0 AS ppl_cond
FROM sxy CROSS JOIN sx"""
    d["docs_incremental_near_dedup"] = r"""
WITH RECURSIVE s AS MATERIALIZED (
  SELECT doc_id, source,
    (doc_id % 5 = 4) AS is_delta,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, source,
               string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)
), dup_base AS MATERIALIZED (
  SELECT DISTINCT d.doc_id FROM s d JOIN s b
    ON d.is_delta AND NOT b.is_delta
   AND floor(len(list_intersect(d.shingles, b.shingles))
             / greatest(len(list_distinct(d.shingles || b.shingles)), 1)::DOUBLE
             * 1000000 + 0.5) / 1000000 >= 0.2
), s1 AS MATERIALIZED (
  SELECT * FROM s WHERE is_delta
    AND doc_id NOT IN (SELECT doc_id FROM dup_base)
), p AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM s1 a JOIN s1 b ON a.doc_id < b.doc_id
   AND floor(len(list_intersect(a.shingles, b.shingles))
             / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
             * 1000000 + 0.5) / 1000000 >= 0.2
), und AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM p
  UNION ALL SELECT doc_b, doc_a FROM p
), reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
), cl AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster
  FROM reach GROUP BY a
), fl AS (
  SELECT s.source,
         s.doc_id IN (SELECT doc_id FROM dup_base) AS dup_base,
         COALESCE(cl.cluster <> s.doc_id, FALSE) AS dup_within
  FROM s LEFT JOIN cl ON s.doc_id = cl.doc_id
  WHERE s.is_delta)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_delta,
       CAST(sum(CASE WHEN dup_base THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_base,
       CAST(sum(CASE WHEN NOT dup_base AND dup_within THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_within_delta,
       CAST(sum(CASE WHEN NOT dup_base AND NOT dup_within THEN 1 ELSE 0 END)
            AS BIGINT) AS n_survivors
FROM fl GROUP BY source ORDER BY source"""
    d["docs_neyman_allocation"] = """
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sx,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY source
), v AS (
  SELECT *, CASE WHEN n_docs > 1 THEN greatest(
      CAST(n_docs * sxx - sx * sx AS DOUBLE)
        / CAST(n_docs * (n_docs - 1) AS DOUBLE), 0.0)
    ELSE 0.0 END AS var
  FROM per
), q AS (
  SELECT source, n_docs,
    floor(sqrt(var) * 1000000 + 0.5) / 1000000.0 AS stddev,
    floor(200.0 * (n_docs * sqrt(var))
          / (sum(n_docs * sqrt(var)) OVER ()) * 1000000 + 0.5)
      / 1000000.0 AS quota
  FROM v
), b AS (
  SELECT *, CAST(floor(quota) AS BIGINT) AS base,
    floor((quota - floor(quota)) * 1000000 + 0.5) / 1000000.0 AS rem
  FROM q
), r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
    200 - (sum(base) OVER ()) AS leftover
  FROM b
)
SELECT source, n_docs, stddev, quota,
  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
    AS alloc_n,
  floor(CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS DOUBLE)
        / n_docs * 1000000 + 0.5) / 1000000.0 AS sample_frac
FROM r ORDER BY source"""
    d["emb_kcenter_coreset"] = _kcenter_sql(k=8)
    d["events_pettitt"] = """
WITH census AS (
  SELECT event_type AS k, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY k, day),
vals AS (
  SELECT k, x, CAST(count(*) AS BIGINT) AS m FROM census GROUP BY k, x),
rk AS (
  SELECT k, x,
         2 * (sum(m) OVER (PARTITION BY k ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m)
           + m + 1 AS r2
  FROM vals),
u AS (
  SELECT c.k, c.day,
         row_number() OVER (PARTITION BY c.k ORDER BY c.day) AS t,
         sum(r2) OVER (PARTITION BY c.k ORDER BY c.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2,
         count(*) OVER (PARTITION BY c.k) AS n_days
  FROM census c JOIN rk ON rk.k = c.k AND rk.x = c.x),
uu AS (
  SELECT k, day, n_days, CAST(s2 - t * (n_days + 1) AS BIGINT) AS u
  FROM u WHERE t < n_days),
p AS (
  SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY abs(u) DESC, day ASC) AS pk
  FROM uu)
SELECT k AS event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(abs(u) AS BIGINT) AS k_stat, day AS change_day,
       floor(2.0 * exp(-6.0 * CAST(abs(u) AS DOUBLE)
                * CAST(abs(u) AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                * CAST(n_days AS DOUBLE)
                + CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)))
             * 1000000 + 0.5) / 1000000.0 AS p_approx
FROM p WHERE pk = 1 ORDER BY event_type"""
    d["tpch_product_profit"] = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(floor((l_extendedprice * (1 - l_discount)
             - 0.6 * p_retailprice * l_quantity) * 100 + 0.5)::BIGINT)
         AS BIGINT) AS profit_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC"""
    d["tpch_min_cost_supplier"] = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(floor(l_extendedprice * 100 + 0.5)::BIGINT) AS BIGINT)
           AS pc,
         CAST(sum(l_quantity) AS BIGINT) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey
  HAVING CAST(sum(l_quantity) AS BIGINT) > 0),
o AS (
  SELECT l_partkey, l_suppkey,
         floor(CAST(pc AS DOUBLE) / CAST(q AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS unit_cost
  FROM ps),
j AS (
  SELECT s.s_acctbal, s.s_name, n.n_name AS nation,
         p.p_partkey, p.p_name, o.unit_cost
  FROM o
  JOIN part p ON o.l_partkey = p.p_partkey AND p.p_type = 'SMALL'
  JOIN supplier s ON o.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'),
m AS (SELECT *, min(unit_cost) OVER (PARTITION BY p_partkey) AS mc FROM j)
SELECT s_acctbal, s_name, nation, p_partkey, p_name, unit_cost
FROM m WHERE unit_cost = mc
ORDER BY s_acctbal DESC, nation, s_name, p_partkey
LIMIT 100"""
    d["tpch_dominant_suppliers"] = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
  GROUP BY l_partkey, l_suppkey),
d AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_dominated
  FROM (SELECT *, sum(q) OVER (PARTITION BY l_partkey) AS qt,
               count(*) OVER (PARTITION BY l_partkey) AS ns
        FROM ps)
  WHERE 2 * ns * q > 3 * qt GROUP BY l_suppkey)
SELECT s_name, n_name AS nation, n_dominated
FROM d JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_name"""
    d["events_srm_check"] = """
WITH u AS (SELECT DISTINCT user_id AS u FROM events),
v AS (
  SELECT CAST(floor((strpos('0123456789abcdef',
           substr(md5(CAST(u AS VARCHAR)), 1, 1)) - 1) / 4.0) AS INTEGER)
         AS v
  FROM u),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v0,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
         CAST(sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
         CAST(sum(CASE WHEN v = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_v3
  FROM v),
c AS (
  SELECT *, CAST((4 * n_v0 - n_users) * (4 * n_v0 - n_users)
               + (4 * n_v1 - n_users) * (4 * n_v1 - n_users)
               + (4 * n_v2 - n_users) * (4 * n_v2 - n_users)
               + (4 * n_v3 - n_users) * (4 * n_v3 - n_users) AS DOUBLE)
            / CAST(4 * n_users AS DOUBLE) AS chi2_raw
  FROM a)
SELECT n_users, n_v0, n_v1, n_v2, n_v3,
       floor(chi2_raw * 1000000 + 0.5) / 1000000.0 AS chi2,
       chi2_raw > 7.814728 AS srm_detected
FROM c"""
    d["docs_loo_probe_influence"] = _loo_probe_sql()
    import math as _m

    # SPRT constants — computed HERE with the same Python math.log the
    # Spark operator uses, inlined as 17-sig-digit literals so both
    # engines fold bit-identical doubles.
    _sa = _m.log(0.25 / 0.15)
    _sb = _m.log((1.0 - 0.25) / (1.0 - 0.15))
    _sup = _m.log((1.0 - 0.05) / 0.05)
    _slo = _m.log(0.05 / (1.0 - 0.05))
    d["events_sprt"] = f"""
WITH b AS (
  SELECT ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events),
p AS (
  SELECT CAST(row_number() OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS k
  FROM b WINDOW w AS (ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
l AS (SELECT n, k, k * {_sa!r}::DOUBLE + (n - k) * {_sb!r}::DOUBLE AS llr FROM p),
c AS (SELECT n, k, llr FROM l
      WHERE llr >= {_sup!r}::DOUBLE OR llr <= {_slo!r}::DOUBLE
      ORDER BY n LIMIT 1),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(x) AS BIGINT) AS k_total FROM b)
SELECT t.n_total, t.k_total,
  CASE WHEN c.llr IS NULL THEN 'continue'
       WHEN c.llr >= {_sup!r}::DOUBLE THEN 'accept_h1'
       ELSE 'accept_h0' END AS decision,
  coalesce(c.n, t.n_total) AS n_at_decision,
  coalesce(c.k, t.k_total) AS k_at_decision,
  floor(coalesce(c.llr,
        t.k_total * {_sa!r}::DOUBLE + (t.n_total - t.k_total) * {_sb!r}::DOUBLE)
        * 1000000 + 0.5) / 1000000.0 AS llr_at_decision,
  floor({_sup!r}::DOUBLE * 1000000 + 0.5) / 1000000.0 AS upper_bound,
  floor({_slo!r}::DOUBLE * 1000000 + 0.5) / 1000000.0 AS lower_bound
FROM t LEFT JOIN c ON TRUE"""
    d["log_user_entropy"] = f"""{_PARSE_CTE},
pc AS (
  SELECT username, repo_slug, count(*) AS c FROM parsed
  WHERE is_parsed AND username IS NOT NULL AND repo_slug IS NOT NULL
  GROUP BY username, repo_slug),
a AS (
  SELECT username, CAST(sum(c) AS BIGINT) AS n_requests,
         CAST(count(*) AS BIGINT) AS n_repos,
         sum(c * ln(c)) AS s
  FROM pc GROUP BY username HAVING sum(c) >= 5)
SELECT username, n_requests, n_repos,
  floor((ln(n_requests) - s / n_requests) / ln(2.0) * 1000000 + 0.5)
    / 1000000.0 AS entropy_bits,
  CASE WHEN n_repos > 1 THEN
    floor(((ln(n_requests) - s / n_requests) / ln(2.0))
          / (ln(n_repos) / ln(2.0)) * 1000000 + 0.5) / 1000000.0
  ELSE 0.0 END AS norm_entropy
FROM a ORDER BY username"""
    d["events_xcorr_lag"] = """
WITH hc AS (
  SELECT event_type AS t,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY t, h),
spine AS (
  SELECT unnest(generate_series((SELECT min(h) FROM hc),
                                (SELECT max(h) FROM hc))) AS h),
dense AS (
  SELECT spine.h,
         coalesce(x.c, 0) AS x, coalesce(y.c, 0) AS y
  FROM spine
  LEFT JOIN (SELECT h, c FROM hc WHERE t = 'click') x ON x.h = spine.h
  LEFT JOIN (SELECT h, c FROM hc WHERE t = 'purchase') y ON y.h = spine.h),
lags AS (SELECT unnest([0, 1, 2, 3]) AS lag),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.y) AS BIGINT) AS sy,
         CAST(sum(a.x * b.y) AS BIGINT) AS sxy,
         CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
         CAST(sum(b.y * b.y) AS BIGINT) AS syy
  FROM dense a CROSS JOIN lags JOIN dense b ON b.h = a.h + lag
  GROUP BY lag)
SELECT lag, n AS n_hours,
  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
    floor(CAST(n * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000 + 0.5)
      / 1000000.0
  END AS pearson_r
FROM m ORDER BY lag"""
    d["docs_data_card"] = r"""
WITH per AS (
  SELECT source, lang, n_chars AS nc,
         CAST(len(regexp_extract_all(trim(lower(text)),
              '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS nt,
         md5(text) AS h
  FROM documents),
base AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nc) AS BIGINT) AS n_chars,
         CAST(sum(nt) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT h) AS BIGINT) AS n_uniq,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM per GROUP BY source),
lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
       FROM per GROUP BY source, lang),
top AS (
  SELECT source, lang AS top_lang, c AS top_c FROM lc
  QUALIFY row_number() OVER (PARTITION BY source
                             ORDER BY c DESC, lang DESC) = 1),
cen AS (SELECT source, nc, count(*) AS c FROM per GROUP BY source, nc),
cum AS (
  SELECT source, nc,
         sum(c) OVER (PARTITION BY source ORDER BY nc
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM cen),
med AS (
  SELECT cum.source, CAST(min(nc) AS BIGINT) AS p50_chars
  FROM cum JOIN base ON cum.source = base.source
  WHERE 2 * cum >= n_docs GROUP BY cum.source)
SELECT b.source, b.n_docs, b.n_chars, b.n_tokens,
  floor(CAST(b.n_tokens AS DOUBLE) / b.n_docs * 1000000 + 0.5)
    / 1000000.0 AS avg_tokens,
  m.p50_chars, b.n_langs, t.top_lang,
  floor(CAST(t.top_c AS DOUBLE) / b.n_docs * 1000000 + 0.5)
    / 1000000.0 AS top_lang_share,
  floor(CAST(b.n_docs - b.n_uniq AS DOUBLE) / b.n_docs * 1000000 + 0.5)
    / 1000000.0 AS exact_dup_rate
FROM base b JOIN top t ON b.source = t.source
JOIN med m ON b.source = m.source
ORDER BY b.source"""
    d["docs_token_runs"] = r"""
WITH arrs AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
  FROM documents),
words AS (
  SELECT doc_id, u[1] AS w, CAST(u[2] AS BIGINT) AS idx, n_words FROM (
    SELECT doc_id, unnest(list_zip(ws, range(1, len(ws) + 1))) AS u,
           len(ws) AS n_words
    FROM arrs)),
runs AS (
  SELECT doc_id, w,
         idx - row_number() OVER (PARTITION BY doc_id, w ORDER BY idx)
           AS grp
  FROM words),
rl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
  FROM runs GROUP BY doc_id, w, grp),
mr AS (SELECT doc_id, max(run_len) AS max_run FROM rl GROUP BY doc_id),
st AS (
  SELECT doc_id, CAST(max(n_words) AS BIGINT) AS n_words,
         CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
  FROM words GROUP BY doc_id),
j AS (
  SELECT st.doc_id, st.n_words, mr.max_run, st.n_distinct,
         floor(CAST(st.n_distinct AS DOUBLE) / st.n_words * 1000000
               + 0.5) / 1000000.0 AS support_ratio
  FROM st JOIN mr USING (doc_id))
SELECT doc_id, n_words, max_run, n_distinct, support_ratio,
       (max_run >= 8 OR (n_words >= 50 AND support_ratio <= 0.2))
         AS degenerate
FROM j ORDER BY doc_id"""
    d["corpus_unimax"] = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
cap AS (
  SELECT *, CAST((4000000 * n_tokens) // 1000000 AS BIGINT) AS cap_toks
  FROM per),
rk AS (
  SELECT *, CAST(row_number() OVER w AS BIGINT) AS k,
         CAST(coalesce(sum(cap_toks) OVER (
             ORDER BY cap_toks, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS prefix_cap,
         CAST(count(*) OVER () AS BIGINT) AS n_src
  FROM cap WINDOW w AS (ORDER BY cap_toks, source)),
cp AS (
  SELECT *, cap_toks * (n_src - k + 1) <= 6000000 - prefix_cap AS capped
  FROM rk),
agg AS (
  SELECT *,
         CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
           AS BIGINT) AS m,
         CAST(coalesce(sum(CASE WHEN capped THEN cap_toks END)
             OVER (), 0) AS BIGINT) AS capped_mass
  FROM cp),
alloc AS (
  SELECT source, n_docs, n_tokens, cap_toks,
         CAST(CASE WHEN capped THEN cap_toks
              ELSE greatest((6000000 - capped_mass)
                            // greatest(n_src - m, 1), 0) END
           AS BIGINT) AS alloc_toks,
         capped
  FROM agg)
SELECT source, n_docs, n_tokens, cap_toks, alloc_toks, capped,
       floor(CAST(alloc_toks AS DOUBLE) / n_tokens * 1000000 + 0.5)
         / 1000000.0 AS epochs
FROM alloc ORDER BY source"""
    d["docs_split_leakage"] = """
WITH keyed AS (
  SELECT md5(text) AS h,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train' ELSE 'test' END AS split
  FROM documents),
grp AS (
  SELECT h,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_test
  FROM keyed GROUP BY h),
rows_ AS (
  SELECT 'train' AS split, n_train AS n,
         CASE WHEN n_test > 0 THEN n_train ELSE 0 END AS leak FROM grp
  UNION ALL
  SELECT 'test' AS split, n_test AS n,
         CASE WHEN n_train > 0 THEN n_test ELSE 0 END AS leak FROM grp),
agg AS (
  SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(leak) AS BIGINT) AS n_leaked
  FROM rows_ GROUP BY split)
SELECT split, n_docs, n_leaked,
       floor(CAST(n_leaked AS DOUBLE)
             / CASE WHEN n_docs > 0 THEN n_docs END * 1000000 + 0.5)
         / 1000000.0 AS leak_rate
FROM agg ORDER BY split"""
    d["docs_near_split_leakage"] = """
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
            * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.4
),
sp AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train' ELSE 'test' END AS split
  FROM documents WHERE doc_id < 250),
cross_ AS (
  SELECT p.doc_a, sa.split AS sp_a, p.doc_b, sb.split AS sp_b
  FROM pairs p
  JOIN sp sa ON p.doc_a = sa.doc_id
  JOIN sp sb ON p.doc_b = sb.doc_id
  WHERE sa.split <> sb.split),
leaked AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_leaked FROM (
    SELECT doc_a AS id, sp_a AS split FROM cross_
    UNION
    SELECT doc_b, sp_b FROM cross_
  ) GROUP BY split),
totals AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM sp GROUP BY split)
SELECT t.split, t.n_docs,
       CAST(coalesce(l.n_leaked, 0) AS BIGINT) AS n_leaked,
       floor(CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / t.n_docs
             * 1000000 + 0.5) / 1000000.0 AS leak_rate
FROM totals t LEFT JOIN leaked l ON t.split = l.split
ORDER BY t.split"""
    d["docs_jaccard_threshold_sweep"] = """
WITH s AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(words) - 2, 1)),
      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
),
pairs AS (
  SELECT doc_a, doc_b, jaccard FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      floor(len(list_intersect(a.shingles, b.shingles))
            / greatest(len(list_distinct(a.shingles || b.shingles)), 1)::DOUBLE
            * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.3
),
grid(threshold) AS (VALUES (0.3), (0.4), (0.5), (0.7), (0.9)),
fanned AS (
  SELECT g.threshold, p.doc_a, p.doc_b
  FROM pairs p JOIN grid g ON p.jaccard >= g.threshold),
np AS (
  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
  FROM fanned GROUP BY threshold),
nd AS (
  SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs_affected FROM (
    SELECT DISTINCT threshold, doc_a AS d FROM fanned
    UNION
    SELECT DISTINCT threshold, doc_b FROM fanned
  ) GROUP BY threshold)
SELECT g.threshold,
       CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(nd.n_docs_affected, 0) AS BIGINT) AS n_docs_affected
FROM grid g LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
ORDER BY g.threshold"""
    d["docs_dup_size_pareto"] = """
WITH census AS (
  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS k
  FROM documents GROUP BY h),
dist AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_clusters
  FROM census GROUP BY k),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
cum AS (
  SELECT k, n_clusters,
         CAST(k * n_clusters AS BIGINT) AS n_docs,
         CAST(sum((k - 1) * n_clusters) OVER (
             ORDER BY k DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS reclaim_docs
  FROM dist)
SELECT k, n_clusters, n_docs, reclaim_docs,
       floor(CAST(reclaim_docs AS DOUBLE) / t.n_total * 1000000 + 0.5)
         / 1000000.0 AS reclaim_share
FROM cum CROSS JOIN tot t ORDER BY k DESC"""
    d["corpus_curriculum_order"] = """
WITH cen AS (
  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY n_chars),
cc AS (
  SELECT v,
    sum(c) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER () AS n
  FROM cen),
q AS (SELECT
  min(CASE WHEN cum >= ceil(n * 1.0 / 4) THEN v END) AS q1,
  min(CASE WHEN cum >= ceil(n * 2.0 / 4) THEN v END) AS q2,
  min(CASE WHEN cum >= ceil(n * 3.0 / 4) THEN v END) AS q3
  FROM cc),
s AS (
  SELECT d.doc_id,
    CAST((CASE WHEN q.q1 < d.n_chars THEN 1 ELSE 0 END)
       + (CASE WHEN q.q2 < d.n_chars THEN 1 ELSE 0 END)
       + (CASE WHEN q.q3 < d.n_chars THEN 1 ELSE 0 END) AS BIGINT) AS stage,
    md5('42:' || CAST(d.doc_id AS VARCHAR)) AS pr
  FROM documents d CROSS JOIN q),
sh AS (
  SELECT doc_id, stage,
    CAST(CAST(('0x' || substr(pr, 1, 12)) AS BIGINT) % 8 AS BIGINT) AS shard,
    pr
  FROM s)
SELECT doc_id, stage, shard,
  CAST(row_number() OVER (PARTITION BY stage, shard ORDER BY pr, doc_id)
    AS BIGINT) AS pos
FROM sh ORDER BY stage, shard, pos"""
    d["corpus_shuffle_order"] = """
WITH p AS (
  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS pr
  FROM documents),
s AS (
  SELECT doc_id, pr,
         CAST(CAST(('0x' || substr(pr, 1, 12)) AS BIGINT) % 8 AS BIGINT) AS shard
  FROM p)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY pr, doc_id)
         AS BIGINT) AS pos
FROM s ORDER BY shard, pos"""
    d["corpus_interleave_order"] = """
WITH p AS (
  SELECT doc_id, source, md5('42:' || CAST(doc_id AS VARCHAR)) AS pr
  FROM documents),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY pr, doc_id)
           AS BIGINT) AS src_rank,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM p)
SELECT CAST(row_number() OVER (
         ORDER BY CAST(2 * src_rank - 1 AS DOUBLE) / CAST(2 * n_s AS DOUBLE),
                  source, src_rank) AS BIGINT) AS pos,
       doc_id, source, src_rank
FROM r ORDER BY pos"""
    d["corpus_order_audit"] = """
WITH pr AS (
  SELECT doc_id, source, md5('42:' || CAST(doc_id AS VARCHAR)) AS pr
  FROM documents),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY pr, doc_id)
           AS BIGINT) AS src_rank,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM pr),
o AS (
  SELECT CAST(row_number() OVER (
           ORDER BY CAST(2 * src_rank - 1 AS DOUBLE) / CAST(2 * n_s AS DOUBLE),
                    source, src_rank) AS BIGINT) AS pos,
         source
  FROM r),
i AS (
  SELECT source, pos,
         pos - row_number() OVER (PARTITION BY source ORDER BY pos) AS grp
  FROM o),
rl AS (SELECT source, grp, count(*) AS run_len FROM i GROUP BY source, grp),
runs AS (
  SELECT source, CAST(sum(run_len) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_runs,
         CAST(max(run_len) AS BIGINT) AS max_run
  FROM rl GROUP BY source),
adj AS (
  SELECT o1.source, CAST(count(*) AS BIGINT) AS adj_same
  FROM o o1 JOIN o o2 ON o2.pos = o1.pos + 1 AND o1.source = o2.source
  GROUP BY o1.source),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM o)
SELECT runs.source, n_docs, n_runs, max_run,
       CAST(coalesce(adj_same, 0) AS BIGINT) AS adj_same,
       floor(CAST(n_docs * (n_docs - 1) AS DOUBLE) / CAST(t.n_total AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS exp_adj_same
FROM runs LEFT JOIN adj USING (source) CROSS JOIN tot t
ORDER BY runs.source"""
    d["docs_lsh_s_curve"] = _lsh_s_curve_oracle()
    d["tpch_rollup_sales"] = """
WITH j AS (
  SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)::BIGINT
           AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey)
SELECT n_name, o_year,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(grouping(n_name, o_year) AS BIGINT) AS lvl
FROM j GROUP BY ROLLUP (n_name, o_year)
ORDER BY lvl, n_name, o_year"""
    d["tpch_sql_grouping_sets"] = """
WITH j AS (
  SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)::BIGINT
           AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey)
SELECT n_name, o_year,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(grouping(n_name, o_year) AS BIGINT) AS lvl
FROM j GROUP BY GROUPING SETS ((n_name), (o_year), ())
ORDER BY lvl, n_name, o_year"""
    d["events_stream_scd2_enrich"] = """
WITH ch AS (SELECT * FROM events WHERE event_id % 3 = 0),
m AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN lag(event_type) OVER w IS NULL
           OR lag(event_type) OVER w <> event_type
         THEN 1 ELSE 0 END AS _new
  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT *, sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
  FROM m),
i AS (
  SELECT user_id, run, min(event_type) AS state, min(ts) AS valid_from
  FROM r GROUP BY user_id, run),
dim AS (
  SELECT user_id, state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to
  FROM i)
SELECT e.event_type, d.state AS active_state,
       CAST(count(*) AS BIGINT) AS n_events
FROM events e
LEFT JOIN dim d ON e.user_id = d.user_id
  AND e.ts >= d.valid_from
  AND (d.valid_to IS NULL OR e.ts < d.valid_to)
GROUP BY e.event_type, d.state
ORDER BY e.event_type, active_state"""
    d["events_session_gap_sweep"] = """
WITH d AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
  FROM events),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN delta_us IS NULL OR delta_us > 300000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS s300,
         CAST(sum(CASE WHEN delta_us IS NULL OR delta_us > 900000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS s900,
         CAST(sum(CASE WHEN delta_us IS NULL OR delta_us > 1800000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS s1800,
         CAST(sum(CASE WHEN delta_us IS NULL OR delta_us > 3600000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS s3600
  FROM d),
e AS (
  SELECT CAST(300 AS BIGINT) AS gap_s, s300 AS n_sessions, n_events FROM a
  UNION ALL
  SELECT 900, s900, n_events FROM a
  UNION ALL
  SELECT 1800, s1800, n_events FROM a
  UNION ALL
  SELECT 3600, s3600, n_events FROM a)
SELECT gap_s, n_sessions, n_events,
       floor(n_events::DOUBLE / n_sessions::DOUBLE * 1000000 + 0.5)
         / 1000000.0 AS events_per_session
FROM e ORDER BY gap_s"""
    d["docs_dup_span_removal"] = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos,
         CAST(('0x' || substr(md5(lower(array_to_string(toks[i:i+7], ' '))),
                              1, 12)) AS BIGINT) AS h,
         doc_id * 2097152 + (i - 1) AS k
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8),
kp AS (SELECT h, min(k) AS keep_k, count(*) AS cnt FROM g GROUP BY h),
red AS (
  SELECT g.doc_id, g.pos
  FROM g JOIN kp USING (h)
  WHERE kp.cnt >= 2 AND g.k <> kp.keep_k),
dr AS (
  SELECT DISTINCT doc_id, idx
  FROM red, LATERAL unnest(generate_series(pos, pos + 7)) AS v(idx)),
kept AS (
  SELECT t.doc_id, u.j, toks[u.j] AS tok
  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(j)
  WHERE NOT EXISTS (SELECT 1 FROM dr
                    WHERE dr.doc_id = t.doc_id AND dr.idx = u.j - 1)),
rec AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after,
         string_agg(tok, ' ' ORDER BY j) AS text_clean
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_before,
       CAST(coalesce(rec.n_after, 0) AS BIGINT) AS n_after,
       coalesce(rec.text_clean, '') AS text_clean
FROM t LEFT JOIN rec USING (doc_id) ORDER BY t.doc_id"""
    d["log_shadow_diff"] = f"""{_PARSE_CTE}
, pr AS (
  SELECT day_str, req_counter,
         min(CASE WHEN req_dir = 'i' THEN ts END) AS ts_in,
         max(CASE WHEN req_dir = 'o' THEN ts END) AS ts_out
  FROM parsed WHERE is_parsed AND req_dir IN ('i','o')
  GROUP BY day_str, req_counter),
st AS (
  SELECT CAST(sum(CASE WHEN ts_in IS NOT NULL AND ts_out IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         CAST(sum(CASE WHEN ts_in IS NULL OR ts_out IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_only_left
  FROM pr)
SELECT c.col AS "column", n_both, n_both AS n_match,
       CAST(0 AS BIGINT) AS n_mismatch, n_only_left,
       CAST(0 AS BIGINT) AS n_only_right
FROM st CROSS JOIN (VALUES ('duration_ms'), ('latency_ms'), ('op_type'),
                           ('ts_in'), ('ts_out'), ('username')) AS c(col)
ORDER BY "column\""""
    d["docs_winnow_fingerprints"] = f"""
WITH {_winnow_ctes(4, 5)},
fp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps
       FROM sel GROUP BY doc_id)
SELECT pd.doc_id, pd.n_grams,
       CAST(greatest(pd.n_grams - 4, 1) AS BIGINT) AS n_windows,
       CAST(coalesce(fp.n_fps, 0) AS BIGINT) AS n_fps,
       floor(coalesce(fp.n_fps, 0) / pd.n_grams::DOUBLE * 1000000 + 0.5)
         / 1000000.0 AS density
FROM pd LEFT JOIN fp USING (doc_id) ORDER BY pd.doc_id"""
    d["docs_winnow_shared_pairs"] = f"""
WITH {_winnow_ctes(4, 5)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM sel a JOIN sel b ON a.mh = b.mh AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b HAVING count(*) >= 2 ORDER BY doc_a, doc_b"""
    d["docs_domain_cap"] = r"""
WITH p AS (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' see https://cdn' || CAST(doc_id % 5 AS VARCHAR)
                   || '.example.com/a and http://mirror'
                   || CAST(doc_id % 3 AS VARCHAR) || '.example.net/b'
              ELSE text END AS text
  FROM documents),
dom AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS _len,
         regexp_extract(text, 'https?://([a-z0-9.-]+)', 1) AS domain
  FROM p
  WHERE regexp_extract(text, 'https?://([a-z0-9.-]+)', 1) <> ''),
r AS (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain
                            ORDER BY _len DESC, doc_id ASC) AS rk
  FROM dom),
c AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
      FROM dom GROUP BY domain)
SELECT r.domain, r.doc_id, CAST(r.rk AS INTEGER) AS cap_rank, c.n_docs
FROM r JOIN c USING (domain)
WHERE r.rk <= 8
ORDER BY domain, cap_rank"""
    d["docs_conformal_bounds"] = """
WITH s AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS y,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
              THEN 'train' ELSE 'test' END AS split
  FROM documents),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_cal,
         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) / count(*) AS mean_y
  FROM s WHERE split = 'train' GROUP BY source),
calr AS (
  SELECT s.source, s.doc_id, st.n_cal,
         CAST(floor(abs(CAST(y AS DOUBLE) - mean_y) * 1000 + 0.5)
           AS BIGINT) AS resid
  FROM s JOIN st USING (source) WHERE split = 'train'),
rr AS (
  SELECT source, n_cal, resid,
         row_number() OVER (PARTITION BY source
                            ORDER BY resid ASC, doc_id ASC) AS r
  FROM calr),
q AS (
  SELECT source, resid AS q_milli FROM rr
  WHERE r = ((n_cal + 1) * 9 + 9) // 10),
t AS (
  SELECT s.source, st.n_cal, q.q_milli,
         CAST(floor(abs(CAST(y AS DOUBLE) - mean_y) * 1000 + 0.5)
           AS BIGINT) AS resid
  FROM s JOIN st USING (source) LEFT JOIN q ON s.source = q.source
  WHERE split = 'test')
SELECT source, max(n_cal) AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
       max(q_milli) AS q_milli,
       CAST(sum(CASE WHEN q_milli IS NULL OR resid <= q_milli
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(floor(CAST(sum(CASE WHEN q_milli IS NULL OR resid <= q_milli
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                  * 1000000 + 0.5) AS BIGINT) AS coverage_e6
FROM t GROUP BY source ORDER BY source"""
    d["events_wasserstein_drift"] = """
WITH b AS (SELECT min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d0,
                  max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d1
           FROM events),
h AS (SELECT floor(value * 100 + 0.5)::BIGINT AS cents,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 2 <= d0 + d1
               AS is_base
      FROM events, b),
c AS (SELECT cents,
             CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS nc
      FROM h GROUP BY cents),
s AS (SELECT cents,
             CAST(sum(nb) OVER (ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
             CAST(sum(nc) OVER (ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
             CAST(sum(nb) OVER () AS BIGINT) AS tnb,
             CAST(sum(nc) OVER () AS BIGINT) AS tnc,
             lead(cents) OVER (ORDER BY cents) - cents AS gap
      FROM c)
SELECT max(tnb) AS n_base, max(tnc) AS n_cur,
       CAST(sum(abs(cb * tnc - cc * tnb) * gap) AS BIGINT) AS w1_num,
       CAST(floor(CAST(CAST(sum(abs(cb * tnc - cc * tnb) * gap) AS BIGINT)
                    AS DOUBLE)
                  / CAST(max(tnb) * max(tnc) AS DOUBLE) * 1000000 + 0.5)
         AS BIGINT) AS w1_cents_e6
FROM s WHERE gap IS NOT NULL"""
    # RBO weight table: W(m) = sum_{d=m..k} p^(d-1)/d, quantized to 1e-9
    # integers ONCE here and embedded as the same literals in the Spark
    # plan (operators/similarity.py:rbo_overlap) and this CASE — the
    # cross-engine sum is pure integer addition.
    _rbo_p, _rbo_k = 0.9, 10
    _rbo_w = [
        int(
            (1 - _rbo_p)
            * sum(_rbo_p ** (dd - 1) / dd for dd in range(m, _rbo_k + 1))
            * 1e9
            + 0.5
        )
        for m in range(1, _rbo_k + 1)
    ]
    _rbo_case = " ".join(
        f"WHEN {m} THEN {_rbo_w[m - 1]}" for m in range(1, _rbo_k + 1)
    )
    d["emb_rbo_overlap"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings ORDER BY vec_id LIMIT 3),
f AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank_full
  FROM (SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                 AS cosine
        FROM embeddings e CROSS JOIN q)
  QUALIFY rank_full <= {_rbo_k}),
t AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank_trunc
  FROM (SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity((e.embedding::DOUBLE[])[1:16],
                                            (q.qv)[1:16]), 6) AS cosine
        FROM embeddings e CROSS JOIN q)
  QUALIFY rank_trunc <= {_rbo_k}),
joint AS (
  SELECT f.query_id, greatest(f.rank_full, t.rank_trunc) AS m
  FROM f JOIN t ON f.query_id = t.query_id AND f.vec_id = t.vec_id)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_joint,
       CAST(sum(CASE m {_rbo_case} END) AS BIGINT) AS rbo_e9
FROM joint GROUP BY query_id ORDER BY query_id"""
    d["docs_length_gini"] = """
WITH c AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, v),
s AS (
  SELECT source, n, n * v AS nv,
         sum(n * v) OVER (PARTITION BY source ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS S
  FROM c),
g AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(nv) AS BIGINT) AS total_chars,
         CAST(sum(n * (2 * S - nv)) AS BIGINT) AS lor
  FROM s GROUP BY source)
SELECT source, n_docs, total_chars,
       CAST(floor((1.0 - CAST(lor AS DOUBLE)
                         / CAST(n_docs * total_chars AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS gini_e6
FROM g ORDER BY source"""
    d["events_qq_shift"] = """
WITH c AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         floor(value * 100 + 0.5)::BIGINT AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY arm, cents),
cum AS (
  SELECT arm, cents,
         sum(n) OVER (PARTITION BY arm ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY arm) AS N
  FROM c),
qs AS (
  SELECT arm, d.decile, min(cents) AS q
  FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS decile) d
  WHERE cum * 10 >= d.decile * N
  GROUP BY arm, d.decile)
SELECT CAST(coalesce(a.decile, b.decile) AS INTEGER) AS decile,
       a.q AS q_a_cents, b.q AS q_b_cents,
       b.q - a.q AS shift_cents
FROM (SELECT * FROM qs WHERE arm = 'A') a
FULL OUTER JOIN (SELECT * FROM qs WHERE arm = 'B') b
  ON a.decile = b.decile
ORDER BY decile"""
    # streamed per-bucket counts are additive across micro-batches, so
    # the streaming PSI monitor equals the batch PSI exactly — same
    # mergeability device as events_stream_hll
    d["events_stream_psi"] = d["events_psi_drift"]
    d["events_logrank"] = """
WITH t0 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t0
  FROM events GROUP BY user_id),
t0f AS (SELECT * FROM t0 WHERE t0 IS NOT NULL),
te AS (
  SELECT e.user_id, t0f.t0,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > t0f.t0
                  THEN e.ts END) AS t_event
  FROM events e JOIN t0f USING (user_id) GROUP BY 1, 2),
c AS (SELECT max(CAST(ts AS DATE)) AS c_day FROM events),
pu AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         date_diff('day', CAST(t0 AS DATE),
                   coalesce(CAST(t_event AS DATE), c_day)) AS d_off,
         t_event IS NOT NULL AS is_event
  FROM te, c),
km AS (
  SELECT d_off,
         CAST(sum(CASE WHEN arm = 'A' AND is_event THEN 1 ELSE 0 END)
           AS BIGINT) AS d_a,
         CAST(sum(CASE WHEN arm = 'B' AND is_event THEN 1 ELSE 0 END)
           AS BIGINT) AS d_b,
         CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS m_a,
         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS m_b
  FROM pu GROUP BY d_off),
ar AS (
  SELECT d_off, d_a, d_b,
         CAST(sum(m_a) OVER ()
              - coalesce(sum(m_a) OVER (ORDER BY d_off
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_a,
         CAST(sum(m_b) OVER ()
              - coalesce(sum(m_b) OVER (ORDER BY d_off
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_b
  FROM km),
terms AS (
  SELECT d_a,
         CAST(floor((d_a + d_b) * n_a / (n_a + n_b) * 1000000 + 0.5)
           AS BIGINT) AS e_e6,
         CAST(floor(CAST(d_a + d_b AS DOUBLE)
                    * (CAST(n_a AS DOUBLE) / (n_a + n_b))
                    * (CAST(n_b AS DOUBLE) / (n_a + n_b))
                    * (CAST((n_a + n_b) - (d_a + d_b) AS DOUBLE)
                       / ((n_a + n_b) - 1))
                    * 1000000 + 0.5) AS BIGINT) AS v_e6
  FROM ar WHERE d_a + d_b > 0 AND n_a + n_b > 1),
agg AS (
  SELECT CAST(sum(d_a) AS BIGINT) AS o_a,
         CAST(sum(e_e6) AS BIGINT) AS e_a_e6,
         CAST(sum(v_e6) AS BIGINT) AS v_e6
  FROM terms)
SELECT o_a, e_a_e6, v_e6,
       CASE WHEN v_e6 > 0 THEN
         CAST(floor((CAST(o_a AS DOUBLE) - e_a_e6 / 1000000.0)
                    / sqrt(v_e6 / 1000000.0) * 1000000 + 0.5) AS BIGINT)
       END AS z_e6
FROM agg"""
    # events_ipw_ate: the per-stratum conditional sums, validity guards
    # and fixed-order double sums are generated from the same strata
    # table the Spark side uses, so the two mirrors cannot drift.
    from stash_log_parser_spark.operators.analyses import _IPW_STRATA

    _strat_case = "CASE " + " ".join(
        f"WHEN npre < {b} THEN {i}"
        if b is not None
        else f"ELSE {i}"
        for i, (b, _) in enumerate(_IPW_STRATA)
    ) + " END"
    _thr_case = "CASE " + " ".join(
        f"WHEN s = {i} THEN '{t}'" for i, (_, t) in enumerate(_IPW_STRATA)
    ) + " END"
    _k = len(_IPW_STRATA)
    _sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN s = {i} THEN 1 ELSE 0 END) AS BIGINT) AS n{i},\n"
        f"         CAST(sum(CASE WHEN s = {i} AND t = 1 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS nt{i},\n"
        f"         CAST(sum(CASE WHEN s = {i} AND t = 1 THEN y ELSE 0 END)"
        f" AS BIGINT) AS yt{i},\n"
        f"         CAST(sum(CASE WHEN s = {i} AND t = 0 THEN y ELSE 0 END)"
        f" AS BIGINT) AS yc{i}"
        for i in range(_k)
    )

    def _v(i):
        return f"(nt{i} > 0 AND n{i} - nt{i} > 0)"

    _n_valid = " + ".join(
        f"CASE WHEN {_v(i)} THEN n{i} ELSE 0 END" for i in range(_k)
    )
    _nt_tot = " + ".join(
        f"CASE WHEN {_v(i)} THEN nt{i} ELSE 0 END" for i in range(_k)
    )
    _yt_tot = " + ".join(
        f"CASE WHEN {_v(i)} THEN yt{i} ELSE 0 END" for i in range(_k)
    )
    _yc_tot = " + ".join(
        f"CASE WHEN {_v(i)} THEN yc{i} ELSE 0 END" for i in range(_k)
    )
    _n_sv = " + ".join(
        f"CASE WHEN {_v(i)} THEN 1 ELSE 0 END" for i in range(_k)
    )
    _y1_terms = " + ".join(
        f"CASE WHEN {_v(i)} THEN CAST(CAST(n{i} AS HUGEINT)"
        f" * CAST(yt{i} AS HUGEINT) AS DOUBLE) / CAST(nt{i} AS DOUBLE)"
        f" ELSE 0.0 END"
        for i in range(_k)
    )
    _y0_terms = " + ".join(
        f"CASE WHEN {_v(i)} THEN CAST(CAST(n{i} AS HUGEINT)"
        f" * CAST(yc{i} AS HUGEINT) AS DOUBLE)"
        f" / CAST(n{i} - nt{i} AS DOUBLE) ELSE 0.0 END"
        for i in range(_k)
    )
    _hajek_terms = " + ".join(
        f"CASE WHEN {_v(i)} THEN CAST(n{i} AS DOUBLE)"
        f" / CAST(n_valid AS DOUBLE)"
        f" * (CAST(yt{i} AS DOUBLE) / CAST(nt{i} AS DOUBLE)"
        f" - CAST(yc{i} AS DOUBLE) / CAST(n{i} - nt{i} AS DOUBLE))"
        f" ELSE 0.0 END"
        for i in range(_k)
    )
    d["events_ipw_ate"] = f"""
WITH sp AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us FROM events),
pu AS (
  SELECT user_id AS u,
         CAST(sum(CASE WHEN epoch_us(ts) <= mid_us THEN 1 ELSE 0 END)
              AS BIGINT) AS npre,
         sum(CASE WHEN epoch_us(ts) > mid_us
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events CROSS JOIN sp GROUP BY u),
tagged AS (
  SELECT y, s,
         CASE WHEN substr(md5(CAST(u AS VARCHAR)), 1, 1) < {_thr_case}
              THEN 1 ELSE 0 END AS t
  FROM (SELECT u, y, {_strat_case} AS s FROM pu)),
one AS (
  SELECT {_sums}
  FROM tagged),
tot AS (
  SELECT *,
         CAST({_n_valid} AS BIGINT) AS n_valid,
         CAST({_nt_tot} AS BIGINT) AS nt_tot,
         CAST({_yt_tot} AS BIGINT) AS yt_tot,
         CAST({_yc_tot} AS BIGINT) AS yc_tot,
         CAST({_n_sv} AS BIGINT) AS n_strata_valid
  FROM one)
SELECT n_valid AS n_users,
       n_strata_valid,
       CAST({_k} - n_strata_valid AS BIGINT) AS n_degenerate_strata,
       floor((CAST(yt_tot AS DOUBLE) / CAST(nt_tot AS DOUBLE)
              - CAST(yc_tot AS DOUBLE) / CAST(n_valid - nt_tot AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS naive_diff,
       floor((({_y1_terms}) / CAST(n_valid AS DOUBLE)
              - ({_y0_terms}) / CAST(n_valid AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS ipw_ate,
       floor(({_hajek_terms}) * 1000000 + 0.5) / 1000000.0 AS hajek_ate
FROM tot"""
    d["events_holt_forecast"] = """
WITH RECURSIVE hc AS (
  SELECT event_type AS t,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
types AS (SELECT DISTINCT t FROM hc),
dense AS (
  SELECT types.t, spine.h, CAST(coalesce(hc.n, 0) AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY types.t ORDER BY spine.h) - 1 AS i
  FROM spine CROSS JOIN types
  LEFT JOIN hc ON hc.t = types.t AND hc.h = spine.h),
nh AS (SELECT t, CAST(count(*) AS BIGINT) AS n_hours FROM dense GROUP BY t),
state AS (
  SELECT d0.t, CAST(0 AS BIGINT) AS i, d0.y AS l, d1.y - d0.y AS b,
         CAST(0.0 AS DOUBLE) AS sae
  FROM dense d0 JOIN dense d1 ON d1.t = d0.t AND d1.i = 1
  WHERE d0.i = 0
  UNION ALL
  SELECT s.t, s.i + 1,
         0.5 * d.y + (1.0 - 0.5) * (s.l + s.b),
         0.3 * ((0.5 * d.y + (1.0 - 0.5) * (s.l + s.b)) - s.l)
           + (1.0 - 0.3) * s.b,
         s.sae + abs(d.y - (s.l + s.b))
  FROM state s JOIN dense d ON d.t = s.t AND d.i = s.i + 1),
fin AS (
  SELECT s.t, s.l, s.b, s.sae, nh.n_hours
  FROM state s JOIN nh ON nh.t = s.t
  WHERE s.i = nh.n_hours - 1)
SELECT t AS event_type, n_hours,
       floor(l * 1000000 + 0.5) / 1000000.0 AS level,
       floor(b * 1000000 + 0.5) / 1000000.0 AS trend,
       floor(sae / CAST(n_hours - 1 AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS mae,
       floor((l + 1.0 * b) * 1000000 + 0.5) / 1000000.0 AS fc_1,
       floor((l + 2.0 * b) * 1000000 + 0.5) / 1000000.0 AS fc_2,
       floor((l + 3.0 * b) * 1000000 + 0.5) / 1000000.0 AS fc_3
FROM fin ORDER BY event_type"""
    d["log_token_coverage_curve"] = f"""
WITH tok AS (
  SELECT unnest(tokens) AS t
  FROM read_parquet('{CORPUS}')),
census AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
ranked AS (
  SELECT row_number() OVER (ORDER BY c DESC, t ASC) AS rk,
         sum(c) OVER (ORDER BY c DESC, t ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM census),
tot AS (SELECT CAST(max(cum) AS BIGINT) AS total FROM ranked),
targets(p) AS (VALUES (500), (900), (990), (999)),
hit AS (
  SELECT p, CAST(min(rk) AS BIGINT) AS vocab_size
  FROM ranked CROSS JOIN tot CROSS JOIN targets
  WHERE cum * 1000 >= p * total
  GROUP BY p)
SELECT CAST(p AS BIGINT) AS target_permille, vocab_size,
       CAST(cum AS BIGINT) AS cum_count, total AS total_tokens,
       floor(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS coverage
FROM hit JOIN ranked ON ranked.rk = hit.vocab_size CROSS JOIN tot
ORDER BY target_permille"""
    d["log_dpp_prune"] = f"""
SELECT day, source, CAST(count(*) AS BIGINT) AS n_docs
FROM read_parquet('{CORPUS}')
WHERE isodow(CAST(day AS DATE)) = 1
GROUP BY day, source
ORDER BY day, source"""
    # log_erlang_capacity: the Erlang-C expression fragments are
    # generated by the SAME builder the Spark side's structure follows
    # (operators/analyses.py:_erlang_c_sql) so the mirrors cannot drift.
    from stash_log_parser_spark.operators.analyses import _erlang_c_sql

    _efr = _erlang_c_sql(8)
    d["log_erlang_capacity"] = f"""{_PARSE_CTE},
hourly AS (
  SELECT hour_str || ':00' AS hour, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(duration_ms) AS BIGINT) AS sum_ms
  FROM parsed WHERE is_parsed AND duration_ms IS NOT NULL
  GROUP BY 1),
ha AS (
  SELECT hour, n,
         (CAST(n AS DOUBLE) / 3600.0)
           * (CAST(sum_ms AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0) AS a
  FROM hourly)
SELECT hour, n AS n_req,
       floor(a * 1000000 + 0.5) / 1000000.0 AS offered_erlangs,
       floor(a / {_efr["c_d"]} * 1000000 + 0.5) / 1000000.0 AS utilization,
       floor((CASE WHEN a < {_efr["c_d"]}
                   THEN ({_efr["t_c"]}) / (({_efr["partial"]}) + ({_efr["t_c"]}))
                   ELSE 1.0 END) * 1000000 + 0.5) / 1000000.0 AS p_wait,
       a >= {_efr["c_d"]} AS saturated,
       floor(({_efr["c_d"]} - a) * 1000000 + 0.5) / 1000000.0
         AS headroom_erlangs
FROM ha ORDER BY hour"""
    d["events_obrien_fleming"] = """
WITH sp AS (
  SELECT min(epoch_us(ts)) AS lo_us, max(epoch_us(ts)) AS hi_us
  FROM events),
tagged AS (
  SELECT ((epoch_us(ts) - lo_us) * 5) // (hi_us - lo_us + 1) AS w,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
  FROM events CROSS JOIN sp),
per_w AS (
  SELECT w,
         CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a0,
         CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS s_a0,
         sum(CASE WHEN arm = 'A' THEN CAST(y AS HUGEINT) * CAST(y AS HUGEINT)
                  ELSE 0 END) AS q_a0,
         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b0,
         CAST(sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT) AS s_b0,
         sum(CASE WHEN arm = 'B' THEN CAST(y AS HUGEINT) * CAST(y AS HUGEINT)
                  ELSE 0 END) AS q_b0
  FROM tagged GROUP BY w),
cum AS (
  SELECT CAST(w + 1 AS BIGINT) AS look,
         CAST(sum(n_a0) OVER win AS BIGINT) AS cn_a,
         CAST(sum(s_a0) OVER win AS BIGINT) AS cs_a,
         sum(q_a0) OVER win AS cq_a,
         CAST(sum(n_b0) OVER win AS BIGINT) AS cn_b,
         CAST(sum(s_b0) OVER win AS BIGINT) AS cs_b,
         sum(q_b0) OVER win AS cq_b
  FROM per_w
  WINDOW win AS (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)),
f AS (
  SELECT look, cn_a, cn_b,
         CAST(cs_b AS DOUBLE) / CAST(cn_b AS DOUBLE)
           - CAST(cs_a AS DOUBLE) / CAST(cn_a AS DOUBLE) AS diff,
         sqrt(
           CAST(CAST(cn_a AS HUGEINT) * cq_a
                - CAST(cs_a AS HUGEINT) * CAST(cs_a AS HUGEINT) AS DOUBLE)
             / (CAST(cn_a AS DOUBLE) * CAST(cn_a - 1 AS DOUBLE))
             / CAST(cn_a AS DOUBLE)
           + CAST(CAST(cn_b AS HUGEINT) * cq_b
                  - CAST(cs_b AS HUGEINT) * CAST(cs_b AS HUGEINT) AS DOUBLE)
             / (CAST(cn_b AS DOUBLE) * CAST(cn_b - 1 AS DOUBLE))
             / CAST(cn_b AS DOUBLE)) AS se,
         2.0401 * sqrt(5.0 / CAST(look AS DOUBLE)) AS boundary
  FROM cum)
SELECT look, cn_a AS n_a, cn_b AS n_b,
       floor(diff / se * 1000000 + 0.5) / 1000000.0 AS z,
       floor(boundary * 1000000 + 0.5) / 1000000.0 AS boundary,
       abs(diff / se) > boundary AS crossed
FROM f ORDER BY look"""
    d["log_burn_multiwindow"] = f"""{_PARSE_CTE},
mc AS (
  SELECT epoch_us(ts) // 60000000 AS m, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN duration_ms > 1000 THEN 1 ELSE 0 END)
              AS BIGINT) AS err
  FROM parsed WHERE is_parsed AND duration_ms IS NOT NULL
  GROUP BY 1),
b AS (SELECT min(m) AS m0, max(m) AS m1 FROM mc),
spine AS (SELECT unnest(generate_series(m0, m1)) AS m FROM b),
dense AS (
  SELECT spine.m, CAST(coalesce(mc.n, 0) AS BIGINT) AS n,
         CAST(coalesce(mc.err, 0) AS BIGINT) AS err
  FROM spine LEFT JOIN mc ON mc.m = spine.m),
agg AS (
  SELECT m,
         CAST(sum(n) OVER wf AS BIGINT) AS n_fast,
         CAST(sum(err) OVER wf AS BIGINT) AS err_fast,
         CAST(sum(n) OVER ws AS BIGINT) AS n_slow,
         CAST(sum(err) OVER ws AS BIGINT) AS err_slow
  FROM dense
  WINDOW wf AS (ORDER BY m ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         ws AS (ORDER BY m ROWS BETWEEN 59 PRECEDING AND CURRENT ROW))
SELECT strftime(make_timestamp(m * 60 * 1000000), '%Y-%m-%d %H:%M')
         AS minute,
       n_fast, err_fast,
       CASE WHEN n_fast > 0
            THEN floor(CAST(err_fast AS DOUBLE) / CAST(n_fast AS DOUBLE)
                       / 0.01 * 1000000 + 0.5) / 1000000.0 END AS burn_fast,
       n_slow, err_slow,
       CASE WHEN n_slow > 0
            THEN floor(CAST(err_slow AS DOUBLE) / CAST(n_slow AS DOUBLE)
                       / 0.01 * 1000000 + 0.5) / 1000000.0 END AS burn_slow,
       (err_fast * 1000000 > n_fast * 100000 AND n_fast > 0
        AND err_slow * 1000000 > n_slow * 100000 AND n_slow > 0) AS page
FROM agg ORDER BY minute"""
    d["events_winsorized_lift"] = """
WITH tagged AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
  FROM events),
census AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM tagged GROUP BY y),
cum AS (
  SELECT y, CAST(sum(c) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS cum
  FROM census),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM census),
cap AS (
  SELECT CAST(min(y) AS BIGINT) AS cap
  FROM cum CROSS JOIN tot WHERE cum * 1000 >= 990 * n),
capped AS (
  SELECT arm, y, least(y, cap) AS yw, cap FROM tagged CROSS JOIN cap),
one AS (
  SELECT CAST(max(cap) AS BIGINT) AS cap_cents,
         CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT) AS sb,
         CAST(sum(CASE WHEN arm = 'A' THEN yw ELSE 0 END) AS BIGINT) AS swa,
         CAST(sum(CASE WHEN arm = 'B' THEN yw ELSE 0 END) AS BIGINT) AS swb,
         CAST(sum(CASE WHEN y > cap THEN 1 ELSE 0 END) AS BIGINT)
           AS n_capped
  FROM capped)
SELECT n_a, n_b, cap_cents, n_capped,
       floor((CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)
              - CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) * 1000000 + 0.5)
         / 1000000.0 AS naive_diff,
       floor((CAST(swb AS DOUBLE) / CAST(n_b AS DOUBLE)
              - CAST(swa AS DOUBLE) / CAST(n_a AS DOUBLE)) * 1000000 + 0.5)
         / 1000000.0 AS winsorized_diff
FROM one"""
    d["events_stream_ewma"] = """
WITH RECURSIVE ordered AS (
  SELECT event_type AS t, ntile(4) OVER (ORDER BY ts) AS chunk
  FROM events),
pc AS (
  SELECT t, chunk, CAST(count(*) AS BIGINT) AS n
  FROM ordered GROUP BY 1, 2),
ix AS (
  SELECT t, chunk, n,
         CAST(row_number() OVER (PARTITION BY t ORDER BY chunk)
              AS BIGINT) AS seq
  FROM pc),
state AS (
  SELECT t, seq, n, n * 1000000 AS before_e6, n * 1000000 AS after_e6,
         FALSE AS alarm
  FROM ix WHERE seq = 1
  UNION ALL
  SELECT i.t, i.seq, i.n, s.after_e6,
         (1 * i.n * 1000000 + 3 * s.after_e6) // 4,
         abs(i.n * 1000000 - s.after_e6) * 2 > s.after_e6 * 1
  FROM state s JOIN ix i ON i.t = s.t AND i.seq = s.seq + 1)
SELECT t AS event_type, seq AS batch_seq, n,
       CAST(before_e6 AS BIGINT) AS ewma_before_e6,
       CAST(after_e6 AS BIGINT) AS ewma_after_e6, alarm
FROM state ORDER BY event_type, batch_seq"""
    _hw_l = "0.25 * (d.y - s.season[1]) + (1.0 - 0.25) * (s.l + s.b)"
    d["events_holt_winters"] = f"""
WITH RECURSIVE hc AS (
  SELECT event_type AS t,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
bb AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM bb),
types AS (SELECT DISTINCT t FROM hc),
dense AS (
  SELECT types.t, spine.h, CAST(coalesce(hc.n, 0) AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY types.t ORDER BY spine.h) - 1 AS i
  FROM spine CROSS JOIN types
  LEFT JOIN hc ON hc.t = types.t AND hc.h = spine.h),
nh AS (SELECT t, CAST(count(*) AS BIGINT) AS n_hours FROM dense GROUP BY t),
init0 AS (
  SELECT t,
         CAST(sum(CASE WHEN i < 24 THEN y END) AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN i >= 24 AND i < 48 THEN y END) AS DOUBLE) AS s2,
         list(y ORDER BY i) FILTER (WHERE i < 24) AS ys1
  FROM dense GROUP BY t),
state AS (
  SELECT t, CAST(23 AS BIGINT) AS i, s1 / 24.0 AS l,
         (s2 - s1) / 576.0 AS b,
         list_transform(ys1, v -> v - s1 / 24.0) AS season,
         CAST(0.0 AS DOUBLE) AS sae
  FROM init0
  UNION ALL
  SELECT s.t, s.i + 1,
         {_hw_l},
         0.1 * (({_hw_l}) - s.l) + (1.0 - 0.1) * s.b,
         s.season[2:]
           || [0.25 * (d.y - ({_hw_l})) + (1.0 - 0.25) * s.season[1]],
         s.sae + abs(d.y - (s.l + s.b + s.season[1]))
  FROM state s JOIN dense d ON d.t = s.t AND d.i = s.i + 1),
fin AS (
  SELECT s.t, s.l, s.b, s.season, s.sae, nh.n_hours
  FROM state s JOIN nh ON nh.t = s.t WHERE s.i = nh.n_hours - 1)
SELECT t AS event_type, n_hours,
       floor(l * 1000000 + 0.5) / 1000000.0 AS level,
       floor(b * 1000000 + 0.5) / 1000000.0 AS trend,
       floor(sae / CAST(n_hours - 24 AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS mae,
       floor((l + 1.0 * b + season[1]) * 1000000 + 0.5) / 1000000.0 AS fc_1,
       floor((l + 2.0 * b + season[2]) * 1000000 + 0.5) / 1000000.0 AS fc_2,
       floor((l + 3.0 * b + season[3]) * 1000000 + 0.5) / 1000000.0 AS fc_3
FROM fin ORDER BY event_type"""
    # events_shapley_attribution: bit case, census collapse and the
    # per-channel Shapley sums are generated from the same
    # _SHAPLEY_CHANNELS/_shapley_subsets tables the Spark side uses.
    from stash_log_parser_spark.operators.analyses import (
        _SHAPLEY_CHANNELS,
        _shapley_subsets,
    )

    _bit_case = "CASE " + " ".join(
        f"WHEN event_type = '{n}' THEN {b}" for n, b in _SHAPLEY_CHANNELS
    ) + " END"
    _nm = 1 << len(_SHAPLEY_CHANNELS)
    _cens = ",\n         ".join(
        f"CAST(sum(CASE WHEN mask = {m} THEN n ELSE 0 END) AS BIGINT)"
        f" AS n{m},\n"
        f"         CAST(sum(CASE WHEN mask = {m} THEN c ELSE 0 END)"
        f" AS BIGINT) AS c{m}"
        for m in range(_nm)
    )

    def _vs(m):
        return (
            f"CASE WHEN n{m} > 0 THEN CAST(c{m} AS DOUBLE)"
            f" / CAST(n{m} AS DOUBLE) ELSE 0.0 END"
        )

    _sel = []
    for _name, _b in _SHAPLEY_CHANNELS:
        subs = _shapley_subsets(_b)
        terms = " + ".join(
            f"{float(num)!r} * (({_vs(mask | _b)}) - ({_vs(mask)}))"
            for mask, num, _dn in subs
        )
        exposed = " + ".join(f"n{m}" for m in range(_nm) if m & _b)
        _sel.append(
            f"SELECT '{_name}' AS channel,"
            f" CAST({exposed} AS BIGINT) AS n_exposed,"
            f" floor(({terms}) / {float(subs[0][2])!r} * 1000000 + 0.5)"
            f" / 1000000.0 AS shapley FROM one"
        )
    d["events_shapley_attribution"] = f"""
WITH base AS (
  SELECT user_id AS u, epoch_us(ts) AS us, event_type,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id) AS fp
  FROM events),
tagged AS (SELECT u, fp, {_bit_case} AS bit, us FROM base),
pu AS (
  SELECT u, CAST(bit_or(bit) AS BIGINT) AS mask,
         CAST(max(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS conv
  FROM tagged WHERE bit IS NOT NULL AND (fp IS NULL OR us < fp)
  GROUP BY u),
au AS (
  SELECT u,
         CAST(max(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS conv_all
  FROM tagged GROUP BY u),
cr AS (
  SELECT coalesce(mask, 0) AS mask,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(coalesce(conv, conv_all)) AS BIGINT) AS c
  FROM au LEFT JOIN pu USING (u)
  GROUP BY 1),
one AS (
  SELECT {_cens}
  FROM cr)
SELECT * FROM (
{chr(10).join(s + (" UNION ALL" if i < len(_sel) - 1 else "") for i, s in enumerate(_sel))}
) ORDER BY channel"""
    d["events_rate_limit"] = """
WITH RECURSIVE e AS (
  SELECT user_id AS u, epoch_us(ts) AS us,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
              AS BIGINT) AS seq
  FROM events),
nmax AS (SELECT u, max(seq) AS n FROM e GROUP BY u),
state AS (
  SELECT u, seq, us, CAST(1000000 AS BIGINT) AS bal,
         CAST(0 AS BIGINT) AS n_rej, CAST(NULL AS BIGINT) AS first_rej
  FROM e WHERE seq = 1
  UNION ALL
  SELECT n.u, n.seq, n.us,
         CASE WHEN least(2000000, s.bal + (n.us - s.us) * 1 // 3600)
                   >= 1000000
              THEN least(2000000, s.bal + (n.us - s.us) * 1 // 3600)
                   - 1000000
              ELSE least(2000000, s.bal + (n.us - s.us) * 1 // 3600) END,
         s.n_rej + CASE WHEN least(2000000,
                               s.bal + (n.us - s.us) * 1 // 3600)
                             >= 1000000 THEN 0 ELSE 1 END,
         coalesce(s.first_rej,
                  CASE WHEN least(2000000,
                              s.bal + (n.us - s.us) * 1 // 3600)
                            < 1000000 THEN n.seq END)
  FROM state s JOIN e n ON n.u = s.u AND n.seq = s.seq + 1)
SELECT s.u AS user_id, nm.n AS n_req, s.n_rej AS n_rejected,
       floor(CAST(s.n_rej AS DOUBLE) / CAST(nm.n AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS reject_rate,
       s.first_rej AS first_reject_seq
FROM state s JOIN nmax nm ON nm.u = s.u AND s.seq = nm.n
ORDER BY user_id"""
    d["events_did_pretrends"] = """
WITH sp AS (
  SELECT min(epoch_us(ts)) AS lo_us,
         (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
  FROM events),
pre AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
              THEN 'A' ELSE 'B' END AS arm,
         (epoch_us(ts) - lo_us) // 86400000000 AS x,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
  FROM events CROSS JOIN sp WHERE epoch_us(ts) <= mid_us),
daily AS (
  SELECT arm, x,
         CAST(floor(CAST(sum(y) * 1000000 AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS ym
  FROM pre GROUP BY arm, x),
mom AS (
  SELECT
    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT) AS sx_a,
    sum(CASE WHEN arm = 'A' THEN CAST(ym AS HUGEINT) ELSE 0 END) AS sy_a,
    sum(CASE WHEN arm = 'A' THEN CAST(x AS HUGEINT) * CAST(ym AS HUGEINT)
             ELSE 0 END) AS sxy_a,
    CAST(sum(CASE WHEN arm = 'A' THEN x * x ELSE 0 END) AS BIGINT) AS sx2_a,
    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS BIGINT) AS sx_b,
    sum(CASE WHEN arm = 'B' THEN CAST(ym AS HUGEINT) ELSE 0 END) AS sy_b,
    sum(CASE WHEN arm = 'B' THEN CAST(x AS HUGEINT) * CAST(ym AS HUGEINT)
             ELSE 0 END) AS sxy_b,
    CAST(sum(CASE WHEN arm = 'B' THEN x * x ELSE 0 END) AS BIGINT) AS sx2_b
  FROM daily),
sl AS (
  SELECT greatest(n_a, n_b) AS nd,
         CAST(CAST(n_a AS HUGEINT) * sxy_a
              - CAST(sx_a AS HUGEINT) * sy_a AS DOUBLE)
           / CAST(CAST(n_a AS HUGEINT) * sx2_a
                  - CAST(sx_a AS HUGEINT) * sx_a AS DOUBLE) AS ra,
         CAST(CAST(n_b AS HUGEINT) * sxy_b
              - CAST(sx_b AS HUGEINT) * sy_b AS DOUBLE)
           / CAST(CAST(n_b AS HUGEINT) * sx2_b
                  - CAST(sx_b AS HUGEINT) * sx_b AS DOUBLE) AS rb
  FROM mom)
SELECT nd AS n_days_pre,
       floor(ra * 1000000 + 0.5) / 1000000.0 AS slope_a_e6,
       floor(rb * 1000000 + 0.5) / 1000000.0 AS slope_b_e6,
       floor((rb - ra) * 1000000 + 0.5) / 1000000.0 AS slope_gap_e6
FROM sl"""
    # log_autoscale_sim: the integer policy step is rendered once into
    # the recursive CTE; parameters mirror _q_log_autoscale_sim.
    _hi, _lo, _kup, _kdn, _cd, _r0, _rmin, _rmax = (
        700, 300, 3, 10, 5, 4, 1, 20,
    )
    _over = f"d.a_e6 > {_hi} * s.r * 1000"
    _under = f"d.a_e6 < {_lo} * s.r * 1000"
    _nup = f"CASE WHEN {_over} THEN s.up + 1 ELSE 0 END"
    _ndn = f"CASE WHEN {_under} THEN s.down + 1 ELSE 0 END"
    _act = (
        f"CASE WHEN s.cool > 0 THEN 0"
        f" WHEN ({_nup}) >= {_kup} AND s.r < {_rmax} THEN 1"
        f" WHEN ({_ndn}) >= {_kdn} AND s.r > {_rmin} THEN -1"
        f" ELSE 0 END"
    )
    d["log_autoscale_sim"] = f"""{_PARSE_CTE.replace("WITH _r", "WITH RECURSIVE _r", 1)},
mc AS (
  SELECT epoch_us(ts) // 60000000 AS m, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(duration_ms) AS BIGINT) AS sum_ms
  FROM parsed WHERE is_parsed AND duration_ms IS NOT NULL GROUP BY 1),
bnd AS (SELECT min(m) AS m0, max(m) AS m1 FROM mc),
spine AS (SELECT unnest(generate_series(m0, m1)) AS m FROM bnd),
dense AS (
  SELECT m, n, a_e6,
         CAST(row_number() OVER (ORDER BY m) - 1 AS BIGINT) AS i
  FROM (SELECT spine.m, CAST(coalesce(mc.n, 0) AS BIGINT) AS n,
               CAST((coalesce(mc.sum_ms, 0) * 50) // 3 AS BIGINT) AS a_e6
        FROM spine LEFT JOIN mc ON mc.m = spine.m)),
state AS (
  SELECT CAST(-1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS m,
         CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS a_e6,
         CAST({_r0} AS BIGINT) AS r, CAST(0 AS BIGINT) AS up,
         CAST(0 AS BIGINT) AS down, CAST(0 AS BIGINT) AS cool,
         CAST(0 AS BIGINT) AS action, FALSE AS over_util
  UNION ALL
  SELECT d.i, d.m, d.n, d.a_e6,
         s.r + ({_act}),
         CASE WHEN s.cool > 0 OR ({_act}) != 0 THEN 0 ELSE ({_nup}) END,
         CASE WHEN s.cool > 0 OR ({_act}) != 0 THEN 0 ELSE ({_ndn}) END,
         CASE WHEN s.cool > 0 THEN s.cool - 1
              WHEN ({_act}) != 0 THEN {_cd} ELSE 0 END,
         {_act},
         {_over}
  FROM state s JOIN dense d ON d.i = s.i + 1)
SELECT strftime(make_timestamp(m * 60 * 1000000), '%Y-%m-%d %H:%M')
         AS minute,
       n AS n_req, a_e6, r AS replicas, action, over_util
FROM state WHERE i >= 0
ORDER BY minute"""
    d["log_repo_gini"] = f"""{_PARSE_CTE},
rc AS (
  SELECT repo_slug, CAST(count(*) AS BIGINT) AS c
  FROM parsed WHERE is_parsed AND repo_slug IS NOT NULL
  GROUP BY repo_slug),
cen AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS n FROM rc GROUP BY c),
st AS (
  SELECT n, n * v AS nv,
    sum(n * v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS s
  FROM cen)
SELECT CAST(sum(n) AS BIGINT) AS n_repos,
  CAST(sum(nv) AS BIGINT) AS total_requests,
  CAST(floor((1.0 - CAST(CAST(sum(n * (2 * s - nv)) AS BIGINT) AS DOUBLE)
              / CAST(CAST(sum(n) AS BIGINT) * CAST(sum(nv) AS BIGINT)
                     AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS gini_e6
FROM st"""
    return d


def _cramer3_sql(p: str) -> dict[str, str]:
    """SQL text of the shared _cramer3 solve over moment columns named
    {p}n {p}1 {p}2 {p}y {p}11 {p}12 {p}22 {p}1y {p}2y {p}yy — identical
    association to the Spark expression DAG."""
    det = (f"({p}n * ({p}11 * {p}22 - {p}12 * {p}12)"
           f" - {p}1 * ({p}1 * {p}22 - {p}12 * {p}2)"
           f" + {p}2 * ({p}1 * {p}12 - {p}11 * {p}2))")
    det0 = (f"({p}y * ({p}11 * {p}22 - {p}12 * {p}12)"
            f" - {p}1 * ({p}1y * {p}22 - {p}12 * {p}2y)"
            f" + {p}2 * ({p}1y * {p}12 - {p}11 * {p}2y))")
    det1 = (f"({p}n * ({p}1y * {p}22 - {p}12 * {p}2y)"
            f" - {p}y * ({p}1 * {p}22 - {p}12 * {p}2)"
            f" + {p}2 * ({p}1 * {p}2y - {p}1y * {p}2))")
    det2 = (f"({p}n * ({p}11 * {p}2y - {p}1y * {p}12)"
            f" - {p}1 * ({p}1 * {p}2y - {p}1y * {p}2)"
            f" + {p}y * ({p}1 * {p}12 - {p}11 * {p}2))")
    w0 = f"({det0} / {det})"
    w1 = f"({det1} / {det})"
    w2 = f"({det2} / {det})"
    sse = f"({p}yy - ({w0} * {p}y + {w1} * {p}1y + {w2} * {p}2y))"
    sst = f"({p}yy - {p}y * {p}y / {p}n)"
    return {"w1": w1, "w2": w2, "sse": sse, "sst": sst}


def _loo_probe_sql() -> str:
    """DuckDB mirror of loo_probe_influence: per-source exact BIGINT
    moments, totals via one aggregate, leave-one-out = total − own,
    and the shared Cramer text applied to both the full (g-prefixed)
    and held-out (f-prefixed) moment vectors."""
    moments = ["n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y",
               "s2y", "syy"]
    sfx = {"n": "n", "s1": "1", "s2": "2", "sy": "y", "s11": "11",
           "s12": "12", "s22": "22", "s1y": "1y", "s2y": "2y",
           "syy": "yy"}
    tot = ", ".join(f"CAST(sum({m}) AS BIGINT) AS {m}" for m in moments)
    loo_cols = ", ".join(
        f"CAST(t.{m} - p.{m} AS DOUBLE) AS f{sfx[m]}" for m in moments
    )
    full_cols = ", ".join(
        f"CAST(t.{m} AS DOUBLE) AS g{sfx[m]}" for m in moments
    )
    L = _cramer3_sql("f")
    G = _cramer3_sql("g")
    q6 = "floor({e} * 1000000 + 0.5) / 1000000.0"
    return f"""
WITH f0 AS (
  SELECT source,
         CAST(n_chars AS BIGINT) AS x1,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
           AS x2,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS y
  FROM documents
  WHERE n_chars > 0 AND length(trim(text)) > 0),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM f0 GROUP BY source),
t AS (SELECT {tot} FROM per),
lo AS (
  SELECT p.source, p.n AS n_docs, {loo_cols}, {full_cols}
  FROM per p CROSS JOIN t)
SELECT source, n_docs,
       {q6.format(e=L["w1"])} AS w_nchars_loo,
       {q6.format(e=L["w2"])} AS w_alpha_loo,
       {q6.format(e=f"(1.0 - {L['sse']} / {L['sst']})")} AS r2_loo,
       {q6.format(e=f"({G['w1']} - {L['w1']})")} AS d_nchars,
       {q6.format(e=f"({G['w2']} - {L['w2']})")} AS d_alpha
FROM lo ORDER BY source"""


def _kcenter_sql(k: int = 8) -> str:
    """Unrolled farthest-first oracle: one (s_r, d_r) CTE pair per
    selection round, mirroring kcenter_coreset's quantized
    inner-product identity and id tie-breaks exactly."""
    q6 = "floor(({expr}) * 1000000 + 0.5) / 1000000.0"
    d2 = q6.format(
        expr="{a}.n2 + {s}.n2 - 2 * list_inner_product({a}.v, {s}.v)"
    )
    parts = [
        "WITH e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v, "
        + q6.format(
            expr="list_inner_product(embedding::DOUBLE[],"
            " embedding::DOUBLE[])"
        )
        + " AS n2 FROM embeddings)",
        "s1 AS (SELECT vid, v, n2 FROM e ORDER BY n2 DESC, vid ASC LIMIT 1)",
        "d1 AS (SELECT e.vid, e.v, e.n2, "
        + d2.format(a="e", s="s")
        + " AS min_d FROM e, s1 s WHERE e.vid <> s.vid)",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS (SELECT vid, v, n2, min_d FROM d{r - 1}"
            " ORDER BY min_d DESC, vid ASC LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"d{r} AS (SELECT d.vid, d.v, d.n2, least(d.min_d, "
                + d2.format(a="d", s="s")
                + f") AS min_d FROM d{r - 1} d, s{r} s"
                " WHERE d.vid <> s.vid)"
            )
    sels = [
        "SELECT CAST(1 AS INTEGER) AS sel_round, vid AS vec_id,"
        " CAST(NULL AS DOUBLE) AS min_dist FROM s1"
    ]
    for r in range(2, k + 1):
        sels.append(f"SELECT {r}, vid, min_d FROM s{r}")
    return (
        ",\n".join(parts) + "\n" + "\nUNION ALL ".join(sels)
        + "\nORDER BY sel_round"
    )
