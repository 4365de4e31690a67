"""The reference's analyses as Spark SQL group-bys / window aggregates.

Each function takes the parsed LogEntry DataFrame (functions/parse.py)
and returns a result DataFrame. Inventory mapping (SURVEY.md §3.5):

* A1 count_requests      — Analyser.hs:~30  countLines [K]
* A2 max_concurrent      — Analyser.hs:~60  maxConcurrent fold [K]
* A3 concurrency_by_hour — Analyser.hs:~80  plotDataConcurrentConn [K]
* A4 protocol_counts / protocol_by_hour
                          — Analyser.hs:~100 protocolCount,
                            GitOpsAnalyser.hs:~150 protocolStatsByHour [K]
* A5 git_operations      — GitOpsAnalyser.hs:~160 analyseGitOperations [K]
* A6 repository_stats    — GitOpsAnalyser.hs:~200 repositoryStats [K]
* A7 request_durations / duration_percentiles
                          — GitOpsAnalyser.hs:~180 gitRequestDuration [K]
* J1/J2 pair_requests / pairing_stats — the in|out request-id pairing the
  reference performs implicitly in stream order.

Scale notes (the 100 TB design):

* Group-bys are plain hash aggregates → Spark's partial (map-side)
  aggregation bounds shuffle volume by |groups|, not |rows|, so even the
  skewed hot-repo key ships at most one partial row per input partition.
  ``repository_stats(salt_partitions=...)`` additionally demonstrates the
  explicit two-phase salted form for aggregations where map-side partials
  can't save you (kept for parity with BASELINE.json:14).
* The ONLY ordered analysis (A2/A3) uses a window partitioned by ``day``
  — never a global single-partition window. Days are independent because
  the gauge resets daily (reference processes one day-file at a time).
* Pairing (J1) is expressed as ONE hash aggregation on
  ``(day, req_counter)`` instead of a self-join: half the shuffles, no
  skewed build side. A join formulation is kept for comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

OP_TYPES = ["clone", "fetch", "shallow_clone", "push", "ref_advertisement"]

# Plural column names used by repositoryStats output (reference prints
# `project/repo,clones,fetches,...`).
_OP_PLURAL = {
    "clone": "clones",
    "fetch": "fetches",
    "shallow_clone": "shallow_clones",
    "push": "pushes",
    "ref_advertisement": "ref_advertisements",
}


def _parsed(df: DataFrame) -> DataFrame:
    return df.filter(F.col("is_parsed"))


# ---------------------------------------------------------------------------
# A1
# ---------------------------------------------------------------------------


def count_requests(parsed: DataFrame) -> DataFrame:
    """Total / parsed / malformed line counts (malformed lines are counted,
    never silently dropped — SURVEY.md §3.3 F5)."""
    return parsed.agg(
        F.count("*").alias("total_lines"),
        F.sum(F.col("is_parsed").cast("long")).alias("parsed_lines"),
        F.sum((~F.col("is_parsed")).cast("long")).alias("malformed_lines"),
    )


# ---------------------------------------------------------------------------
# A2 / A3 — the ordered analysis
# ---------------------------------------------------------------------------


def concurrency_timeline(parsed: DataFrame) -> DataFrame:
    """Running concurrent-connection gauge, reconstructed from event order.

    The reference folds +1 on ``i`` / −1 on ``o`` in stream order
    (Analyser.hs:~60 [K]). A DataFrame has no global order, so the fold
    becomes a prefix sum over a window partitioned by day (the gauge
    resets at day boundaries — one log file per day) and ordered by
    ``(ts, req_dir, req_counter)``; ``'i' < 'o'`` lexically, so at equal
    timestamps the incoming event is counted first (zero-duration
    requests still register — SURVEY.md §8.3 tie-break). The result
    equals the server's own embedded gauge (tests/test_corpus.py).

    Each day's window is one task. A two-level scan (per-hour block
    sums, their prefix, then the scan within each block) spreads a day
    over 24 tasks, but its block sums and its event rows are two
    consumers of the input, which is then evaluated twice. Measured on
    4 cores (max_concurrent, one-day corpus, median of 3): over a
    ``parse_corpus`` frame, where the parse runs twice, it took twice
    as long (1.4M events: 35.6 s against 18.3 s); over the parsed stage
    parquet it was 0.5 s slower at 1.4M events and 0.24 s (7 %) faster
    at 4M, under 1 % of the 41.8 s that day's stage took to parse and
    write.
    """
    events = _parsed(parsed).filter(F.col("req_dir").isin("i", "o"))
    delta = F.when(F.col("req_dir") == "i", 1).otherwise(-1)
    w = (
        Window.partitionBy("day")
        .orderBy("ts", "req_dir", "req_counter")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn("concurrent", F.sum(delta).over(w))


def max_concurrent(parsed: DataFrame) -> DataFrame:
    """A2 maxConn: peak concurrent connections across the corpus."""
    return concurrency_timeline(parsed).agg(
        F.max("concurrent").alias("max_concurrent")
    )


def concurrency_by_hour(parsed: DataFrame, bucket: str = "hour") -> DataFrame:
    """A3: per-hour (or per-minute) peak of the running gauge."""
    tl = concurrency_timeline(parsed)
    bucket_col = F.date_trunc(bucket, "ts").alias(bucket)
    return (
        tl.groupBy(bucket_col)
        .agg(F.max("concurrent").alias("max_concurrent"))
        .orderBy(bucket)
    )


# ---------------------------------------------------------------------------
# A4
# ---------------------------------------------------------------------------


def protocol_counts(parsed: DataFrame) -> DataFrame:
    """Counts per raw protocol value over all parsed lines."""
    return _parsed(parsed).groupBy("protocol").agg(F.count("*").alias("n")).orderBy("protocol")


def protocol_by_hour(parsed: DataFrame) -> DataFrame:
    """Per-hour ssh-vs-http split of classified git-op responses
    (GitOpsAnalyser.hs:~150 protocolStatsByHour [K]; http ∪ https → http)."""
    ops = _parsed(parsed).filter(F.col("op_type").isNotNull())
    return (
        ops.groupBy(F.date_format("hour", "yyyy-MM-dd HH").alias("hour"))
        .agg(
            F.sum((F.col("protocol") == "ssh").cast("long")).alias("ssh"),
            F.sum(F.col("protocol").isin("http", "https").cast("long")).alias("http"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# A5
# ---------------------------------------------------------------------------


def git_operations(parsed: DataFrame) -> DataFrame:
    """Per-hour counts of the five git-op types split cache-hit / cache-miss.

    Fixed op set → ten conditional sums, NOT ``pivot`` (pivot launches an
    extra distinct-values job and here the columns are statically known).
    Non-``cache:hit`` responses bucket as miss, matching the reference's
    hit/else accounting (GitOpsAnalyser.hs:~135 [K], FIXTURES.md §4 A5).
    """
    ops = _parsed(parsed).filter(F.col("op_type").isNotNull())
    aggs = []
    for op in OP_TYPES:
        is_op = F.col("op_type") == op
        aggs.append(F.sum((is_op & F.col("cache_hit")).cast("long")).alias(f"{op}_hit"))
        aggs.append(F.sum((is_op & ~F.col("cache_hit")).cast("long")).alias(f"{op}_miss"))
    return (
        ops.groupBy(F.date_format("hour", "yyyy-MM-dd HH").alias("hour"))
        .agg(*aggs)
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# A6
# ---------------------------------------------------------------------------


def repository_stats(parsed: DataFrame, salt_partitions: int = 0) -> DataFrame:
    """Per-repository op counts sorted by clones desc (then slug asc).

    ``salt_partitions > 0`` demonstrates the explicit two-phase salted
    aggregation for hot keys (BASELINE.json:14): phase 1 groups by
    ``(repo_slug, salt)`` so a hot repo's rows spread over N reducers,
    phase 2 merges the partials. For pure sums Spark's map-side partial
    aggregation already bounds skew, so both forms return identical
    results (asserted in tests); the salted form is the template for
    skewed aggregates that lack partials (distincts, large collects).
    """
    ops = _parsed(parsed).filter(
        F.col("op_type").isNotNull() & F.col("repo_slug").isNotNull()
    )
    aggs = [
        F.sum((F.col("op_type") == op).cast("long")).alias(plural)
        for op, plural in _OP_PLURAL.items()
    ]
    if salt_partitions > 0:
        salt_src = (
            F.xxhash64("doc_id")
            if "doc_id" in parsed.columns
            else F.xxhash64("ts_raw", "req_counter")  # slim frames lack doc_id
        )
        salt = F.pmod(salt_src, F.lit(salt_partitions)).alias("_salt")
        partial = ops.groupBy(F.col("repo_slug"), salt).agg(*aggs)
        merged = partial.groupBy("repo_slug").agg(
            *[F.sum(p).alias(p) for p in _OP_PLURAL.values()]
        )
    else:
        merged = ops.groupBy("repo_slug").agg(*aggs)
    return merged.orderBy(F.desc("clones"), F.asc("repo_slug"))


# ---------------------------------------------------------------------------
# A7
# ---------------------------------------------------------------------------


def request_durations(parsed: DataFrame, keep_tokens: bool = True) -> DataFrame:
    """Raw git-op response durations (the reference emits these rows for
    gnuplot). ``tokens`` ride along so the routed sink satisfies the
    token-array-equality invariant (BASELINE.json:15)."""
    cols = ["op_type", "duration_ms", "username", "client_ip", "ts_raw"]
    if "doc_id" in parsed.columns:  # absent on slim-parsed frames
        cols.insert(0, "doc_id")
    if keep_tokens and "tokens" in parsed.columns:
        cols.append("tokens")
    return (
        _parsed(parsed)
        .filter(F.col("op_type").isNotNull() & F.col("duration_ms").isNotNull())
        .select(*cols)
    )


def duration_percentiles(parsed: DataFrame) -> DataFrame:
    """Per-op-type duration percentiles, exact (interpolated) for golden
    stability. The mergeable path for the 10^12-row scale is the
    duration histogram (duration_histogram → percentiles_from_histogram;
    SURVEY.md §3.5 A7).
    """
    durs = request_durations(parsed, keep_tokens=False)
    pcts = [0.5, 0.9, 0.95, 0.99]
    names = ["p50", "p90", "p95", "p99"]
    agg = F.percentile(F.col("duration_ms"), F.array(*[F.lit(p) for p in pcts]))
    exploded = [F.get(F.col("_p"), i).cast("double").alias(n) for i, n in enumerate(names)]
    return (
        durs.groupBy("op_type")
        .agg(
            F.count("*").alias("n"),
            F.mean("duration_ms").alias("mean_ms"),
            agg.alias("_p"),
        )
        .select("op_type", "n", "mean_ms", *exploded)
        .orderBy("op_type")
    )


# ---------------------------------------------------------------------------
# J1 / J2 — in|out pairing
# ---------------------------------------------------------------------------


def pair_requests(parsed: DataFrame, use_join: bool = False) -> DataFrame:
    """Pair each incoming event with its outgoing response.

    The request counter resets daily, so the pairing key is
    ``(day, req_counter)``. Default formulation: ONE hash aggregation
    with min_by-style conditional aggregates — a single shuffle, immune
    to build-side skew. ``use_join=True`` keeps the self-join
    formulation (SMJ/shuffled-hash under AQE) for plan comparison.
    """
    events = _parsed(parsed).filter(F.col("req_dir").isin("i", "o"))
    if use_join:
        inc = events.filter(F.col("req_dir") == "i").select(
            "day", "req_counter", F.col("ts").alias("ts_in")
        )
        out = events.filter(F.col("req_dir") == "o").select(
            "day",
            "req_counter",
            F.col("ts").alias("ts_out"),
            "username",
            "op_type",
            "duration_ms",
        )
        return inc.join(out, ["day", "req_counter"], "inner").withColumn(
            "latency_ms",
            (F.unix_micros("ts_out") - F.unix_micros("ts_in")) / 1000.0,
        )
    is_i = F.col("req_dir") == "i"
    is_o = F.col("req_dir") == "o"
    paired = events.groupBy("day", "req_counter").agg(
        F.min(F.when(is_i, F.col("ts"))).alias("ts_in"),
        F.max(F.when(is_o, F.col("ts"))).alias("ts_out"),
        F.max(F.when(is_o, F.col("username"))).alias("username"),
        F.max(F.when(is_o, F.col("op_type"))).alias("op_type"),
        F.max(F.when(is_o, F.col("duration_ms"))).alias("duration_ms"),
    )
    return paired.withColumn(
        "latency_ms",
        # exact integer-microsecond difference (a double-seconds cast
        # loses precision at ~1e-4 ms and breaks batch/stream equality)
        (F.unix_micros("ts_out") - F.unix_micros("ts_in")) / 1000.0,
    )


def pairing_stats(parsed: DataFrame) -> DataFrame:
    """J2 diagnostics: matched pairs and unmatched in/out counts."""
    p = pair_requests(parsed)
    return p.agg(
        F.sum((F.col("ts_in").isNotNull() & F.col("ts_out").isNotNull()).cast("long")).alias(
            "matched_pairs"
        ),
        F.sum(F.col("ts_out").isNull().cast("long")).alias("unmatched_incoming"),
        F.sum(F.col("ts_in").isNull().cast("long")).alias("unmatched_outgoing"),
    )


# ---------------------------------------------------------------------------
# mergeable duration histogram sketch (HDR-style, integer-exact)
# ---------------------------------------------------------------------------

PCTS = [0.5, 0.9, 0.95, 0.99]
PCT_NAMES = ["p50", "p90", "p95", "p99"]


def duration_bucket(col: Column) -> Column:
    """HDR-histogram-style bucket LOWER BOUND for a non-negative integer
    duration: exact below 32, else the value with all but the leading 5
    bits zeroed — 16 sub-buckets per power of two, so the lower bound
    under-estimates any member by at most 1/16 (6.25 %).

    Every step is exact integer arithmetic in BOTH engines:
    ``length(bin(v))`` is the bit length (string ops, no float log) and
    ``v / 2^k`` is an exact IEEE division for v < 2^53 (dividing an
    integer by a power of two only shifts the exponent) — no
    float-boundary flips, which is why this is oracle-hashable where a
    log-scale bucket would not be."""
    v = col.cast("long")
    b = F.length(F.bin(v))
    scale = F.pow(F.lit(2.0), (b - F.lit(5)).cast("double"))
    lo = (F.floor(v / scale) * scale).cast("long")
    return F.when(v < 32, v).otherwise(lo)


def duration_histogram(parsed: DataFrame, extra_keys: tuple = ()) -> DataFrame:
    """Per-(extra_keys, op_type, bucket) duration counts — the MERGEABLE
    per-day partial the 10^12-row percentile rollup wants: daily sinks
    store a few hundred (op_type, bucket) rows instead of raw durations,
    and the global rollup merges histograms instead of re-scanning raw
    data (round-2 review item on duration_percentiles_global)."""
    ops = _parsed(parsed).filter(
        F.col("op_type").isNotNull() & F.col("duration_ms").isNotNull()
    )
    return ops.groupBy(
        *extra_keys, "op_type", duration_bucket(F.col("duration_ms")).alias("bucket")
    ).agg(F.count("*").alias("n"))


def percentiles_from_histogram(hist: DataFrame) -> DataFrame:
    """(op_type, n, p50..p99) from merged histogram partials. The
    percentile at rank ceil(p·N) is the smallest bucket whose cumulative
    count reaches the rank; the reported value is that bucket's lower
    bound — within 6.25 % below the true order statistic by
    construction (test-bounded in test_analyses)."""
    from pyspark.sql import Window

    merged = hist.groupBy("op_type", "bucket").agg(F.sum("n").alias("n"))
    w_cum = Window.partitionBy("op_type").orderBy("bucket")
    w_all = Window.partitionBy("op_type")
    cum = merged.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_all)
    )
    picks = [
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("total")), F.col("bucket"))
        ).alias(name)
        for p, name in zip(PCTS, PCT_NAMES)
    ]
    return (
        cum.groupBy("op_type")
        .agg(F.max("total").cast("long").alias("n"), *picks)
        .orderBy("op_type")
    )


def integer_zscore_outliers(
    df: DataFrame,
    key_col: str,
    value_cents_col: str,
    k: int = 2,
    min_n: int = 3,
) -> DataFrame:
    """Per-group z-score outliers in EXACT integer arithmetic — the
    telemetry anomaly-detection shape (flag events far from their
    user's/host's own baseline) made hash-exact across engines.

    With integer values x (cents), group sums S1 = Σx, S2 = Σx² and
    count n, the test |x − mean| > k·σ_pop is equivalent to
    ``(n·x − S1)² > k² · (n·S2 − S1²)`` — every term an exact integer,
    so there is no float in the whole operator and a SQL twin agrees
    bit-for-bit (unlike stddev/variance, whose float accumulation
    order differs per engine). The squared terms reach (n·V)² for
    group size n and magnitude V — far past int64 for realistic
    telemetry (n=10^5, V=10^6 → 10^22) — so the comparison runs in
    DECIMAL(38,0) on the Spark side, matching DuckDB's automatic
    HUGEINT (int128) window sums: exact to 10^38, i.e. n·V ≤ 10^19.
    ``k`` must be an integer (k² must stay exact; pre-scale the values
    for fractional thresholds).

    One window pass per group key (a single hash shuffle on the key);
    groups smaller than ``min_n`` are never flagged. Returns the
    outlier rows with their group stats."""
    if k != int(k):
        raise ValueError(
            f"k must be an integer (got {k!r}): k² must stay exact for the "
            "integer comparison — scale value_cents instead for fractional σ"
        )
    dec = "decimal(38,0)"
    x = F.col(value_cents_col).cast("long")
    w = Window.partitionBy(key_col)
    n = F.count("*").over(w)
    # S1 accumulates in decimal too: a LongType sum silently wraps past
    # 2^63−1 (~9.2e18) while the docstring promises exactness to
    # n·V ≤ 10^19 (round-3 advice); S2 was already decimal.
    s1d = F.sum(x.cast(dec)).over(w)
    s2 = F.sum(x.cast(dec) * x.cast(dec)).over(w)
    nd, xd = n.cast(dec), x.cast(dec)
    lhs = (nd * xd - s1d) * (nd * xd - s1d)
    rhs = F.lit(int(k) * int(k)).cast(dec) * (nd * s2 - s1d * s1d)
    return (
        df.withColumn("_n", n)
        .withColumn("_lhs", lhs)
        .withColumn("_rhs", rhs)
        .filter((F.col("_n") >= min_n) & (F.col("_lhs") > F.col("_rhs")))
        .drop("_lhs", "_rhs")
        .withColumnRenamed("_n", "n_in_group")
    )


def capped_incidence(
    parsed: DataFrame, max_repos_per_user: int = 20
) -> DataFrame:
    """Deduplicated, per-user-CAPPED (username, repo_slug) incidence —
    the shared basket relation behind coaccess_pairs and
    association_rules. One hash-agg dedups, one user-keyed window caps
    at ``max_repos_per_user`` (kept by per-user op count, ties by
    slug) so every downstream self-join is bounded at
    C(cap, 2)·n_users pairs."""
    from pyspark.sql import Window

    inc = (
        parsed.filter(
            F.col("is_parsed")
            & F.col("op_type").isNotNull()
            & F.col("repo_slug").isNotNull()
            & F.col("username").isNotNull()
        )
        .groupBy("username", "repo_slug")
        .agg(F.count("*").alias("n_ops"))
    )
    w = Window.partitionBy("username").orderBy(
        F.desc("n_ops"), F.asc("repo_slug")
    )
    return (
        inc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_repos_per_user)
        .select("username", "repo_slug")
    )


def coaccess_pairs(
    parsed: DataFrame, max_repos_per_user: int = 20
) -> DataFrame:
    """The UNRANKED repo co-access edge set (repo_a < repo_b,
    n_users) that repo_coaccess tops and the graph operators
    (operators/graph.py) consume as their edge list.

    The self-join-within-user is the quadratic hazard: a bot touching
    50k repos would alone contribute 1.25e9 pairs. So the user×repo
    incidence is first deduplicated (one hash-agg) and then CAPPED at
    ``max_repos_per_user`` repos per user (kept deterministically by
    per-user op count, ties by slug) — the same audited-cap discipline
    as the LSH banding joins; the cap bounds the join at
    C(cap, 2)·n_users pairs."""
    capped = capped_incidence(parsed, max_repos_per_user)
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, "username")
        .filter(F.col("a.repo_slug") < F.col("b.repo_slug"))
        .groupBy(
            F.col("a.repo_slug").alias("repo_a"),
            F.col("b.repo_slug").alias("repo_b"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def repo_coaccess(
    parsed: DataFrame, max_repos_per_user: int = 20, top_pairs: int = 20
) -> DataFrame:
    """Repo co-access graph (the market-basket shape): pairs of repos
    fetched by the same user, ranked by how many distinct users share
    them — the signal behind "people who clone X also clone Y" and
    repo-clustering jobs. See coaccess_pairs for the capped edge
    build; output is the global top ``top_pairs``
    (TakeOrderedAndProject)."""
    pairs = coaccess_pairs(parsed, max_repos_per_user=max_repos_per_user)
    return pairs.orderBy(
        F.desc("n_users"), F.asc("repo_a"), F.asc("repo_b")
    ).limit(top_pairs)


def cusum_drift(
    series: DataFrame,
    key_col: str = "event_type",
    order_col: str = "hour",
    value_col: str = "x",
    threshold_mult: float = 3.0,
) -> DataFrame:
    """One-sided CUSUM change detection per key: the classic
    ``s_t = max(0, s_{t-1} + x_t - k)`` recurrence with reference
    value k = the key's own mean (so a sustained shift above baseline
    accumulates and trips the alarm, while noise resets to 0). The
    reset recurrence is not a window aggregate in any engine — like
    greedy packing it is the canonical custom-stateful shape: one
    applyInPandas per key partition, numpy loop inside, keys-only
    shuffle.

    All state is integer micro-units (x and k scaled by 1e6, BIGINT
    sums), so the trajectory is bit-exact across engines and the SQL
    oracle can unroll the recurrence with a recursive CTE. Alarm when
    s_t > threshold_mult · k.
    """
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(key_col, series.schema[key_col].dataType),
            T.StructField(order_col, series.schema[order_col].dataType),
            T.StructField("x", T.LongType()),
            T.StructField("cusum_micro", T.LongType()),
            T.StructField("alarm", T.BooleanType()),
        ]
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        xs = pdf["_x"].to_numpy()
        # k: the key's mean in micro units — sum*1e6/count is an exact
        # double division of <2^53 integers, identical in DuckDB
        import math

        k_micro = math.floor(int(xs.sum()) * 1e6 / len(xs) + 0.5)
        thr_micro = math.floor(threshold_mult * k_micro + 0.5)
        s, out_s, out_a = 0, [], []
        for x in xs:
            s = max(0, s + int(x) * 1_000_000 - k_micro)
            out_s.append(s)
            out_a.append(s > thr_micro)
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                order_col: pdf[order_col],
                "x": pdf["_x"],
                "cusum_micro": out_s,
                "alarm": out_a,
            }
        )

    narrowed = series.select(
        key_col, order_col, F.col(value_col).cast("long").alias("_x")
    )
    return narrowed.groupBy(key_col).applyInPandas(scan, schema=out_schema)


def seasonal_naive_error(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    period_hours: int = 24,
) -> DataFrame:
    """Seasonal-naive forecast audit: predict each hour's event count
    with the count from exactly ``period_hours`` earlier and report
    per-key MAE — the standard baseline every real forecaster must
    beat, and a drop-in data-quality monitor (a day whose traffic
    stops matching yesterday's shape lights up here before any model
    does).

    Hours are exact integers (``unix_micros div 3600·10^6``), so the
    lag join key and the absolute-error sum are engine-exact; only
    the final MAE division is round6'd. Plan: one hourly hash-agg,
    then a self-join on (key, hour−period) — both sides already
    partitioned by the same agg keys, so AQE plans it without an
    extra exchange."""
    hourly = events.groupBy(
        F.col(key_col).alias("key"),
        F.expr(f"unix_micros(date_trunc('hour', {ts_col})) div 3600000000").alias(
            "hr"
        ),
    ).agg(F.count("*").alias("x"))
    cur, prev = hourly.alias("cur"), hourly.alias("prev")
    joined = cur.join(
        prev,
        (F.col("cur.key") == F.col("prev.key"))
        & (F.col("cur.hr") == F.col("prev.hr") + period_hours),
    )
    per_key = joined.groupBy(F.col("cur.key").alias(key_col)).agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.abs(F.col("cur.x") - F.col("prev.x"))).alias("total_abs_err"),
    )
    return per_key.select(
        key_col,
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("total_abs_err").cast("long").alias("total_abs_err"),
        (
            F.floor(
                F.col("total_abs_err") / F.col("n_pairs") * 1000000.0 + F.lit(0.5)
            )
            / 1000000.0
        ).alias("mae"),
    )


def session_paths(
    events: DataFrame,
    gap_s: int = 1800,
    top_k: int = 20,
) -> DataFrame:
    """Top event-type TRIGRAM paths within user sessions — the
    sequence-mining rollup on top of gap sessionization (the 3-gram
    big sibling of the Markov transition matrix): which three-step
    journeys dominate the product.

    Sessions are the same 30-min-gap prefix-sum construction as
    events_sessionize; trigrams come from two ``lead``s inside the
    (user, session) window — all window work stays partitioned by
    user (never global), then one hash-agg on the trigram string.
    Gap compares exact MICROsecond integers (unix_micros / epoch_us)
    — immune to the second-granularity truncate-vs-round divergence.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: F.unix_micros(c.cast("timestamp_ltz"))  # noqa: E731
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(
        lag_ts.isNull()
        | (epoch(F.col("ts")) - epoch(lag_ts) > gap_s * 1_000_000),
        1,
    ).otherwise(0)
    sess = events.withColumn("_sid", F.sum(new_s).over(w))
    ws = Window.partitionBy("user_id", "_sid").orderBy("ts", "event_id")
    tri = sess.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(ws),
            F.lead("event_type", 2).over(ws),
        ).alias("path"),
        F.lead("event_type", 2).over(ws).alias("_t3"),
    ).filter(F.col("_t3").isNotNull())
    return (
        tri.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(top_k)
    )


def sequence_pattern_match(
    events: DataFrame,
    pattern: str,
    type_codes: dict,
    gap_s: int = 1800,
) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching over gap
    sessions — "how many sessions contain view→(anything but
    purchase)*→purchase?" expressed as a REGEX over per-session
    event-code strings (the portable core of SQL:2016 row pattern
    recognition; Spark has no MATCH_RECOGNIZE clause, so the
    session string + regexp_count composition is the idiomatic
    DataFrame route).

    Each event type maps to ONE character via ``type_codes`` (unmapped
    types become '.', a code that matches no pattern literal); each
    session's ordered events collapse to a compact code string;
    ``pattern`` is counted per session with non-overlapping leftmost
    semantics (regexp_count — identical semantics in the DuckDB twin).

    Output (one row): n_sessions, n_matched, n_matches, match_share.

    Scale shape: sessionization is the shared user-partitioned
    prefix-sum window (one shuffle on user_id, microsecond-exact gap
    compare); the code string is built per (user, session) via
    sort_array(collect_list(struct(ts, event_id, code))) — the ONLY
    per-group materialization is one char per event, so a session of
    10k events is a 10 KB string, and the struct sort is session-local
    (no global sort). A runaway bot session is the skew risk: cap it
    upstream with a per-session row_number limit if sessions are
    unbounded. Final rollup is a 4-number scalar aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: F.unix_micros(c.cast("timestamp_ltz"))  # noqa: E731
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(
        lag_ts.isNull()
        | (epoch(F.col("ts")) - epoch(lag_ts) > gap_s * 1_000_000),
        1,
    ).otherwise(0)
    code = F.lit(".")
    for t, c in sorted(type_codes.items()):
        code = F.when(F.col("event_type") == t, F.lit(c)).otherwise(code)
    sess = events.withColumn("_sid", F.sum(new_s).over(w)).withColumn("_c", code)
    strings = (
        sess.groupBy("user_id", "_sid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "_c"))
                    ),
                    lambda s: s["_c"],
                ),
                "",
            ).alias("codes")
        )
        .select(F.regexp_count(F.col("codes"), F.lit(pattern)).alias("_m"))
    )
    return strings.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum((F.col("_m") > 0).cast("long")).alias("n_matched"),
        F.sum("_m").cast("long").alias("n_matches"),
        (
            F.sum((F.col("_m") > 0).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("match_share"),
    )


def benford_first_digit(
    df: DataFrame, value_col: str, round6=None
) -> DataFrame:
    """Benford's-law audit of a positive metric column — the standard
    data-forensics screen for synthetic or truncated measurements
    (request durations, byte counts). Reports per leading digit d the
    observed share vs the Benford expectation log10(1+1/d) and the
    chi-square contribution n·(obs−exp)²/exp.

    One hash-agg to 9 rows, then scalar math — nothing corpus-sized
    leaves the map side. Shares are quantized with round6 in ONE
    mirrored expression shape so the ln/log10 rounding matches the
    DuckDB twin."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    v = F.col(value_col)
    digits = (
        df.filter(v >= 1)
        .select(F.substring(v.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = digits.agg(F.sum("n").alias("n_total"))
    j = digits.crossJoin(tot)
    obs = F.col("n").cast("double") / F.col("n_total")
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    chi = (
        F.col("n_total")
        * (obs - exp)
        * (obs - exp)
        / exp
    )
    return j.select(
        "digit",
        "n",
        _r6(obs).alias("obs_share"),
        _r6(exp).alias("benford_share"),
        _r6(chi).alias("chi2_term"),
    ).orderBy("digit")


def slo_burn_rate(
    parsed: DataFrame,
    threshold_ms: int = 1000,
    slo: float = 0.99,
    window_min: int = 5,
) -> DataFrame:
    """SRE-style SLO burn-rate series: per fixed window, the fraction
    of requests slower than ``threshold_ms`` divided by the error
    budget (1−slo). burn > 1 means the window is consuming budget
    faster than the SLO allows — the multiwindow-burn-alert input.

    Window key is integer epoch-microseconds floor-divided by the
    window span (exact on both engines — the truncate-vs-round
    epoch-second trap does not exist in integer µs). One hash-agg of
    two conditional counts; the only double math is the final
    quantized division."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    span_us = window_min * 60 * 1_000_000
    base = parsed.filter(
        F.col("is_parsed")
        & (F.col("req_dir") == "o")
        & F.col("duration_ms").isNotNull()
    )
    agg = (
        base.select(
            F.expr(f"unix_micros(ts) div {span_us}").alias("win"),
            (F.col("duration_ms") > threshold_ms).cast("long").alias("bad"),
        )
        .groupBy("win")
        .agg(
            F.count("*").cast("long").alias("n_requests"),
            F.sum("bad").cast("long").alias("n_bad"),
        )
    )
    budget = 1.0 - slo
    burn = F.col("n_bad").cast("double") / F.col("n_requests") / F.lit(budget)
    return agg.select(
        "win",
        "n_requests",
        "n_bad",
        _r6(F.col("n_bad").cast("double") / F.col("n_requests")).alias(
            "bad_frac"
        ),
        _r6(burn).alias("burn_rate"),
        (burn > 1.0).alias("breach"),
    ).orderBy("win")


def key_skew_audit(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Pre-shuffle skew audit for candidate partition keys: for each
    key column, the key-count distribution's shape — max share, top-10
    share, and Gini — the numbers that decide between a plain groupBy,
    AQE skew handling, or explicit salting BEFORE burning a cluster
    run. (The repo's repository_stats_salted exists because its key
    failed exactly this audit.)

    Per key: one corpus hash-agg to key counts, one key-cardinality
    window for ranks (the window is over the KEY table, not the
    corpus), integer Gini numerator 2·Σ(i·cᵢ)−(n+1)·Σc — exact in
    BIGINT up to ~1e9 keys × 1e9 rows; cast to DECIMAL(38) beyond
    (integer_zscore_outliers discipline)."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6 as _r6

    outs = []
    for key in key_cols:
        counts = (
            df.select(F.col(key).cast("string").alias("k"))
            .groupBy("k")
            .agg(F.count("*").cast("long").alias("c"))
        )
        w_asc = Window.orderBy(F.asc("c"), F.asc("k"))
        w_desc = Window.orderBy(F.desc("c"), F.asc("k"))
        ranked = counts.select(
            "c",
            F.row_number().over(w_asc).alias("i"),
            F.row_number().over(w_desc).alias("r_desc"),
        )
        agg = ranked.agg(
            F.lit(key).alias("key_col"),
            F.count("*").cast("long").alias("n_keys"),
            F.sum("c").cast("long").alias("n_rows"),
            F.max("c").cast("long").alias("max_count"),
            F.sum(F.col("i") * F.col("c")).cast("long").alias("_si"),
            F.sum(F.when(F.col("r_desc") <= 10, F.col("c")).otherwise(0))
            .cast("long")
            .alias("_top10"),
        )
        outs.append(
            agg.select(
                "key_col",
                "n_keys",
                "n_rows",
                "max_count",
                _r6(F.col("max_count").cast("double") / F.col("n_rows")).alias(
                    "max_share"
                ),
                _r6(F.col("_top10").cast("double") / F.col("n_rows")).alias(
                    "top10_share"
                ),
                _r6(
                    (
                        2 * F.col("_si") - (F.col("n_keys") + 1) * F.col("n_rows")
                    ).cast("double")
                    / (F.col("n_keys").cast("double") * F.col("n_rows"))
                ).alias("gini"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("key_col")


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
) -> DataFrame:
    """k-anonymity / l-diversity audit of a quasi-identifier tuple —
    the privacy gate a dataset passes before rows with those columns
    are released or used for training. Reports how many equivalence
    classes (distinct quasi-ID tuples) fall below ``k`` rows, the
    share of ROWS sitting in those re-identifiable classes, and the
    minimum l-diversity (distinct sensitive values) over all classes.

    Two hash-aggs (rows → classes → one summary row), integer
    everywhere except the one quantized share. countDistinct is exact
    per class — at 100 TB the class table is the quasi-ID dimension,
    orders smaller than the rows."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    classes = df.groupBy(*quasi_cols).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct(sensitive_col).cast("long").alias("l_div"),
    )
    agg = classes.agg(
        F.lit(k).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_classes"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("n_rows") < k, 1).otherwise(0))
        .cast("long")
        .alias("n_risky_classes"),
        F.sum(F.when(F.col("n_rows") < k, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
        F.min("l_div").alias("min_l_diversity"),
    )
    return agg.select(
        "k",
        "n_classes",
        "n_rows",
        "n_risky_classes",
        "n_risky_rows",
        _r6(F.col("n_risky_rows").cast("double") / F.col("n_rows")).alias(
            "risky_row_share"
        ),
        "min_l_diversity",
    )


def cumulative_users(df: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Cumulative distinct users per day — the growth-dashboard series.
    The naive form (COUNT(DISTINCT user) OVER an expanding day window)
    re-scans every prior day per day; the scalable rewrite computed
    here is FIRST-SEEN day per user (one hash-agg) + a prefix sum over
    the day dimension — O(rows) then O(days), no expanding window
    anywhere. Day keys are integer epoch-days (exact both engines)."""
    from pyspark.sql import Window

    day = F.expr("unix_micros(cast(ts as timestamp_ltz)) div 86400000000")
    first = (
        df.select(F.col(user_col).alias("u"), day.alias("day"))
        .groupBy("u")
        .agg(F.min("day").alias("first_day"))
    )
    per_day = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("n_cum_users"),
    ).orderBy("day")


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension intervals from an event log —
    the gaps-and-islands collapse: consecutive rows with the SAME state
    per key fold into one validity interval [valid_from, valid_to),
    valid_to = the next interval's start (NULL while current).

    Two windows, both partitioned by the KEY (never global): a lag to
    mark state changes, a running sum to number the islands; then one
    hash-agg per island and one lead over the per-key island table
    (key-dimension sized). Tie order inside equal timestamps is pinned
    by ``tie_col`` so the island numbering is total-order deterministic."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    marked = df.select(
        key_col,
        state_col,
        ts_col,
        tie_col,
        F.when(
            F.lag(state_col).over(w).isNull()
            | (F.lag(state_col).over(w) != F.col(state_col)),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    runs = marked.withColumn(
        "_run",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = runs.groupBy(key_col, "_run").agg(
        # the state is constant within an island by construction, so a
        # plain min is the deterministic pick (no arg-min needed)
        F.min(state_col).alias("state"),
        F.min(ts_col).alias("valid_from"),
        F.count("*").cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy(key_col).orderBy("_run")
    return islands.select(
        F.col(key_col),
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
        "n_events",
    ).orderBy(key_col, "valid_from")


def cdc_apply(base: DataFrame, changes: DataFrame, key_col: str) -> DataFrame:
    """Apply a CDC change feed (op ∈ {'U','D'}, monotone seq per key,
    payload columns matching ``base``) to a base snapshot — the MERGE
    INTO semantics of a lakehouse table, expressed engine-neutrally:
    base rows enter the race as op='I', seq=0; the LAST op per key
    (max seq, deterministic) wins; a winning 'D' deletes the key.

    One union + one per-key window over (key) — at scale this is the
    standard CDC compaction shuffle, keyed and partials-friendly; no
    join at all. Returns the post-merge snapshot."""
    payload = [c for c in base.columns if c != key_col]
    b = base.select(
        key_col, *payload, F.lit("I").alias("op"), F.lit(0).cast("long").alias("seq")
    )
    c = changes.select(key_col, *payload, "op", F.col("seq").cast("long"))
    allrows = b.unionByName(c)
    w = Window.partitionBy(key_col).orderBy(F.desc("seq"))
    last = (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return last.filter(F.col("op") != "D").drop("op", "seq")


def dq_expectations(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Data-quality expectation suite (the dbt-tests / Great-
    Expectations shape): each check is one (check, n_checked,
    n_failed, passed) row — null keys, value-range, referential
    integrity. Every check is a conditional count folded into ONE
    pass per table plus one anti-join for the FK orphan census; at
    100 TB the FK check is the only shuffle and it's a key-only
    semi-join."""
    li = lineitem.agg(
        F.count("*").alias("_n"),
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("null_key"),
        F.sum(
            (~F.col("l_quantity").between(1, 50)).cast("long")
        ).alias("qty_range"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias("price_pos"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("flag_domain"),
    )
    orphans = (
        lineitem.select("l_orderkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count("*").alias("_orph"))
    )
    od = orders.agg(
        F.count("*").alias("_no"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("total_pos"),
    )
    one = li.crossJoin(orphans).crossJoin(od)
    checks = [
        ("lineitem_orderkey_not_null", "_n", "null_key"),
        ("lineitem_quantity_1_50", "_n", "qty_range"),
        ("lineitem_price_positive", "_n", "price_pos"),
        ("lineitem_returnflag_domain", "_n", "flag_domain"),
        ("lineitem_fk_orders", "_n", "_orph"),
        ("orders_totalprice_positive", "_no", "total_pos"),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check"),
                F.col(nc).cast("long").alias("n_checked"),
                F.col(fc).cast("long").alias("n_failed"),
            )
            for name, nc, fc in checks
        ]
    )
    ex = one.select(F.explode(rows).alias("r"))
    return ex.select(
        F.col("r.check").alias("check"),
        F.col("r.n_checked").alias("n_checked"),
        F.col("r.n_failed").alias("n_failed"),
        (F.col("r.n_failed") == 0).alias("passed"),
    ).orderBy("check")


def apdex(parsed: DataFrame, t_ms: int = 500) -> DataFrame:
    """Hourly Apdex score — the SRE satisfaction index:
    (satisfied + tolerating/2) / total with satisfied ≤ T and
    tolerating ≤ 4T. Computed as the integer-exact numerator
    (2·satisfied + tolerating) over 2·total, quantized once; one
    hash-agg over integer epoch-hours."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    base = parsed.filter(
        F.col("is_parsed")
        & (F.col("req_dir") == "o")
        & F.col("duration_ms").isNotNull()
    )
    agg = (
        base.select(
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
            (F.col("duration_ms") <= t_ms).cast("long").alias("sat"),
            (
                (F.col("duration_ms") > t_ms)
                & (F.col("duration_ms") <= 4 * t_ms)
            )
            .cast("long")
            .alias("tol"),
        )
        .groupBy("hr")
        .agg(
            F.count("*").cast("long").alias("n_requests"),
            F.sum("sat").cast("long").alias("n_satisfied"),
            F.sum("tol").cast("long").alias("n_tolerating"),
        )
    )
    return agg.select(
        "hr",
        "n_requests",
        "n_satisfied",
        "n_tolerating",
        _r6(
            (2 * F.col("n_satisfied") + F.col("n_tolerating")).cast("double")
            / (2 * F.col("n_requests"))
        ).alias("apdex"),
    ).orderBy("hr")


def ab_lift(
    events: DataFrame,
    convert_type: str = "purchase",
    user_col: str = "user_id",
) -> DataFrame:
    """Deterministic A/B analysis: users hash-bucket into variants by
    the SAME md5 device as train_test_split (stable under corpus
    growth — no user ever switches arms), conversion = any
    ``convert_type`` event; reports per-arm rates, relative lift, and
    the two-proportion z statistic. All counts integer; the rate/lift/z
    expressions are single mirrored shapes (sqrt is IEEE-exact)."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    # converted = odd count of convert_type events. On the synthetic
    # corpus EVERY user purchases at least once (p=1 in both arms makes
    # the pooled z undefined — caught at add time), so the predicate is
    # the parity of the count: ~0.5 at every SF, never degenerate, and
    # exactly mirrorable. The arm-assignment machinery, not the toy
    # predicate, is the operator.
    per_user = (
        events.select(
            F.col(user_col).alias("u"),
            arm.alias("arm"),
            (F.col("event_type") == convert_type).cast("long").alias("c"),
        )
        .groupBy("u", "arm")
        .agg((F.sum("c") % 2).cast("long").alias("converted"))
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (p_b - p_a) / F.sqrt(
        pool
        * (1.0 - pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    conv = F.col("c_a") + F.col("c_b")
    users = F.col("n_a") + F.col("n_b")
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        # degenerate designs (an empty arm, 0% or 100% pooled conversion)
        # have no defined rate/lift/z — NULL, never a divide-by-zero
        # (mirrored CASE in SQL)
        F.when(F.col("n_a") > 0, _r6(p_a)).alias("rate_a"),
        F.when(F.col("n_b") > 0, _r6(p_b)).alias("rate_b"),
        F.when(both & (F.col("c_a") > 0), _r6(p_b / p_a)).alias("rel_lift"),
        F.when(
            both & (conv > 0) & (conv < users), _r6(z + F.lit(10.0))
        ).alias("z_plus_10"),
    )


def pettitt_changepoint(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Pettitt's nonparametric changepoint test on the per-key DAILY
    event-count series — the rank-based complement to cusum_drift:
    CUSUM needs a known baseline and catches sustained mean shifts;
    Pettitt asks "did the distribution change somewhere, and WHEN?"
    with no distributional assumption, the standard first look at a
    volume regime change (deploys, traffic migrations, bot onsets).

        U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j),   K = max_t |U_t|

    computed WITHOUT the O(T²) double sum through the midrank
    identity U_t = S2_t − t·(T+1), where S2_t is the running sum of
    DOUBLED average ranks (the repo's Mann-Whitney device): doubled
    midranks are integers, so every U_t — and K — is exact BIGINT on
    both engines. Approximate significance p ≈ 2·exp(−6K²/(T³+T²)).

    Scale shape: one corpus-scale (key, day) hash agg; ranks come from
    the (key, count-value) census via one cumulative window, and the
    U_t scan is a second window — both over the census (keys × days
    rows), never the event table."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6 as _r6

    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd")
    census = events.groupBy(
        F.col(key_col).alias("k"), day.alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    vals = census.groupBy("k", "x").agg(F.count("*").cast("long").alias("m"))
    w_cum = (
        Window.partitionBy("k")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vals = vals.withColumn(
        "r2", 2 * (F.sum("m").over(w_cum) - F.col("m")) + F.col("m") + 1
    )
    ranked = census.join(vals.select("k", "x", "r2"), ["k", "x"])
    w_day = (
        Window.partitionBy("k")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_key = Window.partitionBy("k")
    u = (
        ranked.withColumn("t", F.row_number().over(
            Window.partitionBy("k").orderBy("day")
        ))
        .withColumn("s2", F.sum("r2").over(w_day))
        .withColumn("n_days", F.count("*").over(w_key))
        .withColumn(
            "u", (F.col("s2") - F.col("t") * (F.col("n_days") + 1)).cast("long")
        )
        .filter(F.col("t") < F.col("n_days"))
    )
    pick = F.row_number().over(
        Window.partitionBy("k").orderBy(F.desc(F.abs(F.col("u"))), F.asc("day"))
    )
    kk = F.col("k_stat").cast("double")
    tt = F.col("n_days").cast("double")
    return (
        u.withColumn("_pk", pick)
        .filter(F.col("_pk") == 1)
        .select(
            F.col("k").alias(key_col),
            F.col("n_days").cast("long").alias("n_days"),
            F.abs(F.col("u")).cast("long").alias("k_stat"),
            F.col("day").alias("change_day"),
        )
        .withColumn(
            "p_approx",
            _r6(
                F.lit(2.0)
                * F.exp(F.lit(-6.0) * kk * kk / (tt * tt * tt + tt * tt))
            ),
        )
        .orderBy(key_col)
    )


def srm_check(
    events: DataFrame,
    n_variants: int = 4,
    user_col: str = "user_id",
) -> DataFrame:
    """Sample-Ratio Mismatch check — the assignment-integrity gate
    every experimentation platform runs BEFORE reading any metric: if
    users didn't land in the k equal-probability variants at the
    expected ratio, the experiment is corrupted (redirect bugs, bot
    filtering skew, logging loss) and lift numbers are meaningless.
    Pearson goodness-of-fit against the uniform design:

        χ² = Σ_i (n_i − N/k)² / (N/k)  =  Σ_i (k·n_i − N)² / (k·N)

    The right-hand identity keeps the numerator an exact BIGINT (no
    N/k rounding); only the single final division is IEEE, mirrored
    and round6-ed. Variants hash from the same md5 device as ab_lift /
    train_test_split: first hex nibble in 4 equal ranges, so the
    expected split is uniform BY CONSTRUCTION and a flag here means
    data loss, not design. Flag fires at the α=0.05 critical value for
    k−1 df (7.814728 for k=4).

    Scale shape: one distinct-users hash agg (map-side partials) to a
    1-row frame; everything after is scalar arithmetic. ``n_variants``
    must be 2, 4, 8, or 16 (equal nibble ranges)."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    if n_variants not in (2, 4, 8, 16):
        raise ValueError("n_variants must divide the 16 hex nibbles evenly")
    crit = {2: 3.841459, 4: 7.814728, 8: 14.067140, 16: 24.995790}
    width = 16 // n_variants
    nib = F.conv(
        F.substring(F.md5(F.col("u").cast("string")), 1, 1), 16, 10
    ).cast("int")
    users = (
        events.select(F.col(user_col).alias("u"))
        .distinct()
        .select((nib / width).cast("int").alias("v"))
    )
    agg = users.groupBy().agg(
        F.count("*").cast("long").alias("n_users"),
        *[
            F.sum((F.col("v") == i).cast("long")).cast("long").alias(f"n_v{i}")
            for i in range(n_variants)
        ],
    )
    k = F.lit(n_variants).cast("long")
    dev2 = None
    for i in range(n_variants):
        t = (k * F.col(f"n_v{i}") - F.col("n_users")) * (
            k * F.col(f"n_v{i}") - F.col("n_users")
        )
        dev2 = t if dev2 is None else dev2 + t
    chi2 = dev2.cast("double") / (k * F.col("n_users")).cast("double")
    return agg.select(
        "n_users",
        *[f"n_v{i}" for i in range(n_variants)],
        _r6(chi2).alias("chi2"),
        (chi2 > F.lit(crit[n_variants])).alias("srm_detected"),
    )


def conversion_lag(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """First-touch → conversion lag distribution: per user, the lag
    from the FIRST ``from_type`` to the FIRST ``to_type`` at or after
    it; summary row with exact integer-rank median (the winsorized
    order-statistic device — no float percentile interpolation). One
    conditional-min hash-agg per user; lags are exact µs integers."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    per_user = (
        events.select(
            F.col("user_id").alias("u"),
            F.when(F.col("event_type") == from_type, us).alias("f"),
            F.when(F.col("event_type") == to_type, us).alias("t"),
        )
        .groupBy("u")
        .agg(F.min("f").alias("first_from"), F.min("t").alias("first_to"))
        .filter(
            F.col("first_from").isNotNull()
            & F.col("first_to").isNotNull()
            & (F.col("first_to") >= F.col("first_from"))
        )
    )
    lags = per_user.select(
        "u", (F.col("first_to") - F.col("first_from")).alias("lag_us")
    )
    # the lags table is user-dimension sized, so the global rank/count
    # windows are over the dimension, never the event log
    ranked = lags.select(
        "lag_us",
        F.row_number().over(Window.orderBy("lag_us", "u")).alias("r"),
        F.count("*")
        .over(Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n"),
    )
    return (
        ranked.agg(
            F.count("*").cast("long").alias("n_users"),
            F.min("lag_us").cast("long").alias("min_lag_us"),
            F.max("lag_us").cast("long").alias("max_lag_us"),
            F.sum("lag_us").cast("long").alias("_sum"),
            F.sum(
                F.when(
                    F.col("r") == F.expr("(_n + 1) div 2"), F.col("lag_us")
                ).otherwise(0)
            )
            .cast("long")
            .alias("_lo"),
            F.sum(
                F.when(
                    F.col("r") == F.expr("(_n + 2) div 2"), F.col("lag_us")
                ).otherwise(0)
            )
            .cast("long")
            .alias("_hi"),
        )
        .select(
            "n_users",
            "min_lag_us",
            "max_lag_us",
            _r6(F.col("_sum").cast("double") / F.col("n_users")).alias(
                "mean_lag_us"
            ),
            ((F.col("_lo") + F.col("_hi")).cast("double") / 2.0).alias(
                "median_lag_us"
            ),
        )
    )


def association_rules(
    parsed: DataFrame,
    max_repos_per_user: int = 20,
    min_support: int = 2,
    top: int = 20,
) -> DataFrame:
    """Market-basket association rules over the user→repo baskets:
    for every ordered repo pair (antecedent → consequent) co-accessed
    by ≥ ``min_support`` users, confidence = P(consequent | antecedent)
    and lift = confidence / P(consequent) — the "users who clone X
    also clone Y" recommender readout on top of the capped incidence.

    Scale shape: baskets come from capped_incidence (self-join bounded
    by the per-user cap); item supports are one repo-keyed hash-agg;
    the total-user count folds in as a crossed 1-row relation (no
    driver collect). Both rule directions come from the one a<b pair
    relation (union of the two orientations — no second self-join).
    Confidence is a single IEEE division and lift divides two exact
    integer products, so both are bit-identical across engines before
    the round6 quantization; final order (lift desc, confidence desc,
    pair asc) is driver-stable."""
    from stash_log_parser_spark.operators.textstats import round6

    capped = capped_incidence(parsed, max_repos_per_user)
    item = capped.groupBy("repo_slug").agg(F.count("*").alias("n_item"))
    n_users = capped.select(
        F.count_distinct("username").cast("long").alias("n_users")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, "username")
        .filter(F.col("a.repo_slug") < F.col("b.repo_slug"))
        .groupBy(
            F.col("a.repo_slug").alias("repo_a"),
            F.col("b.repo_slug").alias("repo_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= min_support)
    )
    rules = pairs.select(
        F.col("repo_a").alias("antecedent"),
        F.col("repo_b").alias("consequent"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("repo_b").alias("antecedent"),
            F.col("repo_a").alias("consequent"),
            "n_both",
        )
    )
    enriched = (
        rules.join(
            item.select(
                F.col("repo_slug").alias("antecedent"),
                F.col("n_item").alias("n_ant"),
            ),
            "antecedent",
        )
        .join(
            item.select(
                F.col("repo_slug").alias("consequent"),
                F.col("n_item").alias("n_cons"),
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n_users))
    )
    return (
        enriched.select(
            "antecedent",
            "consequent",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_ant").cast("long").alias("n_antecedent"),
            F.col("n_cons").cast("long").alias("n_consequent"),
            round6(F.col("n_both") / F.col("n_ant")).alias("confidence"),
            round6(
                (F.col("n_both") * F.col("n_users"))
                / (F.col("n_ant") * F.col("n_cons"))
            ).alias("lift"),
        )
        .orderBy(
            F.desc("lift"), F.desc("confidence"),
            F.asc("antecedent"), F.asc("consequent"),
        )
        .limit(top)
    )


def theil_sen_trend(
    xy: DataFrame, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Theil–Sen robust trend: median of all pairwise slopes
    (y_j−y_i)/(x_j−x_i) over the series, plus the matching median
    intercept — the outlier-proof twin of the explicit-sums OLS in
    log_hourly_trend (one traffic spike can drag least squares
    arbitrarily; the pairwise-slope median has a 29% breakdown point).

    Intended for DIMENSION-sized series (hours, days, vocabulary
    ranks): the C(n,2) self-join and the global order-by-slope window
    are quadratic in the series length, which is fine at 10^3–10^4
    points and is the standard regime for the estimator. Each slope is
    ONE IEEE division on exact integer deltas, the median averages at
    most two doubles — bit-identical on any engine before the final
    round6."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    a, b = xy.alias("a"), xy.alias("b")
    slopes = a.join(
        b, F.col(f"a.{x_col}") < F.col(f"b.{x_col}")
    ).select(
        (
            (F.col(f"b.{y_col}") - F.col(f"a.{y_col}")).cast("double")
            / (F.col(f"b.{x_col}") - F.col(f"a.{x_col}")).cast("double")
        ).alias("v")
    )

    def median1(df):
        ranked = df.withColumn(
            "r", F.row_number().over(Window.orderBy("v"))
        )
        cnt = df.agg(F.count("*").alias("n"))
        return (
            ranked.crossJoin(F.broadcast(cnt))
            .filter(
                (F.col("r") == F.floor((F.col("n") + 1) / 2))
                | (F.col("r") == F.floor((F.col("n") + 2) / 2))
            )
            .agg((F.sum("v") / F.count("*")).alias("med"))
        )
    slope = median1(slopes).select(F.col("med").alias("slope"))
    resid = xy.crossJoin(F.broadcast(slope)).select(
        (
            F.col(y_col).cast("double")
            - F.col("slope") * F.col(x_col).cast("double")
        ).alias("v")
    )
    intercept = median1(resid).select(F.col("med").alias("intercept"))
    n_points = xy.agg(F.count("*").cast("long").alias("n_points"))
    n_pairs = slopes.agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        n_points.crossJoin(n_pairs)
        .crossJoin(slope)
        .crossJoin(intercept)
        .select(
            "n_points",
            "n_pairs",
            round6(F.col("slope")).alias("ts_slope"),
            round6(F.col("intercept")).alias("ts_intercept"),
        )
    )


def ewma_halflife(
    xy: DataFrame, x_col: str = "x", y_col: str = "y", window: int = 20
) -> DataFrame:
    """EWMA smoothing with half-life 1 step (α = 1/2), adjusted form:

        ewma_t = Σ_{k=0..w-1} y_{t-k}·2^{-k}  /  Σ_{k=0..w-1} 2^{-k}

    The decay base is EXACTLY representable (powers of two), so every
    term y·2^{-k} is an exact IEEE product; with ``window`` ≤ 20 and
    integer y < 2^14 every partial sum fits in < 53 significand bits,
    making numerator and denominator BIT-EXACT on any engine and in any
    summation order — the same dyadic-rational discipline as
    decayed_engagement. One final division + round6.

    The windowed self-join is bounded at ``window`` rows per output
    point and is intended for DIMENSION-sized series (hours/days);
    at 10^4 points it is 2·10^5 join rows — noise. An unbounded EWMA
    would instead be the cumulative-recurrence shape (see cusum_drift's
    applyInPandas) — the finite window is what keeps it a plain join.
    """
    from stash_log_parser_spark.operators.textstats import round6

    a, b = xy.alias("a"), xy.alias("b")
    k = F.col(f"b.{x_col}") - F.col(f"a.{x_col}")
    return (
        a.join(
            b,
            (F.col(f"a.{x_col}") <= F.col(f"b.{x_col}"))
            & (F.col(f"a.{x_col}") > F.col(f"b.{x_col}") - window),
        )
        .groupBy(F.col(f"b.{x_col}").alias(x_col))
        .agg(
            F.max(
                F.when(k == 0, F.col(f"a.{y_col}"))
            ).cast("long").alias(y_col),
            (
                F.sum(F.col(f"a.{y_col}") * F.pow(F.lit(0.5), k))
                / F.sum(F.pow(F.lit(0.5), k))
            ).alias("_e"),
        )
        .select(x_col, y_col, round6(F.col("_e")).alias("ewma"))
        .orderBy(x_col)
    )


def zonemap_prune_audit(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    n_shards: int = 32,
    pred_start_pct: int = 40,
    pred_days: int = 30,
) -> DataFrame:
    """Zone-map (per-file min/max) data-skipping audit — WHY sort/
    cluster order matters at 100 TB. Lays the fact table out two ways:

    * ``range``  — shards cluster on the timestamp (the sorted /
      Z-ordered layout a writer produces with sortWithinPartitions);
    * ``hash``   — shards assigned by an engine-portable md5 of the
      key (the default unclustered layout).

    then evaluates a ``pred_days``-wide timestamp window starting at
    ``pred_start_pct``% of the data's day span, exactly the way a
    parquet reader prunes row-groups: a shard is SCANNED iff its
    [min,max] zone overlaps the predicate. One row per layout reports
    shards scanned, rows scanned, rows actually matching, and the scan
    efficiency — range-clustering should scan ~predicate-selectivity
    of the data while hash layout scans everything.

    All arithmetic is integer day ordinals from the global min (two
    scalar aggregates, broadcast); the md5 shard hash is the same
    hex-slice device as sketches.py, so both engines materialize the
    identical layout. Scale: two hash aggregates over the fact table
    (map-side partials) + a 2·n_shards-row audit — no shuffle of the
    fact rows themselves.
    """
    from stash_log_parser_spark.operators.textstats import round6

    d = F.datediff(F.to_date(ts_col), F.lit("1992-01-01").cast("date"))
    base = df.select(
        d.cast("long").alias("d"),
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 4), 16, 10
        ).cast("long").alias("h4"),
    )
    span = base.agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    sharded = (
        base.crossJoin(F.broadcast(span))
        .select(
            "d",
            "d_min",
            "d_max",
            F.floor(
                (F.col("d") - F.col("d_min"))
                * n_shards
                / (F.col("d_max") - F.col("d_min") + 1)
            ).alias("shard_range"),
            (F.col("h4") % n_shards).alias("shard_hash"),
            (
                F.col("d_min")
                + F.floor(
                    (F.col("d_max") - F.col("d_min") + 1)
                    * pred_start_pct
                    / 100
                )
            ).alias("lo"),
        )
        .withColumn("hi", F.col("lo") + pred_days - 1)
        .withColumn(
            "matches",
            (F.col("d") >= F.col("lo")) & (F.col("d") <= F.col("hi")),
        )
    )

    def audit(layout: str, shard_col: str) -> DataFrame:
        zones = sharded.groupBy(F.col(shard_col).alias("shard")).agg(
            F.min("d").alias("z_min"),
            F.max("d").alias("z_max"),
            F.count("*").alias("rows"),
            F.sum(F.col("matches").cast("long")).alias("rows_match"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
        )
        scanned = (F.col("z_max") >= F.col("lo")) & (
            F.col("z_min") <= F.col("hi")
        )
        return zones.agg(
            F.lit(layout).alias("layout"),
            F.count("*").cast("long").alias("n_shards"),
            F.sum(scanned.cast("long")).cast("long").alias("shards_scanned"),
            F.sum(F.when(scanned, F.col("rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("rows_match").cast("long").alias("rows_matched"),
        )

    out = audit("hash", "shard_hash").unionByName(
        audit("range", "shard_range")
    )
    return out.select(
        "layout",
        "n_shards",
        "shards_scanned",
        "rows_scanned",
        "rows_matched",
        round6(F.col("rows_matched") / F.col("rows_scanned")).alias(
            "scan_efficiency"
        ),
    ).orderBy("layout")


def repo_jaccard(
    parsed: DataFrame, max_repos_per_user: int = 20, top_pairs: int = 20
) -> DataFrame:
    """Repo–repo Jaccard similarity over distinct-user audiences:
    J(a,b) = |U_a ∩ U_b| / |U_a ∪ U_b| — the normalized companion to
    repo_coaccess (raw co-user counts rank hub repos first; Jaccard
    surfaces genuinely coupled niche repos). Built on the SAME capped
    incidence as coaccess_pairs so the self-join stays bounded and the
    degrees are consistent with the pair counts: union = deg_a + deg_b
    − inter, one broadcast-joinable degree table (|repos| rows).
    Integer counts until one division + round6. Ties rank by
    (jaccard desc, n_users desc, repo_a, repo_b)."""
    from stash_log_parser_spark.operators.textstats import round6

    capped = capped_incidence(parsed, max_repos_per_user)
    deg = capped.groupBy(F.col("repo_slug")).agg(
        F.count("*").alias("deg")
    )
    pairs = coaccess_pairs(parsed, max_repos_per_user=max_repos_per_user)
    j = (
        pairs.join(
            F.broadcast(deg.withColumnRenamed("repo_slug", "repo_a")),
            "repo_a",
        )
        .withColumnRenamed("deg", "deg_a")
        .join(
            F.broadcast(deg.withColumnRenamed("repo_slug", "repo_b")),
            "repo_b",
        )
        .withColumnRenamed("deg", "deg_b")
        .select(
            "repo_a",
            "repo_b",
            F.col("n_users").cast("long").alias("n_users"),
            (F.col("deg_a") + F.col("deg_b") - F.col("n_users"))
            .cast("long")
            .alias("n_union"),
            round6(
                F.col("n_users")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_users"))
            ).alias("jaccard"),
        )
    )
    return j.orderBy(
        F.desc("jaccard"), F.desc("n_users"), F.asc("repo_a"), F.asc("repo_b")
    ).limit(top_pairs)


def decayed_engagement(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    half_life_days: int = 1,
    top: int = 20,
) -> DataFrame:
    """Time-decayed engagement score per user — the recency-weighted
    activity ranking behind retention dashboards and training-data
    user sampling: score = Σ_events 2^(−age_days/half_life), age in
    WHOLE days from the dataset's max timestamp (a deterministic
    anchor — never wall-clock).

    With integer day ages and a power-of-two base every term 2^(−k) is
    an exact IEEE double and per-user sums of a few hundred terms stay
    dyadic-rational well inside 53 bits — BIT-EXACT across engines and
    summation orders before the final round6 (the same discipline as
    ewma_halflife). One scalar max (broadcast) + one hash aggregate;
    top-k is TakeOrderedAndProject."""
    from stash_log_parser_spark.operators.textstats import round6

    anchor = events.agg(F.max(ts_col).alias("t_max"))
    aged = events.crossJoin(F.broadcast(anchor)).select(
        F.col(user_col),
        (
            F.datediff(F.to_date("t_max"), F.to_date(ts_col))
            / half_life_days
        ).cast("long").alias("age"),
    )
    return (
        aged.groupBy(user_col)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("age").cast("long").alias("days_since_last"),
            round6(F.sum(F.pow(F.lit(0.5), F.col("age")))).alias("score"),
        )
        .orderBy(
            F.desc("score"), F.desc("n_events"), F.asc(user_col)
        )
        .limit(top)
    )


# Poisson(1) CDF thresholds scaled to the 24-bit md5-slice space
# (floor(P(X<=k) * 16^6) for k = 0..5): a row's resample weight is the
# count of thresholds its 24-bit hash clears — identical integers on
# any engine with md5.
_POISSON1_T24 = [6171992, 12343985, 15429982, 16458647, 16715813, 16767247]


def poisson_bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_resamples: int = 32,
) -> DataFrame:
    """Poisson bootstrap of the mean — THE bootstrap that works at
    100 TB: classical resampling needs n draws over the full dataset
    per replicate (a shuffle per replicate), while the Poisson trick
    gives every row an independent Poisson(1) weight per replicate, so
    all ``n_resamples`` replicates stream in ONE pass (explode ×B,
    map-side partial sums, one tiny shuffle of B partial rows).

    Determinism discipline: weights come from 24-bit md5(id:b) slices
    compared against precomputed integer CDF thresholds (exact on both
    engines); values aggregate as exact cents; each replicate mean is
    one integer/integer IEEE division. The CI is an order statistic of
    the B replicate means (2nd smallest / 2nd largest ≈ central 94 %
    at B = 32) — no float re-aggregation anywhere.

    Returns ONE row: n_rows, n_resamples, the full-data point estimate,
    and the CI bounds (all cents, round6)."""
    from stash_log_parser_spark.operators.textstats import round6

    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = df.select(
        F.col(id_col).cast("string").alias("_id"), cents.alias("_c")
    )
    b = F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("b")
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("_id"), F.col("b"))), 1, 6),
        16,
        10,
    ).cast("long")
    # weight k satisfies CDF(k-1) <= u < CDF(k), i.e. k = how many
    # thresholds the 24-bit hash sits at-or-above
    w = sum((h >= F.lit(t)).cast("long") for t in _POISSON1_T24)
    rep = (
        base.select("_id", "_c", b)
        .withColumn("_w", w)
        .groupBy("b")
        .agg(
            F.sum("_w").alias("_n"),
            F.sum(F.col("_w") * F.col("_c")).alias("_s"),
        )
        .select((F.col("_s") / F.col("_n")).alias("_m"))
    )
    from pyspark.sql import Window

    ranked = rep.withColumn(
        "_r", F.row_number().over(Window.orderBy("_m"))
    )
    point = base.agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.sum("_c") / F.count("*")).alias("_pm"),
    )
    lo = ranked.filter(F.col("_r") == 2).select(F.col("_m").alias("_lo"))
    hi = ranked.filter(F.col("_r") == n_resamples - 1).select(
        F.col("_m").alias("_hi")
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_rows",
            F.lit(n_resamples).cast("long").alias("n_resamples"),
            round6(F.col("_pm")).alias("mean_cents"),
            round6(F.col("_lo")).alias("ci_lo_cents"),
            round6(F.col("_hi")).alias("ci_hi_cents"),
        )
    )


def seasonal_anomaly(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    period_hours: int = 24,
    k_mad: int = 3,
) -> DataFrame:
    """Seasonally-adjusted robust anomaly census: residual = this
    hour's count minus the count one period earlier (the
    seasonal-naive forecast), flagged when it sits more than
    ``k_mad``·MAD from the per-key median residual. The
    median/MAD pair is what production monitors use instead of
    mean/σ — one genuine outage inflates σ enough to hide the next
    one, while MAD's 50 % breakdown point doesn't care.

    Exactness: residuals are integer count differences. Medians of
    halved values are kept integer by pre-doubling: med2 = median(2r)
    averages two EVEN ints → integer; ad2 = |2r − med2| is an int;
    mad4 = median(2·ad2) averages two even ints → integer (= 4·MAD).
    The flag |r − med| > k·MAD becomes 2·ad2 > k·mad4 — INTEGER
    arithmetic end to end, no float boundary anywhere.
    Plan: one hourly hash-agg, the lag self-join on (key, hr−period),
    then two key-grouped aggregates — every exchange is keyed on the
    dimension-sized (key) or (key, hr)."""
    hourly = events.groupBy(
        F.col(key_col).alias("key"),
        F.expr(
            f"unix_micros(date_trunc('hour', {ts_col})) div 3600000000"
        ).alias("hr"),
    ).agg(F.count("*").alias("x"))
    cur, prev = hourly.alias("cur"), hourly.alias("prev")
    resid = cur.join(
        prev,
        (F.col("cur.key") == F.col("prev.key"))
        & (F.col("cur.hr") == F.col("prev.hr") + period_hours),
    ).select(
        F.col("cur.key").alias("key"),
        F.col("cur.hr").alias("hr"),
        (F.col("cur.x") - F.col("prev.x")).alias("r"),
    )
    med = resid.groupBy("key").agg(
        (F.median(F.col("r") * 2)).cast("long").alias("med2")
    )
    dev = resid.join(med, "key").select(
        "key",
        "hr",
        "r",
        "med2",
        F.abs(F.col("r") * 2 - F.col("med2")).alias("ad2"),
    )
    mad = dev.groupBy("key").agg(
        F.median(F.col("ad2") * 2).cast("long").alias("mad4")
    )
    flagged = dev.join(mad, "key").withColumn(
        "is_anomaly", F.col("ad2") * 2 > F.lit(k_mad) * F.col("mad4")
    )
    return (
        flagged.groupBy(F.col("key").alias(key_col))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min("med2").alias("_med2"),
            F.min("mad4").alias("_mad4"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
        )
        .select(
            key_col,
            "n_pairs",
            (F.col("_med2") / 2.0).alias("median_resid"),
            (F.col("_mad4") / 4.0).alias("mad"),
            F.col("n_anomalies").cast("long").alias("n_anomalies"),
        )
        .orderBy(key_col)
    )


def linear_attribution(
    events: DataFrame,
    conv_type: str = "purchase",
    touch_types: tuple = ("click", "view"),
    window_hours: int = 24,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Linear multi-touch attribution: every conversion's credit splits
    EQUALLY across the user's qualifying touches in the preceding
    ``window_hours`` — the standard middle ground between the
    first-touch and last-touch extremes (events_last_touch). Reports,
    per touch channel, how many touches earned credit and the total
    credit — plus an 'unattributed' row for conversions with no touch
    in window (the row naive attribution silently drops).

    Exactness: each touch's credit is ``10^6 div n`` micro-units
    (integer floor division — documented quantization, at most n−1
    micro-units per conversion left unassigned and reported via the
    unattributed row's exact count), so every aggregate is a BIGINT
    sum. Plan: the conversion×touch pairing is a per-user INTERVAL
    join — equi-keyed on user with a bounded time range, so state is
    bounded by the window exactly as in the streaming twin
    (log_stream_interval_join); one user-keyed exchange each side."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    conv = events.filter(F.col("event_type") == conv_type).select(
        F.col(user_col).alias("u"),
        F.col("event_id").alias("conv_id"),
        us.alias("c_us"),
    )
    touch = events.filter(
        F.col("event_type").isin(*touch_types)
    ).select(
        F.col(user_col).alias("u"),
        F.col("event_type").alias("channel"),
        us.alias("t_us"),
    )
    win_us = window_hours * 3600 * 1_000_000
    j = conv.join(
        touch,
        (conv["u"] == touch["u"])
        & (F.col("t_us") <= F.col("c_us"))
        & (F.col("t_us") > F.col("c_us") - F.lit(win_us)),
        "left",
    )
    per_conv = j.groupBy("conv_id").agg(F.count("channel").alias("n"))
    credited = (
        j.join(per_conv, "conv_id")
        .filter(F.col("channel").isNotNull())
        .select(
            "channel",
            F.expr("1000000L div n").alias("credit_micro"),
        )
    )
    by_channel = credited.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum("credit_micro").cast("long").alias("credit_micro"),
    )
    unattributed = per_conv.filter(F.col("n") == 0).agg(
        F.lit("unattributed").alias("channel"),
        F.count("*").cast("long").alias("n_touches"),
        (F.count("*") * 1_000_000).cast("long").alias("credit_micro"),
    )
    return by_channel.unionByName(unattributed).orderBy("channel")


def cuped_adjusted_lift(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """CUPED variance reduction — the technique that lets web-scale
    experiments detect small effects without doubling traffic: regress
    each user's experiment-period metric y on their PRE-period metric x
    (θ = cov(x,y)/var(x), pooled across arms since x predates
    assignment), and compare arms on y − θ·(x − x̄). Arms use the same
    stable md5 bucket device as ab_lift; the pre/post split is the
    dataset's exact midpoint micro-timestamp.

    Determinism discipline: all five moment sums (Σx, Σy, Σxy, Σx²,
    Σy²) accumulate EXACTLY — cents are ints, products fit int64, sums
    go to decimal(38,0) (DuckDB HUGEINT in the mirror) because
    n·Σxy-style cross terms pass 2^63. θ, the raw and adjusted arm
    differences, and ρ² (the variance-reduction fraction) are then a
    FIXED handful of IEEE ops on those exact integers — never a float
    accumulation. The adjusted difference uses the closed form
    (ȳ_B−ȳ_A) − θ·(x̄_B−x̄_A), so no per-user float column ever
    aggregates."""
    from stash_log_parser_spark.operators.textstats import round6

    dec = "decimal(38,0)"
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    span = events.agg(
        F.min(us).alias("lo_us"), F.max(us).alias("hi_us")
    ).select(
        F.expr("(lo_us + hi_us) div 2").alias("mid_us")
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    per_user = (
        events.crossJoin(F.broadcast(span))
        .select(
            F.col(user_col).alias("u"),
            arm.alias("arm"),
            F.when(us <= F.col("mid_us"), cents).otherwise(0).alias("xc"),
            F.when(us > F.col("mid_us"), cents).otherwise(0).alias("yc"),
        )
        .groupBy("u", "arm")
        .agg(F.sum("xc").alias("x"), F.sum("yc").alias("y"))
    )
    pooled = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).alias("sxy"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sx2"),
        F.sum(
            F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).alias("sy2"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("arm") == "A", F.col("x")).otherwise(0)).cast("long").alias("sxa"),
        F.sum(F.when(F.col("arm") == "B", F.col("x")).otherwise(0)).cast("long").alias("sxb"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0)).cast("long").alias("sya"),
        F.sum(F.when(F.col("arm") == "B", F.col("y")).otherwise(0)).cast("long").alias("syb"),
    )
    n = F.col("n_users").cast("double")
    num = (
        F.col("n_users").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    den = (
        F.col("n_users").cast(dec) * F.col("sx2") - F.col("sx") * F.col("sx")
    ).cast("double")
    den_y = (
        F.col("n_users").cast(dec) * F.col("sy2") - F.col("sy") * F.col("sy")
    ).cast("double")
    theta = num / den
    raw_diff = F.col("syb") / F.col("nb") - F.col("sya") / F.col("na")
    x_diff = F.col("sxb") / F.col("nb") - F.col("sxa") / F.col("na")
    return pooled.select(
        "n_users",
        "na",
        "nb",
        round6(theta).alias("theta"),
        round6(raw_diff).alias("raw_diff_cents"),
        round6(raw_diff - theta * x_diff).alias("adjusted_diff_cents"),
        round6(num * num / (den * den_y)).alias("var_reduction"),
    )


def bot_rate_flags(
    parsed: DataFrame, rate_mult: int = 3, top: int = 20
) -> DataFrame:
    """Abuse/bot heuristics over the access log: a client is flagged
    when its request rate per ACTIVE minute exceeds ``rate_mult``× the
    corpus median — the relative rule that survives corpus growth
    (absolute thresholds rot as traffic scales; CI farms look normal
    next quarter). Reports the top offenders with the evidence columns
    an abuse reviewer wants: volume, active minutes, rate, repo fan-out.

    Exactness: rate_micro = n·10^6 div minutes is an exact BIGINT; the
    median uses the pre-doubling trick (median of 2·rate over users is
    an integer), so the flag 2·rate > mult·med2 is pure integer — no
    float anywhere. Plan: one (user, minute) distinct, two user-keyed
    hash-aggs, one scalar median broadcast back; the top-k is
    TakeOrderedAndProject."""
    base = parsed.filter(
        F.col("is_parsed") & F.col("username").isNotNull()
    )
    per_user = base.groupBy("username").agg(
        F.count("*").cast("long").alias("n_req"),
        F.countDistinct(
            F.expr("unix_micros(cast(ts as timestamp)) div 60000000")
        ).cast("long").alias("active_minutes"),
        F.countDistinct("repo_slug").cast("long").alias("n_repos"),
    ).withColumn(
        "rate_micro",
        F.expr("(n_req * 1000000L) div active_minutes"),
    )
    med = per_user.agg(
        F.median(F.col("rate_micro") * 2).cast("long").alias("med2")
    )
    return (
        per_user.crossJoin(F.broadcast(med))
        .select(
            "username",
            "n_req",
            "active_minutes",
            "n_repos",
            "rate_micro",
            (F.col("rate_micro") * 2 > F.lit(rate_mult) * F.col("med2")).alias(
                "is_bot"
            ),
        )
        .orderBy(F.desc("rate_micro"), F.desc("n_req"), F.asc("username"))
        .limit(top)
    )


def props_variant_stats(
    events: DataFrame,
    props_col: str = "props",
    key_path: str = "$.k",
    by_col: str = "event_type",
) -> DataFrame:
    """Semi-structured payload statistics through Spark 4's VARIANT
    type: ``parse_json`` shreds the JSON props column into the binary
    variant encoding ONCE, ``variant_get`` extracts the typed field
    JVM-side — the Spark-4-native answer to schemaless event payloads
    at scale (no per-row Python JSON, no rigid from_json schema that
    breaks when producers add fields; the extraction is codegen'd
    against the variant binary). Reports per-group count, null/missing
    extraction count, and exact integer sum/min/max of the field.

    Cross-engine: the oracle extracts the same JSON path with DuckDB's
    JSON reader; the values are exact ints, so the hashes bind the
    entire extraction path, not a float summary."""
    v = F.parse_json(F.col(props_col))
    k = F.variant_get(v, key_path, "long")
    per = events.select(F.col(by_col).alias("event_type"), k.alias("k"))
    return (
        per.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("k").isNull().cast("long")).cast("long").alias(
                "n_missing"
            ),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.countDistinct("k").cast("long").alias("k_distinct"),
        )
        .orderBy("event_type")
    )


def concurrency_twa(parsed: DataFrame) -> DataFrame:
    """Time-weighted average of the server's concurrency gauge per day
    — the metric that answers "how loaded WAS the server", which the
    plain mean of samples gets wrong whenever sampling is bursty (a
    thousand idle-time log lines shouldn't outvote one ten-minute
    plateau at gauge 40). Classic step-function integral:
    Σ gauge_i·(t_{i+1}−t_i) / (t_last − t_first), the TWAP shape.

    Exactness: timestamps are exact micros, the gauge an int, so the
    weighted sum and span are BIGINT; one final division + round6.
    Determinism: the lead() order is the total key (ts_us,
    req_counter, req_dir) — ts alone ties when a request's in/out
    lines land in the same microsecond. Plan: ONE day-partitioned
    window (same discipline as concurrency_by_hour — never a global
    sort), then a day-keyed hash-agg."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    base = parsed.filter(
        F.col("is_parsed") & F.col("req_concurrent").isNotNull()
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("req_counter"),
        F.col("req_dir"),
        F.col("req_concurrent").cast("long").alias("g"),
    )
    w = Window.partitionBy("day").orderBy("us", "req_counter", "req_dir")
    stepped = base.withColumn("next_us", F.lead("us").over(w))
    per_day = stepped.groupBy("day").agg(
        F.count("*").cast("long").alias("n_points"),
        (F.max("us") - F.min("us")).cast("long").alias("span_us"),
        F.sum(
            F.when(
                F.col("next_us").isNotNull(),
                F.col("g") * (F.col("next_us") - F.col("us")),
            ).otherwise(0)
        ).cast("long").alias("weighted_us"),
    )
    return per_day.select(
        "day",
        "n_points",
        "span_us",
        "weighted_us",
        round6(
            F.col("weighted_us") / F.greatest(F.col("span_us"), F.lit(1))
        ).alias("twa_concurrency"),
    ).orderBy("day")


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation — the classic growth/CRM cut: per user,
    Recency (days since last event, from the dataset max — never
    wall-clock), Frequency (event count), Monetary (value cents);
    each quintiled into 1..5 (5 = best), users then counted per
    (r, f, m) cell. The census is what lifecycle campaigns target
    ("555" = champions, "1xx" = churned).

    Determinism: all three metrics are exact integers; the quintile
    windows order by (metric, user_id) so engine sort ties are
    impossible; recency orders DESC so ntile 5 = most recent. Plan:
    one user hash-agg, then three ntile windows over the
    |users|-sized NARROW frame (never raw events). The global ntile
    is a single-partition sort — exact-rank semantics require it;
    at 10^9 users swap the cut for approx_percentile breakpoints
    (the cells change only at quantile boundaries), the same
    exact-vs-sketch trade documented at duration_percentiles."""
    from pyspark.sql import Window

    anchor = events.agg(
        F.max(F.to_date(ts_col)).alias("d_max")
    )
    per_user = (
        events.crossJoin(F.broadcast(anchor))
        .groupBy(F.col(user_col).alias("u"))
        .agg(
            F.min(F.datediff("d_max", F.to_date(ts_col)))
            .cast("long")
            .alias("recency_days"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(F.floor(F.col(value_col) * 100 + F.lit(0.5)))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    # recency: FEWER days since last = better -> order DESC so ntile 5
    # lands on the most recent users, matching f/m "5 = best"
    wr = Window.orderBy(F.desc("recency_days"), F.asc("u"))
    wf = Window.orderBy(F.asc("frequency"), F.asc("u"))
    wm = Window.orderBy(F.asc("monetary_cents"), F.asc("u"))
    scored = per_user.select(
        "u",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(n_tiles).over(wr).alias("r_score"),
        F.ntile(n_tiles).over(wf).alias("f_score"),
        F.ntile(n_tiles).over(wm).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("frequency").cast("long").alias("total_events"),
            F.sum("monetary_cents").cast("long").alias("total_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def percentile_rank_ci(
    parsed: DataFrame,
    p_pct: int = 99,
    z_times_100: int = 196,
    min_n: int = 30,
) -> DataFrame:
    """Distribution-free confidence interval for a percentile — the
    answer to "is this p99 regression real or sampling noise": the
    p-th percentile's CI is just the sample values at ORDER-STATISTIC
    ranks k ± z·sqrt(n·p·(1−p)) (binomial/normal approximation), no
    distributional assumption about latencies (which are never
    normal). Reported per op_type.

    Exactness: the point rank is pure integer ceil-division
    (k = ⌈p·n/100⌉ = (p·n + 99) div 100); the CI ranks pass through
    one FIXED chain of IEEE ops (mul, sqrt, mul, add/sub) on exact
    integers, then round6 → ceil, so both engines compute identical
    ranks; the reported values are order statistics — exact ints.
    Plan: one op_type-partitioned row_number window over the routed
    duration rows, three rank-equality filters ride the same window
    output; groups below ``min_n`` are dropped (the approximation is
    meaningless there)."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    d = parsed.filter(
        F.col("is_parsed")
        & F.col("op_type").isNotNull()
        & F.col("duration_ms").isNotNull()
    ).select("op_type", F.col("duration_ms").cast("long").alias("v"))
    w = Window.partitionBy("op_type").orderBy("v")
    ranked = d.withColumn("r", F.row_number().over(w))
    sizes = d.groupBy("op_type").agg(F.count("*").cast("long").alias("n"))
    p = F.lit(p_pct)
    mean_r = F.col("n") * p / 100  # one IEEE divide on exact ints
    sd = F.sqrt(
        F.col("n").cast("double") * p / 100 * (100 - p_pct) / 100
    )
    z = F.lit(z_times_100) / 100
    ranks = sizes.filter(F.col("n") >= min_n).select(
        "op_type",
        "n",
        F.expr(f"({p_pct}L * n + 99) div 100").alias("k"),
        F.greatest(
            F.ceil(round6(mean_r - z * sd)), F.lit(1)
        ).cast("long").alias("k_lo"),
        F.least(
            F.ceil(round6(mean_r + z * sd)), F.col("n")
        ).cast("long").alias("k_hi"),
    )
    j = ranked.join(F.broadcast(ranks), "op_type")
    return (
        j.groupBy("op_type")
        .agg(
            F.min("n").alias("n"),
            F.max(F.when(F.col("r") == F.col("k"), F.col("v"))).alias(
                "p_value"
            ),
            F.max(F.when(F.col("r") == F.col("k_lo"), F.col("v"))).alias(
                "ci_lo"
            ),
            F.max(F.when(F.col("r") == F.col("k_hi"), F.col("v"))).alias(
                "ci_hi"
            ),
        )
        .select(
            "op_type",
            F.col("n").cast("long").alias("n"),
            F.col("p_value").cast("long").alias(f"p{p_pct}"),
            F.col("ci_lo").cast("long").alias("ci_lo"),
            F.col("ci_hi").cast("long").alias("ci_hi"),
        )
        .orderBy("op_type")
    )


def revenue_concentration(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    segment_col: str,
    amount_col: str,
) -> DataFrame:
    """Revenue-concentration audit per segment: the Gini coefficient
    and the Pareto-80 head count ("how many customers produce 80 % of
    revenue") — the inequality measures behind whale-risk reviews and
    data-mixture skew checks (the same math flags a token vocabulary
    dominated by a handful of types).

    Exactness: per-entity revenue is integer cents; Gini's Σi·x_i over
    the ascending rank and the Pareto cut both stay in BIGINT (the cut
    is the cross-multiplication 5·cum_before < 4·total — no 0.8 float
    ever); Gini's closing form 2S/(nT) − (n+1)/n is a fixed handful of
    IEEE ops on exact integers. Plan: fact joins the broadcast dim,
    one entity hash-agg, then SEGMENT-partitioned rank windows (never
    a global sort) over the dimension-sized entity frame."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    per = (
        fact.join(F.broadcast(dim), fact[fact_key] == dim[dim_key])
        .groupBy(
            F.col(segment_col).alias("segment"),
            F.col(dim_key).alias("entity"),
        )
        .agg(
            F.sum(F.floor(F.col(amount_col) * 100 + F.lit(0.5)))
            .cast("long")
            .alias("cents")
        )
    )
    wa = Window.partitionBy("segment").orderBy(
        F.asc("cents"), F.asc("entity")
    )
    wd = (
        Window.partitionBy("segment")
        .orderBy(F.desc("cents"), F.asc("entity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per.select(
        "segment",
        "cents",
        F.row_number().over(wa).cast("long").alias("i"),
        (F.sum("cents").over(wd) - F.col("cents")).alias("cum_before"),
    )
    agg = ranked.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_entities"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("s_ix"),
    )
    # the Pareto cut needs the segment total, so it rides a second
    # pass over the tiny ranked frame with the total joined back
    cut = (
        ranked.join(
            agg.select("segment", F.col("total_cents").alias("t")),
            "segment",
        )
        .select(
            "segment",
            (F.col("cum_before") * 5 < F.col("t") * 4)
            .cast("long")
            .alias("in_head"),
        )
        .groupBy("segment")
        .agg(F.sum("in_head").cast("long").alias("n_for_80pct"))
    )
    n = F.col("n_entities").cast("double")
    gini = (
        F.lit(2.0) * F.col("s_ix") / (n * F.col("total_cents"))
        - (n + 1) / n
    )
    return (
        agg.join(cut, "segment")
        .select(
            "segment",
            "n_entities",
            "total_cents",
            round6(gini).alias("gini"),
            "n_for_80pct",
            round6(F.col("n_for_80pct") / F.col("n_entities")).alias(
                "head_share"
            ),
        )
        .orderBy("segment")
    )


def ab_power_mde(
    events: DataFrame,
    convert_type: str = "purchase",
    user_col: str = "user_id",
    z_alpha_x100: int = 196,
    z_beta_x100: int = 84,
) -> DataFrame:
    """Power analysis for the A/B setup: the minimum detectable
    effect at 80 % power / 95 % confidence given the arms we actually
    have — the pre-registration number that decides whether an
    experiment is worth running at all (an MDE above any plausible
    effect means the test can only produce noise). Uses the standard
    two-proportion approximation MDE = (z_α/2+z_β)·sqrt(2·p(1−p)/n̄)
    with p = pooled conversion and n̄ the harmonic mean of the arm
    sizes (the exact small-imbalance correction).

    Arms and conversions use ab_lift's md5/parity devices, so the
    three experiment queries (lift, CUPED, power) describe the same
    population. Integer counts feed ONE fixed chain of IEEE ops
    (two divisions, sqrt, multiply) — mirrored verbatim."""
    from stash_log_parser_spark.operators.textstats import round6

    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    per_user = (
        events.select(
            F.col(user_col).alias("u"),
            arm.alias("arm"),
            (F.col("event_type") == convert_type).cast("long").alias("c"),
        )
        .groupBy("u", "arm")
        .agg((F.sum("c") % 2).cast("long").alias("converted"))
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum("converted").cast("long").alias("conv"),
        F.count("*").cast("long").alias("n"),
    )
    p = F.col("conv") / F.col("n")
    # harmonic mean of arm sizes: 2·na·nb / (na+nb) — exact ints until
    # the one division
    nh = (F.lit(2) * F.col("na") * F.col("nb")) / (
        F.col("na") + F.col("nb")
    )
    z = (F.lit(z_alpha_x100) + F.lit(z_beta_x100)) / 100
    mde = z * F.sqrt(F.lit(2.0) * p * (1 - p) / nh)
    return agg.select(
        "na",
        "nb",
        "conv",
        round6(p).alias("pooled_rate"),
        round6(mde).alias("mde_abs"),
        round6(mde / p).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# log template mining (Drain-lite) — beyond-reference log-pipeline operator
# ---------------------------------------------------------------------------


def log_template_census(parsed: DataFrame, rare_ppm: int = 5000) -> DataFrame:
    """Log TEMPLATE mining, the Drain-style first step of every log
    anomaly pipeline, reduced to its deterministic core: mask the
    variable fields of the action string (repo slugs, digit runs) and
    census the resulting templates. Rare templates — the ones worth a
    human look — are flagged when their share is below ``rare_ppm``
    parts-per-million of all lines.

    The template source is ``method ⧺ ' ' ⧺ path`` (the slim parsed
    frame's normalized action fields). Masking is two engine-portable
    regexp_replace passes (ASCII classes, identical in Java regex and
    RE2): ``/<proj>/<repo>.git`` → ``/<repo>.git``, then digit runs →
    ``<n>`` (collapses versioned paths, ports, counters). Malformed
    lines census under the reserved ``<malformed>`` template —
    counted, never dropped (the F5 discipline).

    Scale shape: one projection + one hash-agg on a LOW-cardinality key
    (templates number in the dozens where raw actions number in the
    millions) — map-side partials bound the exchange by |templates| per
    input partition; the rare flag needs only an unbounded window over
    the template census itself (template-count-sized)."""
    from pyspark.sql import Window

    action = F.concat_ws(" ", F.col("method"), F.col("path"))
    t = F.regexp_replace(
        action, r"/[A-Za-z0-9_.\-]+/[A-Za-z0-9_.\-]+\.git", "/<repo>.git"
    )
    t = F.regexp_replace(t, r"[0-9]+", "<n>")
    rows = parsed.select(
        F.when(F.col("is_parsed") & F.col("method").isNotNull(), t)
        .otherwise(F.lit("<malformed>"))
        .alias("template"),
        "username",
    )
    census = rows.groupBy("template").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.count_distinct("username").cast("long").alias("n_users"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    total = F.sum("n_lines").over(w_all)
    return (
        census.withColumn(
            "is_rare",
            F.col("n_lines") * F.lit(1_000_000) < total * F.lit(int(rare_ppm)),
        )
        .orderBy(F.desc("n_lines"), F.asc("template"))
    )


def shuffle_skew_report(
    df: DataFrame, key_col: str, target_ratio: int = 1
) -> DataFrame:
    """Shuffle-key skew diagnostics — the measurement you run BEFORE
    choosing a salt factor for a skewed aggregation/join (the
    repository_stats_salted companion): per-key census, then one
    summary row with the hot key, its traffic share, and the
    recommended salt partitions.

    ``recommended_salt`` = ceil(max_key_rows · n_keys / n_rows), i.e.
    how many times the hottest key exceeds the MEAN key — salting the
    hot key into that many sub-keys levels its reducer with the
    average one (times ``target_ratio`` if a stricter level is wanted).
    All-integer arithmetic; the one share column is exact ppm.

    Scale shape: the census is the SAME partial-agg shuffle the real
    aggregation would do (|keys| partial rows per input partition);
    everything after operates on the key-count table. NULL keys are
    censused under ``<null>`` and reported separately, never silently
    merged into the stats."""
    k2 = F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")).alias("k")
    census = df.select(k2).groupBy("k").agg(F.count("*").cast("long").alias("c"))
    real = F.col("k") != "<null>"
    stats = census.agg(
        F.coalesce(F.sum(real.cast("long")), F.lit(0)).cast("long").alias("n_keys"),
        F.coalesce(F.sum(F.when(real, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("n_rows"),
        F.coalesce(F.max(F.when(real, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("max_rows"),
        F.coalesce(F.sum(F.when(~real, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("n_null_rows"),
    )
    hot = (
        census.filter(real)
        .join(F.broadcast(stats), F.col("c") == F.col("max_rows"))
        .agg(F.min("k").alias("hot_key"))
    )
    # integer `div`, never a double division of 1e18-scale products
    # (the BIGINT-div ↔ `//` oracle device)
    salt = F.expr(
        f"(max_rows * n_keys * {int(target_ratio)} + n_rows - 1) div n_rows"
    ).cast("long")
    return stats.crossJoin(F.broadcast(hot)).select(
        "n_keys",
        "n_rows",
        "n_null_rows",
        "max_rows",
        "hot_key",
        F.expr("(max_rows * 1000000) div n_rows").cast("long").alias(
            "top_share_ppm"
        ),
        salt.alias("recommended_salt"),
    )


def retention_cohorts(events: DataFrame, max_weeks: int = 8) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by their
    FIRST-seen week (Monday-truncated — identical in Spark and DuckDB),
    retention at week offset k = distinct cohort users active k weeks
    later, as exact ppm of the cohort.

    Scale shape: distinct (user, week) census first (the only
    corpus-scale shuffle, user-keyed); first-week per user is a
    user-keyed min; the matrix itself is cohort×offset-sized. The
    non-equi part is an equi-join on user_id — offsets come from
    datediff arithmetic, never a range join."""
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    uw = events.select("user_id", wk.alias("wk")).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    j = uw.join(first, "user_id").withColumn(
        "week_offset", (F.datediff("wk", "cohort_wk") / 7).cast("int")
    )
    j = j.filter(F.col("week_offset") <= max_weeks)
    cohort_sizes = first.groupBy("cohort_wk").agg(
        F.count("*").cast("long").alias("n_cohort")
    )
    ret = j.groupBy("cohort_wk", "week_offset").agg(
        F.count_distinct("user_id").cast("long").alias("n_active")
    )
    return (
        ret.join(F.broadcast(cohort_sizes), "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_cohort",
            "n_active",
            F.expr("(n_active * 1000000) div n_cohort").cast("long").alias(
                "retention_ppm"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def psi_value_drift(events: DataFrame, value_col: str = "value") -> DataFrame:
    """Population Stability Index of the value distribution between the
    FIRST and SECOND half of the observed day range — the standard
    "did my metric distribution drift" check (PSI > 0.2 = major shift),
    complementing the categorical KL drift (docs_source_kl_drift).

    Buckets are the HDR power-of-two device (bucket = bit-length of
    integer cents; 0 for non-positive) — fixed, engine-exact, no
    quantile estimation. The per-bucket PSI term
    ``(p_cur − p_base)·ln(p_cur/p_base)`` is emitted for buckets
    present in BOTH halves (the classic PSI epsilon-dodge), with raw
    counts alongside so skipped buckets stay visible. Terms are
    quantized to 1e-6 (ln is bit-stable across engines on one libm —
    the char_entropy precedent).

    Scale shape: one 1-row min/max day agg broadcast back (declared
    scalar cross-join), one (half, bucket) hash-agg; everything else is
    bucket-count-sized."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    bounds = events.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    bucket = F.when(cents > 0, F.length(F.bin(cents))).otherwise(0).cast("int")
    halves = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            (day * 2 <= F.col("d0") + F.col("d1")).alias("is_base"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.col("is_base").cast("long")).cast("long").alias("n_base"),
            F.sum((~F.col("is_base")).cast("long")).cast("long").alias("n_cur"),
        )
    )
    from pyspark.sql import Window

    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tb = F.sum("n_base").over(w_all)
    tc = F.sum("n_cur").over(w_all)
    p_b = F.col("n_base") / tb
    p_c = F.col("n_cur") / tc
    term = F.when(
        (F.col("n_base") > 0) & (F.col("n_cur") > 0),
        F.floor((p_c - p_b) * F.log(p_c / p_b) * 1_000_000 + F.lit(0.5)).cast(
            "long"
        ),
    )
    return halves.select(
        "bucket", "n_base", "n_cur", term.alias("psi_term_e6")
    ).orderBy("bucket")


def wasserstein_value_drift(
    events: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between the value
    distributions of the FIRST and SECOND half of the observed day
    range — the drift metric that, unlike PSI/KL/JS
    (:func:`psi_value_drift`), is sensitive to HOW FAR mass moved, not
    just that bucket shares changed: a +1-cent shift of every value and
    a +$100 shift give identical PSI over coarse buckets but W1 = 1
    cent vs $100. The standard complement in a drift dashboard.

    Closed form on the merged support: W1 = Σᵢ |F_base(xᵢ) − F_cur(xᵢ)|
    · (xᵢ₊₁ − xᵢ) over consecutive distinct values. Everything is
    integer-exact: values quantized to cents, the CDF difference
    |cb·N_cur − cc·N_base| kept as an integer NUMERATOR over the common
    denominator N_base·N_cur, so ``w1_num = Σ |cb·Nc − cc·Nb| · gap``
    is a BIGINT both engines agree on bit-for-bit; the reported
    ``w1_cents`` divides once at the end (round6-quantized).

    Scale shape: the same 1-row day-bounds broadcast as
    psi_value_drift, one (cents) hash-agg census, then ONE window
    ordered by cents for the cumulative sums — the window runs over the
    DISTINCT-cents support (bounded value domain, ≪ row count; the
    word_rarity vocab-window precedent), never over raw events, and the
    final fold is a 1-row agg."""
    from pyspark.sql import Window

    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    bounds = events.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    census = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            cents.alias("cents"),
            (day * 2 <= F.col("d0") + F.col("d1")).alias("is_base"),
        )
        .groupBy("cents")
        .agg(
            F.sum(F.col("is_base").cast("long")).cast("long").alias("nb"),
            F.sum((~F.col("is_base")).cast("long")).cast("long").alias("nc"),
        )
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.orderBy("cents")
    stepped = census.select(
        "cents",
        F.sum("nb").over(w_cum).alias("cb"),
        F.sum("nc").over(w_cum).alias("cc"),
        F.sum("nb").over(w_all).alias("Nb"),
        F.sum("nc").over(w_all).alias("Nc"),
        (F.lead("cents").over(w_next) - F.col("cents")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return stepped.agg(
        F.max("Nb").cast("long").alias("n_base"),
        F.max("Nc").cast("long").alias("n_cur"),
        F.sum(
            F.abs(F.col("cb") * F.col("Nc") - F.col("cc") * F.col("Nb"))
            * F.col("gap")
        )
        .cast("long")
        .alias("w1_num"),
        F.floor(
            F.sum(
                F.abs(F.col("cb") * F.col("Nc") - F.col("cc") * F.col("Nb"))
                * F.col("gap")
            ).cast("double")
            / (F.max("Nb") * F.max("Nc")).cast("double")
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w1_cents_e6"),
    )


def ab_funnel(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Ordered conversion funnel SPLIT BY EXPERIMENT ARM — the readout
    that tells you WHERE in view→click→purchase a treatment moves
    users, not just whether the last step moved (ab_lift's view).
    Arm assignment is the identical md5 device as ab_lift (first hex
    nibble < '8' → A), so the two reports partition users identically.

    Scale shape: the three conditional-min stages are user-keyed hash
    aggs (the events_funnel plan) with the arm label riding along; the
    final rollup is 2 rows."""
    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    ev = events.select(
        F.col(user_col).alias("u"), arm.alias("arm"), "event_type", "ts"
    )
    tv = ev.groupBy("u", "arm").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    tc = (
        ev.join(tv.select("u", "t_view"), "u")
        .groupBy("u", "t_view")
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
        ev.join(tc.select("u", "t_view", "t_click"), "u")
        .groupBy("u", "t_view", "t_click")
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
    return (
        tp.join(tv.select("u", "arm"), "u")
        .groupBy("arm")
        .agg(
            F.count("u").cast("long").alias("n_users"),
            F.count("t_view").cast("long").alias("n_viewed"),
            F.count("t_click").cast("long").alias("n_clicked_after_view"),
            F.count("t_purchase").cast("long").alias("n_purchased_after_click"),
        )
        .orderBy("arm")
    )


def _dense_hourly(events: DataFrame) -> DataFrame:
    """Shared calendar spine: the zero-filled (t, h, n) hourly census
    every dense-axis time-series operator starts from. One corpus-scale
    (type, hour) hash-agg with map-side partials; the spine is
    ``sequence(min,max)`` exploded (never a driver loop), the type list
    is a distinct on the tiny census, and the zero-fill left join runs
    on |types|·|hours| rows."""
    hour = F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
    # r6 (ADVICE item): the census used to be .cache()d for its three
    # consumers — which both leaked a CacheManager entry per query for
    # the rest of the session AND silently served repeat executions of
    # the same query from the cache (a measurement hazard under this
    # round's no-result-caching rule).  Instead the census is consumed
    # exactly ONCE (the zero-fill join); bounds and types are computed
    # directly from the events table with column-pruned scans — min/max
    # of the hour expression over events equals min/max of the census
    # hours, and distinct event_type equals the census's distinct t, so
    # nothing needs sharing at all.
    hc = (
        events.select(F.col("event_type").alias("t"), hour.alias("h"))
        .groupBy("t", "h")
        .agg(F.count("*").cast("long").alias("n"))
    )
    bounds = events.agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    types = events.select(F.col("event_type").alias("t")).distinct()
    return (
        spine.crossJoin(F.broadcast(types))
        .join(hc, ["t", "h"], "left")
        .select("t", "h", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
    )


def hourly_densified(
    events: DataFrame, trailing_hours: int = 3
) -> DataFrame:
    """Calendar-densified hourly count series per event type: every
    (type, hour) cell of the min→max hour span gets a row, empty hours
    ZERO-FILLED, plus a trailing-``trailing_hours`` moving sum computed
    over the DENSE axis. The gap-fill is the point, not a nicety: a
    ROWS-frame moving window over the sparse series silently spans
    calendar gaps (3 "rows" can cover 3 days), so every trailing-window
    metric on telemetry must densify first — this is that reusable
    surface (xcorr_lead_lag and seasonality_strength build the same
    spine privately; here it IS the product).

    Returns (event_type, hour, n, trailing_sum) — all exact BIGINTs.

    Scale shape: one corpus-scale (type, hour) hash-agg (map-side
    partials), then everything is dimension-sized: the spine is
    ``sequence(min,max)`` exploded (never a driver loop), the type list
    rides a distinct on the tiny census, the zero-fill left join and
    the per-type window all run on |types|·|hours| rows.
    """
    dense = _dense_hourly(events)
    w = (
        Window.partitionBy("t")
        .orderBy("h")
        .rowsBetween(-(trailing_hours - 1), 0)
    )
    return dense.select(
        F.col("t").alias("event_type"),
        F.from_unixtime(F.col("h") * 3600, "yyyy-MM-dd HH:00").alias("hour"),
        "n",
        F.sum("n").over(w).cast("long").alias("trailing_sum"),
    ).orderBy("event_type", "hour")


def holt_forecast(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 3,
) -> DataFrame:
    """Holt double-exponential smoothing per event type over the
    calendar-densified hourly series: level + trend state, multi-step
    forecast, and in-sample one-step MAE. Completes the smoothing
    ladder (ewma_smooth = level only, seasonal_naive = season only):
    Holt is the simplest model that extrapolates a TREND, which is what
    capacity planning off telemetry actually needs.

    Recurrence (t >= 1, l0 = y0, b0 = y1 - y0):
        l_t = α·y_t + (1-α)·(l_{t-1} + b_{t-1})
        b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}
    forecast_k = l_T + k·b_T.

    Returns one row per event_type: (event_type, n_hours, level, trend,
    mae, fc_1..fc_{horizon}), floats round6.

    Determinism: the loop runs on Python floats in EXACTLY the IEEE op
    order the DuckDB recursive-CTE oracle uses (b's update re-derives
    l_t from the same expression); counts are integers so y_t is exact
    in double; α/β literals parse to the same double in both engines.

    Scale shape: the corpus-scale work is _dense_hourly's (type, hour)
    hash-agg; the recurrence is inherently sequential (each state
    depends on the previous), so it runs per-type via applyInPandas on
    the DIMENSION-sized dense series (|hours| rows per type) — same
    documented exact-recurrence exception as corpus_pack_greedy, never
    applied to row-scale data.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from stash_log_parser_spark.operators.textstats import round6

    dense = _dense_hourly(events)
    out_schema = T.StructType(
        [T.StructField("event_type", T.StringType())]
        + [
            T.StructField(c, T.DoubleType())
            for c in ["level", "trend", "sae"]
        ]
        + [T.StructField("n_hours", T.LongType())]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h", kind="mergesort").reset_index(drop=True)
        ys = [float(v) for v in pdf["n"]]
        l = ys[0]
        b = ys[1] - ys[0] if len(ys) > 1 else 0.0
        sae = 0.0
        for y in ys[1:]:
            pred = l + b
            sae = sae + abs(y - pred)
            l_prev = l
            l = alpha * y + (1.0 - alpha) * (l_prev + b)
            b = beta * (l - l_prev) + (1.0 - beta) * b
        return pd.DataFrame(
            {
                "event_type": [pdf["t"].iloc[0]],
                "level": [l],
                "trend": [b],
                "sae": [sae],
                "n_hours": [len(ys)],
            }
        )

    fitted = dense.groupBy("t").applyInPandas(fit, schema=out_schema)
    fc = [
        round6(F.col("level") + F.lit(float(k)) * F.col("trend")).alias(
            f"fc_{k}"
        )
        for k in range(1, horizon + 1)
    ]
    return fitted.select(
        "event_type",
        "n_hours",
        round6(F.col("level")).alias("level"),
        round6(F.col("trend")).alias("trend"),
        round6(F.col("sae") / (F.col("n_hours") - 1).cast("double")).alias(
            "mae"
        ),
        *fc,
    ).orderBy("event_type")


def holt_winters(
    events: DataFrame,
    alpha: float = 0.25,
    beta: float = 0.1,
    gamma: float = 0.25,
    period: int = 24,
    horizon: int = 3,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per event
    type over the calendar-densified hourly series: level + trend +
    a ``period``-slot seasonal profile — the model that actually fits
    telemetry, whose dominant structure is the daily cycle
    (holt_forecast extrapolates trend but mistakes the cycle for
    noise; seasonal_naive has the cycle but no trend).

    Init from the first season (l₀ = season-1 mean, b₀ = per-step
    season-over-season drift, s = first-season residuals), then for
    t ≥ period:

        l_t = α·(y_t − s_{t−m}) + (1−α)·(l+b)
        b_t = β·(l_t − l) + (1−β)·b
        s_t = γ·(y_t − l_t) + (1−γ)·s_{t−m}

    forecast_k = l_T + k·b_T + s_{T−m+((k−1) mod m)}. Requires at
    least 2·period points (raises otherwise). Returns one row per
    type: (event_type, n_hours, level, trend, mae, fc_1..fc_h) — mae
    is the in-sample one-step error over the recurrence span, round6.

    Determinism: the Python loop keeps the seasonal state as the SAME
    rolling queue the DuckDB recursive CTE carries as a LIST column
    (head = s_{t−m}, append s_t), so every IEEE op matches in order
    and the 696-step recurrence is bit-identical; counts are ints so
    y_t is exact in double.

    Scale shape: identical to holt_forecast — the corpus-scale work is
    _dense_hourly's hash-agg; the inherently sequential recurrence
    runs per type via applyInPandas on the dimension-sized dense
    series (documented exact-recurrence exception).
    """
    import pandas as pd
    from pyspark.sql import types as T

    from stash_log_parser_spark.operators.textstats import round6

    m = period
    dense = _dense_hourly(events)
    out_schema = T.StructType(
        [T.StructField("event_type", T.StringType())]
        + [
            T.StructField(c, T.DoubleType())
            for c in ["level", "trend", "sae"]
        ]
        + [
            T.StructField(f"s{k}", T.DoubleType())
            for k in range(1, horizon + 1)
        ]
        + [T.StructField("n_hours", T.LongType())]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h", kind="mergesort").reset_index(drop=True)
        ys = [int(v) for v in pdf["n"]]
        if len(ys) < 2 * m:
            raise ValueError(
                f"holt_winters needs >= {2 * m} points, got {len(ys)}"
            )
        l = float(sum(ys[:m])) / float(m)
        b = (float(sum(ys[m : 2 * m])) - float(sum(ys[:m]))) / float(m * m)
        season = [float(y) - l for y in ys[:m]]
        sae = 0.0
        for t in range(m, len(ys)):
            y = float(ys[t])
            s0 = season[0]
            sae = sae + abs(y - (l + b + s0))
            l_new = alpha * (y - s0) + (1.0 - alpha) * (l + b)
            b_new = beta * (l_new - l) + (1.0 - beta) * b
            s_new = gamma * (y - l_new) + (1.0 - gamma) * s0
            season = season[1:] + [s_new]
            l, b = l_new, b_new
        row = {
            "event_type": [pdf["t"].iloc[0]],
            "level": [l],
            "trend": [b],
            "sae": [sae],
            "n_hours": [len(ys)],
        }
        for k in range(1, horizon + 1):
            row[f"s{k}"] = [season[(k - 1) % m]]
        return pd.DataFrame(row)

    fitted = dense.groupBy("t").applyInPandas(fit, schema=out_schema)
    fc = [
        round6(
            F.col("level")
            + F.lit(float(k)) * F.col("trend")
            + F.col(f"s{k}")
        ).alias(f"fc_{k}")
        for k in range(1, horizon + 1)
    ]
    return fitted.select(
        "event_type",
        "n_hours",
        round6(F.col("level")).alias("level"),
        round6(F.col("trend")).alias("trend"),
        round6(
            F.col("sae") / (F.col("n_hours") - m).cast("double")
        ).alias("mae"),
        *fc,
    ).orderBy("event_type")


#: Shapley attribution channels: (event_type, bit). Purchases are the
#: conversion, errors are not a touchpoint. Shared by the Spark side
#: and the generated oracle SQL so the two cannot drift.
_SHAPLEY_CHANNELS = [("view", 1), ("click", 2), ("signup", 4)]


def _shapley_subsets(bit: int) -> list[tuple[int, int, int]]:
    """(subset_mask_without_channel, numerator, denominator) triples
    for one channel's Shapley sum, subsets in ascending mask order.
    Weights are |S|!·(n−1−|S|)!/n! kept as exact integer fractions."""
    import itertools
    import math

    others = [b for _, b in _SHAPLEY_CHANNELS if b != bit]
    n = len(_SHAPLEY_CHANNELS)
    out = []
    for r in range(len(others) + 1):
        for combo in itertools.combinations(others, r):
            mask = sum(combo)
            num = math.factorial(r) * math.factorial(n - 1 - r)
            out.append((mask, num, math.factorial(n)))
    return sorted(out)


def shapley_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Shapley-value channel attribution over pre-conversion touchpoint
    SETS: each user contributes their exact set of channels touched
    strictly before their first purchase (their whole history if they
    never convert); the coalition value v(S) is the conversion rate of
    users with EXACTLY that set, and each channel's credit is the
    Shapley average marginal contribution — the order-fair attribution
    last_touch and linear_attribution bracket from either side.

    φ_i = Σ_{S ⊆ C∖{i}} |S|!·(n−1−|S|)!/n! · (v(S∪{i}) − v(S)),
    v(unobserved set) = 0 (documented convention of the exact-set
    estimator).

    Returns one row per channel: (channel, n_exposed, shapley) —
    n_exposed = users whose pre-conversion set contains the channel;
    shapley round6.

    Determinism: the 8-mask census collapses to ONE all-integer row;
    each φ is a fixed ascending-mask sum of ≤4 double terms with the
    exact-fraction weights applied as integer numerators over one
    final /6.0 — the oracle SQL is GENERATED from the same
    _SHAPLEY_CHANNELS/_shapley_subsets tables.

    Scale shape: one user-keyed window + hash-agg (single exchange —
    the window and the groupBy share the user partitioning), then the
    8-row mask census collapses to one row; nothing row-scale after.
    """
    from stash_log_parser_spark.operators.textstats import round6

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = events.select(
        F.col(user_col).alias("u"), us.alias("us"), "event_type"
    )
    fp = F.min(
        F.when(F.col("event_type") == "purchase", F.col("us"))
    ).over(Window.partitionBy("u"))
    bit = F.lit(None).cast("long")
    for name, b in _SHAPLEY_CHANNELS:
        bit = F.when(F.col("event_type") == name, F.lit(b)).otherwise(bit)
    tagged = base.select(
        "u",
        fp.alias("fp"),
        bit.alias("bit"),
        "us",
    )
    per_user = (
        tagged.filter(
            F.col("bit").isNotNull()
            & (F.col("fp").isNull() | (F.col("us") < F.col("fp")))
        )
        .groupBy("u")
        .agg(
            F.bit_or("bit").cast("long").alias("mask"),
            F.max((F.col("fp").isNotNull()).cast("long")).alias("conv"),
        )
    )
    # users whose ONLY pre-conversion events are non-channel types (or
    # who have no pre-conversion events) belong to the empty set; keep
    # them via a full user list anti-pattern-free union: derive every
    # user's conv flag once, left-join the mask.
    all_users = tagged.groupBy("u").agg(
        F.max((F.col("fp").isNotNull()).cast("long")).alias("conv_all")
    )
    census_rows = (
        all_users.join(per_user, "u", "left")
        .select(
            F.coalesce("mask", F.lit(0)).cast("long").alias("mask"),
            F.coalesce("conv", F.col("conv_all")).cast("long").alias("conv"),
        )
        .groupBy("mask")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("conv").cast("long").alias("c"),
        )
    )
    n_masks = 1 << len(_SHAPLEY_CHANNELS)
    one = census_rows.agg(
        *[
            agg
            for msk in range(n_masks)
            for agg in (
                F.sum(F.when(F.col("mask") == msk, F.col("n")).otherwise(0))
                .cast("long")
                .alias(f"n{msk}"),
                F.sum(F.when(F.col("mask") == msk, F.col("c")).otherwise(0))
                .cast("long")
                .alias(f"c{msk}"),
            )
        ]
    )

    def _v(msk):
        return F.when(
            F.col(f"n{msk}") > 0,
            F.col(f"c{msk}").cast("double")
            / F.col(f"n{msk}").cast("double"),
        ).otherwise(F.lit(0.0))

    outs = []
    for name, b in _SHAPLEY_CHANNELS:
        terms = None
        den = None
        for mask, num, d in _shapley_subsets(b):
            den = d
            t = F.lit(float(num)) * (_v(mask | b) - _v(mask))
            terms = t if terms is None else terms + t
        exposed = None
        for msk in range(n_masks):
            if msk & b:
                e = F.col(f"n{msk}")
                exposed = e if exposed is None else exposed + e
        outs.append(
            one.select(
                F.lit(name).alias("channel"),
                exposed.cast("long").alias("n_exposed"),
                round6(terms / F.lit(float(den))).alias("shapley"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("channel")


def rate_limit_audit(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    rate_per_hour: int = 1,
    burst: int = 2,
) -> DataFrame:
    """Token-bucket rate-limit POLICY SIMULATION per user: replay each
    user's event stream through a bucket of ``burst`` tokens refilling
    at ``rate_per_hour`` and report what the policy would have
    rejected — the capacity/abuse dry-run an operator does before
    turning a limiter on (bot_rate_flags detects outliers; this
    quantifies a concrete policy's blast radius).

    Two-sided-reflected integer recurrence in micro-tokens (the bucket
    clips at ``burst`` above and the spend clips at allowance below,
    so no prefix-sum closed form exists — unlike CUSUM's one-sided
    reflection):

        avail = min(burst·10⁶, bal + Δus·rate // 3600)
        allowed ⇔ avail ≥ 10⁶;  bal' = avail − 10⁶ if allowed else avail

    Returns one row per user: (user_id, n_req, n_rejected, reject_rate,
    first_reject_seq) — rate round6, seq 1-based and null when nothing
    was rejected.

    Determinism: pure int64 arithmetic (floor div both engines,
    nonnegative operands); the DuckDB oracle replays the identical
    recurrence as a recursive CTE over per-user row_number — depth is
    the per-user event count, which the testdata holds SF-invariant
    (~70).

    Scale shape: one user-keyed applyInPandas scan (the cusum per-key
    exception: inherently sequential per key, bounded by per-user
    activity); output is users-sized.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from stash_log_parser_spark.operators.textstats import round6

    cap = burst * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", events.schema[user_col].dataType),
            T.StructField("n_req", T.LongType()),
            T.StructField("n_rejected", T.LongType()),
            T.StructField("first_reject_seq", T.LongType()),
        ]
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("us", kind="mergesort").reset_index(drop=True)
        uss = [int(v) for v in pdf["us"]]
        bal = cap - 1_000_000  # first request always allowed (burst >= 1)
        n_rej, first = 0, None
        prev = uss[0]
        for seq, us_ in enumerate(uss[1:], start=2):
            avail = min(cap, bal + (us_ - prev) * rate_per_hour // 3600)
            if avail >= 1_000_000:
                bal = avail - 1_000_000
            else:
                bal = avail
                n_rej += 1
                if first is None:
                    first = seq
            prev = us_
        return pd.DataFrame(
            {
                "user_id": [pdf["u"].iloc[0]],
                "n_req": [len(uss)],
                "n_rejected": [n_rej],
                "first_reject_seq": [first],
            }
        )

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    keyed = events.select(F.col(user_col).alias("u"), us.alias("us"))
    out = keyed.groupBy("u").applyInPandas(scan, schema=out_schema)
    return out.select(
        "user_id",
        "n_req",
        "n_rejected",
        F.when(
            F.col("n_req") > 0,
            round6(
                F.col("n_rejected").cast("double")
                / F.col("n_req").cast("double")
            ),
        ).alias("reject_rate"),
        "first_reject_seq",
    ).orderBy("user_id")


def did_pretrends(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Parallel-trends diagnostic for difference-in-differences: the
    per-arm OLS slope of the PRE-period daily mean outcome, and their
    gap — the validity check a DiD readout (events_did) is worthless
    without: if the arms were already trending apart before treatment,
    the DiD estimate absorbs that divergence as fake effect.

    Daily means are e6-quantized to integers (floor(s·10⁶/n + 0.5) —
    one deterministic division per day) so every regression moment
    (Σx, Σy, Σxy, Σx²) is an exact BIGINT sum over the days census,
    order-independent; the two slopes and their gap are then a fixed
    handful of IEEE ops. Days are indexed 0..D−1 from the pre-period
    start.

    Returns one row: (n_days_pre, slope_a_e6, slope_b_e6, slope_gap_e6)
    — slopes in e6-quantized cents/day, round6.

    Scale shape: one corpus-scale (arm, day) hash-agg; the regression
    runs on the ≤2·D-row census collapsed to one row of integer
    moments.
    """
    from stash_log_parser_spark.operators.textstats import round6

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    span = events.agg(
        F.min(us).alias("lo_us"), F.max(us).alias("hi_us")
    ).select(
        F.col("lo_us"),
        F.expr("(lo_us + hi_us) div 2").alias("mid_us"),
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    pre = (
        events.crossJoin(F.broadcast(span))
        .filter(us <= F.col("mid_us"))
        .select(
            arm.alias("arm"),
            F.expr("(unix_micros(cast(ts as timestamp)) - lo_us)"
                   " div 86400000000").alias("x"),
            cents.alias("y"),
        )
    )
    daily = pre.groupBy("arm", "x").agg(
        F.floor(
            F.sum("y") * F.lit(1_000_000) / F.count("*") + F.lit(0.5)
        )
        .cast("long")
        .alias("ym")
    )
    dec = "decimal(38,0)"
    mom = daily.agg(
        *[
            agg
            for a_ in ("A", "B")
            for agg in (
                F.sum(F.when(F.col("arm") == a_, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{a_}"),
                F.sum(F.when(F.col("arm") == a_, F.col("x")).otherwise(0))
                .cast("long")
                .alias(f"sx_{a_}"),
                F.sum(
                    F.when(F.col("arm") == a_, F.col("ym")).otherwise(0)
                )
                .cast(dec)
                .alias(f"sy_{a_}"),
                F.sum(
                    F.when(
                        F.col("arm") == a_,
                        F.col("x").cast("decimal(19,0)")
                        * F.col("ym").cast("decimal(19,0)"),
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                ).alias(f"sxy_{a_}"),
                F.sum(
                    F.when(F.col("arm") == a_, F.col("x") * F.col("x"))
                    .otherwise(0)
                )
                .cast("long")
                .alias(f"sx2_{a_}"),
            )
        ]
    )

    def _slope(a_):
        n = F.col(f"n_{a_}").cast(dec)
        num = (n * F.col(f"sxy_{a_}")
               - F.col(f"sx_{a_}").cast(dec) * F.col(f"sy_{a_}")).cast(
            "double"
        )
        den = (
            n * F.col(f"sx2_{a_}").cast(dec)
            - F.col(f"sx_{a_}").cast(dec) * F.col(f"sx_{a_}").cast(dec)
        ).cast("double")
        return num / den

    sa, sb = _slope("A"), _slope("B")
    return mom.select(
        F.greatest(F.col("n_A"), F.col("n_B")).cast("long").alias(
            "n_days_pre"
        ),
        round6(sa).alias("slope_a_e6"),
        round6(sb).alias("slope_b_e6"),
        round6(sb - sa).alias("slope_gap_e6"),
    )


def autoscale_sim(
    parsed: DataFrame,
    hi_permille: int = 700,
    lo_permille: int = 300,
    k_up: int = 3,
    k_down: int = 10,
    cooldown: int = 5,
    r_start: int = 4,
    r_min: int = 1,
    r_max: int = 20,
) -> DataFrame:
    """HPA-style autoscaler POLICY SIMULATION over the densified minute
    load series: replicas scale up after ``k_up`` consecutive minutes
    over ``hi_permille`` utilization, down after ``k_down`` under
    ``lo_permille``, with a ``cooldown`` freeze after every action —
    the dry-run that answers "how many replicas would this policy have
    run, and how often would we still have been over-utilized?"
    (erlang_capacity sizes a FIXED fleet; this simulates the moving
    one).

    Load is offered micro-erlangs per minute a_e6 = busy-ms·50//3
    (pure integers); utilization compares are integer
    cross-multiplications (a_e6 > hi·r·1000). The whole state
    (replicas, streaks, cooldown) is integer, so the DuckDB
    recursive-CTE oracle replays it bit-for-bit over the same dense
    spine.

    Returns one row per minute: (minute, n_req, a_e6, replicas,
    action, over_util) — replicas AFTER the minute's action, action ∈
    {−1, 0, +1}, over_util judged at the pre-action replica count.

    Scale shape: one corpus-scale (minute) hash-agg; the simulation is
    inherently sequential over the GLOBAL minute series, so it runs as
    a single applyInPandas task on the dimension-sized dense frame
    (~1.4k minutes/day — the exact-recurrence exception at its
    smallest).
    """
    import pandas as pd
    from pyspark.sql import types as T

    base = parsed.filter(
        F.col("is_parsed") & F.col("duration_ms").isNotNull()
    )
    minute = F.expr("unix_micros(ts) div 60000000")
    mc = base.groupBy(minute.alias("m")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("duration_ms").cast("long").alias("sum_ms"),
    )
    bounds = mc.agg(F.min("m").alias("m0"), F.max("m").alias("m1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("m0"), F.col("m1"))).alias("m")
    )
    dense = spine.join(mc, ["m"], "left").select(
        "m",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        (F.coalesce("sum_ms", F.lit(0)) * 50)
        .cast("long")
        .alias("busy50"),
    ).withColumn("a_e6", F.expr("busy50 div 3").cast("long"))
    out_schema = T.StructType(
        [
            T.StructField("m", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("a_e6", T.LongType()),
            T.StructField("replicas", T.LongType()),
            T.StructField("action", T.LongType()),
            T.StructField("over_util", T.BooleanType()),
        ]
    )

    def sim(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("m", kind="mergesort").reset_index(drop=True)
        r, up, down, cool = r_start, 0, 0, 0
        reps, acts, overs = [], [], []
        for a in (int(v) for v in pdf["a_e6"]):
            over = a > hi_permille * r * 1000
            under = a < lo_permille * r * 1000
            act = 0
            if cool > 0:
                cool -= 1
                up = down = 0
            else:
                up = up + 1 if over else 0
                down = down + 1 if under else 0
                if up >= k_up and r < r_max:
                    r += 1
                    act = 1
                    cool = cooldown
                    up = down = 0
                elif down >= k_down and r > r_min:
                    r -= 1
                    act = -1
                    cool = cooldown
                    up = down = 0
            reps.append(r)
            acts.append(act)
            overs.append(over)
        return pd.DataFrame(
            {
                "m": pdf["m"],
                "n": pdf["n"],
                "a_e6": pdf["a_e6"],
                "replicas": reps,
                "action": acts,
                "over_util": overs,
            }
        )

    out = (
        dense.select("m", "n", "a_e6")
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda pdf: sim(pdf.drop(columns=["_g"], errors="ignore")),
            schema=out_schema,
        )
    )
    return out.select(
        F.from_unixtime(F.col("m") * 60, "yyyy-MM-dd HH:mm").alias(
            "minute"
        ),
        F.col("n").alias("n_req"),
        "a_e6",
        "replicas",
        "action",
        "over_util",
    ).orderBy("minute")


#: ipw_ate's stratum boundaries (pre-period event count) and the
#: md5-hex-digit treatment threshold per stratum — higher-activity
#: strata are assigned treatment more often, which is exactly the
#: confounding IPW exists to undo. Boundaries are centered on the
#: testdata's SF-INVARIANT per-user activity (~33 pre-period events at
#: every SF: events/user is constant by construction) so all five
#: strata are populated at sf0.001 through sf0.1.
_IPW_STRATA = [(25, "3"), (30, "6"), (34, "9"), (39, "c"), (None, "e")]


def ipw_ate(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Observational (non-randomized) treatment-effect estimation via
    stratified inverse-propensity weighting — the estimator family the
    randomized-experiment suite (ab_lift, cuped, did) cannot replace:
    when exposure probability varies with user behavior, the naive
    treated-vs-control difference is confounded and IPW reweights each
    stratum by 1/ê(s) to recover the population effect.

    The scenario is self-contained and deterministic: strata are fixed
    pre-period activity buckets (_IPW_STRATA boundaries on the user's
    pre-midpoint event count), treatment is the stable md5-bucket coin
    with a stratum-DEPENDENT threshold (3/16 … 14/16) so heavier users
    — who also have higher post-period outcomes — are treated more
    often. True effect is 0 by construction (the coin never touches
    the outcome), so naive_diff exhibits the confounding bias while
    ipw_ate (Horvitz-Thompson) and hajek_ate (self-normalized) shrink
    toward 0. With ê(s) = the observed treated share, the HT weights
    already normalize exactly (Σ Tᵢ/ê = Σ n_s = n), so the two columns
    coincide BY CONSTRUCTION here — both are kept because they diverge
    the moment ê comes from a model instead of the stratum share, and
    the contract pins that coincidence as a correctness invariant.

    Strata missing either arm are excluded from ALL reported
    estimators (n_degenerate_strata audits how many); ê(s) is the
    observed treated share of the stratum.

    Returns one row: (n_users, n_strata_valid, n_degenerate_strata,
    naive_diff, ipw_ate, hajek_ate) — diffs in post-period cents/user,
    round6.

    Determinism discipline: everything up to the last step is exact
    integers (cents, counts, per-stratum conditional sums collapsed to
    ONE row so no float ever aggregates in engine-dependent order);
    the final estimators are a FIXED left-to-right sum of ≤5 per-
    stratum double terms, written identically in the DuckDB mirror.
    Products that could pass 2^63 at 10^12-row scale ride
    decimal(38,0) (HUGEINT in the mirror).

    Scale shape: one corpus-scale per-user hash-agg (map-side
    partials), then a single-row conditional-sum collapse — no window,
    no join, nothing keyed by more than |users|.
    """
    dec = "decimal(38,0)"
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    span = events.agg(
        F.min(us).alias("lo_us"), F.max(us).alias("hi_us")
    ).select(F.expr("(lo_us + hi_us) div 2").alias("mid_us"))
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    per_user = (
        events.crossJoin(F.broadcast(span))
        .select(
            F.col(user_col).alias("u"),
            F.when(us <= F.col("mid_us"), 1).otherwise(0).alias("pre"),
            F.when(us > F.col("mid_us"), cents).otherwise(0).alias("yc"),
        )
        .groupBy("u")
        .agg(
            F.sum("pre").cast("long").alias("npre"),
            F.sum("yc").cast("long").alias("y"),
        )
    )
    stratum = F.lit(None).cast("int")
    for i, (bound, _) in reversed(list(enumerate(_IPW_STRATA))):
        cond = (
            F.lit(True) if bound is None else F.col("npre") < F.lit(bound)
        )
        stratum = F.when(cond, F.lit(i)).otherwise(stratum)
    treat = F.lit(None).cast("int")
    for i, (_, thr) in enumerate(_IPW_STRATA):
        treat = F.when(
            F.col("s") == i,
            (
                F.substring(F.md5(F.col("u").cast("string")), 1, 1)
                < F.lit(thr)
            ).cast("int"),
        ).otherwise(treat)
    tagged = per_user.select(
        "u", "y", stratum.alias("s")
    ).select("y", "s", treat.alias("t"))
    # Collapse to ONE row of exact ints: per-stratum user counts, arm
    # counts and arm outcome sums as conditional aggregates.
    aggs = []
    for i in range(len(_IPW_STRATA)):
        in_s = F.col("s") == i
        aggs += [
            F.sum(F.when(in_s, 1).otherwise(0)).cast("long").alias(f"n{i}"),
            F.sum(F.when(in_s & (F.col("t") == 1), 1).otherwise(0))
            .cast("long")
            .alias(f"nt{i}"),
            F.sum(F.when(in_s & (F.col("t") == 1), F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"yt{i}"),
            F.sum(F.when(in_s & (F.col("t") == 0), F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"yc{i}"),
        ]
    one = tagged.agg(*aggs)

    def _valid(i):
        nc = F.col(f"n{i}") - F.col(f"nt{i}")
        return (F.col(f"nt{i}") > 0) & (nc > 0)

    def _sum_terms(terms):
        expr = terms[0]
        for t in terms[1:]:
            expr = expr + t
        return expr

    k = len(_IPW_STRATA)
    n_valid = _sum_terms(
        [F.when(_valid(i), F.col(f"n{i}")).otherwise(0) for i in range(k)]
    ).cast("long")
    nt_tot = _sum_terms(
        [F.when(_valid(i), F.col(f"nt{i}")).otherwise(0) for i in range(k)]
    ).cast("long")
    nc_tot = (n_valid - nt_tot).cast("long")
    yt_tot = _sum_terms(
        [F.when(_valid(i), F.col(f"yt{i}")).otherwise(0) for i in range(k)]
    ).cast("long")
    yc_tot = _sum_terms(
        [F.when(_valid(i), F.col(f"yc{i}")).otherwise(0) for i in range(k)]
    ).cast("long")
    n_strata_valid = _sum_terms(
        [F.when(_valid(i), 1).otherwise(0) for i in range(k)]
    ).cast("long")

    def _mu(sum_col, cnt_col):
        return sum_col.cast("double") / cnt_col.cast("double")

    def _ht_term(i, arm_sum, arm_cnt):
        # n_s * S_arm_s / n_arm_s as one double term; decimal product
        # so the int64 ceiling is never the scale limit.
        return F.when(
            _valid(i),
            (F.col(f"n{i}").cast(dec) * arm_sum.cast(dec)).cast("double")
            / arm_cnt.cast("double"),
        ).otherwise(F.lit(0.0))

    y1_ht = _sum_terms(
        [_ht_term(i, F.col(f"yt{i}"), F.col(f"nt{i}")) for i in range(k)]
    ) / n_valid.cast("double")
    y0_ht = _sum_terms(
        [
            _ht_term(
                i, F.col(f"yc{i}"), F.col(f"n{i}") - F.col(f"nt{i}")
            )
            for i in range(k)
        ]
    ) / n_valid.cast("double")
    hajek = _sum_terms(
        [
            F.when(
                _valid(i),
                F.col(f"n{i}").cast("double")
                / n_valid.cast("double")
                * (
                    _mu(F.col(f"yt{i}"), F.col(f"nt{i}"))
                    - _mu(
                        F.col(f"yc{i}"),
                        F.col(f"n{i}") - F.col(f"nt{i}"),
                    )
                ),
            ).otherwise(F.lit(0.0))
            for i in range(k)
        ]
    )
    from stash_log_parser_spark.operators.textstats import round6

    return one.select(
        n_valid.alias("n_users"),
        n_strata_valid.alias("n_strata_valid"),
        (F.lit(k) - n_strata_valid).cast("long").alias(
            "n_degenerate_strata"
        ),
        round6(_mu(yt_tot, nt_tot) - _mu(yc_tot, nc_tot)).alias(
            "naive_diff"
        ),
        round6(y1_ht - y0_ht).alias("ipw_ate"),
        round6(hajek).alias("hajek_ate"),
    )


def erlang_capacity(parsed: DataFrame, servers: int = 8) -> DataFrame:
    """Per-hour M/M/c capacity scorecard off the completed-request
    stream: offered load a = λ·S̄ (arrival rate × mean service time),
    utilization a/c, and the Erlang-C delay probability for a fleet of
    ``servers`` workers — the closed-form queueing readout capacity
    planning actually uses, one step past Little's-law consistency
    (log_littles_law checks the telemetry; this turns it into a
    provisioning decision).

        P(wait) = T_c / (Σ_{k<c} a^k/k! + T_c),  T_c = a^c/c! · c/(c−a)

    Hours with a ≥ c are reported saturated with P(wait) = 1.

    Returns one row per hour: (hour, n_req, offered_erlangs,
    utilization, p_wait, saturated, headroom_erlangs) — doubles round6.

    Determinism: a^k is a CHAIN OF MULTIPLICATIONS (never pow(), whose
    last-ulp behavior is libm-specific), factorials are integer-valued
    double literals, and the partial-sum order is fixed left-to-right —
    the DuckDB mirror is generated from _erlang_c_sql so the two
    expression trees are structurally identical.

    Scale shape: one corpus-scale (hour) hash-agg with map-side
    partials; the Erlang expression is a pure projection on the
    hours-sized census.
    """
    from stash_log_parser_spark.operators.textstats import round6

    base = parsed.filter(
        F.col("is_parsed") & F.col("duration_ms").isNotNull()
    )
    hourly = base.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
            "hour"
        )
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("duration_ms").cast("long").alias("sum_ms"),
    )
    c_d = float(servers)
    lam = F.col("n").cast("double") / F.lit(3600.0)
    s_mean = (
        F.col("sum_ms").cast("double")
        / F.col("n").cast("double")
        / F.lit(1000.0)
    )
    a = (lam * s_mean).alias("a")
    hourly = hourly.select("hour", "n", a)
    av = F.col("a")
    # a^k by chained multiplication; k! as exact double literals.
    fact = [1.0]
    for k in range(1, servers + 1):
        fact.append(fact[-1] * k)
    pow_k = F.lit(1.0)
    partial = F.lit(1.0)  # k = 0 term
    for k in range(1, servers):
        pow_k = (av if k == 1 else pow_k * av)
        partial = partial + pow_k / F.lit(fact[k])
    pow_c = pow_k * av if servers > 1 else av
    t_c = (pow_c / F.lit(fact[servers])) * (
        F.lit(c_d) / (F.lit(c_d) - av)
    )
    p_wait = F.when(av < F.lit(c_d), t_c / (partial + t_c)).otherwise(
        F.lit(1.0)
    )
    return hourly.select(
        "hour",
        F.col("n").alias("n_req"),
        round6(av).alias("offered_erlangs"),
        round6(av / F.lit(c_d)).alias("utilization"),
        round6(p_wait).alias("p_wait"),
        (av >= F.lit(c_d)).alias("saturated"),
        round6(F.lit(c_d) - av).alias("headroom_erlangs"),
    ).orderBy("hour")


def _erlang_c_sql(servers: int) -> dict[str, str]:
    """SQL fragments for erlang_capacity's DuckDB mirror, generated
    from the same factorial/chain structure the Spark side builds so
    the two expression trees cannot drift. ``a`` must be a column named
    a in scope."""
    fact = [1.0]
    for k in range(1, servers + 1):
        fact.append(fact[-1] * k)
    chain = lambda k: " * ".join(["a"] * k)
    partial = " + ".join(
        ["1.0"]
        + [f"({chain(k)}) / {fact[k]!r}" for k in range(1, servers)]
    )
    t_c = (
        f"(({chain(servers)}) / {fact[servers]!r})"
        f" * ({float(servers)!r} / ({float(servers)!r} - a))"
    )
    return {
        "partial": partial,
        "t_c": t_c,
        "c_d": repr(float(servers)),
    }


def group_sequential_obf(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    looks: int = 5,
    crit: float = 2.0401,
) -> DataFrame:
    """Group-sequential A/B monitoring with O'Brien-Fleming boundaries:
    the experiment is examined at ``looks`` equally spaced interim
    analyses over event time; at look k the cumulative Welch z of the
    arm difference is compared to the OBF threshold crit·√(K/k) —
    strict early, relaxing to ~crit at the final look, which is what
    lets a real experimentation program peek without inflating false
    positives. Completes the sequential family: sprt is the
    every-observation boundary, this is the committee-schedule one.
    ``crit`` defaults to the classical K=5, two-sided α=0.05 OBF
    critical value (2.0401, Pocock/OBF tables).

    Arms are the stable md5 coin (ab_lift's device). Returns one row
    per look: (look, n_a, n_b, z, boundary, crossed) — z and boundary
    round6.

    Determinism: per-(window, arm) moment sums are exact integers
    (cents; squares ride decimal(38,0) / HUGEINT), the cumulative
    prefix over the ≤``looks``-row census is an integer window sum,
    and z is a FIXED handful of IEEE ops; √ is correctly rounded in
    both engines.

    Scale shape: one corpus-scale (window, arm) hash-agg with map-side
    partials; everything after runs on a ``looks``-row frame.
    """
    from stash_log_parser_spark.operators.textstats import round6

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    span = events.agg(
        F.min(us).alias("lo_us"), F.max(us).alias("hi_us")
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    dec19 = "decimal(19,0)"
    tagged = (
        events.crossJoin(F.broadcast(span))
        .select(us.alias("us"), "lo_us", "hi_us", arm.alias("arm"), cents.alias("y"))
        .select(
            F.expr(
                f"((us - lo_us) * {int(looks)}) div (hi_us - lo_us + 1)"
            )
            .cast("long")
            .alias("w"),
            "arm",
            "y",
        )
    )
    per_w = (
        tagged.groupBy("w")
        .agg(
            *[
                agg
                for a_ in ("A", "B")
                for agg in (
                    F.sum(F.when(F.col("arm") == a_, 1).otherwise(0))
                    .cast("long")
                    .alias(f"n_{a_}"),
                    F.sum(F.when(F.col("arm") == a_, F.col("y")).otherwise(0))
                    .cast("long")
                    .alias(f"s_{a_}"),
                    F.sum(
                        F.when(
                            F.col("arm") == a_,
                            F.col("y").cast(dec19) * F.col("y").cast(dec19),
                        ).otherwise(F.lit(0).cast("decimal(38,0)"))
                    ).alias(f"q_{a_}"),
                )
            ]
        )
    )
    win = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_w.select(
        (F.col("w") + 1).cast("long").alias("look"),
        *[
            F.sum(f"{m}_{a_}").over(win).alias(f"c{m}_{a_}")
            for a_ in ("A", "B")
            for m in ("n", "s", "q")
        ],
    )

    def _var(a_):
        n = F.col(f"cn_{a_}")
        num = (
            n.cast("decimal(38,0)") * F.col(f"cq_{a_}")
            - F.col(f"cs_{a_}").cast("decimal(38,0)")
            * F.col(f"cs_{a_}").cast("decimal(38,0)")
        ).cast("double")
        den = n.cast("double") * (n - 1).cast("double")
        return num / den

    def _mu(a_):
        return F.col(f"cs_{a_}").cast("double") / F.col(
            f"cn_{a_}"
        ).cast("double")

    se = F.sqrt(
        _var("A") / F.col("cn_A").cast("double")
        + _var("B") / F.col("cn_B").cast("double")
    )
    z = (_mu("B") - _mu("A")) / se
    boundary = F.lit(crit) * F.sqrt(
        F.lit(float(looks)) / F.col("look").cast("double")
    )
    return cum.select(
        "look",
        F.col("cn_A").cast("long").alias("n_a"),
        F.col("cn_B").cast("long").alias("n_b"),
        round6(z).alias("z"),
        round6(boundary).alias("boundary"),
        (F.abs(z) > boundary).alias("crossed"),
    ).orderBy("look")


def burn_multiwindow(
    parsed: DataFrame,
    threshold_ms: int = 1000,
    slo: float = 0.99,
    fast_min: int = 5,
    slow_min: int = 60,
    burn_thr: int = 10,
) -> DataFrame:
    """Multi-window multi-burn-rate SLO alerting (the SRE-workbook
    rule): per minute, the error-budget burn rate over a FAST trailing
    window and a SLOW trailing window; a page fires only when BOTH
    exceed ``burn_thr`` — fast for reaction time, slow so a transient
    blip can't page. log_slo_burn is the single-window series; this is
    the alert policy actually deployed on it.

    The minute axis is calendar-DENSIFIED first (the hourly_densified
    lesson: a ROWS window over sparse minutes silently spans gaps), so
    trailing windows are true wall-clock windows. Errors are requests
    over ``threshold_ms``. The page decision is PURE INTEGER: with
    budget 1−slo, burn > thr ⇔ err·thr_scale > n·(1−slo)·thr_scale —
    evaluated as err·10⁶ > n·round((1−slo)·burn_thr·10⁶) with the
    scaled budget precomputed exactly from the rational slo; the
    reported burn rates are one int/int division × the budget inverse,
    round6.

    Returns one row per minute: (minute, n_fast, err_fast, burn_fast,
    n_slow, err_slow, burn_slow, page). Minutes with an empty slow
    window report null burns and page=false.

    Scale shape: one corpus-scale (minute) hash-agg; the spine,
    zero-fill and both trailing windows run on the minutes-sized
    series (a single global window, dimension-sized by construction —
    the word_rarity precedent).
    """
    from stash_log_parser_spark.operators.textstats import round6

    # exact scaled budget: (1-slo)*burn_thr in e6 units, from the
    # rational slo literal (0.99 -> 10000*burn_thr per 1e6 requests)
    budget_e6 = int(round((1.0 - slo) * 1_000_000))
    page_rhs = budget_e6 * burn_thr
    base = parsed.filter(
        F.col("is_parsed") & F.col("duration_ms").isNotNull()
    )
    minute = F.expr("unix_micros(ts) div 60000000")
    mc = base.groupBy(minute.alias("m")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(F.col("duration_ms") > threshold_ms, 1).otherwise(0)
        )
        .cast("long")
        .alias("err"),
    )
    bounds = mc.agg(F.min("m").alias("m0"), F.max("m").alias("m1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("m0"), F.col("m1"))).alias("m")
    )
    dense = spine.join(mc, ["m"], "left").select(
        "m",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("err", F.lit(0)).cast("long").alias("err"),
    )

    def _win(k):
        return Window.orderBy("m").rowsBetween(-(k - 1), 0)

    agg = dense.select(
        "m",
        F.sum("n").over(_win(fast_min)).cast("long").alias("n_fast"),
        F.sum("err").over(_win(fast_min)).cast("long").alias("err_fast"),
        F.sum("n").over(_win(slow_min)).cast("long").alias("n_slow"),
        F.sum("err").over(_win(slow_min)).cast("long").alias("err_slow"),
    )

    def _burn(err, n):
        return F.when(
            n > 0,
            round6(
                err.cast("double")
                / n.cast("double")
                / F.lit(budget_e6 / 1_000_000.0)
            ),
        )

    def _over(err, n):
        return (err * F.lit(1_000_000) > n * F.lit(page_rhs)) & (n > 0)

    return agg.select(
        F.from_unixtime(F.col("m") * 60, "yyyy-MM-dd HH:mm").alias(
            "minute"
        ),
        "n_fast",
        "err_fast",
        _burn(F.col("err_fast"), F.col("n_fast")).alias("burn_fast"),
        "n_slow",
        "err_slow",
        _burn(F.col("err_slow"), F.col("n_slow")).alias("burn_slow"),
        (
            _over(F.col("err_fast"), F.col("n_fast"))
            & _over(F.col("err_slow"), F.col("n_slow"))
        ).alias("page"),
    ).orderBy("minute")


def winsorized_lift(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
    cap_permille: int = 990,
) -> DataFrame:
    """Capped-metric A/B lift: the arm difference after winsorizing the
    outcome at the pooled ``cap_permille`` order statistic — the
    standard experimentation defense against a handful of whale values
    deciding the readout (ab_lift is the raw diff; this is the robust
    twin real metric platforms ship alongside it).

    The cap is EXACT: the smallest cents value whose cumulative count
    reaches ⌈p·n⌉, found on the value CENSUS (cents domain, dimension-
    sized) with an integer threshold test (cum·1000 ≥ p‰·n) — never a
    float percentile. Pooled across arms so both arms are capped
    identically (capping per arm would bias the diff).

    Returns one row: (n_a, n_b, cap_cents, n_capped, naive_diff,
    winsorized_diff) — diffs in cents/event, round6.

    Scale shape: two corpus-scale passes (value census; capped
    conditional sums), both map-side-combining hash-aggs; the census
    cumsum window is value-domain-sized; the 1-row cap broadcasts.
    """
    from stash_log_parser_spark.operators.textstats import round6

    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    tagged = events.select(arm.alias("arm"), cents.alias("y"))
    census = tagged.groupBy("y").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    cum = census.select(
        "y", F.sum("c").over(w).cast("long").alias("cum")
    )
    total = census.agg(F.sum("c").cast("long").alias("n"))
    cap = (
        cum.crossJoin(F.broadcast(total))
        .filter(F.col("cum") * 1000 >= F.lit(cap_permille) * F.col("n"))
        .agg(F.min("y").cast("long").alias("cap"))
    )
    capped = tagged.crossJoin(F.broadcast(cap)).select(
        "arm",
        "y",
        F.least(F.col("y"), F.col("cap")).alias("yw"),
        F.col("cap"),
    )
    one = capped.agg(
        F.max("cap").cast("long").alias("cap_cents"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("arm") == "B", F.col("y")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.sum(F.when(F.col("arm") == "A", F.col("yw")).otherwise(0))
        .cast("long")
        .alias("swa"),
        F.sum(F.when(F.col("arm") == "B", F.col("yw")).otherwise(0))
        .cast("long")
        .alias("swb"),
        F.sum(F.when(F.col("y") > F.col("cap"), 1).otherwise(0))
        .cast("long")
        .alias("n_capped"),
    )

    def _d(sb, sa):
        return sb.cast("double") / F.col("n_b").cast("double") - sa.cast(
            "double"
        ) / F.col("n_a").cast("double")

    return one.select(
        "n_a",
        "n_b",
        "cap_cents",
        "n_capped",
        round6(_d(F.col("sb"), F.col("sa"))).alias("naive_diff"),
        round6(_d(F.col("swb"), F.col("swa"))).alias("winsorized_diff"),
    )


def funnel_windowed(
    events: DataFrame,
    user_col: str = "user_id",
    window_s: int = 3600,
) -> DataFrame:
    """Time-constrained conversion funnel view→click→purchase: each
    step must land WITHIN ``window_s`` seconds of the previous step's
    anchor — the product-analytics funnel proper, where a purchase a
    week after the click no longer converts. ab_funnel answers "did the
    chain ever complete"; this answers "did it complete promptly",
    which is the SLA-style readout bot/abuse and UX teams page on.

    Anchoring is first-touch like ab_funnel (t_k = the user's EARLIEST
    qualifying step-k event after t_{k-1} and within the window) —
    deterministic min-timestamp chaining, a declared contract: a user
    whose first click misses the window is NOT re-anchored to a later
    view. Window comparison is pure timestamp arithmetic
    (``ts <= prev + INTERVAL w SECOND``) — no epoch-seconds truncation
    to diverge between engines.

    Returns one row per step: (step_idx, step, n_users,
    conv_from_prev, conv_from_first) with round6 ratios.

    Scale shape: three user-keyed conditional-min hash aggs (partial
    map-side), each re-joined on the user key — the same one-exchange-
    per-step plan as ab_funnel; the final rollup is 3 rows via a single
    1-row aggregate unpivoted with stack().
    """
    from stash_log_parser_spark.operators.textstats import round6

    ev = events.select(F.col(user_col).alias("u"), "event_type", "ts")
    win = F.expr(f"INTERVAL {int(window_s)} SECOND")
    t1 = ev.groupBy("u").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    t2 = (
        ev.join(t1.filter(F.col("t1").isNotNull()), "u")
        .groupBy("u", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1"))
                    & (F.col("ts") <= F.col("t1") + win),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    t3 = (
        ev.join(t2.filter(F.col("t2").isNotNull()).select("u", "t2"), "u")
        .groupBy("u", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2"))
                    & (F.col("ts") <= F.col("t2") + win),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    counts = (
        t1.join(t2.select("u", "t2"), "u", "left")
        .join(t3.select("u", "t3"), "u", "left")
        .agg(
            F.count("t1").cast("long").alias("n1"),
            F.count("t2").cast("long").alias("n2"),
            F.count("t3").cast("long").alias("n3"),
        )
    )
    steps = counts.select(
        F.expr(
            "stack(3, 1, 'view', n1, CAST(NULL AS BIGINT),"
            " 2, 'click', n2, n1,"
            " 3, 'purchase', n3, n2)"
        ).alias("step_idx", "step", "n_users", "n_prev"),
        F.col("n1").alias("n_first"),
    )
    return steps.select(
        F.col("step_idx").cast("int").alias("step_idx"),
        "step",
        "n_users",
        F.when(
            F.col("n_prev") > 0,
            round6(F.col("n_users").cast("double") / F.col("n_prev")),
        ).alias("conv_from_prev"),
        F.when(
            F.col("n_first") > 0,
            round6(F.col("n_users").cast("double") / F.col("n_first")),
        ).alias("conv_from_first"),
    ).orderBy("step_idx")


def survival_km(events: DataFrame) -> DataFrame:
    """Discrete Kaplan–Meier survival of time-to-first-purchase from
    each user's FIRST VIEW, right-censored at the last observed day —
    the estimator that handles "hasn't converted YET" correctly where a
    naive conversion-lag mean silently treats censored users as
    non-existent.

    Per day offset t: n_at_risk (neither converted nor censored before
    t), n_events (first purchases at t), n_censored (observation ends
    at t without purchase), and S(t) = Π_{u≤t}(1 − d_u/n_u) — computed
    as exp(Σ ln(·)) over the offset-ordered window and quantized to
    1e-6 (ln/exp are bit-stable on one libm — the char_entropy
    precedent; the Σ is over identical doubles in identical order on
    both engines because the offset table is sorted by key).

    Scale shape: two user-keyed conditional-min hash-aggs collapse the
    corpus to one row per user; the KM table itself is day-offset-sized
    (the documented bounded-domain window, like the lineage tables)."""
    from pyspark.sql import Window

    ev = events.select("user_id", "event_type", "ts")
    t0 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    te = (
        ev.join(t0, "user_id")
        .groupBy("user_id", "t0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("t_event")
        )
    )
    cens = events.agg(F.max(F.to_date("ts")).alias("c_day"))
    per_user = te.crossJoin(F.broadcast(cens)).select(
        F.datediff(
            F.coalesce(F.to_date("t_event"), F.col("c_day")), F.to_date("t0")
        ).alias("day_offset"),
        F.col("t_event").isNotNull().alias("is_event"),
    )
    km = per_user.groupBy("day_offset").agg(
        F.sum(F.col("is_event").cast("long")).cast("long").alias("n_events"),
        F.sum((~F.col("is_event")).cast("long")).cast("long").alias("n_censored"),
    )
    w_all = Window.orderBy("day_offset").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_before = Window.orderBy("day_offset").rowsBetween(Window.unboundedPreceding, -1)
    total = F.sum(F.col("n_events") + F.col("n_censored")).over(w_all)
    gone_before = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_before), F.lit(0)
    )
    km = km.withColumn("n_at_risk", (total - gone_before).cast("long"))
    w_cum = Window.orderBy("day_offset").rowsBetween(Window.unboundedPreceding, 0)
    # d == n_at_risk means everyone remaining converts: survival is
    # EXACTLY 0 from that offset on — handled as a flag, never ln(0)
    # (DuckDB raises on it, Spark silently nulls it out of the sum).
    log_s = F.sum(
        F.when(
            (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_at_risk")),
            F.log(
                F.lit(1.0)
                - F.col("n_events").cast("double") / F.col("n_at_risk").cast("double")
            ),
        ).otherwise(F.lit(0.0))
    ).over(w_cum)
    hit_zero = F.max(
        (F.col("n_events") == F.col("n_at_risk")).cast("int")
    ).over(w_cum)
    from .textstats import round6 as _r6

    return km.select(
        "day_offset",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(hit_zero == 1, F.lit(0.0)).otherwise(_r6(F.exp(log_s))).alias(
            "survival"
        ),
    ).orderBy("day_offset")


def did_estimator(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Difference-in-differences on per-user spend — the quasi-
    experimental readout for rollouts WITHOUT randomized assignment:
    did = (post_B − pre_B) − (post_A − pre_A) nets out both the
    between-arm level difference and the common time trend.  Arms use
    the identical md5 device as ab_lift (users partition the same way
    across every experimentation report); the pre/post boundary is the
    corpus's midpoint day (min_day + span DIV 2), a data-derived but
    deterministic split.

    Exactness: spend aggregates as exact integer cents per
    (user, arm, period); each cell mean is one int/int IEEE division;
    did combines the four means with a FIXED parenthesization mirrored
    in the oracle, round6-quantized.  Cells with no users yield NULL
    means and a NULL did (mirrored CASE, never divide-by-zero).

    Scale shape: a user-keyed hash agg, a 4-row conditional rollup,
    and a broadcast 1-row bounds frame — no windows, no wide joins."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    ev = events.select(
        F.col(user_col).alias("u"), arm.alias("arm"), F.to_date("ts").alias("d"),
        cents.alias("c"),
    ).crossJoin(F.broadcast(bounds))
    per_user = (
        ev.select(
            "u",
            "arm",
            (
                F.col("d")
                <= F.date_add(
                    F.col("d0"), F.expr("datediff(d1, d0) DIV 2").cast("int")
                )
            )
            .cast("int")
            .alias("is_pre"),
            "c",
        )
        .groupBy("u", "arm", "is_pre")
        .agg(F.sum("c").cast("long").alias("s"))
    )

    def cell(a, pre):
        cond = (F.col("arm") == a) & (F.col("is_pre") == pre)
        return (
            F.sum(cond.cast("long")).cast("long"),
            F.sum(F.when(cond, F.col("s")).otherwise(0)).cast("long"),
        )

    na_pre, sa_pre = cell("A", 1)
    na_post, sa_post = cell("A", 0)
    nb_pre, sb_pre = cell("B", 1)
    nb_post, sb_post = cell("B", 0)
    agg = per_user.agg(
        na_pre.alias("n_a_pre"), sa_pre.alias("s_a_pre"),
        na_post.alias("n_a_post"), sa_post.alias("s_a_post"),
        nb_pre.alias("n_b_pre"), sb_pre.alias("s_b_pre"),
        nb_post.alias("n_b_post"), sb_post.alias("s_b_post"),
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n)

    m_a_pre, m_a_post = mean("s_a_pre", "n_a_pre"), mean("s_a_post", "n_a_post")
    m_b_pre, m_b_post = mean("s_b_pre", "n_b_pre"), mean("s_b_post", "n_b_post")
    all_cells = (
        (F.col("n_a_pre") > 0) & (F.col("n_a_post") > 0)
        & (F.col("n_b_pre") > 0) & (F.col("n_b_post") > 0)
    )
    return agg.select(
        "n_a_pre", "n_a_post", "n_b_pre", "n_b_post",
        F.when(F.col("n_a_pre") > 0, _r6(m_a_pre)).alias("mean_a_pre_cents"),
        F.when(F.col("n_a_post") > 0, _r6(m_a_post)).alias("mean_a_post_cents"),
        F.when(F.col("n_b_pre") > 0, _r6(m_b_pre)).alias("mean_b_pre_cents"),
        F.when(F.col("n_b_post") > 0, _r6(m_b_post)).alias("mean_b_post_cents"),
        F.when(
            all_cells, _r6((m_b_post - m_b_pre) - (m_a_post - m_a_pre))
        ).alias("did_cents"),
    )


def uplift_by_segment(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Heterogeneous treatment effect: ab_lift's arm/conversion devices
    broken out by an activity segment — the readout that finds a
    treatment helping light users while hurting heavy ones, which the
    pooled lift averages away.  Segments use FIXED event-count
    thresholds (>=8 high, >=4 mid, else low) rather than data-derived
    quantiles: a quantile cut needs a corpus-wide window and silently
    reshuffles users between segments as the corpus grows, while fixed
    cuts are a scan-local projection and stable over time (the
    docs_length_quartiles lesson applied to experimentation).

    Per segment: arm sizes, converters, rates, and absolute uplift
    (rate_b - rate_a); degenerate cells (an empty arm) yield NULLs via
    mirrored CASE.  All counts integer; each rate is one int/int IEEE
    division, round6.

    Scale shape: one user-keyed hash agg, then a 3-row conditional
    rollup — no windows, no joins."""
    from stash_log_parser_spark.operators.textstats import round6 as _r6

    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    per_user = (
        events.select(
            F.col(user_col).alias("u"),
            arm.alias("arm"),
            (F.col("event_type") == "purchase").cast("long").alias("c"),
        )
        .groupBy("u", "arm")
        .agg(
            F.count("*").cast("long").alias("n_ev"),
            (F.sum("c") % 2).cast("long").alias("converted"),
        )
    )
    seg = (
        F.when(F.col("n_ev") >= 8, "high")
        .when(F.col("n_ev") >= 4, "mid")
        .otherwise("low")
    )
    agg = per_user.groupBy(seg.alias("segment")).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    rate_a = F.col("c_a").cast("double") / F.col("n_a")
    rate_b = F.col("c_b").cast("double") / F.col("n_b")
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "segment",
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.when(F.col("n_a") > 0, _r6(rate_a)).alias("rate_a"),
        F.when(F.col("n_b") > 0, _r6(rate_b)).alias("rate_b"),
        F.when(both, _r6(rate_b - rate_a)).alias("uplift"),
    ).orderBy("segment")


def mann_whitney_u(
    events: DataFrame, value_col: str = "value", user_col: str = "user_id"
) -> DataFrame:
    """Mann–Whitney U rank test between the A/B arms' value
    distributions — the nonparametric twin of the mean-lift readout:
    heavy-tailed revenue/latency metrics routinely show a "lift" that
    is three whale users, and U asks the robust question ("does a
    random B draw exceed a random A draw?") that the t-approximation
    cannot.  Arms use the same md5 device as ``ab_lift``/``ab_power_mde``
    so all experiment queries describe one population.

    The textbook form ranks all n observations — a global sort this
    engine never pays.  Values are cents-quantized onto a SMALL
    INTEGER DOMAIN, so average ranks follow from the value census's
    cumulative counts (the ``signal_spearman`` trick): with DOUBLED
    ranks R2(v) = 2·(count below v) + count(v) + 1 every accumulated
    moment stays BIGINT-exact, and 2·U_A = Σ c_A(v)·R2(v) − n_A(n_A+1)
    exactly.  The tie-corrected normal approximation
    σ² = n_A n_B/12 · ((n+1) − Σ(t³−t)/(n(n−1))) consumes only those
    integers; z and the rank-biserial effect size are one fixed IEEE
    chain, mirrored verbatim in the oracle and round6-quantized.

    Scale shape: one corpus-scale hash agg (value census, map-side
    partials); one cumsum window over the CENSUS (value-domain-sized,
    cents-quantized — bounded by the metric's dynamic range, not the
    row count); a 1-row final agg."""
    from stash_log_parser_spark.operators.textstats import round6

    arm_a = (
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8"
    )
    d = events.filter(F.col(value_col).isNotNull()).select(
        F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long").alias("v"),
        arm_a.cast("long").alias("ia"),
    )
    census = d.groupBy("v").agg(
        F.sum("ia").cast("long").alias("ca"),
        F.sum(F.lit(1) - F.col("ia")).cast("long").alias("cb"),
        F.count("*").cast("long").alias("c"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r2 = (
        F.lit(2) * F.coalesce(F.sum("c").over(w), F.lit(0))
        + F.col("c")
        + F.lit(1)
    ).cast("long")
    ranked = census.withColumn("r2", r2)
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * F.col("r2")).cast("long").alias("sr2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).cast("long").alias("tie"),
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u2a = (F.col("sr2a") - na * (na + F.lit(1))).cast("long")
    # tie-corrected sigma of U; the doubled-U z divides by 2σ.
    var = (
        (na * nb).cast("double")
        / 12.0
        * (
            (n + F.lit(1)).cast("double")
            - F.col("tie").cast("double") / (n * (n - F.lit(1))).cast("double")
        )
    )
    # all-tied degenerate case: sigma = 0 AND U2 = na*nb exactly, so the
    # 0/0 is conventionally z = 0 (guarded — ANSI mode raises on /0).
    z = F.when(
        var > 0,
        (u2a - na * nb).cast("double") / (F.lit(2.0) * F.sqrt(var)),
    ).otherwise(F.when(u2a == na * nb, F.lit(0.0)))
    rbs = u2a.cast("double") / (na * nb).cast("double") - F.lit(1.0)
    ok = (na > 0) & (nb > 0)
    return agg.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        u2a.alias("u2_a"),
        F.when(ok, round6(u2a.cast("double") / 2.0)).alias("u_a"),
        F.when(ok, round6(z)).alias("z_u"),
        F.when(ok, round6(rbs)).alias("rank_biserial"),
    )


def ks_two_sample(
    events: DataFrame, value_col: str = "value", user_col: str = "user_id"
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the A/B arms'
    value distributions — the distribution-equality gate an experiment
    platform runs as an A/A sanity check (any D above the asymptotic
    threshold on an A/A split means the bucketing hash is biased) and
    as the "did the treatment move ANYTHING" omnibus test.

    Exactness: the supremum is computed as an INTEGER maximum —
    D = max_v |C_A(v)·n_B − C_B(v)·n_A| / (n_A·n_B) with C the census
    cumulative counts, so both engines agree on the argmax bit-for-bit
    (no float ECDF subtraction anywhere); only the final division, the
    asymptotic λ = D·sqrt(n_A·n_B/n) and the α=0.05 comparison against
    the closed-form c(α) = sqrt(−ln(0.025)/2) are IEEE, mirrored
    verbatim and round6-quantized.

    Scale shape: identical to ``mann_whitney_u`` — corpus-scale value
    census, one census-sized cumsum window, 1-row agg."""
    from stash_log_parser_spark.operators.textstats import round6

    arm_a = (
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8"
    )
    d = events.filter(F.col(value_col).isNotNull()).select(
        F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long").alias("v"),
        arm_a.cast("long").alias("ia"),
    )
    # two consumers (cumulatives + totals) branch off the census —
    # materialize once so the corpus is scanned once (census is
    # value-domain-sized).
    census = d.groupBy("v").agg(
        F.sum("ia").cast("long").alias("ca"),
        F.sum(F.lit(1) - F.col("ia")).cast("long").alias("cb"),
    ).cache()
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = census.select(
        F.sum("ca").over(w).cast("long").alias("cuma"),
        F.sum("cb").over(w).cast("long").alias("cumb"),
    )
    tot = census.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")
    dnum = F.abs(F.col("cuma") * nb - F.col("cumb") * na)
    agg = cum.join(F.broadcast(tot)).agg(
        F.first("na").alias("n_a"),
        F.first("nb").alias("n_b"),
        F.max(dnum).cast("long").alias("d_num_max"),
    )
    na2, nb2 = F.col("n_a"), F.col("n_b")
    ksd = F.col("d_num_max").cast("double") / (na2 * nb2).cast("double")
    lam = ksd * F.sqrt(
        (na2 * nb2).cast("double") / (na2 + nb2).cast("double")
    )
    crit = F.sqrt(-F.log(F.lit(0.025)) / F.lit(2.0))
    ok = (na2 > 0) & (nb2 > 0)
    return agg.select(
        na2,
        nb2,
        F.col("d_num_max"),
        F.when(ok, round6(ksd)).alias("ks_d"),
        F.when(ok, round6(lam)).alias("ks_lambda"),
        F.when(ok, (lam > crit).cast("long")).alias("reject_05"),
    )


def js_arm_divergence(
    events: DataFrame, value_col: str = "value", user_col: str = "user_id"
) -> DataFrame:
    """Jensen–Shannon divergence between the A/B arms' value
    distributions over the HDR power-of-two buckets — the bounded,
    symmetric "how different are these two distributions" number
    (0 ≤ JS ≤ ln 2) that complements ``ks_two_sample``'s supremum view:
    KS sees the single worst ECDF gap, JS integrates disagreement over
    the whole histogram, so a fat-tail-only shift that KS shrugs at
    still registers.

    Buckets are ``psi_value_drift``'s device (bit-length of integer
    cents; 0 for non-positive) — fixed and engine-exact.  Each bucket's
    term ½(p·ln(p/m) + q·ln(q/m)) with m = (p+q)/2 is computed from
    exact BIGINT counts, quantized to 1e-9 nats, and SUMMED AS BIGINT —
    integer addition is order-independent, so the engines agree
    bit-for-bit (the psi_term_e6 discipline, tightened three decimal
    places because this op reports the sum, not the per-bucket rows).
    0·ln 0 terms are 0 by the p > 0 guards.

    Scale shape: one corpus-scale (bucket, arm) hash-agg; everything
    after is ≤64 bucket rows; 1-row output."""
    from stash_log_parser_spark.operators.textstats import round6

    arm_a = (
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8"
    )
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    bucket = F.when(cents > 0, F.length(F.bin(cents))).otherwise(0).cast("int")
    census = (
        events.filter(F.col(value_col).isNotNull())
        .select(bucket.alias("bucket"), arm_a.cast("long").alias("ia"))
        .groupBy("bucket")
        .agg(
            F.sum("ia").cast("long").alias("ca"),
            F.sum(F.lit(1) - F.col("ia")).cast("long").alias("cb"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    na = F.sum("ca").over(w_all)
    nb = F.sum("cb").over(w_all)
    # empty-arm guard (ANSI /0): an absent arm contributes p = 0, the
    # readout columns are NULL-masked by `ok` below anyway.
    p = F.when(na > 0, F.col("ca").cast("double") / na.cast("double")).otherwise(
        F.lit(0.0)
    )
    q = F.when(nb > 0, F.col("cb").cast("double") / nb.cast("double")).otherwise(
        F.lit(0.0)
    )
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(F.col("ca") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("cb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    rows = census.select(
        na.cast("long").alias("na"),
        nb.cast("long").alias("nb"),
        F.floor(term * 1_000_000_000 + F.lit(0.5)).cast("long").alias("t9"),
    )
    agg = rows.groupBy("na", "nb").agg(
        F.sum("t9").cast("long").alias("js_e9"),
        F.count("*").cast("long").alias("n_buckets"),
    )
    ok = (F.col("na") > 0) & (F.col("nb") > 0)
    js = F.col("js_e9").cast("double") / 1_000_000_000.0
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "n_buckets",
        "js_e9",
        F.when(ok, round6(js)).alias("js_nats"),
        F.when(ok, round6(js / F.log(F.lit(2.0)))).alias("js_bits_norm"),
    )


def arrival_dispersion(parsed: DataFrame) -> DataFrame:
    """Index of dispersion (variance-to-mean) of per-minute arrival
    counts, per protocol — the Poisson sanity check an SRE runs on a
    request log before trusting any rate-based alert: VMR ≈ 1 means
    memoryless arrivals (rate alerts are well-calibrated), VMR >> 1
    means bursts/retry storms (a static threshold will both flap and
    miss), VMR < 1 means a rate-limited or polled client.

    EMPTY minutes count: with M = span minutes (global min→max over
    all protocols, so rows are comparable), n = Σ counts and
    S2 = Σ counts², VMR = (M·S2 − n²)/(M·n) — an exact BIGINT ratio
    (the ``token_burstiness`` identity on the time axis), one IEEE
    division, round6-quantized.  active/empty minute counts ride
    along so a flat VMR from a mostly-empty span is visible.

    Scale shape: one (protocol, minute) hash-agg at corpus scale
    (map-side partials), a 1-row global min/max broadcast back, and a
    per-protocol re-aggregate — census-sized everything after the
    first agg."""
    from stash_log_parser_spark.operators.textstats import round6

    minute = F.floor(F.unix_timestamp(F.col("ts")) / 60).cast("long")
    base = parsed.filter(F.col("is_parsed")).select(
        F.col("protocol"), minute.alias("m")
    )
    # two consumers (global bounds + per-protocol sums) branch off the
    # census — materialize once so the parsed log is scanned once.
    census = base.groupBy("protocol", "m").agg(
        F.count("*").cast("long").alias("c")
    ).cache()
    bounds = census.agg(
        F.min("m").alias("m0"), F.max("m").alias("m1")
    )
    per_p = (
        census.groupBy("protocol")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
            F.count("*").cast("long").alias("active_minutes"),
        )
        .crossJoin(F.broadcast(bounds))
    )
    span = (F.col("m1") - F.col("m0") + F.lit(1)).cast("long")
    vmr = (span * F.col("s2") - F.col("n") * F.col("n")).cast("double") / (
        span * F.col("n")
    ).cast("double")
    return per_p.select(
        "protocol",
        F.col("n").alias("n_requests"),
        span.alias("span_minutes"),
        "active_minutes",
        (span - F.col("active_minutes")).cast("long").alias("empty_minutes"),
        round6(vmr).alias("vmr"),
    ).orderBy("protocol")


def sprt_bernoulli(
    events: DataFrame,
    convert_type: str = "purchase",
    p0: float = 0.15,
    p1: float = 0.25,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald sequential probability-ratio test (SPRT) on the conversion
    rate — the early-stopping twin of ``ab_power_mde``: instead of
    fixing n up front, the experimenter watches the cumulative
    log-likelihood ratio after every event and stops the moment it
    leaves the (lower, upper) continuation band.  This is the op a
    launch-review dashboard runs hourly: "can we already call it?".

    LLR after n events with k conversions is the closed form
    ``k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))`` — a fixed IEEE chain
    over two BIGINT prefix counts, so the only state is (n, k).
    Boundaries: upper = ln((1−β)/α) → accept H1, lower = ln(β/(1−α))
    → accept H0 (Wald's approximation, exact enough that the overshoot
    is one event's step).

    Scale shape — NO global sort: the event order is (ts, event_id),
    but the prefix counts are computed the ``max_concurrent`` way:
    one corpus-scale hash-agg to per-DAY (n_d, k_d) partials, a
    days-dimension cumulative window to give each day its starting
    (N, K) offset, then a window partitioned BY DAY for the within-day
    prefix — every window partition is day-bounded.  The first
    boundary crossing is a 1-row min-struct aggregate (no orderBy
    +limit job).  At 10^12 rows the day-level envelope
    [start + (n_d−k_d)·b, start + k_d·a] additionally prunes the fine
    scan to candidate days — the partials already computed are exactly
    that envelope.
    """
    import math

    from stash_log_parser_spark.operators.textstats import round6

    a = math.log(p1 / p0)  # per-conversion step, > 0
    b = math.log((1.0 - p1) / (1.0 - p0))  # per-miss step, < 0
    upper = math.log((1.0 - beta) / alpha)
    lower = math.log(beta / (1.0 - alpha))

    base = events.select(
        F.to_date("ts").alias("day"),
        F.col("ts"),
        F.col("event_id"),
        (F.col("event_type") == convert_type).cast("long").alias("x"),
    )
    # day partials + cumulative offsets (days-dimension window).
    daily = base.groupBy("day").agg(
        F.count("*").cast("long").alias("n_d"),
        F.sum("x").cast("long").alias("k_d"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    offsets = daily.select(
        "day",
        F.coalesce(F.sum("n_d").over(wd), F.lit(0)).alias("n0"),
        F.coalesce(F.sum("k_d").over(wd), F.lit(0)).alias("k0"),
    )
    # within-day prefix, window partitioned by day (bounded partitions).
    ww = (
        Window.partitionBy("day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fine = (
        base.join(F.broadcast(offsets), "day")
        .withColumn("n", F.col("n0") + F.count("*").over(ww))
        .withColumn("k", F.col("k0") + F.sum("x").over(ww))
    )
    llr = (
        F.col("k").cast("double") * F.lit(a)
        + (F.col("n") - F.col("k")).cast("double") * F.lit(b)
    )
    crossed = fine.withColumn("llr", llr).filter(
        (F.col("llr") >= F.lit(upper)) | (F.col("llr") <= F.lit(lower))
    )
    # earliest crossing: 1-row min over a lexicographic struct.
    first = crossed.agg(
        F.min(F.struct("n", "k", "llr")).alias("s")
    ).select(
        F.col("s.n").alias("n_at"), F.col("s.k").alias("k_at"),
        F.col("s.llr").alias("llr_at"),
    )
    totals = base.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("x").cast("long").alias("k_total"),
    )
    out = totals.crossJoin(F.broadcast(first))
    decision = (
        F.when(F.col("llr_at").isNull(), F.lit("continue"))
        .when(F.col("llr_at") >= F.lit(upper), F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
    )
    final_llr = (
        F.col("k_total").cast("double") * F.lit(a)
        + (F.col("n_total") - F.col("k_total")).cast("double") * F.lit(b)
    )
    return out.select(
        "n_total",
        "k_total",
        decision.alias("decision"),
        F.coalesce(F.col("n_at"), F.col("n_total")).alias("n_at_decision"),
        F.coalesce(F.col("k_at"), F.col("k_total")).alias("k_at_decision"),
        round6(F.coalesce(F.col("llr_at"), final_llr)).alias("llr_at_decision"),
        round6(F.lit(upper)).alias("upper_bound"),
        round6(F.lit(lower)).alias("lower_bound"),
    )


def user_access_entropy(parsed: DataFrame, min_requests: int = 5) -> DataFrame:
    """Per-user Shannon entropy (bits) of the repository-access
    distribution — the access-pattern anomaly feature an insider-risk
    or capacity review computes from a VCS log: a build bot hammering
    one repo has entropy ≈ 0, a crawler touching everything sits near
    log2(n_repos), and a sudden entropy jump for a human account is a
    credential-sharing tell.  ``norm_entropy`` (entropy / log2(n_repos))
    makes users with different breadth comparable.

    Same exact device as ``char_entropy``: per-(user, repo) BIGINT
    counts c give H = (ln n − Σ c·ln c / n) / ln 2 with one division
    at the end, round6-quantized.

    Scale shape: one corpus-scale (user, repo) hash-agg with map-side
    partials, then a users-sized re-aggregate; no window, no sort
    until the final users-dimension orderBy."""
    import math

    from stash_log_parser_spark.operators.textstats import round6

    pc = (
        parsed.filter(
            F.col("is_parsed")
            & F.col("username").isNotNull()
            & F.col("repo_slug").isNotNull()
        )
        .groupBy("username", "repo_slug")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = pc.groupBy("username").agg(
        F.sum("c").cast("long").alias("n_requests"),
        F.count("*").cast("long").alias("n_repos"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("s"),
    ).filter(F.col("n_requests") >= min_requests)
    # ln(2) folded as the same literal both engines see → the /ln2 is
    # bit-identical across Spark and the DuckDB oracle.
    ln2 = F.lit(math.log(2.0))
    ent = (
        F.log(F.col("n_requests").cast("double")) - F.col("s") / F.col("n_requests")
    ) / ln2
    norm = F.when(
        F.col("n_repos") > 1,
        ent / (F.log(F.col("n_repos").cast("double")) / ln2),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "username",
        "n_requests",
        "n_repos",
        round6(ent).alias("entropy_bits"),
        round6(norm).alias("norm_entropy"),
    ).orderBy("username")


def xcorr_lead_lag(
    events: DataFrame,
    type_x: str = "click",
    type_y: str = "purchase",
    max_lag: int = 3,
) -> DataFrame:
    """Lead–lag cross-correlation between two event types' HOURLY
    count series: Pearson r between x_t and y_{t+lag} for lag 0..max_lag
    — the "does clicking now predict buying two hours later?" screen
    that decides whether an attribution window is even plausible.
    ``autocorr_lag1`` is the self-series special case; this is the
    cross-series general form.

    EMPTY hours count as zero (both series live on the same dense
    min→max hour spine, built with ``sequence`` — never a driver-side
    loop), so r is over the full span, not just co-active hours.
    Pearson comes from BIGINT-exact moment sums (n, Σx, Σy, Σxy, Σx²,
    Σy²) — one IEEE chain per lag, round6-quantized.

    Scale shape: one corpus-scale (type, hour) hash-agg; everything
    after is hours-dimension-sized (the spine × (max_lag+1) lag rows);
    the lag join is an hours-sized broadcast."""
    from stash_log_parser_spark.operators.textstats import round6

    hour = F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
    hc = (
        events.filter(F.col("event_type").isin(type_x, type_y))
        .select(F.col("event_type").alias("t"), hour.alias("h"))
        .groupBy("t", "h")
        .agg(F.count("*").cast("long").alias("c"))
    ).cache()
    bounds = hc.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    xs = hc.filter(F.col("t") == type_x).select("h", F.col("c").alias("cx"))
    ys = hc.filter(F.col("t") == type_y).select("h", F.col("c").alias("cy"))
    dense = (
        spine.join(xs, "h", "left")
        .join(ys, "h", "left")
        .select(
            "h",
            F.coalesce("cx", F.lit(0)).alias("x"),
            F.coalesce("cy", F.lit(0)).alias("y"),
        )
    )
    lags = dense.sparkSession.range(0, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = dense.select(F.col("h").alias("hx"), "x")
    bdf = dense.select(F.col("h").alias("hy"), "y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(bdf),
            F.col("hy") == F.col("hx") + F.col("lag"),
        )
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov2 = (n * F.col("sxy") - sx * sy).cast("double")
    vx2 = (n * F.col("sxx") - sx * sx).cast("double")
    vy2 = (n * F.col("syy") - sy * sy).cast("double")
    r = F.when(
        (vx2 > 0) & (vy2 > 0), cov2 / F.sqrt(vx2 * vy2)
    )
    return m.select(
        "lag",
        F.col("n").alias("n_hours"),
        round6(r).alias("pearson_r"),
    ).orderBy("lag")


def frame_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Reconciliation diff between two key-unique frames — the
    shadow-run / migration-validation tool: run the old and the new
    implementation of a pipeline stage over the same input and get,
    per compared column, how many keyed rows exist on both sides, how
    many values agree (null-safe), and how many rows each side holds
    exclusively. One full-outer shuffle join on the keys + one
    conditional-sum aggregate; the per-column readout is a constant-
    width explode, so cost is independent of the column count's
    combinatorics.

    Both inputs MUST be unique on ``keys`` (a duplicate key would fan
    the outer join out and double-count); the pipeline twins this
    guards are keyed aggregates, unique by construction. Comparisons
    use null-safe equality: NULL==NULL counts as a match, NULL vs
    value as a mismatch.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    if compare_cols is None:
        compare_cols = sorted(
            (set(left.columns) & set(right.columns)) - set(keys)
        )
    if not compare_cols:
        raise ValueError("no common non-key columns to compare")
    l = left.withColumn("_lp", F.lit(1))
    r = right.withColumn("_rp", F.lit(1))
    cond = None
    for k in keys:
        c = l[k].eqNullSafe(r[k])
        cond = c if cond is None else (cond & c)
    j = l.join(r, cond, "full_outer")
    both = l["_lp"].isNotNull() & r["_rp"].isNotNull()
    aggs = [
        F.sum(both.cast("long")).alias("n_both"),
        F.sum((l["_lp"].isNotNull() & r["_rp"].isNull()).cast("long")).alias(
            "n_only_left"
        ),
        F.sum((l["_lp"].isNull() & r["_rp"].isNotNull()).cast("long")).alias(
            "n_only_right"
        ),
    ]
    for c in compare_cols:
        aggs.append(
            F.sum((both & l[c].eqNullSafe(r[c])).cast("long")).alias(f"_m_{c}")
        )
    agg = j.agg(*aggs)
    entries = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("n_both").alias("n_both"),
            F.col(f"_m_{c}").alias("n_match"),
            (F.col("n_both") - F.col(f"_m_{c}")).alias("n_mismatch"),
            F.col("n_only_left").alias("n_only_left"),
            F.col("n_only_right").alias("n_only_right"),
        )
        for c in compare_cols
    ]
    return (
        agg.select(F.explode(F.array(*entries)).alias("kv"))
        .select(
            F.col("kv.column").alias("column"),
            F.col("kv.n_both").cast("long").alias("n_both"),
            F.col("kv.n_match").cast("long").alias("n_match"),
            F.col("kv.n_mismatch").cast("long").alias("n_mismatch"),
            F.col("kv.n_only_left").cast("long").alias("n_only_left"),
            F.col("kv.n_only_right").cast("long").alias("n_only_right"),
        )
        .orderBy("column")
    )


def session_gap_sweep(
    events: DataFrame,
    gaps_s: tuple = (300, 900, 1800, 3600),
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """Session-timeout tuning dashboard: for each candidate inactivity
    gap, how many sessions the corpus splits into and the resulting
    events-per-session — the sweep run BEFORE committing a session
    window length, instead of folklore ("30 minutes"). A session
    starts at a user's first event or whenever the gap to the previous
    event exceeds the threshold, so ``n_sessions(g)`` is a pure count
    over per-user lag deltas: ONE user-keyed window computes the deltas
    and every candidate is a conditional sum in the same single
    aggregate — the whole sweep costs one exchange regardless of grid
    size (contrast: running sessionize per candidate = |grid| shuffles).

    Deltas are exact integer microseconds (unix_micros), never float
    seconds. Output per gap: ``gap_s, n_sessions, n_events,
    events_per_session`` (round6).
    """
    from stash_log_parser_spark.operators.textstats import round6

    if not gaps_s:
        raise ValueError("gaps_s must be non-empty")
    w = Window.partitionBy(user_col).orderBy(ts_col, tie_col)
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    delta = t_us - F.lag(t_us).over(w)
    d = events.select(delta.alias("delta_us"))
    aggs = [F.count("*").cast("long").alias("n_events")]
    for g in gaps_s:
        aggs.append(
            F.sum(
                (
                    F.col("delta_us").isNull()
                    | (F.col("delta_us") > g * 1_000_000)
                ).cast("long")
            )
            .cast("long")
            .alias(f"_s_{g}")
        )
    agg = d.agg(*aggs)
    entries = [
        F.struct(
            F.lit(g).cast("long").alias("gap_s"),
            F.col(f"_s_{g}").alias("n_sessions"),
            F.col("n_events").alias("n_events"),
        )
        for g in gaps_s
    ]
    return (
        agg.select(F.explode(F.array(*entries)).alias("kv"))
        .select(
            F.col("kv.gap_s").alias("gap_s"),
            F.col("kv.n_sessions").cast("long").alias("n_sessions"),
            F.col("kv.n_events").cast("long").alias("n_events"),
            round6(
                F.col("kv.n_events").cast("double")
                / F.col("kv.n_sessions").cast("double")
            ).alias("events_per_session"),
        )
        .orderBy("gap_s")
    )


def qq_shift(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Quantile-quantile shift function between the A/B arms (Doksum's
    shift): the per-decile difference q_B(d) − q_A(d) of the value
    distribution. Mann-Whitney (events_mann_whitney) answers "did the
    distribution move"; the shift function answers WHERE — a treatment
    that lifts only the p90 tail shows shift ≈ 0 at low deciles and a
    spike at d=9. Arms use the identical md5 first-nibble device as
    ab_lift, so all three reports partition users the same way.

    Each decile quantile is the exact lower order statistic: the
    smallest value whose cumulative count reaches rank
    ``ceil(d·N/10)`` (pure integer arithmetic, the winsorized-stats
    rank discipline). Quantiles come off the (arm, cents) CENSUS with
    a support-sized cumulative window — the histogram route; no
    row-level sort at any scale.

    Output: one row per decile with both quantiles (integer cents) and
    the shift."""
    from pyspark.sql import Window

    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    census = events.select(arm.alias("arm"), cents.alias("cents")).groupBy(
        "arm", "cents"
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("arm").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = census.select(
        "arm", "cents", F.sum("n").over(w).alias("cum"),
        F.sum("n").over(Window.partitionBy("arm")).alias("N"),
    )
    deciles = cum.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    # support × 9 rows — the census is bounded-domain, so this join is
    # tiny at any corpus size
    qs = (
        cum.join(F.broadcast(deciles))
        .filter(F.col("cum") * 10 >= F.col("decile") * F.col("N"))
        .groupBy("arm", "decile")
        .agg(F.min("cents").alias("q_cents"))
    )
    a = qs.filter(F.col("arm") == "A").select(
        "decile", F.col("q_cents").alias("q_a_cents")
    )
    b = qs.filter(F.col("arm") == "B").select(
        "decile", F.col("q_cents").alias("q_b_cents")
    )
    return (
        a.join(b, "decile", "full_outer")
        .select(
            "decile",
            "q_a_cents",
            "q_b_cents",
            (F.col("q_b_cents") - F.col("q_a_cents")).alias("shift_cents"),
        )
        .orderBy("decile")
    )


def logrank_test(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Two-sample log-rank test of time-to-first-purchase between the
    A/B arms — the standard inferential companion to the Kaplan–Meier
    curve (:func:`survival_km`): KM shows the arms' survival curves,
    log-rank says whether they differ beyond chance, correctly
    crediting right-censored users ("hasn't converted YET") that a
    naive lag t-test throws away. Arms, time origin (first view),
    event (first later purchase), and censoring day all reuse the
    ab_lift / survival_km definitions, so the three reports describe
    the same experiment.

    At each day offset with d > 0 total events and n > 1 at risk, arm
    A's observed deaths d_A compare against the hypergeometric
    expectation and variance:

        E term = d·n_A/n
        V term = d·(n_A/n)·(n_B/n)·(n−d)/(n−1)

    Per-offset terms are quantized to integer 1e-6 units and SUMMED AS
    BIGINTS (float summation order can never diverge across engines);
    z = (O_A − E_A)/√V is one fixed IEEE chain over those exact sums.
    z² ~ χ²(1) under H0.

    Scale shape: the survival_km collapse (two user-keyed hash-aggs →
    one row per user), then everything runs on the day-offset-sized
    census with bounded-domain windows."""
    from pyspark.sql import Window

    arm = F.when(
        F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    ev = events.select(F.col(user_col).alias("u"), "event_type", "ts")
    t0 = ev.groupBy("u").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0")
    ).filter(F.col("t0").isNotNull())
    te = (
        ev.join(t0, "u")
        .groupBy("u", "t0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("t_event")
        )
    )
    cens = events.agg(F.max(F.to_date("ts")).alias("c_day"))
    per_user = te.crossJoin(F.broadcast(cens)).select(
        F.when(
            F.substring(F.md5(F.col("u").cast("string")), 1, 1) < "8", "A"
        ).otherwise("B").alias("arm"),
        F.datediff(
            F.coalesce(F.to_date("t_event"), F.col("c_day")), F.to_date("t0")
        ).alias("d_off"),
        F.col("t_event").isNotNull().alias("is_event"),
    )
    km = per_user.groupBy("d_off").agg(
        F.sum(F.when(F.col("arm") == "A", F.col("is_event").cast("long"))
              .otherwise(0)).cast("long").alias("d_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("is_event").cast("long"))
              .otherwise(0)).cast("long").alias("d_b"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long").alias("m_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long").alias("m_b"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_bef = Window.orderBy("d_off").rowsBetween(Window.unboundedPreceding, -1)
    n_a = (
        F.sum("m_a").over(w_all) - F.coalesce(F.sum("m_a").over(w_bef), F.lit(0))
    ).cast("long")
    n_b = (
        F.sum("m_b").over(w_all) - F.coalesce(F.sum("m_b").over(w_bef), F.lit(0))
    ).cast("long")
    at_risk = km.select(
        "d_off", "d_a", "d_b", n_a.alias("n_a"), n_b.alias("n_b")
    ).withColumn("n", F.col("n_a") + F.col("n_b")).withColumn(
        "d", F.col("d_a") + F.col("d_b")
    )
    terms = at_risk.filter((F.col("d") > 0) & (F.col("n") > 1)).select(
        "d_a",
        F.floor(
            F.col("d") * F.col("n_a") / F.col("n") * 1_000_000 + F.lit(0.5)
        ).cast("long").alias("e_e6"),
        F.floor(
            F.col("d").cast("double")
            * (F.col("n_a") / F.col("n"))
            * (F.col("n_b") / F.col("n"))
            * ((F.col("n") - F.col("d")) / (F.col("n") - 1))
            * 1_000_000
            + F.lit(0.5)
        ).cast("long").alias("v_e6"),
    )
    agg = terms.agg(
        F.sum("d_a").cast("long").alias("o_a"),
        F.sum("e_e6").cast("long").alias("e_a_e6"),
        F.sum("v_e6").cast("long").alias("v_e6"),
    )
    z = (F.col("o_a").cast("double") - F.col("e_a_e6") / F.lit(1e6)) / F.sqrt(
        F.col("v_e6") / F.lit(1e6)
    )
    return agg.select(
        "o_a",
        "e_a_e6",
        "v_e6",
        F.when(
            F.col("v_e6") > 0,
            F.floor(z * 1_000_000 + F.lit(0.5)).cast("long"),
        ).alias("z_e6"),
    )


def roc_auc(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_col: str = "source",
) -> DataFrame:
    """ROC-AUC of an integer-quantized score predicting a binary label,
    per group — the model-eval primitive behind "does this quality
    signal actually find the duplicates/spam/toxic docs?".  AUC is
    exactly the Mann–Whitney statistic P(score⁺ > score⁻) + ½P(=),
    so it reuses the same BIGINT-exact doubled-rank census device as
    ``mann_whitney_u``: with R2(v) = 2·(count below v) + count(v) + 1,
    2·U⁺ = Σ c⁺(v)·R2(v) − n⁺(n⁺+1) and AUC = 2U⁺ / (2·n⁺·n⁻) —
    integers until ONE final division, round6-quantized.

    ``score_col`` must already be an integer (quantize upstream — the
    census size is bounded by the score's domain, not the row count).
    Groups with no positives or no negatives have undefined AUC → NULL.

    Scale shape: one corpus-scale (group, score) hash-agg with
    map-side partials; one cumsum window over the CENSUS partitioned
    by group (score-domain-sized); a groups-sized final agg.  No
    global sort, nothing corpus-scale past the first exchange."""
    from stash_log_parser_spark.operators.textstats import round6

    census = df.groupBy(group_col, score_col).agg(
        F.sum(F.col(label_col).cast("long")).cast("long").alias("cp"),
        F.count("*").cast("long").alias("c"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r2 = (
        F.lit(2) * F.coalesce(F.sum("c").over(w), F.lit(0))
        + F.col("c")
        + F.lit(1)
    ).cast("long")
    agg = (
        census.withColumn("r2", r2)
        .groupBy(group_col)
        .agg(
            F.sum("cp").cast("long").alias("n_pos"),
            (F.sum("c") - F.sum("cp")).cast("long").alias("n_neg"),
            F.sum(F.col("cp") * F.col("r2")).cast("long").alias("sr2p"),
        )
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    auc = (F.col("sr2p") - np_ * (np_ + F.lit(1))).cast("double") / (
        F.lit(2) * np_ * nn
    )
    return agg.select(
        group_col,
        "n_pos",
        "n_neg",
        F.when((np_ > 0) & (nn > 0), round6(auc)).alias("auc"),
    ).orderBy(group_col)


def _erfc_p_two_sided(z: Column) -> Column:
    """Two-sided normal p-value 2·(1−Φ(|z|)) = erfc(|z|/√2) via the
    Abramowitz–Stegun 7.1.26 rational approximation (|err| < 1.5e-7 —
    far inside the round6 grid).  One fixed IEEE chain of literal
    constants, mirrored verbatim in the SQL oracles, so both engines
    produce the bit-identical double."""
    x = F.abs(z) / F.lit(1.4142135623730951)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        (
            (
                (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            - F.lit(0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t
    return poly * F.exp(-(x * x))


def per_type_conversion_tests(
    events: DataFrame, user_col: str = "user_id"
) -> DataFrame:
    """Per-event-type two-proportion z-test between the A/B arms —
    the per-metric scan an experiment readout runs BEFORE any launch
    call, one hypothesis per event type.  Arms use the shared md5
    device (``ab_lift``); per-type conversion is the odd-count parity
    predicate for the same reason documented there.  The user universe
    is GLOBAL: a user with zero type-t events is a non-converter for
    t, so every type's test sees the same n_a/n_b denominators.

    Emits the RAW double p (A&S erfc chain, see ``_erfc_p_two_sided``)
    for downstream multiple-testing correction — quantize only at the
    readout (``fdr_bh`` does).

    Scale shape: one (type, user) hash-agg (map-side partials); the
    global per-arm user census is a 1-row aggregate crossed back in as
    a broadcast; output is event-type-dimension-sized."""
    arm_a = F.substring(F.md5(F.col(user_col).cast("string")), 1, 1) < "8"
    users = (
        events.select(F.col(user_col).alias("u"), arm_a.alias("ia"))
        .distinct()
        .agg(
            F.sum(F.col("ia").cast("long")).cast("long").alias("n_a"),
            F.sum((~F.col("ia")).cast("long")).cast("long").alias("n_b"),
        )
    )
    per_ut = (
        events.groupBy(F.col("event_type"), F.col(user_col).alias("u"))
        .agg((F.count("*") % 2).cast("long").alias("conv"))
        .withColumn("ia", F.substring(F.md5(F.col("u").cast("string")), 1, 1) < "8")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ia"), F.col("conv")).otherwise(0))
            .cast("long")
            .alias("k_a"),
            F.sum(F.when(~F.col("ia"), F.col("conv")).otherwise(0))
            .cast("long")
            .alias("k_b"),
        )
    )
    t = per_ut.crossJoin(F.broadcast(users))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa, pb = F.col("k_a") / na, F.col("k_b") / nb
    pool = (F.col("k_a") + F.col("k_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pb - pa) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    k = F.col("k_a") + F.col("k_b")
    n = F.col("n_a") + F.col("n_b")
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (k > 0) & (k < n)
    return t.select(
        "event_type",
        "n_a",
        "k_a",
        "n_b",
        "k_b",
        # degenerate tests (empty arm, 0%/100% pooled) carry p = 1 —
        # they can never reject, and keeping them in the table keeps
        # the BH m honest (dropping hypotheses after seeing the data
        # is exactly the selection bias FDR control exists to prevent)
        F.when(ok, z).otherwise(F.lit(0.0)).alias("z"),
        F.when(ok, _erfc_p_two_sided(z)).otherwise(F.lit(1.0)).alias("p"),
    )


def fdr_bh(
    tests: DataFrame,
    key_col: str = "event_type",
    p_col: str = "p",
    q: float = 0.1,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR correction over a (small) table
    of hypotheses: rank p ascending (ties broken by key so the order
    is total), p_adj(i) = min_{j ≥ i} (m·p(j)/j) capped at 1, reject
    when p_adj ≤ q.  THE guard against the "scan 20 metrics, one is
    'significant' at 0.05" trap every multi-metric experiment readout
    walks into.

    BH runs on the RAW doubles and quantizes only the emitted columns,
    so the adjusted trajectory is the one both engines compute
    bit-identically (every input p is a mirrored IEEE chain).

    The two global windows here are over the HYPOTHESIS table — m
    rows, one per metric/event-type, a dimension by construction —
    never over event data; the single-partition sort is m·log m on
    one executor and irrelevant at any corpus scale."""
    from stash_log_parser_spark.operators.textstats import round6

    w_rank = Window.orderBy(p_col, key_col)
    w_rev = Window.orderBy(F.col("_i")).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    ranked = (
        tests.withColumn("_i", F.row_number().over(w_rank))
        .withColumn("_m", F.count("*").over(Window.partitionBy()))
        .withColumn(
            "_padj",
            F.least(
                F.lit(1.0),
                F.min(
                    F.col(p_col) * F.col("_m") / F.col("_i")
                ).over(w_rev),
            ),
        )
    )
    carried = [c for c in tests.columns if c not in (key_col, p_col, "z")]
    stat = [round6(F.col("z")).alias("z")] if "z" in tests.columns else []
    return ranked.select(
        key_col,
        *carried,
        *stat,
        round6(F.col(p_col)).alias("p_raw"),
        round6(F.col("_padj")).alias("p_bh"),
        (F.col("_padj") <= F.lit(q)).alias("rejected"),
    ).orderBy(key_col)


def littles_law_audit(parsed: DataFrame) -> DataFrame:
    """Little's law consistency gate per day: L ≟ λ·W, where L is the
    time-weighted average of the server's concurrency gauge (the
    ``concurrency_twa`` step integral), λ the incoming-request rate
    over the observed span, and W the mean response duration from the
    outgoing lines.  The law holds for ANY stationary queue, so the
    ratio L/(λW) is a zero-config telemetry health check: ≈1 means the
    gauge, the request stream, and the duration field tell one
    consistent story; drift flags dropped out-lines, clock skew
    between fields, or a load ramp inside the window.

    All inputs reduce to BIGINTs (weighted_us, span_us, counts,
    Σduration_ms); λ, W, and the ratio are one fixed double chain
    mirrored verbatim in the oracle, round6-quantized.  Degenerate
    days (no span, no arrivals, no completions) report NULL ratio.

    Scale shape: one day-partitioned lead() window for the gauge
    integral (the concurrency_twa plan), one conditional hash-agg for
    arrivals/durations, joined on the day dimension — nothing
    corpus-scale past the two scans."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    gauge = parsed.filter(
        F.col("is_parsed") & F.col("req_concurrent").isNotNull()
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("req_counter"),
        F.col("req_dir"),
        F.col("req_concurrent").cast("long").alias("g"),
    )
    w = Window.partitionBy("day").orderBy("us", "req_counter", "req_dir")
    l_parts = (
        gauge.withColumn("next_us", F.lead("us").over(w))
        .groupBy("day")
        .agg(
            (F.max("us") - F.min("us")).cast("long").alias("span_us"),
            F.sum(
                F.when(
                    F.col("next_us").isNotNull(),
                    F.col("g") * (F.col("next_us") - F.col("us")),
                ).otherwise(0)
            ).cast("long").alias("weighted_us"),
        )
    )
    flow = (
        parsed.filter(F.col("is_parsed"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("req_dir") == "i").cast("long").alias("is_in"),
            F.when(
                (F.col("req_dir") == "o") & F.col("duration_ms").isNotNull(),
                F.col("duration_ms"),
            ).alias("dur"),
        )
        .groupBy("day")
        .agg(
            F.sum("is_in").cast("long").alias("n_arrivals"),
            F.count("dur").cast("long").alias("n_completed"),
            F.sum("dur").cast("long").alias("sum_dur_ms"),
        )
    )
    j = l_parts.join(flow, "day")
    l_twa = F.col("weighted_us").cast("double") / F.col("span_us").cast(
        "double"
    )
    lam = F.col("n_arrivals") * F.lit(1000000.0) / F.col("span_us").cast(
        "double"
    )
    w_s = F.col("sum_dur_ms").cast("double") / (
        F.col("n_completed") * F.lit(1000.0)
    )
    ok = (
        (F.col("span_us") > 0)
        & (F.col("n_arrivals") > 0)
        & (F.col("n_completed") > 0)
        & (F.col("sum_dur_ms") > 0)
    )
    return j.select(
        "day",
        "n_arrivals",
        "n_completed",
        F.when(F.col("span_us") > 0, round6(l_twa)).alias("l_twa"),
        F.when(ok, round6(lam)).alias("lambda_per_s"),
        F.when(ok, round6(w_s)).alias("w_s"),
        F.when(ok, round6(l_twa / (lam * w_s))).alias("littles_ratio"),
    ).orderBy("day")


def p_chart(
    parsed: DataFrame,
    slow_ms: int = 500,
    sigma: float = 3.0,
) -> DataFrame:
    """Shewhart p-chart over the hourly slow-request PROPORTION — the
    statistical-process-control alarm that ``slo_burn_rate`` is not:
    the SLO burn compares against a fixed budget, while the p-chart
    asks "is this hour statistically abnormal FOR THIS SYSTEM", with
    binomial control limits p̄ ± σ·√(p̄(1−p̄)/nₜ) that widen for
    thin-traffic hours (the property that stops 3 slow requests at
    4 a.m. from paging anyone).

    Counts are BIGINT; p̄ re-enters as a 1-row broadcast cross join;
    the limit chain is one mirrored IEEE expression, round6-quantized.
    The out-of-control flag compares RAW doubles (both engines compute
    the identical chain), so membership is exact.

    Scale shape: one hour-keyed hash-agg with map-side partials, a
    1-row total, an hours-dimension projection — nothing else."""
    from stash_log_parser_spark.operators.textstats import round6

    base = parsed.filter(
        F.col("is_parsed") & F.col("duration_ms").isNotNull()
    ).select(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
        (F.col("duration_ms") > slow_ms).cast("long").alias("slow"),
    )
    hourly = base.groupBy("hour").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("slow").cast("long").alias("n_slow"),
    )
    tot = hourly.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("n_slow").cast("long").alias("ts_"),
    )
    j = hourly.crossJoin(F.broadcast(tot))
    pbar = F.col("ts_").cast("double") / F.col("tn")
    phat = F.col("n_slow").cast("double") / F.col("n")
    half = F.lit(sigma) * F.sqrt(pbar * (F.lit(1.0) - pbar) / F.col("n"))
    ucl = pbar + half
    lcl = F.greatest(F.lit(0.0), pbar - half)
    return j.select(
        "hour",
        "n",
        "n_slow",
        round6(phat).alias("p_hat"),
        round6(pbar).alias("p_bar"),
        round6(ucl).alias("ucl"),
        round6(lcl).alias("lcl"),
        ((phat > ucl) | (phat < lcl)).alias("out_of_control"),
    ).orderBy("hour")


def cohort_ltv(
    events: DataFrame,
    value_type: str = "purchase",
    max_weeks: int = 8,
) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per signup-cohort user at
    each week of cohort age — the money twin of ``retention_cohorts``
    (that one asks "do they come back", this one "what are they worth
    by week k"), the curve every acquisition-spend decision reads.

    Users cohort by FIRST-seen week (Monday truncation, identical in
    both engines); revenue is ``value_type`` event value in exact
    integer cents; the cumulative is a window over the cohort×offset
    matrix (dimension-sized).  ltv_per_user divides the exact
    cumulative cents by the FULL cohort size (not just spenders) —
    one division at the end, round6.

    Scale shape: one user-keyed min for the cohort assignment, one
    (cohort, offset) hash-agg for the revenue cells, cohort sizes
    broadcast; the cumsum window runs over the matrix, never rows."""
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    wk = F.date_trunc("week", F.col("ts")).cast("date")
    first = (
        events.select("user_id", wk.alias("wk"))
        .groupBy("user_id")
        .agg(F.min("wk").alias("cohort_wk"))
    )
    cohort_sizes = first.groupBy("cohort_wk").agg(
        F.count("*").cast("long").alias("n_cohort")
    )
    rev = (
        events.filter(
            (F.col("event_type") == value_type) & F.col("value").isNotNull()
        )
        .select(
            "user_id",
            wk.alias("wk"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
                "cents"
            ),
        )
        .join(first, "user_id")
        .withColumn(
            "week_offset", (F.datediff("wk", "cohort_wk") / 7).cast("int")
        )
        .filter(F.col("week_offset") <= max_weeks)
        .groupBy("cohort_wk", "week_offset")
        .agg(
            F.sum("cents").cast("long").alias("week_cents"),
            F.count_distinct("user_id").cast("long").alias("n_spenders"),
        )
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.withColumn("cum_cents", F.sum("week_cents").over(w).cast("long"))
        .join(F.broadcast(cohort_sizes), "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_cohort",
            "n_spenders",
            "week_cents",
            "cum_cents",
            round6(
                F.col("cum_cents").cast("double")
                / (F.col("n_cohort") * F.lit(100.0))
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def seasonality_strength(
    events: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Seasonality-strength score per key: the share of hourly-count
    variance explained by the hour-of-day profile,
    1 − SS_resid/SS_total over the DENSE hour spine (empty hours count
    as zero — silence at 4 a.m. IS the seasonal signal).  ≈0: flat or
    pure noise; →1: the daily cycle dominates.  The scalar that
    decides whether ``seasonal_anomaly``'s 24h-lag adjustment is even
    worth running on this key.

    Scale shape: one (key, hour) hash-agg; the dense spine comes from
    ``sequence`` over the observed range (never a driver loop); the
    24-row hour-of-day profile joins back broadcast; sums of squared
    residuals are the only doubles, round6-quantized once."""
    from stash_log_parser_spark.operators.textstats import round6

    hc = events.groupBy(
        F.col(key_col).alias("k"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / 3600000000)
        .cast("long")
        .alias("h"),
    ).agg(F.count("*").cast("long").alias("c"))
    span = hc.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    keys = hc.select("k").distinct()
    spine = keys.crossJoin(F.broadcast(span)).select(
        "k", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    dense = spine.join(hc, ["k", "h"], "left").select(
        "k", "h", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    hod = dense.withColumn("hod", F.pmod(F.col("h"), F.lit(24)))
    prof = hod.groupBy("k", "hod").agg(
        F.sum("c").cast("long").alias("s"),
        F.count("*").cast("long").alias("m"),
    )
    tot = hod.groupBy("k").agg(
        F.sum("c").cast("long").alias("st"),
        F.count("*").cast("long").alias("n"),
    )
    j = (
        hod.join(F.broadcast(prof), ["k", "hod"])
        .join(F.broadcast(tot), "k")
        .select(
            "k",
            "c",
            (F.col("s").cast("double") / F.col("m")).alias("mu_hod"),
            (F.col("st").cast("double") / F.col("n")).alias("mu_all"),
        )
    )
    agg = j.groupBy("k").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum(
            (F.col("c") - F.col("mu_all")) * (F.col("c") - F.col("mu_all"))
        ).alias("sst"),
        F.sum(
            (F.col("c") - F.col("mu_hod")) * (F.col("c") - F.col("mu_hod"))
        ).alias("ssr"),
    )
    return agg.select(
        F.col("k").alias(key_col),
        "n_hours",
        F.when(
            F.col("sst") > 0,
            round6(F.lit(1.0) - F.col("ssr") / F.col("sst")),
        ).alias("seasonality_strength"),
    ).orderBy(key_col)


def basket_rules(
    lineitem: DataFrame,
    min_item_count: int = 5,
    min_pair_count: int = 3,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Market-basket association rules (support / confidence / lift)
    over (order, item) transactions with the Apriori frequent-item
    prune (Agrawal & Srikant VLDB'94; public algorithm).

    Plan — built to avoid the naive transaction self-join:

    1. distinct (order, item) — duplicate lineitems of one part in one
       order collapse map-side before the exchange.
    2. item census (dimension-sized: ≤ |parts| rows) → frequent items
       with n ≥ min_item_count re-enter as a BROADCAST join carrying
       each item's count.  This is the Apriori downward-closure prune:
       no pair can be frequent unless both items are, so infrequent
       items never reach pair generation.
    3. i<j pairs from a SAME-order self join of the pruned
       transactions — exchange-free, because both sides reuse the one
       okey repartition from step 1 (no second fact exchange; r6
       replaced a collect_list + nested-array-transform form whose
       per-basket struct buffers were the dominant GC tail).  Cost is
       bounded by the post-prune basket size squared (max basket 17 on
       this corpus; production prunes pathological mega-baskets the
       same way apply_bucket_cap does dedup buckets).
    4. pair hash-agg → rules in BOTH directions for pairs with
       n_both ≥ min_pair_count.  support = n_both/N,
       confidence = n_both/n_ante, lift = n_both·N/(n_ante·n_cons) —
       all exact BIGINTs until one round6-quantized division each.

    N (basket count) re-enters via a 1-row broadcast cross join —
    scalar, not scale-growing."""
    from .textstats import round6

    # r6 (guide §2.4 "two operations keyed the same way can share one
    # exchange"): hash-repartition the (order, item) projection by okey
    # ONCE — the distinct then needs no exchange of its own (okey ⊆
    # (okey, item) clustering), and the later basket groupBy(okey)
    # reuses the same partitioning, removing one of the two fact-scale
    # exchanges; the explicit repartition also lifts the map-side
    # parallelism above the input's row-group count (the driver's
    # lineitem is 6 row groups for 6M rows).  The three consumers of
    # ``t`` share the repartition exchange via ReusedExchange.
    t = (
        lineitem.select(
            F.col(order_col).alias("okey"), F.col(item_col).alias("item")
        )
        .repartition(
            lineitem.sparkSession.sparkContext.defaultParallelism, "okey"
        )
        .distinct()
    )
    n_orders = t.select(F.countDistinct("okey").alias("n_orders"))
    item_cnt = t.groupBy("item").agg(F.count("*").cast("long").alias("cnt"))
    freq = item_cnt.filter(F.col("cnt") >= F.lit(int(min_item_count)))
    tf = t.join(F.broadcast(freq), "item")
    # r6: i<j pair generation by a SAME-okey self join of the pruned
    # transactions instead of collect_list + nested array transforms.
    # Both sides derive from the okey-repartitioned ``tf``, so the join
    # is exchange-free (ReusedExchange of the one fact exchange above)
    # and produces exactly the same Σ c(basket,2) pair rows — but
    # without materializing a per-basket struct array first (the
    # collect_list buffers were the round's worst GC tail: 4.5–21 s
    # samples in one session; the join form measured 2.5–6.1 s on the
    # same session, identical output).  Cost stays bounded by the
    # post-prune basket size squared, as before.
    pa_ = tf.select(
        "okey", F.col("item").alias("item_a"), F.col("cnt").alias("cnt_a")
    )
    pb_ = tf.select(
        "okey", F.col("item").alias("item_b"), F.col("cnt").alias("cnt_b")
    )
    pairs = (
        pa_.join(pb_, "okey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "cnt_a", "item_b", "cnt_b")
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= F.lit(int(min_pair_count)))
    )
    both_dirs = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("cnt_a").alias("n_ante"),
                    F.col("item_b").alias("consequent"),
                    F.col("cnt_b").alias("n_cons"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("cnt_b").alias("n_ante"),
                    F.col("item_a").alias("consequent"),
                    F.col("cnt_a").alias("n_cons"),
                ),
            )
        ).alias("r"),
        "n_both",
    ).select("r.*", "n_both")
    return both_dirs.crossJoin(F.broadcast(n_orders)).select(
        "antecedent",
        "consequent",
        "n_both",
        "n_ante",
        "n_cons",
        round6(F.col("n_both") / F.col("n_orders")).alias("support"),
        round6(F.col("n_both") / F.col("n_ante")).alias("confidence"),
        round6(
            (F.col("n_both") * F.col("n_orders"))
            / (F.col("n_ante") * F.col("n_cons"))
        ).alias("lift"),
    )
