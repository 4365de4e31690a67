"""Mergeable cardinality sketch — a deterministic HyperLogLog whose
every intermediate is bit-exact across engines.

Spark's ``approx_count_distinct`` (HLL++) and DuckDB's
``approx_count_distinct`` use different hash functions and bias tables,
so their estimates can never be value-hash compared. This module builds
the classic Flajolet HLL from scratch out of pure relational primitives
so the SAME estimate falls out of any engine:

* hash     — first 12 md5 hex chars as a 48-bit integer (md5 is
             identical everywhere; 48 bits keep every value exact in
             both BIGINT and DOUBLE),
* bucket   — top ``p`` bits (shift, not division),
* rho      — leading-zero rank of the remaining 40-bit word via the
             ``length(bin(w))`` bit-length device (the same trick the
             HDR duration sketch uses),
* register — ``max(rho)`` per bucket: a 256-row hash-agg with map-side
             partials, the textbook mergeable sketch (register tables
             from disjoint shards combine by elementwise max),
* estimate — ``alpha·m² / Σ 2^-M_b`` with the standard small-range
             correction. The indicator sum is a sum of dyadic rationals
             spanning < 53 bits, so it is EXACT in IEEE double
             regardless of summation order — the whole estimate is
             deterministic without any quantization tricks; only the
             final report is round6'd for the oracle.

At 10^12 rows this is one narrow scan + a 256-row shuffle; the register
table is the state you'd checkpoint/merge across days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stash_log_parser_spark.session import materialize

_P = 8  # register index bits
_M = 1 << _P  # 256 registers
_WBITS = 40  # remaining hash bits ranked by rho
_ALPHA = 0.7213 / (1.0 + 1.079 / _M)


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(bucket, register) table — the mergeable sketch state."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    bucket = F.shiftright(h, _WBITS)
    w = h.bitwiseAND(F.lit((1 << _WBITS) - 1))
    rho = F.when(w > 0, F.lit(_WBITS + 1) - F.length(F.bin(w))).otherwise(
        F.lit(_WBITS + 1)
    )
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_estimate(df: DataFrame, key_col: str) -> DataFrame:
    """One-row frame: the HLL cardinality estimate of ``key_col``.

    ``2^-register`` is built by integer shift + exact division (never
    libm ``pow``); absent registers contribute 2^0 = 1 each and count
    toward the small-range zero-register correction ``m·ln(m/V)``.
    """
    regs = hll_registers(df, key_col)
    agg = regs.agg(
        F.count("*").alias("n_present"),
        F.sum(
            # DataFrame shiftleft() only takes a literal shift; the SQL
            # form accepts a column (register <= 41 fits a BIGINT shift)
            F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), register)")
        ).alias("s_present"),
    )
    # empty input: no registers at all -> s = m, V = m -> the small-range
    # correction yields exactly m*ln(1) = 0.0 (not NULL)
    s = F.coalesce(F.col("s_present"), F.lit(0.0)) + (F.lit(_M) - F.col("n_present"))
    raw = F.lit(_ALPHA * _M * _M) / s
    v = F.lit(_M) - F.col("n_present")  # registers still zero
    est = F.when(
        (raw <= 2.5 * _M) & (v > 0), F.lit(float(_M)) * F.log(F.lit(float(_M)) / v)
    ).otherwise(raw)
    return agg.select(
        F.floor(est * 1e6 + F.lit(0.5)).cast("long").alias("est_micro")
    ).select((F.col("est_micro") / 1e6).alias("hll_estimate"))


def kmv_distinct(
    df: DataFrame, key_col: str, by_col: str, k: int = 64
) -> DataFrame:
    """K-minimum-values distinct-count sketch per group — the OTHER
    classic mergeable cardinality sketch (merge = union the value
    lists, keep the k smallest). Same determinism discipline as the
    HLL: md5 48-bit hashes, so the k-th minimum — and therefore the
    estimate ``(k-1) · 2^48 / h_k`` — is identical on every engine
    (one exact integer division in double, then round6).

    Groups with fewer than k distinct values report their EXACT
    count (the sketch is lossless below k). Plan: distinct hash-agg,
    per-group k-row window, 2-column shuffle only."""
    from pyspark.sql import Window

    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    hashes = df.select(F.col(by_col), h.alias("h")).distinct()
    w = Window.partitionBy(by_col).orderBy("h")
    ranked = hashes.withColumn("r", F.row_number().over(w))
    per_group = ranked.groupBy(by_col).agg(
        F.count("*").alias("n_exact"),
        F.max(F.when(F.col("r") == k, F.col("h"))).alias("hk"),
    )
    est = F.when(
        F.col("hk").isNotNull(),
        F.floor((F.lit(float(k - 1)) * F.lit(float(1 << 48)) / F.col("hk")) * 1e6 + 0.5)
        / 1e6,
    ).otherwise(F.col("n_exact").cast("double"))
    return per_group.select(
        by_col,
        "n_exact",
        est.alias("kmv_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_err"),
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 30,
) -> DataFrame:
    """Count-min sketch + heavy-hitter report: estimate every key's
    frequency from a depth×width counter grid (est = min over rows of
    the key's bucket counter; always ≥ exact), and emit the global
    top ``top_k`` with exact and estimated counts side by side — the
    streaming-frequency sketch you'd keep per shard and merge by
    elementwise + (counters are additive), next to the HLL/KMV
    cardinality sketches above.

    Determinism discipline: bucket = first 8 md5 hex chars of
    ``key:row`` mod width — a 32-bit integer identical on every
    engine, so the whole grid and every estimate value-hash matches
    the SQL oracle. Plan shape at scale: one exact per-key hash-agg
    first (the explode then runs over DISTINCT keys, not rows), a
    depth×width-row grid agg (map-side partials collapse it), and a
    broadcast join of the tiny grid back to the keys.
    """
    from pyspark.sql import functions as F

    keyed = df.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("n"))
    rows = keyed.select(
        "key",
        "n",
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("d"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("key").cast("string"),
                        F.lit(":"),
                        F.col("d").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % width,
    )
    grid = rows.groupBy("d", "bucket").agg(F.sum("n").alias("c"))
    est = (
        rows.join(F.broadcast(grid), ["d", "bucket"])
        .groupBy("key")
        .agg(
            F.max("n").cast("long").alias("exact_count"),
            F.min("c").cast("long").alias("cms_est"),
        )
    )
    return (
        est.orderBy(F.desc("exact_count"), F.asc("key"))
        .limit(top_k)
        .select(
            F.col("key").alias(key_col), "exact_count", "cms_est",
            (F.col("cms_est") - F.col("exact_count")).alias("overcount"),
        )
    )


def hll_registers_by(df: DataFrame, key_col: str, by_col: str) -> DataFrame:
    """(group, bucket, register) — the PER-GROUP mergeable sketch state
    (one 256-row register table per group value)."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    bucket = F.shiftright(h, _WBITS)
    w = h.bitwiseAND(F.lit((1 << _WBITS) - 1))
    rho = F.when(w > 0, F.lit(_WBITS + 1) - F.length(F.bin(w))).otherwise(
        F.lit(_WBITS + 1)
    )
    return (
        df.select(F.col(by_col), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(by_col, "bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_estimate_by(regs: DataFrame, by_col: str) -> DataFrame:
    """Per-group HLL estimate from a (group, bucket, register) table —
    same exact-dyadic-rational estimate as hll_estimate, one row per
    group."""
    agg = regs.groupBy(by_col).agg(
        F.count("*").alias("n_present"),
        F.sum(
            F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), register)")
        ).alias("s_present"),
    )
    s = F.coalesce(F.col("s_present"), F.lit(0.0)) + (F.lit(_M) - F.col("n_present"))
    raw = F.lit(_ALPHA * _M * _M) / s
    v = F.lit(_M) - F.col("n_present")
    est = F.when(
        (raw <= 2.5 * _M) & (v > 0), F.lit(float(_M)) * F.log(F.lit(float(_M)) / v)
    ).otherwise(raw)
    return agg.select(
        by_col,
        (F.floor(est * 1e6 + F.lit(0.5)).cast("long") / 1e6).alias("hll_estimate"),
    )


def hll_sliding_distinct(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window_hours: int = 24,
) -> DataFrame:
    """Trailing-``window_hours`` distinct-``key_col`` estimate per hour
    by MERGING hourly HLL register tables — the whole reason the
    sketch is mergeable: the raw stream is scanned ONCE into per-hour
    registers (≤256 rows/hour), and every sliding window is answered
    by an elementwise-max over ≤ window·256 register rows instead of
    re-scanning window·|hour| raw events. This is the
    checkpointable state a streaming distinct-counter keeps.

    The exact trailing distinct count rides along for the error audit
    (that side DOES pay the range-join over the (hour, key)-distinct
    pairs — precisely the cost the sketch path avoids).
    """
    hr = F.expr(
        f"unix_micros(date_trunc('hour', {ts_col})) div 3600000000"
    ).alias("hr")
    keyed = events.select(hr, F.col(key_col).alias("k"))
    regs = hll_registers_by(keyed, "k", "hr")
    hours = regs.select("hr").distinct()
    merged = (
        hours.alias("h")
        .join(
            regs.alias("r"),
            (F.col("r.hr") <= F.col("h.hr"))
            & (F.col("r.hr") > F.col("h.hr") - window_hours),
        )
        .groupBy(F.col("h.hr").alias("hr"), F.col("r.bucket").alias("bucket"))
        .agg(F.max("r.register").alias("register"))
    )
    est = hll_estimate_by(merged, "hr")
    du = keyed.distinct()
    exact = (
        hours.alias("h")
        .join(
            du.alias("d"),
            (F.col("d.hr") <= F.col("h.hr"))
            & (F.col("d.hr") > F.col("h.hr") - window_hours),
        )
        .groupBy(F.col("h.hr").alias("hr"))
        .agg(F.countDistinct("d.k").alias("n_exact"))
    )
    return exact.join(est, "hr").select(
        F.col("hr").cast("long").alias("hr"),
        F.col("n_exact").cast("long").alias("n_exact"),
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


def hll_set_overlap(
    df: DataFrame,
    key_col: str,
    by_col: str,
    set_a: str,
    set_b: str,
) -> DataFrame:
    """HLL set algebra — the reason register sketches beat plain
    distinct counters at scale: registers MERGE (union = per-bucket
    max), so |A∪B| costs one 256-row combine of already-built sketches
    and |A∩B| falls out by inclusion–exclusion, with no re-scan of
    either input. The classic audience-overlap question ("how many
    users both click AND view?") answered from mergeable state.

    Emits ONE row: the exact distinct counts (a, b, intersection —
    the audit baseline), the three sketch estimates (a, b, union),
    and the inclusion–exclusion intersection estimate. All sketch
    arithmetic is the same exact-dyadic discipline as hll_estimate;
    the estimates are value-hash oracled, not 'close'."""
    from stash_log_parser_spark.operators.textstats import round6

    two = df.filter(F.col(by_col).isin(set_a, set_b)).select(
        F.when(F.col(by_col) == set_a, F.lit("a")).otherwise(F.lit("b")).alias(
            "s"
        ),
        F.col(key_col),
    )
    regs = hll_registers_by(two, key_col, "s")
    union_regs = regs.groupBy("bucket").agg(
        F.max("register").alias("register")
    ).select(F.lit("u").alias("s"), "bucket", "register")
    est = hll_estimate_by(regs.unionByName(union_regs), "s")
    wide = est.groupBy().pivot("s", ["a", "b", "u"]).sum("hll_estimate")

    sets_per_key = two.groupBy(key_col).agg(
        F.countDistinct("s").alias("ns"),
        F.min("s").alias("one"),
    )
    exact = sets_per_key.agg(
        F.sum(
            ((F.col("ns") == 2) | (F.col("one") == "a")).cast("long")
        ).alias("n_exact_a"),
        F.sum(
            ((F.col("ns") == 2) | (F.col("one") == "b")).cast("long")
        ).alias("n_exact_b"),
        F.sum((F.col("ns") == 2).cast("long")).alias("n_exact_both"),
    )
    return exact.crossJoin(F.broadcast(wide)).select(
        "n_exact_a",
        "n_exact_b",
        "n_exact_both",
        F.col("a").alias("est_a"),
        F.col("b").alias("est_b"),
        F.col("u").alias("est_union"),
        round6(F.col("a") + F.col("b") - F.col("u")).alias("est_intersection"),
    )


def heavy_hitters(
    docs: DataFrame, k: int = 30, n_shards: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact heavy hitters (count > N/k) via the two-phase
    candidate-then-verify pattern — the distributed form of
    Misra–Gries whose OUTPUT is deterministic and engine-exact even
    though a streaming MG sketch's counters are order-dependent.

    Phase 1 (candidates): docs land in ``n_shards`` deterministic
    shards (md5 of doc_id — the repo's standard portable hash);
    per-shard word counts keep only words with ``count_s * k >
    total_s`` — by pigeonhole, any word with GLOBAL count > N/k must
    exceed the per-shard threshold in at least one shard (if it missed
    every one, summing count_s <= total_s/k over shards bounds its
    global count by N/k), so the candidate union is complete: no
    false negatives, only false positives.  Phase 2 (verify): exact
    global counts for the candidate set only, filter > N/k.

    Why this shape at 10^12 rows: the word domain can be huge (URLs,
    user ids), and a single global groupBy shuffles every distinct
    key.  Here the global exchange carries only candidate words — at
    most ``n_shards * k`` of them by construction — after a semi-join
    against the broadcast candidate list; the shard-local counts
    shuffle on (shard, word), which partial aggregation collapses
    map-side exactly like the global form.  The oracle is the naive
    exact SQL — the pigeonhole guarantee is what makes the fast plan
    value-hash EQUAL to it, and a test pins the candidate cap.

    Output: word, n_total, share (round6), ordered by count desc."""
    from stash_log_parser_spark.operators.textstats import _words, round6

    # coalesce marks the key non-nullable so the shard_tot join adds no
    # isnotnull scan filter — keeping both per_shard consumers on an
    # identical subtree Spark's ReuseExchange can dedup
    shard = F.coalesce(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % n_shards,
        F.lit(0),
    )
    words = docs.select(
        shard.alias("shard"),
        F.explode(_words(F.col(text_col))).alias("word"),
    )
    # bounded by n_shards x |vocab| rows and consumed twice — once for
    # the totals collect, once for the candidate filter
    per_shard = materialize(
        words.groupBy("shard", "word").agg(F.count("*").cast("long").alias("n_s"))
    )
    # the per-shard totals are an n_shards-row aggregate — collect them
    # (bounded by construction, the repo's dimension-sized-collect
    # policy) and inline as a literal CASE, so phase 1 is ONE corpus
    # scan instead of Spark re-instantiating the per_shard subtree for
    # every consumer
    tots = {
        r["shard"]: r["tot_s"]
        for r in per_shard.groupBy("shard")
        .agg(F.sum("n_s").cast("long").alias("tot_s"))
        .collect()
    }
    n_words = int(sum(tots.values()))
    tot_s = F.lit(0)
    for s, t in sorted(tots.items()):
        tot_s = F.when(F.col("shard") == s, F.lit(t)).otherwise(tot_s)
    candidates = (
        per_shard.filter(F.col("n_s") * k > tot_s).select("word").distinct()
    )
    verified = (
        words.join(F.broadcast(candidates), "word")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n_total"))
    )
    total = verified.sparkSession.range(1).select(
        F.lit(n_words).cast("long").alias("n_words")
    )
    return (
        verified.join(F.broadcast(total))
        .filter(F.col("n_total") * k > F.col("n_words"))
        .select(
            "word",
            "n_total",
            round6(F.col("n_total").cast("double") / F.col("n_words")).alias(
                "share"
            ),
        )
        .orderBy(F.col("n_total").desc(), "word")
    )
