"""Corpus mixture and sequence packing — the two ops that turn a curated
document table into actual pretraining batches.

* :func:`sample_mixture` — deterministic per-source Bernoulli sampling
  by md5 threshold (domain re-weighting: "20 % of crawl, 100 % of
  books"). Membership depends only on (doc_id, source), so the sample
  is stable across runs, engines, partitionings, and corpus growth —
  the same property the train/test split builds on (textstats
  .train_test_split), and the reason this is a hash threshold and not
  ``df.sample()`` (whose output changes with partitioning and seed
  plumbing). Pure Catalyst, shuffle-free, trivially SQL-mirrored.

* :func:`pack_sequences` — document-boundary packing: each source's
  docs (in doc_id order) are laid out on a tape and cut every
  ``budget`` tokens; a document belongs to the pack where it STARTS
  (packs may overflow by up to one document — the policy long-context
  pipelines call "document-boundary packing with overflow"). One
  window cumsum per source partition: a single hash shuffle on the
  source key, no Python, closed-form → exactly SQL-mirrorable.

* :func:`pack_sequences_greedy` — exact greedy bin-fill (running total
  resets when a doc would cross ``budget``; oversized docs get their
  own pack). The reset recurrence is not expressible as a window
  function, so this is the engine's canonical "custom stateful
  operator as applyInPandas" shape: one Python call per source
  partition, a vectorless numpy loop inside, keys-only shuffle. Output
  is deterministic, so it oracles against a committed golden (and a
  pytest pins it to a pure-python reference).

At 10^12 docs: sampling is embarrassingly parallel; both packings
shuffle once on (source) — at real scale partition the window by
(source, day-shard) so no single source serializes into one task, and
re-number pack_ids by adding a per-shard base offset (pack counts per
shard are exact, so the offsets are one tiny agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_SCALE = 16**6  # threshold resolution: first 6 md5 hex chars


def rate_threshold(rate: float) -> str:
    """Map a sampling rate in [0, 1] to the 6-hex-char threshold string
    compared lexicographically against substr(md5(key), 1, 6). Hex
    strings compare like their numeric values (both engines emit
    lowercase hex), so P(key < threshold) = rate to 1/16^6."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate!r}")
    if rate >= 1.0:
        return "zzzzzz"  # lexicographically above every hex string: keep all
    return format(int(rate * _HEX_SCALE), "06x")


def sample_mixture(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Keep each row iff substr(md5(doc_id:source),1,6) < its source's
    threshold. Unlisted sources use ``default_rate``."""
    key = F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.col(source_col))), 1, 6
    )
    thr = F.lit(rate_threshold(default_rate))
    for src in sorted(rates):
        thr = F.when(
            F.col(source_col) == src, F.lit(rate_threshold(rates[src]))
        ).otherwise(thr)
    return docs.filter(key < thr)


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    len_col: str = "n_tok",
) -> DataFrame:
    """Document-boundary packing (see module docstring). Returns
    (id, source, length, start_offset, pack_id, offset_in_pack)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (
        Window.partitionBy(source_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(len_col).over(w) - F.col(len_col)).cast("long")
    return docs.select(
        id_col,
        source_col,
        F.col(len_col).cast("long").alias("length"),
        start.alias("start_offset"),
        F.floor(start / budget).cast("long").alias("pack_id"),
        (start % budget).cast("long").alias("offset_in_pack"),
    )


def pack_sequences_greedy(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    len_col: str = "n_tok",
) -> DataFrame:
    """Exact greedy bin-fill per source (reset recurrence — the window
    form can't express it; applyInPandas per source partition)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField(source_col, T.StringType()),
            T.StructField("length", T.LongType()),
            T.StructField("pack_id", T.LongType()),
            T.StructField("offset_in_pack", T.LongType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        lengths = pdf["_len"].to_numpy()
        pack_ids = []
        offsets = []
        cur_pack, cur_fill = 0, 0
        for ln in lengths:
            if cur_fill and cur_fill + ln > budget:
                cur_pack += 1
                cur_fill = 0
            pack_ids.append(cur_pack)
            offsets.append(cur_fill)
            cur_fill += int(ln)
            if cur_fill >= budget:  # full (or oversized doc): next doc opens a pack
                cur_pack += 1
                cur_fill = 0
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                source_col: pdf[source_col],
                "length": pdf["_len"],
                "pack_id": pack_ids,
                "offset_in_pack": offsets,
            }
        )

    narrowed = docs.select(
        id_col, source_col, F.col(len_col).cast("long").alias("_len")
    )
    return narrowed.groupBy(source_col).applyInPandas(pack, schema=out_schema)


def quality_stratified_sample(
    docs: DataFrame,
    score_col: str,
    tiers: list[tuple[float, float]],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware sampling: keep each row with the rate of the FIRST
    tier (descending ``(min_score, rate)`` order) whose min_score the
    row's quality reaches — high-quality docs kept densely, boilerplate
    thinned, the standard quality-curriculum knob composed from the
    same deterministic md5-threshold device as :func:`sample_mixture`
    (stable across runs / engines / partitionings / corpus growth; the
    ':q' salt decorrelates it from any other hash decision on the same
    ids). Pure Catalyst, shuffle-free; the score column is whatever
    upstream quality signal the caller computed (e.g. text_stats
    quality_score, itself round6-quantized so tier boundary compares
    are engine-exact)."""
    key = F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit("q"))), 1, 6
    )
    thr = F.lit(rate_threshold(default_rate))
    for min_score, rate in sorted(tiers, key=lambda t: t[0]):
        thr = F.when(
            F.col(score_col) >= min_score, F.lit(rate_threshold(rate))
        ).otherwise(thr)
    return docs.filter(key < thr)


def dsir_importance(
    docs: DataFrame,
    target_source: str,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its hashed n-gram features are
    under a TARGET domain's distribution than under the whole corpus's.
    Docs that "look like" the target domain get positive scores — the
    standard device for up-weighting a small high-quality domain when
    resampling a huge crawl.

    Model: unigrams + bigrams hashed into ``n_buckets`` buckets; both
    the target distribution p and the corpus distribution q are
    add-one-smoothed bucket categoricals. The importance log-weight of
    a doc is  sum_g [ ln p(b_g) - ln q(b_g) ]  over its grams, which
    factors as  sum_g llr(b_g) + n_grams * k  with
    ``llr(b) = ln(t_b+1) - ln(c_b+1)`` (a per-bucket constant) and
    ``k = ln(C+B) - ln(T+B)`` (a corpus scalar) — so the whole score
    is a broadcast-join against a <= ``n_buckets``-row derived
    dimension plus one scalar, never a per-doc ln.

    Cross-engine exactness: each of the <= n_buckets+1 distinct ln
    evaluations is quantized to integer MICRO units (floor(x*1e6+0.5)
    as BIGINT) before any per-doc aggregation, and doc scores are
    BIGINT sums of those micro units — order-independent and
    bit-identical across engines (double sums are not; see
    textstats.round6). The bucket hash is the first 6 md5 hex chars as
    an integer, identical in Spark (conv) and DuckDB (hex cast).

    Plan shape at 10^12 docs: one gram explode feeds (1) the corpus
    bucket hash-agg and (2) the target bucket hash-agg — both bounded
    by n_buckets rows after map-side partials, broadcast back onto the
    doc-side gram stream; final agg shuffles (id) only. No global
    windows, no Python.
    """
    # split materialized first — indexing the raw split expression
    # inside the HOF re-runs the regex per element (no CSE in lambdas)
    base = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_ws"),
    )
    ws = F.col("_ws")
    n = F.size(ws)
    bigrams = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat_ws(" ", F.get(ws, i), F.get(ws, i + 1)),
    )
    grams = F.concat(ws, F.when(n >= 2, bigrams).otherwise(F.array()))
    feats = base.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(F.when(n >= 1, grams).otherwise(F.array())).alias("gram"),
    ).select(
        id_col,
        source_col,
        (F.conv(F.substring(F.md5("gram"), 1, 6), 16, 10).cast("long")
         % n_buckets).alias("bucket"),
    )
    corpus = feats.groupBy("bucket").agg(F.count("*").alias("cb"))
    target = (
        feats.filter(F.col(source_col) == target_source)
        .groupBy("bucket")
        .agg(F.count("*").alias("tb"))
    )
    # llr dimension: <= n_buckets rows, micro-quantized BEFORE doc sums
    llr = (
        corpus.join(target, "bucket", "left")
        .select(
            "bucket",
            F.floor(
                (F.log(F.coalesce(F.col("tb"), F.lit(0)) + 1.0)
                 - F.log(F.col("cb") + 1.0)) * 1e6 + 0.5
            ).cast("long").alias("llr_micro"),
        )
    )
    totals = corpus.join(target, "bucket", "left").agg(
        F.sum("cb").alias("C"), F.sum(F.coalesce("tb", F.lit(0))).alias("T")
    ).select(
        F.floor(
            (F.log(F.col("C") + F.lit(float(n_buckets)))
             - F.log(F.col("T") + F.lit(float(n_buckets)))) * 1e6 + 0.5
        ).cast("long").alias("k_micro")
    )
    scored = (
        feats.join(F.broadcast(llr), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("llr_micro").alias("s_micro"),
        )
        .join(F.broadcast(totals))
        .select(
            id_col,
            "n_grams",
            ((F.col("s_micro") + F.col("n_grams") * F.col("k_micro"))
             / F.lit(1e6)).alias("dsir_score"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dsir_score", F.lit(0.0)).alias("dsir_score"),
        )
    )


def select_token_budget(
    docs: DataFrame,
    budget: int,
    len_col: str = "n_chars",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
    n_blocks: int = 100,
) -> DataFrame:
    """Quality-first token-budget selection: walk the corpus in
    (score DESC, id ASC) order and keep documents until the cumulative
    token count would exceed ``budget`` — "give me the best N tokens",
    the selection knob every fixed-budget pretraining run needs.
    A doc is kept iff the budget it would START at is < budget
    (greedy prefix; the last kept doc may overflow the budget by up to
    its own length, same overflow policy as pack_sequences).

    The global prefix sum over a TOTAL order is the scale hazard: a
    naive ``Window.orderBy(...)`` with no partition key collapses to
    one task. This runs the classic two-level parallel scan: (1) block
    key = the score quantized into ``n_blocks`` descending strata
    (score is already round6-quantized upstream, so block membership
    is engine-exact);
    (2) per-block totals -> a <= n_blocks-row dimension whose own
    prefix scan is a trivially small window; (3) the per-doc scan runs
    WITHIN each block, partitioned by block key. Result is identical
    to the single-window form (the SQL oracle) but every stage is
    parallel over blocks.
    """
    block = F.floor(F.lit(n_blocks) * (F.lit(1.0) - F.col(score_col))).cast("long")
    d = docs.withColumn("_blk", block)
    per_block = d.groupBy("_blk").agg(F.sum(len_col).alias("_blk_len"))
    wb = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    block_base = per_block.select(
        "_blk", F.coalesce(F.sum("_blk_len").over(wb), F.lit(0)).alias("_base")
    )
    ww = (
        Window.partitionBy("_blk")
        .orderBy(F.desc(score_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        d.withColumn("_within", F.coalesce(F.sum(len_col).over(ww), F.lit(0)))
        .join(F.broadcast(block_base), "_blk")
        .select(
            id_col,
            score_col,
            F.col(len_col).cast("long").alias(len_col),
            (F.col("_base") + F.col("_within")).cast("long").alias("cum_before"),
        )
        .filter(F.col("cum_before") < budget)
    )
    return out


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each row gets an exponential race key
    ``-ln(u)/w`` with u a uniform derived from md5(id) — the k
    SMALLEST keys are a weight-proportional sample, stable across
    runs, engines, and partitionings (same reason sample_mixture uses
    an md5 threshold instead of df.sample). One narrow scan +
    TakeOrderedAndProject; no shuffle of the payload.

    The race key is quantized to 1e-6 (ties broken by id) so the
    selection is engine-exact; quantization only coarsens the race
    between nearly-tied candidates, never biases it.

    Rows with ``weight_col <= 0`` are excluded up front: a zero weight
    means zero selection probability by definition (the raw key would
    be +inf and the row could silently never win), and a NEGATIVE
    weight would sort FIRST and invert the weight-proportional
    contract — filtering is the only interpretation that keeps A-ES
    semantics (round-4 advice)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    docs = docs.filter(F.col(weight_col) > 0)
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10).cast(
            "double"
        )
        + 1.0
    ) / float(_HEX_SCALE + 1)  # in (0, 1]
    key = F.floor(-F.log(u) / F.col(weight_col) * 1e6 + 0.5).cast("long")
    return (
        docs.withColumn("race_key", key)
        .orderBy(F.asc("race_key"), F.asc(id_col))
        .limit(k)
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking with overlap — the slicing step that
    turns curated documents into fixed-size training windows (the
    HuggingFace ``return_overflowing_tokens`` shape), complementing
    pack_sequences (which concatenates SHORT docs; this splits LONG
    ones).

    Word-level windows of ``window`` tokens every ``stride`` tokens;
    the FINAL window is right-anchored at the document end (extra
    overlap instead of a truncated tail), so every word is covered and
    every chunk except possibly the only chunk of a short doc is full
    width. All row-local array ops (split → sequence → posexplode →
    slice): a narrow map stage, no shuffle, embarrassingly parallel at
    any scale; the md5 chunk fingerprint binds the exact chunk text
    into the output (and feeds chunk-level dedup downstream).
    """
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(ws)
    last = F.greatest(n - window, F.lit(0))
    base = F.sequence(F.lit(0), last, F.lit(stride))
    starts = F.when(last % stride == 0, base).otherwise(
        F.concat(base, F.array(last))
    )
    chunked = docs.select(
        id_col, ws.alias("_ws"), n.alias("_n"), F.posexplode(starts)
    ).select(
        id_col,
        F.col("pos").cast("int").alias("chunk_idx"),
        F.col("col").cast("long").alias("start_word"),
        F.slice(F.col("_ws"), F.col("col") + 1, window).alias("_chunk"),
    )
    return chunked.select(
        id_col,
        "chunk_idx",
        "start_word",
        F.size("_chunk").cast("long").alias("n_words"),
        F.md5(F.concat_ws(" ", F.col("_chunk"))).alias("chunk_md5"),
    )


def source_temperature_mix(
    docs: DataFrame, by_col: str = "source"
) -> DataFrame:
    """Temperature-scaled (α=0.5) source mixing weights — the standard
    multilingual/multi-source rebalancing rule w_i ∝ n_i^α that lifts
    low-resource sources without letting them dominate. Reports raw
    share, temperature weight, and the upsample factor (weight / raw
    share) per source.

    Cross-engine exactness: sqrt is a correctly-rounded IEEE op on both
    engines, but a float SUM of sqrt values is not (partial-agg order
    differs), so each sqrt(n_i) is quantized to integer micro-units
    FIRST and the normalizing sum is exact BIGINT arithmetic — the
    fixed-point discipline of the HLL/CMS sketches. One group-by plus
    a single-row cross join; nothing corpus-sized moves."""
    from stash_log_parser_spark.operators.textstats import round6

    counts = docs.groupBy(by_col).agg(F.count("*").cast("long").alias("n"))
    s = F.floor(F.sqrt(F.col("n")) * 1e6 + F.lit(0.5)).cast("long")
    scaled = counts.withColumn("s", s)
    tot = scaled.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").cast("long").alias("s_tot"),
    )
    j = scaled.crossJoin(tot)
    return j.select(
        by_col,
        F.col("n").alias("n_docs"),
        round6(F.col("n").cast("double") / F.col("n_tot")).alias("raw_share"),
        round6(F.col("s").cast("double") / F.col("s_tot")).alias(
            "temp_weight"
        ),
        round6(
            (F.col("s").cast("double") * F.col("n_tot"))
            / (F.col("s_tot").cast("double") * F.col("n"))
        ).alias("upsample_factor"),
    ).orderBy(by_col)


def mixture_epoch_plan(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    length_col: str = "n_chars",
) -> DataFrame:
    """The data-mixing planning table: given target mixture WEIGHTS
    (sum ≤ 1, micro-unit precision) and a total token budget, how many
    tokens each source must contribute and therefore how many EPOCHS
    (repeat factor) of that source the training run will see —
    epochs > 1 is the oversampling red flag the data-curation reviews
    look for (repeated data saturates fast; >4 epochs ≈ worthless,
    per the data-constrained-scaling literature).

    Arithmetic discipline: weights enter as exact integer micro-units,
    target = budget·w_micro // 10^6 in BIGINT, and the epoch factor is
    ONE integer/integer IEEE division + round6 — no float accumulation.
    Plan: one source-keyed hash-agg over the corpus; the plan table is
    dimension-sized."""
    from stash_log_parser_spark.operators.textstats import round6

    w_micro = {s: int(round(w * 1_000_000)) for s, w in weights.items()}
    wcol = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(m))
            for s, m in w_micro.items()
        ],
        F.lit(0),
    ) if w_micro else F.lit(0)
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(length_col).cast("long").alias("n_tokens"),
    )
    return (
        per.withColumn("weight_micro", wcol.cast("long"))
        # BIGINT `div`, never float `/`: budget·w_micro reaches 1e18,
        # past double's exact-integer range
        .withColumn(
            "target_tokens",
            F.expr(f"({int(token_budget)}L * weight_micro) div 1000000L"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight_micro",
            "target_tokens",
            round6(F.col("target_tokens") / F.col("n_tokens")).alias(
                "epochs"
            ),
            (F.col("target_tokens") > F.col("n_tokens")).alias(
                "oversampled"
            ),
        )
        .orderBy("source")
    )


def _ring_anchors(n_shards: int) -> list[int]:
    """Anchor positions for a consistent-hash ring of ``n_shards``:
    the first 12 md5 hex chars of ``"shard:<s>"`` as an int in
    [0, 16^12).  Computed driver-side with hashlib — bit-identical to
    ``md5()`` in Spark and DuckDB, so both engines can inline the same
    constants instead of re-deriving them per row."""
    import hashlib

    return [
        int(hashlib.md5(f"shard:{s}".encode()).hexdigest()[:12], 16)
        for s in range(n_shards)
    ]


RING_SPACE = 16**12  # md5 12-hex prefix space


def shard_rebalance(
    docs: DataFrame, n_from: int = 8, n_to: int = 9, id_col: str = "doc_id"
) -> DataFrame:
    """Rebalance audit for growing a sharded corpus ``n_from → n_to``
    shards: how many docs MOVE under (a) mod-hashing and (b) a
    consistent-hash ring.  The operational question behind it: adding
    a shard to a mod-hashed 100 TB corpus rewrites ~n/(n+1) of the
    data, while a ring rewrite is ~1/(n+1) — this query prints that
    difference as measured row counts instead of folklore.

    Devices (all engine-exact): doc position ``h`` = first-12-hex md5
    int of the id (the repo's standard 48-bit hash device); mod shard
    = ``h % n``; ring shard = the anchor minimizing the clockwise
    distance ``(a_s - h) mod 16^12``, computed as
    ``min(dist * 1024 + s) % 1024`` so the argmin is a single BIGINT
    ``min()`` with the shard id riding in the low bits (dist < 2^48,
    ×1024 < 2^58 — no overflow).  Anchors are driver-side hashlib
    constants (:func:`_ring_anchors`), broadcast by value in the plan.

    Output: one row per strategy — ``n_docs, n_moved, moved_frac``
    (round6).  Scale shape: scan-local projections + a 2-group agg;
    the per-doc argmin over ``n_to`` anchors is a constant-width
    expression, not a join."""
    from stash_log_parser_spark.operators.textstats import round6

    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )

    def ring_shard(n: int):
        keys = [
            ((F.lit(a) - h + F.lit(RING_SPACE)) % F.lit(RING_SPACE)) * 1024
            + F.lit(s)
            for s, a in enumerate(_ring_anchors(n))
        ]
        return F.least(*keys) % 1024

    flags = docs.select(
        (h % n_from != h % n_to).cast("long").alias("mv_mod"),
        (ring_shard(n_from) != ring_shard(n_to)).cast("long").alias("mv_ring"),
    )
    agg = flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("mv_mod").cast("long").alias("moved_mod"),
        F.sum("mv_ring").cast("long").alias("moved_ring"),
    )
    out = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("mod").alias("strategy"),
                    F.col("n_docs").alias("n_docs"),
                    F.col("moved_mod").alias("n_moved"),
                ),
                F.struct(
                    F.lit("ring").alias("strategy"),
                    F.col("n_docs").alias("n_docs"),
                    F.col("moved_ring").alias("n_moved"),
                ),
            )
        ).alias("kv")
    )
    return out.select(
        F.col("kv.strategy").alias("strategy"),
        F.col("kv.n_docs").alias("n_docs"),
        F.col("kv.n_moved").alias("n_moved"),
        round6(F.col("kv.n_moved").cast("double") / F.col("kv.n_docs")).alias(
            "moved_frac"
        ),
    ).orderBy("strategy")


def neyman_allocation(
    docs: DataFrame,
    budget: int = 200,
    strat_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: how many docs to
    draw from each stratum so a fixed human-eval / labeling budget
    minimizes the variance of the corpus-level mean of ``value_col``.
    The survey-sampling answer is n_h ∝ N_h·S_h (stratum size times
    stratum std-dev): big AND internally-diverse sources get more of
    the budget than big-but-uniform ones — the question every eval-set
    designer asks before paying annotators.

    Exactness: the stratum variance is computed from EXACT integer
    moments (Σx, Σx² over an integer value column stay BIGINT-exact;
    var = (n·Σx² − (Σx)²)/(n·(n−1)) is one double division from exact
    ints), so both engines see bit-identical weights. Fractional
    quotas are round6-quantized before largest-remainder rounding and
    remainder ties break on the stratum name, so the integer
    allocation is engine-exact too. The largest-remainder step
    guarantees Σ alloc_n == budget exactly.

    Scale shape: one corpus-scale hash agg (map-side partial sums) to
    a strata-sized frame; every window below runs over that tiny
    frame (#strata rows), never the corpus."""
    from stash_log_parser_spark.operators.textstats import round6

    per = (
        docs.groupBy(strat_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col(value_col).cast("long")).cast("long").alias("sx"),
            F.sum(
                F.col(value_col).cast("long") * F.col(value_col).cast("long")
            )
            .cast("long")
            .alias("sxx"),
        )
    )
    n, sx, sxx = F.col("n_docs"), F.col("sx"), F.col("sxx")
    var = F.when(
        n > 1,
        (n * sxx - sx * sx).cast("double") / (n * (n - F.lit(1))).cast("double"),
    ).otherwise(F.lit(0.0))
    per = per.withColumn("w", n.cast("double") * F.sqrt(F.greatest(var, F.lit(0.0))))
    all_w = Window.partitionBy()
    quota = round6(
        F.lit(float(budget)) * F.col("w") / F.sum("w").over(all_w)
    )
    per = per.withColumn("quota", quota).withColumn(
        "base", F.floor(F.col("quota")).cast("long")
    )
    leftover = (F.lit(budget) - F.sum("base").over(all_w)).cast("long")
    rem_rank = F.row_number().over(
        Window.partitionBy().orderBy(
            F.desc(round6(F.col("quota") - F.col("base"))), F.asc(strat_col)
        )
    )
    out = per.withColumn(
        "alloc_n",
        (F.col("base") + (rem_rank <= leftover).cast("long")).cast("long"),
    )
    return out.select(
        F.col(strat_col),
        F.col("n_docs"),
        round6(F.sqrt(F.greatest(var, F.lit(0.0)))).alias("stddev"),
        F.col("quota"),
        F.col("alloc_n"),
        round6(F.col("alloc_n").cast("double") / n.cast("double")).alias(
            "sample_frac"
        ),
    ).orderBy(strat_col)


def unimax_plan(
    docs: DataFrame,
    token_budget: int,
    epochs_cap: float = 4.0,
    source_col: str = "source",
    length_col: str = "n_chars",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling" — public): spread a total token
    budget as EQUALLY as possible across sources, but never take more
    than ``epochs_cap`` epochs of any source — the fairness-first
    alternative to temperature sampling that avoids both starving tiny
    sources and pathologically over-epoching them.

    Exact integer waterfilling, fully window-form (no loop): with
    per-source capacity cap_i = epochs_cap·tokens_i (micro-exact BIGINT)
    sorted ascending, source k is CAPPED iff
    cap_k·(K-k+1) <= B - P_{k-1}  (P = prefix cap sum) — an exact
    integer test whose capped set is provably a prefix (caps ascending:
    if the test fails at k it fails at k+1 by cross-multiplication).
    Capped sources take cap_i; the m uncapped ones split the remainder
    evenly: alloc = (B - P_m) div (K-m). The < K-token floor remainder
    stays unallocated (a real run rounds to whole sequences anyway).
    Every comparison is BIGINT — no float can flip a row between
    engines.

    Plan: ONE source-keyed hash-agg over the corpus (map-side partials
    apply); everything after is windows over the K-row (dimension-
    sized) plan table. The 100 TB cost is the one aggregation scan.
    """
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import round6

    ec_micro = int(round(epochs_cap * 1_000_000))
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(length_col).cast("long").alias("n_tokens"),
    )
    per = per.withColumn(
        "cap_toks", F.expr(f"({ec_micro}L * n_tokens) div 1000000L")
    )
    w_ord = Window.orderBy("cap_toks", "source")
    w_pre = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    B = F.lit(int(token_budget)).cast("long")
    ranked = (
        per.withColumn("k", F.row_number().over(w_ord).cast("long"))
        .withColumn(
            "prefix_cap",
            F.coalesce(F.sum("cap_toks").over(w_pre), F.lit(0)).cast("long"),
        )
        .withColumn("n_src", F.count("*").over(w_all).cast("long"))
        .withColumn(
            "capped",
            F.col("cap_toks") * (F.col("n_src") - F.col("k") + F.lit(1))
            <= B - F.col("prefix_cap"),
        )
    )
    summed = ranked.withColumn(
        "m", F.sum(F.col("capped").cast("long")).over(w_all)
    ).withColumn(
        "capped_mass",
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap_toks"))).over(w_all),
            F.lit(0),
        ).cast("long"),
    )
    # greatest(...,1) guards the all-capped case (budget > total
    # capacity): the divisor is never hit then, but neither engine
    # should have to lazily skip a div-by-zero
    share = F.expr(
        "(%s - capped_mass) div greatest(n_src - m, 1)" % int(token_budget)
    )
    return summed.select(
        "source",
        "n_docs",
        "n_tokens",
        "cap_toks",
        F.when(F.col("capped"), F.col("cap_toks"))
        .otherwise(F.greatest(share, F.lit(0).cast("long")))
        .cast("long")
        .alias("alloc_toks"),
        "capped",
    ).withColumn(
        "epochs",
        round6(F.col("alloc_toks").cast("double") / F.col("n_tokens")),
    ).orderBy("source")


def shuffle_order(
    docs: DataFrame,
    n_shards: int = 8,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic seeded corpus shuffle as a (shard, pos) training
    order — the reproducible global permutation every pretraining run
    needs ("same data, same order, any cluster"). A doc's priority is
    ``md5(seed ':' doc_id)``: shard = the repo's standard 48-bit
    md5-prefix int mod ``n_shards``, pos = rank of the full hex
    priority within the shard. The order therefore depends only on
    (seed, doc_id) — stable across runs, partitionings, engines, and
    corpus growth (adding docs never reorders existing pairs within a
    shard relative to each other).

    Scale shape: computing (shard, pos) takes one exchange keyed on
    shard (uniform by md5 construction) and a per-shard sort — no
    global sort. Each shard is one sort task, so ``n_shards`` is the
    parallelism dial: at 10^12 docs you run n_shards ~ 10^5 (10^7
    rows/task); the default 8 is test-scale. The trailing
    ``orderBy(shard, pos)`` is the oracle-contract presentation only —
    the production sink writes shard-partitioned files via
    ``partitionBy("shard")`` + ``sortWithinPartitions("pos")``, never a
    global range sort. Data-loader contract: readers consume shards
    round-robin and each shard is internally hash-random, so any
    prefix of the (shard-interleaved) stream is an unbiased sample.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    pr = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    h48 = F.conv(F.substring(pr, 1, 12), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy("pr", id_col)
    return (
        docs.select(
            F.col(id_col),
            pr.alias("pr"),
            (h48 % n_shards).cast("long").alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
        .orderBy("shard", "pos")
    )


def interleave_order(
    docs: DataFrame,
    seed: int = 42,
    source_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Proportional deterministic source interleave — the data-loader
    mixing order that feeds each source at a steady rate equal to its
    corpus share (stride scheduling / WFQ): source s's r-th doc (in
    seeded-hash order) runs at virtual time ``vt = (2r-1) / (2*n_s)``,
    and the global order is ascending vt (ties broken by source then
    rank). A 10%-share source then appears once per ~10 positions
    throughout, instead of clumping — the property curriculum and
    multi-domain training schedules rely on.

    The global position is computed WITHOUT a global sort or a global
    single-partition window, via the range-bucket rank device: bucket
    ``b = floor(vt * n_buckets)`` (vt is in (0,1)); per-bucket
    row_number ranks locally; bucket offsets come from a cumulative
    count over the tiny ``n_buckets``-row histogram; global
    ``pos = offset[b] + local rank``. Exactly the sampled-range-
    partition trick a distributed sort uses, but with deterministic
    closed-form boundaries. Exchanges: one on source (per-source
    rank), one on bucket (uniform: vt is near-uniform on (0,1)).

    vt is IEEE double arithmetic on exact small integers — identical
    in any engine — and never reaches the output; only ``pos``,
    ``src_rank`` and identity columns do.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    pr = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w_src = Window.partitionBy(source_col).orderBy("pr", id_col)
    ranked = (
        docs.select(F.col(id_col), F.col(source_col), pr.alias("pr"))
        .withColumn("src_rank", F.row_number().over(w_src).cast("long"))
        .withColumn(
            "n_s", F.count("*").over(Window.partitionBy(source_col)).cast("long")
        )
        .withColumn(
            "vt",
            (F.lit(2) * F.col("src_rank") - F.lit(1)).cast("double")
            / (F.lit(2) * F.col("n_s")).cast("double"),
        )
        .withColumn("b", F.floor(F.col("vt") * F.lit(n_buckets)).cast("long"))
    )
    w_b = Window.partitionBy("b").orderBy("vt", source_col, "src_rank")
    local = ranked.withColumn("rn", F.row_number().over(w_b).cast("long"))
    # bucket offsets: cumulative count over the <= n_buckets-row histogram
    hist = ranked.groupBy("b").agg(F.count("*").cast("long").alias("n_b"))
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.select(
        "b", F.coalesce(F.sum("n_b").over(w_cum), F.lit(0)).cast("long").alias("off")
    )
    return (
        local.join(F.broadcast(offsets), "b")
        .select(
            (F.col("off") + F.col("rn")).alias("pos"),
            F.col(id_col),
            F.col(source_col),
            "src_rank",
        )
        .orderBy("pos")
    )


def order_audit(
    order_df: DataFrame,
    source_col: str = "source",
    pos_col: str = "pos",
) -> DataFrame:
    """Shuffle-quality audit of a training order: per source, the
    run-length structure (how badly the source clumps) and the
    adjacent same-source pair count against its exact
    uniform-random-permutation expectation ``n_s*(n_s-1)/n`` — the
    dashboard that catches a broken shuffle (or a pathological
    interleave) BEFORE a run burns compute on correlated batches.

    Devices: runs via the gaps-and-islands key ``pos - rank(pos within
    source)`` (one per-source window — sources are the partition, no
    global sort); adjacency via a self equi-join on ``pos + 1``
    (exchange keyed on pos — the scale-safe alternative to a global
    lag window, which would be a single partition). The expectation is
    an exact integer ratio, reported round6.

    Output per source: ``n_docs, n_runs, max_run, adj_same,
    exp_adj_same``.
    """
    from stash_log_parser_spark.operators.textstats import round6

    o = order_df.select(
        F.col(pos_col).alias("pos"), F.col(source_col).alias("source")
    )
    w_src = Window.partitionBy("source").orderBy("pos")
    islands = o.withColumn(
        "grp", F.col("pos") - F.row_number().over(w_src)
    )
    runs = (
        islands.groupBy("source", "grp")
        .agg(F.count("*").cast("long").alias("run_len"))
        .groupBy("source")
        .agg(
            F.sum("run_len").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run"),
        )
    )
    nxt = o.select((F.col("pos") - F.lit(1)).alias("pos"), F.col("source").alias("next_source"))
    adj = (
        o.join(nxt, "pos")
        .filter(F.col("source") == F.col("next_source"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("adj_same"))
    )
    total = o.groupBy().agg(F.count("*").cast("long").alias("n_total"))
    return (
        runs.join(adj, "source", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_runs",
            "max_run",
            F.coalesce(F.col("adj_same"), F.lit(0)).cast("long").alias("adj_same"),
            round6(
                (F.col("n_docs") * (F.col("n_docs") - F.lit(1))).cast("double")
                / F.col("n_total").cast("double")
            ).alias("exp_adj_same"),
        )
        .orderBy("source")
    )


def domain_cap(
    docs: DataFrame,
    k: int = 8,
    n_salt: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    len_col: str = "n_chars",
) -> DataFrame:
    """Per-domain document cap — the C4/RefinedWeb curation step that
    stops a single mega-site from dominating the corpus: every URL
    domain keeps at most ``k`` documents, survivors chosen by a
    deterministic quality rank (here ``len_col`` DESC — longer docs
    first — with ``id_col`` ASC tie-break). Docs that mention no URL
    carry no domain and are never capped (they pass through upstream;
    this operator returns the per-domain keep decisions).

    The naive plan is one window over ``partitionBy(domain)`` — at
    10^12 docs a hot domain (a crawl is Zipfian over sites) serializes
    billions of rows into ONE sort task. Exact top-k is
    salt-decomposable, so this runs the standard two-phase shape
    instead: (1) row_number within ``(domain, salt)`` — ``n_salt``
    bounded tasks per domain — keep each bucket's local top-k;
    (2) row_number within ``domain`` over the survivors (≤ k·n_salt
    rows per domain, tiny) — keep the global top-k. Any global top-k
    row is top-k in its salt bucket, so phase 1 drops no winner and
    the result equals the single-window form (the DuckDB oracle IS the
    single-window form). Salt = md5 of the id — deterministic, no
    wall-clock, uniform.

    Output: the kept rows ``(domain, doc_id, cap_rank)`` plus the
    per-domain census column ``n_docs`` (total docs mentioning the
    domain — so ``n_docs > k`` rows are visibly capped).
    """
    dom = docs.select(
        F.col(id_col),
        F.col(len_col).cast("long").alias("_len"),
        F.regexp_extract(
            F.col(text_col), r"https?://([a-z0-9.-]+)", 1
        ).alias("domain"),
    ).filter(F.col("domain") != "")
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
        .cast("long"),
        F.lit(n_salt),
    )
    order = [F.desc("_len"), F.asc(id_col)]
    local = (
        dom.withColumn("_salt", salt)
        .withColumn(
            "_lr",
            F.row_number().over(
                Window.partitionBy("domain", "_salt").orderBy(*order)
            ),
        )
        .filter(F.col("_lr") <= k)
    )
    census = dom.groupBy("domain").agg(F.count("*").cast("long").alias("n_docs"))
    kept = (
        local.withColumn(
            "cap_rank",
            F.row_number().over(Window.partitionBy("domain").orderBy(*order)),
        )
        .filter(F.col("cap_rank") <= k)
        .select("domain", id_col, F.col("cap_rank").cast("int").alias("cap_rank"))
    )
    # census is one row per distinct DOMAIN — ~10^8 on a real crawl, so
    # no broadcast hint (the repo rule: only true dims get forced);
    # both sides hash on the domain key and AQE picks the strategy.
    return (
        kept.join(census, "domain")
        .select("domain", id_col, "cap_rank", "n_docs")
        .orderBy("domain", "cap_rank")
    )


def curriculum_order(
    docs: DataFrame,
    n_shards: int = 8,
    seed: int = 42,
    n_stages: int = 4,
    difficulty_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic curriculum training order: the corpus is staged
    easy→hard by exact global quantiles of ``difficulty_col`` (length
    here — the canonical zero-model difficulty proxy), and each stage
    is internally shuffled by the same seeded-md5 device as
    ``shuffle_order`` — "short docs first, random within stage", the
    standard warm-up schedule, reproducible on any cluster.

    Stage cuts are VALUE thresholds read off the difficulty census:
    qᵢ = the smallest value whose cumulative count reaches ⌈i·n/S⌉
    (the exact lower order statistic), stage(v) = #{i : qᵢ < v}.  Ties
    share a stage (a value never straddles a cut), so membership
    depends only on (corpus, value) — never on row order or
    partitioning.

    Scale shape: one (value) census hash-agg + a census-domain window
    to find the S−1 cuts (re-entering as a 1-row broadcast cross
    join); the only row-scale exchange is the (stage, shard) hash
    repartition, and each (stage, shard) cell is one rank task —
    ``n_shards`` is the same parallelism dial as shuffle_order, so no
    global or per-stage sort ever happens.  Data-loader contract:
    consume stages in order, shards round-robin within a stage.
    """
    from pyspark.sql import Window

    if n_stages < 2:
        raise ValueError(f"n_stages must be >= 2, got {n_stages}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    census = docs.groupBy(difficulty_col).agg(
        F.count("*").cast("long").alias("c")
    )
    w_cum = Window.orderBy(difficulty_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cen = census.select(
        F.col(difficulty_col).alias("v"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    # the S-1 exact quantile cut values, one row after the agg
    cuts = cen.agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(F.col("n") * F.lit(i) / F.lit(n_stages)),
                    F.col("v"),
                )
            ).alias(f"q{i}")
            for i in range(1, n_stages)
        ]
    )
    staged = docs.crossJoin(F.broadcast(cuts))
    stage = sum(
        (F.col(f"q{i}") < F.col(difficulty_col)).cast("int")
        for i in range(1, n_stages)
    ).cast("long")
    pr = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    h48 = F.conv(F.substring(pr, 1, 12), 16, 10).cast("long")
    w = Window.partitionBy("stage", "shard").orderBy("pr", id_col)
    return (
        staged.select(
            F.col(id_col),
            stage.alias("stage"),
            (h48 % n_shards).cast("long").alias("shard"),
            pr.alias("pr"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "stage", "shard", "pos")
        .orderBy("stage", "shard", "pos")
    )
