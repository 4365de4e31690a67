"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID, document fingerprinting.

Beyond-reference operators (the reference is a log CLI); these run over
``documents(doc_id, text, lang, source, n_chars)``-shaped tables. All of
them are pure Catalyst expressions — no Python in the hot path — and
each has an ANSI-SQL twin (see ``__spark_entry__.oracle_sql``) built
from the SAME constants below, so Spark and DuckDB verify each other.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stash_log_parser_spark.session import materialize

# BPE-ish pre-tokenizer: letter runs | single digits | single punct.
# ASCII-only classes keep Spark (Java regex) and DuckDB (RE2) in agreement.
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
WS_RE = r"\s+"

# Tiny per-language stopword markers for the n-gram/stopword langid
# heuristic. Deterministic argmax with lexicographic tie-break.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "ist", "nicht", "das", "ein", "mit"],
    "en": ["the", "and", "of", "is", "not", "that", "a", "with"],
    "es": ["el", "la", "y", "es", "no", "que", "un", "con"],
    "fr": ["le", "la", "et", "est", "pas", "que", "un", "avec"],
}

# Rolling polynomial fingerprint parameters (shared with the SQL twin).
FP_BASE = 31
FP_MOD = 1_000_000_007


def _words(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), WS_RE)


def round6(col: Column) -> Column:
    """Cross-engine-EXACT 6-decimal quantization: floor(x·1e6 + 0.5)/1e6.

    ``round(x, 6)`` is not engine-portable on boundary values: Spark
    evaluates it via BigDecimal on the double's shortest decimal repr
    while DuckDB scales-and-rounds the double, and the two disagree
    when x sits exactly on a ``.xxxxxx5`` boundary — observed for real
    at sf0.1 (quality_score sums of 6-decimal-quantized terms are
    multiples of 0.25e-6, putting ~25 % of them exactly on the
    boundary; doc 1210 flipped 0.876262 vs 0.876263). Here every step
    (multiply, add, floor, divide) is one correctly-rounded IEEE op
    both engines compute identically — the same device as the repo's
    integer-cents policy. For negative inputs (cosines, MMR scores) the
    formula rounds halves toward +∞; that is still engine-consistent,
    which is all the oracle compare needs."""
    return F.floor(col * 1e6 + F.lit(0.5)) / 1e6


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document counting + quality features.

    Columns: n_chars, n_ws_tokens (whitespace tokens), n_bpe_tokens
    (BPE-ish regex pre-tokens), n_punct, punct_ratio, stopword_ratio
    (English markers), mean_token_chars, quality_score in [0, 1].
    """
    text = F.col(text_col)
    words = _words(text)
    n_ws = F.size(words)
    n_bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), 0))
    n_chars = F.length(text)
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*LANG_MARKERS["en"]))
    )
    punct_ratio = round6(n_punct / F.greatest(n_chars, F.lit(1)))
    stop_ratio = round6(stop_hits / F.greatest(n_ws, F.lit(1)))
    mean_tok = round6(n_chars / F.greatest(n_ws, F.lit(1)))
    # quality: long enough, some stopwords, not punctuation soup,
    # word lengths in a natural band — each term in [0,1].
    quality = round6(
        0.25 * F.least(n_ws / F.lit(50.0), F.lit(1.0))
        + 0.25 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.25 * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0)))
        + 0.25 * F.when((mean_tok >= 3) & (mean_tok <= 12), 1.0).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_punct.alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok.alias("mean_token_chars"),
        quality.alias("quality_score"),
    )


def lang_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language-ID: per-language hit ratio + argmax.

    Ties (including the all-zero case) break lexicographically — 'de'
    wins an all-zero row, making the output fully deterministic.
    """
    words = _words(F.col(text_col))
    n = F.greatest(F.size(words), F.lit(1))
    cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        hits = F.size(F.filter(words, lambda w: w.isin(*markers)))
        cols.append(round6(hits / n).alias(f"score_{lang}"))
    out = docs.select("doc_id", *cols)
    # argmax with lexicographic tie-break: compare (score, reversed-name)
    langs = sorted(LANG_MARKERS)
    best = F.col(f"score_{langs[0]}")
    pred = F.lit(langs[0])
    for lang in langs[1:]:
        is_better = F.col(f"score_{lang}") > best
        pred = F.when(is_better, lang).otherwise(pred)
        best = F.when(is_better, F.col(f"score_{lang}")).otherwise(best)
    return out.withColumn("lang_pred", pred)


def top_ngrams(
    docs: DataFrame, n: int = 2, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary statistics: the k most frequent word n-grams
    (count desc, ngram asc — a strict total order, so the top-k cut is
    deterministic). The 100-TB shape is explode → hash-aggregate with
    map-side partials (hot n-grams collapse to one row per partition
    before the shuffle) → TakeOrdered top-k; no window, no sort of the
    full vocabulary."""
    words = _words(F.col(text_col))
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(k)
    )


def train_test_split(
    docs: DataFrame, train_frac: float = 0.8, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic hash-based train/test assignment: split membership
    depends ONLY on the id (stable across runs, engines, partitionings,
    and corpus growth — adding documents never reshuffles existing
    assignments, unlike any sample()/rand() split). The hash is md5 of
    the id string and the threshold compares the first two hex chars
    lexicographically (fixed-width lowercase hex sorts numerically), so
    the exact same rule runs in ANSI SQL: granularity is 1/256, e.g.
    0.8 → 'cc' → 204/256 = 79.7 % train."""
    # int(), not round(): 0.8*256 = 204.800...01 would round UP to 205
    # ('cd') while the documented split and the SQL twin use 'cc' —
    # round-3 review caught the divergence (first colliding md5 prefix
    # appears at doc_id 549, past the small-corpus ids).
    t = max(0, min(256, int(train_frac * 256)))
    # 256/256 needs a sentinel above every hex pair ("100" compares
    # lexicographically BELOW "ff"; "zz" is above all of [0-9a-f]{2})
    threshold = "zz" if t == 256 else format(t, "02x")
    h2 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return docs.select(
        id_col,
        F.when(h2 < threshold, "train").otherwise("test").alias("split"),
    )


def fingerprint(
    docs: DataFrame, text_col: str = "text", use_arrow: bool = True
) -> DataFrame:
    """Rolling polynomial hash over the normalized character stream:
    ``h = (h*31 + codepoint(ch)) mod 1e9+7``. A stable 64-bit-safe
    document fingerprint computable identically in any engine with a
    fold (the DuckDB oracle twin mirrors it with ``list_reduce``).

    Default path: normalization (lower + whitespace collapse) stays
    JVM-side, then ONE Arrow-vectorized ``mapInArrow`` stage computes
    the whole batch's fingerprints as a closed-form modular dot product
    ``sum(c_i * 31^(n-1-i)) mod p`` with numpy — no per-element work in
    either engine's interpreter. Chosen after measurement: the
    ``use_arrow=False`` twin below folds with ``F.aggregate`` over
    ``split(text, '')``, one interpreted higher-order-function lambda
    eval PER CHARACTER (HOFs don't codegen; ~70 µs/eval measured in
    similarity.py) — the round-2 review graded it the last interpreted
    hot path. A test pins both paths equal.

    Shape is identical either way: narrow (doc_id, fingerprint) output,
    shuffle-free, embarrassingly parallel.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), WS_RE, " "))
    if not use_arrow:
        chars = F.split(norm, "")
        fp = F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
        )
        return docs.select("doc_id", fp.alias("fingerprint"))
    return _fingerprint_arrow(docs.select("doc_id", norm.alias("_norm")))


# powers of FP_BASE mod FP_MOD, grown on demand per worker process
_POW31: "list[int]" = [1]


def _pow_table(n: int):
    import numpy as np

    while len(_POW31) < n:
        _POW31.append((_POW31[-1] * FP_BASE) % FP_MOD)
    return np.asarray(_POW31[:n], dtype=np.int64)


def _poly_fingerprints(col):
    """Vectorized polynomial fingerprints for one Arrow string array.

    ASCII batches (the overwhelming case) run fully vectorized on the
    raw UTF-8 buffer — bytes ARE codepoints there. A batch containing
    any non-ASCII byte falls back to a per-row ``ord()`` fold with the
    same arithmetic (Spark's ``ascii()``/DuckDB's ``ascii()`` are
    codepoint functions, so both paths agree with the HOF/SQL twins).
    int64 partial sums are exact up to ~9e9 chars per document
    (terms < FP_MOD), far past any real document."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    valid = col.is_valid().to_numpy(zero_copy_only=False)
    filled = pc.fill_null(col, "").cast(pa.large_utf8())
    n = len(filled)
    offs = np.frombuffer(filled.buffers()[1], dtype=np.int64)[
        filled.offset : filled.offset + n + 1
    ]
    data = np.frombuffer(filled.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]
    rel = offs - offs[0]
    lengths = np.diff(rel)
    fp = np.zeros(n, dtype=np.int64)
    if data.size and (data < 128).all():
        P = _pow_table(int(lengths.max()))
        # Work in doc-aligned segments of ~4M chars: the vector temps
        # cost ~32 B/char, so an unsegmented long-doc batch (10k docs x
        # 9 KB = 90M chars) would allocate multiple GB per core —
        # measured to thrash GC and run SLOWER than the interpreted
        # twin. Segmenting caps transients at ~128 MB with no change
        # in arithmetic.
        seg = np.searchsorted(rel, np.arange(0, int(rel[-1]), 1 << 22), side="left")
        seg_bounds = sorted(set(seg.tolist()) | {0, n})
        for d0, d1 in zip(seg_bounds[:-1], seg_bounds[1:]):
            lens = lengths[d0:d1]
            lo, hi = rel[d0], rel[d1]
            if hi == lo:
                continue
            chunk = data[lo:hi].astype(np.int64)
            local = rel[d0 : d1 + 1] - lo
            doc_idx = np.repeat(np.arange(d1 - d0), lens)
            pos = np.arange(chunk.size, dtype=np.int64) - local[doc_idx]
            prod = (chunk * P[lens[doc_idx] - 1 - pos]) % FP_MOD
            # reduceat only over NON-EMPTY docs: their starts are
            # strictly increasing and < chunk.size, so each segment
            # spans exactly one document; empty docs keep fp = 0
            # (the fold's init value).
            nonempty = lens > 0
            fp[d0:d1][nonempty] = (
                np.add.reduceat(prod, local[:-1][nonempty]) % FP_MOD
            )
    elif data.size:
        for i, s in enumerate(filled.to_pylist()):
            if not s:
                continue
            codes = np.fromiter(map(ord, s), dtype=np.int64, count=len(s))
            P = _pow_table(len(s))
            # codes·31^(n-1-i): descending powers aligned to the string
            fp[i] = int(((codes * P[len(s) - 1 :: -1]) % FP_MOD).sum()) % FP_MOD
    return pa.array(fp, type=pa.int64(), mask=~valid)


def _fingerprint_arrow(narrowed: DataFrame) -> DataFrame:
    """Arrow stage of :func:`fingerprint` over (doc_id, _norm)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [narrowed.schema["doc_id"], T.StructField("fingerprint", T.LongType())]
    )

    def fold(batches):
        import pyarrow as pa

        for b in batches:
            doc_id = b.column(b.schema.get_field_index("doc_id"))
            fps = _poly_fingerprints(b.column(b.schema.get_field_index("_norm")))
            yield pa.RecordBatch.from_arrays(
                [doc_id, fps], names=["doc_id", "fingerprint"]
            )

    return narrowed.mapInArrow(fold, schema=out_schema)


# ---------------------------------------------------------------------------
# PII scrubbing and repetition scoring
# ---------------------------------------------------------------------------

# Scrub patterns, applied IN THIS ORDER (email before url so an address
# inside a query string is already gone when the url collapses; order is
# part of the cross-engine contract and the SQL twin mirrors it). The
# regex subset used (classes, +, {m,}, \b, \d) means the same thing to
# Java regex (Spark) and RE2 (DuckDB).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("phone", r"\b\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / URLs / phone-shaped tokens and count each kind —
    the pre-training privacy pass every large text corpus needs.

    Pure Catalyst (regexp_count + chained regexp_replace): one
    projection, no shuffle, embarrassingly parallel at any scale; the
    scan reads only (doc_id, text). Counts are taken on the ORIGINAL
    text (before any replacement) so they are order-independent even
    where patterns could overlap."""
    col = F.col(text_col)
    out = docs.select(
        "doc_id",
        *[
            F.regexp_count(col, F.lit(pat)).alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS
        ],
        col.alias("_t"),
    )
    clean = F.col("_t")
    for _, pat, rep in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, rep)
    return out.select(
        "doc_id", "n_email", "n_url", "n_phone", clean.alias("clean_text")
    )


def repetition_score(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Duplicate word-n-gram fraction per document (the Gopher-style
    repetition quality signal: boilerplate and degenerate generations
    repeat themselves; prose doesn't).

    rep = 1 − distinct_ngrams / total_ngrams, quantized with round6 so
    the SQL twin hashes identically. Single projection over the word
    array (no explode, no shuffle): the n-gram list is built with
    transform over an index sequence and deduplicated with
    array_distinct — fine for document-sized arrays (the HOF runs
    interpreted, but per-doc word counts are 10²-10³; the Arrow
    alternative only wins on multi-MB docs, see fingerprint)."""
    # split materialized first — indexing the raw split expression
    # inside the HOF re-runs the regex per element (no CSE in lambdas)
    base = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_ws"),
    )
    ws = F.col("_ws")
    n_words = F.size(ws)
    total = n_words - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), n_words - n),
        lambda i: F.concat_ws(" ", *[F.get(ws, i + j) for j in range(n)]),
    )
    rep = round6(1.0 - F.size(F.array_distinct(grams)) / total.cast("double"))
    return base.select(
        "doc_id",
        n_words.alias("n_words"),
        F.when(total > 0, total).otherwise(F.lit(0)).alias("n_ngrams"),
        F.when(total > 0, rep).otherwise(F.lit(0.0)).alias("rep_frac"),
    )


# Gopher rule-set stopword markers (Rae et al. 2021 §A.1.1, public):
# a doc must contain >= 2 distinct members to pass the stopword rule.
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style rule-based quality filter flags (Rae et al. 2021),
    restated as INTEGER-exact predicates so the SQL twin hashes
    identically — every threshold is a cross-multiplication of counters
    (``3·n ≤ chars ≤ 10·n`` instead of ``3 ≤ chars/n ≤ 10``), which
    removes the float-boundary parity risk round6 exists to paper over.

    Rules (each a boolean column; ``passes`` is their conjunction):
      word_count      min_words ≤ n_words ≤ max_words
      mean_word_len   3 ≤ mean word length ≤ 10
      alpha_words     ≥ 80 % of words contain a letter
      stop_words      ≥ 2 distinct Gopher stopwords present
      symbol_ratio    (# of '#' or '...') ≤ 10 % of words

    One narrow projection, no shuffle, no Python: at 10^12 docs this is
    an embarrassingly parallel scan reading only (doc_id, text)."""
    text = F.col(text_col)
    words = _words(text)
    n_words = F.size(words)
    # sum of word lengths == chars of the trimmed text minus whitespace
    sum_chars = F.length(F.regexp_replace(F.trim(F.lower(text)), r"\s+", ""))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPS]))
    )
    n_sym = F.size(F.regexp_extract_all(text, F.lit(r"#|\.\.\."), 0))
    f_count = (n_words >= min_words) & (n_words <= max_words)
    f_mean = (3 * n_words <= sum_chars) & (sum_chars <= 10 * n_words)
    f_alpha = 5 * n_alpha >= 4 * n_words
    f_stop = n_stop >= 2
    f_sym = 10 * n_sym <= n_words
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_chars.alias("sum_word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_distinct"),
        n_sym.alias("n_symbols"),
        f_count.alias("flag_word_count"),
        f_mean.alias("flag_mean_word_len"),
        f_alpha.alias("flag_alpha_words"),
        f_stop.alias("flag_stop_words"),
        f_sym.alias("flag_symbol_ratio"),
        (f_count & f_mean & f_alpha & f_stop & f_sym).alias("passes"),
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/topic
    signal used to stratify and dedupe web corpora by content.

    tf = term count / doc word count; idf = ln(N / df) with df = number
    of docs containing the term. Plan shape: explode → (doc_id, w)
    hash-agg for tf → word-keyed hash-agg for df (the document
    frequency relation is VOCABULARY-sized, a derived dimension like
    word_rarity's rank table — zipf-bounded, so its join back to the
    term relation is a narrow word-keyed shuffle AQE can broadcast
    while it fits). N comes from a scalar count folded in as a crossed
    1-row relation, not a driver collect. Top-k per doc is a bounded
    per-doc-keyed window (rows-per-key = vocab hits per doc, never
    corpus-sized). Scores are round6-quantized for the SQL twin; ties
    break on the term string."""
    from pyspark.sql import Window

    words = docs.select(
        "doc_id",
        F.explode(_words(F.col(text_col))).alias("w"),
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    doc_len = words.groupBy("doc_id").agg(F.count("*").alias("len"))
    df_tbl = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_len, "doc_id")
        .join(df_tbl, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "w",
            round6(
                (F.col("n") / F.col("len"))
                * F.log(F.col("n_docs") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", F.col("w").alias("term"), "tfidf")
    )


def word_rarity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-relative word-rarity quality signal: each word's global
    frequency rank (1 = most common; ties broken by word), then the
    per-document MEAN rank, round6-quantized. Common-word boilerplate
    scores low, rare-token-dense docs score high — a corpus-calibrated
    cousin of the stopword ratio that needs no fixed word list.

    All-integer until the final ratio (sum of ranks / word count), so
    the SQL twin hashes identically. The vocabulary is a DERIVED
    dimension: explode → hash-agg (map-side partials absorb the zipf
    head) → one global row_number. The rank window is a single total
    order over the DISTINCT vocabulary — dimension-sized (zipf-bounded
    ~10^7 rows at web scale, not corpus-sized), which is why a global
    window is acceptable here and nowhere else in the engine; the
    doc-side join against it is hash-keyed on the word and AQE
    broadcasts the vocab while it fits."""
    from pyspark.sql import Window

    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("w"))).cast("long"),
        )
        .select("w", "rank")
    )
    return (
        words.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            round6(F.sum("rank") / F.count("*")).alias("mean_rank"),
        )
    )


def _doc_bigrams(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, gram) bigram-instance relation shared by the bigram LM
    family. The whitespace split is MATERIALIZED as a column before the
    per-index lambda touches it: Catalyst does no common-subexpression
    elimination inside higher-order functions, so indexing the raw
    split expression re-ran the regex split once per array element —
    O(words²) per document, measured 13.5 s → 0.7 s at sf0.1."""
    base = docs.select("doc_id", _words(F.col(text_col)).alias("_ws"))
    ws = F.col("_ws")
    n = F.size(ws)
    grams = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat_ws(" ", F.get(ws, i), F.get(ws, i + 1)),
    )
    return base.select(
        "doc_id",
        F.explode(F.when(n >= 2, grams).otherwise(F.array())).alias("gram"),
    )


def bigram_lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Self-supervised bigram language-model quality proxy (the
    KenLM-perplexity filter of CCNet-style curation, with the corpus
    itself as the model): per document, the mean conditional
    log-probability  avg ln( c(w1,w2) / c(w1,·) )  over its bigrams,
    where both counts come from the whole corpus. Fluent
    (corpus-typical) word sequences score near 0, improbable ones go
    strongly negative.

    Plan shape: one bigram explode feeds BOTH count tables — c(w1,w2)
    by gram and c(w1,·) by first word — each a zipf-bounded DERIVED
    dimension (map-side partials absorb the head); the doc-side join is
    keyed on the gram/word strings and AQE broadcasts the dimensions
    while they fit. Scores are round6-quantized for the SQL twin (the
    ln drift argument of tfidf_top_terms applies)."""
    doc_grams = _doc_bigrams(docs, text_col)
    bi = doc_grams.groupBy("gram").agg(F.count("*").alias("cb"))
    uni = (
        doc_grams.select(F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("cw"))
    )
    scored = (
        doc_grams.join(bi, "gram")
        .withColumn("w1", F.split_part(F.col("gram"), F.lit(" "), F.lit(1)))
        .join(uni, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            round6(-F.avg(F.log(F.col("cb") / F.col("cw")))).alias("neg_avg_logp"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("neg_avg_logp", F.lit(0.0)).alias("neg_avg_logp"),
        )
    )


def kneser_ney_score(
    docs: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram cross-entropy per document — the
    smoothing upgrade of ``bigram_lm_score``. The raw MLE bigram model
    assigns zero (−∞ log) probability to any bigram it has seen only
    through the doc being scored and over-trusts frequent first words;
    KN is THE standard fix (the KenLM default) and what a production
    CCNet-style fluency filter actually runs:

        P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
                      + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    i.e. discount every observed bigram by D and redistribute the
    held-out mass to a CONTINUATION unigram (how many distinct
    contexts w2 follows — "san francisco" makes 'francisco' frequent
    but not versatile). Since the corpus is also the model, every
    bigram has c ≥ 1 and the score is finite, but the ranking now
    reflects versatility, not just frequency.

    Exactness: all five count tables (c(w1w2), c(w1·), follower/
    predecessor type counts N1+, total bigram types T) are BIGINT;
    D = 0.75 is exact binary, so P_KN is a fixed IEEE expression DAG
    over integers — bit-identical across engines. Each ln P is
    quantized to integer MICRO-NATS and summed as BIGINT (order-
    independent — the repo's JS-divergence device), so the per-doc
    mean is engine-exact.

    Scale shape: identical to ``bigram_lm_score`` — one bigram explode
    feeds a gram-type census (zipf-bounded derived dimension); the
    follower/predecessor/total tables all derive from that census (no
    second corpus pass); the doc-side join keys on the gram string and
    AQE broadcasts the census while it fits. No window, no sort."""
    doc_grams = _doc_bigrams(docs, text_col)
    # Materialize the gram-type census ONCE (the pmi_collocations
    # device): four consumers branch off it (followers, predecessors,
    # total, the model join) and exchange reuse does not unify them —
    # without this the corpus is exploded 4×; the materialized census is
    # zipf-bounded, not corpus-sized.
    bi = materialize(
        doc_grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("cb"))
        .withColumn("w1", F.split_part(F.col("gram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("gram"), F.lit(" "), F.lit(2)))
    )
    fol = bi.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("cw"),
        F.count("*").cast("long").alias("n1f"),
    )
    pre = bi.groupBy("w2").agg(F.count("*").cast("long").alias("n1p"))
    tot = bi.agg(F.count("*").cast("long").alias("t_types"))
    model = (
        bi.join(fol, "w1")
        .join(pre, "w2")
        .crossJoin(F.broadcast(tot))
    )
    d_lit = F.lit(float(discount))
    # The expression below is mirrored verbatim in the SQL twin.
    p = (
        F.greatest(F.col("cb").cast("double") - d_lit, F.lit(0.0))
        / F.col("cw").cast("double")
        + (d_lit * F.col("n1f").cast("double") / F.col("cw").cast("double"))
        * (F.col("n1p").cast("double") / F.col("t_types").cast("double"))
    )
    model = model.select(
        "gram",
        F.floor(F.log(p) * 1e6 + F.lit(0.5)).cast("long").alias("lp_micro"),
    )
    scored = (
        doc_grams.join(model, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("s_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            round6(
                -F.col("s_micro").cast("double")
                / (F.lit(1e6) * F.col("n_bigrams").cast("double"))
            ).alias("kn_xent"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("kn_xent", F.lit(0.0)).alias("kn_xent"),
        )
    )


# BPE-ish pretokenizer: letter runs, digit runs, single non-space
# symbols — the GPT-2 pretokenizer's shape minus the lookahead/unicode
# classes neither engine's regex treats identically. Applied to
# lowercased text so the alternation is engine-stable.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counting under a BPE-ish pretokenizer — the
    budget currency of every pretraining pipeline (words undercount
    code/punctuation-heavy text badly). Splits into letter runs, digit
    runs, and single symbols; reports the class mix so downstream
    mixtures can weight code vs prose. Pure Catalyst (one
    regexp_extract_all per row, no Python)."""
    toks = F.regexp_extract_all(
        F.trim(F.lower(F.col(text_col))), F.lit(TOKEN_RE), 0
    )
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    digit = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        alpha.cast("long").alias("n_alpha"),
        digit.cast("long").alias("n_digit"),
        (F.size(toks) - alpha - digit).cast("long").alias("n_symbol"),
    )


def quantile_normalize(
    docs: DataFrame,
    score_col: str,
    by_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile (rank) normalization of a score column:
    percent_rank within each ``by_col`` group, so scores from sources
    with different scales become comparable before cross-source
    selection (the fix for "source A's quality model is systematically
    optimistic"). One window per group partition — shuffles on the
    group key only; round6 for the cross-engine twin."""
    from pyspark.sql import Window

    w = Window.partitionBy(by_col).orderBy(F.asc(score_col), F.asc(id_col))
    return docs.select(
        id_col,
        by_col,
        score_col,
        round6(F.percent_rank().over(w)).alias("q_norm"),
    )


def ntile_agg_hist(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    n_tiles: int = 4,
) -> DataFrame:
    """ntile(n) aggregate counts/sums via the value-HISTOGRAM route —
    the 10^12-row plan for per-group quantile summaries.

    ``ntile(n) OVER (PARTITION BY g ORDER BY v, id)`` followed by
    ``GROUP BY g, q -> count(*), sum(v)`` depends ONLY on the sorted
    multiset of ``v`` per group: the id tie-break decides WHICH row
    lands in which tile, but interchangeable rows carry the same ``v``,
    so every aggregate is invariant to it.  That lets us replace the
    per-group corpus sort (one giant sort task for one giant source)
    with:

    1. one map-side-combinable hash-agg to the (g, v) histogram —
       the only corpus-scale shuffle, ≤ a few bytes per row;
    2. a cumulative count over the HISTOGRAM (window sort over the
       distinct-value domain, thousands of rows, not the corpus);
    3. exact ntile boundaries from n_tot (first ``n_tot mod n`` tiles
       get ``ceil(n_tot/n)`` rows, the rest ``floor``), intersected
       with each histogram row's rank interval
       ``(cum_before, cum_before + c]``.

    Returns (group_col, q, n_docs, total_chars) — bit-identical to the
    ntile form (pinned by test and by sharing its DuckDB oracle).
    """
    from pyspark.sql import Window

    hist = df.groupBy(group_col, value_col).agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # n_tot as an unbounded window over the same histogram partition:
    # one shuffle total, no second corpus scan, no join.
    w_all = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    hist = hist.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(w), F.lit(0))
    ).withColumn("n_tot", F.sum("c").over(w_all))
    q = F.explode(F.array(*[F.lit(i) for i in range(1, n_tiles + 1)])).alias("q")
    base = F.col("n_tot") - (F.col("n_tot") % n_tiles)  # n_tiles * floor
    hi = (F.col("q") * base / n_tiles).cast("long") + F.least(
        F.col("q"), F.col("n_tot") % n_tiles
    )
    lo = ((F.col("q") - 1) * base / n_tiles).cast("long") + F.least(
        F.col("q") - 1, F.col("n_tot") % n_tiles
    )
    overlap = F.greatest(
        F.lit(0).cast("long"),
        F.least(hi, F.col("cum_before") + F.col("c"))
        - F.greatest(lo, F.col("cum_before")),
    )
    return (
        hist.select(group_col, value_col, "c", "cum_before", "n_tot", q)
        .withColumn("overlap", overlap)
        .filter(F.col("overlap") > 0)
        .groupBy(group_col, "q")
        .agg(
            F.sum("overlap").alias("n_docs"),
            F.sum(F.col("overlap") * F.col(value_col).cast("long")).alias(
                "total_chars"
            ),
        )
        .orderBy(group_col, "q")
    )


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-distribution Shannon entropy (bits) — a
    classic compressibility/quality proxy: boilerplate, encoded blobs
    and keyboard-mash score far from prose's ~4.1 bits/char, so
    curation pipelines gate on it next to the Gopher rules.

    H = log2 n − (Σ c·ln c)/(n·ln 2) over per-char counts c. The
    explode looks expensive but isn't: chars shuffle only after the
    map-side partial agg collapses them to ≤|alphabet| rows per doc,
    so the exchange is ~doc_count × alphabet, not corpus characters.
    round6 on the single final expression (ln-parity discipline of the
    tfidf/bigram-LM oracles)."""
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), "")).alias("ch")
    )
    per_char = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    agg = per_char.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("s"),
    )
    ln2 = F.log(F.lit(2.0))
    ent = (F.log(F.col("n")) - F.col("s") / F.col("n")) / ln2
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        round6(ent).alias("entropy_bits"),
    )


def url_domains(
    docs: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """Top URL domains mentioned in the corpus — the first step of
    every web-pipeline domain-mix report (domain allow/deny lists,
    per-domain sampling rates). One regexp_extract_all projection
    (row-local), then a single hash-agg on the exploded domains."""
    doms = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"https?://([a-z0-9.-]+)"), 1
            )
        ).alias("domain"),
    )
    return (
        doms.groupBy("domain")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_mentions"), F.asc("domain"))
        .limit(top_k)
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    by_col: str,
    lo_tenths: int = 1,
    hi_tenths: int = 9,
) -> DataFrame:
    """Winsorized (clamped-tail) robust mean per group: order
    statistics at the lo/hi deciles, values clamped into [lo, hi],
    then an exact integer sum — the outlier-immune alternative to the
    plain mean for skewed length/latency columns.

    The decile boundaries are ORDER STATISTICS picked by integer rank
    arithmetic (``rank = (tenths·n + 9) div 10`` — no float ceil, so
    the boundary is engine-exact even at ranks where IEEE
    ``0.1 · n`` rounds surprisingly). Two keyed shuffles: the
    row_number window and the group agg; boundaries rejoin on the
    group key (dimension-sized, broadcast)."""
    from pyspark.sql import Window

    ranked = df.select(
        by_col, F.col(value_col).cast("long").alias("_v")
    ).withColumn("_r", F.row_number().over(Window.partitionBy(by_col).orderBy("_v")))
    n_per = ranked.groupBy(by_col).agg(F.count("*").alias("n_rows"))
    ranked2 = ranked.join(F.broadcast(n_per), by_col).withColumn(
        "_rlo", F.expr(f"({lo_tenths} * n_rows + 9) div 10")
    ).withColumn("_rhi", F.expr(f"({hi_tenths} * n_rows + 9) div 10"))
    bounds = ranked2.groupBy(by_col).agg(
        F.max(F.when(F.col("_r") == F.col("_rlo"), F.col("_v"))).alias("lo_val"),
        F.max(F.when(F.col("_r") == F.col("_rhi"), F.col("_v"))).alias("hi_val"),
    )
    clamped = ranked.join(F.broadcast(bounds), by_col).select(
        by_col,
        F.least(F.greatest(F.col("_v"), F.col("lo_val")), F.col("hi_val")).alias(
            "_c"
        ),
        "lo_val",
        "hi_val",
    )
    return (
        clamped.groupBy(by_col)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.max("lo_val").cast("long").alias("lo_val"),
            F.max("hi_val").cast("long").alias("hi_val"),
            F.sum("_c").cast("long").alias("winsorized_sum"),
        )
        .withColumn(
            "winsorized_mean",
            F.floor(
                F.col("winsorized_sum") / F.col("n_rows") * 1000000.0 + F.lit(0.5)
            )
            / 1000000.0,
        )
    )


def token_pmi_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 30,
) -> DataFrame:
    """Top adjacent-token pairs by pointwise mutual information —
    the classic collocation / multi-word-expression miner run before
    choosing tokenizer merges or phrase-aware dedup keys.

    PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with P(a,b) over adjacent
    bigrams (N total) and P(x) over unigrams (T total). Scale shape:
    two corpus-wide hash-aggs (bigram counts, unigram counts) with
    map-side partials, then two vocab-sized joins — no window over the
    corpus, no Python. The two scalar totals ride in via single-row
    cross joins (broadcast nested loop of one row). The ln argument is
    assembled in ONE fixed expression shape mirrored by the SQL twin
    so both engines round identically; round6 quantizes the result
    (ln-parity discipline of the tfidf/bigram-LM oracles)."""
    ws = _words(F.col(text_col))
    pairs = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat(
                F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("c_ab"))
    )
    uni = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot_u = uni.agg(F.sum("c").alias("t_uni"))
    tot_b = big.agg(F.sum("c_ab").alias("n_big"))
    j = (
        big.filter(F.col("c_ab") >= min_count)
        .withColumn("w_a", F.split(F.col("pair"), " ")[0])
        .withColumn("w_b", F.split(F.col("pair"), " ")[1])
        .join(uni.withColumnRenamed("w", "w_a").withColumnRenamed("c", "c_a"), "w_a")
        .join(uni.withColumnRenamed("w", "w_b").withColumnRenamed("c", "c_b"), "w_b")
        .crossJoin(tot_u)
        .crossJoin(tot_b)
    )
    pmi = F.log(
        (F.col("c_ab").cast("double") * F.col("t_uni") * F.col("t_uni"))
        / (F.col("c_a").cast("double") * F.col("c_b") * F.col("n_big"))
    )
    return (
        j.select(
            "pair",
            F.col("c_ab").cast("long").alias("n_pair"),
            F.col("c_a").cast("long").alias("n_left"),
            F.col("c_b").cast("long").alias("n_right"),
            round6(pmi).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("pair"))
        .limit(top_k)
    )


def tokenizer_fertility(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source tokenizer fertility: BPE-ish pre-tokens per
    whitespace word and chars per token — the go/no-go metric when
    budgeting a fixed-token training run across sources (code-heavy
    sources tokenize fat; a 1.3× fertility gap is a 1.3× cost gap).
    Pure Catalyst: one regexp_extract_all + one hash-agg on source.
    Ratios are exact-integer divisions quantized with round6."""
    toks = F.regexp_extract_all(
        F.trim(F.lower(F.col(text_col))), F.lit(TOKEN_RE), 0
    )
    per = docs.select(
        "source",
        F.size(toks).cast("long").alias("_t"),
        F.size(_words(F.col(text_col))).cast("long").alias("_w"),
        F.length(F.trim(F.col(text_col))).cast("long").alias("_c"),
    )
    agg = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_t").alias("n_tokens"),
        F.sum("_w").alias("n_words"),
        F.sum("_c").alias("n_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_words",
        "n_chars",
        round6(F.col("n_tokens") / F.col("n_words")).alias("tokens_per_word"),
        round6(F.col("n_chars") / F.col("n_tokens")).alias("chars_per_token"),
    )


# Token separator for the BPE symbol-string representation: every token
# is wrapped as SEP+tok+SEP, so a pair (a,b) occurs exactly where the
# substring SEP+a+SEP+SEP+b+SEP does, and a left-to-right replace-all is
# exactly BPE's greedy left-to-right merge (overlapping runs like
# "a a a" merge to "(aa) a", never "a (aa)"). 0x1f (unit separator)
# cannot appear in whitespace-split words.
BPE_SEP = "\x1f"


def bpe_learn_merges(
    docs: DataFrame, n_merges: int = 3, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Distributed BPE merge learning — the first ``n_merges`` merge
    rules a byte-pair-encoding tokenizer would learn from this corpus,
    with corpus-weighted pair counts.

    Scale shape: the corpus collapses ONCE to the distinct-word table
    (vocab-sized, with counts) — the same reduction every practical BPE
    trainer (GPT-2, SentencePiece) applies, because pair statistics are
    word-local. Each round is then: one explode + hash-agg over the
    vocab for pair counts, a 1-row argmax collect (count desc, pair asc
    — the deterministic tie-break mirrored in SQL), and a literal
    string replace to apply the merge. No corpus-sized shuffle after
    the initial word count; the evolving symbol strings never leave
    their partitions.

    Returns (merges_df, vocab_df): the learned rules (step, left,
    right, merged, pair_count) and the final symbolized vocabulary."""
    S = BPE_SEP
    wc = (
        docs.select(F.explode(_words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    sym0 = F.concat(
        F.lit(S),
        F.array_join(F.split(F.col("word"), ""), S + S),
        F.lit(S),
    )
    # every merge step's top-pair job re-reads the word table: explode
    # the corpus once
    state = materialize(wc.select("word", "n", sym0.alias("sym")))
    spark = docs.sparkSession
    merges = []
    for step in range(1, n_merges + 1):
        toks = F.split(
            F.substring(F.col("sym"), 2, F.length("sym") - 2), S + S
        )
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        top = (
            state.select(F.explode(pairs).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0].pair, top[0].cnt
        a, b = pair.split(" ")
        merges.append((step, a, b, a + b, cnt))
        state = state.withColumn(
            "sym",
            F.replace(
                F.col("sym"), F.lit(S + a + S + S + b + S), F.lit(S + a + b + S)
            ),
        )
    merges_df = spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count long"
    )
    return merges_df, state


def vocab_coverage(
    docs: DataFrame,
    ks: tuple[int, ...] = (100, 1000, 10000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: the fraction of all corpus tokens
    covered by the top-k most frequent words, at each k — the number
    that decides a tokenizer's vocab size (and whether byte-fallback
    will be hot). One corpus explode→hash-agg to the vocab, ONE
    ranking window over the VOCAB table (dimension-sized, like
    word_rarity — never the corpus), then one conditional agg; all
    integer until the final quantized division."""
    from pyspark.sql import Window

    uni = (
        docs.select(F.explode(_words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ranked = uni.select(
        "c", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w"))).alias("r")
    )
    one = ranked.agg(
        F.sum("c").cast("long").alias("_tot"),
        F.count("*").cast("long").alias("_n"),
        *[
            F.sum(F.when(F.col("r") <= k, F.col("c")).otherwise(0))
            .cast("long")
            .alias(f"_cov{k}")
            for k in ks
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"), F.col(f"_cov{k}").alias("cov")
            )
            for k in ks
        ]
    )
    ex = one.select("_tot", "_n", F.explode(rows).alias("kv"))
    return ex.select(
        F.col("kv.k").alias("k"),
        F.least(F.col("kv.k"), F.col("_n")).cast("long").alias("vocab_size"),
        F.col("kv.cov").alias("covered_tokens"),
        round6(F.col("kv.cov").cast("double") / F.col("_tot")).alias(
            "coverage_frac"
        ),
    ).orderBy("k")


def oov_rate(
    docs: DataFrame,
    vocab_k: int = 1000,
    train_frac: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary rate of a frozen top-k train vocabulary on
    the held-out split — the eval-side twin of vocab_coverage (a vocab
    chosen on train must be judged on test). Split is the repo's
    hash-stable train_test_split; the vocab is a top-k cut under the
    strict (count desc, word asc) total order, so the selection is
    deterministic at every scale. The vocab is a true k-row dimension
    — broadcast by construction; test tokens never shuffle."""
    split = train_test_split(docs, train_frac)
    tagged = docs.join(split, "doc_id").select(
        F.explode(_words(F.col(text_col))).alias("w"), "split"
    )
    vocab = (
        tagged.filter(F.col("split") == "train")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(vocab_k)
        .select("w", F.lit(1).alias("_v"))
    )
    vs = vocab.agg(F.count("*").cast("long").alias("vocab_size"))
    test = tagged.filter(F.col("split") == "test")
    agg = test.join(F.broadcast(vocab), "w", "left").agg(
        F.count("*").cast("long").alias("n_test_tokens"),
        F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    return agg.crossJoin(vs).select(
        "vocab_size",
        "n_test_tokens",
        "n_oov",
        round6(F.col("n_oov").cast("double") / F.col("n_test_tokens")).alias(
            "oov_rate"
        ),
    )


def bpe_apply_stats(
    docs: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> DataFrame:
    """Learn ``n_merges`` BPE rules on the WHOLE corpus, apply them,
    and report per-source compression — chars per token and tokens per
    word before/after — the acceptance readout for a tokenizer change
    (a merge table that compresses source A 1.3× and source B 1.0×
    shifts the token budget between them).

    The apply side never touches the corpus text: per-(source, word)
    counts join the already-symbolized global vocabulary (word-keyed,
    vocab-sized) and every stat is a weighted integer sum. round6 only
    on the two final ratios."""
    from stash_log_parser_spark.operators.textstats import bpe_learn_merges

    _, vocab = bpe_learn_merges(docs, n_merges=n_merges, text_col=text_col)
    S = BPE_SEP
    sw = (
        docs.select(
            "source", F.explode(_words(F.col(text_col))).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    n_after = F.size(
        F.split(F.substring(F.col("sym"), 2, F.length("sym") - 2), S + S)
    )
    j = sw.join(vocab.select("word", "sym"), "word").select(
        "source",
        "n",
        F.length("word").cast("long").alias("_chars"),
        n_after.cast("long").alias("_after"),
    )
    agg = j.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_words"),
        F.sum(F.col("n") * F.col("_chars")).cast("long").alias("n_chars"),
        F.sum(F.col("n") * F.col("_after")).cast("long").alias("n_tokens"),
    )
    return agg.select(
        "source",
        "n_words",
        "n_chars",
        "n_tokens",
        round6(F.col("n_chars").cast("double") / F.col("n_tokens")).alias(
            "chars_per_token"
        ),
        round6(F.col("n_tokens").cast("double") / F.col("n_words")).alias(
            "tokens_per_word"
        ),
    ).orderBy("source")


def bm25_topk(
    docs: DataFrame,
    n_queries: int = 3,
    q_terms: int = 8,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Sparse lexical retrieval: Okapi BM25 top-``k`` "more-like-this"
    over the corpus, with the first ``n_queries`` documents (by doc_id)
    as queries and each query's first ``q_terms`` distinct words as its
    term set. The standard keyword leg of a hybrid RAG retriever (the
    dense leg is similarity.cosine_topk; similarity.rrf_fusion fuses
    ranked lists).

    score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — the Lucene-style
    non-negative variant.

    Scale shape: ONE corpus pass builds the posting relation (explode →
    (doc_id, w) hash-agg with map-side partials); doc lengths fall out
    of the same relation. The query-term set is ≤ n_queries·q_terms
    rows — a broadcast — so scoring is `postings ⋈ bcast(query_terms)`:
    Catalyst turns the corpus-sized side into a broadcast-hash probe
    with NO shuffle of the postings beyond the tf agg itself. df joins
    against the ≤24-term set (not the full vocabulary) and N/avgdl fold
    in as a crossed 1-row relation, never a driver collect. Per-term
    scores and the final sum are round6-quantized (sums of 1e-6
    multiples re-quantize identically on both engines), ties break on
    doc_id, and k1+1 / 1−b are computed as IEEE ops on BOTH engines
    rather than Python-folded constants."""
    from pyspark.sql import Window

    words = docs.select(
        "doc_id", F.posexplode(_words(F.col(text_col))).alias("pos", "w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    qids = (
        docs.orderBy("doc_id")
        .limit(n_queries)
        .select(F.col("doc_id").alias("query_id"))
    )
    w_first = Window.partitionBy("query_id").orderBy(F.asc("fpos"), F.asc("w"))
    qterms = (
        words.join(
            F.broadcast(qids), words["doc_id"] == qids["query_id"]
        )
        .groupBy("query_id", "w")
        .agg(F.min("pos").alias("fpos"))
        .withColumn("_qr", F.row_number().over(w_first))
        .filter(F.col("_qr") <= q_terms)
        .select("query_id", "w")
    )
    dft = tf.groupBy("w").agg(F.count("*").alias("df"))
    qdf = qterms.join(dft, "w")
    k1_c = F.lit(k1)
    one = F.lit(1.0)
    b_c = F.lit(b)
    hits = (
        tf.join(F.broadcast(qdf), "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        one
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("n") * (k1_c + one)) / (
        F.col("n")
        + k1_c * (one - b_c + b_c * F.col("dl") / F.col("avgdl"))
    )
    term_score = round6(idf * tf_part)
    scored = hits.groupBy("query_id", "doc_id").agg(
        round6(F.sum(term_score)).alias("score"),
        F.count("*").cast("long").alias("n_terms"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "score", "n_terms")
        .orderBy("query_id", "rank")
    )


def retrieval_ndcg(
    docs: DataFrame,
    n_queries: int = 3,
    q_terms: int = 8,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """nDCG@k of the BM25 ranking against graded term-overlap
    relevance — the retrieval-quality eval that closes the loop on
    bm25_topk (a retriever without a ranking metric is a liability; RAG
    pipelines ship nDCG dashboards, not vibes). Relevance of doc d for
    query q is graded by coverage of q's term set:
    rel = min(3, |terms(q) ∩ words(d)|), the standard 4-level scale.

        DCG@k  = Σ_{r=1..k} (2^rel(d_r) − 1) / log2(r + 1)
        IDCG@k = the same sum under the ideal (rel-sorted) ordering
        nDCG   = DCG / IDCG

    The trick worth stealing: IDCG needs the ideal ORDER of a
    corpus-sized candidate set, but rel has only 4 levels, so the ideal
    prefix follows from the per-level COUNTS (n₃, n₂, n₁) — a tiny agg,
    no global sort, position r's ideal rel is a closed-form CASE over
    cumulative counts.

    Exactness: gains are exact small ints, each discounted term is
    quantized to integer MICRO units and summed as BIGINT, and nDCG is
    one round6-quantized BIGINT ratio — engine-exact modulo the
    accepted 1-ulp log2 class.

    Scale shape: the rel table is `distinct(doc,word) ⋈ bcast(≤24
    query terms)` — the corpus side never shuffles beyond its distinct;
    DCG joins the k·n_queries ranked rows against it; IDCG explodes 5
    positions per query over the counts frame. The BM25 ranking itself
    is bm25_topk's plan (a production run would share the words scan;
    at eval cardinality the second scan is noise)."""
    from pyspark.sql import Window

    ranking = bm25_topk(
        docs, n_queries=n_queries, q_terms=q_terms, k=k, text_col=text_col
    ).select("query_id", "doc_id", "rank")
    words = docs.select(
        "doc_id", F.posexplode(_words(F.col(text_col))).alias("pos", "w")
    )
    qids = (
        docs.orderBy("doc_id")
        .limit(n_queries)
        .select(F.col("doc_id").alias("query_id"))
    )
    w_first = Window.partitionBy("query_id").orderBy(F.asc("fpos"), F.asc("w"))
    qterms = (
        words.join(F.broadcast(qids), words["doc_id"] == qids["query_id"])
        .groupBy("query_id", "w")
        .agg(F.min("pos").alias("fpos"))
        .withColumn("_qr", F.row_number().over(w_first))
        .filter(F.col("_qr") <= q_terms)
        .select("query_id", "w")
    )
    ov = (
        words.select("doc_id", "w")
        .distinct()
        .join(F.broadcast(qterms), "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.least(F.lit(3), F.count("*")).cast("int").alias("rel"))
    )

    def _term_micro(rel: Column, pos: Column) -> Column:
        return F.floor(
            (F.pow(F.lit(2.0), rel) - F.lit(1.0))
            / F.log2(pos + F.lit(1))
            * 1e6
            + F.lit(0.5)
        ).cast("long")

    dcg = (
        ranking.join(ov, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            _term_micro(
                F.coalesce(F.col("rel"), F.lit(0)), F.col("rank")
            ).alias("tm"),
        )
        .groupBy("query_id")
        .agg(F.sum("tm").cast("long").alias("dcg_micro"))
    )
    lvl = ov.groupBy("query_id").agg(
        F.sum((F.col("rel") == 3).cast("long")).cast("long").alias("n3"),
        F.sum((F.col("rel") == 2).cast("long")).cast("long").alias("n2"),
        F.sum((F.col("rel") == 1).cast("long")).cast("long").alias("n1"),
    )
    p = F.col("p")
    rel_p = (
        F.when(p <= F.col("n3"), F.lit(3))
        .when(p <= F.col("n3") + F.col("n2"), F.lit(2))
        .when(p <= F.col("n3") + F.col("n2") + F.col("n1"), F.lit(1))
        .otherwise(F.lit(0))
    )
    idcg = (
        lvl.select(
            "query_id", F.explode(F.sequence(F.lit(1), F.lit(k))).alias("p"),
            "n3", "n2", "n1",
        )
        .select("query_id", _term_micro(rel_p, p).alias("tm"))
        .groupBy("query_id")
        .agg(F.sum("tm").cast("long").alias("idcg_micro"))
    )
    dm = F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("long")
    im = F.coalesce(F.col("idcg_micro"), F.lit(0)).cast("long")
    return (
        qids.join(dcg, "query_id", "left")
        .join(idcg, "query_id", "left")
        .select(
            "query_id",
            (dm.cast("double") / F.lit(1e6)).alias("dcg"),
            (im.cast("double") / F.lit(1e6)).alias("idcg"),
            F.when(
                im > 0, round6(dm.cast("double") / im.cast("double"))
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
        )
        .orderBy("query_id")
    )


def readability_by_source(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Flesch reading-ease readability per corpus source — the classic
    quality-stratification signal for training-data curation (pair it
    with gopher_quality's structural gates):

        206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    with the standard cheap proxies: words = letter runs, sentences =
    ``[.!?]+`` runs (min 1 per doc so fragments don't divide by zero),
    syllables = vowel-group runs (``[aeiouyAEIOUY]+``) — all plain
    character-class regex counts that Java regex and RE2 agree on
    exactly.

    Everything aggregates as EXACT integers per source; the score is
    computed once per source from those integers with a fixed
    expression order, so both engines perform the identical handful of
    IEEE ops before round6. Pure Catalyst (regexp_count), one hash
    aggregate — no shuffle beyond |sources| partial rows."""
    col = F.col(text_col)
    per_doc = docs.select(
        F.col(source_col).alias("source"),
        F.regexp_count(col, F.lit("[A-Za-z]+")).cast("long").alias("w"),
        F.greatest(
            F.regexp_count(col, F.lit("[.!?]+")).cast("long"), F.lit(1)
        ).alias("s"),
        F.regexp_count(col, F.lit("[aeiouyAEIOUY]+")).cast("long").alias(
            "y"
        ),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("tot_words"),
        F.sum("s").cast("long").alias("tot_sentences"),
        F.sum("y").cast("long").alias("tot_syllables"),
    )
    wps = F.col("tot_words") / F.col("tot_sentences")
    spw = F.col("tot_syllables") / F.col("tot_words")
    return agg.select(
        "source",
        "n_docs",
        "tot_words",
        "tot_sentences",
        "tot_syllables",
        round6(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw)
        .alias("flesch"),
        round6(wps).alias("words_per_sentence"),
        round6(spw).alias("syllables_per_word"),
    ).orderBy("source")


def ppl_buckets(
    docs: DataFrame, n_buckets: int = 3, source_col: str = "source"
) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every document within its
    source by the bigram-LM fluency proxy (:func:`bigram_lm_score`) and
    cut each source into ``n_buckets`` equal-frequency tiers — head
    (most fluent), middle, tail. CCNet keeps head+middle and drops or
    down-weights tail; this emits the per-(source, tier) census that
    decision reads: doc count, total bigrams, and the tier's score
    range.

    Determinism: the tier cut orders by the ROUND6-quantized score
    (ties by doc_id) — ordering by the raw ln() average would let a
    last-ulp engine difference flip the rank of two near-equal docs
    across a tier boundary. Bucket stats are exact integers plus
    min/max order statistics of already-quantized scores — no
    re-aggregation of rounded floats. Zero-bigram docs score 0.0 and
    land in the head tier by convention (they carry no LM evidence).

    Scale: rides bigram_lm_score's plan (one explode, two zipf-bounded
    count dims), then ONE source-keyed window (ntile) over doc-level
    rows — the window input is |docs| narrow rows, not tokens."""
    from pyspark.sql import Window

    scored = bigram_lm_score(docs).join(
        docs.select("doc_id", source_col), "doc_id"
    )
    w = Window.partitionBy(source_col).orderBy(
        F.asc("neg_avg_logp"), F.asc("doc_id")
    )
    tiered = scored.withColumn("tier_n", F.ntile(n_buckets).over(w))
    tier = (
        F.when(F.col("tier_n") == 1, F.lit("head"))
        .when(F.col("tier_n") == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return (
        tiered.groupBy(F.col(source_col).alias("source"), tier.alias("tier"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.min("neg_avg_logp").alias("min_score"),
            F.max("neg_avg_logp").alias("max_score"),
        )
        .orderBy("source", "min_score")
    )


def pair_bleu(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BLEU-2 verify stage over candidate pairs: modified (clipped)
    unigram and bigram precision of doc_b against doc_a — the
    machine-translation metric doubling as a near-dup / paraphrase
    verifier (edit distance sees character moves; clipped n-gram
    precision sees vocabulary overlap regardless of order).

    Exactness: clipped counts are pure integers (Σ over the candidate's
    distinct grams of min(count_cand, count_ref)); each precision is
    ONE int/int division round6'd; bleu2 = sqrt(p1·p2) on the two
    already-quantized values — one IEEE multiply + one correctly-
    rounded sqrt, identical on both engines. The standard exp-based
    brevity penalty is deliberately reported as the raw length RATIO
    instead (exp is not correctly-rounded portable libm).

    Scale: pairs arrive LSH-bucketed and Jaccard-verified (same
    contract as pair_edit_distance), so the per-pair HOF evaluation is
    a constant-cost polish pass — never a corpus scan."""
    wcol = F.col("_w")
    t = docs.select(
        F.col(id_col), _words(F.col(text_col)).alias("_w")
    ).select(
        id_col,
        "_w",
        F.when(
            F.size(wcol) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(wcol) - 2),
                lambda i: F.concat_ws(" ", F.get(wcol, i), F.get(wcol, i + 1)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_g"),
    )
    j = (
        pairs.select("doc_a", "doc_b")
        .join(
            t.select(
                F.col(id_col).alias("doc_a"),
                F.col("_w").alias("_wa"),
                F.col("_g").alias("_ga"),
            ),
            "doc_a",
        )
        .join(
            t.select(
                F.col(id_col).alias("doc_b"),
                F.col("_w").alias("_wb"),
                F.col("_g").alias("_gb"),
            ),
            "doc_b",
        )
    )

    def clipped(cand, ref):
        return F.aggregate(
            F.array_distinct(cand),
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + F.least(
                F.size(F.filter(cand, lambda x: x == g)),
                F.size(F.filter(ref, lambda x: x == g)),
            ).cast("long"),
        )

    p1 = clipped(F.col("_wb"), F.col("_wa")) / F.greatest(
        F.size("_wb"), F.lit(1)
    )
    p2 = clipped(F.col("_gb"), F.col("_ga")) / F.greatest(
        F.size("_gb"), F.lit(1)
    )
    out = j.select(
        "doc_a",
        "doc_b",
        F.size("_wb").cast("long").alias("n_cand_words"),
        round6(p1).alias("p1"),
        round6(p2).alias("p2"),
        round6(
            F.size("_wb") / F.greatest(F.size("_wa"), F.lit(1))
        ).alias("brevity_ratio"),
    )
    return out.withColumn(
        "bleu2", round6(F.sqrt(F.col("p1") * F.col("p2")))
    ).orderBy("doc_a", "doc_b")


def zipf_fit(docs: DataFrame, top_k: int = 200, text_col: str = "text") -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: OLS slope/intercept of
    ln(freq) on ln(rank) for the ``top_k`` most frequent words — the
    one-number "is this corpus natural language or template soup"
    diagnostic (natural text slopes ≈ −1; boilerplate floods flatten
    the head, OCR noise steepens the tail).

    Exactness: each (ln rank, ln freq) point is quantized to integer
    1e-4 units FIRST, the OLS moment sums run in int64 (1e-4 units keep
    nΣxy far under 2^63 at top_k ≤ 10^4), and the closed-form slope/
    intercept is a fixed handful of IEEE ops on those exact integers —
    the CUPED discipline, so the oracle matches bit-for-bit even
    though float SUM order is engine-dependent.

    Scale shape: corpus→vocab collapse is the only corpus-scale
    shuffle (word-keyed hash-agg with map-side partials); ranking
    happens on the vocab table (the documented vocab-sized window of
    word_rarity), and the fit is a 1-row aggregate of top_k rows."""
    from pyspark.sql import Window

    w = docs.select(F.explode(_words(F.col(text_col))).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = w.groupBy("w").agg(F.count("*").cast("long").alias("freq"))
    rk = F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("w")))
    top = vocab.withColumn("rank", rk).filter(F.col("rank") <= top_k)
    # 1e4 units (not 1e6): the OLS moment products n·Σxy must stay in
    # int64 — at 1e6 units a 200-point fit already crosses 2^63.
    x = F.floor(F.log(F.col("rank").cast("double")) * 10_000 + F.lit(0.5)).cast(
        "long"
    )
    y = F.floor(F.log(F.col("freq").cast("double")) * 10_000 + F.lit(0.5)).cast(
        "long"
    )
    pts = top.select(x.alias("x"), y.alias("y"))
    m = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # closed form on exact ints; one fixed division chain in double.
    # x,y are 1e6-scaled, so slope is scale-free and intercept carries
    # a 1e6 factor we divide back out.
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double") / F.lit(10_000.0)
    return m.select(
        F.col("n").alias("n_words"),
        round6(slope).alias("zipf_slope"),
        round6(intercept).alias("zipf_intercept"),
    )


def quality_calibration(docs: DataFrame, text_col: str = "text", n_bins: int = 10) -> DataFrame:
    """Reliability diagram for a quality CLASSIFIER over the corpus —
    the readout that tells you whether a filter's scores can be
    thresholded ("0.9 means 90%") before you gate 100 TB of training
    data on them.  Predicted probability is the document's alphabetic
    ratio a/n (a real text feature, exact rational); the binary label
    is a deterministic Bernoulli(a/n) draw via the 24-bit md5 device
    (u24·n < a·2^24, pure integer compare), so a calibrated curve is
    the expected outcome and per-bin gaps measure estimator noise.

    Exactness: bin = min(n_bins-1, a·n_bins DIV n) and
    p_e6 = a·1e6 DIV n are BIGINT integer divisions (the `DIV` ↔ `//`
    device — double floor(a*1e6/n) can round across the boundary);
    per-bin sums are integers; mean_pred / frac_pos / gap are a fixed
    handful of IEEE ops from those integers, round6-quantized.

    Scale shape: one projection + one ~n_bins-row hash agg — no joins,
    no windows, text never shuffled."""
    a = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", "")).cast("long")
    d = docs.filter(F.col("n_chars") > 0).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        a.alias("a"),
        F.col("n_chars").cast("long").alias("n"),
    )
    u24 = F.conv(F.substring(F.md5("doc_id"), 1, 6), 16, 10).cast("long")
    f = d.select(
        F.least(F.lit(n_bins - 1), F.expr(f"a * {n_bins} DIV n")).cast("int").alias("bin"),
        F.expr("a * 1000000 DIV n").alias("p_e6"),
        (u24 * F.col("n") < F.col("a") * F.lit(16777216)).cast("long").alias("label"),
    )
    agg = f.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("label").cast("long").alias("n_pos"),
        F.sum("p_e6").cast("long").alias("s_p_e6"),
    )
    mean_pred = F.col("s_p_e6").cast("double") / (F.col("n_docs") * F.lit(1000000.0))
    frac_pos = F.col("n_pos").cast("double") / F.col("n_docs")
    return agg.select(
        "bin",
        "n_docs",
        "n_pos",
        round6(mean_pred).alias("mean_pred"),
        round6(frac_pos).alias("frac_pos"),
        round6(F.abs(frac_pos - mean_pred)).alias("gap"),
    ).orderBy("bin")


def label_agreement(
    docs: DataFrame,
    text_col: str = "text",
    len_threshold: int = 500,
) -> DataFrame:
    """Cohen's kappa between two independent DETERMINISTIC raters of
    document quality — the inter-annotator-agreement readout a labeling
    pipeline publishes before anyone trains on the labels.  Rater 1
    passes docs with n_chars >= len_threshold (a length rule); rater 2
    passes docs whose text is majority-alphabetic (2a >= n) — two
    genuinely different signals, so kappa lands strictly between
    chance and perfect agreement on any real corpus.

    kappa = (p_o - p_e)/(1 - p_e) with p_o, p_e formed from the four
    exact confusion counts (marginal products stay < 2^53); each is a
    single mirrored IEEE division, round6-quantized; kappa is NULL when
    p_e = 1 (a degenerate single-cell confusion — mirrored CASE, never
    a divide-by-zero).

    Scale shape: one projection into four conditional sums — a 1-row
    hash agg, no shuffle wider than the 4 counters."""
    a = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", "")).cast("long")
    d = docs.filter(F.col("n_chars") > 0).select(
        (F.col("n_chars") >= len_threshold).cast("int").alias("r1"),
        (a * 2 >= F.col("n_chars").cast("long")).cast("int").alias("r2"),
    )
    agg = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(((F.col("r1") == 1) & (F.col("r2") == 1)).cast("long")).cast("long").alias("n11"),
        F.sum(((F.col("r1") == 1) & (F.col("r2") == 0)).cast("long")).cast("long").alias("n10"),
        F.sum(((F.col("r1") == 0) & (F.col("r2") == 1)).cast("long")).cast("long").alias("n01"),
        F.sum(((F.col("r1") == 0) & (F.col("r2") == 0)).cast("long")).cast("long").alias("n00"),
    )
    n = F.col("n_docs")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ).cast("double") / (n * n)
    return agg.select(
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        round6(po).alias("p_observed"),
        round6(pe).alias("p_expected"),
        F.when(pe < 1.0, round6((po - pe) / (F.lit(1.0) - pe))).alias("kappa"),
    )


# Curation topic lexicon: small, broadcast-sized by construction.  The
# reference pipeline's analyses classify rows against fixed vocabularies
# (git-op verbs, protocol names — SURVEY §3.3 ~`Analysis.hs` hints); this
# is the corpus-side analog a training pipeline uses for domain tagging.
TOPIC_LEXICON: dict[str, list[str]] = {
    "exec": ["scan", "filter", "sort", "hash", "merge"],
    "layout": ["table", "column", "row", "part", "batch"],
    "stream": ["stream", "window", "watermark", "line"],
    "scale": ["fast", "slow", "big", "small"],
}


def topic_tags(
    docs: DataFrame,
    lexicon: dict[str, list[str]] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Dictionary-based topic tagging rolled up per (source, topic).

    The scale-critical choice is that the lexicon is a plan-time
    CONSTANT, not a joined table: each topic's per-doc hit count is
    ``size(filter(split(text), w -> w IN terms))`` — one scan-local
    projection per topic, entirely inside whole-stage codegen, with no
    explode and no word-level shuffle.  (The explode→join formulation
    shuffles one row per word — at 10^12 docs × ~10^3 words that is a
    10^15-row exchange for a lookup whose right side fits in a closure.)
    The only exchange is the |sources|×|topics| rollup.

    Per (source, topic): ``n_docs`` (docs with >=1 hit), ``hits``
    (total term occurrences), ``hit_rate`` = n_docs/n_docs_in_source
    (round6).  Multi-topic terms count toward every topic that lists
    them; the word split is the module-wide ``_words`` (lowercase,
    whitespace)."""
    lex = lexicon if lexicon is not None else TOPIC_LEXICON
    words = _words(F.col(text_col))
    per_topic_hits = {
        t: F.size(F.filter(words, lambda w: w.isin(*terms)))
        .cast("long")
        .alias(f"h_{t}")
        for t, terms in lex.items()
    }
    per_doc = docs.select(F.col("source"), *per_topic_hits.values())
    rolled = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_src_docs"),
        *[
            x
            for t in lex
            for x in (
                F.sum(F.col(f"h_{t}")).cast("long").alias(f"hits_{t}"),
                F.sum((F.col(f"h_{t}") > 0).cast("long"))
                .cast("long")
                .alias(f"nd_{t}"),
            )
        ],
    )
    # unpivot the per-topic columns into (source, topic) rows
    stacked = rolled.select(
        "source",
        "n_src_docs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("topic"),
                        F.col(f"nd_{t}").alias("n_docs"),
                        F.col(f"hits_{t}").alias("hits"),
                    )
                    for t in lex
                ]
            )
        ).alias("kv"),
    )
    return stacked.select(
        "source",
        F.col("kv.topic").alias("topic"),
        F.col("kv.n_docs").alias("n_docs"),
        F.col("kv.hits").alias("hits"),
        round6(F.col("kv.n_docs").cast("double") / F.col("n_src_docs")).alias(
            "hit_rate"
        ),
    ).orderBy("source", "topic")


def _cramer3(n, s1, s2, sy, s11, s12, s22, s1y, s2y, syy):
    """Cramer solve of the 3×3 normal equations (intercept + two
    features) from DOUBLE-cast exact integer moments, plus SSE/SST.
    Fixed association, mirrored verbatim in every SQL twin that fits a
    probe. Returns (w0, w1, w2, sse, sst) Column expressions."""
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    w0, w1, w2 = det0 / det, det1 / det, det2 / det
    sse = syy - (w0 * sy + w1 * s1y + w2 * s2y)
    sst = syy - sy * sy / n
    return w0, w1, w2, sse, sst


_PROBE_MOMENTS = ("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y",
                  "s2y", "syy")


def _probe_features(docs: DataFrame, text_col: str, *extra) -> DataFrame:
    """The linear-probe feature projection shared by token_linear_probe
    and loo_probe_influence: x1 = n_chars, x2 = alphabetic chars,
    y = whitespace tokens, over non-empty docs."""
    t = F.trim(F.col(text_col))
    return docs.filter(
        (F.col("n_chars") > 0) & (F.length(t) > 0)
    ).select(
        *extra,
        F.col("n_chars").cast("long").alias("x1"),
        F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
        .cast("long")
        .alias("x2"),
        F.size(F.split(t, WS_RE)).cast("long").alias("y"),
    )


def _probe_moment_aggs():
    return [
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    ]


def token_linear_probe(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed LINEAR PROBE: least-squares fit of whitespace-token
    count from two cheap byte-level features (n_chars, alphabetic
    chars) — the model a 100-TB ingest uses to BUDGET tokenization
    (estimate corpus token count from char stats before paying for the
    tokenizer pass).  Trained by the normal equations over sufficient
    statistics: one distributed agg collects the exact integer moment
    matrix (n, Σx, Σxx, Σxy, …) and the 3×3 solve is a fixed Cramer
    expression over that single row — mathematically identical to
    full-batch gradient descent run to convergence, but ONE pass over
    the data regardless of iteration count.  That is the 100-TB shape:
    d²+d running sums, no weight broadcast per step, no per-iteration
    scan (contrast SGD, which would re-read the corpus every epoch).

    Exactness: every moment is a BIGINT sum of integer features —
    bit-exact across engines; the Cramer solve and R² are a fixed
    expression DAG of IEEE double ops computed from those integers,
    written with identical association in the SQL twin, then
    round6-quantized.  Moments are cast to DOUBLE before any product
    (ΣxxΣyy-scale products overflow BIGINT long before the sums do).

    Scale shape: one projection → one 1-row hash agg (partial
    aggregation makes it a per-partition 10-counter combine); no join,
    no window, text leaves the scan only as three extracted integers."""
    m = _probe_features(docs, text_col).agg(*_probe_moment_aggs())
    # Cramer's rule on the (symmetric) normal matrix, all in DOUBLE.
    # The expression text (_cramer3) is mirrored verbatim in the SQL twin.
    n, s1, s2 = [F.col(c).cast("double") for c in ("n", "s1", "s2")]
    sy, s11, s12 = [F.col(c).cast("double") for c in ("sy", "s11", "s12")]
    s22, s1y, s2y, syy = [
        F.col(c).cast("double") for c in ("s22", "s1y", "s2y", "syy")
    ]
    w0, w1, w2, sse, sst = _cramer3(
        n, s1, s2, sy, s11, s12, s22, s1y, s2y, syy
    )
    return m.select(
        F.col("n").alias("n_docs"),
        round6(w0).alias("w_intercept"),
        round6(w1).alias("w_nchars"),
        round6(w2).alias("w_alpha"),
        round6(F.lit(1.0) - sse / sst).alias("r2"),
        round6(F.sqrt(F.greatest(sse, F.lit(0.0)) / n)).alias("rmse"),
    )


def loo_probe_influence(
    docs: DataFrame, text_col: str = "text", by_col: str = "source"
) -> DataFrame:
    """Leave-one-SOURCE-out influence on the token linear probe — the
    cheapest honest data-valuation readout: refit token_linear_probe's
    model with each source held out and report how far the
    coefficients (and fit quality) move. A source whose removal barely
    shifts the weights is redundant for this model; one that swings
    them is load-bearing (or an outlier polluting the fit) — the
    question a mixture owner asks before dropping or down-weighting a
    source.

    The sufficient-statistics trick makes all |S|+1 fits ONE corpus
    pass: the 10 exact BIGINT moments aggregate per source, the full
    model's moments are the column sums of that tiny frame, and each
    leave-one-out moment vector is total − own (exact integer
    subtraction). Every Cramer solve runs over the |S|-row frame —
    refitting costs nothing no matter how large the corpus. Contrast
    per-example influence functions, which need a Hessian-vector
    product per example; at the source granularity the normal
    equations give the EXACT refit, not an approximation.

    Exactness: same contract as token_linear_probe — integer moments,
    one fixed double expression DAG (shared _cramer3), round6 at the
    end; deltas subtract raw doubles BEFORE quantization.

    Scale shape: one hash agg corpus → |S| rows; window sums + solves
    over that frame only."""
    from pyspark.sql import Window

    per = (
        _probe_features(docs, text_col, F.col(by_col).alias("src"))
        .groupBy("src")
        .agg(*_probe_moment_aggs())
    )
    w_all = Window.partitionBy()
    tot = {c: F.sum(c).over(w_all) for c in _PROBE_MOMENTS}
    full = [tot[c].cast("double") for c in _PROBE_MOMENTS]
    loo = [(tot[c] - F.col(c)).cast("double") for c in _PROBE_MOMENTS]
    _, w1f, w2f, _, _ = _cramer3(*full)
    _, w1l, w2l, ssel, sstl = _cramer3(*loo)
    return per.select(
        F.col("src").alias(by_col),
        F.col("n").alias("n_docs"),
        round6(w1l).alias("w_nchars_loo"),
        round6(w2l).alias("w_alpha_loo"),
        round6(F.lit(1.0) - ssel / sstl).alias("r2_loo"),
        round6(w1f - w1l).alias("d_nchars"),
        round6(w2f - w2l).alias("d_alpha"),
    ).orderBy(by_col)


def signal_spearman(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """EXACT Spearman rank correlation between two quality signals
    (document length vs alphabetic per-mille) WITHOUT sorting the
    corpus — the redundancy check a curation pipeline runs before
    stacking filters (two signals at ρ≈1 gate the same documents; pay
    for one).  The textbook form ranks all n rows (a global sort —
    the one operation a 10^12-row table cannot afford); this one
    exploits that both signals live on SMALL INTEGER DOMAINS: average
    ranks per distinct value follow from the value histogram's
    cumulative counts, and Σ rank_x·rank_y follows from the (x,y) PAIR
    census.  Shuffles touch only histogram/census rows (≤|X|·|Y|),
    never the corpus.

    Tie handling is the exact average-rank convention, kept integral
    via DOUBLED ranks: R2(v) = 2·(count before v) + count(v) + 1
    = 2·avg_rank(v).  Pearson is invariant under positive affine maps,
    so ρ over doubled ranks equals ρ over average ranks — and every
    accumulated moment stays a BIGINT (engine-exact); only the final
    closed-form correlation is IEEE, mirrored verbatim and round6-ed.

    Scale shape: one pair-census hash agg over (x, y); two tiny
    cumsum windows over the value dimensions; two broadcast joins of
    the census against its own marginals; a 1-row final agg."""
    from pyspark.sql import Window

    base = docs.filter(F.col("n_chars") > 0).select(
        F.col("n_chars").cast("long").alias("xv"),
        F.expr(
            f"CAST(length(regexp_replace({text_col}, '[^A-Za-z]', '')) * 1000"
            " DIV n_chars AS BIGINT)"
        ).alias("yv"),
    )
    # three consumers (two marginals + the rank join) branch off the
    # census and exchange reuse does not unify them — materialize once
    # so the corpus is scanned once (census is |X|·|Y|-bounded).
    census = materialize(
        base.groupBy("xv", "yv").agg(F.count("*").cast("long").alias("c"))
    )
    wx = Window.orderBy("xv").rowsBetween(Window.unboundedPreceding, -1)
    xm = (
        census.groupBy("xv")
        .agg(F.sum("c").cast("long").alias("cnt"))
        .withColumn("cb", F.coalesce(F.sum("cnt").over(wx), F.lit(0)))
        .select(
            "xv", (2 * F.col("cb") + F.col("cnt") + 1).cast("long").alias("rx2")
        )
    )
    wy = Window.orderBy("yv").rowsBetween(Window.unboundedPreceding, -1)
    ym = (
        census.groupBy("yv")
        .agg(F.sum("c").cast("long").alias("cnt"))
        .withColumn("cb", F.coalesce(F.sum("cnt").over(wy), F.lit(0)))
        .select(
            "yv", (2 * F.col("cb") + F.col("cnt") + 1).cast("long").alias("ry2")
        )
    )
    j = census.join(F.broadcast(xm), "xv").join(F.broadcast(ym), "yv")
    s = j.agg(
        F.sum("c").cast("long").alias("n"),
        F.countDistinct("xv").cast("long").alias("nx"),
        F.countDistinct("yv").cast("long").alias("ny"),
        F.sum(F.col("c") * F.col("rx2")).cast("long").alias("sx"),
        F.sum(F.col("c") * F.col("ry2")).cast("long").alias("sy"),
        F.sum(F.col("c") * F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("c") * F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
        F.sum(F.col("c") * F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"),
    )
    n, sx, sy = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxx, syy, sxy = [F.col(c).cast("double") for c in ("sxx", "syy", "sxy")]
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    rho = F.when(
        (varx > 0) & (vary > 0),
        (n * sxy - sx * sy) / (F.sqrt(varx) * F.sqrt(vary)),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("nx").alias("n_x_distinct"),
        F.col("ny").alias("n_y_distinct"),
        round6(rho).alias("rho_spearman"),
    )


def chi2_independence(
    docs: DataFrame, bucket_width: int = 256, n_buckets: int = 8
) -> DataFrame:
    """Pearson chi-square test of independence between SOURCE and a
    length bucket (n_chars DIV bucket_width, capped) — the drift/bias
    readout a multi-source ingest publishes: a large χ² says document
    length is source-conditioned, so any length filter reweights the
    source mixture as a side effect.  Cramér's V normalizes χ² to
    [0,1] for cross-corpus comparison.

    Each cell term is computed from EXACT integers — with N·o and
    rt·ct both BIGINT, term = (N·o − rt·ct)² / (N·rt·ct) — so engines
    agree on every numerator/denominator bit; only the final per-cell
    division and the (tiny, ≤|sources|·n_buckets-term) sum are IEEE,
    round6-quantized.

    Scale shape: one projection → one contingency hash agg (census
    rows = |sources|·n_buckets); marginals are re-aggregates of the
    census; everything after the first agg is dimension-sized."""
    b = docs.filter(F.col("n_chars") > 0).select(
        F.col("source"),
        F.least(
            F.expr(f"CAST(n_chars DIV {bucket_width} AS BIGINT)"),
            F.lit(n_buckets - 1).cast("long"),
        ).alias("bucket"),
    )
    # four consumers (row/col marginals, totals, the grid left-join)
    # branch off the contingency census — materialize once so the
    # corpus is scanned once (census is |sources|·n_buckets rows).
    census = materialize(
        b.groupBy("source", "bucket").agg(F.count("*").cast("long").alias("o"))
    )
    rt = census.groupBy("source").agg(F.sum("o").cast("long").alias("rt"))
    ct = census.groupBy("bucket").agg(F.sum("o").cast("long").alias("ct"))
    tot = census.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("source").cast("long").alias("r"),
        F.countDistinct("bucket").cast("long").alias("c"),
    )
    # The census holds only OBSERVED cells, but chi-square sums over the
    # full r×c grid — an empty cell still has e = rt·ct/N > 0 and
    # contributes e to χ².  Rebuild the grid as marginal × marginal
    # (dimension-sized cross of two broadcast tables) and left-join the
    # observed counts, coalescing absent cells to o = 0.
    grid = rt.crossJoin(F.broadcast(ct))
    cells = (
        grid.join(F.broadcast(census), ["source", "bucket"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0).cast("long")))
        .join(F.broadcast(tot))
    )
    num = F.col("n") * F.col("o") - F.col("rt") * F.col("ct")
    term = (num * num).cast("double") / (
        F.col("n") * F.col("rt") * F.col("ct")
    ).cast("double")
    agg = cells.groupBy("n", "r", "c").agg(F.sum(term).alias("chi2_raw"))
    dof = ((F.col("r") - 1) * (F.col("c") - 1)).cast("long")
    vden = (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1)).cast(
        "double"
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("r").alias("n_sources"),
        F.col("c").alias("n_buckets"),
        dof.alias("dof"),
        round6(F.col("chi2_raw")).alias("chi2"),
        round6(
            F.when(
                (dof > 0) & (vden > 0), F.sqrt(F.col("chi2_raw") / vden)
            )
        ).alias("cramers_v"),
    )


def vocab_richness(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Vocabulary-richness panel from the word census: Chao1 richness
    (bias-corrected), Good–Turing unseen mass, and the hapax ratio —
    the "how much vocabulary is still unobserved" readout a corpus
    pipeline publishes when sizing a tokenizer vocab or deciding
    whether another crawl batch still adds words.  F1 (hapax) and F2
    (dis legomena) drive both estimators:

        chao1  = V + F1·(F1−1) / (2·(F2+1))      (bias-corrected form,
                                                  defined even at F2=0)
        p0_GT  = F1 / N                          (Good–Turing mass of
                                                  unseen words)

    Exactness: V, N, F1, F2 are BIGINT aggregates of the exact census;
    the three estimator expressions are one fixed IEEE chain each,
    mirrored verbatim in the oracle and round6-quantized.

    Scale shape: corpus→vocab collapse (word-keyed hash agg, map-side
    partials) is the only corpus-scale exchange; the panel is a 1-row
    re-aggregate of the vocab table."""
    w = docs.select(F.explode(_words(F.col(text_col))).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = w.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    agg = vocab.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("f1_hapax"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("f2_dis"),
    )
    f1 = F.col("f1_hapax").cast("double")
    f2 = F.col("f2_dis").cast("double")
    chao1 = F.col("vocab_size").cast("double") + f1 * (f1 - 1.0) / (
        2.0 * (f2 + 1.0)
    )
    return agg.select(
        "n_tokens",
        "vocab_size",
        "f1_hapax",
        "f2_dis",
        round6(chao1).alias("chao1"),
        round6(f1 / F.col("n_tokens").cast("double")).alias("gt_unseen_mass"),
        round6(f1 / F.col("vocab_size").cast("double")).alias("hapax_ratio"),
    )


def pmi_collocations(
    docs: DataFrame,
    top_k: int = 25,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k PMI collocations over the adjacent-bigram census — the
    classic "which word pairs are glued together" corpus readout, used
    in curation to surface boilerplate stock phrases (high-PMI pairs
    repeated across sources) and as a tokenizer-merge sanity check
    (BPE's first merges should roughly track the PMI head).

    PMI is computed ENTIRELY inside the bigram event space (no unigram/
    bigram denominator mixing): with N total bigrams, c_xy the pair
    count and c_x·/c_·y the first/second-position marginals,
    PMI = ln(c_xy·N / (c_x·.c_·y)).  All four operands are BIGINT
    census aggregates; ranking happens on the 1e-6-quantized PMI with
    a lexicographic bigram tie-break so both engines pick the same k
    rows (ln on an exact integer ratio is bit-stable on one libm —
    the char_entropy precedent).

    Scale shape: one corpus-scale bigram hash-agg (map-side partials);
    marginals are re-aggregates of the census; the top-k window runs
    on the min_count-filtered census (vocab-sized — the documented
    word_rarity window precedent)."""
    from pyspark.sql import Window

    ws = _words(F.col(text_col))
    pairs = docs.select(
        F.explode(
            F.filter(
                F.zip_with(
                    ws,
                    F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                ),
                lambda s: (s["x"] != "") & (s["y"] != ""),
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    # Materialize the census ONCE: four consumers branch off it
    # (marginals ×2, total, candidates) and Spark's exchange reuse does
    # not unify them (verified: 4 corpus scans without this) — at
    # 100 TB the corpus must be scanned and exploded exactly once; the
    # materialized census is vocab²-bounded, not corpus-sized.
    census = materialize(
        pairs.groupBy("x", "y").agg(F.count("*").cast("long").alias("c_xy"))
    )
    mx = census.groupBy("x").agg(F.sum("c_xy").cast("long").alias("c_x"))
    my = census.groupBy("y").agg(F.sum("c_xy").cast("long").alias("c_y"))
    tot = census.agg(F.sum("c_xy").cast("long").alias("n_bigrams"))
    cand = (
        census.filter(F.col("c_xy") >= min_count)
        .join(mx, "x")
        .join(my, "y")
        .join(F.broadcast(tot))
    )
    pmi = F.log(
        (F.col("c_xy") * F.col("n_bigrams")).cast("double")
        / (F.col("c_x") * F.col("c_y")).cast("double")
    )
    scored = cand.withColumn(
        "pmi_e6", F.floor(pmi * 1_000_000 + F.lit(0.5)).cast("long")
    )
    rk = F.row_number().over(
        Window.orderBy(F.desc("pmi_e6"), F.asc("x"), F.asc("y"))
    )
    return (
        scored.withColumn("rank", rk.cast("long"))
        .filter(F.col("rank") <= top_k)
        .select(
            "rank",
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            round6(F.col("pmi_e6").cast("double") / 1_000_000.0).alias("pmi"),
        )
        .orderBy("rank")
    )


def token_burstiness(
    docs: DataFrame, top_k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Variance-to-mean ratio (index of dispersion) of per-document
    counts for the top-k corpus words — the burstiness readout that
    separates CONTENT words (bursty: a doc about the topic uses the
    word many times, VMR >> 1) from FUNCTION/boilerplate words
    (Poisson-ish, VMR ≈ 1).  A template-flooded corpus shows inverted
    burstiness: its "content" head goes flat because every word count
    is stamped from the same template.

    Zeros count: with D total docs, S1 = Σ_d c_wd and S2 = Σ_d c_wd²
    (absent docs contribute 0 to both), VMR = (D·S2 − S1²)/(D·S1) —
    an EXACT integer ratio per word, one IEEE division at the end,
    round6-quantized.  doc_frequency rides along.

    Scale shape: one (word, doc) hash-agg at corpus scale, one word
    hash-agg over that, and the top-k window on the vocab table (the
    word_rarity precedent)."""
    from pyspark.sql import Window

    d_tot = docs.agg(F.count("*").cast("long").alias("n_docs"))
    wd = (
        docs.select(
            F.col("doc_id"),
            F.explode(_words(F.col(text_col))).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per_w = wd.groupBy("w").agg(
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("df"),
    )
    rk = F.row_number().over(Window.orderBy(F.desc("s1"), F.asc("w")))
    top = per_w.withColumn("rank", rk.cast("long")).filter(
        F.col("rank") <= top_k
    )
    out = top.join(F.broadcast(d_tot))
    vmr = (
        F.col("n_docs") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double") / (F.col("n_docs") * F.col("s1")).cast("double")
    return out.select(
        "rank",
        "w",
        F.col("s1").alias("freq"),
        F.col("df").alias("doc_freq"),
        round6(vmr).alias("vmr"),
    ).orderBy("rank")


def word_cond_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Conditional word entropy H(next | current) of the corpus bigram
    model — the one-number "how predictable is this text" readout
    (natural prose ≈ 6–8 bits/word; template soup collapses toward 0;
    shuffled-word noise approaches the unigram entropy).  Complements
    ``bigram_lm_score`` (per-doc fluency) with the corpus-level rate,
    and ``zipf_fit``/``token_burstiness`` as the third orthogonal
    template detector.

    Identity that removes every cross-engine float hazard: with
    S(T) = Σ_t c_t·lnq(c_t) over a census T (lnq = ln quantized to
    1e-4 units — the zipf_fit discipline; c·lnq stays in int64 to
    ~10^14 bigrams), and both entropies sharing denominator N,

        H(Y|X) = H(X,Y) − H(X) = (S(first-marginal) − S(bigram)) / (N·10⁴)

    — the ln N terms CANCEL, so the conditional entropy is an exact
    integer difference divided once.  H(X,Y), H(X) themselves need
    ln N (one libm call on an exact integer — bit-stable), and the
    perplexity is exp of the quantized rate; all round6-quantized.

    Scale shape: one corpus-scale bigram hash-agg; the first-word
    marginal is a re-aggregate; two 1-row sums; no window, no join."""
    ws = _words(F.col(text_col))
    pairs = docs.select(
        F.explode(
            F.filter(
                F.zip_with(
                    ws,
                    F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                ),
                lambda s: (s["x"] != "") & (s["y"] != ""),
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    # one corpus scan: the census feeds both the joint sum and the
    # first-word marginal (same rationale as pmi_collocations).
    census = materialize(
        pairs.groupBy("x", "y").agg(F.count("*").cast("long").alias("c"))
    )
    lnq = lambda c: F.floor(  # noqa: E731 — local quantized-ln helper
        F.log(c.cast("double")) * 10_000 + F.lit(0.5)
    ).cast("long")
    s_xy = census.agg(
        F.sum(F.col("c") * lnq(F.col("c"))).cast("long").alias("s_xy"),
        F.sum("c").cast("long").alias("n"),
    )
    s_x = (
        census.groupBy("x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .agg(F.sum(F.col("cx") * lnq(F.col("cx"))).cast("long").alias("s_x"))
    )
    j = s_xy.join(F.broadcast(s_x))
    n_d = F.col("n").cast("double")
    ln_n = F.log(n_d)
    h_xy = ln_n - F.col("s_xy").cast("double") / (n_d * 10_000.0)
    h_x = ln_n - F.col("s_x").cast("double") / (n_d * 10_000.0)
    h_cond = (F.col("s_x") - F.col("s_xy")).cast("double") / (n_d * 10_000.0)
    return j.select(
        F.col("n").alias("n_bigrams"),
        round6(h_xy).alias("h_bigram_nats"),
        round6(h_x).alias("h_first_nats"),
        round6(h_cond).alias("h_cond_nats"),
        round6(F.exp(h_cond)).alias("ppl_cond"),
    )


def data_card(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source DATA CARD — the one-row-per-source summary a dataset
    release ships (and the first table a curation review opens):
    volume (docs, chars, tokens), the language story (distinct langs,
    dominant lang + its share), the exact-duplicate rate, and the
    median document length.  Composes the engine's own primitives —
    the BPE-ish ``TOKEN_RE`` tokenizer, the md5 exact-dup census, and
    the small-int-domain median (lower median: smallest length whose
    doubled cumulative count reaches n) — so the card's numbers agree
    with the dedicated queries by construction.

    Scale shape: ONE corpus-scale projection (md5 + token count per
    row), then everything is keyed by ``source`` — hash-aggs with
    map-side partials.  The only windows run over the (source, lang)
    and (source, n_chars) CENSUSES, both bounded by |langs| and the
    length domain, never by the row count."""
    from pyspark.sql import Window

    toks = F.regexp_extract_all(
        F.trim(F.lower(F.col(text_col))), F.lit(TOKEN_RE), 0
    )
    per = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("nc"),
        F.size(toks).cast("long").alias("nt"),
        F.md5(F.col(text_col)).alias("h"),
    )
    base = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.countDistinct("h").cast("long").alias("n_uniq"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    lc = per.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c")
    )
    w_top = Window.partitionBy("source").orderBy(F.desc("c"), F.desc("lang"))
    top = (
        lc.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"),
                F.col("c").alias("top_c"))
    )
    cen = per.groupBy("source", "nc").agg(F.count("*").alias("c"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("nc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        cen.withColumn("cum", F.sum("c").over(w_cum))
        .join(base.select("source", "n_docs"), "source")
        .filter(F.lit(2) * F.col("cum") >= F.col("n_docs"))
        .groupBy("source")
        .agg(F.min("nc").cast("long").alias("p50_chars"))
    )
    out = base.join(top, "source").join(med, "source")
    return out.select(
        "source",
        "n_docs",
        "n_chars",
        "n_tokens",
        round6(F.col("n_tokens").cast("double") / F.col("n_docs")).alias(
            "avg_tokens"
        ),
        "p50_chars",
        "n_langs",
        "top_lang",
        round6(F.col("top_c").cast("double") / F.col("n_docs")).alias(
            "top_lang_share"
        ),
        round6(
            (F.col("n_docs") - F.col("n_uniq")).cast("double")
            / F.col("n_docs")
        ).alias("exact_dup_rate"),
    ).orderBy("source")


def _run_stats_arrow(base: DataFrame) -> DataFrame:
    """Arrow stage of :func:`token_runs` over (doc_id, _ws): per row,
    (n_words, max_run, n_distinct) — the whole batch computed with
    numpy run-length arithmetic, zero per-element Python.

    Kernel: dictionary-encode the flattened token stream (string
    equality becomes int32 compare), mark run starts where the code
    changes OR a new document begins, take run lengths with one diff,
    and reduce per-document maxima with ``np.maximum.reduceat``.
    Distinct counts come from one ``np.unique`` over
    ``doc_index * dict_size + code`` (exact, collision-free)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            base.schema["doc_id"],
            T.StructField("n_words", T.LongType()),
            T.StructField("max_run", T.LongType()),
            T.StructField("n_distinct", T.LongType()),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            col = b.column(b.schema.get_field_index("_ws"))
            n = len(col)
            valid = col.is_valid().to_numpy(zero_copy_only=False)
            flat = pc.list_flatten(col)
            # int64 up front: parent * dict_size below can pass 2^31
            parent = pc.list_parent_indices(col).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            n_words = np.bincount(parent, minlength=n).astype(np.int64)
            max_run = np.zeros(n, dtype=np.int64)
            n_distinct = np.zeros(n, dtype=np.int64)
            m = len(parent)
            if m:
                enc = pc.dictionary_encode(flat)
                codes = enc.indices.to_numpy(zero_copy_only=False).astype(
                    np.int64
                )
                ndict = len(enc.dictionary)
                new_run = np.empty(m, dtype=bool)
                new_run[0] = True
                new_run[1:] = (codes[1:] != codes[:-1]) | (
                    parent[1:] != parent[:-1]
                )
                run_starts = np.flatnonzero(new_run)
                run_len = np.diff(np.append(run_starts, m))
                run_doc = parent[run_starts]
                seg = np.empty(len(run_doc), dtype=bool)
                seg[0] = True
                seg[1:] = run_doc[1:] != run_doc[:-1]
                seg_start = np.flatnonzero(seg)
                max_run[run_doc[seg_start]] = np.maximum.reduceat(
                    run_len, seg_start
                )
                uniq = np.unique(parent * ndict + codes)
                n_distinct = np.bincount(
                    uniq // ndict, minlength=n
                ).astype(np.int64)
            mask = ~valid
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    pa.array(n_words, type=pa.int64(), mask=mask),
                    pa.array(max_run, type=pa.int64(), mask=mask),
                    pa.array(n_distinct, type=pa.int64(), mask=mask),
                ],
                names=["doc_id", "n_words", "max_run", "n_distinct"],
            )

    return base.mapInArrow(kernel, schema=out_schema)


def token_runs(
    docs: DataFrame,
    text_col: str = "text",
    max_run_flag: int = 8,
    support_flag: float = 0.2,
    min_words_for_support: int = 50,
    use_arrow: bool = True,
) -> DataFrame:
    """Degenerate-repetition QC over the word/token sequence: the two
    classic loop-artifact signals a pretraining curation pass screens
    for (reference has no analog; this is the tokens-axis quality
    screen the 10^12-sequence corpus needs before packing).

    Per document over the lowercased whitespace token stream:
      * ``max_run``     — longest run of the SAME consecutive token
                          ("foo foo foo ..." degenerate-generation
                          loops; prose rarely exceeds 2-3);
      * ``n_distinct``  / ``support_ratio`` — type/token ratio; a long
                          doc cycling over a tiny vocabulary is a loop
                          even when no single token repeats adjacently
                          ("a b a b a b ...").
    ``degenerate`` flags max_run >= max_run_flag OR (n_words >=
    min_words_for_support AND support_ratio <= support_flag).

    Default path: the split stays JVM-side (both paths share the exact
    tokenizer), then ONE Arrow stage computes run/distinct counts for
    the whole batch in numpy (:func:`_run_stats_arrow`) — measured
    ~10× the interpreted twin at sf0.1. ``use_arrow=False`` keeps the
    pure-Catalyst formulation: a single left fold (F.aggregate)
    carrying (prev, run, best) struct state — one interpreted lambda
    eval per word (~70 µs, same tradeoff note as fingerprint); a test
    pins both paths equal, and the DuckDB twin recomputes max_run a
    third way (unnest + gaps-and-islands). Either way the shape is a
    narrow shuffle-free projection.
    """
    base = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_ws"),
    )
    if use_arrow:
        mid = _run_stats_arrow(base).withColumn(
            "support_ratio",
            round6(F.col("n_distinct").cast("double") / F.col("n_words")),
        )
    else:
        ws = F.col("_ws")
        n_words = F.size(ws).cast("long")
        zero = F.lit(0).cast("long")
        state = F.struct(
            F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
        )

        def _step(acc, w):
            run = F.when(w == acc["prev"], acc["run"] + F.lit(1)).otherwise(
                F.lit(1).cast("long")
            )
            return F.struct(
                w.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        max_run = F.aggregate(ws, state, _step, lambda acc: acc["best"])
        n_distinct = F.size(F.array_distinct(ws)).cast("long")
        # two-stage select so the fold and the distinct run ONCE per
        # row: CollapseProject would otherwise inline max_run into the
        # degenerate flag and evaluate the whole fold twice
        mid = base.select(
            "doc_id",
            n_words.alias("n_words"),
            max_run.alias("max_run"),
            n_distinct.alias("n_distinct"),
            round6(n_distinct.cast("double") / n_words).alias(
                "support_ratio"
            ),
        )
    return mid.select(
        "*",
        (
            (F.col("max_run") >= F.lit(max_run_flag))
            | (
                (F.col("n_words") >= F.lit(min_words_for_support))
                & (F.col("support_ratio") <= F.lit(float(support_flag)))
            )
        ).alias("degenerate"),
    )


def split_leakage(
    docs: DataFrame,
    train_frac: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-hygiene audit of the deterministic train/test split: how
    many documents of each split have an EXACT-duplicate twin in the
    other split (the contamination a held-out set inherits when the
    split is drawn before dedup — the standard decontamination review
    question, run here with the engine's own split rule and exact-dup
    key so the audit measures the real pipeline, not a proxy).

    Scale shape: leakage is decidable at the content-hash GROUP level
    — a group leaks iff it spans both splits — so there is NO join
    back to the corpus: one hash-agg on md5(text) with two conditional
    map-side-partial sums, then a 2-row rollup. The only exchange
    carries (16-byte hash, two longs).

    Output: one row per split with n_docs, n_leaked (docs whose exact
    twin lives in the other split), leak_rate (round6).
    """
    t = max(0, min(256, int(train_frac * 256)))
    threshold = "zz" if t == 256 else format(t, "02x")
    h2 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    keyed = docs.select(
        F.md5(F.col(text_col)).alias("h"),
        F.when(h2 < threshold, "train").otherwise("test").alias("split"),
    )
    grp = keyed.groupBy("h").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    zero = F.lit(0).cast("long")
    rows = grp.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("train").alias("split"),
                    F.col("n_train").alias("n"),
                    F.when(F.col("n_test") > 0, F.col("n_train"))
                    .otherwise(zero)
                    .alias("leak"),
                ),
                F.struct(
                    F.lit("test").alias("split"),
                    F.col("n_test").alias("n"),
                    F.when(F.col("n_train") > 0, F.col("n_test"))
                    .otherwise(zero)
                    .alias("leak"),
                ),
            )
        ).alias("s")
    ).select("s.split", "s.n", "s.leak")
    return (
        rows.groupBy("split")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("leak").cast("long").alias("n_leaked"),
        )
        .select(
            "split",
            "n_docs",
            "n_leaked",
            round6(
                F.col("n_leaked").cast("double")
                / F.when(F.col("n_docs") > 0, F.col("n_docs"))
            ).alias("leak_rate"),
        )
        .orderBy("split")
    )


def conformal_bounds(
    docs: DataFrame,
    value_col: str = "n_chars",
    by_col: str = "source",
    alpha_tenths: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Split-conformal prediction interval per group, with its empirical
    coverage audit — the distribution-free way to put honest error bars
    on any per-doc predictor (here the calibration-split group mean of
    ``value_col``) without assuming a residual distribution. This is
    the standard pre-deployment check for learned quality/toxicity
    scorers: "a symmetric interval of half-width q around the
    prediction covers ≥ 1−α of held-out docs, guaranteed".

    Device chain (every step engine-exact):
    * split — :func:`train_test_split` at 0.5 (the md5 2-hex-char
      device): 'train' half calibrates, 'test' half audits coverage.
    * predictor — per-group calibration mean; the sum is an exact
      integer, the division one correctly-rounded IEEE op.
    * nonconformity — ``floor(|y − mean|·1000 + 0.5)`` integer millis.
    * conformal rank — ``r = ceil((n_cal+1)·(1−α))`` by pure integer
      arithmetic (α = alpha_tenths/10); the rank-r order statistic of
      the calibration residuals is the half-width q. If r > n_cal the
      interval is infinite (q NULL) and everything counts covered —
      the honest small-group answer.
    * coverage — share of TEST rows with residual ≤ q, in exact 1e-6
      units.

    Scale shape: one row_number window keyed by the group (groups are
    the data-source dimension — bounded; a per-DOMAIN variant would
    need domain_cap's salted two-phase), two group hash-aggs, and
    dimension-sized broadcast joins of the per-group stats. The corpus
    is scanned twice (calibrate, audit), shuffled only as aggregates.
    """
    from pyspark.sql import Window

    split = train_test_split(docs, train_frac=0.5, id_col=id_col)
    d = docs.select(
        id_col, by_col, F.col(value_col).cast("long").alias("_y")
    ).join(split, id_col)
    cal = d.filter(F.col("split") == "train")
    test = d.filter(F.col("split") == "test")

    stats = cal.groupBy(by_col).agg(
        F.count("*").cast("long").alias("n_cal"),
        (F.sum("_y").cast("double") / F.count("*")).alias("_mean"),
    )
    resid = F.floor(
        F.abs(F.col("_y").cast("double") - F.col("_mean")) * 1000 + F.lit(0.5)
    ).cast("long")
    keep = 10 - alpha_tenths
    # ceil((n_cal+1)·keep/10) with pure integer ops: (a + 9) div 10
    rank = F.expr(f"((n_cal + 1) * {keep} + 9) div 10")
    cal_r = (
        cal.join(F.broadcast(stats), by_col)
        .withColumn("_resid", resid)
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy(by_col).orderBy(
                    F.asc("_resid"), F.asc(id_col)
                )
            ),
        )
    )
    q = cal_r.filter(F.col("_r") == rank).select(
        by_col, F.col("_resid").alias("q_milli")
    )
    t = (
        test.join(F.broadcast(stats), by_col)
        .join(F.broadcast(q), by_col, "left")
        .withColumn("_resid", resid)
        .groupBy(by_col)
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            F.max("q_milli").alias("q_milli"),
            F.sum(
                F.when(
                    F.col("q_milli").isNull()
                    | (F.col("_resid") <= F.col("q_milli")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return t.select(
        by_col,
        "n_cal",
        "n_test",
        "q_milli",
        "n_covered",
        F.floor(
            F.col("n_covered").cast("double")
            / F.col("n_test").cast("double")
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("coverage_e6"),
    ).orderBy(by_col)


def length_gini(
    docs: DataFrame,
    value_col: str = "n_chars",
    by_col: str = "source",
) -> DataFrame:
    """Exact Gini concentration of ``value_col`` per group — the data-
    card inequality number ("is this source a few giant docs or many
    uniform ones?") that decides shard balancing and per-source length
    caps. Population Gini = Σᵢⱼ nᵢnⱼ|xᵢ−xⱼ| / (2N²μ), computed EXACTLY
    from the distinct-value census via the Lorenz trapezoid identity

        G = 1 − Σᵢ nᵢ·(Sᵢ₋₁ + Sᵢ) / (N·S)

    (Sᵢ = cumulative value·count through the i-th distinct value,
    ascending) — equality is exact for discrete data grouped on exact
    values, not an approximation. Numerator and denominator stay
    BIGINT; the single division is quantized to 1e-6.

    Scale shape: the histogram route (the docs_length_quartiles
    lesson) — one (group, value) hash-agg census, then a window over
    the census ordered by value within each group: support-sized
    (bounded value domain), never a row-level sort. At 10^12 docs the
    window input is |groups|·|distinct lengths| rows."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("long")
    census = docs.groupBy(by_col, v.alias("_v")).agg(
        F.count("*").cast("long").alias("_n")
    )
    w = Window.partitionBy(by_col).orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = census.select(
        by_col,
        "_n",
        (F.col("_n") * F.col("_v")).alias("_nv"),
        F.sum(F.col("_n") * F.col("_v")).over(w).alias("_S"),
    )
    return (
        stepped.groupBy(by_col)
        .agg(
            F.sum("_n").cast("long").alias("n_docs"),
            F.sum("_nv").cast("long").alias("total_chars"),
            F.sum(F.col("_n") * (F.lit(2) * F.col("_S") - F.col("_nv")))
            .cast("long")
            .alias("_lorenz"),
        )
        .select(
            by_col,
            "n_docs",
            "total_chars",
            F.floor(
                (
                    F.lit(1.0)
                    - F.col("_lorenz").cast("double")
                    / (F.col("n_docs") * F.col("total_chars")).cast("double")
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("gini_e6"),
        )
        .orderBy(by_col)
    )


def hill_tail_index(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    tail_frac: float = 0.1,
    min_k: int = 5,
) -> DataFrame:
    """Hill estimator of the power-law tail index of a positive
    integer metric (doc length here), per group:
    α̂ = k / Σ_{i=1..k} ln(X₍ᵢ₎ / X₍ₖ₊₁₎) over the k largest order
    statistics — the standard heavy-tail gauge a capacity/curation
    review runs on length, token-count, and user-volume columns
    (α ≤ 2: infinite variance, one mega-doc can dominate a shard;
    α large: tail decays fast, uniform sharding is safe).  Distinct
    from ``zipf_fit``: that fits the word-FREQUENCY rank curve of the
    vocabulary; this measures the tail of a per-row metric.

    k = max(min_k, floor(tail_frac·n)), clamped to n−1; groups too
    small to leave an (k+1)-th order statistic report NULL.

    No global (or even per-group) sort of rows: the value census
    (value-domain-sized) is cumulated FROM THE TOP, full buckets above
    the k-cut contribute c·ln(v), the straddling bucket contributes
    its clipped remainder, and X₍ₖ₊₁₎ is read off the bucket covering
    position k+1.  All counts BIGINT; the ln sums are the only doubles
    and are round6-quantized once at the end.

    Scale shape: one corpus-scale (group, value) hash-agg with
    map-side partials; one cumsum window over the census partitioned
    by group; a groups-sized final agg."""
    from pyspark.sql import Window

    census = (
        docs.filter(F.col(value_col) > 0)
        .groupBy(group_col, value_col)
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_above = (
        Window.partitionBy(group_col)
        .orderBy(F.desc(value_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(group_col)
    cen = census.select(
        group_col,
        F.col(value_col).alias("v"),
        "c",
        F.coalesce(F.sum("c").over(w_above), F.lit(0)).alias("cb"),
        F.sum("c").over(w_all).alias("n"),
    )
    k = F.greatest(
        F.lit(min_k), F.floor(F.col("n") * F.lit(tail_frac)).cast("long")
    )
    k = F.least(k, F.col("n") - 1)
    take = F.greatest(
        F.lit(0), F.least(F.col("c"), k - F.col("cb"))
    ).cast("long")
    lnv = F.log(F.col("v").cast("double"))
    # bucket covering order-statistic position k+1 (1-indexed from top)
    is_k1 = (F.col("cb") <= k) & (F.col("cb") + F.col("c") >= k + 1)
    agg = cen.groupBy(group_col).agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max(k).cast("long").alias("k"),
        F.sum(take.cast("double") * lnv).alias("s_ln"),
        F.max(F.when(is_k1, F.col("v"))).cast("long").alias("x_k1"),
    )
    denom = F.col("s_ln") - F.col("k").cast("double") * F.log(
        F.col("x_k1").cast("double")
    )
    return agg.select(
        group_col,
        "n_docs",
        "k",
        "x_k1",
        F.when(
            (F.col("k") >= 1) & (denom > 0),
            round6(F.col("k").cast("double") / denom),
        ).alias("hill_alpha"),
    ).orderBy(group_col)
