"""Text-analysis operators: token counts, quality, langid, fingerprint."""

import pytest
from pyspark.sql import functions as F

from stash_log_parser_spark.operators import textstats as TS


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The cat and the dog sat with a friend; that is not unusual."),
        (2, "le chat est avec un ami et la souris, ce n'est pas un souci"),
        (3, "der Hund ist nicht mit der Katze und das ist ein Problem"),
        (4, "el perro es un amigo y la gata no es que sea un problema con el sol"),
        (5, "!!! ??? ### $$$ %%%"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_token_counts(docs):
    r = {x.doc_id: x for x in TS.text_stats(docs).collect()}
    one = r[1]
    assert one.n_ws_tokens == 13
    # BPE-ish: letter runs + punct; "unusual." → 2 tokens, "friend;" → 2
    assert one.n_bpe_tokens == 15
    assert one.n_punct == 2
    assert r[5].quality_score < 0.3  # punctuation soup scores low
    assert r[1].quality_score > r[5].quality_score


def test_quality_monotonic_in_stopwords(docs):
    r = {x.doc_id: x for x in TS.text_stats(docs).collect()}
    assert r[1].stopword_ratio > 0.3  # English text hits English markers
    assert r[2].stopword_ratio < r[1].stopword_ratio


def test_langid(docs):
    pred = {x.doc_id: x.lang_pred for x in TS.lang_scores(docs).collect()}
    assert pred[1] == "en"
    assert pred[2] == "fr"
    assert pred[3] == "de"
    assert pred[4] == "es"
    assert pred[5] == "de"  # all-zero scores → lexicographic first


def test_fingerprint_properties(docs, spark):
    fp = {x.doc_id: x.fingerprint for x in TS.fingerprint(docs).collect()}
    assert fp[1] != fp[2]
    # normalization: case and whitespace-runs don't change the fingerprint
    variants = spark.createDataFrame(
        [(10, "Hello   World"), (11, "hello world"), (12, "hello  WORLD ")],
        "doc_id long, text string",
    )
    vf = {x.doc_id: x.fingerprint for x in TS.fingerprint(variants).collect()}
    assert vf[10] == vf[11]
    assert vf[11] != vf[12]  # trailing space IS significant (only runs collapse)
    # python reference implementation agrees
    def py_fp(s):
        import re
        h = 0
        for ch in re.sub(r"\s+", " ", s.lower()):
            h = (h * TS.FP_BASE + ord(ch)) % TS.FP_MOD
        return h
    assert vf[11] == py_fp("hello world")


def test_fingerprint_arrow_equals_hof_twin(spark):
    """The vectorized Arrow kernel and the interpreted F.aggregate twin
    are the same function — including empties, nulls, whitespace runs,
    single chars, and a doc long enough to exercise the pow table."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, None),
        (4, " "),
        (5, "a"),
        (6, "x " * 500 + "end"),
        (7, "MiXeD   CaSe\twith\ntabs and\r\nnewlines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = {x.doc_id: x.fingerprint for x in TS.fingerprint(docs).collect()}
    hof = {
        x.doc_id: x.fingerprint
        for x in TS.fingerprint(docs, use_arrow=False).collect()
    }
    assert arrow == hof
    assert arrow[2] == 0 and arrow[3] is None


def test_fingerprint_non_ascii_fallback(spark):
    """A batch with non-ASCII bytes takes the ord() fallback and still
    matches the pure-python fold (codepoint semantics, like DuckDB's
    ascii())."""
    import re

    rows = [(1, "héllo wörld"), (2, "naïve café ± µ"), (3, "plain ascii")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {x.doc_id: x.fingerprint for x in TS.fingerprint(docs).collect()}

    def py_fp(s):
        h = 0
        for ch in re.sub(r"\s+", " ", s.lower()):
            h = (h * TS.FP_BASE + ord(ch)) % TS.FP_MOD
        return h

    for doc_id, text in rows:
        assert got[doc_id] == py_fp(text)


def test_empty_text_safe(docs):
    stats = {x.doc_id: x for x in TS.text_stats(docs).collect()}
    assert stats[6].n_ws_tokens in (0, 1)  # split('') edge
    assert stats[6].quality_score is not None


def test_train_test_split_deterministic_and_sized(spark):
    """Split membership depends only on the id: stable across runs and
    partitionings, ~train_frac sized, and edge fractions behave."""
    docs = spark.createDataFrame(
        [(i, "t") for i in range(2000)], "doc_id long, text string"
    )
    a = {r.doc_id: r.split for r in TS.train_test_split(docs).collect()}
    b = {
        r.doc_id: r.split
        for r in TS.train_test_split(docs.repartition(13)).collect()
    }
    assert a == b
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert abs(frac - 204 / 256) < 0.03
    all_train = TS.train_test_split(docs, train_frac=1.0).collect()
    assert all(r.split == "train" for r in all_train)
    all_test = TS.train_test_split(docs, train_frac=0.0).collect()
    assert all(r.split == "test" for r in all_test)


def test_top_ngrams(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a b x"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    got = [(r.ngram, r.n) for r in TS.top_ngrams(docs, n=2, k=3).collect()]
    assert got == [("a b", 3), ("b c", 1), ("b x", 1)]
    tri = [(r.ngram, r.n) for r in TS.top_ngrams(docs, n=3, k=10).collect()]
    assert ("a b c", 1) in tri and all(len(g.split()) == 3 for g, _ in tri)


def test_text_queries_prune_scan_columns(spark):
    """Column pruning reaches the parquet scan for the text operators:
    a 2-column projection must not read the whole documents table."""
    import os
    import re
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    want = {
        "docs_top_ngrams": {"text"},
        "docs_fingerprint": {"doc_id", "text"},
        "docs_langid": {"doc_id", "text"},
        "docs_pii_scrub": {"doc_id", "text"},
        "docs_repetition": {"doc_id", "text"},
        "docs_word_rarity": {"doc_id", "text"},
        "docs_gopher_quality": {"doc_id", "text"},
        "docs_tfidf_terms": {"doc_id", "text"},
        "docs_subsample_k": {"doc_id", "source"},
    }
    for name, cols in want.items():
        df = E.queries()[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, plan[:500]
        for s in schemas:
            got = {c.split(":")[0] for c in s.split(",") if c}
            assert got <= cols, (name, got)


def test_round6_equals_floor_scale_reference_on_boundaries(spark):
    """round6 must agree with the pure-python floor-scale fold on the
    exact .xxxxxx5 boundary values that broke engine-round parity
    (multiples of 0.25e-6 plus the measured sf0.1 case)."""
    import math

    vals = [i * 0.25e-6 for i in range(0, 40_000, 37)] + [
        0.8762625, 0.0000005, 0.9999995, 0.1250005, 1.0,
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {r.i: r.q for r in df.select("i", TS.round6(F.col("v")).alias("q")).collect()}
    for i, v in enumerate(vals):
        assert got[i] == math.floor(v * 1e6 + 0.5) / 1e6, (i, v, got[i])


def test_pii_scrub_counts_and_redacts(spark):
    rows = [
        (1, "mail me at a.b+c@test-site.org or https://x.io/p?q=1 call 555-0110"),
        (2, "no pii here at all"),
        (3, "two mails x@y.de and z@w.co plus http://plain.example and 123-4567"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TS.pii_scrub(df).collect()}
    assert (got[1].n_email, got[1].n_url, got[1].n_phone) == (1, 1, 1)
    assert (got[2].n_email, got[2].n_url, got[2].n_phone) == (0, 0, 0)
    assert (got[3].n_email, got[3].n_url, got[3].n_phone) == (2, 1, 1)
    assert got[1].clean_text == "mail me at <EMAIL> or <URL> call <PHONE>"
    assert got[3].clean_text == "two mails <EMAIL> and <EMAIL> plus <URL> and <PHONE>"
    assert got[2].clean_text == "no pii here at all"
    assert got[4].clean_text == ""


def test_repetition_score_exact_values(spark):
    rows = [
        (1, "a b a b a b"),          # grams: aba bab aba bab -> 4 total 2 distinct
        (2, "w x y z"),              # grams: wxy xyz -> all distinct
        (3, "only two"),             # < 3 words -> no grams
        (4, "r r r r r r r r"),      # 6 identical grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TS.repetition_score(df).collect()}
    assert (got[1].n_words, got[1].n_ngrams, got[1].rep_frac) == (6, 4, 0.5)
    assert (got[2].n_ngrams, got[2].rep_frac) == (2, 0.0)
    assert (got[3].n_ngrams, got[3].rep_frac) == (0, 0.0)
    assert (got[4].n_ngrams, got[4].rep_frac) == (6, pytest.approx(1 - 1 / 6, abs=1e-6))


def test_gopher_quality_flags(spark):
    """Hand-built docs triggering each rule independently; thresholds
    are integer cross-multiplications, so values are exact."""
    good = " ".join(
        ["the quick brown fox jumps over lazy dogs and cats with glee"] * 5
    )  # 60 words, all alpha, has 'the'/'and'/'with', mean len in [3,10]
    rows = [
        (1, good),
        (2, "too short to pass the word count rule with ease"),  # < 50 words
        (3, " ".join(["ab"] * 60)),  # mean word len 2 < 3, no stopwords
        (4, " ".join(["the", "and"] * 30) + " " + " ".join(["123"] * 40)),  # alpha 60/100 < 80%
        (5, good + " " + " ".join(["#"] * 20)),  # 80 words, 20 symbols > 10%
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TS.gopher_quality(df).collect()}
    assert got[1].passes
    assert (got[1].n_words, got[1].n_alpha_words) == (60, 60)
    assert not got[2].flag_word_count and got[2].flag_alpha_words
    assert not got[3].flag_mean_word_len and not got[3].flag_stop_words
    assert not got[4].flag_alpha_words and got[4].flag_stop_words
    assert not got[5].flag_symbol_ratio and got[5].n_symbols == 20
    assert not got[6].passes
    for d in (2, 3, 4, 5, 6):
        assert not got[d].passes


def test_tfidf_top_terms_exact(spark):
    """3-doc corpus with hand-computable tf-idf: 'x' appears only in
    doc 1 (idf ln 3), 'c' in all docs (idf 0)."""
    import math

    rows = [(1, "x x c"), (2, "y c"), (3, "z c c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TS.tfidf_top_terms(df, k=2).collect()
    got = {(r.doc_id, r.rank): (r.term, r.tfidf) for r in out}
    q = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    assert got[(1, 1)] == ("x", q(2 / 3 * math.log(3)))
    # doc 1 rank 2: 'c' with tfidf 0 (idf ln(3/3)=0)
    assert got[(1, 2)] == ("c", 0.0)
    assert got[(2, 1)] == ("y", q(1 / 2 * math.log(3)))
    assert got[(3, 1)] == ("z", q(1 / 3 * math.log(3)))
    # ties at 0 break on the term string: doc 2 rank 2 is 'c'
    assert got[(2, 2)][0] == "c"


def test_word_rarity_exact_ranks(spark):
    """Hand-checkable corpus: ranks by (freq desc, word asc); mean rank
    is the exact integer ratio, round6-quantized."""
    rows = [(1, "a a b"), (2, "b c"), (3, "a")]
    # freqs: a=4, b=2, c=1 → ranks a=1, b=2, c=3
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.mean_rank) for r in TS.word_rarity(df).collect()}
    assert got[1] == (3, pytest.approx((1 + 1 + 2) / 3, abs=1e-6))
    assert got[2] == (2, pytest.approx((2 + 3) / 2, abs=1e-6))
    assert got[3] == (1, 1.0)


def test_bigram_lm_score_exact(spark):
    """Hand corpus: 'a b' occurs twice and 'a c' once → P(b|a)=2/3,
    P(c|a)=1/3; a fully-predictable doc scores lower (better) than a
    surprising one; <2-word docs come back 0/0.0."""
    import math

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TS.bigram_lm_score(df).collect()}
    q = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    assert got[1].n_bigrams == 1 and got[1].neg_avg_logp == q(-math.log(2 / 3))
    assert got[3].neg_avg_logp == q(-math.log(1 / 3))
    assert got[3].neg_avg_logp > got[1].neg_avg_logp  # rarer continuation
    assert (got[4].n_bigrams, got[4].neg_avg_logp) == (0, 0.0)


def test_kneser_ney_score_exact(spark):
    """Hand corpus mirrors the closed form: with bigrams 'a b'×2 and
    'a c'×1, c(a·)=3, N1+(a·)=2, N1+(·b)=N1+(·c)=1, T=2 and D=0.75:
    P(b|a) = 1.25/3 + (0.75·2/3)·(1/2), P(c|a) = 0.25/3 + same
    backoff. Scores follow the micro-nat quantization exactly;
    <2-word docs come back 0/0.0."""
    import math

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TS.kneser_ney_score(df).collect()}

    def kn(cb, cw, n1f, n1p, t):
        p = max(cb - 0.75, 0.0) / cw + (0.75 * n1f / cw) * (n1p / t)
        lp = math.floor(math.log(p) * 1e6 + 0.5)
        return math.floor((-lp / (1e6 * 1)) * 1e6 + 0.5) / 1e6

    assert got[1].n_bigrams == 1 and got[1].kn_xent == kn(2, 3, 2, 1, 2)
    assert got[3].kn_xent == kn(1, 3, 2, 1, 2)
    assert got[3].kn_xent > got[1].kn_xent  # discounted MLE dominates
    assert (got[4].n_bigrams, got[4].kn_xent) == (0, 0.0)


def test_kneser_ney_continuation_beats_frequency(spark):
    """The KN signature: a w2 that follows MANY distinct contexts gets
    more backoff mass than an equally-frequent w2 welded to one
    context. 'z' appears 3× but only ever after 'q'; 'b' appears 3×
    after 3 different words → unseen-context backoff favors b."""
    rows = [
        (1, "q z"), (2, "q z"), (3, "q z"),
        (4, "u b"), (5, "v b"), (6, "w b"), (7, "s b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TS.kneser_ney_score(df).collect()}
    # P(z|q) = (3-.75)/3 + (.75/3)(1/5) = 0.80
    # P(b|u) = (1-.75)/1 + (.75)(4/5)  = 0.85 — versatility wins
    assert got[4].kn_xent < got[1].kn_xent


def test_gopher_quality_matches_python_reference(spark):
    """Property test: flags equal a pure-python reference on random
    texts mixing words, digits, symbols, and ellipses."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    vocab = ["the", "be", "to", "of", "and", "cat", "dog", "x1", "123",
             "#", "...", "ab", "supercalifragilistic"]

    def ref(t):
        ws = t.strip().lower().split()
        n = len(ws) if ws else 1  # split('') → [''] in Spark: 1 token
        if t.strip() == "":
            ws = [""]
            n = 1
        sum_chars = sum(len(w) for w in ws)
        n_alpha = sum(1 for w in ws if any(c.isalpha() and c.isascii() for c in w))
        stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
        n_stop = len(set(ws) & stops)
        n_sym = t.count("#") + t.count("...")
        return (
            50 <= n <= 100_000,
            3 * n <= sum_chars <= 10 * n,
            5 * n_alpha >= 4 * n,
            n_stop >= 2,
            10 * n_sym <= n,
        )

    @settings(max_examples=5, deadline=None)
    @given(st.integers(0, 10_000))
    def case(seed):
        rng = random.Random(seed)
        texts = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 70))))
            for i in range(8)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            r.doc_id: (
                r.flag_word_count, r.flag_mean_word_len, r.flag_alpha_words,
                r.flag_stop_words, r.flag_symbol_ratio,
            )
            for r in TS.gopher_quality(df).collect()
        }
        for i, t in texts:
            assert got[i] == ref(t), (i, t, got[i], ref(t))

    case()


def test_token_counts_matches_python_reference(spark):
    import re

    from stash_log_parser_spark.operators.textstats import TOKEN_RE, token_counts

    rows = [
        (1, "Hello, world! 42 foo_bar"),
        (2, ""),
        (3, "   "),
        (4, "a1b2 --code() {x}"),
        (5, "héllo wörld 3.14"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_alpha, r.n_digit, r.n_symbol)
        for r in token_counts(df).collect()
    }
    for doc_id, text in rows:
        toks = re.findall(TOKEN_RE, text.strip().lower())
        na = sum(1 for t in toks if re.fullmatch("[a-z]+", t))
        nd = sum(1 for t in toks if re.fullmatch("[0-9]+", t))
        assert got[doc_id] == (len(toks), na, nd, len(toks) - na - nd), doc_id


def test_quantile_normalize_rank_properties(spark):
    from stash_log_parser_spark.operators.textstats import quantile_normalize

    rows = [(i, f"s{i % 2}", float(i % 7) / 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = quantile_normalize(df, "score").collect()
    assert all(0.0 <= r.q_norm <= 1.0 for r in out)
    # within a source, q_norm is strictly increasing along (score, doc_id)
    for src in ("s0", "s1"):
        grp = sorted(
            (r for r in out if r.source == src),
            key=lambda r: (r.score, r.doc_id),
        )
        qs = [r.q_norm for r in grp]
        assert qs == sorted(qs) and len(set(qs)) == len(qs)
        assert qs[0] == 0.0 and qs[-1] == 1.0


class TestCharEntropy:
    def _ent(self, spark, text):
        from stash_log_parser_spark.operators.textstats import char_entropy

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return char_entropy(df).collect()[0]

    def test_uniform_char_is_zero_bits(self, spark):
        r = self._ent(spark, "aaaa")
        assert r["entropy_bits"] == 0.0 and r["n_chars"] == 4

    def test_two_symbols_is_one_bit(self, spark):
        assert self._ent(spark, "abab")["entropy_bits"] == pytest.approx(1.0)

    def test_four_symbols_is_two_bits(self, spark):
        assert self._ent(spark, "abcd")["entropy_bits"] == pytest.approx(2.0)

    def test_matches_python_reference(self, spark):
        import collections
        import math

        text = "the quick brown fox jumps over the lazy dog"
        c = collections.Counter(text)
        n = len(text)
        want = -sum(v / n * math.log2(v / n) for v in c.values())
        got = self._ent(spark, text)["entropy_bits"]
        assert got == pytest.approx(want, abs=1e-6)


class TestWinsorizedStats:
    def _stats(self, spark, values, extra=()):
        from stash_log_parser_spark.operators.textstats import winsorized_stats

        rows = [("s", v) for v in values] + list(extra)
        df = spark.createDataFrame(rows, "source string, n_chars long")
        return {
            r["source"]: r
            for r in winsorized_stats(df, "n_chars", "source").collect()
        }

    def test_deciles_of_1_to_10(self, spark):
        r = self._stats(spark, list(range(1, 11)))["s"]
        # rank_lo=(10+9)//10=1 -> 1, rank_hi=(90+9)//10=9 -> 9
        assert (r["lo_val"], r["hi_val"]) == (1, 9)
        assert r["winsorized_sum"] == 54  # sum 1..10 = 55, 10 clamped to 9
        assert r["winsorized_mean"] == 5.4

    def test_outlier_immune(self, spark):
        base = self._stats(spark, list(range(1, 11)))["s"]
        wild = self._stats(spark, list(range(1, 10)) + [10_000_000])["s"]
        assert wild["winsorized_sum"] == base["winsorized_sum"]

    def test_groups_independent(self, spark):
        from stash_log_parser_spark.operators.textstats import winsorized_stats

        rows = [("a", v) for v in range(1, 11)] + [("b", v * 100) for v in range(1, 11)]
        df = spark.createDataFrame(rows, "source string, n_chars long")
        out = {r["source"]: r for r in winsorized_stats(df, "n_chars", "source").collect()}
        assert out["a"]["winsorized_sum"] * 100 == out["b"]["winsorized_sum"]


class TestUrlDomains:
    def test_extracts_and_counts(self, spark):
        from stash_log_parser_spark.operators.textstats import url_domains

        df = spark.createDataFrame(
            [
                (1, "go to https://a.example.com/x and http://b.example.org/y"),
                (2, "again https://a.example.com/z"),
                (3, "no urls here"),
            ],
            "doc_id long, text string",
        )
        out = {r["domain"]: r for r in url_domains(df).collect()}
        assert out["a.example.com"]["n_mentions"] == 2
        assert out["a.example.com"]["n_docs"] == 2
        assert out["b.example.org"]["n_mentions"] == 1
        assert set(out) == {"a.example.com", "b.example.org"}


def test_token_pmi_matches_pure_python(spark):
    import math
    from collections import Counter

    texts = {
        1: "new york is a big city",
        2: "new york has new ideas",
        3: "the city is big and the city is loud",
        4: "york new city big new york",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.pair: (r.n_pair, r.pmi)
        for r in TS.token_pmi_pairs(docs, min_count=2, top_k=100).collect()
    }
    uni = Counter()
    big = Counter()
    for t in texts.values():
        ws = t.split()
        uni.update(ws)
        big.update(f"{a} {b}" for a, b in zip(ws, ws[1:]))
    T, N = sum(uni.values()), sum(big.values())
    exp = {}
    for p, c in big.items():
        if c >= 2:
            a, b = p.split()
            pmi = math.log((c * T * T) / (uni[a] * uni[b] * N))
            exp[p] = (c, math.floor(pmi * 1e6 + 0.5) / 1e6)
    assert got == exp
    assert got["new york"][0] == 3  # the planted collocation survives


def test_tokenizer_fertility_ratios(spark):
    docs = spark.createDataFrame(
        [(1, "a", "ab cd"), (2, "a", "x1!")],
        "doc_id long, source string, text string",
    )
    row = TS.tokenizer_fertility(docs).collect()[0]
    # "ab cd" -> 2 tokens/2 words; "x1!" -> 3 tokens ("x","1","!")/1 word
    assert row.n_tokens == 5 and row.n_words == 3 and row.n_chars == 8
    assert row.tokens_per_word == pytest.approx(5 / 3, abs=1e-6)
    assert row.chars_per_token == 1.6


def test_bpe_learn_merges_matches_pure_python(spark):
    from collections import Counter

    texts = {
        1: "low lower lowest low low",
        2: "new newer newest new lower",
        3: "低 low new",  # multibyte survives the char split
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    merges, vocab = TS.bpe_learn_merges(docs, n_merges=5)
    got = [(r.step, r.left, r.right, r.pair_count) for r in merges.collect()]

    wc = Counter(w for t in texts.values() for w in t.lower().split())
    syms = {w: list(w) for w in wc}
    exp = []
    for step in range(1, 6):
        pc = Counter()
        for w, toks in syms.items():
            for a, b in zip(toks, toks[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        exp.append((step, a, b, cnt))
        for w, toks in syms.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            syms[w] = out
    assert got == exp
    # 'lo'+'w' must be learned early ('low' appears in 7 words)
    assert any(m[1] + m[2] == "low" for m in got[:3])
    # final vocab symbolization is consistent with the python mirror
    S = TS.BPE_SEP
    vgot = {
        r.word: r.sym.strip(S).split(S + S) for r in vocab.collect()
    }
    assert vgot == syms


def test_bpe_greedy_left_to_right_overlap(spark):
    # "aaa" under merge (a,a): greedy gives (aa)(a), never a(aa)
    docs = spark.createDataFrame([(1, "aaa aaa b")], "doc_id long, text string")
    merges, vocab = TS.bpe_learn_merges(docs, n_merges=1)
    m = merges.collect()[0]
    assert (m.left, m.right, m.pair_count) == ("a", "a", 4)
    S = TS.BPE_SEP
    syms = {r.word: r.sym for r in vocab.collect()}
    assert syms["aaa"] == S + "aa" + S + S + "a" + S


def test_vocab_coverage_hand_counts(spark):
    # counts: a=4, b=2, c=1 -> top-1 covers 4/7, top-2 covers 6/7
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c a")], "doc_id long, text string"
    )
    out = {r.k: r for r in TS.vocab_coverage(docs, ks=(1, 2, 10)).collect()}
    assert (out[1].covered_tokens, out[1].coverage_frac) == (4, 0.571429)
    assert (out[2].covered_tokens, out[2].coverage_frac) == (6, 0.857143)
    assert out[10].vocab_size == 3 and out[10].coverage_frac == 1.0


def test_oov_rate_matches_pure_python(spark):
    import hashlib
    import math
    from collections import Counter

    texts = {i: f"w{i % 5} w{i % 3} common" for i in range(40)}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = TS.oov_rate(docs, vocab_k=2, train_frac=0.8).collect()[0]
    is_train = {
        i: hashlib.md5(str(i).encode()).hexdigest()[:2] < "cc" for i in texts
    }
    tc = Counter(w for i, t in texts.items() if is_train[i] for w in t.split())
    vocab = set(
        w for w, _ in sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    )
    test_toks = [w for i, t in texts.items() if not is_train[i] for w in t.split()]
    n_oov = sum(w not in vocab for w in test_toks)
    assert (got.vocab_size, got.n_test_tokens, got.n_oov) == (
        2, len(test_toks), n_oov,
    )
    assert got.oov_rate == math.floor(n_oov / len(test_toks) * 1e6 + 0.5) / 1e6


def test_bpe_apply_stats_compression(spark):
    # 'aaaa' x4 + 'ab' x1: merges (a,a) then (aa,aa) collapse 'aaaa'
    # to ONE token; 'ab' stays 2 chars -> 2 tokens (no 'ab' merge yet)
    docs = spark.createDataFrame(
        [(1, "s1", "aaaa aaaa ab"), (2, "s1", "aaaa aaaa")],
        "doc_id long, source string, text string",
    )
    out = TS.bpe_apply_stats(docs, n_merges=2).collect()[0]
    assert (out.n_words, out.n_chars) == (5, 18)
    # 4x 'aaaa' -> 1 token each; 'ab' -> 2 tokens
    assert out.n_tokens == 6
    assert out.chars_per_token == 3.0
    assert out.tokens_per_word == 1.2


def test_bm25_topk_matches_pure_python(spark):
    import math

    from stash_log_parser_spark.operators.textstats import bm25_topk

    corpus = {
        1: "apple banana cherry",
        2: "apple apple durian",
        3: "banana cherry cherry durian",
        4: "elderberry fig grape",
        5: "apple banana elderberry elderberry",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    out = [
        (r.query_id, r.rank, r.doc_id, r.score, r.n_terms)
        for r in bm25_topk(
            docs, n_queries=2, q_terms=8, k=3, k1=1.2, b=0.75
        ).collect()
    ]

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    toks = {d: t.split() for d, t in corpus.items()}
    n_docs = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n_docs
    df = {}
    for ws in toks.values():
        for w in set(ws):
            df[w] = df.get(w, 0) + 1
    expect = []
    for qid in (1, 2):
        qset = list(dict.fromkeys(toks[qid]))[:8]
        scored = []
        for d, ws in toks.items():
            if d == qid:
                continue
            s, nt = 0.0, 0
            for t in qset:
                tf = ws.count(t)
                if tf == 0:
                    continue
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                dl = len(ws)
                s += q6(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                nt += 1
            if nt:
                scored.append((-q6(s), d, nt))
        scored.sort()
        for rank, (neg, d, nt) in enumerate(scored[:3], 1):
            expect.append((qid, rank, d, -neg, nt))
    assert out == expect


def test_bm25_rare_term_outweighs_common(spark):
    from stash_log_parser_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "zebra common common"),
            (2, "zebra common"),
            (3, "common common common"),
            (4, "common filler filler"),
            (5, "filler filler filler"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, n_queries=1, q_terms=8, k=3).collect()
    # query doc 1 = {zebra, common}; doc 2 shares the rare 'zebra' -> top
    assert out[0].query_id == 1 and out[0].doc_id == 2


def test_readability_by_source_hand_case(spark):
    import math

    from stash_log_parser_spark.operators.textstats import (
        readability_by_source,
    )

    docs = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!", "a"),
            (2, "no sentence punctuation here", "a"),
            (3, "Incomprehensibility characterizes bureaucracy.", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in readability_by_source(docs).collect()}
    # source a: doc1 w=6 s=2 y=6; doc2 w=4 s=1(min) y=9
    a = out["a"]
    assert (a.n_docs, a.tot_words, a.tot_sentences, a.tot_syllables) == (
        2, 10, 3, 15,
    )
    f = 206.835 - 1.015 * (10 / 3) - 84.6 * (15 / 10)
    assert a.flesch == math.floor(f * 1e6 + 0.5) / 1e6
    b = out["b"]
    assert b.tot_words == 3 and b.tot_sentences == 1


def test_ppl_buckets_tiers_and_census(spark):
    from stash_log_parser_spark.operators.textstats import ppl_buckets

    # 6 docs, one source: two share a fluent bigram pattern, others rare
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "a"),
            (2, "the cat sat on the mat", "a"),
            (3, "the cat sat on the mat", "a"),
            (4, "purple quantum banana yodels", "a"),
            (5, "zebra xylophone gravy moon", "a"),
            (6, "the cat sat on a hat", "a"),
        ],
        "doc_id long, text string, source string",
    )
    out = ppl_buckets(docs, n_buckets=3).collect()
    tiers = {r.tier: r for r in out}
    assert set(tiers) == {"head", "middle", "tail"}
    assert sum(r.n_docs for r in out) == 6
    # each equal-frequency tier has 2 docs; fluency ranks head<=mid<=tail
    assert all(r.n_docs == 2 for r in out)
    assert tiers["head"].min_score <= tiers["middle"].min_score
    assert tiers["middle"].max_score <= tiers["tail"].max_score
    # the repeated-template docs are the most corpus-typical -> head
    assert tiers["head"].max_score <= tiers["tail"].min_score


def test_pair_bleu_hand_case(spark):
    from stash_log_parser_spark.operators.textstats import pair_bleu

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "a"),
            (2, "the cat the cat sat", "a"),
            (3, "completely different words here", "a"),
        ],
        "doc_id long, text string, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    out = {(r.doc_a, r.doc_b): r for r in pair_bleu(docs, pairs).collect()}
    r12 = out[(1, 2)]
    # cand = doc2 (5 words: the x2, cat x2, sat); ref has the x2, cat, sat
    # clipped unigrams: min(2,2)+min(2,1)+min(1,1) = 4 -> p1 = 4/5
    assert r12.n_cand_words == 5 and r12.p1 == 0.8
    # cand bigrams: [the cat, cat the, the cat, cat sat];
    # ref bigrams has 'the cat' x1, 'cat sat' x1 -> clipped 1+0+1 = 2/4
    assert r12.p2 == 0.5
    import math

    assert r12.bleu2 == math.floor(math.sqrt(0.8 * 0.5) * 1e6 + 0.5) / 1e6
    r13 = out[(1, 3)]
    assert r13.p1 == 0.0 and r13.p2 == 0.0 and r13.bleu2 == 0.0


def test_ntile_agg_hist_matches_ntile_window(spark):
    """The histogram route must be BIT-identical to ntile(4) aggregates:
    group sizes indivisible by 4, heavy ties (small value domain), and
    groups smaller than the tile count."""
    import numpy as np
    from pyspark.sql import Window

    from stash_log_parser_spark.operators.textstats import ntile_agg_hist

    rng = np.random.RandomState(20260818)
    rows = []
    did = 0
    for g, n in [("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5),
                 ("f", 7), ("g", 40), ("h", 101), ("i", 1000)]:
        for v in rng.randint(0, 12, size=n):
            rows.append((f"d{did}", g, int(v)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id string, source string, n_chars long")

    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    truth = (
        df.withColumn("q", F.ntile(4).over(w))
        .groupBy("source", "q")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.col("n_chars").cast("long")).alias("total_chars"))
    )
    got = ntile_agg_hist(df, "source", "n_chars", n_tiles=4)
    t = {(r.source, r.q): (r.n_docs, r.total_chars) for r in truth.collect()}
    h = {(r.source, r.q): (r.n_docs, r.total_chars) for r in got.collect()}
    assert h == t

    # scale shape: no ntile, no join, no second scan — the only
    # exchanges are the histogram agg, the per-group window, and the
    # final presentation sort.
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    import re

    assert "ntile" not in plan
    assert "Join" not in plan
    # numbered node entries, one per physical operator, counted only in
    # the AQE final-plan section (explain repeats the initial plan too)
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\(\d+\) Exchange", final)) <= 3


def test_zipf_fit_matches_numpy_on_quantized_points(spark):
    """The OLS closed form over the 1e-4-quantized (ln rank, ln freq)
    points must equal a numpy fit of the SAME quantized integers."""
    import math

    import numpy as np

    from stash_log_parser_spark.operators.textstats import zipf_fit

    # freq = 60/rank exactly -> slope must come out ~ -1
    text = " ".join(
        w for w, n in [("alpha", 60), ("beta", 30), ("gamma", 20), ("delta", 15),
                       ("eps", 12), ("zeta", 10)] for w in [w] * n
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_fit(df, top_k=6).collect()[0]
    freqs = [60, 30, 20, 15, 12, 10]
    x = np.array([math.floor(math.log(i + 1) * 1e4 + 0.5) for i in range(6)])
    y = np.array([math.floor(math.log(f) * 1e4 + 0.5) for f in freqs])
    n = 6
    slope = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    intercept = (y.sum() - slope * x.sum()) / n / 1e4
    assert r.n_words == 6
    assert r.zipf_slope == math.floor(slope * 1e6 + 0.5) / 1e6
    assert r.zipf_intercept == math.floor(intercept * 1e6 + 0.5) / 1e6
    assert -1.05 < r.zipf_slope < -0.95  # freq = 60/rank is exactly zipf


def test_quality_calibration_hand_case(spark):
    import hashlib

    from stash_log_parser_spark.operators.textstats import quality_calibration

    rows = [
        (1, "abcde12345", "en", "web", 10),   # a=5, n=10 → bin 5, p_e6 500000
        (2, "aaaaaaaaa1", "en", "web", 10),   # a=9, n=10 → bin 9
        (3, "1234567890", "en", "web", 10),   # a=0 → bin 0, label 0 always
        (4, "", "en", "web", 0),              # filtered (n_chars == 0)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    got = {r.bin: r for r in quality_calibration(docs).collect()}
    assert set(got) == {0, 5, 9}
    assert got[0].n_pos == 0 and got[0].mean_pred == 0.0
    # label mirror: u24*n < a*2^24
    for doc_id, a, n, b in [(1, 5, 10, 5), (2, 9, 10, 9)]:
        u24 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16)
        assert got[b].n_pos == (1 if u24 * n < a * (1 << 24) else 0)
    assert got[5].mean_pred == 0.5 and got[9].mean_pred == 0.9


def test_label_agreement_hand_kappa(spark):
    from stash_log_parser_spark.operators.textstats import label_agreement

    # r1 = n_chars >= 4 (toy threshold), r2 = majority-alpha
    docs = spark.createDataFrame(
        [
            (1, "abcd", "en", "w", 4),   # r1=1 r2=1
            (2, "ab12", "en", "w", 4),   # r1=1 r2=1 (2*2 >= 4)
            (3, "a123", "en", "w", 4),   # r1=1 r2=0
            (4, "ab", "en", "w", 2),     # r1=0 r2=1
            (5, "12", "en", "w", 2),     # r1=0 r2=0
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    r = label_agreement(docs, len_threshold=4).collect()[0]
    assert (r.n11, r.n10, r.n01, r.n00) == (2, 1, 1, 1)
    po = 3 / 5
    pe = (3 * 3 + 2 * 2) / 25
    want = (po - pe) / (1 - pe)
    import math

    assert r.kappa == math.floor(want * 1e6 + 0.5) / 1e6


def test_label_agreement_degenerate_pe_one_is_null(spark):
    from stash_log_parser_spark.operators.textstats import label_agreement

    docs = spark.createDataFrame(
        [(1, "abcd", "en", "w", 4), (2, "efgh", "en", "w", 4)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    r = label_agreement(docs, len_threshold=1).collect()[0]
    assert r.n11 == 2 and r.kappa is None


def test_topic_tags_hand_case(spark):
    docs = spark.createDataFrame(
        [
            (1, "scan scan merge table", "s1"),
            (2, "nothing matches here", "s1"),
            (3, "window stream", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    lex = {"exec": ["scan", "merge"], "stream": ["stream", "window"]}
    rows = TS.topic_tags(docs, lexicon=lex).collect()
    got = {(r.source, r.topic): r for r in rows}
    # ordered by (source, topic) and dense over the lexicon
    assert [(r.source, r.topic) for r in rows] == [
        ("s1", "exec"), ("s1", "stream"), ("s2", "exec"), ("s2", "stream"),
    ]
    assert (got[("s1", "exec")].n_docs, got[("s1", "exec")].hits) == (1, 3)
    assert got[("s1", "exec")].hit_rate == 0.5  # 1 of 2 s1 docs
    assert (got[("s1", "stream")].n_docs, got[("s1", "stream")].hits) == (0, 0)
    assert (got[("s2", "stream")].n_docs, got[("s2", "stream")].hits) == (1, 2)


def test_topic_tags_is_case_insensitive_and_multi_topic(spark):
    docs = spark.createDataFrame(
        [(1, "SCAN Table", "s")], "doc_id long, text string, source string"
    )
    lex = {"a": ["scan"], "b": ["scan", "table"]}
    got = {r.topic: r for r in TS.topic_tags(docs, lexicon=lex).collect()}
    # the same word counts toward every topic listing it
    assert got["a"].hits == 1 and got["b"].hits == 2


# ---------------------------------------------------------------------------
# stats ops: linear probe / spearman / chi-square
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def stat_docs(spark):
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "x1", "y22", "!!", "zz"]
    rows = []
    for i in range(80):
        n_words = rng.randint(3, 40)
        text = " ".join(rng.choice(words) for _ in range(n_words))
        src = "web" if i % 3 else "books"
        rows.append((i, text, "en", src, len(text)))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).cache()


def test_token_linear_probe_matches_lstsq(stat_docs):
    import re

    import numpy as np

    r = TS.token_linear_probe(stat_docs).collect()[0]
    rows = stat_docs.collect()
    feats = []
    for d in rows:
        t = d.text.strip()
        if d.n_chars <= 0 or not t:
            continue
        x1 = d.n_chars
        x2 = len(re.sub("[^A-Za-z]", "", d.text))
        y = len(re.split(r"\s+", t))
        feats.append((x1, x2, y))
    X = np.array([[1.0, x1, x2] for x1, x2, _ in feats])
    y = np.array([float(y) for _, _, y in feats])
    w, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert r.n_docs == len(feats)
    assert abs(r.w_intercept - w[0]) < 1e-4
    assert abs(r.w_nchars - w[1]) < 1e-4
    assert abs(r.w_alpha - w[2]) < 1e-4
    pred = X @ w
    sse = float(((y - pred) ** 2).sum())
    sst = float(((y - y.mean()) ** 2).sum())
    assert abs(r.r2 - (1 - sse / sst)) < 1e-4
    assert 0.0 <= r.r2 <= 1.0


def _py_spearman(xs, ys):
    from collections import Counter

    def avg_ranks(vals):
        cnt = Counter(vals)
        ranks, cb = {}, 0
        for v in sorted(cnt):
            ranks[v] = cb + (cnt[v] + 1) / 2
            cb += cnt[v]
        return [ranks[v] for v in vals]

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(rx)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    num = n * sxy - sx * sy
    den = ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
    return num / den


def test_signal_spearman_matches_reference(stat_docs):
    import re

    r = TS.signal_spearman(stat_docs).collect()[0]
    xs, ys = [], []
    for d in stat_docs.collect():
        if d.n_chars <= 0:
            continue
        xs.append(d.n_chars)
        ys.append(len(re.sub("[^A-Za-z]", "", d.text)) * 1000 // d.n_chars)
    assert r.n_docs == len(xs)
    assert abs(r.rho_spearman - _py_spearman(xs, ys)) < 1e-5


def test_signal_spearman_degenerate_is_null(spark):
    # constant n_chars → zero x-rank variance → NULL by contract
    rows = [
        (i, "a" * (i + 1) + "!" * (20 - i), "en", "s", 21) for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert TS.signal_spearman(df).collect()[0].rho_spearman is None
    # all-alpha docs: y constant at 1000 → NULL (y-variance zero)
    df2 = spark.createDataFrame(
        [(i, "a" * (i + 1), "en", "s", i + 1) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert TS.signal_spearman(df2).collect()[0].rho_spearman is None


def test_signal_spearman_sign(spark):
    # longer docs get LOWER alpha per-mille → rho == −1 exactly
    rows = [
        (i, "a" * 5 + "!" * i, "en", "s", 5 + i) for i in range(1, 11)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = TS.signal_spearman(df).collect()[0]
    assert r.rho_spearman == -1.0


def test_chi2_independence_extremes(spark):
    # perfectly independent 2×2: identical length mix in both sources
    rows = []
    k = 0
    for src in ("a", "b"):
        for ln in (10, 600):
            for _ in range(20):
                rows.append((k, "x" * ln, "en", src, ln))
                k += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = TS.chi2_independence(df).collect()[0]
    assert r.chi2 == 0.0 and r.dof == 1
    # perfectly dependent: source determines the bucket → Cramér's V = 1
    rows2 = [(i, "x" * 10, "en", "short", 10) for i in range(20)] + [
        (100 + i, "x" * 600, "en", "long", 600) for i in range(20)
    ]
    df2 = spark.createDataFrame(
        rows2, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r2 = TS.chi2_independence(df2).collect()[0]
    assert r2.cramers_v == 1.0
    assert abs(r2.chi2 - 40.0) < 1e-9  # chi2 = N for a perfect 2×2


def test_chi2_matches_reference(stat_docs):
    from collections import Counter

    r = TS.chi2_independence(stat_docs).collect()[0]
    cells = Counter()
    for d in stat_docs.collect():
        if d.n_chars <= 0:
            continue
        cells[(d.source, min(d.n_chars // 256, 7))] += 1
    n = sum(cells.values())
    rts = Counter()
    cts = Counter()
    for (s, b), o in cells.items():
        rts[s] += o
        cts[b] += o
    # sum over the FULL r×c grid — absent cells contribute e = rt*ct/n
    chi2 = sum(
        (n * cells.get((s, b), 0) - rts[s] * cts[b]) ** 2
        / (n * rts[s] * cts[b])
        for s in rts
        for b in cts
    )
    assert r.n_docs == n
    assert abs(r.chi2 - chi2) < 1e-6
    assert r.dof == (len(rts) - 1) * (len(cts) - 1)


def test_vocab_richness_hand_corpus(spark):
    # corpus: "a a a b b c d e" -> N=8 V=5 F1=3 (c,d,e) F2=1 (b)
    rows = [
        (0, "a a a b", "en", "s", 7),
        (1, "b c d e", "en", "s", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = TS.vocab_richness(df).collect()[0]
    assert (r.n_tokens, r.vocab_size, r.f1_hapax, r.f2_dis) == (8, 5, 3, 1)
    # chao1 = 5 + 3*2/(2*2) = 6.5 ; GT mass = 3/8 ; hapax ratio = 3/5
    assert r.chao1 == 6.5
    assert r.gt_unseen_mass == 0.375
    assert r.hapax_ratio == 0.6


def test_vocab_richness_no_hapax(spark):
    # every word appears twice -> F1=0 -> chao1 = V, unseen mass 0
    df = spark.createDataFrame(
        [(0, "x y x y", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = TS.vocab_richness(df).collect()[0]
    assert (r.n_tokens, r.vocab_size, r.f1_hapax, r.f2_dis) == (4, 2, 0, 2)
    assert r.chao1 == 2.0 and r.gt_unseen_mass == 0.0 and r.hapax_ratio == 0.0


def test_vocab_richness_case_and_whitespace(spark):
    # lowercasing folds "The"/"the"; multi-space and tabs split cleanly
    df = spark.createDataFrame(
        [(0, "The  the\tcat", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = TS.vocab_richness(df).collect()[0]
    assert (r.n_tokens, r.vocab_size, r.f1_hapax, r.f2_dis) == (3, 2, 1, 1)


def test_pmi_collocations_hand_corpus(spark):
    import math

    # "new york" always adjacent; fillers independent
    rows = [(i, "new york is big and new york is old", "en", "s", 30) for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = TS.pmi_collocations(df, top_k=5, min_count=3).collect()
    assert out, "expected candidate bigrams"
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    top = out[0]
    # brute-force reference over the bigram event space
    words = "new york is big and new york is old".split()
    bigrams = [(a, b) for a, b in zip(words, words[1:])] * 3
    from collections import Counter

    cb = Counter(bigrams)
    cx = Counter(a for a, _ in bigrams)
    cy = Counter(b for _, b in bigrams)
    n = len(bigrams)
    ref = {
        (x, y): math.log(c * n / (cx[x] * cy[y]))
        for (x, y), c in cb.items()
        if c >= 3
    }
    # operator tie-break: pmi desc, then (x, y) ASC
    best = sorted(
        ref.items(), key=lambda kv: (-round(kv[1] * 1e6), kv[0])
    )[0]
    assert (top.x, top.y) == best[0]
    assert abs(top.pmi - best[1]) < 2e-6
    # counts ride along exactly
    assert top.c_xy == cb[(top.x, top.y)]
    assert top.c_x == cx[top.x] and top.c_y == cy[top.y]


def test_pmi_min_count_filters(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f g", "en", "s", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # every bigram occurs once < min_count=2 -> empty result
    assert TS.pmi_collocations(df, top_k=10, min_count=2).count() == 0


def test_token_burstiness_reference(spark):
    # word "x": doc counts [3, 0, 1]; word "y": [1, 1, 1] (poisson-flat)
    rows = [
        (0, "x x x y", "en", "s", 7),
        (1, "y z", "en", "s", 3),
        (2, "x y z", "en", "s", 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.w: r for r in TS.token_burstiness(df, top_k=10).collect()}
    d, s1, s2 = 3, 4, 10  # x: counts 3,0,1
    assert out["x"].freq == 4 and out["x"].doc_freq == 2
    assert abs(out["x"].vmr - (d * s2 - s1 * s1) / (d * s1)) < 6e-7
    # constant-per-doc word: variance>0 still (3 docs, counts 1,1,1 -> vmr
    # = (3*3-9)/(3*3) = 0 ... wait E over all docs incl zeros: all ones ->
    # var 0 -> vmr = 2/3? compute exactly:
    assert abs(out["y"].vmr - (3 * 3 - 3 * 3) / (3 * 3)) < 6e-7  # = 0.0
    # ranks ordered by freq desc then word
    ranks = [r.rank for r in sorted(out.values(), key=lambda r: r.rank)]
    assert ranks == list(range(1, len(out) + 1))


def test_word_cond_entropy_deterministic_chain(spark):
    """'a b a b a b' repeated: next word is DETERMINED by current word
    -> H(Y|X) = 0, ppl = 1."""
    df = spark.createDataFrame(
        [(i, "a b " * 20, "en", "s", 80) for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = TS.word_cond_entropy(df).collect()[0]
    assert r.h_cond_nats == 0.0 and r.ppl_cond == 1.0
    # H(X,Y) == H(X) when Y is a function of X
    assert r.h_bigram_nats == r.h_first_nats


def test_word_cond_entropy_python_mirror(spark):
    import math
    from collections import Counter

    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog met",
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = TS.word_cond_entropy(df).collect()[0]
    bi = Counter()
    for t in texts:
        w = t.split()
        bi.update(zip(w, w[1:]))
    n = sum(bi.values())
    lnq = lambda c: math.floor(math.log(c) * 10000 + 0.5)
    s_xy = sum(c * lnq(c) for c in bi.values())
    first = Counter()
    for (x, _), c in bi.items():
        first[x] += c
    s_x = sum(c * lnq(c) for c in first.values())
    assert r.n_bigrams == n
    assert abs(r.h_cond_nats - (s_x - s_xy) / (n * 10000)) < 6e-7
    assert abs(r.h_bigram_nats - (math.log(n) - s_xy / (n * 10000))) < 6e-7
    assert r.h_cond_nats > 0


def test_retrieval_ndcg_perfect_and_inverted_order(spark):
    """Scenario A: BM25 order matches relevance order → nDCG = 1.0
    with the closed-form DCG. Scenario B: tf-saturated BM25 ranks a
    rel-1 doc above the rel-2 doc → nDCG = the exact quantized ratio
    (1/log2(2) + 3/log2(3)) / (3/log2(2) + 1/log2(3))."""
    import math

    q6m = lambda x: math.floor(x * 1e6 + 0.5)
    t_rel1_p2 = q6m(1 / math.log2(3))
    t_rel2_p2 = q6m(3 / math.log2(3))

    rows = [(0, "apple banana"), (1, "apple banana"),
            (2, "apple x"), (3, "zzz yyy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = TS.retrieval_ndcg(df, n_queries=1, q_terms=2, k=2).collect()[0]
    assert r.query_id == 0
    assert r.dcg == (3000000 + t_rel1_p2) / 1e6  # doc1 rel2 then doc2 rel1
    assert r.idcg == r.dcg and r.ndcg == 1.0

    filler = " ".join(f"f{i}" for i in range(22))
    rows = [(0, "apple banana"),
            (1, "apple apple apple apple apple apple apple apple"),
            (2, "apple banana " + filler), (3, "zzz yyy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = TS.retrieval_ndcg(df, n_queries=1, q_terms=2, k=2).collect()[0]
    dcg_m = 1000000 + t_rel2_p2   # rel1 at pos1, rel2 at pos2
    idcg_m = 3000000 + t_rel1_p2  # ideal: rel2 first
    assert r.dcg == dcg_m / 1e6 and r.idcg == idcg_m / 1e6
    assert r.ndcg == math.floor(dcg_m / idcg_m * 1e6 + 0.5) / 1e6 < 1.0


def test_loo_probe_influence_matches_numpy_refits(spark):
    """Each held-out fit equals numpy lstsq on the remaining rows; the
    full-fit deltas are the raw-double differences, round6-ed."""
    import math

    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    did = 0
    for src, base in (("a", 1), ("b", 2), ("c", 9)):
        for _ in range(30):
            n_words = int(rng.randint(3, 40))
            text = " ".join(
                "x" * (base + (j % 4)) + "7" * (j % 3)
                for j in range(n_words)
            )
            rows.append((did, src, text, len(text)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string, n_chars long")
    got = {r.source: r for r in TS.loo_probe_influence(df).collect()}

    feats = {}
    for _, src, text, n_chars in rows:
        x2 = sum(1 for ch in text if ch.isalpha())
        y = len(text.split())
        feats.setdefault(src, []).append((n_chars, x2, y))

    def fit(srcs):
        X, Y = [], []
        for s in srcs:
            for x1, x2, y in feats[s]:
                X.append([1.0, x1, x2]); Y.append(y)
        X, Y = np.array(X), np.array(Y)
        # solve the normal equations exactly like _cramer3
        A = X.T @ X
        b = X.T @ Y
        return np.linalg.solve(A, b)

    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    wf = fit(["a", "b", "c"])
    for held in ("a", "b", "c"):
        rest = [s for s in ("a", "b", "c") if s != held]
        wl = fit(rest)
        assert got[held].n_docs == 30
        assert abs(got[held].w_nchars_loo - q6(wl[1])) <= 2e-6
        assert abs(got[held].w_alpha_loo - q6(wl[2])) <= 2e-6
        assert abs(got[held].d_nchars - q6(wf[1] - wl[1])) <= 2e-6
    # the off-trend source c moves the fit more than a or b
    assert abs(got["c"].d_alpha) > max(
        abs(got["a"].d_alpha), abs(got["b"].d_alpha)
    )


def test_data_card_exact_small(spark):
    """Hand-computable card: source A = 3 docs (one exact dup pair),
    langs en/en/fr, lengths 5/5/9 → median 5, dup rate 1/3; source B =
    1 doc. Token counts under TOKEN_RE ('ab cd' → 2 tokens etc.)."""
    from stash_log_parser_spark.operators.textstats import data_card

    rows = [
        (1, "ab cd", "en", "A", 5),
        (2, "ab cd", "en", "A", 5),
        (3, "ab cd ef!", "fr", "A", 9),
        (4, "zz 123 !?", "en", "B", 9),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in data_card(df).collect()}
    a, b = out["A"], out["B"]
    assert a.n_docs == 3 and a.n_chars == 19
    # 'ab cd' = 2 toks, 'ab cd ef!' = 4 (ab, cd, ef, !)
    assert a.n_tokens == 2 + 2 + 4
    assert a.p50_chars == 5
    assert a.n_langs == 2 and a.top_lang == "en"
    assert a.top_lang_share == round(2 / 3, 6) or abs(a.top_lang_share - 2 / 3) < 1e-6
    assert a.exact_dup_rate == round(1 / 3, 6) or abs(a.exact_dup_rate - 1 / 3) < 1e-6
    # 'zz 123 !?' = zz, 123, !, ? = 4 tokens; no dups
    assert b.n_tokens == 4 and b.exact_dup_rate == 0.0
    assert b.top_lang_share == 1.0 and b.p50_chars == 9


def test_token_runs_max_run_and_support(spark):
    docs = spark.createDataFrame(
        [
            (0, "foo foo foo foo bar baz"),
            (1, "a b c d e f g h"),
            (2, "x " * 10),          # trailing space -> trim handles
            (3, "A a B b"),          # lowercased before runs
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in TS.token_runs(docs).collect()}
    assert got[0].max_run == 4 and got[0].n_distinct == 3
    assert got[1].max_run == 1 and not got[1].degenerate
    assert got[2].max_run == 10 and got[2].degenerate  # >= 8 flag
    assert got[3].max_run == 2  # case-folded: "a a" and "b b"
    assert got[3].n_distinct == 2


def test_token_runs_low_support_flags_long_cycler(spark):
    # 60 words cycling over a 2-word vocabulary: no adjacent repeat
    # (max_run 1) but type/token ratio 2/60 — the loop the support
    # rule exists to catch
    docs = spark.createDataFrame(
        [(0, "yes no " * 30)], "doc_id long, text string"
    )
    r = TS.token_runs(docs).collect()[0]
    assert r.max_run == 1
    assert r.n_words == 60 and r.n_distinct == 2
    assert r.degenerate


def test_split_leakage_counts_cross_split_twins(spark):
    import hashlib

    # ids chosen arbitrarily; recompute which side each lands on with
    # the same md5 rule instead of guessing
    def side(i):
        return (
            "train"
            if hashlib.md5(str(i).encode()).hexdigest()[:2] < "cc"
            else "test"
        )

    ids = list(range(40))
    # docs 0..9 share text "dup"; everyone else unique
    rows = [(i, "dup" if i < 10 else f"unique {i}") for i in ids]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.split: r for r in TS.split_leakage(docs, 0.8).collect()}

    splits = {i: side(i) for i in ids}
    dup_sides = {splits[i] for i in range(10)}
    for s in ("train", "test"):
        assert got[s].n_docs == sum(1 for i in ids if splits[i] == s)
        want_leak = (
            sum(1 for i in range(10) if splits[i] == s)
            if len(dup_sides) == 2
            else 0
        )
        assert got[s].n_leaked == want_leak, s


def test_token_runs_arrow_equals_hof_paths(spark):
    rows = [
        (0, "foo foo foo foo bar baz"),
        (1, "yes no " * 30),
        (2, "x"),
        (3, None),  # null text -> null stats on both paths
        (4, "a b a b c c c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: tuple(r) for r in
         TS.token_runs(docs, use_arrow=True).collect()}
    h = {r.doc_id: tuple(r) for r in
         TS.token_runs(docs, use_arrow=False).collect()}
    assert a == h
    assert a[3][1] is None  # null propagates, row not dropped


def test_conformal_bounds_order_statistic_and_coverage(spark):
    import hashlib

    from stash_log_parser_spark.operators.textstats import conformal_bounds

    rows = [(i, "s", 100 + (i * 53) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    r = conformal_bounds(df).collect()[0]
    # python reference of the whole chain
    split = {
        i: "train" if hashlib.md5(str(i).encode()).hexdigest()[:2] < "80"
        else "test"
        for i, _, _ in rows
    }
    cal = [(i, y) for i, _, y in rows if split[i] == "train"]
    test = [(i, y) for i, _, y in rows if split[i] == "test"]
    mean = sum(y for _, y in cal) / len(cal)
    resid = sorted(
        (int(abs(y - mean) * 1000 + 0.5), i) for i, y in cal
    )
    rank = ((len(cal) + 1) * 9 + 9) // 10
    q = resid[rank - 1][0]
    covered = sum(1 for _, y in test if int(abs(y - mean) * 1000 + 0.5) <= q)
    assert (r.n_cal, r.n_test) == (len(cal), len(test))
    assert r.q_milli == q
    assert r.n_covered == covered
    assert r.coverage_e6 == int(covered / len(test) * 1e6 + 0.5)
    # split-conformal marginal guarantee holds on this fixed corpus
    assert r.coverage_e6 >= 850_000


def test_conformal_bounds_tiny_group_infinite_interval(spark):
    from stash_log_parser_spark.operators.textstats import conformal_bounds

    # 3 calibration docs: rank = ceil(4 * 0.9) = 4 > n_cal -> q NULL,
    # every test row counts covered
    rows = [(i, "t", 100 + i) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    r = conformal_bounds(df).collect()[0]
    if r.n_cal < ((r.n_cal + 1) * 9 + 9) // 10:
        assert r.q_milli is None
        assert r.n_covered == r.n_test
        assert r.coverage_e6 == 1_000_000


def test_length_gini_hand_computed_and_uniform_zero(spark):
    from stash_log_parser_spark.operators.textstats import length_gini

    # group u: all equal -> Gini 0; group h: {1,3} -> MAD/(2u) = 0.25
    rows = ([(i, "u", 50) for i in range(10)]
            + [(100, "h", 1), (101, "h", 3)])
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {r.source: r for r in length_gini(df).collect()}
    assert got["u"].gini_e6 == 0
    assert got["h"].gini_e6 == 250_000
    assert got["h"].n_docs == 2 and got["h"].total_chars == 4


class TestHillTail:
    def _df(self, spark, vals, source="s"):
        return spark.createDataFrame(
            [(source, v) for v in vals], "source string, n_chars long"
        )

    def test_matches_python_mirror(self, spark):
        import math

        from stash_log_parser_spark.operators.textstats import hill_tail_index

        vals = [1, 1, 2, 4, 8, 16, 32, 64, 100, 200, 400, 800]
        r = hill_tail_index(self._df(spark, vals)).collect()[0]
        n = len(vals)
        k = max(5, int(n * 0.1))  # = 5
        top = sorted(vals, reverse=True)
        s_ln = sum(math.log(x) for x in top[:k])
        x_k1 = top[k]
        alpha = k / (s_ln - k * math.log(x_k1))
        assert (r.n_docs, r.k, r.x_k1) == (n, k, x_k1)
        assert r.hill_alpha == math.floor(alpha * 1e6 + 0.5) / 1e6

    def test_tie_straddling_the_cut(self, spark):
        import math

        from stash_log_parser_spark.operators.textstats import hill_tail_index

        # six copies of the max straddle the k=5 cut: the census bucket
        # contributes a clipped partial take and x_k1 == the same value
        vals = [9] * 6 + [3, 2, 1]
        r = hill_tail_index(self._df(spark, vals)).collect()[0]
        assert r.k == 5 and r.x_k1 == 9
        # all top-5 equal x_k1 -> denom 0 -> undefined
        assert r.hill_alpha is None

    def test_degenerate_and_groups_independent(self, spark):
        from stash_log_parser_spark.operators.textstats import hill_tail_index

        df = self._df(spark, [7] * 10, "flat").unionByName(
            self._df(spark, [2**i for i in range(12)], "geo")
        )
        got = {r.source: r for r in hill_tail_index(df).collect()}
        assert got["flat"].hill_alpha is None  # all-equal tail
        assert got["geo"].hill_alpha is not None

    def test_nonpositive_values_excluded(self, spark):
        from stash_log_parser_spark.operators.textstats import hill_tail_index

        df = self._df(spark, [0, 0, 1, 2, 4, 8, 16, 32])
        assert hill_tail_index(df).collect()[0].n_docs == 6
