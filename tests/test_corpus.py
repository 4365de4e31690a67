"""Corpus-generator invariants + parse/analyse self-consistency at scale.

The generator simulates the server's concurrency gauge and embeds it in
field 3 of every line, so the pipeline's window-reconstructed gauge (A2)
must equal the embedded one row-for-row — a much stronger check than the
14-line golden.
"""

import pytest
from pyspark.sql import functions as F

from stash_log_parser_spark import corpus
from stash_log_parser_spark.functions.parse import parse_corpus, parse_lines
from stash_log_parser_spark.operators import analyses as A


@pytest.fixture(scope="module")
def gen_parsed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "corpus.parquet")
    corpus.write_corpus(path, n_requests_per_day=500, n_days=2, seed=7)
    df = spark.read.parquet(path)
    return df, parse_corpus(df).cache()


def test_generator_is_deterministic(tmp_path):
    a = list(corpus.gen_day_lines(0, 50, seed=123))
    b = list(corpus.gen_day_lines(0, 50, seed=123))
    c = list(corpus.gen_day_lines(0, 50, seed=124))
    assert a == b and a != c


def test_tokens_are_utf8_bytes(gen_parsed):
    df, _ = gen_parsed
    bad = df.filter(
        (F.size("tokens") != F.col("n_tok"))
        | F.exists("tokens", lambda x: (x < 0) | (x > 255))
    ).count()
    assert bad == 0


def test_all_wellformed_lines_parse(gen_parsed):
    df, parsed = gen_parsed
    # malformed lines are exactly the GARBAGE ones the generator injected
    garbage = df.filter(F.col("line").startswith("GARBAGE")).count()
    assert parsed.filter(~F.col("is_parsed")).count() == garbage
    assert garbage > 0


def test_window_gauge_matches_embedded_gauge(gen_parsed):
    """A2's day-partitioned prefix sum reproduces the server's own gauge
    on every single event — ordering semantics are exactly the fold's.

    The server records the gauge BEFORE decrementing on an ``o`` event,
    while the fold's −1 applies at the event, so on ``o`` rows
    ``prefix_sum == embedded − 1``; on ``i`` rows they are equal
    (fixture A2 timeline, FIXTURES.md §4).
    """
    _, parsed = gen_parsed
    tl = A.concurrency_timeline(parsed)
    # every event comes out, each with the embedded gauge
    assert tl.count() == parsed.filter(F.col("is_parsed") & F.col("req_dir").isin("i", "o")).count()
    expected = F.when(F.col("req_dir") == "o", F.col("req_concurrent") - 1).otherwise(
        F.col("req_concurrent")
    )
    mismatches = tl.filter(F.col("concurrent") != expected).count()
    assert mismatches == 0
    # and therefore the PEAK (attained on an i event) matches exactly
    peak = tl.agg(F.max("concurrent")).collect()[0][0]
    embedded_peak = parsed.agg(F.max("req_concurrent")).collect()[0][0]
    assert peak == embedded_peak


def test_pairing_latency_equals_duration(gen_parsed):
    _, parsed = gen_parsed
    pairs = A.pair_requests(parsed).filter(
        "ts_in is not null and ts_out is not null and duration_ms is not null"
    )
    bad = pairs.filter(F.abs(F.col("latency_ms") - F.col("duration_ms")) > 1).count()
    assert bad == 0
    assert pairs.count() > 900


def test_spark_distributed_generator_matches_local(spark, tmp_path):
    """mapInPandas generation (the scale path) is bit-identical to the
    single-process writer for the same (seed, sizes)."""
    path = str(tmp_path / "local.parquet")
    corpus.write_corpus(path, n_requests_per_day=200, n_days=2, seed=99)
    local = spark.read.parquet(path)
    dist = corpus.generate_spark(spark, n_requests_per_day=200, n_days=2, seed=99)
    l = sorted((r.doc_id, r.line, tuple(r.tokens)) for r in local.collect())
    d = sorted((r.doc_id, r.line, tuple(r.tokens)) for r in dist.collect())
    assert l == d


def test_hot_repo_skew_present(gen_parsed):
    """The corpus has the documented hot key (~30% of git ops) so skew
    handling is actually exercised."""
    _, parsed = gen_parsed
    stats = A.repository_stats(parsed).collect()
    total = sum(r.clones + r.fetches + r.shallow_clones + r.pushes + r.ref_advertisements for r in stats)
    hot = next(r for r in stats if r.repo_slug == "conf/confluence")
    hot_n = hot.clones + hot.fetches + hot.shallow_clones + hot.pushes + hot.ref_advertisements
    assert hot_n / total > 0.2
