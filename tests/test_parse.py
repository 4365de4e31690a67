"""Parser goldens (FIXTURES.md §2 spot checks + §4 parse-level counts).

Mirrors the reference's tasty/HUnit parser fixtures (SURVEY.md §6):
date parsing with comma millis, request-id decomposition, http vs ssh
action grammars, label split, '-' nullability, malformed handling.
"""

import datetime as dt

from pyspark.sql import functions as F

from stash_log_parser_spark.functions.parse import decode_tokens_sql, parse_corpus, parse_lines


def row(parsed, doc_id):
    return parsed.filter(F.col("doc_id") == doc_id).collect()[0]


def test_l02_full_field_golden(parsed):
    r = row(parsed, "L02")
    assert r.req_dir == "o"
    assert r.req_minute == 2
    assert r.req_counter == 1
    assert r.req_concurrent == 1
    assert r.username == "ssaasen"
    assert r.ts == dt.datetime(2012, 9, 8, 0, 2, 0, 270000)
    assert r.ts_raw == "2012-09-08 00:02:00,270"
    assert r.method == "GET"
    assert r.path == "/scm/CONF/confluence.git/info/refs"
    assert r.labels == ["refs", "cache:hit"]
    assert r.duration_ms == 170
    assert r.session_id is None
    assert r.is_parsed
    assert r.op_type == "ref_advertisement"
    assert r.cache_hit


def test_l06_ssh_action(parsed):
    r = row(parsed, "L06")
    assert r.protocol == "ssh"
    assert r.method == "git-upload-pack"
    assert r.path == "/CONF/teams.git"
    assert r.repo_slug == "conf/teams"
    assert r.op_type == "clone"
    assert r.cache_hit


def test_l07_proxy_chain_client_ip(parsed):
    r = row(parsed, "L07")
    assert r.client_ip == "63.246.22.196"
    assert r.remote_ips == ["63.246.22.196", "172.16.1.187"]


def test_incoming_lines_nullability(parsed):
    r = row(parsed, "L01")
    assert r.username is None and r.duration_ms is None and r.labels == []
    assert r.op_type is None  # ops are classified on responses only (F3)


def test_malformed_line_counted_not_dropped(parsed):
    r = row(parsed, "L13")
    assert not r.is_parsed
    assert parsed.count() == 14  # nothing silently dropped
    assert parsed.filter("is_parsed").count() == 13


def test_shallow_clone_precedence(parsed):
    assert row(parsed, "L12").op_type == "shallow_clone"


def test_push_from_receive_pack(parsed):
    assert row(parsed, "L10").op_type == "push"


def test_repo_slug_lowered(parsed):
    assert row(parsed, "L05").repo_slug == "conf/confluence"


def test_parse_preserves_keys_for_token_reattach(parsed, fixture_corpus):
    """The parsed frame keeps (doc_id, n_tok) so routed sinks re-attach the
    original tokens by key; the join must be loss- and duplicate-free and
    n_tok must match the actual array length."""
    joined = parsed.alias("p").join(fixture_corpus.alias("c"), "doc_id")
    assert joined.count() == parsed.count() == 14
    assert joined.filter(F.expr("p.n_tok != size(c.tokens)")).count() == 0


def test_sql_decode_path_matches_udf_path(fixture_corpus):
    """The pure-JVM path (unhex decode + Catalyst grok) and the Arrow
    parse agree."""
    a = parse_corpus(fixture_corpus).orderBy("doc_id")
    b = parse_lines(
        fixture_corpus.withColumn("line", decode_tokens_sql(F.col("tokens")))
    ).orderBy("doc_id")
    cols = ["doc_id", "protocol", "req_dir", "req_counter", "username",
            "ts", "method", "path", "repo_slug", "labels", "duration_ms",
            "is_parsed", "op_type"]
    assert a.select(cols).collect() == b.select(cols).collect()


def test_non_ascii_and_query_string():
    """UTF-8 multibyte usernames survive decode; query strings are stripped."""
    # built inline to keep the session fixture corpus canonical
    import pytest

    spark = pytest.importorskip("pyspark.sql").SparkSession.getActiveSession()
    line = '10.0.0.5 | https | o2x9x1 | müller-佐藤 | 2012-09-08 00:02:00,000 | "GET /scm/CONF/confluence.git/info/refs?service=git-upload-pack HTTP/1.1" | "" "git/1.8.0" | refs | 10 | - |'
    b = line.encode("utf-8")
    from tests.conftest import CORPUS_SCHEMA

    df = spark.createDataFrame([("X01", list(b), len(b), "f.log")], CORPUS_SCHEMA)
    r = parse_corpus(df).collect()[0]
    assert r.username == "müller-佐藤"
    assert r.path == "/scm/CONF/confluence.git/info/refs"
    assert r.op_type == "ref_advertisement"


def test_corrupt_token_streams_never_kill_the_job(spark):
    """Out-of-range token values / invalid UTF-8 byte streams must degrade
    to counted-malformed rows, not crash the batch (found by probing:
    ArrowInvalid previously propagated out of the decode UDF)."""
    from stash_log_parser_spark.operators.analyses import count_requests

    good = ("10.0.0.5 | ssh | o2x3x1 | jdoe | 2012-09-08 00:02:07,000 | "
            "git-upload-pack '/CONF/teams.git' | - | clone, cache:hit | 4000 | - |")
    rows = [
        ("W1", [72, 105, 999], 3, "w"),      # out-of-range token value
        ("W2", [0xE7, 0x20], 2, "w"),        # invalid UTF-8 byte stream
        ("G1", list(good.encode()), len(good.encode()), "w"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    r = count_requests(parse_corpus(df)).collect()[0]
    assert (r.total_lines, r.parsed_lines, r.malformed_lines) == (3, 1, 2)


def test_user_agent_extraction(parsed):
    assert row(parsed, "L02").user_agent == "git/1.7.4.1"
    assert row(parsed, "L12").user_agent == "git/1.8.0"
    assert row(parsed, "L06").user_agent is None  # ssh carries no details
    assert row(parsed, "L13").user_agent is None  # malformed
