"""Raw .log / .log.gz file source: S1-S4 of the operator inventory."""

import gzip

import pytest
from pyspark.sql import functions as F

from stash_log_parser_spark import corpus
from stash_log_parser_spark.operators import analyses as A
from stash_log_parser_spark.sources.logfiles import (
    parse_log_files,
    read_log_files,
    sort_log_files,
)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rawlogs")
    for day_idx in range(3):
        lines = list(corpus.gen_day_lines(day_idx, 150, seed=3, malformed_rate=0.05))
        day = (corpus.EPOCH_DAY0.isoformat() if day_idx == 0
               else (corpus.EPOCH_DAY0 + __import__("datetime").timedelta(days=day_idx)).isoformat())
        name = f"atlassian-stash-access-{day}.0.log"
        if day_idx == 2:  # last day gzipped → S2 transparent decompress
            with gzip.open(d / (name + ".gz"), "wt") as f:
                f.write("\n".join(lines) + "\n")
        else:
            (d / name).write_text("\n".join(lines) + "\n")
    return str(d)


def test_read_multi_file_with_gzip(spark, log_dir):
    df = read_log_files(spark, log_dir)
    days = {r.file_day for r in df.select("file_day").distinct().collect()}
    assert days == {"2012-09-08", "2012-09-09", "2012-09-10"}  # .gz included
    assert df.count() > 3 * 150  # i+o events per request


def test_date_range_file_filter(spark, log_dir):
    df = read_log_files(spark, log_dir, since="2012-09-09", until="2012-09-09")
    days = {r.file_day for r in df.select("file_day").distinct().collect()}
    assert days == {"2012-09-09"}


def test_date_range_plans_only_in_range_files(spark, log_dir):
    """since/until drop out-of-range files before the scan, for a
    directory input and for a glob; an input that lists nothing locally
    reaches Spark unchanged."""
    import os

    from pyspark.errors import AnalysisException

    for inp in (log_dir, os.path.join(log_dir, "*.log*")):
        df = read_log_files(spark, inp, since="2012-09-09", until="2012-09-09")
        names = [os.path.basename(f) for f in df.inputFiles()]
        assert names == ["atlassian-stash-access-2012-09-09.0.log"], inp
        none = read_log_files(spark, inp, since="2013-01-01")
        assert none.inputFiles() == [] and none.count() == 0, inp
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_log_files(spark, os.path.join(log_dir, "missing"), since="2012-09-09")


def test_parse_and_analyse_from_raw_files(spark, log_dir):
    parsed = parse_log_files(spark, log_dir)
    counts = A.count_requests(parsed).collect()[0]
    assert counts.parsed_lines > 0 and counts.malformed_lines > 0
    # embedded gauge cross-check works through this path too
    tl = A.concurrency_timeline(parsed)
    expected = F.when(F.col("req_dir") == "o", F.col("req_concurrent") - 1).otherwise(
        F.col("req_concurrent")
    )
    assert tl.filter(F.col("concurrent") != expected).count() == 0


def test_raw_file_path_equals_tokenized_path(spark, log_dir, tmp_path):
    """The same lines through (a) raw text files and (b) the tokenized
    corpus produce identical analysis results."""
    lines = [r.line for r in read_log_files(spark, log_dir).collect()]
    rows = [(f"t{i:06d}", list(l.encode()), len(l.encode()), "t.log") for i, l in enumerate(lines)]
    tok = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    from stash_log_parser_spark.functions.parse import parse_corpus

    a = A.repository_stats(parse_log_files(spark, log_dir)).collect()
    b = A.repository_stats(parse_corpus(tok)).collect()
    assert a == b


def test_sort_log_files():
    names = [
        "atlassian-stash-access-2012-09-09.1.log",
        "atlassian-stash-access-2012-09-08.10.log.gz",
        "atlassian-stash-access-2012-09-08.2.log",
        "atlassian-stash-access-2012-09-09.0.log",
    ]
    assert sort_log_files(names) == [
        "atlassian-stash-access-2012-09-08.2.log",
        "atlassian-stash-access-2012-09-08.10.log.gz",
        "atlassian-stash-access-2012-09-09.0.log",
        "atlassian-stash-access-2012-09-09.1.log",
    ]


def test_doc_id_stable_across_scans_and_layouts(spark, tmp_path):
    """doc_id must be identical across independent reads and partition
    layouts (round-1 used monotonically_increasing_id, which re-keys on
    every scan and silently mis-joins the raw-row re-attach)."""
    import gzip

    d = tmp_path / "logs"
    d.mkdir()
    lines = [
        "10.0.0.5 | ssh | i10x1x1 | jdoe | 2012-09-08 00:10:00,000 | "
        "git-upload-pack '/CONF/confluence.git' | - | - | - | - |",
        "DUPLICATE LINE",
        "DUPLICATE LINE",
    ]
    (d / "atlassian-stash-access-2012-09-08.0.log").write_text("\n".join(lines))
    with gzip.open(d / "atlassian-stash-access-2012-09-09.0.log.gz", "wt") as f:
        f.write("\n".join(lines[::-1]))

    from stash_log_parser_spark.sources.logfiles import read_log_files

    a = sorted(r.doc_id for r in read_log_files(spark, str(d)).collect())
    b = sorted(r.doc_id for r in read_log_files(spark, str(d)).repartition(7).collect())
    c = sorted(
        r.doc_id
        for r in read_log_files(
            spark,
            [
                str(d / "atlassian-stash-access-2012-09-09.0.log.gz"),
                str(d / "atlassian-stash-access-2012-09-08.0.log"),
            ],
        ).collect()
    )
    assert a == b == c
    assert len(set(a)) == 6  # ids unique even for duplicate lines


def test_doc_id_exchange_never_keyed_on_line(spark, tmp_path):
    """The occurrence window shuffles on (source, xxhash64(line)) — the
    raw line text must never appear in any Exchange's partitioning
    expression (round-2 review: the last payload-keyed shuffle)."""
    import re

    d = tmp_path / "logs"
    d.mkdir()
    (d / "atlassian-stash-access-2012-09-08.0.log").write_text("x | y\nx | y\n")
    from stash_log_parser_spark.sources.logfiles import read_log_files

    plan = read_log_files(spark, str(d))._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Exchange hashpartitioning\(([^\n]*)\)", plan):
        assert not re.search(r"\bline\b", m.group(1)), m.group(0)
    # sanity: the hash column IS the exchange key
    assert re.search(r"Exchange hashpartitioning\([^\n]*_lh", plan), plan


# --- JSONL ingest front door (sources/jsonl.py) ---


def _mini_corpus(spark):
    rows = [
        ("d1", '1.2.3.4 | ssh | o1x2x1 | alice | 2012-09-08 10:00:00,123 | '
               "git-upload-pack '/PROJ/repo.git' | - | clone | 42 | s1",
         "f1.log", "2012-09-08"),
        ("d2", "GARBAGE not a log line", "f1.log", "2012-09-08"),
        ("d3", '"quoted \\"agent\\"" edge | case', "f2.log", "2012-09-09"),
    ]
    return spark.createDataFrame(
        rows, "doc_id string, line string, source string, day string"
    )


def test_jsonl_round_trip_counts_both_failure_layers(spark, tmp_path):
    """Valid envelopes parse exactly like the plain-text door; garbage
    LINES and broken ENVELOPES are both counted, never dropped."""
    from stash_log_parser_spark.sources.jsonl import (
        parse_jsonl_logs,
        write_jsonl_logs,
    )

    out = str(tmp_path / "jsonl")
    write_jsonl_logs(_mini_corpus(spark), out, corrupt_per_day=2)
    parsed = parse_jsonl_logs(spark, out)
    rows = parsed.collect()
    # 3 corpus lines + 2 planted corrupt envelopes per day x 2 days
    assert len(rows) == 3 + 4
    ok = [r for r in rows if r.is_parsed]
    assert len(ok) == 1 and ok[0].protocol == "ssh"
    assert ok[0].username == "alice" and ok[0].duration_ms == 42
    # the quoted line survives JSON escaping bit-for-bit
    quoted = [r for r in rows if r.line.startswith('"quoted')]
    assert quoted and quoted[0].line == '"quoted \\"agent\\"" edge | case'


def test_jsonl_corrupt_envelope_keeps_raw_text(spark, tmp_path):
    from stash_log_parser_spark.sources.jsonl import read_jsonl_lines

    p = tmp_path / "x.jsonl"
    p.write_text(
        '{"line": "ok | line", "source": "f.log"}\n'
        "{this is not json\n"
        '{"source": "f.log"}\n'  # valid JSON, line key missing
    )
    got = read_jsonl_lines(spark, str(p)).collect()
    by_corrupt = sorted(got, key=lambda r: (r.env_corrupt, r.line))
    assert [r.env_corrupt for r in by_corrupt] == [False, True, True]
    assert by_corrupt[0].line == "ok | line"
    assert by_corrupt[1].line in ('{"source": "f.log"}', "{this is not json")
