"""The per-analysis CLI (plans/analyze.py) — the reference's
`logparser <mode> files...` UX (Main.hs dispatch + Output.hs stdout)."""

import gzip
import os

import pytest

from stash_log_parser_spark.plans import analyze

CORPUS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "log_corpus_small.parquet",
)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    from stash_log_parser_spark.corpus import generate_spark

    d = tmp_path_factory.mktemp("analyze_cli")
    rows = generate_spark(spark, 400, 2, seed=9).select("line", "day").collect()
    days = sorted({r.day for r in rows})
    # one plain file, one gzipped — S1/S2 through the CLI front door
    for i, day in enumerate(days):
        lines = [r.line for r in rows if r.day == day]
        name = f"atlassian-stash-access-{day}.0.log" + (".gz" if i else "")
        opener = gzip.open if i else open
        with opener(os.path.join(d, name), "wt") as f:
            f.write("\n".join(lines) + "\n")
    return str(d)


def test_cli_gitoperations_pipe_output(spark, log_dir, capsys):
    rc = analyze.main(["gitOperations", os.path.join(log_dir, "*")])
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l]
    assert out, "no rows printed"
    # hour + 5 ops × hit/miss = 11 pipe-separated columns (A5 shape)
    assert all(len(l.split("|")) == 11 for l in out)


def test_cli_since_filters_files(spark, log_dir, capsys):
    days = sorted(
        {n.split("access-")[1][:10] for n in os.listdir(log_dir)}
    )
    analyze.main(["countRequests", os.path.join(log_dir, "*")])
    total = int(capsys.readouterr().out.strip().split("|")[0])
    analyze.main(
        ["countRequests", os.path.join(log_dir, "*"), "--since", days[1]]
    )
    later = int(capsys.readouterr().out.strip().split("|")[0])
    assert 0 < later < total


def test_cli_parquet_input_matches_operator(spark, capsys):
    analyze.main(["protocolStats", CORPUS, "--format", "csv"])
    out = dict(
        l.split(",") for l in capsys.readouterr().out.splitlines() if l
    )
    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.operators import analyses as A

    parsed = parse_corpus(spark.read.parquet(CORPUS))
    want = {r.protocol: str(r.n) for r in A.protocol_counts(parsed).collect()}
    assert out == want

    # `python -m stash_log_parser_spark` is this CLI; its --since keeps
    # the malformed lines (null ts) because it filters on the filename day
    from pyspark.sql import functions as F

    from stash_log_parser_spark import __main__ as pkg_main
    from stash_log_parser_spark.sources.logfiles import FILENAME_DATE_RE

    assert pkg_main.main is analyze.main
    first_day = parsed.agg(
        F.min(F.regexp_extract("source", FILENAME_DATE_RE, 1))
    ).first()[0]
    pkg_main.main(["countRequests", CORPUS, "--since", first_day])
    got = capsys.readouterr().out.strip()
    counts = A.count_requests(parsed).first()
    assert counts.malformed_lines > 0
    assert got == "|".join(map(str, counts))


def test_cli_rejects_table_format_with_output(tmp_path):
    """--format table + --output is an argparse error (exit 2), not a
    silent exit-0 with an unwritten file (round-2 advice)."""
    import pytest

    out = str(tmp_path / "plot.dat")
    with pytest.raises(SystemExit) as e:
        analyze.main(
            ["protocolStats", CORPUS, "--format", "table", "--output", out]
        )
    assert e.value.code == 2
    import os

    assert not os.path.exists(out)


def test_cli_top_limits_rows(spark, log_dir, capsys):
    """--top N (SURVEY §3.6 O2): first N rows of the mode's own
    ordering — the full run's prefix, not a different ordering."""
    rc = analyze.main(["repositoryStats", os.path.join(log_dir, "*")])
    assert rc == 0
    full = [l for l in capsys.readouterr().out.splitlines() if l]
    rc = analyze.main(["repositoryStats", os.path.join(log_dir, "*"), "--top", "3"])
    assert rc == 0
    top = [l for l in capsys.readouterr().out.splitlines() if l]
    assert top == full[:3]


def test_cli_top_rejects_nonpositive(log_dir):
    with pytest.raises(SystemExit):
        analyze.main(["repositoryStats", os.path.join(log_dir, "*"), "--top", "0"])


def test_cli_export_logs_roundtrips_the_archive(spark, log_dir, tmp_path, capsys):
    """--export-logs re-emits the date-filtered raw lines through the
    stashlog staged-rename writer; re-analyzing the exported archive
    gives identical output (write path wired into the CLI surface)."""
    days = sorted({n.split("access-")[1][:10] for n in os.listdir(log_dir)})
    out_dir = str(tmp_path / "sliced")
    analyze.main(
        [
            "countRequests",
            os.path.join(log_dir, "*"),
            "--since",
            days[1],
            "--export-logs",
            out_dir,
            "--export-compression",
            "none",
        ]
    )
    direct = capsys.readouterr().out
    # exported files are visible (no dotfiles) and day-sharded
    names = sorted(os.listdir(out_dir))
    assert names and all(n.startswith("stash-access-") for n in names)
    assert all(days[1] in n or n > f"stash-access-{days[1]}" for n in names)
    # re-analyze the exported archive
    analyze.main(["countRequests", out_dir])
    replay = capsys.readouterr().out
    assert replay == direct
