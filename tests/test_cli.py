"""Reference-parity CLI surface (Main.hs cmdargs modes) through the
package front door, `python -m stash_log_parser_spark`, on a single
.gz access log."""

import gzip
import os

import pytest

from stash_log_parser_spark import corpus
from stash_log_parser_spark.__main__ import main


@pytest.fixture(scope="module")
def log_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("clilogs")
    lines = list(corpus.gen_day_lines(0, 120, seed=13))
    path = os.path.join(d, "atlassian-stash-access-2012-09-08.0.log.gz")
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")
    return path


def test_cli_repository_stats(log_file, capsys, spark):
    assert main(["repositoryStats", log_file]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    # repo_slug|clones|fetches|shallow_clones|pushes|ref_advertisements
    assert len(out) > 3
    assert all(len(line.split("|")) == 6 for line in out)


def test_cli_max_conn_and_counts(log_file, capsys, spark):
    assert main(["maxConn", log_file]) == 0
    max_conn = int(capsys.readouterr().out.strip())
    assert max_conn >= 1
    assert main(["countRequests", log_file]) == 0
    total, parsed, malformed = map(int, capsys.readouterr().out.strip().split("|"))
    assert total == parsed + malformed and parsed > 200


def test_cli_date_filter_excludes_everything(log_file, capsys, spark):
    assert main(["gitOperations", log_file, "--since", "2013-01-01"]) == 0
    assert capsys.readouterr().out.strip() == ""  # no rows at all
