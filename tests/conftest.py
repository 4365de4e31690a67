"""Shared fixtures: one SparkSession per test session + the FIXTURES.md corpus."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import types as T

# Import the package from this checkout whatever the working directory:
# first on this process's path, and through PYTHONPATH for the Python
# workers the JVM forks (they do not see this process's sys.path).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
_old = os.environ.get("PYTHONPATH")
os.environ["PYTHONPATH"] = ROOT + (os.pathsep + _old if _old else "")

from stash_log_parser_spark.session import build_session  # noqa: E402

# The 14-line hand-derived fixture corpus (FIXTURES.md §2): 6 request pairs,
# 1 unmatched incoming (L14), 1 malformed (L13).
FIXTURE_LINES = [
    '172.16.1.187 | https | i2x1x1 | - | 2012-09-08 00:02:00,100 | "GET /scm/CONF/confluence.git/info/refs HTTP/1.1" | "" "git/1.7.4.1" | - | - | - |',
    '172.16.1.187 | https | o2x1x1 | ssaasen | 2012-09-08 00:02:00,270 | "GET /scm/CONF/confluence.git/info/refs HTTP/1.1" | "" "git/1.7.4.1" | refs, cache:hit | 170 | - |',
    '172.16.1.187 | https | i2x2x1 | - | 2012-09-08 00:02:01,000 | "POST /scm/CONF/confluence.git/git-upload-pack HTTP/1.1" | "" "git/1.7.4.1" | - | - | - |',
    "10.0.0.5 | ssh | i2x3x2 | jdoe | 2012-09-08 00:02:03,000 | git-upload-pack '/CONF/teams.git' | - | - | - | - |",
    '172.16.1.187 | https | o2x2x2 | ssaasen | 2012-09-08 00:02:05,500 | "POST /scm/CONF/confluence.git/git-upload-pack HTTP/1.1" | "" "git/1.7.4.1" | clone, cache:miss | 4500 | - |',
    "10.0.0.5 | ssh | o2x3x1 | jdoe | 2012-09-08 00:02:07,000 | git-upload-pack '/CONF/teams.git' | - | clone, cache:hit | 4000 | - |",
    '63.246.22.196,172.16.1.187 | http | i5x4x1 | - | 2012-09-08 00:05:00,000 | "POST /scm/TEAMS/website.git/git-upload-pack HTTP/1.1" | "" "git/1.7.9" | - | - | - |',
    '63.246.22.196,172.16.1.187 | http | o5x4x1 | mkent | 2012-09-08 00:05:02,000 | "POST /scm/TEAMS/website.git/git-upload-pack HTTP/1.1" | "" "git/1.7.9" | fetch | 2000 | - |',
    "10.0.0.5 | ssh | i70x5x1 | jdoe | 2012-09-08 01:10:00,000 | git-receive-pack '/CONF/teams.git' | - | - | - | - |",
    "10.0.0.5 | ssh | o70x5x1 | jdoe | 2012-09-08 01:10:03,000 | git-receive-pack '/CONF/teams.git' | - | push | 3000 | - |",
    '172.16.1.200 | https | i75x6x1 | - | 2012-09-08 01:15:00,000 | "POST /scm/CONF/confluence.git/git-upload-pack HTTP/1.1" | "" "git/1.8.0" | - | - | - |',
    '172.16.1.200 | https | o75x6x1 | ssaasen | 2012-09-08 01:15:01,500 | "POST /scm/CONF/confluence.git/git-upload-pack HTTP/1.1" | "" "git/1.8.0" | shallow clone, cache:miss | 1500 | - |',
    "GARBAGE LINE - not parseable",
    '192.168.1.9 | https | i80x7x1 | - | 2012-09-08 01:20:00,000 | "GET /scm/CONF/confluence.git/info/refs HTTP/1.1" | "" "git/1.8.0" | - | - | - |',
]

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)


def lines_to_rows(lines, source="atlassian-stash-access-2012-09-08.0.log"):
    rows = []
    for i, line in enumerate(lines, 1):
        b = line.encode("utf-8")
        rows.append((f"L{i:02d}", list(b), len(b), source))
    return rows


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def fixture_corpus(spark):
    return spark.createDataFrame(lines_to_rows(FIXTURE_LINES), CORPUS_SCHEMA).cache()


@pytest.fixture(scope="session")
def parsed(fixture_corpus):
    from stash_log_parser_spark.functions.parse import parse_corpus

    return parse_corpus(fixture_corpus).cache()
