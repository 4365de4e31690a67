"""Deterministic synthetic Stash access-log corpus, pre-tokenized.

Generates the pipeline's only input shape (BASELINE.json:15):

    (doc_id:string, tokens:array<int32>, n_tok:int32, source:string)

where ``tokens`` are the UTF-8 bytes of one access-log line in the
ten-field ``" | "`` grammar of Atlassian Stash access logs
(SURVEY.md §1.1; reference grammar: logparser/src/Stash/Log/Parser.hs:~100).
A convenience ``line`` column (the decoded text) and a ``day`` partition
column are also written so that a DuckDB oracle can independently
recompute every analysis from the same parquet; the Spark pipeline itself
reads ONLY the four contract columns.

Two generation paths share one per-day simulator:

* :func:`write_corpus` — pure Python + pyarrow, used by tests and the
  driver-oracle corpus. Exact, single-process.
* :func:`generate_spark` — Spark-distributed via ``mapInPandas``: one
  task simulates one (day, shard) slice. Days are independent in every
  analysis (the concurrency gauge resets at day boundaries, as it does in
  the reference's per-file processing), so per-day generation preserves
  exact semantics while scaling out; this is the 10^12-row design.

Everything is seeded; no wall-clock anywhere.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections.abc import Iterator

USERS = ["ssaasen", "jdoe", "mkent", "akumar", "lwall", "rgreen", "tfox", "pmint"]
# (project, repo) — first entry is the deliberately hot repo (skew for A6).
REPOS = [
    ("CONF", "confluence"),
    ("CONF", "teams"),
    ("TEAMS", "website"),
    ("JIRA", "jira-core"),
    ("BAMB", "bamboo"),
    ("STASH", "stash"),
    ("FE", "frontend"),
    ("OPS", "deploy-tools"),
]
IP_POOL = [
    "172.16.1.187", "172.16.1.200", "10.0.0.5", "10.0.0.9",
    "63.246.22.196", "192.168.1.9", "172.16.1.42", "10.0.0.77",
]
GIT_VERSIONS = ["git/1.7.4.1", "git/1.7.9", "git/1.8.0", "git/1.8.2"]
# referrers appear on ~30% of http requests (field 7's first quoted
# string — SURVEY.md §1.1 row 7); ssh requests have none.
REFERRERS = [
    "https://stash.example.com/projects/CONF/repos/confluence/browse",
    "https://stash.example.com/dashboard",
    "https://ci.example.com/job/nightly-build",
]
# op → (kind, has_cache_label) ; weights give a realistic mix.
OPS = [
    ("clone", True), ("fetch", False), ("shallow clone", True),
    ("push", False), ("refs", True),
]
OP_WEIGHTS = [15, 50, 5, 10, 20]

EPOCH_DAY0 = dt.date(2012, 9, 8)


def _http_action(op: str, proj: str, repo: str) -> str:
    if op == "refs":
        return f'"GET /scm/{proj}/{repo}.git/info/refs HTTP/1.1"'
    if op == "push":
        return f'"POST /scm/{proj}/{repo}.git/git-receive-pack HTTP/1.1"'
    return f'"POST /scm/{proj}/{repo}.git/git-upload-pack HTTP/1.1"'


def _ssh_action(op: str, proj: str, repo: str) -> str:
    cmd = "git-receive-pack" if op == "push" else "git-upload-pack"
    return f"{cmd} '/{proj}/{repo}.git'"


def gen_day_lines(
    day_index: int,
    n_requests: int,
    seed: int,
    hot_repo_frac: float = 0.30,
    malformed_rate: float = 0.005,
    unmatched_rate: float = 0.01,
) -> Iterator[str]:
    """Yield the access-log lines of one simulated day, in event-time order.

    Simulates the server's own concurrency gauge exactly the way the
    reference's ``maxConcurrent`` fold consumes it (Analyser.hs:~60 [K]):
    an ``i`` event increments the gauge then records it; an ``o`` event
    records then decrements.
    """
    rng = random.Random(f"{seed}/{day_index}")
    day = EPOCH_DAY0 + dt.timedelta(days=day_index)
    day_ms = 86_400_000
    # one Atlassian-style session id per (user, day); carried by http
    # requests in grammar field 10 (ssh requests log "-")
    session_of = {
        u: f"{rng.randrange(10**9)}x{rng.randrange(10**9)}x0" for u in USERS
    }

    # 1) draw the requests (sorted start times keep generation O(n log n))
    starts = sorted(rng.randrange(0, day_ms - 600_000) for _ in range(n_requests))
    events: list[tuple[int, int, int]] = []  # (ts_ms, kind 0=i/1=o, req_idx)
    reqs = []
    for idx, start in enumerate(starts):
        op, has_cache = rng.choices(OPS, OP_WEIGHTS)[0]
        proj, repo = REPOS[0] if rng.random() < hot_repo_frac else rng.choice(REPOS[1:])
        protocol = rng.choices(["ssh", "http", "https"], [25, 20, 55])[0]
        user = rng.choice(USERS)
        ip = rng.choice(IP_POOL)
        via_proxy = rng.random() < 0.2
        duration = rng.randrange(40, 30_000 if op in ("clone", "shallow clone") else 5_000)
        cache = (rng.random() < 0.6) if has_cache else None
        unmatched = rng.random() < unmatched_rate
        referrer = rng.choice(REFERRERS) if (protocol != "ssh" and rng.random() < 0.3) else ""
        reqs.append((op, proj, repo, protocol, user, ip, via_proxy, duration, cache, referrer))
        events.append((start, 0, idx))
        if not unmatched:
            events.append((start + duration, 1, idx))
    events.sort()

    conc = 0
    counter = 0
    req_counter: dict[int, int] = {}
    n_malformed_budget = int(n_requests * malformed_rate)
    malformed_at = set(rng.sample(range(len(events)), min(n_malformed_budget, len(events))))

    for ev_i, (ts_ms, kind, idx) in enumerate(events):
        if ev_i in malformed_at:
            yield f"GARBAGE #{rng.randrange(10**6)} not a parseable access log line"
        op, proj, repo, protocol, user, ip, via_proxy, duration, cache, referrer = reqs[idx]
        if kind == 0:
            conc += 1
            gauge = conc
            counter += 1
            req_counter[idx] = counter
        else:
            gauge = conc
            conc -= 1
        ts = dt.datetime.combine(day, dt.time()) + dt.timedelta(milliseconds=ts_ms)
        minute_of_day = ts.hour * 60 + ts.minute
        rid = f"{'io'[kind]}{minute_of_day}x{req_counter[idx]}x{gauge}"
        remote = f"63.246.22.196,{ip}" if via_proxy else ip
        is_ssh = protocol == "ssh"
        action = _ssh_action(op, proj, repo) if is_ssh else _http_action(op, proj, repo)
        details = "-" if is_ssh else f'"{referrer}" "{rng.choice(GIT_VERSIONS)}"'
        session = "-" if is_ssh else session_of[user]
        # username: ssh carries it on both events; http only on the response.
        username = user if (is_ssh or kind == 1) else "-"
        if kind == 0:
            labels, dur_field = "-", "-"
        else:
            parts = [op]
            if cache is not None:
                parts.append("cache:hit" if cache else "cache:miss")
            labels, dur_field = ", ".join(parts), str(duration)
        ts_str = ts.strftime("%Y-%m-%d %H:%M:%S,") + f"{ts.microsecond // 1000:03d}"
        yield (
            f"{remote} | {protocol} | {rid} | {username} | {ts_str} | "
            f"{action} | {details} | {labels} | {dur_field} | {session} |"
        )


def _day_rows(day_index: int, n_requests: int, seed: int, **kw) -> dict[str, list]:
    day = (EPOCH_DAY0 + dt.timedelta(days=day_index)).isoformat()
    source = f"atlassian-stash-access-{day}.0.log"
    cols: dict[str, list] = {"doc_id": [], "tokens": [], "n_tok": [], "source": [], "line": [], "day": []}
    for i, line in enumerate(gen_day_lines(day_index, n_requests, seed, **kw)):
        b = line.encode("utf-8")
        cols["doc_id"].append(f"{day}-{i:09d}")
        cols["tokens"].append(list(b))
        cols["n_tok"].append(len(b))
        cols["source"].append(source)
        cols["line"].append(line)
        cols["day"].append(day)
    return cols


def _arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("doc_id", pa.string()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
            ("line", pa.string()),
            ("day", pa.string()),
        ]
    )


def write_corpus(
    path: str,
    n_requests_per_day: int = 2000,
    n_days: int = 3,
    seed: int = 42,
    **kw,
) -> str:
    """Write the tokenized corpus as parquet (single process, exact).
    Each day is built and written on its own, so memory holds one day,
    not the corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    schema = _arrow_schema()
    with pq.ParquetWriter(path, schema) as writer:
        for d in range(n_days):
            cols = _day_rows(d, n_requests_per_day, seed, **kw)
            writer.write_table(pa.table(cols, schema=schema))
    return path


def generate_spark(spark, n_requests_per_day: int, n_days: int, seed: int = 42, **kw):
    """Distributed corpus generation: one mapInPandas task per day.

    At 10^12-sequence scale each day would further shard into
    (day, shard) slices with per-shard counter offsets; days are the
    natural range-partitioning key of the ingest table, so generating by
    day also yields the partitioning the pipeline wants (SURVEY.md §3.1 S3).
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
            T.StructField("line", T.StringType()),
            T.StructField("day", T.StringType()),
        ]
    )
    days = spark.range(n_days).toDF("day_index").repartition(n_days, "day_index")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = 50_000  # bound Arrow batch size (a whole day in one batch
        # allocated GB-sized direct buffers JVM-side at large day sizes)
        for pdf in batches:
            for d in pdf["day_index"]:
                day = pd.DataFrame(_day_rows(int(d), n_requests_per_day, seed, **kw))
                for lo in range(0, len(day), chunk):
                    yield day.iloc[lo : lo + chunk]

    return days.mapInPandas(gen, schema=schema)
