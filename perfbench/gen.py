"""Load generator: seeded, day-aligned access-log inputs.

Each simulated day becomes one parquet file holding only the pipeline's
four contract columns (doc_id, tokens, n_tok, source), which is all the
program under test sees. The decoded lines go to a separate oracle file
per day that only the DuckDB correctness check reads.

A (seed, requests-per-day) pair always yields the same bytes, so a
finished input set is cached on disk and reused by later runs.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from stash_log_parser_spark import corpus

INPUT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)
ORACLE_SCHEMA = pa.schema([("day", pa.string()), ("doc_id", pa.string()), ("line", pa.string())])


def day_name(day_index: int) -> str:
    return (corpus.EPOCH_DAY0 + dt.timedelta(days=day_index)).isoformat()


def input_file(input_dir: str, day_index: int) -> str:
    return os.path.join(input_dir, f"part-{day_index:05d}.parquet")


def _write_day(tmp: str, day_index: int, n_requests: int, seed: int) -> None:
    day = day_name(day_index)
    lines = list(corpus.gen_day_lines(day_index, n_requests, seed))
    doc_ids = [f"{day}-{i:09d}" for i in range(len(lines))]
    encoded = [ln.encode("utf-8") for ln in lines]
    source = f"atlassian-stash-access-{day}.0.log"
    pq.write_table(
        pa.table(
            {
                "doc_id": doc_ids,
                "tokens": [list(b) for b in encoded],
                "n_tok": [len(b) for b in encoded],
                "source": [source] * len(lines),
            },
            schema=INPUT_SCHEMA,
        ),
        input_file(os.path.join(tmp, "input"), day_index),
    )
    pq.write_table(
        pa.table({"day": [day] * len(lines), "doc_id": doc_ids, "line": lines}, schema=ORACLE_SCHEMA),
        os.path.join(tmp, "oracle", f"day-{day_index:05d}.parquet"),
    )


def ensure_days(cache_root: str, seed: int, n_requests: int, n_days: int) -> str:
    """Return a directory with ``input/`` and ``oracle/`` files for days
    ``0 .. n_days-1``, generating it once per (seed, size)."""
    key = os.path.join(cache_root, f"s{seed}-r{n_requests}-d{n_days}")
    if os.path.exists(os.path.join(key, "_DONE")):
        return key
    tmp = f"{key}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "input"))
    os.makedirs(os.path.join(tmp, "oracle"))
    for d in range(n_days):
        _write_day(tmp, d, n_requests, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(key, ignore_errors=True)
    os.rename(tmp, key)
    return key


def link_days(src_key: str, dst_input_dir: str, day_indices) -> int:
    """Hard-link the given days' input files into ``dst_input_dir``;
    returns the bytes added."""
    os.makedirs(dst_input_dir, exist_ok=True)
    added = 0
    for d in day_indices:
        src = input_file(os.path.join(src_key, "input"), d)
        os.link(src, input_file(dst_input_dir, d))
        added += os.path.getsize(src)
    return added


def oracle_files(src_key: str, day_indices) -> list[str]:
    return [os.path.join(src_key, "oracle", f"day-{d:05d}.parquet") for d in day_indices]
