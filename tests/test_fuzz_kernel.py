"""Property-based fuzz of the Arrow decode+split kernel (parse.py).

The buffer-surgery decode and the vectorized field gather are the
riskiest custom code in the engine (offset reinterpretation, uint8
narrowing, take-with-mask). Hypothesis drives arbitrary token arrays —
negative values, > 255 values, invalid UTF-8, empty rows, nulls —
through `_split_record_batch` and checks every output against a
per-row pure-Python reference: decode bytes (same uint8 wrap, same
'replace' error handling), strip the trailing " |", split on " | ".
No Spark session needed — this exercises the kernel directly, so
hundreds of examples run in seconds.
"""

from __future__ import annotations

import re

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from stash_log_parser_spark.functions.parse import N_FIELDS, _split_record_batch

# arbitrary int32 token values: valid bytes, out-of-range, negatives
token_row = st.lists(
    st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=120
)
rows = st.lists(st.one_of(st.none(), token_row), min_size=1, max_size=40)


def _reference(vals):
    """Pure-Python twin: what one row must decode/split to."""
    if vals is None:
        return 0, [None] * N_FIELDS
    b = bytes(bytearray(v & 0xFF for v in vals))  # kernel narrows via uint8
    s = b.decode("utf-8", "replace")
    s = re.sub(r" \|$", "", s)
    parts = s.split(" | ")
    fields = [parts[i] if i < len(parts) else None for i in range(N_FIELDS)]
    return len(parts), fields


def _run_kernel(token_rows):
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([str(i) for i in range(len(token_rows))], pa.string()),
            pa.array(token_rows, pa.list_(pa.int32())),
            pa.array(
                [0 if r is None else len(r) for r in token_rows], pa.int32()
            ),
            pa.array(["f"] * len(token_rows), pa.string()),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )
    return _split_record_batch(batch, ("doc_id", "n_tok", "source"))


@settings(max_examples=200, deadline=None)
@given(rows)
def test_kernel_matches_python_reference(token_rows):
    out = _run_kernel(token_rows)
    assert out.num_rows == len(token_rows)  # never drops or dies (F5)
    nf = out.column(out.schema.get_field_index("nf")).to_pylist()
    cols = [
        out.column(out.schema.get_field_index(f"f{i}")).to_pylist()
        for i in range(N_FIELDS)
    ]
    for r, vals in enumerate(token_rows):
        want_nf, want_fields = _reference(vals)
        got_fields = [cols[i][r] for i in range(N_FIELDS)]
        assert (nf[r] or 0) == want_nf, (r, vals)
        assert got_fields == want_fields, (r, vals)


@settings(max_examples=50, deadline=None)
@given(rows)
def test_kernel_passengers_survive_untouched(token_rows):
    out = _run_kernel(token_rows)
    ids = out.column(out.schema.get_field_index("doc_id")).to_pylist()
    assert ids == [str(i) for i in range(len(token_rows))]


def test_arrow_and_jvm_parse_paths_agree_on_nasty_lines(spark):
    """Cross-path pin: the fused Arrow decode+split and the pure-JVM
    decode+grok must produce identical parsed columns on adversarial
    lines — pipes inside quoted fields, unicode, truncated grammars,
    stray separators, empty lines. (The corpus-level equality test
    covers the happy path; this covers the weird tail.)"""
    import random

    from pyspark.sql import functions as F

    from stash_log_parser_spark.functions.parse import (
        PARSED_COLUMNS,
        decode_tokens_sql,
        parse_corpus,
        parse_lines,
    )

    rng = random.Random(1234)
    frags = [
        "1.2.3.4,5.6.7.8", "ssh", "http", "-", "o1380042x42x3", "i99x1x1",
        '"GET /scm/a/b.git/info/refs?service=x HTTP/1.1"',
        "git-upload-pack '/a/b.git'", '"fetch | clone"', "clone, cache:hit",
        "2012-09-08 14:00:01,042", "püsh | wéird", "", "|", " | ", '"unterminated',
        "x" * 300, "refs", "1234", "sess-9",
    ]
    lines = []
    for i in range(400):
        n = rng.randint(0, 14)
        lines.append(" | ".join(rng.choice(frags) for _ in range(n)) + rng.choice(["", " |"]))
    rows = [
        (f"z{i:04d}", list(ln.encode("utf-8")), len(ln.encode("utf-8")),
         "atlassian-stash-access-2012-09-08.0.log")
        for i, ln in enumerate(lines)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cols = [c for c in PARSED_COLUMNS if c != "tokens"]
    a = sorted(map(tuple, parse_corpus(df).select(*cols).collect()))
    jvm = parse_lines(df.withColumn("line", decode_tokens_sql(F.col("tokens"))))
    b = sorted(map(tuple, jvm.select(*cols).collect()))
    assert a == b
