"""Decode + grok: tokenized byte sequences → typed LogEntry columns.

The ONLY JVM↔Python boundary in the whole pipeline is ONE
``mapInArrow`` stage that fuses P1+P2 on raw Arrow RecordBatches:
``tokens:array<int32>`` → UTF-8 line (Arrow buffer surgery: the list
offsets are reinterpreted as binary-array offsets) → the ten ``" | "``
fields via one ``pyarrow.compute.split_pattern`` pass + vectorized
takes. No pandas, no per-row Python anywhere.

Performance decisions, each made by reading the physical plan
(.explain) and re-benchmarking on the bench corpus:

* mapInArrow is a natural optimizer barrier: downstream filters can't
  be pushed into it, which previously (with a column pandas-UDF)
  DUPLICATED the Python stage — one evaluation for the rewritten
  filter, one for the project;
* everything downstream references the flat field columns (``f3`` …) —
  cheap reads — instead of re-running ``split(decode(...))`` per
  referencing expression, so the grok stays one codegen pass;
* the token payload never leaves the Arrow stage at all — only split
  fields and light keys come out (``slim=True`` drops even
  doc_id/n_tok); routed sinks re-attach tokens by a doc_id join.

Semantics reproduce the reference parser (juretta/stash-log-parser,
logparser/src/Stash/Log/Parser.hs:~25–110 [K], SURVEY.md §1.1/§3.2):
ten `` | ``-separated fields; comma-millis timestamps; request ids
``[io]<minuteOfDay>x<counter>x<concurrent>``; ``-`` as the null marker;
labels split on ``", "``; HTTP vs SSH action grammars; git-op
classification precedence (shallow clone before clone) per
GitOpsAnalyser.hs:~70–135 [K].

A pure-JVM decode (``decode_tokens_sql``) and a pure-JVM line grok
(:func:`parse_lines`) are kept as references: tests build the JVM path
from the two and assert it agrees with ``parse_corpus`` field-for-field.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import data_files

# ---------------------------------------------------------------------------
# P1: token decode — Arrow buffer surgery
# ---------------------------------------------------------------------------


def _decode_list_array(arr: pa.Array) -> pa.Array:
    """list<int>(byte values) → string, via direct Arrow buffer reuse.

    A BinaryArray is (validity, int32 offsets, data); a ListArray whose
    elements each become exactly one byte has the SAME offsets. So we
    reinterpret the list offsets as binary offsets and the int values
    (narrowed to uint8) as the data buffer — fully vectorized.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        # Rare path (contract says tokens are non-null); keep it correct.
        # Same uint8 narrowing as the vectorized path — without the mask
        # an out-of-range token in a batch that ALSO holds a null row
        # raised ValueError and killed the task (caught by the
        # hypothesis fuzz in tests/test_fuzz_kernel.py).
        return pa.array(
            [
                None
                if v is None
                else bytes(bytearray(x & 0xFF for x in v)).decode("utf-8", "replace")
                for v in arr.to_pylist()
            ],
            type=pa.string(),
        )
    offsets = arr.offsets.to_numpy().astype(np.int32)
    values = arr.values.to_numpy(zero_copy_only=False).astype(np.uint8)
    binary = pa.Array.from_buffers(
        pa.binary(),
        len(arr),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(values.tobytes())],
    )
    try:
        return binary.cast(pa.string())
    except pa.ArrowInvalid:
        # Corrupt rows (non-UTF-8 byte streams, out-of-range token values)
        # must NOT kill a 10^12-row job: decode the batch lossily; rows
        # that then fail the grok are counted as malformed downstream.
        return pa.array(
            (b.decode("utf-8", "replace") for b in binary.to_pylist()),
            type=pa.string(),
        )


def decode_tokens_sql(tokens: Column) -> Column:
    """Pure-JVM alternative decode (no Python worker at all): bytes → hex
    → unhex → UTF-8. Cross-check path and fallback for clusters that
    forbid Python workers."""
    hexed = F.array_join(F.transform(tokens, lambda x: F.lpad(F.hex(x), 2, "0")), "")
    return F.decode(F.unhex(hexed), "UTF-8")


# ---------------------------------------------------------------------------
# P1+P2 fused: decode + field split in one Arrow batch
# ---------------------------------------------------------------------------

N_FIELDS = 10

# The input contract (BASELINE.json:15): the only columns the pipeline
# reads from a tokenized corpus.
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read the tokenized corpus at ``path`` (one parquet file or a
    directory) as exactly the :data:`CORPUS_SCHEMA` columns, with no
    schema-inference job.

    With a given schema, Spark reads a column the files lack as silent
    nulls, so the footer of every local data file is checked on the
    driver first and a file that lacks a contract column raises, naming
    the file and the column. A column of another type (``tokens`` as
    ``list<int64>``) fails in the scan with Spark's type-mismatch error.
    When no local data file is found (an empty directory, a remote
    path), the read falls back to inference, which keeps Spark's own
    errors."""
    files = list(data_files(path))
    for f in files:
        have = set(pq.read_schema(f).names)
        missing = [c for c in CORPUS_SCHEMA.names if c not in have]
        if missing:
            raise ValueError(
                f"corpus file {f} lacks the input contract column(s) "
                f"{', '.join(missing)} (expected {CORPUS_SCHEMA.simpleString()})"
            )
    reader = spark.read.schema(CORPUS_SCHEMA) if files else spark.read
    # drops the partition columns Spark adds from a partitioned input's paths
    return reader.parquet(path).select(*CORPUS_SCHEMA.names)


def _split_record_batch(batch: pa.RecordBatch, keep: tuple[str, ...]) -> pa.RecordBatch:
    """decode + split one Arrow batch with pyarrow.compute kernels only —
    no pandas, no per-row Python. The field columns come from a single
    split_pattern pass; element i is gathered with a vectorized take on
    the flattened values (null where the row has < i+1 fields). Only the
    ``keep`` passenger columns survive — slim mode drops the heavy
    ``tokens`` array right here, before the Arrow→row conversion."""
    import pyarrow.compute as pc

    tokens = batch.column(batch.schema.get_field_index("tokens"))
    lines = _decode_list_array(tokens)
    stripped = pc.replace_substring_regex(lines, pattern=r" \|$", replacement="")
    parts = pc.split_pattern(stripped, pattern=" | ")
    offsets = parts.offsets.to_numpy()
    counts = np.diff(offsets).astype(np.int64)
    values = parts.values
    field_arrays = []
    base = offsets[:-1].astype(np.int64)
    for i in range(N_FIELDS):
        valid = counts > i
        idx = pa.array(np.where(valid, base + i, 0), type=pa.int64(), mask=~valid)
        field_arrays.append(values.take(idx))
    nf = pa.array(counts.astype(np.int32))
    passengers = [batch.column(batch.schema.get_field_index(c)) for c in keep]
    arrays = passengers + [nf] + field_arrays
    names = list(keep) + ["nf"] + [f"f{i}" for i in range(N_FIELDS)]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _make_split_batches(keep: tuple[str, ...]):
    def _split_batches(batches):
        for batch in batches:
            yield _split_record_batch(batch, keep)

    return _split_batches


# ---------------------------------------------------------------------------
# P3–P10: grok — native Catalyst expressions over the field struct
# ---------------------------------------------------------------------------

_REQ_ID_RE = r"^[io]\d+x\d+x\d+$"
_HTTP_ACTION_RE = r'^"(\S+) (\S+)'
_SSH_ACTION_RE = r"^(git-[a-z-]+) '([^']+)'"
_REPO_SLUG_RE = r"^(?:/scm)?/([^/]+/[^/]+?)\.git(?:/|$)"

# tokens deliberately absent: payloads never pass the Python stage; routed
# sinks re-attach them by doc_id (plans/routing.py _sink_request_durations).
PARSED_COLUMNS = [
    "doc_id", "n_tok", "source",
    "client_ip", "remote_ips", "protocol",
    "req_dir", "req_minute", "req_counter", "req_concurrent",
    "username", "user_agent", "referrer", "ts", "ts_raw", "method", "path", "repo_slug",
    "labels", "duration_ms", "session_id",
    "is_parsed", "op_type", "cache_hit", "hour", "day",
]


def _nullify_dash(col: Column) -> Column:
    return F.when(col == "-", F.lit(None).cast("string")).otherwise(col)


def op_type_expr(labels: Column, action: Column, method: Column, path: Column) -> Column:
    """Git-op classification (F3). Precedence: shallow clone before clone
    (label substring containment, GitOpsAnalyser.hs:~70–130 [K]); push also
    recognized from git-receive-pack actions; ref advertisement from the
    `refs` label or a GET of .../info/refs."""
    return (
        F.when(F.array_contains(labels, "shallow clone"), "shallow_clone")
        .when(F.array_contains(labels, "clone"), "clone")
        .when(F.array_contains(labels, "fetch"), "fetch")
        .when(
            F.array_contains(labels, "push") | action.contains("git-receive-pack"),
            "push",
        )
        .when(
            F.array_contains(labels, "refs")
            | ((method == "GET") & path.endswith("/info/refs")),
            "ref_advertisement",
        )
        .otherwise(F.lit(None).cast("string"))
    )


def _grok(df: DataFrame, f, nf: Column) -> DataFrame:
    """Shared grok: ``f(i)`` yields field i (0-based, null if absent)."""
    req_id = f(2)
    rid_ok = req_id.rlike(_REQ_ID_RE)
    # one split instead of four regexp_extracts: [io]<minute>x<counter>x<conc>
    rid_nums = F.when(rid_ok, F.split(F.substring(req_id, 2, 64), "x"))

    action = f(5)
    is_http_action = action.startswith('"')
    method = F.when(is_http_action, F.regexp_extract(action, _HTTP_ACTION_RE, 1)).otherwise(
        F.regexp_extract(action, _SSH_ACTION_RE, 1)
    )
    raw_path = F.when(is_http_action, F.regexp_extract(action, _HTTP_ACTION_RE, 2)).otherwise(
        F.regexp_extract(action, _SSH_ACTION_RE, 2)
    )
    path = F.substring_index(raw_path, "?", 1)  # strip query string (P5)
    # field 7 = request details: '"<referrer>" "git/1.7.4.1"' (referrer +
    # user agent) for http, '-' for ssh (SURVEY.md §1.1 row 7; ref
    # Parser.hs:~? request-details parse)
    user_agent = _nullify_dash(F.regexp_extract(f(6), r'"([^"]*)"\s*$', 1))
    referrer = _nullify_dash(F.regexp_extract(f(6), r'^"([^"]*)"', 1))
    labels_raw = f(7)
    labels = F.when(
        labels_raw.isNull() | (labels_raw == "-"), F.array().cast("array<string>")
    ).otherwise(F.split(labels_raw, ", "))
    ts_raw = f(4)
    # comma millis → dot millis, then a strict pattern parse (P3)
    ts = F.try_to_timestamp(
        F.regexp_replace(ts_raw, ",", "."), F.lit("yyyy-MM-dd HH:mm:ss.SSS")
    )

    out = (
        df.withColumn("remote_ips", F.split(f(0), ","))
        .withColumn("client_ip", F.get(F.col("remote_ips"), 0))
        .withColumn("protocol", f(1))
        .withColumn("req_dir", F.when(rid_ok, F.substring(req_id, 1, 1)))
        .withColumn("req_minute", F.get(rid_nums, 0).try_cast("int"))
        .withColumn("req_counter", F.get(rid_nums, 1).try_cast("long"))
        .withColumn("req_concurrent", F.get(rid_nums, 2).try_cast("int"))
        .withColumn("username", _nullify_dash(f(3)))
        .withColumn("user_agent", F.when(user_agent == "", None).otherwise(user_agent))
        .withColumn("referrer", F.when(referrer == "", None).otherwise(referrer))
        .withColumn("ts", ts)
        .withColumn("ts_raw", ts_raw)
        .withColumn("method", _nullify_dash(method))
        .withColumn("path", _nullify_dash(path))
        .withColumn(
            "repo_slug", F.lower(_nullify_dash(F.regexp_extract(path, _REPO_SLUG_RE, 1)))
        )
        .withColumn("labels", labels)
        .withColumn("duration_ms", _nullify_dash(f(8)).try_cast("long"))
        .withColumn("session_id", _nullify_dash(f(9)))
    )
    return (
        out.withColumn(
            "is_parsed",
            F.col("ts").isNotNull() & F.col("req_counter").isNotNull() & (nf == N_FIELDS),
        )
        .withColumn(
            "op_type",
            F.when(
                F.col("req_dir") == "o",
                op_type_expr(F.col("labels"), action, F.col("method"), F.col("path")),
            ).otherwise(F.lit(None).cast("string")),
        )
        .withColumn("cache_hit", F.array_contains("labels", "cache:hit"))
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .withColumn("day", F.to_date("ts"))
    )


def parse_lines(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Grok an ALREADY-DECODED ``line`` column (pure-JVM path: split +
    extraction entirely in Catalyst). Cross-check twin of the fused-UDF
    path; also the entry point for plain-text log files.

    Malformed lines are NOT dropped: they get ``is_parsed = false`` and
    are counted into the metrics sink (SURVEY.md §3.3 F5).
    """
    line = F.col(line_col)
    fields = F.split(F.regexp_replace(line, r" \|$", ""), r" \| ")
    df = df.withColumn("_f", fields)
    out = _grok(df, lambda i: F.get(F.col("_f"), i), F.size("_f"))
    return out.drop("_f")


def parse_corpus(df: DataFrame, slim: bool = False) -> DataFrame:
    """Full P-layer: tokenized corpus → parsed LogEntry DataFrame.

    Reads ONLY the contract columns (doc_id, tokens, n_tok, source);
    ``tokens`` rides along untouched so every routed raw-row sink can
    prove token-array equality against the input (BASELINE.json:15).

    The heavy ``tokens`` payload NEVER passes through the Python stage:
    the Arrow stage consumes it and emits only the split fields plus
    light passenger columns (``doc_id``/``n_tok``/``source``; just
    ``source`` when ``slim=True``). Routed raw-row sinks re-attach the
    original tokens by joining the raw table on ``doc_id``
    (plans/routing.py) — payload bytes cross shuffles at most once and
    Python never. Besides throughput, this sidesteps a JVM↔worker
    socket stall observed when streaming multi-MB array batches both
    directions at high core counts.
    """
    keep = ("source",) if slim else ("doc_id", "n_tok", "source")
    in_cols = list(dict.fromkeys(keep + ("tokens",)))
    schema = T.StructType(
        [CORPUS_SCHEMA[c] for c in keep]
        + [T.StructField("nf", T.IntegerType())]
        + [T.StructField(f"f{i}", T.StringType()) for i in range(N_FIELDS)]
    )
    g = df.select(*in_cols).mapInArrow(_make_split_batches(keep), schema=schema)
    out = _grok(g, lambda i: F.col(f"f{i}"), F.col("nf"))
    return out.drop("nf", *[f"f{i}" for i in range(N_FIELDS)])
