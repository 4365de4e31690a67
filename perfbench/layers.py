"""The per-layer table: which numbers a traced run reports, and how they
are derived from spans, the folded event log and the sink directory.

Timings are medians over the traced calls; counts come from the first
traced call, so that they repeat exactly for a seed whatever the number
of calls a run fits in.
"""

from __future__ import annotations

import os

from spans import Span, duration, inclusive
from stats import median

SINK_NAMES = (
    "git_operations",
    "protocol_by_hour",
    "concurrency_by_hour",
    "protocol_counts_daily",
    "repository_stats_daily",
    "request_durations",
    "duration_hist_daily",
    "pairing_daily",
    "metrics",
)
QUERY_KINDS = (
    "repository_stats_global",
    "protocol_counts_global",
    "duration_percentiles_global_sketch",
    "duration_percentiles_global",
    "recent_days",
)
# recent_days reads the last N day-partitions of one of these sinks
RECENT_SINKS = ("metrics", "protocol_counts_daily")
RECENT_DAYS = (1, 3, 7)

# (name, unit, better)
PER_LAYER = (
    [
        ("session.build_s", "s", "lower"),
        ("parse.noop_s", "s", "lower"),
        ("parse.task_cpu_s", "s", "lower"),
        ("parse.task_run_s", "s", "lower"),
        ("enrich.delta_s", "s", "lower"),
        ("routing.call_s", "s", "lower"),
        ("routing.discover_s", "s", "lower"),
        ("routing.stage_write_s", "s", "lower"),
        ("routing.stage_countback_s", "s", "lower"),
        ("routing.fanout_s", "s", "lower"),
        ("routing.jobs", "count", "lower"),
        ("routing.stages", "count", "lower"),
        ("routing.tasks", "count", "lower"),
        ("routing.task_wait_s", "s", "lower"),
        ("routing.input_bytes_read_per_new_byte", "ratio", "lower"),
    ]
    + [(f"sink.{n}.{part}_s", "s", "lower") for n in SINK_NAMES for part in ("write", "countback")]
    + [
        ("catalog.committed_s", "s", "lower"),
        ("catalog.commit_s", "s", "lower"),
        ("catalog.compact_lineage_s", "s", "lower"),
        ("catalog.lineage_files", "count", "lower"),
        ("catalog.files_written", "count", "lower"),
        ("catalog.bytes_written", "bytes", "lower"),
        ("catalog.files_per_day_partition", "count", "lower"),
        ("catalog.files_read_per_query", "count", "lower"),
    ]
    + [(f"query.{k}_s", "s", "lower") for k in QUERY_KINDS]
    + [
        ("spark.executor_cpu_s", "s", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.deserialize_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.shuffle_read_bytes", "bytes", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("spark.spill_bytes", "bytes", "lower"),
    ]
)


def _descendants(spans: list[Span], root: Span) -> list[Span]:
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], list(children.get(root.id, ()))
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(children.get(cur.id, ()))
    return out


def _named(spans: list[Span], root: Span, name: str) -> list[Span]:
    return [s for s in _descendants(spans, root) if s.name == name]


def _med_dur(spans: list[Span], roots: list[Span], name: str) -> float:
    """Median over ``roots`` of the summed duration of descendants ``name``."""
    return median([sum(duration(s) for s in _named(spans, r, name)) for r in roots])


def call_metrics(spans: list[Span], folded: dict, calls: list[Span], new_bytes: list[int]) -> dict:
    """routing.*, sink.* and catalog.* timings for pipeline ``calls``
    (``routing.call`` spans); ``new_bytes[i]`` is the input the i-th call
    ingested for the first time."""
    out = {
        "routing.call_s": median([duration(c) for c in calls]),
        "routing.discover_s": _med_dur(spans, calls, "routing.discover"),
        "routing.stage_write_s": _med_dur(spans, calls, "routing.stage_write"),
        "routing.stage_countback_s": _med_dur(spans, calls, "routing.stage_countback"),
        "routing.fanout_s": _med_dur(spans, calls, "routing.fanout"),
        "catalog.committed_s": _med_dur(spans, calls, "catalog.committed"),
        "catalog.commit_s": _med_dur(spans, calls, "catalog.commit"),
        "catalog.compact_lineage_s": _med_dur(spans, calls, "catalog.compact_lineage"),
    }
    for n in SINK_NAMES:
        out[f"sink.{n}.write_s"] = _med_dur(spans, calls, f"sink.{n}.write")
        out[f"sink.{n}.countback_s"] = _med_dur(spans, calls, f"sink.{n}.countback")
    first = inclusive(spans, folded, calls[0])
    out["routing.jobs"] = first["jobs"]
    out["routing.stages"] = len(first["stages"])
    out["routing.tasks"] = first["tasks"]
    out["routing.task_wait_s"] = median([inclusive(spans, folded, c)["task_wait_s"] for c in calls])
    ratios = []
    for c, nb in zip(calls, new_bytes):
        read = sum(inclusive(spans, folded, d)["input_bytes"] for d in _named(spans, c, "routing.discover"))
        ratios.append(read / nb)
    out["routing.input_bytes_read_per_new_byte"] = median(ratios)
    return out


def spark_metrics(spans: list[Span], folded: dict, ops: list[Span]) -> dict:
    """Per-operation medians of the task metrics folded under ``ops``."""
    sums = [inclusive(spans, folded, op) for op in ops]
    keys = (
        ("spark.executor_cpu_s", "cpu_s"),
        ("spark.executor_run_s", "run_s"),
        ("spark.deserialize_s", "deserialize_s"),
        ("spark.gc_s", "gc_s"),
        ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
        ("spark.spill_bytes", "spill_bytes"),
    )
    return {name: median([s[k] for s in sums]) for name, k in keys}


def probe_metrics(spans: list[Span], folded: dict, parse: list[Span], enriched: list[Span]) -> dict:
    """parse.* and enrich.delta_s from the noop-write probe spans."""
    parse_s = median([duration(s) for s in parse])
    return {
        "parse.noop_s": parse_s,
        "parse.task_cpu_s": median([inclusive(spans, folded, s)["cpu_s"] for s in parse]),
        "parse.task_run_s": median([inclusive(spans, folded, s)["run_s"] for s in parse]),
        "enrich.delta_s": median([duration(s) for s in enriched]) - parse_s,
    }


def query_metrics(query_spans: list[Span]) -> dict:
    return {
        f"query.{k}_s": median([duration(s) for s in query_spans if s.attrs.get("kind") == k])
        for k in QUERY_KINDS
    }


# -- sink directory layout ---------------------------------------------------


def listing(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) that appeared between two listings."""
    new = [p for p in after if p not in before]
    return len(new), sum(after[p] for p in new)


def layout_metrics(sink_root: str) -> dict:
    """Lineage file count and data files per (sink, day) partition."""
    lineage = os.path.join(sink_root, "_lineage")
    n_lineage = sum(1 for n in os.listdir(lineage) if n.endswith(".parquet"))
    parts = files = 0
    for sink in os.listdir(sink_root):
        sdir = os.path.join(sink_root, sink)
        if sink.startswith(("_", ".")) or not os.path.isdir(sdir):
            continue
        for part in os.listdir(sdir):
            if part.startswith("day="):
                parts += 1
                files += sum(1 for n in os.listdir(os.path.join(sdir, part)) if n.endswith(".parquet"))
    return {
        "catalog.lineage_files": n_lineage,
        "catalog.files_per_day_partition": files / parts,
    }


def files_read(sink_root: str, sink: str, days: list[str] | None) -> int:
    """Parquet files a read of ``sink`` touches (all days when ``days`` is None)."""
    sdir = os.path.join(sink_root, sink)
    n = 0
    for part in os.listdir(sdir):
        if part.startswith("day=") and (days is None or part[4:] in days):
            n += sum(1 for f in os.listdir(os.path.join(sdir, part)) if f.endswith(".parquet"))
    return n
