"""DuckDB correctness oracle over the generated log lines.

The lines are re-parsed in SQL with the pipeline's grammar (ten ``" | "``
fields, request id ``[io]<minute>x<counter>x<gauge>``, comma-millisecond
timestamps) and compared with what the pipeline committed: per-day sink
contents, lineage row counts and the global rollup answers.
"""

from __future__ import annotations

import glob
import math
import os
from collections import defaultdict

import duckdb

_PARSED_SQL = r"""
CREATE OR REPLACE TEMP VIEW parsed AS
WITH s AS (
  SELECT day, doc_id, string_split(regexp_replace(line, ' \|$', ''), ' | ') AS f
  FROM read_parquet({files})
), g AS (
  SELECT day, doc_id, len(f) AS nf, f[2] AS protocol, f[3] AS rid, f[6] AS action,
    CASE WHEN f[8] IS NULL OR f[8] = '-' THEN []::VARCHAR[] ELSE string_split(f[8], ', ') END
      AS labels,
    try_strptime(replace(f[5], ',', '.'), '%Y-%m-%d %H:%M:%S.%g') AS ts,
    TRY_CAST(nullif(f[9], '-') AS BIGINT) AS duration_ms
  FROM s
), h AS (
  SELECT *,
    coalesce(regexp_full_match(rid, '[io]\d+x\d+x\d+'), false) AS rid_ok,
    CASE WHEN starts_with(action, '"') THEN regexp_extract(action, '^"(\S+) (\S+)', 1)
         ELSE regexp_extract(action, '^(git-[a-z-]+) ''([^'']+)''', 1) END AS method0,
    CASE WHEN starts_with(action, '"') THEN regexp_extract(action, '^"(\S+) (\S+)', 2)
         ELSE regexp_extract(action, '^(git-[a-z-]+) ''([^'']+)''', 2) END AS raw_path
  FROM g
), k AS (
  SELECT *,
    nullif(method0, '-') AS method,
    nullif(split_part(raw_path, '?', 1), '-') AS path,
    CASE WHEN rid_ok THEN left(rid, 1) END AS req_dir
  FROM h
)
SELECT day, doc_id, protocol, duration_ms, action,
  (nf = 10 AND rid_ok AND ts IS NOT NULL) AS is_parsed,
  list_contains(labels, 'cache:hit') AS cache_hit,
  lower(nullif(regexp_extract(path, '^(?:/scm)?/([^/]+/[^/]+?)\.git(?:/|$)', 1), '-'))
    AS repo_slug,
  CASE WHEN req_dir = 'o' THEN CASE
    WHEN list_contains(labels, 'shallow clone') THEN 'shallow_clone'
    WHEN list_contains(labels, 'clone') THEN 'clone'
    WHEN list_contains(labels, 'fetch') THEN 'fetch'
    WHEN list_contains(labels, 'push') OR contains(action, 'git-receive-pack') THEN 'push'
    WHEN list_contains(labels, 'refs') OR (method = 'GET' AND ends_with(path, '/info/refs'))
      THEN 'ref_advertisement'
  END END AS op_type
FROM k
"""

OP_PLURAL = {
    "clone": "clones",
    "fetch": "fetches",
    "shallow_clone": "shallow_clones",
    "push": "pushes",
    "ref_advertisement": "ref_advertisements",
}
PCTS = ((0.5, "p50"), (0.9, "p90"), (0.95, "p95"), (0.99, "p99"))


def normalize(rows) -> list:
    """Order-free, type-normalized form of result rows (dicts or Rows)."""
    out = []
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict()
        items = []
        for k, v in sorted(d.items()):
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, float):
                v = round(v, 6)
            items.append((k, v))
        out.append(tuple(items))
    return sorted(out, key=repr)


def _bucket(v: int) -> int:
    """Lower bound of v's duration-histogram bucket (leading 5 bits kept)."""
    if v < 32:
        return v
    shift = v.bit_length() - 5
    return (v >> shift) << shift


class Oracle:
    """Expected answers for the given oracle line files."""

    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        self.con.execute(_PARSED_SQL.format(files=repr(sorted(files))))

    def close(self) -> None:
        self.con.close()

    def _dicts(self, sql: str, params=()) -> list[dict]:
        cur = self.con.execute(sql, params)
        names = [c[0] for c in cur.description]
        return [dict(zip(names, row)) for row in cur.fetchall()]

    # -- global rollups ------------------------------------------------------

    def protocol_counts_global(self) -> list[dict]:
        return self._dicts(
            "SELECT protocol, count(*) AS n FROM parsed WHERE is_parsed GROUP BY protocol"
        )

    def repository_stats_global(self) -> list[dict]:
        sums = ", ".join(
            f"sum(CAST(op_type = '{op}' AS BIGINT)) AS {plural}" for op, plural in OP_PLURAL.items()
        )
        return self._dicts(
            f"SELECT repo_slug, {sums} FROM parsed "
            "WHERE op_type IS NOT NULL AND repo_slug IS NOT NULL GROUP BY repo_slug"
        )

    def duration_percentiles_global(self) -> list[dict]:
        cols = ", ".join(
            f"CAST(quantile_cont(duration_ms, {p}) AS DOUBLE) AS {name}" for p, name in PCTS
        )
        return self._dicts(
            f"SELECT op_type, count(*) AS n, {cols} FROM parsed "
            "WHERE op_type IS NOT NULL AND duration_ms IS NOT NULL GROUP BY op_type"
        )

    def duration_percentiles_global_sketch(self) -> list[dict]:
        by_op: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        for op, v in self.con.execute(
            "SELECT op_type, duration_ms FROM parsed "
            "WHERE is_parsed AND op_type IS NOT NULL AND duration_ms IS NOT NULL"
        ).fetchall():
            by_op[op][_bucket(v)] += 1
        out = []
        for op, hist in by_op.items():
            total = sum(hist.values())
            row = {"op_type": op, "n": total}
            for p, name in PCTS:
                rank, cum = math.ceil(p * total), 0
                for b in sorted(hist):
                    cum += hist[b]
                    if cum >= rank:
                        row[name] = b
                        break
            out.append(row)
        return out

    def recent_days(self, sink: str, days: list[str]) -> list[dict]:
        """Rows of the ``metrics`` / ``protocol_counts_daily`` sinks for ``days``."""
        if sink == "metrics":
            sql = (
                "SELECT CAST(day AS DATE) AS day, "
                "'atlassian-stash-access-' || day || '.0.log' AS source, "
                "count(*) AS total_lines, sum(CAST(is_parsed AS BIGINT)) AS parsed_lines, "
                "sum(CAST(NOT is_parsed AS BIGINT)) AS malformed_lines "
                "FROM parsed WHERE list_contains(?, day) GROUP BY day"
            )
        elif sink == "protocol_counts_daily":
            sql = (
                "SELECT CAST(day AS DATE) AS day, protocol, count(*) AS n FROM parsed "
                "WHERE is_parsed AND list_contains(?, day) GROUP BY day, protocol"
            )
        else:
            raise ValueError(f"no oracle for sink {sink!r}")
        return self._dicts(sql, [days])

    # -- committed sinks -----------------------------------------------------

    def check_days(self, sink_root: str, days: list[str]) -> dict[str, list[str]]:
        """Compare the committed sinks with the lines, per day. Returns
        ``{day: [problem, ...]}`` for every day with a mismatch."""
        problems: dict[str, list[str]] = defaultdict(list)

        def sink_rows(sink: str, select: str) -> list[tuple]:
            pattern = os.path.join(sink_root, sink, "*", "*.parquet")
            if not glob.glob(pattern):
                return []
            return self.con.execute(
                f"SELECT CAST(day AS VARCHAR) AS day, {select} FROM "
                f"read_parquet('{pattern}', hive_partitioning = true) "
                "GROUP BY ALL"
            ).fetchall()

        want = defaultdict(set)
        for d, p, n in self.con.execute(
            "SELECT day, protocol, count(*) FROM parsed WHERE is_parsed GROUP BY ALL"
        ).fetchall():
            want[d].add((p, n))
        got = defaultdict(set)
        for d, p, n in sink_rows("protocol_counts_daily", "protocol, sum(n)"):
            got[d].add((p, n))
        for d in days:
            if want[d] != got[d]:
                problems[d].append("protocol_counts_daily")

        want_ops = defaultdict(set)
        for d, op, hit, miss in self.con.execute(
            "SELECT day, op_type, sum(CAST(cache_hit AS BIGINT)), "
            "sum(CAST(NOT cache_hit AS BIGINT)) FROM parsed "
            "WHERE is_parsed AND op_type IS NOT NULL GROUP BY ALL"
        ).fetchall():
            want_ops[d].add((op, hit, miss))
        hit_miss = ", ".join(f"sum({op}_hit), sum({op}_miss)" for op in OP_PLURAL)
        got_ops = defaultdict(set)
        for row in sink_rows("git_operations", hit_miss):
            for i, op in enumerate(OP_PLURAL):
                hit, miss = row[1 + 2 * i], row[2 + 2 * i]
                if hit or miss:
                    got_ops[row[0]].add((op, hit, miss))
        for d in days:
            if want_ops[d] != got_ops[d]:
                problems[d].append("git_operations")

        lines = dict(self.con.execute("SELECT day, count(*) FROM parsed GROUP BY day").fetchall())
        total = dict(sink_rows("metrics", "sum(total_lines)"))
        for d in days:
            if lines.get(d) != total.get(d):
                problems[d].append("metrics.total_lines")

        for d, sink in lineage_mismatches(self.con, sink_root, days):
            problems[d].append(f"lineage:{sink}")
        return dict(problems)


def lineage_mismatches(con, sink_root: str, days: list[str]) -> list[tuple[str, str]]:
    """(day, sink) pairs whose lineage row count differs from the rows
    actually stored, or that have no lineage row."""
    pattern = os.path.join(sink_root, "_lineage", "*.parquet")
    recorded = defaultdict(set)
    for sink, day, rows in con.execute(
        f"SELECT sink, day, rows FROM read_parquet('{pattern}')"
    ).fetchall():
        recorded[(sink, day)].add(rows)
    sinks = sorted({s for s, _ in recorded})
    stored = defaultdict(int)
    for sink in sinks:
        files = os.path.join(sink_root, sink, "*", "*.parquet")
        if glob.glob(files):
            for day, n in con.execute(
                f"SELECT CAST(day AS VARCHAR), count(*) FROM "
                f"read_parquet('{files}', hive_partitioning = true) GROUP BY ALL"
            ).fetchall():
                stored[(sink, day)] = n
    bad = []
    for d in days:
        for sink in sinks:
            if recorded.get((sink, d)) != {stored[(sink, d)]}:
                bad.append((d, sink))
    return bad
