"""Fan-out routing, lineage, idempotent resume (SURVEY.md §8.1 M6)."""

import shutil

import pytest
from pyspark.sql import functions as F

from stash_log_parser_spark import corpus
from stash_log_parser_spark.plans.routing import (
    SINKS,
    duration_percentiles_global,
    protocol_counts_global,
    repository_stats_global,
    run_pipeline,
)
from stash_log_parser_spark.sources.catalog import SinkCatalog


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("route") / "corpus.parquet")
    corpus.write_corpus(p, n_requests_per_day=400, n_days=3, seed=11)
    return p


def test_full_run_writes_all_sinks(spark, corpus_path, tmp_path):
    out = str(tmp_path / "sinks")
    summary = run_pipeline(spark, corpus_path, out, run_id="r1")
    assert summary["days_parsed"] == 3
    cat = SinkCatalog(spark, out)
    for name in SINKS:
        assert cat.exists(name), name
        assert summary["sinks"][name]["days_written"] == 3
    # lineage has one row per (sink, day), plus the parsed_stage days
    assert len(cat.committed()) == (len(SINKS) + 1) * 3
    assert cat.exists("parsed_stage")


def test_rerun_is_noop(spark, corpus_path, tmp_path):
    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    s2 = run_pipeline(spark, corpus_path, out, run_id="r2")
    assert s2["days_parsed"] == 0
    assert all(v["days_written"] == 0 for v in s2["sinks"].values())


def test_resume_after_partial_failure_is_identical(spark, corpus_path, tmp_path):
    """Kill-after-sink-k simulation: a run that only committed some sinks
    resumes to a final state identical to an uninterrupted run."""
    out_full = str(tmp_path / "full")
    run_pipeline(spark, corpus_path, out_full, run_id="full")

    # partial run: only the first three sinks "survive the crash"
    out_part = str(tmp_path / "part")
    first3 = dict(list(SINKS.items())[:3])
    run_pipeline(spark, corpus_path, out_part, run_id="crashed", sinks=first3)
    # resume with the full sink set
    s = run_pipeline(spark, corpus_path, out_part, run_id="resume")
    assert s["sinks"]["git_operations"]["days_written"] == 0  # already committed
    assert s["sinks"]["request_durations"]["days_written"] == 3  # recovered

    cat_full, cat_part = SinkCatalog(spark, out_full), SinkCatalog(spark, out_part)
    for name in SINKS:
        a = sorted(map(tuple, cat_full.read(name).collect()))
        b = sorted(map(tuple, cat_part.read(name).collect()))
        assert a == b, f"sink {name} differs after resume"


def test_interrupted_partition_rewrite_is_idempotent(spark, corpus_path, tmp_path):
    """Crash BETWEEN data write and lineage commit: the partition is
    rewritten on resume with no duplicates (whole-day overwrite)."""
    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    cat = SinkCatalog(spark, out)
    before = sorted(map(tuple, cat.read("repository_stats_daily").collect()))

    # simulate: lineage lost for one sink (data still on disk)
    lineage = cat.read("_lineage").filter(F.col("sink") != "repository_stats_daily")
    rows = lineage.collect()
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(rows, lineage.schema).coalesce(1).write.mode("overwrite").parquet(f"{out}/_lineage")

    s = run_pipeline(spark, corpus_path, out, run_id="r2")
    assert s["sinks"]["repository_stats_daily"]["days_written"] == 3
    after = sorted(map(tuple, cat.read("repository_stats_daily").collect()))
    assert before == after


def test_routed_raw_sink_token_equality(spark, corpus_path, tmp_path):
    """BASELINE.json:15 invariant on the on-disk routed rows."""
    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    routed = SinkCatalog(spark, out).read("request_durations").alias("r")
    src = spark.read.parquet(corpus_path).alias("c")
    j = routed.join(src, "doc_id")
    assert j.count() == routed.count() > 0
    assert j.filter(F.expr("r.tokens != c.tokens")).count() == 0


def test_global_rollups_match_direct_aggregation(spark, corpus_path, tmp_path):
    """Daily partials merge to exactly the single-pass global answers."""
    from stash_log_parser_spark.functions.parse import parse_corpus
    from stash_log_parser_spark.operators import analyses as A

    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    cat = SinkCatalog(spark, out)
    parsed = parse_corpus(spark.read.parquet(corpus_path))

    assert sorted(map(tuple, repository_stats_global(cat).collect())) == sorted(
        map(tuple, A.repository_stats(parsed).collect())
    )
    assert sorted(map(tuple, protocol_counts_global(cat).collect())) == sorted(
        map(tuple, A.protocol_counts(parsed).collect())
    )
    got = {r.op_type: (r.n, r.p50, r.p99) for r in duration_percentiles_global(cat).collect()}
    want = {r.op_type: (r.n, r.p50, r.p99) for r in A.duration_percentiles(parsed).collect()}
    assert got == want


def test_resume_reuses_stage_without_reparse(spark, corpus_path, tmp_path):
    """Losing an analysis sink's lineage must recompute that sink from the
    parsed stage WITHOUT re-parsing (stage days stay committed)."""
    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    cat = SinkCatalog(spark, out)
    lineage = cat.read("_lineage").filter(F.col("sink") != "git_operations")
    rows = lineage.collect()
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(rows, lineage.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out}/_lineage")

    s = run_pipeline(spark, corpus_path, out, run_id="r2")
    assert s["stage_days_written"] == 0  # no re-parse
    assert s["sinks"]["git_operations"]["days_written"] == 3


def _tokenize_lines(spark, lines, source, day):
    """Tiny tokenized-corpus frame from raw log lines (contract columns
    plus the oracle convenience columns, like corpus._day_rows)."""
    rows = [
        (f"{day}-x{i:04d}", list(ln.encode("utf-8")), len(ln.encode("utf-8")), source, ln, day)
        for i, ln in enumerate(lines)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, line string, day string",
    )


def test_lineage_rows_are_true_per_day_counts(spark, corpus_path, tmp_path):
    """_lineage.rows must equal each day's actual partition row count,
    for every sink AND the parsed stage (round-1 recorded the batch
    total for every day)."""
    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    cat = SinkCatalog(spark, out)
    lineage = {
        (r.sink, r.day): r.rows for r in cat.read("_lineage").collect()
    }
    for name in list(SINKS) + ["parsed_stage"]:
        actual = {
            r.day: r.n
            for r in cat.read(name)
            .groupBy(F.col("day").cast("string").alias("day"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for day, n in actual.items():
            assert lineage[(name, day)] == n, (name, day, lineage[(name, day)], n)
        assert cat.day_rows(name) == actual, name


def test_unforced_append_reads_only_the_stage(spark, corpus_path, tmp_path, monkeypatch):
    """A one-day append takes its lineage counts from the written files'
    footers: the only sink it reads through Spark is the parsed stage
    its sinks fan out from, never a sink it has just written."""
    df = spark.read.parquet(corpus_path)
    day = F.regexp_extract("source", r"(\d{4}-\d{2}-\d{2})", 1)
    last = max(r.d for r in df.select(day.alias("d")).distinct().collect())
    inp = str(tmp_path / "input")
    df.filter(day != last).write.parquet(inp)
    out = str(tmp_path / "sinks")
    run_pipeline(spark, inp, out, run_id="history")
    df.filter(day == last).write.mode("append").parquet(inp)

    reads = []
    read = SinkCatalog.read
    monkeypatch.setattr(
        SinkCatalog, "read", lambda self, sink: reads.append(sink) or read(self, sink)
    )
    s = run_pipeline(spark, inp, out, run_id="append")
    assert s["days_parsed"] == 1
    assert reads == ["parsed_stage"]
    assert s["stage_rows"] == df.filter(day == last).count()


def test_cross_midnight_rows_route_to_file_day(spark, tmp_path):
    """A response logged in day-0's file with a day-1 timestamp
    (log-rotation spill) must be WRITTEN — under the file's day
    partition — not dropped by a ts-day filter, and the in|out pair
    straddling midnight must still match (both live in the same file)."""
    from stash_log_parser_spark import corpus

    base = str(tmp_path / "base.parquet")
    corpus.write_corpus(base, n_requests_per_day=40, n_days=1, seed=13)
    day0, day1 = "2012-09-08", "2012-09-09"
    src = f"atlassian-stash-access-{day0}.0.log"
    spill = _tokenize_lines(
        spark,
        [
            f"10.0.0.5 | ssh | i1439x9001x1 | jdoe | {day0} 23:59:59,500 | "
            f"git-upload-pack '/CONF/confluence.git' | - | - | - | - |",
            f"10.0.0.5 | ssh | o0x9001x1 | jdoe | {day1} 00:00:00,200 | "
            f"git-upload-pack '/CONF/confluence.git' | - | clone | 700 | - |",
        ],
        src,
        day0,
    )
    cdir = str(tmp_path / "corpus")
    spark.read.parquet(base).unionByName(spill).coalesce(1).write.parquet(cdir)

    out = str(tmp_path / "sinks")
    run_pipeline(spark, cdir, out, run_id="r1")
    cat = SinkCatalog(spark, out)

    ops = cat.read("git_operations").filter(F.col("hour").startswith(day1)).collect()
    assert len(ops) == 1 and str(ops[0].day) == day0 and ops[0].clone_miss == 1

    durs = cat.read("request_durations").filter(F.col("duration_ms") == 700).collect()
    assert len(durs) == 1 and str(durs[0].day) == day0

    pairing = cat.read("pairing_daily").filter(F.col("day") == day0).first()
    # the midnight-straddling pair matched (same file day, same counter)
    unmatched = cat.read("parsed_stage").filter(
        (F.col("req_counter") == 9001) & F.col("is_parsed")
    ).count()
    assert unmatched == 2 and pairing.matched_pairs >= 1


def test_bucketed_stage_join_is_shuffle_free(spark, corpus_path, tmp_path):
    """The bucketed stage layout (SURVEY.md §8.1): parsed stage and raw
    tokens co-bucketed on doc_id join WITHOUT any Exchange — the plan
    the token re-attach would run at 100 TB."""
    from stash_log_parser_spark.functions.parse import parse_corpus

    raw = spark.read.parquet(corpus_path).select("doc_id", "tokens", "n_tok", "source")
    parsed = parse_corpus(raw).select("doc_id", "op_type", "duration_ms")
    cat = SinkCatalog(spark, str(tmp_path / "bucketed"))
    cat.write_bucketed(parsed, "parsed_bucketed", col="doc_id", buckets=8)
    cat.write_bucketed(raw.select("doc_id", "tokens"), "tokens_bucketed", col="doc_id", buckets=8)

    # at 100 TB neither side is broadcastable — force the large-large
    # join shape the bucketing exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cat.read_bucketed("parsed_bucketed").join(
            cat.read_bucketed("tokens_bucketed"), "doc_id"
        )
        assert j.count() == raw.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_estimate_scan_splits_matches_spark_packing(spark, tmp_path):
    """estimate_scan_splits replicates FilePartition's packing math; pin
    it within 2x of Spark's ACTUAL scan partitioning for both shapes
    that matter: many packed small files and one splittable big file.
    (A byte-count-only estimate undercounted the small-file case 30x and
    triggered a spurious full-payload repartition — round-2 regression.)
    spread_scan hashes the one-file input across the cores on its key
    and leaves the packed many-file input as it is."""
    import re

    from stash_log_parser_spark.plans.routing import estimate_scan_splits, spread_scan

    many = str(tmp_path / "many")
    spark.range(0, 200_000).selectExpr(
        "cast(id as string) doc_id", "repeat('x', 64) pad"
    ).repartition(40).write.mode("overwrite").parquet(many)
    one = str(tmp_path / "one")
    spark.range(0, 200_000).selectExpr(
        "cast(id as string) doc_id", "repeat('x', 64) pad"
    ).coalesce(1).write.mode("overwrite").parquet(one)

    par = spark.sparkContext.defaultParallelism
    for path in (many, one):
        df = spark.read.parquet(path)
        actual = df.rdd.getNumPartitions()
        est = estimate_scan_splits(df, path)
        assert actual / 2 <= est <= actual * 2, (path, est, actual)

    df = spark.read.parquet(many)
    assert spread_scan(df, many, "doc_id") is df
    spread = spread_scan(spark.read.parquet(one), one, "doc_id")
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(doc_id#\d+, {par}\)", plan), plan


def test_fanout_scans_are_column_pruned(spark, corpus_path, tmp_path):
    """Scale claim pinned to the plan: every sink's scan of the stage
    table reads ONLY the columns it needs (ReadSchema subset) and its
    row filter is pushed into the parquet scan (PushedFilters)."""
    import re

    from pyspark.sql import functions as F

    from stash_log_parser_spark.plans.routing import SINKS

    out = str(tmp_path / "prune_sinks")
    run_pipeline(spark, corpus_path, out, run_id="prune")
    cat = SinkCatalog(spark, out)
    stage = cat.read("parsed_stage")
    n_stage_cols = len(stage.columns)
    raw = (
        spark.read.parquet(corpus_path)
        .select("doc_id", "tokens", "n_tok", "source")
        .withColumn("file_day", F.regexp_extract("source", r"(\d{4}-\d{2}-\d{2})", 1))
    )
    for name, fn in SINKS.items():
        plan = fn(stage, raw)._jdf.queryExecution().executedPlan().toString()
        # identify scans by schema (the Location path truncates in long
        # plan strings); the raw-table scan is the one carrying tokens
        stage_scans = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln and "ReadSchema" in ln and "tokens" not in ln
        ]
        assert stage_scans, (name, plan)
        for ln in stage_scans:
            # the scan's output list is complete even where the long
            # ReadSchema string is elided ("…st...")
            m = re.search(r"FileScan parquet \[([^\]]*)\]", ln)
            assert m, ln
            cols = [
                re.sub(r"#\d+L?$", "", c.strip())
                for c in m.group(1).split(",")
                if c.strip()
            ]
            # a pruned scan reads well under the full stage width
            assert 0 < len(cols) < n_stage_cols - 4, (name, cols)
        if name != "metrics":  # metrics is the one sink that keeps all rows
            assert "PushedFilters: [Is" in plan or "PushedFilters: [" in plan


def test_all_malformed_corpus_zero_row_sinks_and_lineage(spark, tmp_path):
    """A corpus of pure garbage must flow through the whole pipeline:
    counted in metrics (F5, never dropped), zero-row aggregate sinks
    committed as explicit lineage ZEROS (an all-empty parquet write
    leaves no readable footer), and a resume finds nothing pending."""
    rows = [
        (f"d{i}", [104, 105, 33], 3, "atlassian-stash-access-2012-09-08.0.log")
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    inp = str(tmp_path / "bad.parquet")
    df.write.parquet(inp)
    out = str(tmp_path / "sinks")
    s = run_pipeline(spark, inp, out, run_id="bad")
    assert s["stage_rows"] == 50
    cat = SinkCatalog(spark, out)
    m = cat.read("metrics").collect()
    assert sum(r.malformed_lines for r in m) == 50
    assert sum(r.parsed_lines for r in m) == 0
    assert s["sinks"]["git_operations"]["rows"] == 0
    lin = cat.read("_lineage").filter("sink = 'git_operations'").collect()
    assert [(str(r.day), r.rows) for r in lin] == [("2012-09-08", 0)]
    # the aggregate sinks wrote no files: the footer count is an explicit 0
    assert cat.day_rows("git_operations", ["2012-09-08"]) == {"2012-09-08": 0}
    s2 = run_pipeline(spark, inp, out, run_id="bad-resume")
    assert s2["days_parsed"] == 0


def test_compact_partitions_preserves_rows(spark, corpus_path, tmp_path):
    """Small-file compaction: day partitions rewritten into fewer files
    with identical row contents; lineage untouched so a resume stays a
    no-op. (The Iceberg seam equivalent is rewrite_data_files.)"""
    import os

    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    cat = SinkCatalog(spark, out)
    sink = "request_durations"
    before_rows = sorted(map(tuple, cat.read(sink).collect()))

    def files_per_day():
        root = f"{out}/{sink}"
        return {
            d: sum(1 for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet"))
            for d in os.listdir(root)
            if d.startswith("day=")
        }

    before_files = files_per_day()
    assert any(n > 1 for n in before_files.values()), before_files
    report = cat.compact_partitions(sink)
    after_files = files_per_day()
    assert report and all(a < b for b, a in report.values())
    assert all(n == 1 for n in after_files.values()), after_files
    assert sorted(map(tuple, cat.read(sink).collect())) == before_rows
    s = run_pipeline(spark, corpus_path, out, run_id="r2")
    assert s["days_parsed"] == 0  # lineage untouched — still committed


def test_compaction_crash_windows_never_double_rows(spark, tmp_path):
    """Every crash window of the rename-based compaction swap is
    repaired by recover_compactions with EXACTLY the original rows —
    never the old+new double-count the round-2 advice flagged for the
    move-files-then-delete form."""
    import os
    import shutil

    out = str(tmp_path / "sinks")
    cat = SinkCatalog(spark, out)
    df = spark.range(100).selectExpr("id", "'2012-09-08' AS day")
    cat.write_partitions(df.repartition(6), "s")
    truth = sorted(r.id for r in cat.read("s").collect())
    root = f"{out}/s"
    day_dir = os.path.join(root, "day=2012-09-08")
    staging = os.path.join(root, ".compact-stage-day=2012-09-08")
    aside = os.path.join(root, ".compact-aside-day=2012-09-08")

    def rows():
        return sorted(r.id for r in cat.read("s").collect())

    # window 1: staging written (complete), crash before any rename —
    # recovery drops the stale staging (and since catalog.read() runs
    # recovery itself, the explicit call must come before the read).
    shutil.copytree(day_dir, staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    acts = cat.recover_compactions("s")
    assert acts == {"day=2012-09-08": "dropped_stale_staging"}
    assert not os.path.exists(staging) and rows() == truth

    # window 2: crash between the two renames, staging complete —
    # recovery finishes the swap (identity content here; the point is
    # the rows survive intact).
    shutil.copytree(day_dir, staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    os.rename(day_dir, aside)
    assert cat.recover_compactions("s") == {"day=2012-09-08": "completed_swap"}
    assert rows() == truth and not os.path.exists(aside)
    os.remove(os.path.join(day_dir, "_SUCCESS"))  # swap artifact, not data

    # window 3: crash between the renames with an INCOMPLETE staging
    # (no _SUCCESS marker) — recovery restores the original.
    shutil.copytree(day_dir, staging)
    os.rename(day_dir, aside)
    assert cat.recover_compactions("s") == {"day=2012-09-08": "restored_original"}
    assert rows() == truth and not os.path.exists(staging)

    # window 4: crash after the swap, before the aside delete.
    shutil.copytree(day_dir, aside)
    assert cat.recover_compactions("s") == {"day=2012-09-08": "finished_swap"}
    assert rows() == truth and not os.path.exists(aside)

    # the footer row count repairs first, as a read does: with the day
    # only in the aside dir it still counts the day's rows
    os.rename(day_dir, aside)
    assert cat.day_rows("s") == {"2012-09-08": len(truth)}
    assert not os.path.exists(aside) and rows() == truth

    # and compact_partitions itself self-heals stale state, then
    # compacts the 6-file day into one file with identical rows
    shutil.copytree(day_dir, staging)
    report = cat.compact_partitions("s", target_file_bytes=1 << 30)
    assert rows() == truth
    assert report == {"2012-09-08": (6, 1)}
    assert not os.path.exists(staging) and not os.path.exists(aside)


def test_compaction_recovery_is_partition_col_generic(spark, tmp_path):
    """Round-3 advice: a crash while compacting a sink partitioned on a
    NON-default column must be repaired by the very next plain
    catalog.read() — which passes no column — not only by a maintenance
    call that happens to guess the right one. recover_compactions now
    parses <col>=<val> from the aside/stage dir names."""
    import os
    import shutil

    out = str(tmp_path / "sinks")
    cat = SinkCatalog(spark, out)
    df = spark.range(40).selectExpr("id", "'07' AS hour")
    cat.write_partitions(df.repartition(4), "h", partition_col="hour")
    truth = sorted(r.id for r in cat.read("h").collect())
    root = f"{out}/h"
    part_dir = os.path.join(root, "hour=07")
    staging = os.path.join(root, ".compact-stage-hour=07")
    aside = os.path.join(root, ".compact-aside-hour=07")
    # crash between the two renames, staging complete → the partition
    # is currently invisible (only the dot-prefixed aside holds it)
    shutil.copytree(part_dir, staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    os.rename(part_dir, aside)
    assert sorted(r.id for r in cat.read("h").collect()) == truth  # plain read repairs
    assert os.path.isdir(part_dir) and not os.path.exists(aside)


def test_retract_crash_window_is_superseded_not_permanent(spark, tmp_path):
    """Round-3 advice: retract() writes the rewritten log BEFORE deleting
    the old files. If it crashes in between, the surviving original row
    and its 'retracted:'-run_id twin coexist — committed() must treat the
    retraction as superseding the original (else the purged day counts as
    committed and a backfill silently skips it forever), and
    compact_lineage must drop the stale original so the log heals."""
    import os
    import shutil

    out = str(tmp_path / "sinks")
    cat = SinkCatalog(spark, out)
    cat.commit([("s", "2012-09-08", 10), ("s", "2012-09-09", 11)], run_id="r1")
    lineage = f"{out}/_lineage"
    pre = [f for f in os.listdir(lineage) if f.endswith(".parquet")]
    # snapshot the pre-retract files, retract, then put the old files
    # back — exactly the state a crash between write and delete leaves
    for f in pre:
        shutil.copy(os.path.join(lineage, f), os.path.join(lineage, f) + ".bak")
    assert cat.retract({("s", "2012-09-08")}) == 1
    for f in pre:
        os.rename(os.path.join(lineage, f) + ".bak", os.path.join(lineage, f))
    # both the original and the retracted twin are now on disk...
    runs = sorted(r.run_id for r in cat.read("_lineage").collect())
    assert "r1" in runs and "retracted:r1" in runs
    # ...but the retraction supersedes: the day is NOT committed
    assert cat.committed() == {("s", "2012-09-09")}
    # and compaction permanently removes the stale original
    rep = cat.compact_lineage(max_files=0)
    assert rep["files_after"] == 1
    rows = [(r.sink, r.day, r.run_id) for r in cat.read("_lineage").collect()]
    assert ("s", "2012-09-08", "r1") not in rows
    assert ("s", "2012-09-08", "retracted:r1") in rows  # guard stays armed
    assert cat.committed() == {("s", "2012-09-09")}


def test_lineage_self_compaction(spark, tmp_path):
    """100 incremental commits fold into one lineage file with
    identical committed()/row contents; a crash-duplicated compact file
    is collapsed by the next compaction (commit-key dedup)."""
    import os
    import shutil

    out = str(tmp_path / "sinks")
    cat = SinkCatalog(spark, out)
    for i in range(100):
        cat.commit([("s", f"2012-09-{(i % 30) + 1:02d}", i)], run_id=f"r{i}")
    lineage_dir = f"{out}/_lineage"
    before = sorted(map(tuple, cat.read("_lineage").collect()))
    committed_before = cat.committed()
    assert len(os.listdir(lineage_dir)) == 100

    rep = cat.compact_lineage(max_files=10)
    assert rep["files_before"] == 100 and rep["files_after"] == 1
    files = [f for f in os.listdir(lineage_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    assert sorted(map(tuple, cat.read("_lineage").collect())) == before
    assert cat.committed() == committed_before

    # under the threshold → no-op
    assert cat.compact_lineage(max_files=10)["files_after"] == 1

    # crash window: compact file written, old files not yet deleted —
    # simulate by duplicating the compact file; recompaction dedups.
    f = os.path.join(lineage_dir, files[0])
    shutil.copy(f, f.replace(".parquet", "-dup.parquet"))
    rep2 = cat.compact_lineage(max_files=1)
    assert rep2["files_after"] == 1 and rep2["rows"] == len(before)
    assert sorted(map(tuple, cat.read("_lineage").collect())) == before


def test_duration_sketch_rollup_matches_exact_within_bound(spark, corpus_path, tmp_path):
    """The histogram-sink rollup (the 10^12-row percentile path) agrees
    with the exact raw-sink rollup within the 1/16 bucket bound, for
    every op_type and percentile."""
    from stash_log_parser_spark.plans.routing import (
        duration_percentiles_global,
        duration_percentiles_global_sketch,
    )

    import math

    out = str(tmp_path / "sinks")
    run_pipeline(spark, corpus_path, out, run_id="r1")
    cat = SinkCatalog(spark, out)
    sketch = {r.op_type: r for r in duration_percentiles_global_sketch(cat).collect()}
    exact_n = {r.op_type: r.n for r in duration_percentiles_global(cat).collect()}
    assert {op: r.n for op, r in sketch.items()} == exact_n
    durs: dict = {}
    for r in cat.read("request_durations").select("op_type", "duration_ms").collect():
        durs.setdefault(r.op_type, []).append(r.duration_ms)
    for op, s in sketch.items():
        vals = sorted(durs[op])
        assert s.n == len(vals)
        for p, name in zip((0.5, 0.9, 0.95, 0.99), ("p50", "p90", "p95", "p99")):
            # the sketch targets the order statistic at rank ceil(p·n)
            # and reports its bucket's LOWER bound: exact within that
            # bucket's 1/16 width
            target = vals[math.ceil(p * len(vals)) - 1]
            sv = int(s[name])
            assert sv <= target, (op, name, sv, target)
            assert target < sv + max(sv // 16, 1) + 1, (op, name, sv, target)


def test_dynamic_partition_pruning_on_day_partitioned_sink(spark, tmp_path):
    """A day-partitioned fact joined to a filtered dimension must scan
    ONLY the surviving day partitions: Spark inserts a dynamicpruning
    subquery on the partition column (DPP). This is the mechanism that
    makes 'join last week's dims against a 100 TB day-partitioned
    table' read 7 partitions, not 3650."""
    import datetime as dt

    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact")
    rows = [
        (dt.date(2024, 1, 1 + d).isoformat(), i, d * 100 + i)
        for d in range(6)
        for i in range(50)
    ]
    fact = spark.createDataFrame(rows, "day string, k long, v long")
    fact.write.partitionBy("day").mode("overwrite").parquet(fact_dir)

    dim = spark.createDataFrame(
        [("2024-01-02", "keep"), ("2024-01-05", "keep")],
        "day string, tag string",
    ).filter(F.col("tag") == "keep")

    f = spark.read.parquet(fact_dir)
    joined = f.join(dim, "day").groupBy("day").agg(F.sum("v").alias("s"))
    optimized = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized.lower(), optimized[:2000]
    # and the result is correct: only the two kept days survive
    got = {str(r.day): r.s for r in joined.collect()}
    assert set(got) == {"2024-01-02", "2024-01-05"}
    assert got["2024-01-02"] == sum(100 + i for i in range(50))


def test_write_partitions_batch_layout_purges_stale_days_without_days_arg(
    spark, tmp_path
):
    """Backfilling a streaming-ingested sink WITHOUT naming the days
    must still purge the stale batch=N/day=D leftovers (derived from
    the frame) — otherwise every later read double-counts those days
    (round-4 advice)."""
    out = str(tmp_path / "sinks")
    cat = SinkCatalog(spark, out)
    old = spark.range(10).selectExpr("id", "'2012-09-08' AS day")
    cat.write_batch_partitions(old, "s", batch_id=3)
    new = spark.range(100, 110).selectExpr("id", "'2012-09-08' AS day")
    cat.write_partitions(new, "s")  # days=None: derived from new
    got = sorted(r.id for r in cat.read("s").collect())
    assert got == list(range(100, 110))


def test_median_rep_time_parity_rule():
    """Odd counts: median over all reps. Even counts: warmup dropped
    first so the cold start is never averaged into the result."""
    from stash_log_parser_spark.plans.job import median_rep_time

    assert median_rep_time([100.0]) == 100.0
    # reps=2: old rule reported (100+10)/2=55; now the measurement
    assert median_rep_time([100.0, 10.0]) == 10.0
    assert median_rep_time([100.0, 10.0, 12.0]) == 12.0  # odd: warmup outvoted
    assert median_rep_time([100.0, 10.0, 12.0, 11.0]) == 11.0  # drop warmup, median of 3
