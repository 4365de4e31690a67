from __future__ import annotations

import os

import pytest

import layers
import spans
from spans import Span


def _events(jobs, tasks, stage_submit=None):
    return {"jobs": jobs, "tasks": tasks, "stage_submit": stage_submit or {}}


def _task(stage, launch, **kw):
    t = {k: 0.0 for k in spans.TASK_SUMS}
    t.update(stage=stage, attempt=0, launch=launch)
    t.update(kw)
    return t


def test_attribution_by_pool_and_by_main_thread_window():
    main, worker = 1, 2
    sp = [
        Span(0, "routing.call", 0.0, 10.0, None, main),
        Span(1, "routing.stage", 1.0, 3.0, 0, main),
        Span(2, "routing.stage_write", 1.0, 2.0, 1, main),
        Span(3, "sink.metrics", 4.0, 8.0, 0, worker),
        Span(4, "sink.metrics.write", 4.0, 6.0, 3, worker),
    ]
    jobs = {
        0: {"id": 0, "submit": 1.5, "pool": None, "stages": [0]},  # stage write
        1: {"id": 1, "submit": 2.5, "pool": None, "stages": [1]},  # stage, after write
        2: {"id": 2, "submit": 5.0, "pool": "metrics", "stages": [2]},  # sink write
        3: {"id": 3, "submit": 7.0, "pool": "metrics", "stages": [3, 2]},  # countback
        4: {"id": 4, "submit": 5.0, "pool": None, "stages": [4]},  # main thread, fan-out
        5: {"id": 5, "submit": 20.0, "pool": None, "stages": [5]},  # after every span
    }
    assert spans.attribute_jobs(sp, jobs, main) == {0: 2, 1: 1, 2: 4, 3: 3, 4: 0, 5: None}

    tasks = [_task(0, 1.6, cpu_s=1.0), _task(2, 5.1, cpu_s=2.0), _task(3, 7.1), _task(5, 20.0)]
    folded = spans.fold(sp, _events(jobs, tasks, {(2, 0): 5.0}), main)
    # a stage listed by two jobs belongs to the first one that ran it
    assert folded["task_span"] == [2, 4, 3, None]
    assert folded["unattributed"]["tasks"] == 1
    assert folded["self"][4]["task_wait_s"] == pytest.approx(0.1)
    call = spans.inclusive(sp, folded, sp[0])
    assert call["tasks"] == 3 and call["jobs"] == 5 and call["cpu_s"] == 3.0


def test_tracer_nests_worker_thread_spans_under_the_open_main_span():
    import threading

    tr = spans.Tracer()

    def work():
        with tr.span("inner"):
            pass

    with tr.span("outer") as outer:
        th = threading.Thread(target=work)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    inner = [s for s in tr.spans if s.name == "inner"][0]
    assert inner.parent == outer.id and inner.thread != outer.thread


@pytest.fixture(scope="module")
def traced_pipeline(tmp_path_factory):
    """One instrumented run_pipeline over a tiny generated corpus, with
    Spark's event log on."""
    from gen import ensure_days, link_days
    from stash_log_parser_spark.plans.routing import run_pipeline
    from stash_log_parser_spark.session import build_session

    tmp = tmp_path_factory.mktemp("traced")
    key = ensure_days(str(tmp / "inputs"), seed=3, n_requests=40, n_days=2)
    link_days(key, str(tmp / "input"), [0, 1])
    evdir = tmp / "eventlog"
    evdir.mkdir()
    spark = build_session(
        app_name="perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + str(evdir),
            "spark.local.dir": str(tmp / "local"),
        },
    )
    tr = spans.Tracer()
    try:
        with spans.instrument(tr), tr.span("op"):
            summary = tr.call_pipeline(run_pipeline, spark, str(tmp / "input"), str(tmp / "sinks"))
    finally:
        spark.stop()
    events = spans.read_events(spans.event_log_files(str(evdir)))
    return tr, events, summary, str(tmp / "sinks")


def test_spans_nest(traced_pipeline):
    tr, _, summary, _ = traced_pipeline
    assert summary["days_parsed"] == 2
    by_id = {s.id: s for s in tr.spans}
    for s in tr.spans:
        assert s.end is not None and s.end >= s.start
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start - 1e-3 <= s.start and s.end <= p.end + 1e-3, (s.name, p.name)
    names = {s.name for s in tr.spans}
    for want in ("routing.call", "routing.discover", "routing.stage_write", "routing.fanout"):
        assert want in names
    for sink in layers.SINK_NAMES:
        assert f"sink.{sink}.write" in names and f"sink.{sink}.countback" in names


def test_every_task_is_attributed_to_exactly_one_span(traced_pipeline):
    tr, events, _, _ = traced_pipeline
    folded = spans.fold(tr.spans, events, tr.main_thread)
    assert len(folded["task_span"]) == len(events["tasks"]) > 0
    assert folded["unattributed"]["tasks"] == 0
    # per-span self counts partition the task set
    assert sum(f["tasks"] for f in folded["self"].values()) == len(events["tasks"])
    # sink jobs land inside their own sink's subtree
    by_id = {s.id: s for s in tr.spans}
    for jid, sid in folded["job_span"].items():
        pool = events["jobs"][jid]["pool"]
        if pool:
            s = by_id[sid]
            while s.name != f"sink.{pool}":
                s = by_id[s.parent]


def test_per_layer_table_shape(traced_pipeline):
    tr, events, _, sink_root = traced_pipeline
    folded = spans.fold(tr.spans, events, tr.main_thread)
    calls = [s for s in tr.spans if s.name == "routing.call"]
    input_bytes = sum(
        os.path.getsize(os.path.join(sink_root, "..", "input", f))
        for f in os.listdir(os.path.join(sink_root, "..", "input"))
    )
    out = layers.call_metrics(tr.spans, folded, calls, [input_bytes])
    out.update(layers.spark_metrics(tr.spans, folded, [s for s in tr.spans if s.name == "op"]))
    out.update(layers.layout_metrics(sink_root))
    table = {n for n, _, _ in layers.PER_LAYER}
    assert set(out) <= table
    assert all(isinstance(v, (int, float)) for v in out.values())
    assert out["routing.jobs"] > 0 and out["routing.tasks"] >= out["routing.stages"] > 0
    assert out["routing.stage_write_s"] + out["routing.fanout_s"] <= out["routing.call_s"]
    assert out["catalog.lineage_files"] == 1 + len(layers.SINK_NAMES)
