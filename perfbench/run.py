"""Closed-loop, single-client benchmark of the routing pipeline.

    python3 perfbench/run.py --workload daily_append --seed 1 --seconds 15 --trace 0

Workloads (scale, warm-up rule and the numbers they rest on are in
``perfbench/RECORD.md``):

* ``daily_append`` - each operation lands one new small day in the input
  and calls ``run_pipeline`` without ``force`` on a committed history.
* ``rollup_reads`` - each operation is one dashboard refresh: the four
  global rollups and one recent-day sink read, run concurrently as a
  dashboard loads its panels, over a committed history.

Set-up starts the session (booting the JVM) and builds the history with one
``run_pipeline`` call into a fresh sink root; that cold call is the
warm-up (for rollup_reads, with ``WARMUP_REFRESHES`` untimed refreshes),
and operations are timed only after it. A run times a fixed number of
operations, ``--seconds`` divided by the workload's nominal operation
wall, so every run of a workload times the same operations.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (set-up wall),
``op_p50_s`` (median operation wall) and ``stored_bytes_per_input_byte``.
``--trace 1`` runs the same set-up and operations on a SparkContext with
the event log on and spans recorded around the package calls, then
noop-write probes of parse and enrich, and prints the per-layer table of
``perfbench/layers.py``.

Every operation is checked against a DuckDB oracle over the generated
lines; failures count in ``failed``. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "stash_log_parser_spark"
# the committed history both workloads start from
HISTORY_DAYS = 8
REQUESTS_PER_DAY = 150
# nominal wall of one operation (4 cores); a run times
# max(MIN_OPS, round(seconds / nominal)) operations
OP_NOMINAL_S = {"daily_append": 6.0, "rollup_reads": 0.8}
MIN_OPS = 3
WARMUP_REFRESHES = 2
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "stored_bytes_per_input_byte": "ratio"}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _require_package() -> None:
    """Make the package importable here and on Python workers, or exit 2."""
    pkg_dir = os.path.join(ROOT, PACKAGE)
    if not os.path.isfile(os.path.join(pkg_dir, "__init__.py")):
        _log(f"{PACKAGE}/ not found next to perfbench/ in {ROOT}")
        sys.exit(2)
    sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    # Python workers are forked by the JVM, which inherits this
    # environment; this process's sys.path entry does not reach them.
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    import stash_log_parser_spark

    if os.path.dirname(os.path.abspath(stash_log_parser_spark.__file__)) != pkg_dir:
        _log(f"imported {PACKAGE} from {stash_log_parser_spark.__file__}, not {pkg_dir}")
        sys.exit(2)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove_stale_runs() -> None:
    """Delete the directories of earlier runs whose process has ended."""
    if os.path.isdir(WORK):
        for name in os.listdir(WORK):
            if name.startswith("run-") and not _alive(int(name[4:])):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


class Op:
    __slots__ = ("wall", "ok", "label", "new_bytes")

    def __init__(self, wall: float, ok: bool, label: str, new_bytes: int = 0):
        self.wall, self.ok, self.label, self.new_bytes = wall, ok, label, new_bytes


def n_ops(workload: str, seconds: float) -> int:
    """Operations a run times: the same count for every run of a workload."""
    return max(MIN_OPS, round(seconds / OP_NOMINAL_S[workload]))


class Bench:
    def __init__(self, args):
        from gen import day_name

        self.args = args
        self.workload = args.workload
        self.n_ops = n_ops(args.workload, args.seconds)
        self.cpus = len(os.sched_getaffinity(0))
        _remove_stale_runs()
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.run_dir, sub))
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_WORKER_REUSE", "SPARK_GRAFT_DRIVER_MEM"):
            os.environ.pop(var, None)
        self.spark = None
        self.tracer = None
        self.history = list(range(HISTORY_DAYS))
        self.history_names = [day_name(d) for d in self.history]
        self.snapshot = {}

    # -- session ---------------------------------------------------------------

    def _start_session(self, event_log: bool):
        from stash_log_parser_spark.session import build_session

        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    # zstd (the default codec) is unreadable without zstandard
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                }
            )
        return build_session(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=max(self.cpus, 4),
            extra_conf=conf,
        )

    def _stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, the JVM it launched, and remove the run's files."""
        from pyspark import SparkContext

        self._stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -- pipeline calls -------------------------------------------------------

    def _span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def _pipeline(self, run_id: str) -> dict:
        from stash_log_parser_spark.plans.routing import run_pipeline

        if self.tracer:
            return self.tracer.call_pipeline(run_pipeline, self.spark, self.input_dir, self.sink_root, run_id=run_id)
        return run_pipeline(self.spark, self.input_dir, self.sink_root, run_id=run_id)

    def setup(self) -> float:
        """Session start + history build into a fresh sink root."""
        from gen import link_days

        base = os.path.join(self.run_dir, "setup")
        self.input_dir = os.path.join(base, "input")
        self.sink_root = os.path.join(base, "sinks")
        self.input_bytes = link_days(self.key, self.input_dir, self.history)
        t0 = time.perf_counter()
        self.spark = self._start_session(event_log=self.tracer is not None)
        self.session_build_s = time.perf_counter() - t0
        with self._span("setup"):
            self._pipeline("history")
            if self.workload == "rollup_reads":
                # refresh walls fall by about a third over the first few
                # refreshes on a new history (4 cores)
                days = {s: self._shape_sink_days(s)[1] for s in self._query_shapes()}
                rng = random.Random("warm-up")
                for _ in range(WARMUP_REFRESHES):
                    self._refresh(rng, days)
        wall = time.perf_counter() - t0
        _log(f"setup: {wall:.2f}s (session {self.session_build_s:.2f}s)")
        if self.workload == "rollup_reads":
            self._take_snapshot({}, self.input_bytes)
        return wall

    def _take_snapshot(self, before: dict, input_bytes: int) -> None:
        """Stored bytes and sink layout of the committed sinks, counting as
        written every file not in the ``before`` listing."""
        from layers import layout_metrics, listing, written

        after = listing(self.sink_root)
        self.snapshot = {
            "stored_bytes": sum(after.values()),
            "input_bytes": input_bytes,
            "written": written(before, after),
            **layout_metrics(self.sink_root),
            "files_read_per_query": self._files_read_per_query(),
        }

    # -- operations -----------------------------------------------------------

    def measure(self) -> list[Op]:
        return self._appends() if self.workload == "daily_append" else self._reads()

    def _appends(self) -> list[Op]:
        """Append days HISTORY_DAYS .. HISTORY_DAYS + n_ops - 1, one per
        unforced run_pipeline call; the layout snapshot follows the first."""
        from gen import day_name, link_days
        from layers import listing

        ops: list[Op] = []
        for day in range(len(self.history), len(self.history) + self.n_ops):
            new_bytes = link_days(self.key, self.input_dir, [day])
            before = listing(self.sink_root) if not ops else None
            t0 = time.perf_counter()
            try:
                with self._span("op", kind="append"):
                    summary = self._pipeline(f"append-{day}")
                wall = time.perf_counter() - t0
                ok = summary["days_parsed"] == 1
            except Exception:
                wall = time.perf_counter() - t0
                traceback.print_exc()
                ok = False
            ops.append(Op(wall, ok, day_name(day), new_bytes))
            if before is not None:
                self._take_snapshot(before, self.input_bytes + new_bytes)
        return self._check(ops, self.history_names + [op.label for op in ops])

    def _query_shapes(self) -> list[tuple]:
        from layers import QUERY_KINDS, RECENT_DAYS, RECENT_SINKS

        shapes = [(k,) for k in QUERY_KINDS if k != "recent_days"]
        return shapes + [("recent_days", sink, n) for sink in RECENT_SINKS for n in RECENT_DAYS]

    def _shape_sink_days(self, shape: tuple) -> tuple[str, list[str] | None]:
        sink = {
            "repository_stats_global": "repository_stats_daily",
            "protocol_counts_global": "protocol_counts_daily",
            "duration_percentiles_global_sketch": "duration_hist_daily",
            "duration_percentiles_global": "request_durations",
        }.get(shape[0])
        if sink is not None:
            return sink, None
        days = sorted(n[4:] for n in os.listdir(os.path.join(self.sink_root, shape[1])) if n.startswith("day="))
        return shape[1], days[-shape[2]:]

    def _files_read_per_query(self) -> float:
        from layers import files_read

        shapes = self._query_shapes()
        return sum(files_read(self.sink_root, *self._shape_sink_days(s)) for s in shapes) / len(shapes)

    def _query(self, catalog, shape: tuple, days: list[str] | None):
        from pyspark.sql import functions as F
        from stash_log_parser_spark.plans import routing

        if shape[0] == "recent_days":
            df = catalog.read(shape[1]).filter(F.col("day") >= F.to_date(F.lit(days[0])))
        else:
            df = getattr(routing, shape[0])(catalog)
        return df.collect()

    def _reads(self) -> list[Op]:
        """Each operation is one dashboard refresh (see ``_refresh``),
        checked against the oracle's answers."""
        from gen import oracle_files
        from oracle import Oracle, normalize

        shapes = self._query_shapes()
        days = {s: self._shape_sink_days(s)[1] for s in shapes}
        oracle = Oracle(oracle_files(self.key, self.history))
        try:
            problems = oracle.check_days(self.sink_root, self.history_names)
            expected = {
                s: normalize(
                    oracle.recent_days(s[1], days[s]) if s[0] == "recent_days" else getattr(oracle, s[0])()
                )
                for s in shapes
            }
        finally:
            oracle.close()
        if problems:
            _log(f"history check failed: {problems}")
        rng = random.Random(f"{self.args.seed}/mix")
        ops: list[Op] = []
        for _ in range(self.n_ops):
            t0 = time.perf_counter()
            try:
                with self._span("op", kind="refresh"):
                    refresh, results = self._refresh(rng, days)
                wall = time.perf_counter() - t0
                ok = not problems and all(normalize(r) == expected[s] for s, r in zip(refresh, results))
            except Exception:
                wall = time.perf_counter() - t0
                traceback.print_exc()
                ok, refresh = False, []
            ops.append(Op(wall, ok, repr(refresh)))
        return ops

    def _refresh(self, rng: random.Random, days: dict) -> tuple[list, list]:
        """One dashboard refresh: every query kind once, submitted in a
        seeded order and run concurrently, one thread per panel, as a
        dashboard loads its panels; the recent-day read takes a seeded sink
        and span. Returns the query shapes and their result rows."""
        from concurrent.futures import ThreadPoolExecutor

        from layers import QUERY_KINDS, RECENT_DAYS, RECENT_SINKS
        from stash_log_parser_spark.sources.catalog import SinkCatalog

        catalog = SinkCatalog(self.spark, self.sink_root)
        refresh = [
            ("recent_days", rng.choice(RECENT_SINKS), rng.choice(RECENT_DAYS)) if k == "recent_days" else (k,)
            for k in rng.sample(QUERY_KINDS, len(QUERY_KINDS))
        ]

        def panel(shape):
            with self._span(f"query.{shape[0]}", kind=shape[0]):
                return self._query(catalog, shape, days[shape])

        with ThreadPoolExecutor(max_workers=len(refresh)) as pool:
            results = list(pool.map(panel, refresh))
        return refresh, results

    def _check(self, ops: list[Op], days: list[str]) -> list[Op]:
        """DuckDB check of every committed day; a bad history day fails
        every operation, a bad appended day fails its own."""
        from gen import oracle_files
        from oracle import Oracle

        oracle = Oracle(oracle_files(self.key, range(len(days))))
        try:
            problems = oracle.check_days(self.sink_root, days)
        finally:
            oracle.close()
        if problems:
            _log(f"correctness problems: {problems}")
        history_bad = any(d in problems for d in self.history_names)
        for op in ops:
            if history_bad or op.label in problems:
                op.ok = False
        return ops

    # -- traced phase ---------------------------------------------------------

    def layer_metrics(self, ops: list[Op]) -> dict:
        """The per-layer table from the spans and the folded event log."""
        import layers
        import spans

        self._stop_session()
        tr = self.tracer
        events = spans.read_events(spans.event_log_files(os.path.join(self.run_dir, "eventlog")))
        folded = spans.fold(tr.spans, events, tr.main_thread)
        measured = self._named("op")
        if self.workload == "daily_append":
            calls = [s for s in tr.spans if s.name == "routing.call" and s.parent in {o.id for o in measured}]
            new_bytes = [op.new_bytes for op in ops]
        else:
            calls = self._named("routing.call")
            new_bytes = [self.input_bytes]
        metrics = {"session.build_s": self.session_build_s}
        metrics.update(layers.probe_metrics(tr.spans, folded, self._named("probe.parse"), self._named("probe.enrich")))
        metrics.update(layers.call_metrics(tr.spans, folded, calls, new_bytes))
        files, nbytes = self.snapshot["written"]
        metrics.update(
            {
                "catalog.lineage_files": self.snapshot["catalog.lineage_files"],
                "catalog.files_written": files,
                "catalog.bytes_written": nbytes,
                "catalog.files_per_day_partition": self.snapshot["catalog.files_per_day_partition"],
                "catalog.files_read_per_query": self.snapshot["files_read_per_query"],
            }
        )
        by_id = {s.id: s for s in tr.spans}
        queries = [s for s in tr.spans if s.name.startswith("query.") and by_id[s.parent].name in ("op", "probes")]
        metrics.update(layers.query_metrics(queries))
        metrics.update(layers.spark_metrics(tr.spans, folded, measured))
        self.trace_summary = {
            "samples": {
                "ops": len(measured),
                "routing_calls": len(calls),
                "probe_passes": len(self._named("probe.parse")),
                "queries": {k: sum(s.attrs.get("kind") == k for s in queries) for k in layers.QUERY_KINDS},
            },
            "jobs_per_call": [spans.inclusive(tr.spans, folded, c)["jobs"] for c in calls],
            "unattributed_tasks": folded["unattributed"]["tasks"],
            "tasks": len(events["tasks"]),
        }
        return {name: metrics[name] for name, _, _ in layers.PER_LAYER}

    def _named(self, name: str):
        return [s for s in self.tracer.spans if s.name == name]

    def _probes(self) -> None:
        """Noop-write probes of parse and parse+enrich over the history
        input; for daily_append also one pass of the query shapes."""
        from gen import link_days
        from stash_log_parser_spark.functions.parse import parse_corpus
        from stash_log_parser_spark.operators.enrich import enrich
        from stash_log_parser_spark.sources.catalog import SinkCatalog

        probe_dir = os.path.join(self.run_dir, "probe_input")
        shutil.rmtree(probe_dir, ignore_errors=True)
        link_days(self.key, probe_dir, self.history)
        raw = self.spark.read.parquet(probe_dir).select("doc_id", "tokens", "n_tok", "source")
        for _ in range(2):
            with self.tracer.span("probe.parse"):
                parse_corpus(raw).write.format("noop").mode("overwrite").save()
            with self.tracer.span("probe.enrich"):
                enrich(parse_corpus(raw)).write.format("noop").mode("overwrite").save()
        if self.workload == "daily_append":
            catalog = SinkCatalog(self.spark, self.sink_root)
            for shape in self._query_shapes():
                days = self._shape_sink_days(shape)[1]
                with self.tracer.span(f"query.{shape[0]}", kind=shape[0]):
                    self._query(catalog, shape, days)

    # -- run ------------------------------------------------------------------

    def run(self) -> dict:
        from gen import ensure_days
        from stats import median

        n_days = len(self.history) + (self.n_ops if self.workload == "daily_append" else 0)
        t0 = time.perf_counter()
        self.key = ensure_days(os.path.join(WORK, "inputs"), self.args.seed, REQUESTS_PER_DAY, n_days)
        _log(f"inputs ready in {time.perf_counter() - t0:.2f}s")
        if self.args.trace:
            import spans

            self.tracer = spans.Tracer()
            with spans.instrument(self.tracer):
                self.setup_s = self.setup()
                ops = self.measure()
                with self.tracer.span("probes"):
                    self._probes()
            return {"metrics": self.layer_metrics(ops), "ops": ops}
        self.setup_s = self.setup()
        ops = self.measure()
        e2e = {
            "setup_s": self.setup_s,
            "op_p50_s": median([op.wall for op in ops]),
            "stored_bytes_per_input_byte": self.snapshot["stored_bytes"] / self.snapshot["input_bytes"],
        }
        return {"metrics": e2e, "ops": ops}


def _units() -> dict:
    from layers import PER_LAYER

    return {**E2E_UNITS, **{n: u for n, u, _ in PER_LAYER}}


def _print_table(bench: Bench, result: dict) -> None:
    from stats import tail_percentile

    units = _units()
    ops = result["ops"]
    walls = [op.wall for op in ops]
    failed = sum(not op.ok for op in ops)
    print(f"workload {bench.workload}  seed {bench.args.seed}  cpus {bench.cpus}  "
          f"local[{bench.cpus}]  seconds {bench.args.seconds}  trace {bench.args.trace}")
    print(f"set-up: {bench.setup_s:.2f} s (cold JVM: session {bench.session_build_s:.2f} s + history build)")
    print(f"operations: {len(walls)} timed (op_p50_s is their median), walls {', '.join(f'{w:.3f}' for w in walls)}")
    p90 = tail_percentile(walls, 90)
    if p90 is None:
        print(f"op_p90_s: dropped ({len(walls)} samples; fewer than 10 lie beyond the 90th percentile)")
    else:
        print(f"op_p90_s: {p90:.4f} s")
    print(f"failed_op_frac: {failed / len(ops):.4f} ({failed} of {len(ops)} operations)")
    for name, value in result["metrics"].items():
        print(f"  {name:45s} {value:>16.6g} {units[name]}")
    if getattr(bench, "trace_summary", None):
        print(f"trace: {json.dumps(bench.trace_summary)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_NOMINAL_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_package()
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.close()
    _print_table(bench, result)
    units = _units()
    ops = result["ops"]
    failed = sum(not op.ok for op in ops)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
