"""Round-6 optimization harness (guide §1): time individual queries()
entries in isolation with the noop sink, and dump .explain("formatted")
plans for the plan-diff exhibits under plans/r06/.

This file is SEPARATE from the frozen bench.py on purpose — the driver
times rounds with the round-start bench.py; numbers from here are only
cited as before/after evidence in OPTIMIZATION_r06.md.

Usage:
    python bench_extra.py q1 q2 ...            # time queries (one untimed
                                               # warm-up, then median of reps)
    python bench_extra.py --explain TAG q1 ... # also write plans/r06/<q>_<TAG>.txt
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 SPARK_GRAFT_REPS=3 python bench_extra.py ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def main() -> None:
    args = sys.argv[1:]
    tag = None
    if args and args[0] == "--explain":
        tag = args[1]
        args = args[2:]
    names = args
    if not names:
        print("usage: bench_extra.py [--explain TAG] query [query ...]")
        return

    from stash_log_parser_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    spark = build_session(
        app_name="bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus), 8),
    )

    import __spark_entry__ as E

    qs = E.queries()
    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if tag is not None:
            os.makedirs(PLANS_DIR, exist_ok=True)
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        # one untimed run first, so the timed reps leave out the
        # process's first-run costs (JIT, worker start-up, file cache)
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        times[name] = round(samples[len(samples) // 2], 3)
        spread[name] = round(samples[-1] - samples[0], 3)
        print(f"{name}: {times[name]} (spread {spread[name]})", file=sys.stderr)
    print(
        json.dumps(
            {
                "queries": times,
                "spread": spread,
                "reps": reps,
                "sf": sf_dir,
                "cpus": int(cpus),
            }
        )
    )


if __name__ == "__main__":
    main()
