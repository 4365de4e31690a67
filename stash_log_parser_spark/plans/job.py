"""spark-submit entrypoint for the full pipeline.

Usage (cluster):

    spark-submit --py-files pipeline.zip -m stash_log_parser_spark.plans.job \
        --input <corpus parquet/iceberg> --output <sink root>

Usage (local sandbox):

    python -m stash_log_parser_spark.plans.job \
        --input /tmp/corpus.parquet --output /tmp/sinks \
        [--master local[8]] [--gen-requests 50000 --gen-days 3]

Prints ONE JSON line with throughput (sequences/sec) and the per-sink
summary — the measurement consumed by BENCH/BASELINE.md's N-vs-4N
scaling evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from ..session import build_session


def median_rep_time(elapsed_all: list[float]) -> float:
    """Median rule, by parity. ODD rep counts take the median over ALL
    reps — with the old drop-first-then-median-of-rest rule, 3 reps
    leave 2 measurements and the "median" degenerates to their MEAN; a
    single stalled rep (observed: one 4x2 run where an executor stall
    blew one rep from ~175 s to ~1060 s) then wrecks the number. EVEN
    rep counts (>=2) drop the WARMUP rep first, leaving an odd count:
    an even-count median over all reps would average the cold start
    into the result — for --reps 2 it would be the mean of the warmup
    and the single measurement (round-4 advice)."""
    ms = sorted(elapsed_all) if len(elapsed_all) % 2 else sorted(elapsed_all[1:])
    return ms[len(ms) // 2]


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--gen-requests", type=int, default=0,
                    help="if >0 and --input missing, generate a corpus first")
    ap.add_argument("--gen-days", type=int, default=3)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--reps", type=int, default=1,
                    help=">1: reported time is the median over reps; for ODD"
                         " counts over all reps (absorbs the warmup rep and a"
                         " single stall), for EVEN counts the warmup rep is"
                         " dropped first so the median never averages the"
                         " cold start into the result")
    args = ap.parse_args(argv)

    spark = build_session(
        app_name="stash-log-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )

    if args.gen_requests > 0 and not os.path.exists(args.input):
        from ..corpus import generate_spark

        gen = generate_spark(spark, args.gen_requests, args.gen_days, seed=args.seed)
        gen.drop("line", "day").write.mode("overwrite").parquet(args.input)

    from ..functions.parse import read_corpus
    from .routing import run_pipeline

    n_rows = read_corpus(spark, args.input).count()
    elapsed_all = []
    summary = None
    for rep in range(max(args.reps, 1)):
        t0 = time.perf_counter()
        summary = run_pipeline(
            spark, args.input, args.output,
            run_id=f"{args.run_id}-{rep}",
            force=args.force or args.reps > 1,
        )
        elapsed_all.append(time.perf_counter() - t0)
    elapsed = median_rep_time(elapsed_all)
    result = {
        "metric": "pipeline_sequences_per_sec",
        "value": round(n_rows / elapsed, 1),
        "unit": "seq/s",
        "rows": n_rows,
        "elapsed_sec": round(elapsed, 2),
        "elapsed_all_sec": [round(e, 2) for e in elapsed_all],
        "master": spark.sparkContext.master,
        "summary": summary,
    }
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
