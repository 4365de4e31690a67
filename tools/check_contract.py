"""Local mimic of the driver's correctness gate: run every queries()
entry and its oracle_sql() twin, compare row count, column names, and an
order-insensitive value multiset. Usage:

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    import datetime as dt

    import numpy as np

    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "item"):
        return v.item()
    return v


def cell_kind(v):
    """Scalar type-kind label of a *normalized* cell.

    The driver's value hash is strict about numeric type (it hashes the
    repr, so 123 != 123.0).  `norm_cell` deliberately coerces numpy
    scalars to Python scalars but preserves the int/float divide, so the
    kind of the normalized value mirrors what the driver would see.
    None is transparent (returns None so callers can skip nulls).
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    if isinstance(v, str):
        return "s"
    if isinstance(v, tuple):
        ks = sorted({k for k in (cell_kind(x) for x in v) if k is not None})
        return "t<" + ",".join(ks) + ">"
    return type(v).__name__


def df_kinds(cols, rows):
    """Per-column set of scalar kinds over all non-null normalized cells."""
    kinds = {c: set() for c in cols}
    for row in rows:
        for c, v in zip(cols, row):
            k = cell_kind(v)
            if k is not None:
                kinds[c].add(k)
    return {c: ",".join(sorted(ks)) for c, ks in kinds.items()}


def df_multiset(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def main():
    import duckdb

    import __spark_entry__ as E
    from stash_log_parser_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = build_session(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            continue
        el = time.perf_counter() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{el:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: oracle raised {type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            continue
        sc, sr = df_multiset(sdf)
        oc, orr = df_multiset(odf)
        if sc != oc:
            print(f"FAIL  {name}: columns differ spark={sc} oracle={oc}")
            n_fail += 1
        elif len(sr) != len(orr):
            print(f"FAIL  {name}: rowcount spark={len(sr)} oracle={len(orr)}")
            n_fail += 1
        elif sr != orr:
            diffs = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs: {diffs}")
            n_fail += 1
        elif (kd := {c: (sk[c], ok[c])
                     for sk, ok in ((df_kinds(sc, sr), df_kinds(oc, orr)),)
                     for c in sc
                     if sk[c] != ok[c] and sk[c] and ok[c]}):
            # Values compare equal under Python coercion (1 == 1.0) but the
            # scalar KINDS differ — the driver's value hash would fail here
            # (e.g. DuckDB HUGEINT -> pandas float64 vs Spark LongType).
            print(f"FAIL  {name}: dtype-kind differs (spark vs oracle): {kd}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sr)} rows [{el:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
