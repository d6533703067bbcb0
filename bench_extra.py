#!/usr/bin/env python
"""Extra measurement harness (guide §1.1/§1.4) — NOT part of the driver
contract. ``bench.py`` is frozen for measurement; this file exists so the
optimization rounds can isolate single queries with the noop sink, capture
``explain("formatted")`` plans, and hash results for before/after identity
checks without touching the frozen harness.

Usage:
    python bench_extra.py time  <query> [sf_dir] [runs]   # noop-sink wall
    python bench_extra.py plan  <query> [sf_dir] [out]    # formatted plan
    python bench_extra.py hash  <query> [sf_dir]          # result md5 (order-insensitive)
    python bench_extra.py all   [sf_dir] [runs]           # every query once
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

from bench import warm_python_workers
from pdf2ocr_spark.session import default_cpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()


def _spark():
    from pdf2ocr_spark.session import get_spark

    return get_spark(
        app_name="bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _queries():
    from pdf2ocr_spark.plans import QUERIES

    return QUERIES


def result_hash(df) -> tuple[str, int]:
    """Order-insensitive md5 over normalized rows (same normalization as
    tests/test_oracle_parity.normalize): identity witness for rewrites."""
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append(round(v, 4) if not math.isnan(v) else "nan")
            else:
                row.append(v)
        rows.append(tuple(row))
    blob = repr((cols, sorted(rows, key=repr))).encode()
    return hashlib.md5(blob).hexdigest(), len(rows)


def main() -> None:
    cmd = sys.argv[1]
    args = sys.argv[2:]

    if cmd == "all":
        sf = args[0] if args else SF_DIR
        runs = int(args[1]) if len(args) > 1 else 1
        spark = _spark()
        warm_python_workers(spark)
        qs = _queries()
        out = {}
        for name in sorted(qs):
            walls = []
            for _ in range(runs):
                t0 = time.perf_counter()
                df = qs[name](spark, sf)
                t1 = time.perf_counter()
                _noop(df)
                t2 = time.perf_counter()
                walls.append((t1 - t0, t2 - t1, t2 - t0))
            c, e, w = min(walls, key=lambda t: t[2])
            out[name] = w
            print(f"{name:35s} construct={c:7.3f} eval={e:7.3f} total={w:7.3f}",
                  flush=True)
        print("TOTAL", round(sum(out.values()), 2))
        return

    name = args[0]
    sf = args[1] if len(args) > 1 else SF_DIR
    qs = _queries()
    spark = _spark()

    if cmd == "time":
        runs = int(args[2]) if len(args) > 2 else 2
        warm_python_workers(spark)
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        for i in range(runs):
            t0 = time.perf_counter()
            df = qs[name](spark, sf)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            print(
                f"run{i}: construct={t1 - t0:.3f} eval={t2 - t1:.3f} "
                f"total={t2 - t0:.3f}",
                flush=True,
            )
    elif cmd == "plan":
        df = qs[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if len(args) > 2:
            with open(args[2], "w") as f:
                f.write(plan)
            print(f"wrote {args[2]}")
        else:
            print(plan)
    elif cmd == "hash":
        h, n = result_hash(qs[name](spark, sf))
        print(f"{name} sf={sf} rows={n} hash={h}")
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
