"""100M-row ClickBench point → BENCH_100M.json.

Purpose: the amortization argument made measurable. At sf0.1 and even
10M rows, Spark's ~0.1-0.3 s per-query floor (task scheduling, codegen
dispatch, 32-way setup) dominates sub-second queries and the
Spark/DuckDB ratio mostly measures that floor. At 100M rows (~7.7 GB
parquet, 10 sorted runs of 256k-row groups) per-query work is 10x and
the floor is ~2% of runtime, so the ratio reflects what survives a
1000-executor scale-up: per-row efficiency, shuffle discipline,
pushdown.

Protocol (r7, replacing the r6 all-Spark-then-all-DuckDB sweep whose
committed ratio swung 2.4-3.2x on which denominator run landed): both
engines run INTERLEAVED PER QUERY — for each query, Spark warm-up +
N timed reps immediately followed by DuckDB warm-up + N timed reps,
so page-cache/thermal/box state is identical for the two sides of
every ratio. Per-query statistic is the MEDIAN of reps (min rewards
lucky outliers; the medians are what BASELINE.md quotes). Raw rep
vectors for both engines are committed in the artifact along with a
per-query spread field (max/min across reps) so denominator drift is
visible instead of silently moving the grade.

Both engines read the identical parquet file; DuckDB runs at the same
thread count. Run on an idle box.

Usage: python tools/bench_100m.py [reps]   (default 3)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH_100M.json")


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    import duckdb

    from cowsdb_spark.clickbench import QUERIES
    from cowsdb_spark.engine import Engine
    from cowsdb_spark.session import get_spark, host_cpus
    from tools.gen_hits import ensure_hits_100m

    t0 = time.time()
    path = ensure_hits_100m()
    print(f"fixture ready in {time.time()-t0:.0f}s: {path} "
          f"({os.path.getsize(path)/1e9:.2f} GB)", flush=True)

    spark = get_spark("bench-100m")
    spark.read.parquet(path).createOrReplaceTempView("hits")
    eng = Engine(spark)
    con = duckdb.connect()
    con.execute(f"SET threads TO {host_cpus()}")
    con.execute(f"CREATE VIEW hits AS SELECT * FROM read_parquet('{path}')")

    spark_raw: dict[str, list[float]] = {}
    duck_raw: dict[str, list[float]] = {}
    jvm_gc = spark.sparkContext._jvm.System.gc
    for q in QUERIES:
        qid = q["id"]
        dsql = q.get("oracle", q["sql"])
        # Deterministic full GC before each cell: the 45s periodicGC
        # timer fires at arbitrary phases of a cell, so a heavy query
        # landing just before a collection inherits the whole sweep's
        # accumulated garbage (measured: cb32 17.8s late in this sweep
        # vs 9.7s in a fresh JVM). Pre-cell GC isolates per-query cost
        # the way fresh-JVM cells do, without the restart.
        jvm_gc()
        # Spark cell: warm-up + reps
        eng.execute_to_df(q["sql"])[0].collect()
        sv = []
        for _ in range(reps):
            t1 = time.perf_counter()
            eng.execute_to_df(q["sql"])[0].collect()
            sv.append(round(time.perf_counter() - t1, 3))
        # DuckDB cell immediately after, same box state
        con.execute(dsql).fetchall()
        dv = []
        for _ in range(reps):
            t1 = time.perf_counter()
            con.execute(dsql).fetchall()
            dv.append(round(time.perf_counter() - t1, 3))
        spark_raw[qid], duck_raw[qid] = sv, dv
        print(f"{qid}: spark {statistics.median(sv):.3f}s {sv} | "
              f"duck {statistics.median(dv):.3f}s {dv}", flush=True)

    spark_med = {k: round(statistics.median(v), 3) for k, v in spark_raw.items()}
    duck_med = {k: round(statistics.median(v), 3) for k, v in duck_raw.items()}
    spread = {
        k: round(
            max(max(spark_raw[k]) / max(min(spark_raw[k]), 1e-9),
                max(duck_raw[k]) / max(min(duck_raw[k]), 1e-9)), 2)
        for k in spark_raw
    }
    ratios = {
        k: round(spark_med[k] / duck_med[k], 2) if duck_med[k] > 0 else None
        for k in spark_med
    }
    doc = {
        "rows": 100_000_000,
        "reps": reps,
        "spark": spark_med,
        "duckdb": duck_med,
        "spark_raw": spark_raw,
        "duckdb_raw": duck_raw,
        "per_query_ratio": ratios,
        "rep_spread_maxmin": spread,
        "spark_total": round(sum(spark_med.values()), 3),
        "duckdb_total": round(sum(duck_med.values()), 3),
        "protocol": (
            "interleaved per-query dual-engine cells (spark warm+median-of-"
            f"{reps}, then duckdb warm+median-of-{reps}, same box state), "
            "one warm session each, identical parquet, same thread count"
        ),
    }
    doc["ratio"] = round(doc["spark_total"] / doc["duckdb_total"], 2)
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in
                      ("rows", "reps", "spark_total", "duckdb_total", "ratio")}))
    spark.stop()


if __name__ == "__main__":
    main()
