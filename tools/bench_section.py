"""One bench section in a fresh process (fresh JVM) — invoked by
bench.py as a subprocess.

Round-4 postmortem (VERDICT r4 "What's wrong" #1-2): the monolithic
bench ran conformance + 100k ClickBench + 10M ClickBench in ONE
SparkSession, and late sections inherited an aged JVM — the committed
cb34 read 3.15 s where a fresh session measures 0.54 s, and the sf0.1
"shared-query regression" (23->37 s) reproduced only in the aged
session.  ClickBench's own convention is one system at a time in a
clean process; each section now gets exactly that, so artifacts are
reproducible instead of hostage to in-session history.

Usage: python tools/bench_section.py <conformance|cb_sample|cb_10m>
Prints one JSON line on stdout; diagnostics to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _min_of(reps: int, fn) -> float:
    fn()  # warm-up: parquet footers + page cache + codegen JIT'd
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def section_conformance(out: dict) -> None:
    from cowsdb_spark.queries import registry
    from cowsdb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("moospark-bench-conf")
    timings: dict[str, float] = {}
    for name, qd in sorted(registry().items()):
        try:
            timings[name] = round(
                _min_of(1, lambda qd=qd: qd.spark(spark, sf_dir).collect()), 3
            )
        except Exception as e:  # noqa: BLE001
            out.setdefault("errs", {})[name] = repr(e)[:300]
            traceback.print_exc(file=sys.stderr)
    out["queries"] = timings


def section_cb_sample(out: dict) -> None:
    from cowsdb_spark.clickbench import QUERIES, register_hits
    from cowsdb_spark.engine import Engine
    from cowsdb_spark.session import get_spark

    spark = get_spark("moospark-bench-cb")
    register_hits(spark)
    eng = Engine(spark)
    cb: dict[str, float] = {}
    for q in QUERIES:
        try:
            cb[q["id"]] = round(
                _min_of(1, lambda q=q: eng.execute_to_df(q["sql"])[0].collect()), 3
            )
        except Exception as e:  # noqa: BLE001
            out.setdefault("errs", {})[q["id"]] = repr(e)[:300]
    out["queries"] = cb


def section_cb_10m(out: dict) -> None:
    import duckdb

    from cowsdb_spark.clickbench import QUERIES
    from cowsdb_spark.engine import Engine
    from cowsdb_spark.session import get_spark, host_cpus
    from tools.gen_hits import ensure_hits_10m

    p10 = ensure_hits_10m()
    spark = get_spark("moospark-bench-10m")
    spark.read.parquet(p10).createOrReplaceTempView("hits")
    eng = Engine(spark)
    con = duckdb.connect()
    con.execute(f"SET threads TO {host_cpus()}")
    con.execute(f"CREATE VIEW hits AS SELECT * FROM read_parquet('{p10}')")
    # r7 protocol (mirrors tools/bench_100m.py): engines interleaved
    # PER QUERY so box state is identical for both sides of a ratio,
    # plus a deterministic full GC before each Spark cell — the 45s
    # periodicGC timer fires at arbitrary cell phases and late-sweep
    # heavy aggs otherwise inherit the whole sweep's garbage.
    jvm_gc = spark.sparkContext._jvm.System.gc
    cbs: dict[str, float] = {}
    cbd: dict[str, float] = {}
    for q in QUERIES:
        try:
            jvm_gc()
            cbs[q["id"]] = round(
                _min_of(3, lambda q=q: eng.execute_to_df(q["sql"])[0].collect()), 3
            )
        except Exception as e:  # noqa: BLE001
            out.setdefault("errs", {})[f"10m_{q['id']}"] = repr(e)[:300]
        try:
            dsql = q.get("oracle", q["sql"])
            cbd[q["id"]] = round(_min_of(3, lambda d=dsql: con.execute(d).fetchall()), 3)
        except Exception as e:  # noqa: BLE001
            out.setdefault("errs", {})[f"10m_ddb_{q['id']}"] = repr(e)[:300]
    spark.stop()
    out["spark"] = cbs
    out["duckdb"] = cbd
    out["protocol"] = "interleaved per-query, min-of-3 after warm-up, pre-cell GC"
    out["spark_total"] = round(sum(cbs.values()), 3)
    out["duckdb_total"] = round(sum(cbd.values()), 3)


def section_scaling(out: dict) -> None:
    """Per-operator scaling lane at fixture scale (r9 verdict #2).

    The sf0.1 conformance section cannot resolve core scaling — every
    registry entry is sub-3 s there, so per-query fixed overhead (job
    scheduling, codegen, 32-way task setup) swamps compute and the
    8-core total equals the 32-core total. This section times the
    heavy operator FAMILIES on deterministic fixtures sized so each
    lane runs seconds of real compute at local[32]; the driver's
    lower-core re-run then yields meaningful per-operator ratios.
    Fixtures are cached on disk (inputs, not results — every timed
    pass recomputes from parquet). Same timing protocol as
    conformance: one warm-up, min-of-1.

    Deliberately excluded: streaming drains (t16/t28/t35/t48/t49 —
    identical-code walls swing 3-10× on this box, see
    OPTIMIZATION_r09.md Final-bench variance note) and the PQ/IVF-PQ
    builds (x20/x21 — dominated by driver-side k-means codebook
    training, a NAMED serial bottleneck, measured in
    BENCH_ANN_1M.json train_encode_s; a core-count ratio would only
    re-measure that constant).
    """
    from pyspark.sql import functions as F

    from cowsdb_spark.session import get_spark
    from tools.bench_ann_scale import gen_embeddings
    from tools.bench_composite_scale import ensure_fixtures
    from tools.gen_docs import generate

    d300k = generate(n=300_000)
    d1m = generate(n=1_000_000)
    e500k = gen_embeddings(500_000)
    spark = get_spark("moospark-bench-scaling")
    ev, qt, _ = ensure_fixtures(spark, 10_000_000)
    docs1m = spark.read.parquet(d1m)
    docs300k = spark.read.parquet(d300k)
    emb = spark.read.parquet(e500k)

    from cowsdb_spark.operators.asof import asof_join
    from cowsdb_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        minhash_signature_table,
        ngram_jaccard_pairs,
    )
    from cowsdb_spark.operators.retrieval import bm25_topk
    from cowsdb_spark.operators.semdedup import semdedup
    from cowsdb_spark.operators.text import dup_ngram_coverage, lang_id, tf_idf

    def one(df):  # noop sink: every column of every row computed,
        # nothing collected (guide §1.4) — column pruning cannot
        # silently drop the operator's work the way an agg could
        df.write.format("noop").mode("overwrite").save()

    def t31_lane():
        one(dup_ngram_coverage(docs300k, n=6, min_docs=2))

    def t50_lane():
        # k=512 cells for 500k vectors (the BENCH_ANN sizing): the
        # registry's k=8 is right for sf0.1's 2.5k vectors but makes
        # huge cells here — the pair stage is quadratic per cell
        one(semdedup(emb, k=512, tau=0.45))

    def t46_lane():
        new = docs1m.filter(F.col("doc_id") % 3 != 0)
        seen = docs1m.filter(F.col("doc_id") % 3 == 0)
        store = minhash_signature_table(seen)
        one(minhash_lsh_pairs_incremental(new, store, min_jaccard=0.2))

    def t06_lane():
        one(minhash_lsh_pairs(docs1m, min_jaccard=0.2))

    def t26_lane():
        one(lang_id(docs1m))

    def t53_lane():
        q = docs1m.filter(F.col("doc_id") % 10_000 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("qtext"),
        )
        one(bm25_topk(docs1m, q, k=10))

    def t08_lane():
        pairs = (
            docs300k.select(F.col("doc_id").alias("id_a"))
            .withColumn("id_b", F.col("id_a") + 1)
            .join(docs300k.select(F.col("doc_id").alias("id_b")), "id_b", "inner")
        )
        one(ngram_jaccard_pairs(docs300k, pairs, n=3))

    def t11_lane():
        left = ev.select("key", "ts", "v")
        right = qt.select("key", "ts", F.col("px").alias("value"))
        one(asof_join(left, right, on="key", direction="all"))

    def t17_lane():
        one(tf_idf(docs300k, top_k=5))

    lanes = {
        "t31": t31_lane, "t50": t50_lane, "t46": t46_lane, "t06": t06_lane,
        "t26": t26_lane, "t53": t53_lane, "t08": t08_lane, "t11": t11_lane,
        "t17": t17_lane,
    }
    timings: dict[str, float] = {}
    for name, fn in lanes.items():
        try:
            spark.sparkContext.setJobDescription(f"scaling:{name}")
            # min-of-2 (not 1): these 4-15 s lanes swing ~30% run to
            # run on this box; one warm-up + two timed reps keeps the
            # core-count ratio meaningful without doubling the budget
            timings[name] = round(_min_of(2, fn), 2)
            print(f"scaling {name}: {timings[name]}s", file=sys.stderr, flush=True)
        except Exception as e:  # noqa: BLE001
            out.setdefault("errs", {})[name] = repr(e)[:300]
            traceback.print_exc(file=sys.stderr)
    out["queries"] = timings


def main() -> None:
    which = sys.argv[1]
    out: dict = {"section": which}
    try:
        {"conformance": section_conformance,
         "cb_sample": section_cb_sample,
         "cb_10m": section_cb_10m,
         "scaling": section_scaling}[which](out)
    except Exception as e:  # noqa: BLE001 — always emit a JSON line
        out.setdefault("errs", {})["section"] = repr(e)[:300]
        traceback.print_exc(file=sys.stderr)
    sys.stdout.flush()
    print("SECTION_JSON " + json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
