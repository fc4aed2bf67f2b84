"""Conformance query registry — SURVEY.md §2.12 adapted to the real
testdata schemas (TESTDATA.md; see schema probe notes below), plus
the LLM-data-pipeline extension operators (SURVEY.md §7 phase G).

Each entry pairs an idiomatic-Spark DataFrame builder with the
ANSI/DuckDB oracle SQL the driver hash-matches at sf0.01. Naming
rules (driver contract):

- every computed column is aliased IDENTICALLY on both sides;
- every float produced by arithmetic/aggregation is ``round``-ed the
  same way on both sides (summation order differs between engines);
- integer-ish results are cast so Spark/DuckDB wire types line up
  (Spark ``count`` is long = DuckDB BIGINT, but DuckDB ``SUM(int)``
  is HUGEINT, ``length()`` is BIGINT, Spark ``row_number`` is int —
  each is explicitly cast below).

Schema deltas vs FIXTURES.md discovered by probing the parquet:
``lineitem`` has no ``l_shipmode`` and ``l_shipdate`` is TIMESTAMP;
``customer`` has no ``c_phone`` (has ``c_mktsegment``); ``orders``
dates are TIMESTAMP; ``events`` has ``value``/``props`` (not
``val``), ts range 2024-01; ``documents(doc_id,text,lang,source,
n_chars)``; ``embeddings(vec_id, embedding float[64], label)``.

Reference evidence for each operator: SURVEY.md §2 table rows cited
per query as [P#/A#/J#/O#/S#] (file:line citations live in SURVEY).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .catalog import load_table


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → driver does rows-only check
    doc: str = ""


_REGISTRY: dict[str, QueryDef] = {}


def qdef(name: str, oracle: Optional[str], doc: str = ""):
    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QueryDef(name, fn, oracle, doc)
        return fn

    return wrap


def registry() -> dict[str, QueryDef]:
    return dict(_REGISTRY)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- literals


# (q01_literals merged into q02_numbers in early r6; q02_numbers then
# merged into q05_filtered_agg's numbers-digest attach in late r6 so
# t49 rotates into the driver window. S2 numbers()/range, P3
# arithmetic, and the P1 literal + unsigned-edge surface all stay
# driver-verified through q05's attach columns.)


# (q03_edge_ints merged into q01_literals — frees a slot in the
# driver's 50-row CORRECTNESS window for the pipeline operators.)


# ---------------------------------------------------------------- aggregation


# (q04_count merged into q05_filtered_agg's 1-row cross-join attach —
# frees a driver-window slot for the r5 pipeline operators.)


@qdef(
    "q05_filtered_agg",
    "SELECT sum_qty, avg_price, min_disc, max_tax, total_cnt, u, "
    "n_sum, d_sum, m_sum, f_sum, num, str, pi, z, u8, u16, u32 FROM "
    "(SELECT ROUND(SUM(l_quantity), 2) AS sum_qty, "
    "ROUND(AVG(l_extendedprice), 2) AS avg_price, "
    "MIN(l_discount) AS min_disc, MAX(l_tax) AS max_tax "
    "FROM lineitem WHERE l_quantity < 25) f CROSS JOIN "
    "(SELECT COUNT(*) AS total_cnt, COUNT(DISTINCT l_suppkey) AS u "
    "FROM lineitem) t CROSS JOIN "
    "(SELECT CAST(SUM(range) AS BIGINT) AS n_sum, "
    "CAST(SUM(range * 2) AS BIGINT) AS d_sum, "
    "CAST(SUM(range % 2) AS BIGINT) AS m_sum, "
    "ROUND(SUM(ROUND(range * CAST(1.5 AS DOUBLE), 2)), 2) AS f_sum, "
    "1 AS num, 'hello' AS str, 3.14 AS pi, 0 AS z, 255 AS u8, "
    "65535 AS u16, 4294967295 AS u32 FROM range(10)) n",
    "[A2,P9 + S1,A1 + A3 + S2,P3 + P1,P2] filtered sum/avg/min/max "
    "with the WHERE reaching the scan, plus the full-scan COUNT(*) "
    "and the exact COUNT(DISTINCT)/uniqExact attached as a 1-row "
    "cross join (r5: absorbed q04_count; r6: absorbed "
    "q06_count_distinct), plus a numbers(10)-sourced arithmetic "
    "digest carrying the literal projection and unsigned edge values "
    "(late r6: absorbed q02_numbers, which had absorbed q01_literals "
    "— ref test_suite.py:141-146,323-336,355-361; ClickBench "
    "Q0/Q2/Q4-Q6 shapes, ref test.yml:53)",
)
def q05(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    filt = li.filter(F.col("l_quantity") < 25).agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_tax").alias("max_tax"),
    )
    total = li.agg(
        F.count(F.lit(1)).alias("total_cnt"),
        F.countDistinct("l_suppkey").alias("u"),
    )
    n = spark.range(10).withColumnRenamed("id", "number")
    nums = n.agg(
        F.sum("number").cast("long").alias("n_sum"),
        F.sum(F.col("number") * 2).cast("long").alias("d_sum"),
        F.sum(F.col("number") % 2).cast("long").alias("m_sum"),
        F.round(F.sum(F.round(F.col("number") * 1.5, 2)), 2).alias("f_sum"),
    ).select(
        "*",
        F.lit(1).alias("num"),
        F.lit("hello").alias("str"),
        F.lit(3.14).alias("pi"),
        F.lit(0).alias("z"),
        F.lit(255).alias("u8"),
        F.lit(65535).alias("u16"),
        F.lit(4294967295).alias("u32"),
    )
    return filt.crossJoin(total).crossJoin(F.broadcast(nums))


# (q06_count_distinct merged into q05_filtered_agg's 1-row attach —
# frees a driver-window slot for the r6 rotation; A3 exact distinct
# stays driver-verified through q05's `u` column.)


@qdef(
    "q07_group_topk",
    "SELECT l_returnflag, l_linestatus, c, q, brass_brands, brass_parts FROM ("
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS c, ROUND(SUM(l_quantity), 2) AS q "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus "
    "ORDER BY c DESC, l_returnflag, l_linestatus LIMIT 10) g CROSS JOIN ("
    "SELECT COUNT(*) AS brass_brands, CAST(SUM(bc) AS BIGINT) AS brass_parts FROM ("
    "  SELECT p_brand, COUNT(*) AS bc FROM part WHERE p_type LIKE '%BRASS%' "
    "  GROUP BY p_brand HAVING COUNT(*) > 5) b) h",
    "[A5,O1,O3 + P6,P10] multi-key group + top-k (ClickBench Q7-Q18; "
    "Spark plans TakeOrderedAndProject), with a LIKE-filtered "
    "HAVING-gated aggregate attached as a 1-row cross join (r6: "
    "absorbed q09_like_having — ClickBench Q20-Q23/Q27-Q28 shapes)",
)
def q07(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    top = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("l_quantity"), 2).alias("q"))
        .orderBy(F.desc("c"), "l_returnflag", "l_linestatus")
        .limit(10)
    )
    p = _t(spark, sf_dir, "part")
    brass = (
        p.filter(F.col("p_type").like("%BRASS%"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("bc"))
        .filter(F.col("bc") > 5)
        .agg(
            F.count(F.lit(1)).alias("brass_brands"),
            F.sum("bc").cast("long").alias("brass_parts"),
        )
    )
    return top.crossJoin(F.broadcast(brass))


# (q09_like_having merged into q07_group_topk's 1-row attach — frees
# a driver-window slot for the r6 rotation; P6 LIKE + P10 HAVING stay
# driver-verified through q07's brass_brands/brass_parts columns.)


@qdef(
    "q08_group_by_expr",
    "SELECT CAST(strftime(ts, '%Y%m') AS INTEGER) AS ym, "
    "date_trunc('minute', ts) AS m, COUNT(*) AS c "
    "FROM events GROUP BY 1, 2 ORDER BY m LIMIT 100",
    "[A6 + 2.9 dates] group by expressions: CH toYYYYMM + "
    "toStartOfMinute/date_trunc bucketing in one aggregate (r5: "
    "absorbed q21_date_trunc so t30/t34 rotate into the driver "
    "window; ClickBench Q18/Q42, ref test.yml:49)",
)
def q08(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format("ts", "yyyyMM").cast("int").alias("ym"),
            F.date_trunc("minute", "ts").alias("m"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("m")
        .limit(100)
    )


# (q10_case merged into q16_window_rank's ride-along columns — frees
# a driver-window slot for the r6 rotation; P5 CASE WHEN and the
# toYear/toMonth/toDayOfMonth family stay driver-verified through
# q16's sz/y/mo/d columns.)


# ---------------------------------------------------------------- joins


# (q11_inner_join retired as a strict subset of q14_star_join — the
# single broadcast inner equi-join + group-by-dim-attribute shape is
# q14's customer⋈nation leg exactly; J1 stays driver-verified through
# q14 and plan-asserted in tests/test_introspection.py. Frees a
# driver-window slot for the r6 rotation.)


# (q12_left_join merged into q38_full_outer's 1-row attach — frees a
# driver-window slot for the r6 rotation; J2 LEFT OUTER null-keeping
# semantics stay driver-verified through q38's zero_order_custs
# column, which is nonzero only because LEFT JOIN keeps orderless
# customers.)


@qdef(
    "q13_anti_join",
    "SELECT c_anti, c_semi, c_top FROM "
    "(SELECT (SELECT COUNT(*) FROM customer "
    "  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS c_anti, "
    "(SELECT COUNT(*) FROM customer c "
    "  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS c_semi) s "
    "CROSS JOIN (SELECT COUNT(*) AS c_top FROM orders "
    "  WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.9) t",
    "[J4 + P9 subquery] LEFT ANTI + LEFT SEMI join in one row "
    "(absorbed q37_semi_join), plus a scalar-subquery threshold filter "
    "counted as a 1-row attach (r6: absorbed q46_scalar_subquery — "
    "MAX is exact, so the filter is deterministic)",
)
def q13(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("c_anti")
    )
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count(F.lit(1)).alias("c_semi")
    )
    # scalar-subquery plan shape (SubqueryExec threshold), verbatim SQL
    o.createOrReplaceTempView("_q13_orders")
    top = spark.sql(
        "SELECT COUNT(*) AS c_top FROM _q13_orders "
        "WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM _q13_orders) * 0.9"
    )
    return anti.crossJoin(semi).crossJoin(F.broadcast(top))


@qdef(
    "q14_star_join",
    "SELECT r_name, n_name, ROUND(SUM(o_totalprice), 2) AS rev "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name, n_name ORDER BY rev DESC, r_name, n_name",
    "[J1×3] 3-way star join; dims broadcast so the fact table never shuffles for the join",
)
def q14(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
        .orderBy(F.desc("rev"), "r_name", "n_name")
    )


# ---------------------------------------------------------------- set ops / windows


# (q15_intersect merged into q28_union_all — the set-op row now
# exercises UNION ALL + UNION DISTINCT + INTERSECT + EXCEPT.)


@qdef(
    "q16_window_rank",
    "WITH q36 AS (SELECT CAST(SUM(doc_id * 1000003 + dr * 101 + n_tok * 7 "
    "  + CAST(has_spark AS INT) + n_chars) AS BIGINT) AS q36_digest, "
    "  CAST(COUNT(*) AS INT) AS q36_rows FROM ("
    "  SELECT doc_id, n_chars, CAST(ROW_NUMBER() OVER ("
    "    PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn, "
    "  CAST(DENSE_RANK() OVER ("
    "    PARTITION BY lang ORDER BY n_chars DESC) AS BIGINT) AS dr, "
    "  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok, "
    "  list_contains(string_split(text, ' '), 'spark') AS has_spark"
    "  FROM documents) s WHERE rn <= 3) "
    "SELECT o_custkey, o_orderkey, rn, prev_p, next_p, run, sz, y, mo, d, "
    "q36_digest, q36_rows FROM ("
    "  SELECT o_custkey, o_orderkey, CAST(ROW_NUMBER() OVER ("
    "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn, "
    "  LAG(o_totalprice) OVER ("
    "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_p, "
    "  LEAD(o_totalprice) OVER ("
    "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS next_p, "
    "  ROUND(SUM(o_totalprice) OVER ("
    "    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run, "
    "  CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS sz, "
    "  CAST(year(o_orderdate) AS INTEGER) AS y, "
    "  CAST(month(o_orderdate) AS INTEGER) AS mo, "
    "  CAST(day(o_orderdate) AS INTEGER) AS d"
    "  FROM orders) t, q36 WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 100",
    "[2.7 + P5 + 2.9 dates + O6 + 2.9 arrays] ranking window / CH LIMIT "
    "BY equivalent + lag/lead + running aggregate frame over the same "
    "window (absorbed q44_lag_lead, q17_running_sum), with CASE WHEN / "
    "CH ternary and the toYear/toMonth/toDayOfMonth family riding along "
    "(r6: absorbed q10_case — ref index.html:729; ClickBench Q39); r7: "
    "absorbed q36_topk_per_group as a 1-row digest attach — per-group "
    "top-k + dense_rank + split/size/contains (and q45/q34 via q36) "
    "stay oracle-verified through the q36_digest/q36_rows columns",
)
def q16(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    d = _t(spark, sf_dir, "documents")
    wq = W.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    wd = W.partitionBy("lang").orderBy(F.desc("n_chars"))
    toks = F.split(F.col("text"), " ")
    q36 = (
        d.select(
            "doc_id",
            "n_chars",
            F.row_number().over(wq).cast("long").alias("rn"),
            F.dense_rank().over(wd).cast("long").alias("dr"),
            F.size(toks).alias("n_tok"),
            F.array_contains(toks, "spark").alias("has_spark"),
        )
        .filter(F.col("rn") <= 3)
        .agg(
            F.sum(
                F.col("doc_id") * 1000003
                + F.col("dr") * 101
                + F.col("n_tok") * 7
                + F.col("has_spark").cast("int")
                + F.col("n_chars")
            ).cast("long").alias("q36_digest"),
            F.count(F.lit(1)).cast("int").alias("q36_rows"),
        )
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.lag("o_totalprice").over(w).alias("prev_p"),
            F.lead("o_totalprice").over(w).alias("next_p"),
            F.round(F.sum("o_totalprice").over(wrun), 2).alias("run"),
            F.when(F.col("o_totalprice") > 100000, "big").otherwise("small").alias("sz"),
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("d"),
        )
        .filter(F.col("rn") <= 3)
        .crossJoin(F.broadcast(q36))  # 1-row digest attach
        .orderBy("o_custkey", "rn")
        .limit(100)
    )


@qdef(
    "q18_rollup",
    "SELECT scope, k1, k2, v FROM ("
    "  SELECT 'rollup' AS scope, COALESCE(l_returnflag, 'ALL') AS k1, "
    "  COALESCE(l_linestatus, 'ALL') AS k2, "
    "  CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS v FROM lineitem "
    "  GROUP BY ROLLUP(l_returnflag, l_linestatus) "
    "  UNION ALL "
    "  SELECT 'cube' AS scope, COALESCE(o_orderstatus, 'ALL') AS k1, "
    "  COALESCE(o_orderpriority, 'ALL') AS k2, "
    "  CAST(COUNT(*) AS DOUBLE) AS v FROM orders "
    "  GROUP BY CUBE(o_orderstatus, o_orderpriority)"
    ") t ORDER BY scope, k1, k2",
    "[A9] ROLLUP + CUBE grouping sets in one Expand pipeline "
    "(absorbed q43_cube)",
)
def q18(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    roll = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).cast("double").alias("v"))
        .select(
            F.lit("rollup").alias("scope"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("k1"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("k2"),
            "v",
        )
    )
    cub = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .select(
            F.lit("cube").alias("scope"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("k1"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("k2"),
            "v",
        )
    )
    return roll.unionByName(cub).orderBy("scope", "k1", "k2")


# (q19_offset merged into q28_union_all's distinct_page leg — frees a
# driver-window slot for the r6 rotation; O4 LIMIT/OFFSET pagination +
# O5 DISTINCT stay driver-verified: the leg's count and min row are
# wrong unless both the DISTINCT collapse and the OFFSET 100 / LIMIT
# 10 page boundaries are applied.)


# ---------------------------------------------------------------- scalar funcs


# (q22_strings merged into q27_json_extract's 1-row string digest —
# frees a driver-window slot for the r6 rotation. Every absorbed
# string function — length/substring/lower/upper/concat/position and
# regexp_replace-all — is still evaluated per-row over the part
# table and digested through order-independent aggregates, so the
# digest is wrong if any function's output changes on any row.)


# (q23_regexp merged into q22_strings' masked column — frees a
# driver-window slot; regexp backreference replacement remains
# exercised by cb28's local oracle.)


@qdef(
    "q25_pricing_summary",
    "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, "
    "ROUND(SUM(l_extendedprice), 2) AS sum_base, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc, "
    "COUNT(*) AS count_order FROM lineitem "
    "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "[TPC-H Q1 shape] flagship pricing summary",
)
def q25(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# (q26_asof_latest dropped as a strict subset: its surface —
# ROW_NUMBER over (PARTITION BY key ORDER BY ts DESC) + rn filter on a
# timestamp-bounded scan — is the q36 window+filter shape (carried by
# q16_window_rank's digest since r7) at rn=1, and true as-of JOIN
# semantics carry t11's three direction columns (r7). Frees a
# driver-window slot for the r5 pipeline operators.)


# ---------------------------------------------------------------- breadth


@qdef(
    "q27_json_extract",
    "SELECT k, s, c, len_sum, pos_sum, pfx_min, lo_min, up_max, cat_max, masked_min "
    "FROM (SELECT k, s, COUNT(*) AS c FROM ("
    "  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, "
    "  CAST(unnest(generate_series(1, 3)) AS BIGINT) AS s FROM events"
    ") t GROUP BY 1, 2) j CROSS JOIN ("
    "  SELECT CAST(SUM(LENGTH(p_name)) AS BIGINT) AS len_sum, "
    "  CAST(SUM(strpos(p_name, 'a')) AS BIGINT) AS pos_sum, "
    "  MIN(SUBSTRING(p_name, 1, 5)) AS pfx_min, "
    "  MIN(LOWER(p_name)) AS lo_min, MAX(UPPER(p_brand)) AS up_max, "
    "  MAX(CONCAT(p_brand, ':', p_type)) AS cat_max, "
    "  MIN(REGEXP_REPLACE(p_name, '[aeiou]', '*', 'g')) AS masked_min "
    "  FROM part) sd ORDER BY k, s",
    "[2.9 JSON + 1.2 arrays + 2.9 strings + P7] JSONExtractString "
    "equivalent (get_json_object) fanned out through sequence + "
    "explode (r5: absorbed q24_explode — CH range/arrayJoin, ref "
    "index.html:729), with the per-row string-function family "
    "digested into a 1-row attach (r6: absorbed q22_strings — "
    "length/substring/lower/upper/concat/position/regexp_replace-all, "
    "ClickBench Q27-Q28 shapes; DuckDB needs the 'g' flag for "
    "replace-all; backref replacement stays cb28-verified)",
)
def q27(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # r9: aggregate BY k first, fan out s afterward — s is statically
    # independent of the count (every row feeds all of s=1..3, so
    # c(k,s) == c(k)); exploding before the groupBy pushed 3× the rows
    # through the hash aggregate and exchange for identical output
    # (interleaved A/B at sf0.1: 0.775 → 0.439 s, rows identical).
    j = (
        e.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("k", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("_s"), "c")
        .select("k", F.col("_s").cast("long").alias("s"), "c")
    )
    p = _t(spark, sf_dir, "part")
    digest = p.agg(
        F.sum(F.length("p_name")).cast("long").alias("len_sum"),
        F.sum(F.instr(F.col("p_name"), "a")).cast("long").alias("pos_sum"),
        F.min(F.substring("p_name", 1, 5)).alias("pfx_min"),
        F.min(F.lower("p_name")).alias("lo_min"),
        F.max(F.upper("p_brand")).alias("up_max"),
        F.max(
            F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type"))
        ).alias("cat_max"),
        F.min(F.regexp_replace("p_name", "[aeiou]", "*")).alias("masked_min"),
    )
    return j.crossJoin(F.broadcast(digest)).orderBy("k", "s")


@qdef(
    "q28_union_all",
    "SELECT src, c FROM ("
    "  SELECT 'customer' AS src, COUNT(*) AS c FROM customer "
    "  UNION ALL SELECT 'supplier' AS src, COUNT(*) AS c FROM supplier "
    "  UNION ALL SELECT 'keys_distinct' AS src, COUNT(*) AS c FROM ("
    "    SELECT n_regionkey AS x FROM nation UNION SELECT r_regionkey AS x FROM region) u "
    "  UNION ALL SELECT 'supp_intersect' AS src, COUNT(*) AS c FROM ("
    "    SELECT l_suppkey AS x FROM lineitem INTERSECT SELECT s_suppkey AS x FROM supplier) i "
    "  UNION ALL SELECT 'brands_except' AS src, COUNT(*) AS c FROM ("
    "    SELECT DISTINCT p_brand FROM part "
    "    EXCEPT SELECT DISTINCT p_brand FROM part WHERE p_size < 10) e"
    "  UNION ALL SELECT 'distinct_page' AS src, "
    "    CAST(SUM(CAST(strftime(sm, '%Y%m') AS INTEGER)) AS BIGINT) AS c FROM ("
    "    SELECT rf, ls, sm FROM ("
    "      SELECT DISTINCT l_returnflag AS rf, l_linestatus AS ls, "
    "      CAST(date_trunc('month', l_shipdate) AS DATE) AS sm FROM lineitem) d "
    "    ORDER BY rf, ls, sm LIMIT 10 OFFSET 100) pg"
    ") t ORDER BY src",
    "[2.6 + O4,O5] UNION ALL + UNION DISTINCT + INTERSECT + EXCEPT — "
    "the full set-op family in one row (absorbed q41_union_distinct, "
    "q15_intersect, q29_except) — plus DISTINCT + LIMIT/OFFSET "
    "pagination digested into the distinct_page leg (r6: absorbed "
    "q19_offset; the digest is wrong unless the exact page rows are "
    "selected)",
)
def q28(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("c")).select(
        F.lit("customer").alias("src"), "c"
    )
    s = _t(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("c")).select(
        F.lit("supplier").alias("src"), "c"
    )
    n = _t(spark, sf_dir, "nation").select(F.col("n_regionkey").alias("x"))
    r = _t(spark, sf_dir, "region").select(F.col("r_regionkey").alias("x"))
    ud = (
        n.union(r)
        .distinct()
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit("keys_distinct").alias("src"), "c")
    )
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("x"))
    sk = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("x"))
    inter = (
        li.intersect(sk)
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit("supp_intersect").alias("src"), "c")
    )
    p = _t(spark, sf_dir, "part")
    exc = (
        p.select("p_brand")
        .distinct()
        .exceptAll(p.filter(F.col("p_size") < 10).select("p_brand").distinct())
        .distinct()
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit("brands_except").alias("src"), "c")
    )
    page = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
            F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("sm"),
        )
        .distinct()
        .orderBy("rf", "ls", "sm")
        .offset(100)
        .limit(10)
        .agg(F.sum(F.date_format("sm", "yyyyMM").cast("int")).cast("long").alias("c"))
        .select(F.lit("distinct_page").alias("src"), "c")
    )
    return (
        c.unionByName(s).unionByName(ud).unionByName(inter)
        .unionByName(exc).unionByName(page).orderBy("src")
    )


@qdef(
    "q30_quantiles",
    "SELECT med_qty, p90_price, n_disc, qty_disc FROM "
    "(SELECT ROUND(quantile_cont(l_quantity, 0.5), 4) AS med_qty, "
    "ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price "
    "FROM lineitem) q CROSS JOIN "
    "(SELECT CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc, "
    "ROUND(SUM(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0 END), 2) AS qty_disc "
    "FROM lineitem) c",
    "[A8 + A10] exact continuous quantile via distributed selection "
    "(range-partition + order statistic — no single-reducer value "
    "buffering; CH quantileExact tier, while the dialect's default "
    "quantile() maps to percentile_approx) with countIf/sumIf "
    "conditional aggregates attached as a 1-row cross join (r5: "
    "absorbed q31_conditional_agg to free a driver-window slot)",
)
def q30(spark, sf_dir):
    from .operators.quantile import exact_percentile_row

    li = _t(spark, sf_dir, "lineitem")
    # r9: the conditional-agg leg used to be a SEPARATE full lineitem
    # scan crossJoin'd onto the percentile row; it now rides the
    # percentile operator's own step-1 min/max/count scan (same
    # expressions, same engine — identical values), one fewer full
    # pass over the table.
    cond = F.col("l_discount") > 0.05
    row = exact_percentile_row(
        spark,
        li,
        [("l_quantity", 0.5, "med_qty"), ("l_extendedprice", 0.9, "p90_price")],
        extra_aggs=[
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias("n_disc"),
            F.round(
                F.sum(F.when(cond, F.col("l_quantity")).otherwise(0)), 2
            ).alias("qty_disc"),
        ],
        extra_schema="n_disc long, qty_disc double",
    )
    return row.select(
        F.round("med_qty", 4).alias("med_qty"),
        F.round("p90_price", 4).alias("p90_price"),
        "n_disc",
        "qty_disc",
    )


# (q31_conditional_agg merged into q30_quantiles' 1-row cross-join
# attach — the countIf/sumIf surface stays driver-verified through
# q30's n_disc/qty_disc columns, and the full combinator algebra is
# value-tested in tests/test_dialect.py's sweep classes.)


# (q32_date_parts merged into q10_case; q33_string_funcs merged into
# q22_strings; q34_array_ops + q45_dense_rank merged into
# q36_topk_per_group; q35_hourly_rollup dropped as a strict subset of
# q21_date_trunc + A5 coverage — all to free CORRECTNESS-window slots
# for the oracle-bearing pipeline operators t05-t22.)


# q36_topk_per_group: retired in r7 as a 1-row digest attach on
# q16_window_rank (q36_digest/q36_rows columns) — per-group top-k,
# dense_rank (absorbed q45) and split/size/contains (absorbed q34)
# stay oracle-verified there; this freed a driver-window slot for
# the x23 golden-oracle conversion (t23_frame_sample).


# t01_token_stats: retired in r7 — its three columns (raw-split token
# count, char count, chars-per-token) ride along on t27_quality_full's
# rows (same 200-doc spine), freeing a driver-window slot for the t06
# MinHash oracle conversion. Whitespace/BPE token counting keeps its
# value-level coverage in tests/test_operators.py::TestText.


# t02_quality_score: retired in r7 — its single column (stopword
# ratio with a 2-word lexicon) is the same operator as
# t27_quality_full's stop_ratio (9-word lexicon) on the same 200-doc
# spine; the slot went to the t07 SimHash oracle conversion. Stopword
# filtering keeps value-level coverage in tests/test_operators.py.


# (t03_fingerprint absorbed into t27_quality_full late r7 — the
# normalized-md5 fingerprint rides along as t27's `fp` column on the
# same 200-doc spine, freeing a driver-window slot for t51_bpe.)


# (t04_dedup_exact absorbed into t45_corpus_stats late r7 — the
# exact-dup detection pair (COUNT(*), COUNT(DISTINCT normalized md5))
# rides t45's 1-row snapshot as the n_unique_docs column alongside
# its n_docs, freeing a driver-window slot for t52_dsir_sample.)


@qdef(
    "t05_cosine_topk",
    "SELECT e.vec_id, ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
    "CAST(q.embedding AS DOUBLE[])), 6) AS sim "
    "FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q "
    "WHERE e.vec_id <> 0 ORDER BY sim DESC, e.vec_id LIMIT 10",
    "[ext: similarity] brute-force cosine top-k vs query vector (vec_id=0)",
)
def t05(spark, sf_dir):
    from .operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_vec_id=0, k=10)


# ------------------------------------------------- joins & windows breadth


# (q37_semi_join merged into q13_anti_join.)


@qdef(
    "q38_full_outer",
    "SELECT n_name, s_name, zero_order_custs FROM ("
    "SELECT n_name, s_name FROM nation FULL OUTER JOIN supplier "
    "ON s_nationkey = n_nationkey) fo CROSS JOIN ("
    "SELECT COUNT(*) AS zero_order_custs FROM ("
    "  SELECT c_custkey, COUNT(o_orderkey) AS oc FROM customer "
    "  LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey) g "
    "WHERE oc = 0) z ORDER BY n_name, s_name",
    "[J2] FULL OUTER join (nations without suppliers keep NULL side), "
    "plus a LEFT OUTER join whose null-side rows are counted as a "
    "1-row attach (r6: absorbed q12_left_join — zero_order_custs is "
    "nonzero only because LEFT keeps orderless customers)",
)
def q38(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    fo = (
        n.join(s, s.s_nationkey == n.n_nationkey, "full_outer")
        .select("n_name", "s_name")
    )
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    zero = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("oc"))
        .filter(F.col("oc") == 0)
        .agg(F.count(F.lit(1)).alias("zero_order_custs"))
    )
    return fo.crossJoin(F.broadcast(zero)).orderBy("n_name", "s_name")


@qdef(
    "q39_theta_join",
    "SELECT a, b, cross_n FROM ("
    "  SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 JOIN region r2 "
    "  ON r1.r_regionkey < r2.r_regionkey) t CROSS JOIN ("
    "  SELECT COUNT(*) AS cross_n FROM region CROSS JOIN nation) x "
    "ORDER BY a, b",
    "[J5+J3] inequality (theta) join via broadcast nested loop, plus an "
    "explicit CROSS JOIN both as the region x nation product and as the "
    "1-row attach (absorbed q40_cross_join)",
)
def q39(spark, sf_dir):
    r1 = _t(spark, sf_dir, "region").alias("r1")
    r2 = _t(spark, sf_dir, "region").alias("r2")
    theta = (
        r1.join(r2, F.col("r1.r_regionkey") < F.col("r2.r_regionkey"))
        .select(F.col("r1.r_name").alias("a"), F.col("r2.r_name").alias("b"))
    )
    cross_n = (
        _t(spark, sf_dir, "region")
        .crossJoin(_t(spark, sf_dir, "nation"))
        .agg(F.count(F.lit(1)).alias("cross_n"))
    )
    return theta.crossJoin(F.broadcast(cross_n)).orderBy("a", "b")


# (q41_union_distinct merged into q28_union_all; q42_grouping_sets
# dropped — explicit GROUPING SETS stays covered by the dialect tests
# and by q18, whose ROLLUP + CUBE halves plan through the same
# Expand-based grouping-set machinery; q43_cube merged into q18.)


# (q44_lag_lead merged into q16_window_rank; q45_dense_rank merged
# into q36_topk_per_group, itself carried by q16's digest since r7.)


# (q46_scalar_subquery merged into q13_anti_join's c_top attach —
# frees a driver-window slot so t48 rotates in (r6); the scalar
# subquery in WHERE stays driver-verified through q13.)


# ------------------------------------------------- pipeline extensions II


def _t06_minhash_oracle(
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    min_jaccard: float = 0.2,
    cand_pred: str = "",
    final_select: str | None = None,
) -> str:
    """Full DuckDB replica of the MinHash-LSH pipeline (driver-
    checkable since r7; was rows-only x06 because xxhash64 is
    Spark-only). With ``hash_fn='md5'`` the per-token hash is the top
    60 bits of md5 — bit-exact in both engines — and everything else
    (rolling k-gram polynomial, the seeded universal-hash
    permutations, banding, agreement estimate) is plain integer
    arithmetic the oracle reproduces from the SAME constants
    (operators/dedup.py::minhash_constants). The one intentional
    difference: Spark buckets on xxhash64(band-slice) while the
    oracle joins on the slice string itself — identical candidate
    sets modulo 2^-64 bucket collisions.
    """
    from .operators.dedup import M31, minhash_constants

    A, B, C = minhash_constants(n_hashes, k)
    rpb = n_hashes // bands
    # one window value: sequential (acc + th[i+j]*C[j] % M) % M == the
    # sum of per-term mods, mod M (terms < M, so no int64 overflow)
    win = "(" + " + ".join(
        f"th[i+{j}] * {C[j]} % {M31}" for j in range(k)
    ) + f") % {M31}"
    short = (
        "[(list_sum(list_transform(generate_series(1, len(th)), "
        "j -> th[j] * ([" + ", ".join(str(c) for c in C) + "])[j] "
        f"% {M31})) % {M31})]"
    )
    sig_items = ", ".join(
        f"CASE WHEN len(wins) = 0 THEN 0 ELSE "
        f"list_min(list_transform(wins, w -> ({A[i]} * w + {B[i]}) % {M31})) "
        f"END"
        for i in range(n_hashes)
    )
    band_key = (
        "concat_ws(','"
        + "".join(f", s[band * {rpb} + {r + 1}]" for r in range(rpb))
        + ")"
    )
    agree = (
        f"len(list_filter(generate_series(1, {n_hashes}), "
        "i -> sa.s[i] = sb.s[i]))"
    )
    return (
        "WITH n AS (SELECT doc_id, "
        "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm "
        "FROM documents), "
        "t AS (SELECT doc_id, list_transform(string_split(norm, ' '), "
        "x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT) "
        f"% {M31}) AS th FROM n), "
        f"w AS (SELECT doc_id, CASE WHEN len(th) >= {k} THEN "
        f"list_transform(generate_series(1, len(th) - {k - 1}), i -> {win}) "
        f"WHEN len(th) > 0 THEN {short} ELSE [] END AS wins FROM t), "
        f"sig AS (SELECT doc_id, [{sig_items}] AS s FROM w), "
        f"g AS (SELECT doc_id, band, {band_key} AS key FROM sig, "
        f"(SELECT unnest(generate_series(0, {bands - 1})) AS band) b), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b "
        "FROM g a JOIN g c ON a.band = c.band AND a.key = c.key "
        f"AND a.doc_id < c.doc_id{cand_pred}) "
        + (
            final_select.replace("{AGREE}", agree)
            if final_select is not None
            else (
                "SELECT id_a, id_b, "
                f"ROUND({agree} / {n_hashes}.0, 4) AS jaccard_est "
                "FROM cand JOIN sig sa ON sa.doc_id = id_a "
                "JOIN sig sb ON sb.doc_id = id_b "
                f"WHERE {agree} / {n_hashes}.0 >= {min_jaccard} "
                "ORDER BY id_a, id_b"
            )
        )
    )


@qdef(
    "t06_minhash_pairs",
    _t06_minhash_oracle(),
    "[ext: dedup] MinHash-LSH near-duplicate candidate pairs, "
    "oracle-checked END-TO-END since r7: md5-based token hashes "
    "(bit-exact in both engines) + the same seeded universal-hash "
    "constants let DuckDB replicate signature, banding, candidate "
    "join and agreement estimate (was rows-only x06)",
)
def t06(spark, sf_dir):
    from .operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, min_jaccard=0.2, hash_fn="md5").orderBy(
        "id_a", "id_b"
    )


def _t07_simhash_oracle(max_hamming: int = 16, k: int = 3) -> str:
    """DuckDB replica of the SimHash pipeline (driver-checkable since
    r7; was rows-only x07). md5-60-bit shingle hashes are bit-exact in
    both engines; bit votes, fingerprint assembly, 16-bit banding and
    the hamming filter are integer arithmetic. Bits 60-63 never set
    under the md5 hash (values < 2^60), so 1<<j stays in BIGINT range.
    """
    return (
        "WITH n AS (SELECT doc_id, "
        "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm "
        "FROM documents), "
        "t AS (SELECT doc_id, string_split(norm, ' ') AS tk FROM n), "
        # shingles: k=3 word windows; for len<k one window of all
        # tokens (concat_ws skips out-of-range NULL elements, matching
        # Spark's array_join(slice(...))); then distinct
        "g AS (SELECT doc_id, list_distinct(list_transform("
        f"generate_series(1, greatest(len(tk) - {k - 1}, 1)), "
        "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sg FROM t), "
        "h AS (SELECT doc_id, list_transform(sg, "
        "x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)) "
        "AS hs FROM g), "
        # bit votes: bit j set iff strictly more shingles have it set
        # than clear (2*ones - n > 0)
        "s AS (SELECT doc_id, CAST(list_sum(list_transform("
        "generate_series(0, 59), j -> CASE WHEN "
        "2 * list_sum(list_transform(hs, v -> (v >> j) & 1)) - len(hs) > 0 "
        "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sh FROM h), "
        "b AS (SELECT doc_id, sh, band, (sh >> (band * 16)) & 65535 AS bv "
        "FROM s, (SELECT unnest(generate_series(0, 3)) AS band) bb), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, "
        "CAST(bit_count(xor(a.sh, c.sh)) AS INT) AS hamming "
        "FROM b a JOIN b c ON a.band = c.band AND a.bv = c.bv "
        "AND a.doc_id < c.doc_id) "
        f"SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming} "
        "ORDER BY id_a, id_b"
    )


@qdef(
    "t07_simhash_pairs",
    _t07_simhash_oracle(),
    "[ext: dedup] SimHash banding near-dup candidates, oracle-checked "
    "END-TO-END since r7: md5-based shingle hashes + integer bit-vote "
    "replica in DuckDB (was rows-only x07)",
)
def t07(spark, sf_dir):
    from .operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=16, hash_fn="md5").orderBy(
        "id_a", "id_b"
    )


@qdef(
    "t08_ngram_jaccard",
    "WITH g AS (SELECT doc_id, list_distinct(list_transform("
    "  generate_series(1, greatest(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) - 2, 1)), "
    "  i -> substring(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), i, 3))) AS gr "
    "FROM documents) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "ROUND(len(list_intersect(a.gr, b.gr)) / len(list_distinct(list_concat(a.gr, b.gr))), 4) AS jaccard "
    "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 ORDER BY id_a LIMIT 100",
    "[ext: dedup] exact char-3-gram Jaccard on consecutive doc pairs",
)
def t08(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = d.select(F.col("doc_id").alias("id_a")).withColumn(
        "id_b", F.col("id_a") + 1
    ).join(
        d.select(F.col("doc_id").alias("id_b")), "id_b", "inner"
    )
    return (
        ngram_jaccard_pairs(d, pairs, n=3)
        .orderBy("id_a")
        .limit(100)
    )


def _langid_oracle() -> str:
    """DuckDB replica of the char-trigram NB scorer: same integer
    model (VALUES), same normalization, same deterministic argmax
    (score DESC, lang ASC) — see operators/langid_model.py."""
    from .operators.langid_model import oracle_values

    return (
        "WITH m(gram, lang_m, w) AS (VALUES " + oracle_values() + "), "
        "n AS (SELECT doc_id, lang, text, trim(regexp_replace("
        "regexp_replace(lower(text), '[^\\p{L} ]', ' ', 'g'), "
        "' +', ' ', 'g')) AS norm FROM documents), "
        "g AS (SELECT doc_id, unnest(list_transform("
        "generate_series(1, length(norm) - 2), "
        "i -> substring(norm, i, 3))) AS gram FROM n WHERE length(norm) >= 3), "
        "s AS (SELECT doc_id, "
        "CAST(sum(CASE WHEN lang_m = 'de' THEN w END) AS BIGINT) AS sde, "
        "CAST(sum(CASE WHEN lang_m = 'en' THEN w END) AS BIGINT) AS sen, "
        "CAST(sum(CASE WHEN lang_m = 'es' THEN w END) AS BIGINT) AS ses, "
        "CAST(sum(CASE WHEN lang_m = 'fr' THEN w END) AS BIGINT) AS sfr "
        "FROM g JOIN m USING (gram) GROUP BY doc_id), "
        "p AS (SELECT n.lang, CASE "
        "WHEN length(regexp_replace(n.text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh' "
        "WHEN s.sde IS NULL THEN 'und' "
        "WHEN sde >= sen AND sde >= ses AND sde >= sfr THEN 'de' "
        "WHEN sen >= ses AND sen >= sfr THEN 'en' "
        "WHEN ses >= sfr THEN 'es' ELSE 'fr' END AS lang_pred "
        "FROM n LEFT JOIN s USING (doc_id)) "
        "SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM p GROUP BY 1, 2 ORDER BY lang, lang_pred"
    )


@qdef(
    "t26_lang_id",
    _langid_oracle(),
    "[ext: text] char-trigram Naive Bayes language-ID confusion "
    "matrix (r7: real trained model — integer milli-log10 weights, "
    "broadcast-join scoring) vs a full DuckDB replica of the same "
    "model and argmax",
)
def t09(spark, sf_dir):
    from .operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    # r9: carry `lang` through the operator's own 1:1 re-attach instead
    # of a second corpus scan + shuffle join (doc_id is unique, so the
    # old inner re-join was 1:1 — rows identical by construction).
    return (
        lang_id(d, carry_cols=["lang"])
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("lang", "lang_pred")
    )


def _t27_oracle() -> str:
    """DuckDB replica of quality_score incl. the r8 trained model:
    the logistic weights are injected from quality_model.train() so
    the oracle always scores with the exact integers the Spark plan
    compiled in."""
    from .operators.quality_model import TOK_CAP, train

    b, w = train()
    stop_r = "(CASE WHEN n_tok > 0 THEN stop_hits * 1.0 / n_tok ELSE 0.0 END)"
    punct_r = "(CASE WHEN n_char > 0 THEN punct * 1.0 / n_char ELSE 0.0 END)"
    mwl_r = "(CASE WHEN n_tok > 0 THEN tok_chars * 1.0 / n_tok ELSE 0.0 END)"
    model = (
        f"CAST({b} + {w[0]} * least(n_tok, {TOK_CAP}) "
        f"+ {w[1]} * CAST(ROUND({stop_r} * 10000) AS BIGINT) "
        f"+ {w[2]} * CAST(ROUND({punct_r} * 10000) AS BIGINT) "
        f"+ {w[3]} * CAST(ROUND({mwl_r} * 10000) AS BIGINT) AS BIGINT)"
    )
    return (
        "WITH n AS (SELECT doc_id, text, "
        "  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents), "
        "t AS (SELECT doc_id, text, string_split(norm, ' ') AS tk FROM n), "
        "m AS (SELECT doc_id, text, len(tk) AS n_tok, length(text) AS n_char, "
        "  len(string_split(text, ' ')) AS n_tok_raw, "
        "  len(list_filter(tk, x -> x IN ('the','a','an','and','or','of','to','in','is'))) AS stop_hits, "
        "  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct, "
        "  list_sum(list_transform(tk, x -> length(x))) AS tok_chars, "
        "  md5(lower(trim(text))) AS fp FROM t) "
        "SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, "
        f"ROUND({stop_r}, 4) AS stop_ratio, "
        f"ROUND({punct_r}, 4) AS punct_ratio, "
        f"ROUND({mwl_r}, 4) AS mean_word_len, "
        "ROUND(least(n_tok / 100.0, 1.0) * 0.4 "
        f"  + least({stop_r} * 5, 1.0) * 0.3 "
        f"  + CASE WHEN {mwl_r} "
        "      BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END, 4) AS quality, "
        f"{model} AS model_score_m, "
        f"{model} > 0 AS model_keep, "
        "CAST(n_char AS INTEGER) AS n_char, "
        "ROUND(n_char * 1.0 / n_tok_raw, 4) AS chars_per_tok, fp, "
        f"{_gopher_sql()} "
        "FROM m ORDER BY doc_id LIMIT 200"
    )


def _gopher_sql() -> str:
    """DuckDB replica of operators/text.py::gopher_rules, computed
    from the same m-CTE columns (tk/n_tok/tok_chars come in through
    g-prefixed recomputation on the spine — the rules need the token
    LIST and line list, which m doesn't carry)."""
    tk = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
    ls = "string_split(text, chr(10))"
    stops = "['the','be','to','of','and','that','have','with']"
    n_tok = f"len({tk})"
    mwl = f"(CASE WHEN {n_tok} > 0 THEN list_sum(list_transform({tk}, x -> length(x))) * 1.0 / {n_tok} ELSE 0.0 END)"
    alpha = f"len(list_filter({tk}, x -> regexp_matches(x, '[a-zA-Z]')))"
    hashes = "(length(text) - length(replace(text, '#', '')))"
    ellipses = (
        "(len(regexp_extract_all(text, '\\.\\.\\.')) "
        "+ len(regexp_extract_all(text, '…')))"
    )
    bullets = (
        f"len(list_filter({ls}, l -> substring(trim(l), 1, 1) IN ('-','*','•')))"
    )
    ell_lines = (
        f"len(list_filter({ls}, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))"
    )
    n_lines = f"len({ls})"
    stopd = f"len(list_intersect(list_distinct({tk}), {stops}))"
    r_wc = f"({n_tok} >= 50 AND {n_tok} <= 100000)"
    r_mw = f"({mwl} >= 3 AND {mwl} <= 10)"
    r_al = f"(CASE WHEN {n_tok} > 0 THEN {alpha} * 1.0 / {n_tok} ELSE 0.0 END) >= 0.8"
    r_sy = f"(CASE WHEN {n_tok} > 0 THEN ({hashes} + {ellipses}) * 1.0 / {n_tok} ELSE 0.0 END) <= 0.1"
    r_bu = f"(CASE WHEN {n_lines} > 0 THEN {bullets} * 1.0 / {n_lines} ELSE 0.0 END) <= 0.9"
    r_el = f"(CASE WHEN {n_lines} > 0 THEN {ell_lines} * 1.0 / {n_lines} ELSE 0.0 END) <= 0.3"
    r_st = f"({stopd} >= 2)"
    return (
        f"{r_wc} AS r_wordcount, {r_mw} AS r_meanword, {r_al} AS r_alpha, "
        f"{r_sy} AS r_symbol, {r_bu} AS r_bullet, {r_el} AS r_ellipsis, "
        f"{r_st} AS r_stopwords, "
        f"({r_wc} AND {r_mw} AND {r_al} AND {r_sy} AND {r_bu} AND {r_el} "
        f"AND {r_st}) AS gopher_pass"
    )


@qdef(
    "t27_quality_full",
    _t27_oracle(),
    "[ext: text] full composite quality score (length/punct/stopword/"
    "word-length signals) vs DuckDB replica (rows-only before r3); "
    "r7: absorbed t01_token_stats — its raw-split token stats ride "
    "along as n_char / chars_per_tok on the same 200-doc spine; late "
    "r7: absorbed t03_fingerprint — the normalized-md5 `fp` column; "
    "r8: model_score_m / model_keep from the TRAINED logistic "
    "classifier (operators/quality_model.py — integer-quantized "
    "features x integer weights, a pure BIGINT dot product both "
    "engines evaluate bit-identically); r8 also rides the Gopher "
    "rule-filter booleans (operators/text.py::gopher_rules) on the "
    "same 200-doc spine",
)
def t10(spark, sf_dir):
    # r9: quality_score, the t01 ride-along columns and gopher_rules
    # are all zero-shuffle projections of the same documents scan
    # keyed by the unique doc_id — the old 1:1 re-joins cost 2 corpus
    # scans and 2 join exchanges for nothing. ONE staged projection
    # (text, _toks, _lines computed once per row) now carries the
    # operators' exact column expressions (quality_cols/gopher_cols
    # are the operators' own output lists); values and column order
    # are identical to the joined composition.
    from .operators.text import gopher_cols, quality_cols, tokens

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    raw_tok = F.size(F.split(t, " "))
    staged = d.select(
        "doc_id",
        t,
        tokens(t).alias("_toks"),
        F.split(t, "\n").alias("_lines"),
    )
    return (
        staged.select(
            "doc_id",
            *quality_cols(),
            F.length("text").alias("n_char"),
            F.round(F.length("text") * F.lit(1.0) / raw_tok, 4).alias(
                "chars_per_tok"
            ),
            F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
            *gopher_cols(),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@qdef(
    "t11_asof_join",
    # r7: absorbed t24_asof_forward and t25_asof_nearest — ONE query
    # now carries all three ASOF directions as columns on the same
    # 200 signup rows, freeing two driver-window slots for the x-row
    # conversions (t13/t16). No capability lost: backward, forward and
    # nearest (ties backward) each keep their full per-row values.
    "WITH l AS (SELECT * FROM events WHERE event_type = 'signup'), "
    "r AS (SELECT * FROM events WHERE event_type = 'purchase'), "
    "b AS (SELECT l.event_id, r.ts AS bts, r.value AS bval FROM l "
    "  ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts), "
    "f AS (SELECT l.event_id, r.ts AS fts, r.value AS fval FROM l "
    "  ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts) "
    "SELECT l.event_id, l.user_id, bval AS last_purchase, "
    "fval AS next_purchase, "
    "CASE WHEN bts IS NOT NULL AND (fts IS NULL "
    "  OR (epoch(l.ts) - epoch(bts)) <= (epoch(fts) - epoch(l.ts))) "
    "  THEN bval ELSE fval END AS nearest_purchase "
    "FROM l JOIN b USING(event_id) JOIN f USING(event_id) "
    "ORDER BY l.event_id LIMIT 200",
    "[J6] ASOF JOIN via union+window rewrite, all three directions "
    "(backward / forward / nearest-ties-backward) vs DuckDB's native "
    "ASOF (r7: carries the retired t24/t25 columns)",
)
def t11(spark, sf_dir):
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "signup")
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value")
    )
    # r9: all three directions from ONE union+window pass
    # (direction="all") — same window frames and ties-backward rule as
    # the three separate calls this replaces, so values are identical
    # (event_id is unique, so the old event_id re-joins were 1:1);
    # plan drops from 3 window exchanges + 2 broadcast joins + 6
    # event scans to 1 exchange + 2 scans.
    j = asof_join(left, right, on="user_id", direction="all")
    return (
        j.select(
            "event_id",
            "user_id",
            F.col("value_r_back").alias("last_purchase"),
            F.col("value_r_fwd").alias("next_purchase"),
            F.col("value_r_near").alias("nearest_purchase"),
        )
        .orderBy("event_id")
        .limit(200)
    )


# t24_asof_forward / t25_asof_nearest: retired in r7 as strict subsets
# of t11_asof_join above, which now returns backward, forward and
# nearest values for the same rows (the absorption freed two driver-
# window slots for the x13/x16 oracle conversions). The directions
# also keep dedicated value-level coverage in tests/test_operators.py
# (TestAsof).


@qdef(
    "x12_lsh_knn",
    None,
    "[ext: similarity] LSH-bucketed near-neighbor pairs over embeddings (rows-only)",
)
def t12(spark, sf_dir):
    from .operators.similarity import lsh_bucket_join

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucket_join(emb, dim=64, n_planes=8, min_sim=0.3).orderBy(
        "id_a", "id_b"
    )


def _t13_golden_oracle() -> str:
    """Golden-values oracle for the multimodal feature extractor
    (driver-checkable since r7; was rows-only x13).

    The media fixture is generated by THIS repo's own seeded code
    (synthetic_media_rows — no external data), and the features are
    deterministic, so the expected output is computable in pure Python
    at import and pinned as a VALUES table: the driver gate then
    proves the Spark side (mapInPandas, Arrow batching, float32
    schema) reproduces the reference computation bit-for-bit. Floats
    are emitted as repr() of the exact float32 value widened to
    double — repr round-trips, so DuckDB parses the identical bits the
    Spark plan yields after its float→double cast.
    """
    import numpy as np

    from .operators.multimodal import _feature_vector, synthetic_media_rows

    ids, kinds, payloads, _metas = synthetic_media_rows(64)
    rows = []
    for mid, kind, payload in zip(ids, kinds, payloads):
        fv = [float(np.float32(v)) for v in _feature_vector(payload, kind)]
        # e-notation: DuckDB types E-literals as DOUBLE; a bare decimal
        # would be DECIMAL and its cast can land 1 ulp off the float
        cells = ", ".join(f"{v:.17e}" for v in fv)
        rows.append(f"({mid}, '{kind}', {len(payload)}, {cells})")
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, kind, "
        "CAST(n_bytes AS INT) AS n_bytes, "
        + ", ".join(
            f"CAST(f{i} AS DOUBLE) AS f{i}" for i in range(8)
        )
        + " FROM (VALUES "
        + ", ".join(rows)
        + ") AS g(media_id, kind, n_bytes, "
        + ", ".join(f"f{i}" for i in range(8))
        + ") ORDER BY media_id"
    )


@qdef(
    "t13_multimodal_features",
    _t13_golden_oracle(),
    "[ext: multimodal] binary payload → feature vector via mapInPandas "
    "(real BMP/WAV/y4m/AVI decodes + documented stub tier) vs a "
    "golden-values oracle computed by the pure-Python reference path "
    "(driver-checkable since r7; was rows-only x13)",
)
def t13(spark, sf_dir):
    from .operators.multimodal import (
        extract_features,
        prep_python_stage_input,
        synthetic_media,
    )

    # Input shaping is size-conditional (prep_python_stage_input): the
    # 64-row fixture coalesces to one Python round-trip; a real corpus
    # would pass through with its partitioning intact.
    media = prep_python_stage_input(synthetic_media(spark, 64), n_rows=64)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[
            F.col("feature").getItem(i).cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    ).orderBy("media_id")


# t14_dedup_survivors (exact-dedup survivor count) was absorbed into
# t37_dedup_keep_one as the constant n_exact_survivors column in r9,
# freeing the 50th driver-window slot for t53_bm25_topk (VERDICT r8
# next-round #1). The exact_dedup operator stays driver-oracled via
# that leg plus t45's n_unique_docs and t46's exact lane.


@qdef(
    "t15_sessionize_batch",
    "WITH s AS (SELECT user_id, ts, value, "
    "  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "       OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800 "
    "       THEN 1 ELSE 0 END AS new_s FROM events), "
    "g AS (SELECT user_id, ts, value, "
    "  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
    "FROM s) "
    "SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value), 2) AS value_sum "
    "FROM g GROUP BY user_id, sid ORDER BY user_id, s_start LIMIT 200",
    "[ext: streaming] lag-gap sessionization, batch form of the stateful streaming op",
)
def t15(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return (
        e.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev").isNull()
                # NTZ-proof: TIMESTAMP_NTZ can't numeric-cast directly
                # (Spark 4); route through timestamp (session TZ is UTC,
                # so this equals DuckDB's epoch(ts)).
                | (
                    F.col("ts").cast("timestamp").cast("long")
                    - F.col("prev").cast("timestamp").cast("long")
                    > 1800
                )
            ).cast("int"),
        )
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .drop("sid")
        .orderBy("user_id", "s_start")
        .limit(200)
    )


@qdef(
    "t29_repetition_ratio",
    "WITH t AS (SELECT doc_id, string_split("
    "  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk FROM documents), "
    "g AS (SELECT doc_id, len(tk) AS n_tok, "
    "  CASE WHEN len(tk) >= 3 THEN list_transform(generate_series(1, len(tk) - 2), "
    "    i -> array_to_string(tk[i:i+2], ' ')) ELSE [] END AS gr FROM t) "
    "SELECT doc_id, ROUND(CASE WHEN n_tok >= 3 "
    "  THEN 1.0 - len(list_distinct(gr)) * 1.0 / len(gr) ELSE 0.0 END, 4) AS rep_ratio "
    "FROM g ORDER BY doc_id LIMIT 200",
    "[ext: text] Gopher-style duplicate word-3-gram fraction per doc "
    "(boilerplate filter for pretraining corpora)",
)
def t29(spark, sf_dir):
    from .operators.text import repetition_ratio

    d = _t(spark, sf_dir, "documents")
    return repetition_ratio(d).orderBy("doc_id").limit(200)


@qdef(
    "t28_streaming_dedup",
    "SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique FROM events",
    "[ext: streaming] watermarked cross-batch exact dedup "
    "(dropDuplicatesWithinWatermark, bounded state), drained via "
    "availableNow; survivor count equals batch COUNT(DISTINCT)",
)
def t28(spark, sf_dir):
    from .streaming import dedup_stream, stream_events
    from .streaming.windows import run_to_memory

    s = dedup_stream(stream_events(spark, sf_dir), keys=["event_id"])
    run_to_memory(s, "t28_out", "append")
    return spark.table("t28_out").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique")
    )


@qdef(
    "t48_stream_enrich",
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "ROUND(SUM(value * type_avg), 2) AS wsum "
    "FROM events JOIN (SELECT event_type AS et, "
    "ROUND(AVG(value), 6) AS type_avg FROM events GROUP BY 1) d "
    "ON event_type = d.et GROUP BY event_type ORDER BY event_type",
    "[ext: streaming, r6] stream-static enrichment: each micro-batch "
    "broadcast-joins a static dimension snapshot (zero streaming "
    "state, the stream never shuffles for the join); drained via "
    "availableNow, digest equals the batch join",
)
def t48(spark, sf_dir):
    from .streaming import stream_events
    from .streaming.joins import stream_static_enrich
    from .streaming.windows import run_to_memory

    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("type_avg")
    )
    s = stream_static_enrich(stream_events(spark, sf_dir), dim, "event_type")
    run_to_memory(s, "t48_out", "append")
    return (
        spark.table("t48_out")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum(F.col("value") * F.col("type_avg")), 2).alias("wsum"),
        )
        .orderBy("event_type")
    )


@qdef(
    "t49_stream_join",
    "SELECT l.user_id AS user_id, l.event_id AS event_id, "
    "r.event_id AS event_id_r FROM events l JOIN events r "
    "ON l.user_id = r.user_id AND l.event_type = 'purchase' "
    "AND r.event_type = 'view' "
    "AND r.ts >= l.ts - INTERVAL 10 MINUTE "
    "AND r.ts <= l.ts + INTERVAL 10 MINUTE "
    "ORDER BY event_id, event_id_r",
    "[ext: streaming, r6] stream-stream interval join: purchases "
    "joined to same-user views within ±10 minutes; both sides "
    "watermarked so buffered state is O(rate × interval), drained "
    "via availableNow (single-file source = one micro-batch, so the "
    "watermark drops nothing and the result equals the batch range "
    "join exactly)",
)
def t49(spark, sf_dir):
    from .streaming import stream_events
    from .streaming.joins import stream_stream_interval_join
    from .streaming.windows import run_to_memory

    left = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    right = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id")
    )
    j = stream_stream_interval_join(
        left, right, key="user_id", within="10 minutes",
        watermark="30 minutes",
    )
    run_to_memory(j, "t49_out", "append")
    return (
        spark.table("t49_out")
        .select("user_id", "event_id", "event_id_r")
        .orderBy("event_id", "event_id_r")
    )


@qdef(
    "t50_semdedup",
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "s AS (SELECT v AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS sidx "
    "  FROM e ORDER BY vec_id LIMIT 8), "
    "asg0 AS (SELECT e.vec_id, s.sidx, "
    "  list_cosine_similarity(e.v, s.sv) AS c FROM e CROSS JOIN s), "
    "asg AS (SELECT vec_id, sidx AS cluster FROM ("
    "  SELECT vec_id, sidx, row_number() OVER "
    "  (PARTITION BY vec_id ORDER BY c DESC, sidx) AS rn FROM asg0) "
    "  WHERE rn = 1), "
    "j AS (SELECT e.vec_id, a.cluster, e.v FROM e JOIN asg a USING (vec_id)), "
    "dropped AS (SELECT DISTINCT b.vec_id FROM j a JOIN j b "
    "  ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
    "  WHERE list_cosine_similarity(a.v, b.v) >= 0.45) "
    "SELECT j.vec_id, CAST(j.cluster AS INT) AS cluster, "
    "CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept "
    "FROM j LEFT JOIN dropped d ON j.vec_id = d.vec_id ORDER BY j.vec_id",
    "[ext: dedup, r7] SemDeDup-style semantic dedup (arXiv:2303.09540): "
    "deterministic seed clustering (k=8 lowest-id vectors, map-side "
    "argmax-cosine assignment — no shuffle, no Python), then drop any "
    "vector with a same-cluster earlier neighbor at cosine >= 0.45; "
    "the pairwise stage is a cluster-keyed self-join, so work is "
    "O(sum cluster^2) — the published algorithm's cost model, scaled "
    "by raising k with corpus size (operators/semdedup.py). Integer "
    "output columns; cosines are left-to-right double folds matching "
    "DuckDB's list_cosine_similarity (same discipline as t19).",
)
def t50(spark, sf_dir):
    from .operators.semdedup import semdedup

    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e, k=8, tau=0.45).orderBy("vec_id")


def _bpe_oracle_sql(n_merges: int) -> str:
    """DuckDB replica of operators/bpe.py::train_bpe, the n merge
    iterations UNROLLED as CTE triples (pair counts → argmax → greedy
    fold merge-apply). `list_reduce` seeds the accumulator with the
    first element, so the Spark side folds from element 2 with
    array(syms[1]) as init — identical greedy semantics ("aaa" under
    (a,a) → [aa, a] on both engines)."""
    fold = (
        "CASE WHEN len(syms) < 2 THEN syms ELSE "
        "list_reduce(list_transform(syms, s -> [s]), "
        "(acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r "
        "THEN list_append(array_pop_back(acc), m.l || m.r) "
        "ELSE list_concat(acc, x) END) END"
    )
    pairs = (
        "SELECT pr[1] AS l, pr[2] AS r, SUM(freq) AS c FROM ("
        "SELECT unnest(list_zip(list_slice(syms, 1, len(syms)-1), "
        "list_slice(syms, 2, len(syms)))) AS pr, freq "
        "FROM {v} WHERE len(syms) >= 2) GROUP BY l, r"
    )
    ctes = [
        "w0 AS (SELECT word, COUNT(*) AS freq FROM ("
        "SELECT unnest(string_split(lower(text), ' ')) AS word "
        "FROM documents) WHERE word <> '' GROUP BY word)",
        "v0 AS (SELECT list_transform(range(1, length(word)+1), "
        "i -> word[i]) AS syms, freq FROM w0)",
    ]
    sel = []
    for i in range(1, n_merges + 1):
        ctes.append(f"p{i} AS ({pairs.format(v=f'v{i-1}')})")
        ctes.append(
            f"m{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1)"
        )
        ctes.append(f"v{i} AS (SELECT {fold} AS syms, freq FROM v{i-1}, m{i} m)")
        sel.append(
            f"SELECT {i} AS mrank, l AS lft, r AS rgt, l || r AS merged, "
            f"CAST(c AS BIGINT) AS pair_count FROM m{i}"
        )
    return (
        "WITH " + ", ".join(ctes) + " SELECT * FROM ("
        + " UNION ALL ".join(sel) + ") ORDER BY mrank"
    )


@qdef(
    "t51_bpe_merges",
    _bpe_oracle_sql(8),
    "[ext: tokenizer, late r7] BPE tokenizer training (Sennrich "
    "arXiv:1508.07909) on the corpus: the first 8 learned merges with "
    "their pair counts. Trains on the DISTINCT-WORD frequency table "
    "(the classic scale trick — the only corpus-sized stage is the "
    "word-count shuffle; every iteration is a small job over the "
    "persisted bounded vocab). Per iteration: adjacent-pair explode, "
    "weighted count, 1-row argmax collect (count DESC, lexicographic "
    "tie-break), greedy left-to-right fold merge-apply (JVM "
    "higher-order aggregate; the oracle's list_reduce is the same "
    "fold). operators/bpe.py; merge application for token counting "
    "is tokenize_bpe, value-tested vs a pure-Python reference.",
)
def t51(spark, sf_dir):
    from .operators.bpe import train_bpe

    d = _t(spark, sf_dir, "documents")
    return train_bpe(d, n_merges=8).orderBy("mrank")


@qdef(
    "t52_dsir_sample",
    "WITH words AS (SELECT doc_id, "
    "  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t, "
    "  unnest(string_split(lower(text), ' ')) AS w FROM documents), "
    "wb AS (SELECT doc_id, t, "
    "  CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 1024 AS b "
    "  FROM words WHERE w <> ''), "
    "model AS (SELECT b, COUNT(*) AS raw_c, SUM(t) AS tgt_c "
    "  FROM wb GROUP BY b), "
    "tot AS (SELECT SUM(raw_c) AS raw_n, SUM(tgt_c) AS tgt_n FROM model), "
    "diffs AS (SELECT b, "
    "  ln((tgt_c + 1.0) / (tgt_n + 1024.0)) "
    "  - ln((raw_c + 1.0) / (raw_n + 1024.0)) AS diff "
    "  FROM model, tot), "
    "lw AS (SELECT wb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, "
    "  ROUND(SUM(diff), 4) AS logw "
    "  FROM wb JOIN diffs USING (b) GROUP BY wb.doc_id), "
    "sc AS (SELECT doc_id, n_words, logw, "
    "  ROUND(logw - ln(-ln("
    "  CAST(concat('0x', substring(md5(concat('dsir:', "
    "  CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) "
    "  / 1152921504606846976.0)), 4) AS score FROM lw) "
    "SELECT doc_id, n_words, logw, score FROM sc "
    "ORDER BY score DESC, doc_id LIMIT 100",
    "[ext: data selection, late r7] DSIR importance resampling "
    "(arXiv:2302.03169): hashed-unigram LMs for the target "
    "(lang='en') and raw corpora fit in ONE conditional-sum shuffle "
    "(<=1024-bucket model table); every doc scored with "
    "ln p_tgt - ln p_raw via a broadcast model join + one doc-keyed "
    "map-side-combined sum; deterministic Gumbel top-k by salted-md5 "
    "uniforms (the t06/t33 lane) — reproducible resampling with no "
    "RNG state (operators/dsir.py). ROUND(,4) on the float sums, "
    "t40's discipline.",
)
def t52(spark, sf_dir):
    from .operators.dsir import dsir_sample

    d = _t(spark, sf_dir, "documents")
    return dsir_sample(d, F.col("lang") == "en", k=100).orderBy(
        F.col("score").desc(), "doc_id"
    )


@qdef(
    "t53_bm25_topk",
    # full SQL replica of the integer-micros BM25 lane: idf quantized
    # at the ln() (HALF_UP micros), per-(doc,term) contribution
    # quantized the same way, score = SUM of BIGINTs — every float op
    # is identically-shaped IEEE (+,-,*,/) so the two engines agree
    # bit-for-bit with no tolerance lane (see operators/retrieval.py)
    "WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), "
    "q AS (SELECT doc_id AS query_id, l[1:8] AS qa FROM d WHERE doc_id % 125 = 0), "
    "qt AS (SELECT DISTINCT query_id, term FROM "
    "  (SELECT query_id, unnest(qa) AS term FROM q) z WHERE term <> ''), "
    "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len(l)) AS BIGINT) AS tot FROM d), "
    "tk AS (SELECT doc_id, len(l) AS dl, unnest(l) AS term FROM d), "
    "terms AS (SELECT DISTINCT term FROM qt), "
    "p AS (SELECT tk.doc_id, tk.dl, tk.term, CAST(COUNT(*) AS BIGINT) AS tf "
    "  FROM tk JOIN terms USING (term) WHERE tk.term <> '' "
    "  GROUP BY tk.doc_id, tk.dl, tk.term), "
    "dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY term), "
    "sc AS (SELECT qt.query_id, p.doc_id, "
    "  CAST(SUM(CAST(floor("
    "    floor(ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) * 1000000.0 + 0.5) "
    "    * ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * "
    "      (CAST(p.dl * st.n AS DOUBLE) / st.tot)))) "
    "    + 0.5) AS BIGINT)) AS BIGINT) AS score_m "
    "  FROM p JOIN qt USING (term) JOIN dfq ON p.term = dfq.term, st "
    "  GROUP BY qt.query_id, p.doc_id) "
    "SELECT query_id, doc_id, score_m, score_m / 1000000.0 AS score, rank FROM ("
    "  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
    "    ORDER BY score_m DESC, doc_id) AS INT) AS rank FROM sc) z "
    "WHERE rank <= 10 ORDER BY query_id, rank",
    "[ext: retrieval, new r8] BM25 top-10 (Robertson; Lucene idf "
    "variant) — the sparse-retrieval primitive for retrieval-based "
    "decontamination and targeted data selection, complementing the "
    "dense ANN path. Queries are the first 8 tokens of every 125th "
    "document. Engine-portable integer-micros lane: idf and each "
    "(doc,term) contribution quantized HALF_UP at 1e-6, score is an "
    "order-independent BIGINT sum, ties broken on doc_id — "
    "hash-comparable with zero float tolerance. Query terms "
    "broadcast-prune the token stream map-side; only matching "
    "postings shuffle (operators/retrieval.py::bm25_topk).",
)
def t53(spark, sf_dir):
    from .operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    q = d.filter(F.col("doc_id") % 125 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("qtext"),
    )
    return bm25_topk(d, q, k=10).orderBy("query_id", "rank")


@qdef(
    "t54_hist_sketch_rollup",
    # exact replica of the fixed-range histogram sketch: bucket index
    # is the identical IEEE-double expression in both engines, the
    # sketch is a comma-joined vector of BIGINT counts, and the
    # grand-total column proves hist_rollup's element-wise merge ==
    # a direct coarse aggregation — integer equality, no tolerance
    "WITH v AS (SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok FROM documents), "
    "b AS (SELECT lang, CASE WHEN ntok < 0.0 THEN 0 "
    "  WHEN ntok >= 128.0 THEN 17 "
    "  ELSE CAST(least(floor((ntok - 0.0) * 16.0 / 128.0), 15) AS INT) + 1 END AS p, "
    "  CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY lang, p), "
    "grid AS (SELECT l.lang, gs.i FROM (SELECT DISTINCT lang FROM v) l "
    "  CROSS JOIN (SELECT unnest(generate_series(0, 17)) AS i) gs), "
    "j AS (SELECT g.lang, g.i, COALESCE(b.c, 0) AS c FROM grid g "
    "  LEFT JOIN b ON b.lang = g.lang AND b.p = g.i), "
    "h AS (SELECT lang, string_agg(CAST(c AS VARCHAR), ',' ORDER BY i) AS hist "
    "  FROM j GROUP BY lang), "
    "tg AS (SELECT i, CAST(SUM(c) AS BIGINT) AS c FROM j GROUP BY i), "
    "tot AS (SELECT string_agg(CAST(c AS VARCHAR), ',' ORDER BY i) AS total_hist FROM tg) "
    "SELECT h.lang, h.hist, tot.total_hist FROM h, tot ORDER BY h.lang",
    "[ext: sketches, new r9] fixed-range histogram sketch rollup — "
    "the EXACTLY-mergeable companion to the HLL lane "
    "(operators/sketches.py::hist_presketch/hist_rollup): per-lang "
    "token-length histograms (18 buckets incl. under/overflow) built "
    "by ONE map-side-combinable (group, bucket) count aggregate, then "
    "the grand total derived from the SKETCHES alone by element-wise "
    "sums — never rescanning raw rows. Both the fine sketches and the "
    "merged total are oracle-checked as integer vectors.",
)
def t54(spark, sf_dir):
    from .operators.sketches import hist_presketch, hist_rollup

    d = _t(spark, sf_dir, "documents")
    v = d.select(
        "lang", F.size(F.split("text", " ")).cast("double").alias("ntok")
    )
    # r9: the fine sketches feed both the rollup and the output row —
    # materialize them once (they are groups × bins longs, tiny)
    # instead of re-running the corpus aggregate per consumer.
    fine = hist_presketch(v, ["lang"], "ntok", 0.0, 128.0, bins=16).localCheckpoint(
        eager=False
    )
    as_str = lambda c: F.array_join(  # noqa: E731
        F.transform(c, lambda x: x.cast("string")), ","
    )
    tot = hist_rollup(fine, []).select(
        as_str(F.col("hist")).alias("total_hist")
    )
    return (
        fine.select("lang", as_str(F.col("hist")).alias("hist"))
        .crossJoin(F.broadcast(tot))
        .orderBy("lang")
    )


@qdef(
    "t55_cms_rollup",
    # full replica of the count-min grid in the md5 lane: bucket(tok,
    # j) = top-60-bits-of-md5(tok \x1f cms<j>) mod width (the dedup.py
    # oracle-lane hash), the GLOBAL grid is derived by element-wise
    # sums of the per-lang sketches on the Spark side and directly on
    # the DuckDB side — their digest equality IS the exact-merge
    # oracle; per-probe estimates check the min-of-depth lookup math
    "WITH t2 AS (SELECT lang, tok FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) z WHERE tok <> ''), "
    "bx AS (SELECT tok, CAST(j * 32 + (CAST(concat('0x', substring(md5(tok || chr(31) || 'cms' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 32) AS INT) AS i "
    "  FROM (SELECT DISTINCT tok FROM t2) d CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js), "
    "cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t2 GROUP BY tok), "
    "cell AS (SELECT bx.i, CAST(SUM(cnt.c) AS BIGINT) AS c FROM bx JOIN cnt USING (tok) GROUP BY bx.i), "
    "grid AS (SELECT gs.i, COALESCE(cell.c, 0) AS c FROM (SELECT unnest(generate_series(0, 127)) AS i) gs LEFT JOIN cell USING (i)), "
    "dig AS (SELECT md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY i)) AS cms_digest FROM grid), "
    "probes AS (SELECT tok FROM (SELECT DISTINCT tok FROM t2) z ORDER BY tok LIMIT 8), "
    "est AS (SELECT p.tok, MIN(g.c) AS est FROM probes p "
    "  JOIN bx ON bx.tok = p.tok JOIN grid g ON g.i = bx.i GROUP BY p.tok) "
    "SELECT p.tok, est.est, cnt.c AS exact_cnt, dig.cms_digest "
    "FROM probes p JOIN est USING (tok) JOIN cnt USING (tok), dig "
    "ORDER BY p.tok",
    "[ext: sketches, new r9] count-min sketch rollup — the FREQUENCY "
    "member of the sketch family (HLL distinct / histogram "
    "distribution / CMS occurrence counts): per-lang 4x32 token-count "
    "grids from one map-side-combinable aggregate, global grid by "
    "exact element-wise merge (operators/sketches.py::cms_presketch/"
    "cms_rollup/cms_estimate), digest-oracled; the 8 smallest distinct "
    "tokens' min-of-depth estimates ride alongside their exact counts "
    "(est >= exact always — the CMS guarantee, here visible to the "
    "oracle as equal integers wherever no bucket collision occurred).",
)
def t55(spark, sf_dir):
    from .operators.sketches import cms_estimate, cms_presketch, cms_rollup

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    # r9: ONE (lang, tok, count) aggregate is the spine for all four
    # consumers (sketch, digest, probes, exact counts) — previously
    # each re-scanned and re-exploded the corpus, and the md5 bucket
    # hash ran 4× per token OCCURRENCE; with the weighted presketch it
    # runs 4× per DISTINCT (lang, tok). Grids/counts are identical by
    # the distributive law (exact integer sums).
    tc = (
        toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    sk = cms_presketch(
        tc, ["lang"], "tok", width=32, depth=4, hash_fn="md5",
        weight_col="_c",
    )
    tot = cms_rollup(sk, [])
    dig = tot.select(
        F.md5(
            F.array_join(
                F.transform("cms", lambda x: x.cast("string")), ","
            ).cast("binary")
        ).alias("cms_digest")
    )
    probes = tc.select("tok").distinct().orderBy("tok").limit(8)
    est = cms_estimate(tot, probes, "tok", width=32, depth=4, hash_fn="md5")
    exact = (
        tc.join(F.broadcast(probes), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.sum("_c").alias("exact_cnt"))
    )
    return (
        est.join(exact, "tok")
        .crossJoin(F.broadcast(dig))
        .select("tok", "est", "exact_cnt", "cms_digest")
        .orderBy("tok")
    )


@qdef(
    "t56_hashed_embedding",
    # exact replica of the hashing-trick embedder (md5 bucket lane):
    # per-doc 16-bucket hashed token counts as an md5 digest (integer-
    # exact), plus cosine to the min-id doc — integer dot/norms, one
    # sqrt+division per side (correctly-rounded IEEE, identical in
    # both engines), rounded at 4dp
    "WITH t2 AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) z WHERE tok <> ''), "
    "b AS (SELECT doc_id, CAST(CAST(concat('0x', substring(md5(tok || chr(31) || 'hemb'), 1, 15)) AS BIGINT) % 16 AS INT) AS p, "
    "  CAST(COUNT(*) AS BIGINT) AS c FROM t2 GROUP BY doc_id, p), "
    "ids AS (SELECT DISTINCT doc_id FROM t2), "
    "grid AS (SELECT ids.doc_id, gs.i FROM ids CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) gs), "
    "j AS (SELECT g.doc_id, g.i, COALESCE(b.c, 0) AS c FROM grid g "
    "  LEFT JOIN b ON b.doc_id = g.doc_id AND b.p = g.i), "
    "f AS (SELECT i, c FROM j WHERE doc_id = (SELECT MIN(doc_id) FROM ids)), "
    "v AS (SELECT doc_id, md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY i)) AS vec_digest, "
    "  CAST(SUM(c * c) AS BIGINT) AS na2 FROM j GROUP BY doc_id), "
    "dots AS (SELECT j.doc_id, CAST(SUM(j.c * f.c) AS BIGINT) AS dot FROM j JOIN f USING (i) GROUP BY j.doc_id), "
    "nf AS (SELECT CAST(SUM(c * c) AS BIGINT) AS nf2 FROM f) "
    "SELECT v.doc_id, v.vec_digest, "
    "ROUND(CAST(dots.dot AS DOUBLE) / (sqrt(CAST(v.na2 AS DOUBLE)) * sqrt(CAST(nf.nf2 AS DOUBLE))), 4) AS cos_first "
    "FROM v JOIN dots USING (doc_id), nf ORDER BY v.doc_id",
    "[ext: embeddings, new r9] hashing-trick document embeddings "
    "(operators/embeddings.py::hashed_embedding, Weinberger 2009): "
    "model-free dense vectors from hashed token counts — the bridge "
    "that lets a corpus without a neural encoder run the dense lane "
    "(embedding_neardup_pairs / semdedup / ivf_pq). One map-side-"
    "combinable (id, bucket) aggregate, pure codegen, zero UDF. The "
    "oracle checks every doc's exact count vector (digest) and the "
    "cosine-to-first-doc geometry.",
)
def t56(spark, sf_dir):
    from .operators.embeddings import hashed_embedding

    d = _t(spark, sf_dir, "documents")
    # r9: the embedding table feeds both the 1-row "first doc" fetch
    # and the full digest/cosine scan — materialize it once (n_docs ×
    # 16 longs) instead of running the hash-count aggregate twice.
    emb = hashed_embedding(d, dim=16, hash_fn="md5", normalize=False).localCheckpoint(
        eager=False
    )
    first = emb.orderBy("doc_id").limit(1).select(
        F.col("embedding").alias("_f")
    )
    j = emb.crossJoin(F.broadcast(first))
    zero = F.lit(0).cast("bigint")
    dot = F.aggregate(
        F.zip_with("embedding", "_f", lambda a, b: a * b),
        zero,
        lambda a, x: a + x,
    )
    na2 = F.aggregate("embedding", zero, lambda a, x: a + x * x)
    nf2 = F.aggregate("_f", zero, lambda a, x: a + x * x)
    cos = F.round(
        dot.cast("double")
        / (F.sqrt(na2.cast("double")) * F.sqrt(nf2.cast("double"))),
        4,
    )
    return j.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.transform("embedding", lambda x: x.cast("string")), ","
            ).cast("binary")
        ).alias("vec_digest"),
        cos.alias("cos_first"),
    ).orderBy("doc_id")


@qdef(
    "t16_streaming_tumbling",
    # Driver-checkable since r7 (was rows-only x16): a complete-mode
    # availableNow drain of the watermarked tumbling plan retains all
    # windows, so the result equals batch hour-bucket aggregation —
    # which DuckDB expresses directly. floor(epoch) before the bucket
    # division (DuckDB CAST(DOUBLE AS BIGINT) rounds; Spark truncates).
    "WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep, "
    "event_type, value FROM events) "
    "SELECT make_timestamp((ep // 3600) * 3600 * 1000000) AS w_start, "
    "event_type, count(*) AS c, round(sum(value), 2) AS value_sum "
    "FROM e GROUP BY w_start, event_type ORDER BY w_start, event_type",
    "[ext: streaming] watermarked tumbling-window counts, drained via "
    "a REAL Structured-Streaming availableNow run (complete mode) and "
    "compared to DuckDB's batch hour buckets",
)
def t16(spark, sf_dir):
    from .streaming import stream_events, tumbling_counts
    from .streaming.windows import run_to_memory

    s = tumbling_counts(stream_events(spark, sf_dir), window="1 hour")
    run_to_memory(s, "t16_out", "complete")
    return spark.table("t16_out").orderBy("w_start", "event_type")


@qdef(
    "t17_tfidf_topk",
    "WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim("
    "  regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term FROM documents), "
    "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks "
    "  WHERE term <> '' GROUP BY doc_id, term), "
    "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
    "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents), "
    "scored AS (SELECT tf.doc_id, tf.term, tf.tf, "
    "  ROUND(tf.tf * ln(n.n / dfreq.df), 6) AS score "
    "  FROM tf, dfreq, n WHERE tf.term = dfreq.term) "
    "SELECT doc_id, term, tf, score, rk FROM ("
    "  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id "
    "    ORDER BY score DESC, term) AS INTEGER) AS rk FROM scored) t "
    "WHERE rk <= 5 AND doc_id < 60 ORDER BY doc_id, rk",
    "[ext: text] per-document top-5 TF-IDF terms",
)
def t17(spark, sf_dir):
    from .operators.text import tf_idf

    d = _t(spark, sf_dir, "documents")
    return (
        tf_idf(d, top_k=5)
        .filter(F.col("doc_id") < 60)
        .orderBy("doc_id", "rk")
    )


@qdef(
    "x18_ivf_ann",
    None,  # KMeans cell boundaries aren't SQL-expressible (rows-only)
    "[ext: similarity] IVF approximate top-k: KMeans cells + nprobe scan",
)
def t18(spark, sf_dir):
    from .operators.similarity import ivf_build, ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    assigned, cents = ivf_build(e, n_centroids=8)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_topk(assigned.filter(F.col("vec_id") != 0), cents, qvec, k=10, nprobe=3)


@qdef(
    "x20_pq_ann",
    None,  # Lloyd codebooks / ADC float geometry aren't SQL-expressible
    "[ext: similarity, late r7] product quantization (Jegou 2011): "
    "32x-compressed tinyint codes (pq_train/pq_encode, bounded-sample "
    "Lloyd per subspace + map-side GEMM argmins), queries answered by "
    "ADC lookup-table scans over the CODES with per-partition top-k "
    "combine (operators/pq.py; mechanism value-tested exactly vs "
    "numpy reconstruction in tests/test_pq.py, recall measured at 1M "
    "in BENCH_ANN_1M.json)",
)
def x20(spark, sf_dir):
    from .operators.pq import pq_encode, pq_topk, pq_train

    e = _t(spark, sf_dir, "embeddings")
    book = pq_train(e, m=8)
    codes = pq_encode(e, book)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    # Exclude the query vector BEFORE the top-k scan (its quantized
    # self-distance ~0 would otherwise eat a slot and yield 9
    # neighbors) — same pattern as t18's ivf_topk call above.
    return pq_topk(codes.filter(F.col("vec_id") != 0), book, qvec, k=10)


@qdef(
    "x21_ivfpq_ann",
    None,  # Lloyd codebooks / ADC float geometry aren't SQL-expressible
    "[ext: similarity, r8] IVF x PQ composed index (IVFADC, Jegou 2011 "
    "SV-VI): coarse cells prune the scan to nprobe/n_cells (the _cell "
    "filter = partition pruning over a partitionBy(_cell) layout), PQ "
    "codes of the cell RESIDUAL compress survivors 32x, per-probed-cell "
    "ADC tables score them, exact re-rank refines (operators/pq.py; "
    "mechanism value-tested vs numpy reconstruction in tests/test_pq.py "
    "TestIvfPq, recall/latency at 1M in BENCH_ANN_1M.json)",
)
def x21(spark, sf_dir):
    from .operators.pq import ivf_pq_build, ivf_pq_topk_rerank

    e = _t(spark, sf_dir, "embeddings")
    codes, cents, book = ivf_pq_build(e, n_centroids=8, m=8)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_pq_topk_rerank(
        codes.filter(F.col("vec_id") != 0), e, cents, book, qvec,
        k=10, nprobe=3,
    )


@qdef(
    "t19_embedding_neardup",
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos "
    "FROM e a JOIN e b ON a.vec_id < b.vec_id "
    "WHERE list_cosine_similarity(a.v, b.v) >= 0.45 "
    "ORDER BY id_a, id_b",
    "[ext: dedup] embedding-cosine near-dup pairs, exact with "
    "IVF-centroid angular-bound block pruning (no O(n^2) stage on "
    "clustered data; LSH blocking for high thresholds is x12)",
)
def t19(spark, sf_dir):
    from .operators.dedup import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(e, threshold=0.45).orderBy("id_a", "id_b")


@qdef(
    "t20_retention",
    "WITH r AS (SELECT user_id, "
    "CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INT) AS r1, "
    "CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) "
    "  * MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS r2, "
    "CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) "
    "  * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INT) AS r3 "
    "FROM events GROUP BY user_id), "
    "e AS (SELECT user_id, ts, event_type FROM events "
    "  WHERE event_type IN ('view', 'click', 'purchase')), "
    "f AS (SELECT u.user_id, CAST(CASE "
    "WHEN EXISTS (SELECT 1 FROM e v, e c, e p "
    "  WHERE v.user_id = u.user_id AND c.user_id = u.user_id AND p.user_id = u.user_id "
    "  AND v.event_type = 'view' AND c.event_type = 'click' AND p.event_type = 'purchase' "
    "  AND c.ts > v.ts AND p.ts > c.ts "
    "  AND p.ts <= v.ts + INTERVAL 1 HOUR) THEN 3 "
    "WHEN EXISTS (SELECT 1 FROM e v, e c "
    "  WHERE v.user_id = u.user_id AND c.user_id = u.user_id "
    "  AND v.event_type = 'view' AND c.event_type = 'click' "
    "  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR) THEN 2 "
    "WHEN EXISTS (SELECT 1 FROM e v WHERE v.user_id = u.user_id "
    "  AND v.event_type = 'view') THEN 1 "
    "ELSE 0 END AS INT) AS level "
    "FROM (SELECT DISTINCT user_id FROM e) u), "
    "se AS (SELECT user_id, ts, event_type FROM events "
    "  WHERE event_type IN ('signup', 'purchase')), "
    "sm AS (SELECT u.user_id, CAST(CASE WHEN EXISTS ("
    "  SELECT 1 FROM se s, se p WHERE s.user_id = u.user_id "
    "  AND p.user_id = u.user_id AND s.event_type = 'signup' "
    "  AND p.event_type = 'purchase' AND p.ts > s.ts) "
    "THEN 1 ELSE 0 END AS INT) AS matched "
    "FROM (SELECT DISTINCT user_id FROM se) u) "
    "SELECT r.user_id, r.r1, r.r2, r.r3, "
    "CAST(COALESCE(f.level, 0) AS INT) AS level, "
    "CAST(COALESCE(sm.matched, 0) AS INT) AS matched "
    "FROM r LEFT JOIN f ON r.user_id = f.user_id "
    "LEFT JOIN sm ON r.user_id = sm.user_id ORDER BY r.user_id",
    "[2.4 D: CH retention() + windowFunnel() + sequenceMatch()] the "
    "behavioral-analytics trio in one per-user row (r7: absorbed "
    "t21_window_funnel and t22_sequence_match so t31/t33 rotate into "
    "the driver window): cond1-gated cohort flags; deepest "
    "view->click->purchase chain within 1h of the chain start (JVM "
    "sort_array + higher-order fold, one keyed shuffle, map-side "
    "event filter; funnel.py design notes); signup->purchase "
    "ordered-existence match ('(?1).*(?2)'). Funnel-less users carry "
    "level/matched = 0 through the left joins",
)
def t20(spark, sf_dir):
    # r9: the three operators are fused into ONE groupBy pass over
    # events (behavioral_profile) — the separate-call composition
    # scanned events 3x, shuffled 3x and re-joined twice, all keyed
    # on user_id; per-row equality with the old composition is
    # asserted in tests/test_operators.py::TestBehavioralProfile and
    # the oracle is unchanged.
    from .operators.funnel import behavioral_profile

    ev = _t(spark, sf_dir, "events")
    return behavioral_profile(
        ev,
        "user_id",
        "ts",
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "purchase",
            F.col("event_type") == "error",
        ],
        3600.0,
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        [F.col("event_type") == "signup", F.col("event_type") == "purchase"],
    ).orderBy("user_id")


def _t23_golden_oracle() -> str:
    """Golden-values oracle for the video frame-sampling fan-out
    (driver-checkable since r7; was rows-only x23). Same justification
    as t13: the media fixture is self-generated seeded data, so the
    expected fan-out (one row per sampled frame, the frame selected by
    the clip's own fps, stub rotation for undecodable containers) is
    computed by the pure-Python reference below and pinned as VALUES —
    the gate then proves the mapInPandas fan-out reproduces it."""
    from .operators import media_codecs as mc
    from .operators.multimodal import synthetic_media_rows

    ids, kinds, payloads, metas = synthetic_media_rows(48)
    rows = []
    for mid, kind, payload, meta in zip(ids, kinds, payloads, metas):
        if kind != "video" or payload is None:
            continue
        dur = meta.get("duration_ms") or 0
        clip = mc.decode_video(bytes(payload))
        for k, ts in enumerate(range(0, max(1, dur), 250)):
            if clip is not None:
                vid, fps = clip
                fi = min(len(vid) - 1, int(round(ts / 1000.0 * fps)))
                n = len(mc.encode_bmp(vid[fi]))
            else:
                n = len(payload)
            rows.append(
                f"({mid}, {k}, {ts}, {n}, "
                f"{'TRUE' if clip is not None else 'FALSE'})"
            )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, CAST(ts_ms AS INT) AS ts_ms, "
        "CAST(frame_bytes AS INT) AS frame_bytes, is_real_frame "
        "FROM (VALUES " + ", ".join(rows)
        + ") AS g(media_id, frame_idx, ts_ms, frame_bytes, is_real_frame) "
        "ORDER BY media_id, frame_idx"
    )


@qdef(
    "t23_frame_sample",
    _t23_golden_oracle(),
    "[ext: multimodal] video frame sampling fan-out; y4m and "
    "AVI(DIB/MJPEG) clips decode to REAL frames (BMP-encoded; "
    "is_real_frame set at the decode site), mp4/mkv keep the visible "
    "stub — vs a golden-values oracle computed by the pure-Python "
    "reference path (driver-checkable since r7; was rows-only x23)",
)
def t23(spark, sf_dir):
    from .operators.multimodal import (
        prep_python_stage_input,
        sample_frames,
        synthetic_media,
    )

    # size-conditional input coalesce + in-partition sort — see t13
    media = prep_python_stage_input(synthetic_media(spark, 48), n_rows=48)
    frames = sample_frames(media, every_ms=250)
    return (
        frames.select(
            "media_id",
            "frame_idx",
            "ts_ms",
            F.length("frame").alias("frame_bytes"),
            # emitted by the decode stage itself — a byte-prefix sniff
            # here would mislabel stub rotations that start "BM"
            F.col("is_real").alias("is_real_frame"),
        )
        .sortWithinPartitions("media_id", "frame_idx")
    )


@qdef(
    "t30_dedup_clusters",
    # DuckDB oracle: same 3-gram Jaccard edges as t08 thresholded at
    # 0.5, then the transitive closure via WITH RECURSIVE min-label
    # reachability — cluster = min doc_id reachable, size = members.
    "WITH RECURSIVE g AS (SELECT doc_id, list_distinct(list_transform("
    "  generate_series(1, greatest(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) - 2, 1)), "
    "  i -> substring(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), i, 3))) AS gr "
    "FROM documents), "
    "e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM g a "
    "JOIN g b ON b.doc_id = a.doc_id + 1 "
    "WHERE ROUND(len(list_intersect(a.gr, b.gr)) * 1.0 / len(list_distinct(list_concat(a.gr, b.gr))), 4) >= 0.5), "
    "eu AS (SELECT id_a AS a, id_b AS b FROM e "
    "UNION SELECT id_b, id_a FROM e), "
    "r(id, comp) AS ("
    "  SELECT a, a FROM eu "
    "  UNION SELECT eu.b, r.comp FROM r JOIN eu ON eu.a = r.id), "
    "lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id) "
    "SELECT comp AS cluster, count(*) AS size FROM lab "
    "GROUP BY comp ORDER BY cluster",
    "[ext: dedup] connected components over thresholded near-dup "
    "pairs: transitive closure -> duplicate groups (cluster = min "
    "member id, size = group size). The keep-one step after any pair "
    "generator; Spark side is min-label propagation with pointer "
    "jumping (operators/dedup.py::connected_components).",
)
def t30(spark, sf_dir):
    from .operators.dedup import connected_components, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = (
        d.select(F.col("doc_id").alias("id_a"))
        .withColumn("id_b", F.col("id_a") + 1)
        .join(d.select(F.col("doc_id").alias("id_b")), "id_b", "inner")
    )
    edges = ngram_jaccard_pairs(d, pairs, n=3).filter(F.col("jaccard") >= 0.5)
    comp = connected_components(edges)
    return (
        comp.groupBy("comp")
        .agg(F.count("*").alias("size"))
        .select(F.col("comp").alias("cluster"), "size")
        .orderBy("cluster")
    )


@qdef(
    "t31_dup_ngrams",
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), "
    "g AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos, "
    "  array_to_string(l[u.i:u.i+5], ' ') AS gram, len(l) AS ntok "
    "  FROM t, UNNEST(generate_series(1, len(l) - 5)) AS u(i) "
    "  WHERE len(l) >= 6), "
    "dup AS (SELECT gram FROM (SELECT gram, doc_id FROM g GROUP BY gram, doc_id) x "
    "  GROUP BY gram HAVING COUNT(*) >= 2), "
    "hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)), "
    "per AS (SELECT doc_id, COUNT(*) AS n_grams, MAX(ntok) AS ntok FROM g GROUP BY doc_id), "
    "dc AS (SELECT doc_id, COUNT(*) AS n_dup FROM hits GROUP BY doc_id), "
    "covp AS (SELECT DISTINCT h.doc_id, CAST(c.p AS BIGINT) AS tp "
    "  FROM hits h, UNNEST(generate_series(h.pos, h.pos + 5)) AS c(p)), "
    "cov AS (SELECT doc_id, COUNT(*) AS ncov FROM covp GROUP BY doc_id), "
    "tok AS (SELECT doc_id, CAST(u.i AS BIGINT) AS p, l[u.i] AS tk "
    "  FROM t, UNNEST(generate_series(1, len(l))) AS u(i) WHERE len(l) >= 6), "
    "kept AS (SELECT tok.doc_id, tok.p, tok.tk FROM tok "
    "  LEFT JOIN covp ON tok.doc_id = covp.doc_id AND tok.p = covp.tp "
    "  WHERE covp.tp IS NULL), "
    "scr AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS scrubbed "
    "  FROM kept GROUP BY doc_id) "
    "SELECT per.doc_id, per.n_grams, "
    "CAST(COALESCE(dc.n_dup, 0) AS BIGINT) AS n_dup_grams, "
    "ROUND(COALESCE(dc.n_dup, 0) / CAST(per.n_grams AS DOUBLE), 4) AS dup_gram_frac, "
    "ROUND(COALESCE(cov.ncov, 0) / CAST(per.ntok AS DOUBLE), 4) AS dup_token_frac, "
    "CAST(COALESCE(cov.ncov, 0) AS BIGINT) AS n_removed_tokens, "
    "md5(COALESCE(scr.scrubbed, '')) AS scrub_md5 "
    "FROM per LEFT JOIN dc USING (doc_id) LEFT JOIN cov USING (doc_id) "
    "LEFT JOIN scr USING (doc_id) "
    "ORDER BY doc_id",
    "[ext: text, new r7] cross-document duplicated n-gram coverage — "
    "the Gopher 'fraction of tokens inside duplicated n-grams' "
    "corpus filter (the cross-doc counterpart of t29's within-doc "
    "repetition): a 6-gram occurring in >=2 DISTINCT docs is "
    "duplicated; per doc we report its duplicated-gram fraction and "
    "the fraction of token positions covered by at least one "
    "duplicated gram. Catches templated/mirrored boilerplate that "
    "fixed-boundary chunk dedup (t42) misses. Three keyed exchanges "
    "on narrow rows; bodies never travel past tokenization "
    "(operators/text.py::dup_ngram_coverage). Since r8 the row also "
    "carries the REWRITE lane — scrub_dup_spans (Lee et al. 2022 "
    "substring-dedup semantics: duplicated spans are excised, not "
    "just scored) — oracle-checked end-to-end via n_removed_tokens + "
    "md5(scrubbed), the t06 digest-lane construction.",
)
def t31(spark, sf_dir):
    from .operators.text import (
        _dup_gram_hits,
        dup_ngram_coverage,
        scrub_dup_spans,
    )

    d = _t(spark, sf_dir, "documents")
    # r9: one gram spine for both lanes — the (id, pos) hit rows are
    # materialized once (lazy localCheckpoint) instead of the full
    # tokenize → explode → dup-set → probe pipeline executing
    # separately under the flag AND the scrub lane (AQE exchange
    # reuse only covered the dup-set aggregate, not the probe side).
    toks, grams, hits = _dup_gram_hits(d, "doc_id", "text", 6, 2, "text")
    spine = (toks, grams, hits.localCheckpoint(eager=False))
    cov = dup_ngram_coverage(d, n=6, min_docs=2, spine=spine)
    scr = scrub_dup_spans(d, n=6, min_docs=2, spine=spine).select(
        "doc_id",
        "n_removed_tokens",
        F.md5(F.col("scrubbed").cast("binary")).alias("scrub_md5"),
    )
    return cov.join(scr, "doc_id").orderBy("doc_id")


def _mix_weights() -> dict:
    """Even-suffixed sources keep 80%, odd 35% — a literal weights
    map so the oracle can mirror it with a CASE on the suffix."""
    return {f"src{i}": (0.8 if i % 2 == 0 else 0.35) for i in range(20)}


@qdef(
    "t33_mix_sample",
    "WITH d AS (SELECT source, "
    "  CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0 THEN 0.8 ELSE 0.35 END AS rate, "
    "  CAST(concat('0x', substring(md5(concat('mix:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) "
    "    / 1152921504606846976.0 AS u_keep, "
    "  CAST(concat('0x', substring(md5(concat('mix/split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) "
    "    / 1152921504606846976.0 AS u_split, "
    "  len(string_split(text, ' ')) AS tok FROM documents), "
    "k AS (SELECT source, CASE WHEN u_keep < rate THEN 1 ELSE 0 END AS kept, "
    "  CASE WHEN u_split < 0.05 THEN 'val' WHEN u_split < 0.1 THEN 'test' "
    "  ELSE 'train' END AS part, tok FROM d) "
    "SELECT source, COUNT(*) AS n_total, "
    "CAST(SUM(kept) AS BIGINT) AS n_kept, "
    "CAST(SUM(CASE WHEN kept = 1 AND part = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train, "
    "CAST(SUM(CASE WHEN kept = 1 AND part = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val, "
    "CAST(SUM(CASE WHEN kept = 1 AND part = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test, "
    "CAST(SUM(CASE WHEN kept = 1 THEN tok ELSE 0 END) AS BIGINT) AS kept_tokens "
    "FROM k GROUP BY source ORDER BY source",
    "[ext: pipeline, new r7] deterministic weighted mixture sampling "
    "+ train/val/test split: per-source keep-rates (even-suffixed "
    "sources 0.8, odd 0.35) and split assignment both drawn from "
    "salted md5(doc_id) top-60-bits uniforms (the engine-portable "
    "construction t06 established), so the training mix is "
    "reproducible across engines/runs/cluster sizes — no RNG state, "
    "no sort-order dependence. Two codegen'd hash projections + ONE "
    "map-side-combinable aggregate keyed on source; no data-sized "
    "shuffle (operators/text.py::mix_sample).",
)
def t33(spark, sf_dir):
    from .operators.text import mix_sample

    d = _t(spark, sf_dir, "documents")
    return mix_sample(d, _mix_weights(), salt="mix").orderBy("source")


# Driver-window rotation (r5, VERDICT r4 #8): the driver verifies the
# first 50 sorted registry keys. q21/q24 were absorbed into q08/q27
# (operators preserved) and the three rows below renumbered t31→t35,
# t32→t36, t33→t37 so the two newest, most complex operators —
# t30_dedup_clusters (pointer-jumping connected components vs a
# recursive-CTE oracle) and t34_contamination — land inside the
# window. t35-t37 keep their DuckDB oracles via
# tests/test_conformance.py exactly as before.
@qdef(
    "t35_sliding_window",
    # DuckDB oracle: each event is replicated into the hour-long
    # windows on the 15-minute grid that contain it (the definition of
    # a hopping window), then grouped — exactly what Spark's
    # window(ts, '1 hour', '15 minutes') computes.
    # CAST(DOUBLE AS BIGINT) ROUNDS in DuckDB — floor() first, or a
    # sub-second event near a grid boundary lands in the wrong window
    "WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep, event_type, value FROM events), "
    "u AS (SELECT unnest(generate_series("
    "CAST(floor((ep - 3600.0) / 900) AS BIGINT) + 1, "
    "CAST(floor(ep / 900.0) AS BIGINT), 1)) * 900 AS ws, event_type, value FROM e) "
    "SELECT make_timestamp(ws * 1000000) AS w_start, event_type, "
    "count(*) AS c, round(sum(value), 2) AS value_sum "
    "FROM u GROUP BY w_start, event_type ORDER BY w_start, event_type",
    "[ext: streaming] sliding (hopping) window aggregation — batch "
    "run of the same streaming plan (streaming/windows.py::"
    "sliding_counts); the streaming-equals-batch equivalence is "
    "asserted in tests/test_streaming.py.",
)
def t31(spark, sf_dir):
    from .streaming.windows import sliding_counts

    ev = _t(spark, sf_dir, "events")
    return sliding_counts(ev, "1 hour", "15 minutes").orderBy(
        "w_start", "event_type"
    )


@qdef(
    "t36_sample_per_key",
    # same Lehmer-hash ranking in DuckDB — deterministic, no RNG
    "SELECT lang, doc_id FROM ("
    "SELECT lang, doc_id, row_number() OVER (PARTITION BY lang "
    "ORDER BY (doc_id * 48271) % 2147483647, doc_id) AS rn "
    "FROM documents) WHERE rn <= 5 ORDER BY lang, doc_id",
    "[ext: sampling] deterministic stratified sample: k rows per "
    "stratum ranked by a Lehmer multiplicative hash — reproducible "
    "training-data subsampling (operators/text.py::sample_per_key).",
)
def t32(spark, sf_dir):
    from .operators.text import sample_per_key

    d = _t(spark, sf_dir, "documents")
    return (
        sample_per_key(d, "lang", "doc_id", k=5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@qdef(
    "t37_dedup_keep_one",
    # survivors = every doc except non-representative cluster members
    # (same edge set + closure as t30; representative = min member id)
    "WITH RECURSIVE g AS (SELECT doc_id, list_distinct(list_transform("
    "  generate_series(1, greatest(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) - 2, 1)), "
    "  i -> substring(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), i, 3))) AS gr "
    "FROM documents), "
    "e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM g a "
    "JOIN g b ON b.doc_id = a.doc_id + 1 "
    "WHERE ROUND(len(list_intersect(a.gr, b.gr)) * 1.0 / len(list_distinct(list_concat(a.gr, b.gr))), 4) >= 0.5), "
    "eu AS (SELECT id_a AS a, id_b AS b FROM e "
    "UNION SELECT id_b, id_a FROM e), "
    "r(id, comp) AS ("
    "  SELECT a, a FROM eu "
    "  UNION SELECT eu.b, r.comp FROM r JOIN eu ON eu.a = r.id), "
    "lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id), "
    # keep-BEST lane (r8): same clusters, survivor = the member with
    # the most whitespace tokens (ties to min id); digest of the full
    # keep-best survivor id list rides every row as a constant column
    "sc AS (SELECT doc_id, len(string_split(text, ' ')) AS s FROM documents), "
    "bw AS (SELECT lab.id, ROW_NUMBER() OVER (PARTITION BY lab.comp "
    "  ORDER BY sc.s DESC, lab.id) AS rn FROM lab JOIN sc ON sc.doc_id = lab.id), "
    "bd AS (SELECT md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS best_digest, "
    "  CAST(COUNT(*) AS BIGINT) AS n_best FROM documents "
    "  WHERE doc_id NOT IN (SELECT id FROM bw WHERE rn > 1)), "
    # absorbed t14 (r9): exact-dedup survivor count as a constant leg
    "es AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_survivors FROM ("
    "  SELECT MIN(doc_id) FROM documents "
    "  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) t) "
    "SELECT d.doc_id, bd.best_digest, bd.n_best, es.n_exact_survivors "
    "FROM documents d, bd, es "
    "WHERE d.doc_id NOT IN (SELECT id FROM lab WHERE id != comp) "
    "ORDER BY d.doc_id",
    "[ext: dedup] keep-one: drop every near-dup cluster member except "
    "the min-id representative; singletons survive untouched. The "
    "end-to-end dedup story: pairs (t08) -> clusters (t30) -> "
    "survivor set (this). Since r8 the row also carries the keep-BEST "
    "lane (dedup.py::keep_best_survivors — production survivor "
    "choice: highest token count per cluster, ties to min id) as an "
    "md5 digest + count of its survivor id list, oracle-checked "
    "end-to-end. Since r9 it also carries the absorbed t14 leg "
    "(exact_dedup survivor count, constant n_exact_survivors), which "
    "freed the 50th driver-window slot for t53_bm25_topk.",
)
def t33(spark, sf_dir):
    from .operators.dedup import (
        connected_components,
        exact_dedup,
        keep_best_survivors,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = (
        d.select(F.col("doc_id").alias("id_a"))
        .withColumn("id_b", F.col("id_a") + 1)
        .join(d.select(F.col("doc_id").alias("id_b")), "id_b", "inner")
    )
    edges = ngram_jaccard_pairs(d, pairs, n=3).filter(F.col("jaccard") >= 0.5)
    comp = connected_components(edges)
    losers = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id")
    )
    scored = d.withColumn("_score", F.size(F.split("text", " ")))
    best = keep_best_survivors(scored, comp, "_score")
    dig = best.agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).cast("binary")
        ).alias("best_digest"),
        F.count(F.lit(1)).alias("n_best"),
    )
    ex = exact_dedup(d).agg(
        F.count(F.lit(1)).alias("n_exact_survivors")
    )
    return (
        d.join(losers, "doc_id", "left_anti")
        .select("doc_id")
        .crossJoin(F.broadcast(dig))
        .crossJoin(F.broadcast(ex))
        .orderBy("doc_id")
    )


@qdef(
    "t34_contamination",
    # eval set = the 5 lowest doc_ids; a training doc is contaminated
    # if it shares an 8-token contiguous span with any eval doc
    "WITH tok AS (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk FROM documents), "
    "g AS (SELECT doc_id, list_distinct(list_transform("
    "  generate_series(1, greatest(len(tk) - 3, 1)), "
    "  i -> list_aggregate(list_slice(tk, i, i + 3), 'string_agg', ' '))) AS gr FROM tok), "
    "ev AS (SELECT DISTINCT unnest(gr) AS g FROM g WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)), "
    "tr AS (SELECT doc_id, unnest(gr) AS g FROM g WHERE doc_id NOT IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)) "
    "SELECT tr.doc_id, count(DISTINCT tr.g) AS n_hits FROM tr "
    "JOIN ev ON ev.g = tr.g GROUP BY tr.doc_id ORDER BY tr.doc_id",
    "[ext: text] benchmark-contamination screen: training docs sharing "
    "an n-token span with the eval set (broadcast n-gram semi-join; "
    "operators/text.py::contamination_flags).",
)
def t34(spark, sf_dir):
    from .operators.text import contamination_flags

    d = _t(spark, sf_dir, "documents")
    # r10 REVERT of the r9 ev_ids checkpoint: the promised at-scale
    # crossover did not materialize — 10M-doc interleaved A/B read
    # checkpoint-on 190.4/155.0 s vs off 168.8/157.2 s (on loses round
    # 0 by 11%, ties round 1), and the r9 driver bench had it -14% at
    # sf0.1. The duplicated TakeOrdered the checkpoint removed is a
    # cheap scan+reduce next to the gram explode it gates, while the
    # checkpoint adds a materialization job + a broadcast rebuilt from
    # the RDD. t47 KEEPS its checkpoint: 3 consuming branches (not 2)
    # and its own r9 A/B favored it (1.93 -> 1.67 s).
    ev_ids = d.orderBy("doc_id").limit(5).select("doc_id")
    ev = d.join(F.broadcast(ev_ids), "doc_id", "left_semi")
    train = d.join(F.broadcast(ev_ids), "doc_id", "left_anti")
    return contamination_flags(train, ev, n=4).orderBy("doc_id")


# Deterministic PII injection shared by t38/t39: the synthetic
# documents corpus contains no organic PII, so both sides append the
# same doc_id-derived snippets before scanning — the regex machinery
# is then verified against real matches, not a sea of zeros.
_PII_AUG_SPARK = (
    "concat(text, CASE WHEN doc_id % 3 = 0 THEN concat(' contact u', "
    "CAST(doc_id AS STRING), '@example.com or 10.0.', "
    "CAST(doc_id % 256 AS STRING), '.7') "
    "WHEN doc_id % 3 = 1 THEN ' call (415) 555-0133 ssn 078-05-1120' "
    "ELSE '' END)"
)
_PII_AUG_DUCK = (
    "concat(text, CASE WHEN doc_id % 3 = 0 THEN concat(' contact u', "
    "CAST(doc_id AS VARCHAR), '@example.com or 10.0.', "
    "CAST(doc_id % 256 AS VARCHAR), '.7') "
    "WHEN doc_id % 3 = 1 THEN ' call (415) 555-0133 ssn 078-05-1120' "
    "ELSE '' END)"
)
_PII_RE = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn": "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone": "\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}",
    "ipv4": "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
}


# (t38_pii_scan merged into t39_pii_scrub late r7 — the scan counts
# ride along as extra columns of the one-pass pii_audit projection,
# freeing a driver-window slot for t50_semdedup. pii_scan stays a
# standalone operator, value-tested in tests/test_text_ops.py and
# benched in tools/bench_text_scale.py.)


@qdef(
    "t39_pii_scrub",
    "WITH aug AS (SELECT doc_id, " + _PII_AUG_DUCK + " AS text FROM documents) "
    "SELECT doc_id, "
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{_PII_RE['email']}', '<EMAIL>', 'g'), "
    f"'{_PII_RE['ssn']}', '<SSN>', 'g'), "
    f"'{_PII_RE['phone']}', '<PHONE>', 'g'), "
    f"'{_PII_RE['ipv4']}', '<IP>', 'g') AS clean_text, "
    f"CAST(len(regexp_extract_all(text, '{_PII_RE['email']}')) AS INT) AS n_email, "
    f"CAST(len(regexp_extract_all(text, '{_PII_RE['ssn']}')) AS INT) AS n_ssn, "
    f"CAST(len(regexp_extract_all(text, '{_PII_RE['phone']}')) AS INT) AS n_phone, "
    f"CAST(len(regexp_extract_all(text, '{_PII_RE['ipv4']}')) AS INT) AS n_ipv4, "
    f"CAST(len(regexp_extract_all(text, '{_PII_RE['email']}')) "
    f"+ len(regexp_extract_all(text, '{_PII_RE['ssn']}')) "
    f"+ len(regexp_extract_all(text, '{_PII_RE['phone']}')) "
    f"+ len(regexp_extract_all(text, '{_PII_RE['ipv4']}')) AS INT) AS pii_total "
    "FROM aug ORDER BY doc_id",
    "[ext: text] PII redaction + triage audit in one pass (absorbed "
    "t38_pii_scan late r7): detected spans replaced with placeholder "
    "tokens in a fixed category order, with per-category hit counts "
    "as ride-along columns — one projection, zero shuffle, pure "
    "regexp codegen (operators/text.py::pii_audit). Patterns "
    "restricted to the Java-regex/RE2 common subset so DuckDB runs "
    "identical expressions; Spark regexp_replace is "
    "global-by-default, the oracle passes the 'g' flag explicitly.",
)
def t39(spark, sf_dir):
    from .operators.text import pii_audit

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.expr(_PII_AUG_SPARK)
    )
    return pii_audit(d).orderBy("doc_id")


@qdef(
    "t40_lm_score",
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM "
    "  (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)), "
    "cnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2), "
    "prob AS (SELECT w1, w2, c * 1.0 / sum(c) OVER (PARTITION BY w1) AS p FROM cnt) "
    "SELECT bg.doc_id, round(avg(ln(p)), 4) AS lm_score, count(*) AS n_bigrams "
    "FROM bg JOIN prob USING (w1, w2) GROUP BY bg.doc_id ORDER BY doc_id",
    "[ext: text] bigram-LM perplexity filter (CCNet-style): model "
    "estimated from the corpus (one GROUP BY shuffle), conditional "
    "probs via window-sum on the aggregated count table, docs scored "
    "by mean ln P(w2|w1) through a join AQE broadcasts "
    "(operators/text.py::bigram_lm_score).",
)
def t40(spark, sf_dir):
    from .operators.text import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents")).orderBy("doc_id")


# 8-token boilerplate prepended to every third doc so chunk-level
# dedup has real duplicates to find (the synthetic corpus is
# collision-free word salad) — same injection pattern as t38/t39.
_BOILER = "standard license header applies to this shared document"


@qdef(
    "t42_chunk_dedup",
    "WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
    f"concat('{_BOILER} ', text) ELSE text END AS text FROM documents), "
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug), "
    "ch AS (SELECT doc_id, t, CAST(ceil(len(t)/8.0) AS INT) AS n_chunks, "
    "  unnest(range(0, CAST(ceil(len(t)/8.0) AS INT))) AS idx FROM toks), "
    "chunks AS (SELECT doc_id, n_chunks, idx, "
    "  array_to_string(t[(idx*8+1):(idx*8+8)], ' ') AS chunk FROM ch), "
    "kept AS (SELECT *, row_number() OVER "
    "  (PARTITION BY chunk ORDER BY doc_id, idx) AS rn FROM chunks) "
    "SELECT doc_id, any_value(n_chunks) AS n_chunks, "
    "CAST(count(*) AS INT) AS n_kept, "
    "string_agg(chunk, ' ' ORDER BY idx) AS kept_text "
    "FROM kept WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id",
    "[ext: dedup] sub-document (chunk-level) exact dedup, the "
    "line-dedup step of CCNet/Gopher pipelines: 8-token chunks, "
    "global first-occurrence via one row_number shuffle on the chunk "
    "key, reassembly preserves order "
    "(operators/text.py::chunk_dedup).",
)
def t42(spark, sf_dir):
    from .operators.text import chunk_dedup

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN "
            f"concat('{_BOILER} ', text) ELSE text END"
        ),
    )
    return chunk_dedup(d, chunk_tokens=8).orderBy("doc_id")


@qdef(
    "t43_seq_packing",
    "WITH d AS (SELECT source, doc_id, len(string_split(text, ' ')) AS tok "
    "FROM documents), "
    "o AS (SELECT source, doc_id, tok, "
    "  sum(tok) OVER (PARTITION BY source ORDER BY doc_id "
    "  ROWS UNBOUNDED PRECEDING) - tok AS off FROM d) "
    "SELECT source, CAST(floor(off / 512.0) AS BIGINT) AS bin, "
    "CAST(count(*) AS INT) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens "
    "FROM o GROUP BY source, bin ORDER BY source, bin",
    "[ext: text] deterministic concat-and-chunk sequence packing "
    "(the LLM pre-training loader's greedy packer as a relational "
    "window): per-stratum running token offset -> 512-token bin, "
    "one shuffle on the stratum key "
    "(operators/text.py::pack_sequences).",
)
def t43(spark, sf_dir):
    from .operators.text import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=512).orderBy(
        "source", "bin"
    )


@qdef(
    "t44_ann_batch",
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
    "FROM embeddings WHERE vec_id IN (0, 7, 13)), "
    "s AS (SELECT q.query_id, e.vec_id, "
    "ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS sim "
    "FROM embeddings e, q WHERE e.vec_id <> q.query_id), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY sim DESC, vec_id) AS rn FROM s) "
    "SELECT query_id, vec_id, sim FROM r WHERE rn <= 5 "
    "ORDER BY query_id, vec_id",
    "[ext: similarity] batch exact ANN: one corpus pass scores ALL "
    "queries via an Arrow-batched GEMM with per-partition top-k "
    "combine, so the exchange sees O(partitions x Q x k) rows "
    "(operators/similarity.py::brute_topk_batch). The offline "
    "counterpart of t05's per-query kernel; BENCH_ANN_1M.json "
    "measures both regimes at 1M vectors.",
)
def t44(spark, sf_dir):
    from .operators.similarity import brute_topk_batch

    emb = _t(spark, sf_dir, "embeddings")
    qids = [0, 7, 13]
    qvecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    return brute_topk_batch(emb, qvecs, k=5).orderBy("query_id", "vec_id")


@qdef(
    "t45_corpus_stats",
    "WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token "
    "FROM documents), freq AS (SELECT token, COUNT(*) AS f FROM tok "
    "WHERE token <> '' GROUP BY token), top AS ("
    "SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r FROM freq "
    "ORDER BY f DESC, token LIMIT 1000) "
    "SELECT (SELECT COUNT(*) FROM documents) AS n_docs, "
    "(SELECT CAST(SUM(f) AS BIGINT) FROM freq) AS total_tokens, "
    "(SELECT COUNT(*) FROM freq) AS vocab_size, "
    "ROUND((SELECT COUNT(*) FROM freq) * 1.0 / "
    "(SELECT SUM(f) FROM freq), 6) AS ttr, "
    "(SELECT ROUND(regr_slope(ln(f), ln(r)), 4) FROM top) AS zipf_slope, "
    "(SELECT COUNT(DISTINCT md5(lower(trim(text)))) FROM documents) "
    "AS n_unique_docs",
    "[ext: text analysis] corpus snapshot statistics: doc/token/vocab "
    "counts, type-token ratio, Zipf exponent via OLS over the top-1000 "
    "frequency/rank log-log points (operators/text.py::corpus_stats — "
    "one token-keyed shuffle; rank window runs over K rows only); late "
    "r7: absorbed t04_dedup_exact — n_unique_docs (COUNT DISTINCT of "
    "the normalized md5 fingerprint) rides the same 1-row snapshot",
)
def t45(spark, sf_dir):
    from .operators.text import corpus_stats

    d = _t(spark, sf_dir, "documents")
    # r9: the fingerprint COUNT DISTINCT used to be a SEPARATE corpus
    # scan crossJoin'd on; it now rides corpus_stats' own doc-count
    # aggregate (same expression, same engine — identical value).
    return corpus_stats(
        d,
        extra_aggs=[
            F.countDistinct(
                F.md5(F.lower(F.trim(F.col("text"))))
            ).alias("n_unique_docs")
        ],
    )


@qdef(
    "t47_fuzzy_contamination",
    "WITH tok AS (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), "
    "'\\s+', ' ', 'g'), ' ') AS tk FROM documents), "
    "g AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 2, 1)), "
    "i -> list_aggregate(list_slice(tk, i, i + 2), 'string_agg', ' '))) AS gr FROM tok), "
    "ev AS (SELECT gr FROM g WHERE doc_id IN ("
    "SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)), "
    "tr AS (SELECT doc_id, gr FROM g WHERE doc_id NOT IN ("
    "SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)), "
    "j AS (SELECT tr.doc_id, ROUND(MAX(len(list_intersect(tr.gr, ev.gr)) * 1.0 / "
    "(len(tr.gr) + len(ev.gr) - len(list_intersect(tr.gr, ev.gr)))), 4) AS max_jaccard "
    "FROM tr, ev GROUP BY tr.doc_id) "
    "SELECT doc_id, max_jaccard FROM j WHERE max_jaccard >= 0.01 ORDER BY doc_id",
    "[ext: text] fuzzy decontamination: training docs whose distinct "
    "word-3-gram set reaches Jaccard >= 0.01 with any eval doc — the "
    "near-dup tier behind t34's exact-span screen (catches paraphrased "
    "leakage); eval gram sets broadcast, bodies never shuffle "
    "(operators/text.py::fuzzy_contamination)",
)
def t47(spark, sf_dir):
    from .operators.text import fuzzy_contamination

    d = _t(spark, sf_dir, "documents")
    # r9: ev_ids is referenced by the semi, anti AND na branches — a
    # lazy checkpoint of the 5-row frame stops the TakeOrdered pass
    # over the corpus from running once per branch (plan showed 3).
    ev_ids = d.orderBy("doc_id").limit(5).select("doc_id").localCheckpoint(
        eager=False
    )
    ev = d.join(F.broadcast(ev_ids), "doc_id", "left_semi")
    train = d.join(F.broadcast(ev_ids), "doc_id", "left_anti")
    return (
        fuzzy_contamination(train, ev, n=3, threshold=0.01)
        .orderBy("doc_id")
    )


@qdef(
    "t46_cross_dedup",
    _t06_minhash_oracle(
        min_jaccard=0.2,
        # exclude seen x seen: yesterday's run already emitted those
        cand_pred=" AND NOT (a.doc_id % 3 = 0 AND c.doc_id % 3 = 0)",
        final_select=(
            ", scored AS (SELECT id_a, id_b, "
            "ROUND({AGREE} / 32.0, 4) AS jaccard_est "
            "FROM cand JOIN sig sa ON sa.doc_id = id_a "
            "JOIN sig sb ON sb.doc_id = id_b "
            "WHERE {AGREE} / 32.0 >= 0.2), "
            "dig AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd_pairs, "
            "CAST(COALESCE(SUM(CASE WHEN id_a % 3 = 0 OR id_b % 3 = 0 "
            "THEN 1 ELSE 0 END), 0) AS BIGINT) AS nd_cross, "
            "CAST(COALESCE(SUM(CAST(ROUND(jaccard_est * 10000) AS BIGINT)), "
            "0) AS BIGINT) AS nd_jsum FROM scored) "
            "SELECT s.doc_id, dig.nd_pairs, dig.nd_cross, dig.nd_jsum "
            "FROM (SELECT d.doc_id FROM documents d WHERE d.doc_id % 3 <> 0 "
            "AND md5(lower(trim(d.text))) NOT IN "
            "(SELECT md5(lower(trim(x.text))) FROM documents x "
            "WHERE x.doc_id % 3 = 0) ORDER BY doc_id LIMIT 100) s "
            "CROSS JOIN dig ORDER BY s.doc_id"
        ),
    ),
    "[ext: dedup] incremental cross-corpus dedup, BOTH lanes since "
    "r8: exact lane = new-batch docs (doc_id % 3 <> 0) whose content "
    "is absent from the seen corpus (fingerprint LEFT ANTI join, "
    "bodies never shuffle — operators/dedup.py::cross_corpus_new); "
    "NEAR lane digest columns = MinHash-LSH of the increment against "
    "the PERSISTED signature store (minhash_signature_table + "
    "minhash_lsh_pairs_incremental: only the increment is re-hashed, "
    "new x seen candidates from the band join against the store, "
    "md5 lane keeps the whole thing oracle-checked end-to-end)",
)
def t46(spark, sf_dir):
    from .operators.dedup import (
        cross_corpus_new,
        minhash_lsh_pairs_incremental,
        minhash_signature_table,
    )

    d = _t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 3 != 0)
    seen = d.filter(F.col("doc_id") % 3 == 0)
    survivors = cross_corpus_new(new, seen).orderBy("doc_id").limit(100)
    # the (id, _sig) frame IS the persistable store format; the scale
    # artifact (BENCH_DEDUP) round-trips it through parquet. r9: in
    # THIS in-plan composition the store feeds both the banded
    # candidate join and the signature re-attach — materialize it once
    # (in production it is a parquet table, already materialized).
    store = minhash_signature_table(seen, hash_fn="md5").localCheckpoint(
        eager=False
    )
    pairs = minhash_lsh_pairs_incremental(
        new, store, min_jaccard=0.2, hash_fn="md5"
    )
    dig = pairs.agg(
        F.count(F.lit(1)).alias("nd_pairs"),
        F.coalesce(
            F.sum(
                ((F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0)).cast("long")
            ),
            F.lit(0).cast("long"),
        ).alias("nd_cross"),
        F.coalesce(
            F.sum(F.round(F.col("jaccard_est") * 10000).cast("long")),
            F.lit(0).cast("long"),
        ).alias("nd_jsum"),
    )
    return survivors.crossJoin(F.broadcast(dig))
