"""Dialect front-end unit tests (SURVEY §4.3 item 1).

Each translated query is EXECUTED in Spark — translation that
doesn't run is not translation.
"""

from __future__ import annotations

import pytest

from cowsdb_spark.dialect import split_statements, translate
from cowsdb_spark.dialect.ddl import CreateTable, parse_ddl
from cowsdb_spark.dialect.types import ch_type_to_spark, spark_type_to_ch
from pyspark.sql import types as T


def one(sql: str):
    stmts = translate(sql)
    assert len(stmts) == 1, stmts
    return stmts[0]


class TestFormatClause:
    def test_strip_trailing_format(self):
        st = one("SELECT 1 AS x FORMAT JSONCompact")
        assert st.format == "JSONCompact"
        assert "FORMAT" not in st.spark_sql

    def test_format_in_string_untouched(self):
        # the reference corrupts this case (main.py:534) — we must not
        st = one("SELECT 'pick a FORMAT JSON wisely' AS s")
        assert st.format is None
        assert "FORMAT JSON" in st.spark_sql

    def test_settings_stripped(self):
        st = one("SELECT 1 AS x SETTINGS max_result_rows=1000, result_overflow_mode='break'")
        assert st.settings == {"max_result_rows": "1000", "result_overflow_mode": "break"}
        assert "SETTINGS" not in st.spark_sql


class TestStatements:
    def test_multi_statement_use(self):
        stmts = translate("USE `qryn`; SELECT 1 AS x")
        assert stmts[0].kind == "use" and stmts[0].database == "qryn"
        assert stmts[1].kind == "select"

    def test_semicolon_in_string(self):
        assert len(split_statements("SELECT 'a;b' AS s")) == 1


@pytest.mark.parametrize(
    "text,args",
    [
        ("Map(String, Array(Int32))", ["Map(String, Array(Int32))"]),
        ("String, Array(Int32)", ["String", "Array(Int32)"]),
        ("18, 4", ["18", "4"]),
        ("a String, b Nullable(Int32)", ["a String", "b Nullable(Int32)"]),
        ("'a,b' = 1, 'c' = 2", ["'a,b' = 1", "'c' = 2"]),
        ("[1, 2], x", ["[1, 2]", "x"]),
        ("{'k': 1}, y", ["{'k': 1}", "y"]),
        ("'x,y' AS s, '(' AS o, f(a, ')') AS c", ["'x,y' AS s", "'(' AS o", "f(a, ')') AS c"]),
        ("`a,b` AS q, x -- c,d\n", ["`a,b` AS q", "x -- c,d"]),
        ("a,", ["a"]),
        ("", []),
    ],
)
def test_split_top_level_args(text, args):
    from cowsdb_spark.dialect.tokenizer import split_text

    assert split_text(text) == args


def test_nesting_counts_merged_tokens():
    """Earlier rewrites leave "array(" and "element_at(x" as single
    tokens; splitting and bracket matching count their brackets."""
    from cowsdb_spark.dialect.tokenizer import Tok, arg_texts, find_close

    toks = [
        Tok("op", "array("), Tok("ident", "a"), Tok("op", ","), Tok("number", "1"),
        Tok("op", ")"), Tok("op", ","), Tok("op", "element_at(x"), Tok("op", ","),
        Tok("number", "1"), Tok("op", ")"),
    ]
    assert arg_texts(toks) == ["array(a,1)", "element_at(x,1)"]
    assert find_close(toks, 0) == 4
    assert find_close(toks, 6) == 9


def test_interpolate_item_with_subscript():
    st = one("SELECT n, v FROM t ORDER BY n WITH FILL INTERPOLATE (v AS v + arr[1], w)")
    assert st.with_fill["interpolate"] == [("v", "v + element_at(arr,1)"), ("w", None)]
    assert st.spark_sql == "SELECT n, v FROM t ORDER BY n"


class TestRewrites:
    @pytest.mark.parametrize(
        "ch,expected_rows",
        [
            ("SELECT toString(42) AS s", [("42",)]),
            ("SELECT toInt32('7') + 1 AS v", [(8,)]),
            ("SELECT toYYYYMM(toDate('2024-03-05')) AS ym", [(202403,)]),
            ("SELECT intDiv(10, 3) AS d", [(3,)]),
            ("SELECT number FROM numbers(3) ORDER BY number", [(0,), (1,), (2,)]),
            ("SELECT number % 2 ? number : NULL AS v FROM numbers(2) ORDER BY number",
             [(None,), (1,)]),
            ("SELECT multiIf(2 > 1, 'x', 'y') AS m", [("x",)]),
            ("SELECT empty('') AS a, notEmpty('q') AS b", [(True, True)]),
            ("SELECT arrayMap(x -> x * 2, array(1, 2)) AS a", [([2, 4],)]),
            ("SELECT has(array(1, 2), 2) AS h", [(True,)]),
            ("SELECT version() AS v", [("25.5.2",)]),
            ("SELECT quantileExact(0.5)(x) AS m FROM (SELECT 1 AS x UNION ALL SELECT 3 AS x)",
             [(2.0,)]),
            ("SELECT sumIf(v, v > 1) AS s FROM (SELECT 1 AS v UNION ALL SELECT 5 AS v)",
             [(5,)]),
            ("SELECT toStartOfHour(timestamp'2024-01-02 03:45:11') AS h",
             None),  # executes; value checked below via strftime
        ],
    )
    def test_translated_sql_executes(self, spark, ch, expected_rows):
        st = one(ch)
        rows = [tuple(r) for r in spark.sql(st.spark_sql).collect()]
        if expected_rows is not None:
            assert rows == expected_rows

    def test_start_of_hour_value(self, spark):
        st = one("SELECT toStartOfHour(timestamp'2024-01-02 03:45:11') AS h")
        (row,) = spark.sql(st.spark_sql).collect()
        assert row.h.strftime("%H:%M:%S") == "03:00:00"


class TestTypes:
    @pytest.mark.parametrize(
        "ch,spark_t",
        [
            ("UInt32", T.LongType()),
            ("Nullable(Int64)", T.LongType()),
            ("Array(UInt16)", T.ArrayType(T.IntegerType())),
            ("Map(String, UInt64)", T.MapType(T.StringType(), T.LongType())),
            ("FixedString(16)", T.StringType()),
            ("DateTime", T.TimestampType()),
            ("Decimal(10, 2)", T.DecimalType(10, 2)),
            ("LowCardinality(String)", T.StringType()),
        ],
    )
    def test_ch_to_spark(self, ch, spark_t):
        assert ch_type_to_spark(ch) == spark_t

    def test_reverse_map(self):
        assert spark_type_to_ch(T.LongType()) == "Int64"
        assert spark_type_to_ch(T.StringType(), nullable=True) == "Nullable(String)"
        assert spark_type_to_ch(T.ArrayType(T.IntegerType())) == "Array(Int32)"


class TestDDL:
    def test_reference_memory_table(self):
        # test_suite.py:312 verbatim
        ct = parse_ddl(
            "CREATE TABLE IF NOT EXISTS test_table (id UInt32, name String) ENGINE=Memory"
        )
        assert isinstance(ct, CreateTable)
        assert ct.if_not_exists and ct.engine == "Memory"
        assert [(c.name, c.spark_type) for c in ct.columns] == [
            ("id", T.LongType()),
            ("name", T.StringType()),
        ]

    def test_clickbench_mergetree_clauses(self):
        # trimmed shape of test.yml:49
        ct = parse_ddl(
            "CREATE TABLE hits (WatchID UInt64, EventDate Date, UserID UInt64) "
            "ENGINE = MergeTree() PARTITION BY toYYYYMM(EventDate) "
            "ORDER BY (CounterID, EventDate, intHash32(UserID)) "
            "SAMPLE BY intHash32(UserID) SETTINGS index_granularity = 8192"
        )
        assert ct.engine == "MergeTree"
        assert "toYYYYMM" in ct.partition_by
        assert "intHash32" in ct.order_by
        assert ct.settings.get("index_granularity") == "8192"


class TestBracketRewrites:
    """CH array literals / 1-based subscripts (translate._rewrite_brackets)."""

    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_array_literal(self):
        assert "array(" in self._sql("SELECT [1,2,3] AS a")

    def test_subscript_one_based(self):
        # element_at is 1-based like CH — the index passes through
        assert "element_at(x,1)" in self._sql("SELECT x[1] FROM t")

    def test_string_subscript_map_access(self):
        assert "element_at(m,'a')" in self._sql("SELECT m['a'] FROM t")

    def test_dynamic_subscript(self):
        assert "element_at(x,i+1)" in self._sql("SELECT x[i+1] FROM t")

    def test_negative_subscript(self):
        # CH arr[-1] = last element; element_at matches
        assert "element_at(x,-1)" in self._sql("SELECT x[-1] FROM t")

    def test_nested_literal_then_subscript(self):
        s = self._sql("SELECT [[1,2],[3]][2] AS n")
        assert s.count("array(") == 3 and "element_at(" in s


class TestLimitBy:
    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_limit_by_rewrites_to_window(self):
        s = self._sql("SELECT g, n FROM t ORDER BY g, n LIMIT 2 BY g")
        assert "row_number() OVER (PARTITION BY __ch_lb_k0" in s
        assert "g AS __ch_lb_k0" in s
        assert "__ch_lb <= 2" in s

    def test_limit_by_with_outer_limit(self):
        s = self._sql("SELECT g, n FROM t ORDER BY g LIMIT 2 BY g LIMIT 5")
        assert s.rstrip().endswith("LIMIT 5")

    def test_plain_limit_untouched(self):
        s = self._sql("SELECT g FROM t LIMIT 5")
        assert "row_number" not in s


class TestSampleClause:
    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_fraction_to_percent(self):
        assert "TABLESAMPLE (50.0 PERCENT)" in self._sql("SELECT x FROM t SAMPLE 0.5")

    def test_int_to_rows(self):
        assert "TABLESAMPLE (10 ROWS)" in self._sql("SELECT x FROM t SAMPLE 10")


class TestNewFunctionSpellings:
    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_json_key_to_path(self):
        s = self._sql("SELECT JSONExtractString(j, 'k') FROM t")
        assert "get_json_object(j, concat('$.', 'k'))" in s

    def test_json_extract_int_casts(self):
        assert "AS BIGINT" in self._sql("SELECT JSONExtractInt(j, 'k') FROM t")

    def test_arith_spellings(self):
        s = self._sql("SELECT plus(a, b), divide(a, b), negate(a) FROM t")
        assert "(a + b)" in s and "CAST(a AS DOUBLE) / b" in s and "(-a)" in s

    def test_sha256(self):
        assert "sha2('x', 256)" in self._sql("SELECT sha256('x')")

    def test_dateadd_unit(self):
        assert "timestampadd(day" in self._sql("SELECT dateAdd('day', 3, d) FROM t")


class TestArrayJoin:
    """CH ARRAY JOIN clause (SURVEY §2.3 J8) → explode subquery."""

    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_bare_replaces_column(self):
        s = self._sql("SELECT s, arr FROM t ARRAY JOIN arr")
        assert "EXCEPT (arr)" in s and "explode(arr) AS arr" in s

    def test_alias_keeps_array(self):
        s = self._sql("SELECT s, a, arr FROM t ARRAY JOIN arr AS a")
        assert "SELECT *, explode(arr) AS a" in s

    def test_left_uses_explode_outer(self):
        s = self._sql("SELECT s, a FROM t LEFT ARRAY JOIN arr AS a")
        assert "explode_outer(arr)" in s

    def test_clauses_preserved(self):
        s = self._sql("SELECT s, a FROM t ARRAY JOIN arr AS a WHERE a > 1 ORDER BY s")
        assert "WHERE boolean( a > 1 )" in s and "ORDER BY s" in s


class TestChModifiers:
    """PREWHERE / FINAL / GLOBAL (CH physical hints → exact rewrites)."""

    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_prewhere_merges_into_where(self):
        s = self._sql("SELECT x FROM t PREWHERE a > 1 WHERE b < 2 ORDER BY x")
        assert "WHERE boolean( ( a > 1 ) ) AND boolean( ( b < 2 ) )" in s and "ORDER BY x" in s

    def test_prewhere_alone_becomes_where(self):
        assert "WHERE boolean( a > 1)" in self._sql("SELECT x FROM t PREWHERE a > 1")

    def test_final_passes_through_to_engine(self):
        # FINAL is resolved by the engine (catalog-aware Replacing
        # dedup, test_engine::TestReplacingFinal); translate keeps it
        s = self._sql("SELECT x FROM t FINAL WHERE a = 1")
        assert "FINAL" in s and "WHERE boolean( a = 1)" in s

    def test_global_in_and_join_dropped(self):
        assert "GLOBAL" not in self._sql("SELECT x FROM t WHERE a GLOBAL IN (1, 2)")
        assert "GLOBAL" not in self._sql("SELECT x FROM t GLOBAL JOIN u ON t.k = u.k")


class TestScalarWith:
    """CH scalar WITH bindings inline as expressions; CTEs untouched."""

    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_constant_binding(self):
        s = self._sql("WITH 5 AS factor SELECT number * factor FROM numbers(3)")
        assert "WITH" not in s and "* (5)" in s

    def test_multiple_bindings(self):
        assert "(2) + (3)" in self._sql("WITH 2 AS a, 3 AS b SELECT a + b AS s")

    def test_cte_passthrough(self):
        q = "WITH t AS (SELECT 1 AS x) SELECT x FROM t"
        assert self._sql(q) == q

    def test_expression_binding(self):
        s = self._sql("WITH sum(x) AS total SELECT total FROM tbl")
        assert "(sum(x))" in s


class TestArityAwareRewrites:
    """Shape-dependent rewrites: bare count(), CH decode-style
    transform vs the Spark HOF, toStartOfInterval, tupleElement,
    DISTINCT ON, and LIMIT BY over non-projected keys."""

    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_bare_count(self):
        assert "count(*)" in self._sql("SELECT count() FROM t")

    def test_count_with_arg_untouched(self):
        assert "count(x)" in self._sql("SELECT count(x) FROM t")

    def test_transform_decode_form(self):
        s = self._sql("SELECT transform(x, [1], ['a'], 'z') FROM t")
        assert "element_at(map_from_arrays(array(1), array('a')), x)" in s
        assert "coalesce" in s

    def test_transform_hof_untouched(self):
        s = self._sql("SELECT transform(arr, x -> x + 1) FROM t")
        assert "transform(arr" in s and "map_from_arrays" not in s

    def test_to_start_of_interval_unit(self):
        s = self._sql("SELECT toStartOfInterval(ts, INTERVAL 1 DAY) FROM t")
        assert "date_trunc('day', ts)" in s

    def test_to_start_of_interval_multiple(self):
        s = self._sql("SELECT toStartOfInterval(ts, INTERVAL 15 MINUTE) FROM t")
        assert "/ 900" in s and "* 900" in s

    def test_tuple_element_numeric_and_named(self):
        assert ".col2" in self._sql("SELECT tupleElement((1, 'x'), 2)")
        assert ".name" in self._sql("SELECT tupleElement(t, 'name') FROM u")

    def test_distinct_on_becomes_limit_by(self):
        s = self._sql("SELECT DISTINCT ON (k) a, k FROM t ORDER BY k, a")
        assert "row_number() OVER (PARTITION BY" in s and "<= 1" in s

    def test_limit_by_non_projected_key(self):
        s = self._sql("SELECT a FROM t ORDER BY a LIMIT 1 BY k")
        assert "k AS __ch_lb_k0" in s  # key spliced into the inner select

    def test_readable_size_and_bar(self):
        assert "KiB" in self._sql("SELECT formatReadableSize(n) FROM t")
        assert "repeat('█'" in self._sql("SELECT bar(v, 0, 10, 10) FROM t")


class TestJoinStrictness:
    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_semi_anti_word_order(self):
        assert "LEFT SEMI JOIN" in self._sql("SELECT a FROM x SEMI LEFT JOIN y USING (k)")
        assert "LEFT ANTI JOIN" in self._sql("SELECT a FROM x ANTI LEFT JOIN y USING (k)")

    def test_all_join_dropped_union_all_kept(self):
        s = self._sql("SELECT a FROM x ALL INNER JOIN y USING (k)")
        assert "ALL" not in s.upper().replace("ALL INNER", "")  # ALL gone
        s2 = self._sql("SELECT a FROM x UNION ALL SELECT a FROM y")
        assert "UNION ALL" in s2

    def test_any_join_dedups_right_side(self):
        s = self._sql("SELECT a, b FROM x ANY LEFT JOIN y USING (k)")
        assert "row_number() OVER (PARTITION BY k" in s
        assert "__ch_aj = 1" in s and ") AS y" in s

    def test_any_join_keeps_explicit_alias(self):
        s = self._sql("SELECT a FROM x ANY INNER JOIN y AS z USING (k)")
        assert ") AS z" in s and " AS y" not in s

    def test_asof_sql_form_raises(self):
        import pytest
        from cowsdb_spark.dialect.translate import translate

        with pytest.raises(ValueError, match="ASOF"):
            translate("SELECT a FROM x ASOF JOIN y USING (k)")

    def test_hex_of_hash_idiom(self):
        assert "upper(md5('x'))" in self._sql("SELECT hex(MD5('x'))")
        assert "hex(n)" in self._sql("SELECT hex(n) FROM t")  # plain hex kept


class TestSelectModifiers:
    """CH LIMIT offset,count / * REPLACE / GROUP BY () / combinators."""

    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_limit_comma_is_offset(self):
        s = self._sql("SELECT k FROM t ORDER BY k LIMIT 10, 5")
        assert "LIMIT 5" in s and "OFFSET 10" in s

    def test_star_replace(self):
        s = self._sql("SELECT * REPLACE (v * 2 AS v) FROM t")
        assert "* EXCEPT (v)" in s and "v * 2 AS v" in s

    def test_group_by_empty_parens_dropped(self):
        s = self._sql("SELECT sum(v) FROM t GROUP BY ()")
        assert "GROUP BY" not in s.upper()

    def test_array_combinators(self):
        s = self._sql("SELECT sumArray(a), minArray(a) FROM t")
        assert "aggregate(a" in s and "min(array_min(a))" in s

    def test_if_combinators(self):
        s = self._sql("SELECT anyIf(v, c), uniqExactIf(v, c) FROM t")
        assert "any_value(CASE WHEN c THEN v END, true)" in s
        assert "count(DISTINCT CASE WHEN c THEN v END)" in s

    def test_multisearch(self):
        s = self._sql("SELECT multiSearchAny(s, ['a','b']) FROM t")
        assert "exists(array('a','b'), p -> contains(s, p))" in s


class TestDateFunctionBreadth:
    """Round-4 date/time spellings, executed with expected values."""

    def _run(self, spark, q):
        from cowsdb_spark.dialect.translate import translate

        return [tuple(r) for r in spark.sql(translate(q)[0].spark_sql).collect()]

    def test_iso_week_year(self, spark):
        rows = self._run(
            spark, "SELECT toISOWeek(toDate('2024-01-04')) AS w, toISOYear(toDate('2024-01-04')) AS y"
        )
        assert rows == [(1, 2024)]

    def test_add_subtract_family(self, spark):
        rows = self._run(
            spark,
            "SELECT addWeeks(toDate('2024-01-01'), 2) AS a, "
            "subtractMonths(toDate('2024-03-01'), 1) AS b",
        )
        assert str(rows[0][0]) == "2024-01-15" and str(rows[0][1]) == "2024-02-01"

    def test_format_datetime_strftime(self, spark):
        rows = self._run(
            spark,
            "SELECT formatDateTime(timestamp'2024-03-05 01:02:03', '%Y-%m-%d %H:%M:%S') AS s",
        )
        assert rows == [("2024-03-05 01:02:03",)]

    def test_format_datetime_literal_text_quoted(self, spark):
        rows = self._run(
            spark, "SELECT formatDateTime(toDate('2024-03-05'), '%d of %b') AS s"
        )
        assert rows == [("05 of Mar",)]

    def test_template_arity_guard(self, spark):
        # torelativedaynum emits a plain call; a 2-arg datediff must not
        # be garbled by the 3-arg CH dateDiff template on the next pass
        rows = self._run(spark, "SELECT toRelativeDayNum(toDate('1970-01-10')) AS n")
        assert rows == [(9,)]

    def test_date_name(self, spark):
        rows = self._run(
            spark,
            "SELECT dateName('month', toDate('2024-03-01')) AS m, "
            "dateName('weekday', toDate('2024-03-04')) AS w",
        )
        assert rows == [("March", "Monday")]

    def test_intervals(self, spark):
        rows = self._run(spark, "SELECT toIntervalDay(3) + toDate('2024-01-01') AS d")
        assert str(rows[0][0]).startswith("2024-01-04")


class TestRemoteTableFunctions:
    def _sql(self, q):
        from cowsdb_spark.dialect.translate import translate

        return translate(q)[0].spark_sql

    def test_remote_drops_address(self):
        assert "FROM default.rt" in self._sql(
            "SELECT x FROM remote('127.0.0.1:9000', default, rt)"
        )

    def test_cluster_qualified_form(self):
        assert "FROM default.rt" in self._sql(
            "SELECT x FROM cluster('c', default.rt)"
        )


class TestRound3FunctionBreadth:
    """Value-level checks for the 12 spellings the round-3 gap probe
    found missing, plus the arrayCompact semantics fix."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT replaceOne('aaa','a','b')", b"baa\n"),
            ("SELECT arrayUniq([1,1,2])", b"2\n"),
            ("SELECT arrayCompact([1,1,2,2,1])", b"[1,2,1]\n"),
            ("SELECT bitCount(255)", b"8\n"),
            ("SELECT base64Encode('abc')", b"YWJj\n"),
            ("SELECT base64Decode('YWJj')", b"abc\n"),
            ("SELECT tryBase64Decode('!!bad!!')", b"\n"),
            ("SELECT JSONLength('[1,2,3]')", b"3\n"),
            ('SELECT JSONLength(\'{"a":1,"b":2}\')', b"2\n"),
            ("SELECT toNullable(1)", b"1\n"),
            ("SELECT ifEmpty('', 'x')", b"x\n"),
            ("SELECT ifEmpty('y', 'x')", b"y\n"),
            ("SELECT lowerUTF8('ABC'), upperUTF8('abc')", b"abc\tABC\n"),
            ("SELECT concatWithSeparator('-', 'a', 'b')", b"a-b\n"),
            ("SELECT round(erf(1), 6)", b"0.842701\n"),
            ("SELECT round(erf(-1), 6)", b"-0.842701\n"),
            ("SELECT erf(0)", b"0\n"),
            (
                "SELECT toStartOfFifteenMinutes(toDateTime('2024-01-01 00:07:00'))",
                b"2024-01-01 00:00:00\n",
            ),
            (
                "SELECT toStartOfFiveMinutes(toDateTime('2024-01-01 00:07:00'))",
                b"2024-01-01 00:05:00\n",
            ),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestRound3AggregateBreadth:
    """Second gap sweep: aggregates, parameterized combinators,
    generateRandom, EXCHANGE TABLES."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT countEqual([1,2,2,3], 2)", b"2\n"),
            ("SELECT avgWeighted(number, 2) FROM numbers(10)", b"4.5\n"),
            ("SELECT argMinIf(number, number, number > 2) FROM numbers(10)", b"3\n"),
            ("SELECT argMaxIf(number, number, number < 5) FROM numbers(10)", b"4\n"),
            (
                "SELECT countDistinctIf(number % 3, number > 3) FROM numbers(10)",
                b"3\n",
            ),
            ("SELECT boundingRatio(number, number * 2) FROM numbers(10)", b"2\n"),
            ("SELECT sumWithOverflow(number) FROM numbers(10)", b"45\n"),
            ("SELECT topK(2)(number % 3) FROM numbers(10)", b"[0,1]\n"),
            ("SELECT anyHeavy(intDiv(number, 8)) FROM numbers(10)", b"0\n"),
            ("SELECT round(kurtPop(number % 2), 4) FROM numbers(10)", b"1\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want

    def test_simple_linear_regression(self, eng):
        out = eng.execute(
            "SELECT simpleLinearRegression(number, number * 3 + 1) FROM numbers(10)"
        )
        assert out == b"(3,1)\n"

    def test_generate_random_deterministic_and_bounded(self, eng):
        a = eng.execute("SELECT * FROM generateRandom('a Int64, b String', 7) LIMIT 3")
        b = eng.execute("SELECT * FROM generateRandom('a Int64, b String', 7) LIMIT 3")
        assert a == b and len(a.splitlines()) == 3
        n = eng.execute(
            "SELECT count(*) FROM (SELECT * FROM generateRandom('a Int8', 1) LIMIT 100)"
        )
        assert n == b"100\n"

    def test_exchange_tables(self, eng):
        u = {"user": "xchg"}
        eng.execute("CREATE TABLE ex1 (a Int64) ENGINE=Memory", **u)
        eng.execute("CREATE TABLE ex2 (a Int64) ENGINE=Memory", **u)
        eng.execute("INSERT INTO ex1 VALUES (1)", **u)
        eng.execute("INSERT INTO ex2 VALUES (2)", **u)
        eng.execute("EXCHANGE TABLES ex1 AND ex2", **u)
        assert eng.execute("SELECT * FROM ex1", **u) == b"2\n"
        assert eng.execute("SELECT * FROM ex2", **u) == b"1\n"


class TestQualifyAndAliasScope:
    """Third gap sweep: QUALIFY clause, CH alias-in-WHERE/HAVING
    scoping, view() table function, server-context spellings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT number + 1 AS y FROM numbers(5) WHERE y > 3", b"4\n5\n"),
            (
                "SELECT number * 2 AS d, number AS n FROM numbers(5) "
                "WHERE d >= 6 AND n < 4",
                b"6\t3\n",
            ),
            (
                "SELECT number FROM numbers(10) "
                "QUALIFY row_number() OVER (ORDER BY number) <= 2",
                b"0\n1\n",
            ),
            (
                "SELECT number % 3 AS g, count() AS c FROM numbers(10) "
                "GROUP BY g QUALIFY c > 3 ORDER BY g",
                b"0\t4\n",
            ),
            (
                "SELECT * FROM view(SELECT number FROM numbers(3)) WHERE number > 1",
                b"2\n",
            ),
            ("SELECT FQDN(), hostName()", b"localhost\tlocalhost\n"),
            ("SELECT toModifiedJulianDay('1858-11-17')", b"0\n"),
            ("SELECT fromModifiedJulianDay(0)", b"1858-11-17\n"),
            # scope regressions: real columns and deeper clauses intact
            (
                "SELECT number AS n FROM numbers(5) WHERE number > 2 "
                "ORDER BY n DESC LIMIT 1",
                b"4\n",
            ),
            ("SELECT sum(number) AS s FROM numbers(10) HAVING s > 40", b"45\n"),
            # commas and parens inside literals of the select list
            ("SELECT 'x,y' AS s FROM numbers(2) WHERE s <> ''", b"x,y\nx,y\n"),
            (
                "SELECT '(' AS o, number AS n FROM numbers(3) WHERE n > 0",
                b"(\t1\n(\t2\n",
            ),
            # a paren inside a literal opens no nesting level
            (
                "SELECT ')' AS o, number % 2 AS g FROM numbers(6) "
                "ORDER BY number LIMIT 1 BY g",
                b")\t0\n)\t1\n",
            ),
            ("SELECT '(' AS o, number FROM numbers(5) LIMIT 1, 2", b"(\t1\n(\t2\n"),
            (
                "SELECT '(' AS o, number FROM numbers(3) "
                "QUALIFY row_number() OVER (ORDER BY number) <= 1",
                b"(\t0\n",
            ),
            (
                "SELECT '(' AS o, number % 2 AS g, count() AS c FROM numbers(4) "
                "GROUP BY o, g WITH TOTALS ORDER BY g",
                b"(\t0\t2\n(\t1\t2\n\n\t0\t4\n",
            ),
            # array and map literals and subscripts: earlier rewrites
            # leave "array(", "map(" and "element_at(x" as one token
            (
                "SELECT [number, 1] AS a, number AS n FROM numbers(3) WHERE n > 0",
                b"[1,1]\t1\n[2,1]\t2\n",
            ),
            (
                "SELECT {'k': number} AS m, number AS n FROM numbers(3) WHERE n > 0",
                b"{'k':1}\t1\n{'k':2}\t2\n",
            ),
            (
                "SELECT number, [number % 2] AS arr FROM numbers(4) "
                "ORDER BY number LIMIT 1 BY arr[1]",
                b"0\t[0]\n1\t[1]\n",
            ),
            (
                "SELECT number, [number % 2] AS arr FROM numbers(4) "
                "ORDER BY arr[1], number LIMIT 1 BY arr[1]",
                b"0\t[0]\n1\t[1]\n",
            ),
            ("SELECT * REPLACE ([number] AS number) FROM numbers(2)", b"[0]\n[1]\n"),
            (
                "SELECT number FROM numbers(6) WHERE (number, [1]) IN ((1, [1]), (4, [1]))",
                b"1\n4\n",
            ),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestSchemaMacrosAndTies:
    """Fourth gap sweep: * APPLY, COLUMNS('re'), LIMIT WITH TIES,
    map-valued aggregates."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            (
                "SELECT * APPLY (sum) FROM "
                "(SELECT number AS a, number * 2 AS b FROM numbers(3))",
                b"3\t6\n",
            ),
            (
                "SELECT COLUMNS('^a') FROM (SELECT number AS a1, "
                "number AS a2, number AS b FROM numbers(1))",
                b"0\t0\n",
            ),
            (
                "SELECT COLUMNS('^a'), b FROM "
                "(SELECT number AS a1, number AS b FROM numbers(1))",
                b"0\t0\n",
            ),
            # idents named like the macros must pass through untouched
            ("SELECT number AS apply FROM numbers(1)", b"0\n"),
            (
                "SELECT number FROM numbers(10) ORDER BY number % 3 "
                "LIMIT 2 WITH TIES",
                b"0\n3\n6\n9\n",
            ),
            (
                "SELECT sumMap(map(number % 3, number)) FROM numbers(10)",
                b"{0:18,1:12,2:15}\n",
            ),
            (
                "SELECT minMap(map(number % 2, number)) FROM numbers(6)",
                b"{0:0,1:1}\n",
            ),
            (
                "SELECT maxMap(map(number % 2, number)) FROM numbers(6)",
                b"{0:4,1:5}\n",
            ),
            ("SELECT round(entropy(number % 4), 6) FROM numbers(16)", b"2\n"),
            ("SELECT entropy(number - number) FROM numbers(8)", b"0\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestRound3DateTimeBreadth:
    """Fifth gap sweep: date/time spellings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            (
                "SELECT toStartOfSecond(toDateTime('2024-01-01 01:02:03'))",
                b"2024-01-01 01:02:03\n",
            ),
            (
                "SELECT toTime(toDateTime('2024-05-10 13:14:15'))",
                b"1970-01-02 13:14:15\n",
            ),
            (
                "SELECT toUnixTimestamp64Milli(toDateTime('1970-01-01 00:00:01'))",
                b"1000\n",
            ),
            ("SELECT timeZone()", b"UTC\n"),
            ("SELECT toLastDayOfWeek(toDate('2024-01-10'))", b"2024-01-14\n"),
            ("SELECT toYYYYMMDD(toDate('2024-01-10'))", b"20240110\n"),
            (
                "SELECT toYYYYMMDDhhmmss(toDateTime('2024-01-10 01:02:03'))",
                b"20240110010203\n",
            ),
            (
                "SELECT toRelativeHourNum(toDateTime('1970-01-01 05:00:00'))",
                b"5\n",
            ),
            ("SELECT toDaysSinceYearZero(toDate('1970-01-01'))", b"719528\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestRound3StringBreadth:
    """Sixth gap sweep: string / JSON / map spellings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT substringIndex('a.b.c', '.', 2)", b"a.b\n"),
            ("SELECT splitByRegexp('[,;]', 'a,b;c')", b"['a','b','c']\n"),
            ("SELECT splitByWhitespace('a  b c')", b"['a','b','c']\n"),
            ("SELECT tokens('a,b!!c d')", b"['a','b','c','d']\n"),
            ("SELECT ngrams('abcd', 2)", b"['ab','bc','cd']\n"),
            ("SELECT ngrams('a', 3)", b"[]\n"),
            ("SELECT format('{} and {}', 'a', 'b')", b"a and b\n"),
            ("SELECT arrayStringConcat(['a','b'])", b"ab\n"),
            ("SELECT arrayStringConcat(['a','b'], '-')", b"a-b\n"),
            ("SELECT mid('hello', 2, 3)", b"ell\n"),
            (
                'SELECT isValidJSON(\'{"a":1}\'), isValidJSON(\'nope{\')',
                b"true\tfalse\n",
            ),
            ('SELECT JSONExtractKeys(\'{"a":1,"b":2}\')', b"['a','b']\n"),
            ("SELECT JSONArrayLength('[1,2]')", b"2\n"),
            ("SELECT mapContains(map('a', 1), 'a')", b"true\n"),
            ("SELECT mapFromArrays(['a'], [1])", b"{'a':1}\n"),
            # String byteSize = length + 9 (CH's varint-prefixed
            # layout; sweep 12 replaced the bare octet_length mapping)
            ("SELECT byteSize('abc')", b"12\n"),
            ("SELECT toDecimalString(3.14159, 2)", b"3.14\n"),
            (
                "SELECT normalizeQuery('SELECT 12, ''x'' FROM t')",
                b"SELECT ?, ? FROM t\n",
            ),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestRound3HashBitGeoBreadth:
    """Seventh gap sweep: hash / bit / geo / IPv4 / random families.
    Hash stand-ins are stable uniform hashes, not CH-bit-identical
    (documented in functions.py); values here test OUR semantics."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT bitTest(5, 0), bitTest(5, 1)", b"1\t0\n"),
            ("SELECT bitTestAll(5, 0, 2), bitTestAll(5, 0, 1)", b"1\t0\n"),
            ("SELECT bitTestAny(5, 1), bitTestAny(5, 0, 1)", b"0\t1\n"),
            ("SELECT bitHammingDistance(5, 6)", b"2\n"),
            ("SELECT bitRotateLeft(1, 2), bitRotateRight(4, 2)", b"4\t1\n"),
            ("SELECT javaHash('hello')", b"99162322\n"),  # Java String.hashCode
            (
                "SELECT round(greatCircleDistance(0.0, 0.0, 0.0, 1.0) / 1000)",
                b"111\n",
            ),
            (
                "SELECT pointInEllipses(0.5, 0.0, 0.0, 0.0, 1.0, 1.0), "
                "pointInEllipses(2.0, 0.0, 0.0, 0.0, 1.0, 1.0)",
                b"1\t0\n",
            ),
            ("SELECT IPv4NumToString(16909060)", b"1.2.3.4\n"),
            ("SELECT IPv4StringToNum('1.2.3.4')", b"16909060\n"),
            (
                "SELECT isIPv4String('1.2.3.4'), isIPv4String('999.1.1.1'), "
                "isIPv4String('x')",
                b"1\t0\t0\n",
            ),
            ("SELECT length(randomString(10))", b"10\n"),
            (
                "SELECT length(SHA1('x')), length(SHA224('x')), length(SHA512('x'))",
                b"20\t28\t64\n",
            ),
            ("SELECT crc32('x') > 0", b"true\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestRound3ArrayBreadth:
    """Eighth gap sweep: array family deep cuts."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT arrayCumSum([1,2,3])", b"[1,3,6]\n"),
            ("SELECT arrayDifference([1,4,9])", b"[0,3,5]\n"),
            ("SELECT arrayEnumerateUniq([10,20,10])", b"[1,1,2]\n"),
            ("SELECT arrayFold((acc, x) -> acc + x, [1,2,3], 0)", b"6\n"),
            ("SELECT arrayMin([3,1,2]), arrayMax([3,1,2])", b"1\t3\n"),
            ("SELECT arrayProduct([2,3,4])", b"24\n"),
            ("SELECT arrayLast(x -> x < 3, [1,2,3])", b"2\n"),
            ("SELECT arrayReverseSort([1,3,2])", b"[3,2,1]\n"),
            (
                "SELECT arrayPopBack([1,2,3]), arrayPopFront([1,2,3])",
                b"[1,2]\t[2,3]\n",
            ),
            ("SELECT arrayPopFront([7])", b"[]\n"),
            (
                "SELECT arrayResize([1,2], 4, 0), arrayResize([1,2,3], 2, 0)",
                b"[1,2,0,0]\t[1,2]\n",
            ),
            ("SELECT arrayWithConstant(3, 'x')", b"['x','x','x']\n"),
            ("SELECT round(arrayJaccardIndex([1,2], [2,3]), 4)", b"0.3333\n"),
            (
                "SELECT arrayRotateLeft([1,2,3], 1), arrayRotateRight([1,2,3], 1)",
                b"[2,3,1]\t[3,1,2]\n",
            ),
            ("SELECT arraySymmetricDifference([1,2],[2,3])", b"[1,3]\n"),
            ("SELECT hasAll([1,2,3],[1,2]), hasAll([1,2],[3])", b"true\tfalse\n"),
            ("SELECT hasAny([1,2],[3,2]), hasAny([1],[2])", b"true\tfalse\n"),
            (
                "SELECT hasSubstr([1,2,3],[2,3]), hasSubstr([1,2,3],[1,3])",
                b"true\tfalse\n",
            ),
            ("SELECT indexOfAssumeSorted([1,2,3], 2)", b"2\n"),
            ("SELECT countMatches('a1b22c', '[0-9]+')", b"2\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestGroupByFdeps:
    """Functional-dependency GROUP BY key elimination (ClickBench Q35
    family: derived arithmetic keys widen the shuffle row for nothing).
    The translator is the only layer that drops GROUP BY keys."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine
        from cowsdb_spark.localdf import local_df

        rows = [
            ("a", "u1", 1, "mm"),
            ("a", "u2", 2, "zz"),
            ("b", "u1", 3, "aa"),
            (None, "u3", 4, "(where group"),  # NULL group key
            (None, "u3", 5, "order by"),
            ("b", None, 6, "group by"),
        ]
        local_df(spark, rows, "k string, s string, n long, v string").createOrReplaceTempView(
            "fdep_kv"
        )
        spark.range(0, 1000, 1, 8).selectExpr("id % 10 AS k").createOrReplaceTempView(
            "fdep_nd"
        )
        return Engine(spark)

    @staticmethod
    def _rows(df):
        return sorted(map(tuple, df.collect()), key=str)

    def test_derived_keys_dropped(self):
        st = one(
            "SELECT ClientIP, ClientIP - 1 AS m1, COUNT(*) AS c FROM hits "
            "GROUP BY ClientIP, ClientIP - 1, ClientIP - 2, ClientIP - 3 "
            "ORDER BY c DESC LIMIT 10"
        )
        gb = st.spark_sql.split("GROUP BY")[1].split("ORDER BY")[0]
        assert gb.replace(" ", "") == "ClientIP"

    def test_ordinals_untouched(self):
        st = one("SELECT 1 AS one, URL, COUNT(*) AS c FROM t GROUP BY 1, URL")
        assert "GROUP BY 1, URL" in st.spark_sql

    def test_function_calls_untouched(self):
        st = one("SELECT k, f(k) FROM t GROUP BY k, f(k)")
        assert "f(k)" in st.spark_sql.split("GROUP BY")[1]

    def test_foreign_column_untouched(self):
        st = one("SELECT a, b - 1 FROM t GROUP BY a, b - 1")
        assert "b - 1" in st.spark_sql.split("GROUP BY")[1]

    def test_values_identical(self, spark):
        from cowsdb_spark.engine import Engine

        eng = Engine(spark)
        spark.range(0, 1000).selectExpr(
            "CAST(id % 37 AS BIGINT) AS ClientIP"
        ).createOrReplaceTempView("fdep_t")
        got = eng.execute_to_df(
            "SELECT ClientIP, ClientIP - 1 AS m1, COUNT(*) AS c FROM fdep_t "
            "GROUP BY ClientIP, ClientIP - 1 ORDER BY c DESC, ClientIP LIMIT 5"
        )[0].collect()
        want = spark.sql(
            "SELECT ClientIP, ClientIP - 1 AS m1, COUNT(*) AS c FROM fdep_t "
            "GROUP BY ClientIP, ClientIP - 1 ORDER BY c DESC, ClientIP LIMIT 5"
        ).collect()
        assert got == want

    def test_cb35_through_engine_matches(self, spark):
        # cb35 on the hits table: grouping runs on ClientIP alone, and
        # the rows equal raw Spark's
        from cowsdb_spark.engine import Engine

        from tools.gen_hits import ensure_hits

        spark.read.parquet(ensure_hits()).createOrReplaceTempView("hits")
        eng = Engine(spark)
        sql = (
            "SELECT ClientIP, ClientIP - 1 AS m1, ClientIP - 2 AS m2, "
            "ClientIP - 3 AS m3, COUNT(*) AS c FROM hits GROUP BY ClientIP, "
            "ClientIP - 1, ClientIP - 2, ClientIP - 3 "
            "ORDER BY c DESC, ClientIP LIMIT 10"
        )
        df = eng.execute_to_df(sql)[0]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(ClientIP" in plan
        assert "ClientIP - 1" not in plan.split("Exchange")[1].split("\n")[0]
        base = [tuple(r) for r in spark.sql(sql).collect()]
        assert [tuple(r) for r in df.collect()] == base

    @pytest.mark.parametrize(
        "sql",
        [
            # a '(' or clause keyword inside a literal
            "SELECT k, k || 'x' AS kx, COUNT(*) AS c "
            "FROM fdep_kv WHERE v <> '(from group' GROUP BY k, k || 'x'",
            # a NULL group key next to a function of it
            "SELECT k, upper(k) AS ku, COUNT(*) AS c, COUNT(DISTINCT s) AS u "
            "FROM fdep_kv GROUP BY k, upper(k) ORDER BY k",
            # an ordinal next to plain and derived keys
            "SELECT k, s, concat(k, s) AS ks, MIN(v) AS mv, "
            "COUNT(DISTINCT n) AS u FROM fdep_kv "
            "GROUP BY 1, s, concat(k, s) ORDER BY k, s",
            # a per-row nondeterministic key must not merge groups
            "SELECT k, k + spark_partition_id() AS p, COUNT(*) AS c "
            "FROM fdep_nd GROUP BY k, k + spark_partition_id()",
        ],
        ids=["literal_parens", "null_key", "ordinal", "partition_id"],
    )
    def test_engine_rows_match_spark(self, spark, eng, sql):
        got = eng.execute_to_df(sql)[0]
        assert self._rows(got) == self._rows(spark.sql(sql))

    @staticmethod
    def _perturb(sql, rng):
        import re as _re

        out = []
        for tok in _re.split(r"(\s+|'[^']*')", sql):
            if tok.startswith("'"):
                out.append(tok)
            elif tok.isspace():
                out.append(" " * rng.randint(1, 3) if rng.random() < 0.5 else tok)
            elif rng.random() < 0.4:
                out.append(
                    "".join(
                        c.upper() if rng.random() < 0.5 else c.lower()
                        for c in tok
                    )
                )
            else:
                out.append(tok)
        return "".join(out)

    def test_fuzzed_shapes_match_base(self, spark, eng):
        # random keyword casing, whitespace, alias spellings and
        # clause-keyword-bearing string literals never change the
        # translated statement's rows
        import random

        templates = [
            "SELECT k, MIN(v) AS mv, COUNT(*) AS c, COUNT(DISTINCT s) AS u "
            "FROM fdep_kv GROUP BY k ORDER BY k",
            "SELECT k, n % 2 AS parity, MIN(v) AS mv, COUNT(DISTINCT s) AS u "
            "FROM fdep_kv GROUP BY k, n % 2 ORDER BY k, parity",
            "SELECT k, k AS k2, COUNT(*) AS c FROM fdep_kv "
            "WHERE v <> 'group by' GROUP BY k, k ORDER BY k",
            "SELECT n, n + 1 AS np, n + 2 AS np2, COUNT(*) AS c "
            "FROM fdep_kv GROUP BY n, n + 1, n + 2 ORDER BY n",
        ]
        rng = random.Random(42)
        for base_sql in templates:
            base = self._rows(spark.sql(base_sql))
            for _ in range(6):
                fuzzed = self._perturb(base_sql, rng)
                got = self._rows(eng.execute_to_df(fuzzed)[0])
                assert got == base, fuzzed


class TestSmallScanFastPath:
    """Small inputs plan statically (no AdaptiveSparkPlan); the session
    AQE conf is restored afterwards (Engine.execute_to_df)."""

    def test_static_plan_and_conf_restored(self, spark):
        from cowsdb_spark.engine import Engine

        eng = Engine(spark)
        before_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.range(0, 100).createOrReplaceTempView("fp_small")
        df = eng.execute_to_df(
            "SELECT id % 3 AS k, COUNT(*) AS c FROM fp_small GROUP BY id % 3"
        )[0]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" not in plan
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        # shuffle width is statically sized to the input (1 partition
        # for a 100-row table), then the session conf is restored
        assert ", 1)," in plan or "Exchange" not in plan
        assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
        assert df.count() == 3


class TestAdviceFixes:
    """Value-level locks for the round-3 advisor findings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    # hasSubstr: needle longer than haystack must be 0, not a
    # sequence/slice runtime error (sequence(1,0) is DESCENDING)
    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT hasSubstr([1,2], [1,2,3]) AS r", b"false\n"),
            ("SELECT hasSubstr([1,2,3], [2,3]) AS r", b"true\n"),
            ("SELECT hasSubstr([1,2,3], []) AS r", b"true\n"),
            # arrayLastIndex: LAST matching position, not the first
            # position of the last matching value
            ("SELECT arrayLastIndex(x -> x = 1, [1,2,1]) AS r", b"3\n"),
            ("SELECT arrayLastIndex(x -> x > 5, [1,2,1]) AS r", b"0\n"),
            ("SELECT arrayLastIndex(x -> x = 1, CAST([] AS ARRAY<INT>)) AS r", b"0\n"),
            ("SELECT arrayLastIndex(x -> x % 2 = 0, [2,4,6,7]) AS r", b"3\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want

    # WHERE-alias resolution must work inside parens and calls, not
    # just at paren depth 0
    @pytest.mark.parametrize(
        "where",
        ["y > 3", "(y > 3)", "abs(y) > 3", "((y) > 3)", "abs(y + 0) > 3"],
    )
    def test_where_alias_any_depth(self, eng, where):
        got = eng.execute(
            f"SELECT number * 2 AS y FROM numbers(5) WHERE {where} ORDER BY y"
        )
        assert got == b"4\n6\n8\n", (where, got)

    def test_where_alias_lambda_scope_untouched(self, eng):
        # alias y must NOT be substituted into the lambda that binds y
        got = eng.execute(
            "SELECT number + 10 AS y FROM numbers(3) "
            "WHERE arrayExists(y -> y = 99, [99]) ORDER BY y"
        )
        assert got == b"10\n11\n12\n"

    def test_ivf_cache_bounded(self):
        from cowsdb_spark.operators import dedup

        dedup._IVF_INDEX_CACHE.clear()
        for k in range(dedup._IVF_INDEX_CACHE_MAX + 3):
            dedup._IVF_INDEX_CACHE[(k, 8)] = (None, None, None, None)
            while len(dedup._IVF_INDEX_CACHE) > dedup._IVF_INDEX_CACHE_MAX:
                dedup._IVF_INDEX_CACHE.popitem(last=False)
        assert len(dedup._IVF_INDEX_CACHE) <= dedup._IVF_INDEX_CACHE_MAX
        dedup._IVF_INDEX_CACHE.clear()


class TestCombinatorAlgebra:
    """General stackable aggregate-combinator suffixes
    (-If/-Array/-Distinct/-OrNull/-OrDefault) — round-4 sweep item.
    Spellings here have NO explicit table entry; they exercise the
    suffix parser + expression rebuild in functions.expand_combinator."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT anyIf(number, number > 2) AS r FROM numbers(5)", b"3\n"),
            ("SELECT maxIf(number, number < 3) AS r FROM numbers(10)", b"2\n"),
            ("SELECT uniqExactIf(number % 3, number > 0) AS r FROM numbers(10)", b"3\n"),
            ("SELECT sumArray([1,2,3]) AS r", b"6\n"),
            ("SELECT minArray([5,1,9]) AS r", b"1\n"),
            ("SELECT maxArray([5,1,9]) AS r", b"9\n"),
            ("SELECT countArray([1,2,3]) AS r", b"3\n"),
            ("SELECT avgArray([2,4]) AS r", b"3\n"),
            (
                "SELECT groupArrayArray(x) AS r FROM "
                "(SELECT [number, number+10] AS x FROM numbers(2))",
                b"[0,10,1,11]\n",
            ),
            (
                "SELECT uniqExactArray(x) AS r FROM "
                "(SELECT [number % 2, 1] AS x FROM numbers(4))",
                b"2\n",
            ),
            ("SELECT sumDistinct(number % 3) AS r FROM numbers(9)", b"3\n"),
            ("SELECT avgDistinct(number % 2) AS r FROM numbers(8)", b"0.5\n"),
            # empty-set spellings: -OrNull → NULL, -OrDefault → 0
            ("SELECT countIfOrNull(number > 100) AS r FROM numbers(5)", b"\\N\n"),
            ("SELECT sumIfOrDefault(number, number > 100) AS r FROM numbers(5)", b"0\n"),
            ("SELECT sumIfOrNull(number, number > 2) AS r FROM numbers(5)", b"7\n"),
            ("SELECT minIfOrDefault(number, number > 100) AS r FROM numbers(5)", b"0\n"),
            ("SELECT groupArrayIf(number, number > 2) AS r FROM numbers(5)", b"[3,4]\n"),
            ("SELECT groupUniqArrayIf(number % 2, number > 0) AS r FROM numbers(5)", b"[0,1]\n"),
            # -Array stacked with -If: row filter THEN element fold
            (
                "SELECT sumArrayIf(x, number > 0) AS r FROM "
                "(SELECT number, [number, number] AS x FROM numbers(3))",
                b"6\n",
            ),
            ("SELECT stddevPopIf(number, number < 2) AS r FROM numbers(10)", b"0.5\n"),
            # multi-arg bases filter every argument
            ("SELECT argMinIf(number, number % 3, number > 0) AS r FROM numbers(6)", b"3\n"),
            ("SELECT avgWeightedIf(number, 1, number >= 4) AS r FROM numbers(6)", b"4.5\n"),
            ("SELECT medianIf(number, number < 5) AS r FROM numbers(100)", b"2\n"),
            ("SELECT groupArrayOrNull(number) AS r FROM numbers(3) WHERE number > 99", b"\\N\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want

    def test_unknown_base_untouched(self):
        from cowsdb_spark.dialect.functions import parse_combinator

        assert parse_combinator("notif") is None          # base not an agg
        assert parse_combinator("sum") is None            # no suffix
        assert parse_combinator("summap") is None         # -Map not algebraic
        # sweep 28 added the value-state surface
        assert parse_combinator("sumstate") == ("sum", ["state"])
        assert parse_combinator("sumarrayornull") == ("sum", ["array", "ornull"])
        assert parse_combinator("uniqexactif") == ("uniqexact", ["if"])


class TestSweep9:
    """Round-4 sweep 9: URL family, simpleJSON aliases, UUID, tuple
    positional access, CH types in query-side CAST, server misc.
    Found by a probe sweep; each row is CH-documented behavior."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            # tuple positional access + CH CAST types
            ("SELECT tuple(1, 2).1 AS r", b"1\n"),
            ("SELECT tuple('x', 'y').2 AS r", b"y\n"),
            ("SELECT CAST(NULL AS Nullable(Int32)) AS r", b"\\N\n"),
            ("SELECT CAST('7' AS Nullable(UInt16)) AS r", b"7\n"),
            ("SELECT CAST(3.9 AS Int64) AS r", b"3\n"),
            # math
            ("SELECT gcd(12, 18) AS r", b"6\n"),
            ("SELECT gcd(17, 5) AS r", b"1\n"),
            ("SELECT lcm(4, 6) AS r", b"12\n"),
            ("SELECT lcm(0, 5) AS r", b"0\n"),
            ("SELECT roundBankers(2.5) AS r", b"2\n"),
            ("SELECT roundBankers(3.5) AS r", b"4\n"),
            ("SELECT truncate(3.77, 1) AS r", b"3.7\n"),
            ("SELECT truncate(-3.77, 1) AS r", b"-3.7\n"),
            ("SELECT isZeroOrNull(0) AS r", b"true\n"),
            ("SELECT isZeroOrNull(5) AS r", b"false\n"),
            ("SELECT countDigits(1234) AS r", b"4\n"),
            ("SELECT countDigits(-50) AS r", b"2\n"),
            # strings / misc
            ("SELECT char(72, 105) AS r", b"Hi\n"),
            ("SELECT monthName(toDate('2024-03-05')) AS r", b"March\n"),
            ("SELECT identity(42) AS r", b"42\n"),
            ("SELECT materialize(42) AS r", b"42\n"),
            ("SELECT ignore(1, 'x') AS r", b"0\n"),
            ("SELECT sleep(0) AS r", b"0\n"),
            ("SELECT indexHint(1 = 2) AS r", b"true\n"),
            ("SELECT isConstant(1 + 2) AS r", b"1\n"),
            # the value's embedded TAB/newline come back TSV-escaped
            ("SELECT formatRow('TSV', 1, 'a') AS r", b"1\\ta\\n\n"),
            # timestampAdd 2-arg (CH form) and 3-arg (dateAdd fixpoint)
            (
                "SELECT timestampAdd(toDateTime('2024-01-01 00:00:00'), INTERVAL 1 HOUR) AS r",
                b"2024-01-01 01:00:00\n",
            ),
            (
                "SELECT timestampSub(toDateTime('2024-01-01 01:00:00'), INTERVAL 1 HOUR) AS r",
                b"2024-01-01 00:00:00\n",
            ),
            # bit aggregates + sumCount
            ("SELECT groupBitAnd(x) AS r FROM (SELECT 6 AS x UNION ALL SELECT 7)", b"6\n"),
            ("SELECT groupBitOr(x) AS r FROM (SELECT 4 AS x UNION ALL SELECT 1)", b"5\n"),
            ("SELECT groupBitXor(x) AS r FROM (SELECT 5 AS x UNION ALL SELECT 3)", b"6\n"),
            ("SELECT sumCount(x) AS r FROM (SELECT number AS x FROM numbers(4))", b"(6,4)\n"),
            ("SELECT deltaSum(x) AS r FROM (SELECT number AS x FROM numbers(5))", b"4\n"),
            # URL family
            (
                "SELECT extractURLParameters('http://x.y/a?q=1&w=2') AS r",
                b"['q=1','w=2']\n",
            ),
            ("SELECT netloc('http://u:p@x.y:8080/a') AS r", b"u:p@x.y:8080\n"),
            ("SELECT decodeURLComponent('a%20b+c') AS r", b"a b+c\n"),
            ("SELECT encodeURLComponent('a b') AS r", b"a%20b\n"),
            (
                "SELECT firstSignificantSubdomain('http://news.example.com.cn/a') AS r",
                b"example\n",
            ),
            (
                "SELECT firstSignificantSubdomain('http://a.b.site.org/x') AS r",
                b"site\n",
            ),
            (
                "SELECT cutToFirstSignificantSubdomain('http://a.b.example.com/x') AS r",
                b"example.com\n",
            ),
            (
                "SELECT URLPathHierarchy('http://x.y/a/b') AS r",
                b"['/a/','/a/b']\n",
            ),
            (
                "SELECT URLHierarchy('http://x.y/a/b') AS r",
                b"['http://x.y/','http://x.y/a/','http://x.y/a/b']\n",
            ),
            # UUID
            (
                "SELECT toUUID('61F0C404-5CB3-11E7-907B-A6006AD3DBA0') AS r",
                b"61f0c404-5cb3-11e7-907b-a6006ad3dba0\n",
            ),
            (
                "SELECT UUIDNumToString(UUIDStringToNum('61f0c404-5cb3-11e7-907b-a6006ad3dba0')) AS r",
                b"61f0c404-5cb3-11e7-907b-a6006ad3dba0\n",
            ),
            # simpleJSON / visitParam aliases + JSONType
            ("SELECT simpleJSONExtractInt('{\"a\": 5}', 'a') AS r", b"5\n"),
            ("SELECT simpleJSONExtractString('{\"a\": \"x\"}', 'a') AS r", b"x\n"),
            ("SELECT simpleJSONHas('{\"a\": 1}', 'a') AS r", b"true\n"),
            ("SELECT visitParamExtractInt('{\"a\": 5}', 'a') AS r", b"5\n"),
            ("SELECT JSONType('{\"a\":1}') AS r", b"Object\n"),
            ("SELECT JSONType('[1]') AS r", b"Array\n"),
            ("SELECT JSONType('3.5') AS r", b"Double\n"),
            # readable formatting
            (
                "SELECT formatReadableTimeDelta(90) AS r",
                b"1 minute, 30 seconds\n",
            ),
            (
                "SELECT formatReadableTimeDelta(3661) AS r",
                b"1 hour, 1 minute, 1 second\n",
            ),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want

    def test_current_user_is_session_user(self, eng):
        assert eng.execute("SELECT currentUser() AS r") == b"default\n"
        assert eng.execute("SELECT currentUser() AS r", user="alice") == b"alice\n"

    def test_row_number_in_all_blocks(self, eng):
        assert eng.execute(
            "SELECT rowNumberInAllBlocks() AS r FROM numbers(3)"
        ) == b"0\n1\n2\n"


class TestSweep10:
    """Round-4 sweep 10: quantified comparisons, tuple-IN, interval
    rendering, string distance, bitmask expansion, codec UDFs."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            # quantified comparisons
            (
                "SELECT number FROM numbers(5) WHERE number > ALL (SELECT number FROM numbers(3)) ORDER BY number",
                b"3\n4\n",
            ),
            (
                "SELECT number FROM numbers(5) WHERE number < ALL (SELECT number + 2 FROM numbers(3)) ORDER BY number",
                b"0\n1\n",
            ),
            (
                "SELECT number FROM numbers(5) WHERE number >= ANY (SELECT number + 3 FROM numbers(2)) ORDER BY number",
                b"3\n4\n",
            ),
            (
                "SELECT number FROM numbers(4) WHERE number = ANY (SELECT number * 2 FROM numbers(2)) ORDER BY number",
                b"0\n2\n",
            ),
            (
                "SELECT number FROM numbers(4) WHERE number != ALL (SELECT number FROM numbers(2)) ORDER BY number",
                b"2\n3\n",
            ),
            # tuple IN tuple-list
            (
                "SELECT number FROM numbers(3) WHERE (number, number * 2) IN ((1, 2), (5, 10)) ORDER BY number",
                b"1\n",
            ),
            # tuple IN subquery stays on Spark's native path
            (
                "SELECT number FROM numbers(4) WHERE (number, number) IN (SELECT number, number FROM numbers(2)) ORDER BY number",
                b"0\n1\n",
            ),
            # interval rendering: Date − Date is days; sub-day is seconds
            ("SELECT toDate('2024-03-05') - toDate('2024-03-01') AS r", b"4\n"),
            ("SELECT toDate('2024-01-31') + INTERVAL 1 MONTH AS r", b"2024-02-29\n"),
            # string distance
            ("SELECT editDistance('kitten', 'sitting') AS r", b"3\n"),
            ("SELECT levenshteinDistance('abc', 'abd') AS r", b"1\n"),
            ("SELECT damerauLevenshteinDistance('abc', 'acb') AS r", b"1\n"),
            ("SELECT round(stringJaccardIndex('abc', 'bcd'), 2) AS r", b"0.5\n"),
            # bitmask expansion
            ("SELECT bitmaskToArray(10) AS r", b"[2,8]\n"),
            ("SELECT bitmaskToList(10) AS r", b"2,8\n"),
            ("SELECT bitPositionsToArray(10) AS r", b"[1,3]\n"),
            # codecs (python-UDF backed, register at engine init)
            ("SELECT base58Encode('abc') AS r", b"ZiCa\n"),
            ("SELECT base58Decode('ZiCa') AS r", b"abc\n"),
            ("SELECT base32Encode('abc') AS r", b"MFRGG===\n"),
            ("SELECT base32Decode('MFRGG===') AS r", b"abc\n"),
            ("SELECT punycodeDecode(punycodeEncode('abc')) AS r", b"abc\n"),
            # defaults
            ("SELECT defaultValueOfTypeName('Int32') AS r", b"0\n"),
            ("SELECT defaultValueOfTypeName('String') AS r", b"\n"),
            ("SELECT defaultValueOfTypeName('Date') AS r", b"1970-01-01\n"),
            # named windows
            (
                "SELECT number, row_number() OVER w AS r FROM numbers(3) WINDOW w AS (ORDER BY number) ORDER BY number",
                b"0\t1\n1\t2\n2\t3\n",
            ),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestMapLiterals:
    """CH map literal syntax {'k': v, ...} → map(); distinguished from
    {name:Type} query parameters by the literal first member."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT {'a': 1, 'b': 2} AS m", b"{'a':1,'b':2}\n"),
            ("SELECT {'a': 1}['a'] AS v", b"1\n"),
            ("SELECT {1: 'one', 2: 'two'}[2] AS v", b"two\n"),
            ("SELECT mapKeys({'x': 10, 'y': 20}) AS k", b"['x','y']\n"),
            # nested map values
            ("SELECT {'x': {'inner': 5}}['x']['inner'] AS v", b"5\n"),
            # JSON text in a string literal is untouched
            ("SELECT '{\"a\": 1}' AS s", b'{"a": 1}\n'),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want


class TestSweep11FunctionBreadth:
    """Value-level checks for the round-4 sweep-11 additions: window-misc
    (neighbor/runningDifference), multiset n-gram distance, multi-search
    and multi-match, map HOFs, extractGroups family, arrayReduce,
    radix literals, OFFSET/FETCH, VALUES table function, sequence
    aggregates, t-tests, snowflake IDs, geohash, point-in-polygon."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT positionCaseInsensitive('Hello','hel')", b"1\n"),
            ("SELECT arrayEnumerateDense([10,20,10])", b"[1,2,1]\n"),
            ("SELECT arrayReduce('sum', [1,2,3])", b"6\n"),
            ("SELECT arrayReduce('max', [3,1,2])", b"3\n"),
            ("SELECT arrayReduce('median', [3,1,2])", b"2\n"),
            ("SELECT multiSearchFirstIndex('hello', ['xx','ell'])", b"2\n"),
            ("SELECT multiSearchFirstPosition('hello world', ['wor','ello'])", b"2\n"),
            ("SELECT multiSearchAllPositions('hello', ['l','x'])", b"[3,0]\n"),
            ("SELECT multiMatchAny('hello', ['^x', 'l+o$'])", b"true\n"),
            ("SELECT multiMatchAnyIndex('hello', ['^x', 'l+o$'])", b"2\n"),
            # CH docs example: ngramDistance('ClickHouse','House')=0.5555556
            ("SELECT round(ngramDistance('ClickHouse','House'), 4)", b"0.5556\n"),
            ("SELECT ngramSearch('ClickHouse','House')", b"1\n"),
            ("SELECT extractAll('a1b22c', '[0-9]+')", b"['1','22']\n"),
            ("SELECT extractAll('a1b22c', '([0-9])[0-9]*')", b"['1','2']\n"),
            (r"SELECT extractGroups('a=1', '(\\w+)=(\\w+)')", b"['a','1']\n"),
            (
                r"SELECT extractAllGroupsHorizontal('k1=v1, k2=v2', '(\\w+)=(\\w+)')",
                b"[['k1','k2'],['v1','v2']]\n",
            ),
            ("SELECT mapFilter((k, v) -> v > 1, map('a',1,'b',2))", b"{'b':2}\n"),
            ("SELECT mapApply((k, v) -> (k, v * 2), map('a', 1))", b"{'a':2}\n"),
            ("SELECT mapUpdate(map('a',1,'c',3), map('a',2))", b"{'a':2,'c':3}\n"),
            ("SELECT mapSort(map('b',1,'a',2))", b"{'a':2,'b':1}\n"),
            ("SELECT mapExists((k, v) -> v > 1, map('a',1,'b',2))", b"true\n"),
            ("SELECT mapAll((k, v) -> v > 1, map('a',1,'b',2))", b"false\n"),
            ("SELECT arrayShiftLeft([1,2,3], 1, 0)", b"[2,3,0]\n"),
            ("SELECT arrayShiftRight([1,2,3], 1, 0)", b"[0,1,2]\n"),
            (
                "SELECT timeDiff(toDateTime('2024-01-01 00:00:00'), "
                "toDateTime('2024-01-01 01:00:00'))",
                b"3600\n",
            ),
            ("SELECT 0b101", b"5\n"),
            ("SELECT 0x1F", b"31\n"),
            ("SELECT untuple(tuple(1, 'a')), 9", b"1\ta\t9\n"),
            ("SELECT initializeAggregation('sum', 3)", b"3\n"),
            ("SELECT finalizeAggregation(initializeAggregation('max', 7))", b"7\n"),
            ("SELECT toTypeName(1), toTypeName('x'), toTypeName(1.5)",
             b"Int32\tString\tFloat64\n"),
            (
                "SELECT snowflakeToDateTime(1426860702823350272)",
                b"2021-08-15 10:57:56\n",
            ),
            ("SELECT geohashEncode(-5.60302734375, 42.593994140625, 5)", b"ezs42\n"),
            (
                "SELECT pointInPolygon((3., 3.), [(6, 0), (8, 4), (5, 8), (0, 2)]), "
                "pointInPolygon((10., 10.), [(6, 0), (8, 4), (5, 8), (0, 2)])",
                b"1\t0\n",
            ),
            ("SELECT round(jaroSimilarity('abc','abd'), 4)", b"0.7778\n"),
            ("SELECT jaroWinklerSimilarity('abc','abc')", b"1\n"),
            ("SELECT normalizeUTF8NFC('abc')", b"abc\n"),
        ],
    )
    def test_value(self, eng, q, want):
        assert eng.execute(q) == want

    def test_running_difference_and_neighbor(self, eng):
        assert eng.execute(
            "SELECT runningDifference(n) AS r FROM "
            "(SELECT number * number AS n FROM numbers(4))"
        ) == b"0\n1\n3\n5\n"
        assert eng.execute(
            "SELECT neighbor(number, -1, 99) AS r FROM numbers(3)"
        ) == b"99\n0\n1\n"

    def test_offset_fetch_forms(self, eng):
        assert eng.execute(
            "SELECT number FROM numbers(5) ORDER BY number "
            "OFFSET 2 ROWS FETCH FIRST 2 ROWS ONLY"
        ) == b"2\n3\n"
        assert eng.execute(
            "SELECT number FROM numbers(5) ORDER BY number OFFSET 3 ROWS"
        ) == b"3\n4\n"
        assert eng.execute(
            "SELECT number FROM numbers(5) ORDER BY number "
            "FETCH FIRST 2 ROWS ONLY"
        ) == b"0\n1\n"

    def test_values_table_function(self, eng):
        assert eng.execute(
            "SELECT b, a FROM VALUES('a Int32, b String', (1, 'x'), (2, 'y')) "
            "ORDER BY a"
        ) == b"x\t1\ny\t2\n"

    def test_sequence_aggregates(self, eng):
        base = (
            "(SELECT 1 AS ts, 'A' AS ev UNION ALL SELECT 2, 'B' "
            "UNION ALL SELECT 3, 'A' UNION ALL SELECT 4, 'B')"
        )
        assert eng.execute(
            f"SELECT sequenceMatch('(?1).*(?2)')(ts, ev = 'A', ev = 'B') FROM {base}"
        ) == b"1\n"
        assert eng.execute(
            f"SELECT sequenceMatch('(?2).*(?1)')(ts, ev = 'A', ev = 'B') "
            f"FROM (SELECT 1 AS ts, 'A' AS ev UNION ALL SELECT 2, 'B')"
        ) == b"0\n"
        assert eng.execute(
            f"SELECT sequenceCount('(?1).*(?2)')(ts, ev = 'A', ev = 'B') FROM {base}"
        ) == b"2\n"

    def test_window_funnel_sql(self, eng):
        # user 1: A..B within 10 but C at +19 from chain start — level 2;
        # user 2: full chain inside the window — level 3
        rows = (
            "(SELECT 1 AS u, 1 AS ts, 'A' AS ev UNION ALL SELECT 1, 5, 'B' "
            "UNION ALL SELECT 1, 20, 'C' UNION ALL SELECT 2, 1, 'A' "
            "UNION ALL SELECT 2, 3, 'B' UNION ALL SELECT 2, 8, 'C')"
        )
        assert eng.execute(
            f"SELECT u, windowFunnel(10)(ts, ev = 'A', ev = 'B', ev = 'C') "
            f"FROM {rows} GROUP BY u ORDER BY u"
        ) == b"1\t2\n2\t3\n"
        # a later chain restart (A at t=10) rescues the window
        assert eng.execute(
            "SELECT windowFunnel(2)(ts, ev = 'A', ev = 'B') FROM "
            "(SELECT 1 AS ts, 'A' AS ev UNION ALL SELECT 10, 'A' "
            "UNION ALL SELECT 11, 'B')"
        ) == b"2\n"

    def test_ttest_aggregates(self, eng):
        # equal groups {0,2,4,...} vs {1,3,5,...}: means differ by 1
        out = eng.execute(
            "SELECT studentTTest(v, g) FROM "
            "(SELECT number AS v, number % 2 AS g FROM numbers(10))"
        ).decode().strip()
        t = float(out.strip("()").split(",")[0])
        assert abs(t - (-0.5)) < 1e-9
        out2 = eng.execute(
            "SELECT welchTTest(v, g) FROM "
            "(SELECT number AS v, number % 2 AS g FROM numbers(10))"
        ).decode().strip()
        t2 = float(out2.strip("()").split(",")[0])
        assert abs(t2 - (-0.5)) < 1e-9


class TestSweep12FunctionBreadth:
    """Value-level checks for the round-4 sweep-12 additions: vector
    distance family, array-backed bitmap algebra, numbers(offset,
    count) semantics, DateTime64 epoch constructors, byteSwap,
    parseReadableSize, typed byteSize, arrayShift default fill."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            # numbers(offset, count) = [offset, offset+count)
            ("SELECT count() AS c, min(number) AS lo, max(number) AS hi FROM numbers(4, 4)", b"4\t4\t7\n"),
            # vector distances
            ("SELECT arrayDotProduct([1,2], [3,4])", b"11\n"),
            ("SELECT dotProduct([1,2,3], [1,1,1])", b"6\n"),
            ("SELECT L2Distance([0,0], [3,4])", b"5\n"),
            ("SELECT L2SquaredDistance([0,0], [3,4])", b"25\n"),
            ("SELECT L1Distance([1,1], [3,4])", b"5\n"),
            ("SELECT LinfDistance([1,1], [3,5])", b"4\n"),
            ("SELECT L2Norm([3,4])", b"5\n"),
            ("SELECT L1Norm([3,-4])", b"7\n"),
            ("SELECT LinfNorm([3,-4])", b"4\n"),
            ("SELECT cosineDistance([1,0], [0,1])", b"1\n"),
            ("SELECT round(cosineDistance([1,2], [2,4]), 6)", b"0\n"),
            ("SELECT L2Normalize([3,4])", b"[0.6,0.8]\n"),
            # bitmap algebra over sorted distinct arrays
            ("SELECT bitmapCardinality(bitmapBuild([1,2,3,3]))", b"3\n"),
            ("SELECT bitmapToArray(bitmapBuild([3,1,2]))", b"[1,2,3]\n"),
            ("SELECT bitmapContains(bitmapBuild([1,2]), 2)", b"true\n"),
            ("SELECT bitmapAnd(bitmapBuild([1,2,3]), bitmapBuild([2,3,4]))", b"[2,3]\n"),
            ("SELECT bitmapOr(bitmapBuild([1,2]), bitmapBuild([2,3]))", b"[1,2,3]\n"),
            ("SELECT bitmapXor(bitmapBuild([1,2,3]), bitmapBuild([2,3,4]))", b"[1,4]\n"),
            ("SELECT bitmapAndnot(bitmapBuild([1,2,3]), bitmapBuild([2]))", b"[1,3]\n"),
            ("SELECT bitmapAndCardinality(bitmapBuild([1,2]), bitmapBuild([2,3]))", b"1\n"),
            ("SELECT bitmapOrCardinality(bitmapBuild([1,2]), bitmapBuild([2,3]))", b"3\n"),
            ("SELECT bitmapXorCardinality(bitmapBuild([1,2]), bitmapBuild([2,3]))", b"2\n"),
            ("SELECT bitmapHasAll(bitmapBuild([1,2,3]), bitmapBuild([2,3]))", b"true\n"),
            ("SELECT bitmapHasAll(bitmapBuild([1,2]), bitmapBuild([2,3]))", b"false\n"),
            ("SELECT bitmapHasAny(bitmapBuild([1,2]), bitmapBuild([2,3]))", b"true\n"),
            ("SELECT bitmapMin(bitmapBuild([3,1,2]))", b"1\n"),
            ("SELECT bitmapMax(bitmapBuild([3,1,2]))", b"3\n"),
            ("SELECT groupBitmap(x) FROM (SELECT arrayJoin([1,2,2,3]) AS x)", b"3\n"),
            # epoch constructors (values as UTC timestamps)
            ("SELECT toUnixTimestamp64Milli(fromUnixTimestamp64Milli(1704067200123))", b"1704067200123\n"),
            ("SELECT fromUnixTimestamp64Milli(1704067200000)", b"2024-01-01 00:00:00\n"),
            # byteSwap (CH docs examples)
            ("SELECT byteSwap(3351772109)", b"3455829959\n"),
            # 64-bit swap; engine-wide UInt64 policy renders as signed
            # Int64 (same as toUInt64), so CH's 18439412204227788800
            # appears as its two's-complement twin
            ("SELECT byteSwap(123294967295)", b"-7331869481762816\n"),
            ("SELECT byteSwap(54)", b"54\n"),
            # parseReadableSize family
            ("SELECT parseReadableSize('1 KiB')", b"1024\n"),
            ("SELECT parseReadableSize('3 MB')", b"3000000\n"),
            ("SELECT parseReadableSizeOrZero('oops')", b"0\n"),
            ("SELECT parseReadableSizeOrNull('2.5 GiB')", b"2684354560\n"),
            # byteSize by runtime type; String = length + 9
            ("SELECT byteSize(toInt32(1))", b"4\n"),
            ("SELECT byteSize(toInt64(1))", b"8\n"),
            ("SELECT byteSize('abc')", b"12\n"),
            # arrayShift fills the numeric default, not NULL
            ("SELECT arrayShiftLeft([1,2,3], 1)", b"[2,3,0]\n"),
            ("SELECT arrayShiftRight([1,2,3], 1)", b"[0,1,2]\n"),
            ("SELECT arrayShiftLeft([1,2,3], 1, 9)", b"[2,3,9]\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestSweep13AggregateBreadth:
    """Value-level checks for sweep 13: parameterized aggregate
    variants (moving window, uniqUpTo, topKWeighted, groupConcat,
    quantile spellings), interval aggregates (maxIntersections,
    intervalLengthSum), and categorical association statistics
    (cramersV, contingency, theilsU, rankCorr) computed exactly via
    group-local array folds."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT groupArrayMovingSum(2)(number) FROM numbers(4)", b"[0,1,3,5]\n"),
            # CH divides by the window size; double division here
            ("SELECT groupArrayMovingAvg(2)(number) FROM numbers(4)", b"[0,0.5,1.5,2.5]\n"),
            ("SELECT uniqUpTo(2)(number) FROM numbers(5)", b"3\n"),
            ("SELECT uniqUpTo(8)(number) FROM numbers(5)", b"5\n"),
            # value 2 carries weights {2,5,8}=15, value 1 {1,4,7}=12, value 0 {0,3,6,9}=18
            ("SELECT topKWeighted(2)(number % 3, number) FROM numbers(10)", b"[0,2]\n"),
            ("SELECT groupConcat(',')(toString(number)) FROM numbers(3)", b"0,1,2\n"),
            ("SELECT groupConcat(toString(number)) FROM numbers(3)", b"012\n"),
            ("SELECT quantileBFloat16(0.5)(number) FROM numbers(101)", b"50\n"),
            ("SELECT quantileTiming(0.5)(number) FROM numbers(101)", b"50\n"),
            # 5 unit-staggered [i, i+3) intervals: peak overlap 3
            ("SELECT maxIntersections(s, e) FROM (SELECT number AS s, number + 3 AS e FROM numbers(5))", b"3\n"),
            # [0,2),[1,3),[2,4) union = [0,4) -> 4
            ("SELECT intervalLengthSum(s, e) FROM (SELECT number AS s, number + 2 AS e FROM numbers(3))", b"4\n"),
            # disjoint [0,1),[10,11): 2
            ("SELECT intervalLengthSum(s, e) FROM (SELECT number * 10 AS s, number * 10 + 1 AS e FROM numbers(2))", b"2\n"),
            ("SELECT singleValueOrNull(number) FROM numbers(1)", b"0\n"),
            ("SELECT singleValueOrNull(number) FROM numbers(3)", b"\\N\n"),
            # association statistics on hand-checkable tables
            ("SELECT round(cramersV(number % 2, number % 2), 6) FROM numbers(12)", b"1\n"),
            ("SELECT round(cramersV(number % 2, number % 3), 6) FROM numbers(12)", b"0\n"),
            ("SELECT round(contingency(number % 2, number % 2), 4) FROM numbers(12)", b"0.7071\n"),
            ("SELECT round(theilsU(number % 2, number % 2), 6) FROM numbers(12)", b"1\n"),
            ("SELECT round(theilsU(number % 2, number % 3), 6) FROM numbers(12)", b"0\n"),
            ("SELECT round(rankCorr(number, number * 2), 6) FROM numbers(10)", b"1\n"),
            ("SELECT round(rankCorr(number, -number), 6) FROM numbers(10)", b"-1\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestSweep14Breadth:
    """Sweep 14: array resize, exponent/date-number constructors,
    weighted/GK quantiles, decimal arithmetic, interval add."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT arrayResize([1,2], 4)", b"[1,2,0,0]\n"),
            ("SELECT arrayResize([1,2,3], 2)", b"[1,2]\n"),
            ("SELECT arrayResize([1,2], 4, 9)", b"[1,2,9,9]\n"),
            ("SELECT min2(3, 5)", b"3\n"),
            ("SELECT max2(3, 5)", b"5\n"),
            ("SELECT intExp2(4)", b"16\n"),
            ("SELECT intExp10(3)", b"1000\n"),
            ("SELECT YYYYMMDDToDate(20240305)", b"2024-03-05\n"),
            ("SELECT YYYYMMDDhhmmssToDateTime(20240305060708)", b"2024-03-05 06:07:08\n"),
            ("SELECT addInterval(toDate('2024-01-01'), INTERVAL 1 MONTH)", b"2024-02-01\n"),
            ("SELECT sumKahan(number / 10) FROM numbers(11)", b"5.5\n"),
            ("SELECT medianExact(number) FROM numbers(101)", b"50\n"),
            ("SELECT quantileExactWeighted(0.5)(number, 1) FROM numbers(101)", b"50\n"),
            # heavy weight on 10 pulls the weighted median to 10
            ("SELECT quantileExactWeighted(0.5)(number, if(number = 10, 1000, 1)) FROM numbers(101)", b"10\n"),
            ("SELECT quantileGK(100, 0.5)(number) FROM numbers(101)", b"50\n"),
            # decimal rendering keeps the declared scale's digits
            ("SELECT divideDecimal(toDecimal64(10.5, 2), toDecimal64(2.5, 2), 2)", b"4.20\n"),
            ("SELECT multiplyDecimal(toDecimal64(2.5, 2), toDecimal64(4, 0), 1)", b"10.0\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestSweep15ConversionsAndArrayJoin:
    """Sweep 15: the to*OrNull/OrZero conversion family (try_cast with
    CH range checks), accurateCast family, reinterpret views, and
    arrayJoin hoisting from arbitrary expression positions (CH allows
    it anywhere; Spark generators are top-level only)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT toInt32OrNull('42')", b"42\n"),
            ("SELECT toInt32OrNull('abc')", b"\\N\n"),
            ("SELECT toInt32OrNull('1.5')", b"\\N\n"),  # strict integer parse
            ("SELECT toInt32OrZero('abc')", b"0\n"),
            ("SELECT toUInt8OrNull('200')", b"200\n"),
            ("SELECT toUInt8OrNull('300')", b"\\N\n"),  # out of UInt8 range
            ("SELECT toUInt8OrNull('-1')", b"\\N\n"),
            ("SELECT toInt8OrNull('-128')", b"-128\n"),
            ("SELECT toFloat64OrNull('1.5')", b"1.5\n"),
            ("SELECT toFloat64OrZero('x')", b"0\n"),
            ("SELECT toDateOrNull('nope')", b"\\N\n"),
            ("SELECT toDateOrNull('2024-03-05')", b"2024-03-05\n"),
            ("SELECT toDateOrZero('nope')", b"1970-01-01\n"),
            ("SELECT toDateTimeOrNull('2024-03-05 06:07:08')", b"2024-03-05 06:07:08\n"),
            ("SELECT toDecimal64OrNull('10.55', 2)", b"10.55\n"),
            ("SELECT toDecimal64OrNull('x', 2)", b"\\N\n"),
            ("SELECT accurateCast(5, 'UInt8')", b"5\n"),
            ("SELECT accurateCastOrNull(-1, 'UInt8')", b"\\N\n"),
            ("SELECT accurateCastOrNull(200, 'UInt8')", b"200\n"),
            ("SELECT reinterpretAsUInt8('a')", b"97\n"),
            ("SELECT reinterpretAsUInt16('ab')", b"25185\n"),
            ("SELECT reinterpretAsString(97)", b"a\n"),
            ("SELECT reinterpretAsString(25185)", b"ab\n"),
            ("SELECT lastDayOfMonth(toDate('2024-02-15'))", b"2024-02-29\n"),
            ("SELECT round(greatCircleAngle(0, 0, 45, 0), 2)", b"45\n"),
            # arrayJoin in expression positions (hoisted LATERAL VIEW)
            ("SELECT arrayJoin([1,2,3]) + 10 AS r", b"11\n12\n13\n"),
            ("SELECT sum(arrayJoin([1,2,5,3,8])) AS r", b"19\n"),
            # identical arrayJoin expressions share one expansion (CH)
            ("SELECT arrayJoin([1,2]) * arrayJoin([1,2]) AS r", b"1\n4\n"),
            ("SELECT sum(arrayJoin(xs)) AS r FROM (SELECT array(1,2,3) AS xs)", b"6\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        suffix = "" if " AS r" in q or " r " in q else " AS r"
        assert eng.execute(q + suffix) == want


class TestSweep16Stats:
    """Sweep 16: width_bucket, array shingles/sampling, and the
    z-test family (proportionsZTest / meanZTest / mannWhitneyUTest)
    as exact group-local computations with normal-approx p-values."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    def test_width_bucket_and_shingles(self, eng):
        assert eng.execute("SELECT widthBucket(5.3, 0, 10, 5) AS r") == b"3\n"
        assert eng.execute("SELECT arrayShingles([1,2,3,4], 2) AS r") == b"[[1,2],[2,3],[3,4]]\n"
        assert eng.execute("SELECT size(arrayRandomSample([1,2,3], 2)) AS r") == b"2\n"

    def test_proportions_ztest_matches_ch_docs(self, eng):
        # CH docs example: z = -0.2065672443594885
        out = eng.execute(
            "SELECT proportionsZTest(10, 11, 100, 101, 0.95, 'unpooled') AS r"
        ).decode().strip().strip("()").split(",")
        z, p, lo, hi = map(float, out)
        assert abs(z - (-0.20656724435948853)) < 1e-12
        assert abs(p - 0.8363478437079654) < 1e-5
        assert abs(lo - (-0.09345975390115283)) < 1e-3
        assert abs(hi - 0.07563797172826908) < 1e-3

    def test_mean_ztest(self, eng):
        out = eng.execute(
            "SELECT meanZTest(1.0, 1.0, 0.95)(v, g) AS r FROM "
            "(SELECT number AS v, number % 2 AS g FROM numbers(10))"
        ).decode().strip().strip("()").split(",")
        z = float(out[0])
        # means 4 vs 5, se = sqrt(1/5 + 1/5) -> z = -1/sqrt(0.4)
        assert abs(z - (-1.5811388300841895)) < 1e-12

    def test_mann_whitney(self, eng):
        out = eng.execute(
            "SELECT mannWhitneyUTest(v, g) AS r FROM "
            "(SELECT number AS v, number % 2 AS g FROM numbers(10))"
        ).decode().strip().strip("()").split(",")
        # group0 ranks {1,3,5,7,9}: R0=25, U = 25 - 15 = 10
        assert float(out[0]) == 10.0
        assert 0 < float(out[1]) < 1


class TestSweep16KSAndCorrectedV:
    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    def test_ks_interleaved_vs_disjoint(self, eng):
        out = eng.execute(
            "SELECT kolmogorovSmirnovTest(v, g) AS r FROM "
            "(SELECT number AS v, number % 2 AS g FROM numbers(10))"
        ).decode().strip().strip("()").split(",")
        d, p = float(out[0]), float(out[1])
        assert abs(d - 0.2) < 1e-9 and p > 0.9  # interleaved: similar dists
        out = eng.execute(
            "SELECT kolmogorovSmirnovTest(v, g) AS r FROM "
            "(SELECT number AS v, if(number < 50, 0, 1) AS g FROM numbers(100))"
        ).decode().strip().strip("()").split(",")
        d, p = float(out[0]), float(out[1])
        assert d == 1.0 and p < 1e-10  # disjoint halves

    def test_cramers_v_bias_corrected(self, eng):
        assert eng.execute(
            "SELECT round(cramersVBiasCorrected(number % 2, number % 2), 4) AS r FROM numbers(40)"
        ) == b"1\n"
        assert eng.execute(
            "SELECT round(cramersVBiasCorrected(number % 2, number % 3), 4) AS r FROM numbers(36)"
        ) == b"0\n"


class TestSweep17JsonMapBreadth:
    """Sweep 17: JSONExtract raw/values/array/keys-and-values (and the
    JSONExtractRaw key->path fix — it was a bare get_json_object
    rename that always missed), toJSONString, arrayFirst/LastOrNull,
    map concat/populate/key-like helpers."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("""SELECT JSONExtractRaw('{"a": {"b": 1}}', 'a')""", b'{"b":1}\n'),
            ("""SELECT JSONExtractValues('{"a": "x", "b": "y"}')""", b"['x','y']\n"),
            ("""SELECT JSONExtractArrayRaw('{"a": [1,2]}', 'a')""", b"['1','2']\n"),
            ("""SELECT JSONExtractKeysAndValues('{"a": 1, "b": 2}', 'Int64')""", b"[('a',1),('b',2)]\n"),
            ("SELECT toJSONString(map('a', 1))", b'{"a":1}\n'),
            ("SELECT arrayFirstOrNull(x -> x > 5, [1,2,3])", b"\\N\n"),
            ("SELECT arrayLastOrNull(x -> x > 1, [1,2,3])", b"3\n"),
            ("SELECT mapConcat(map('a', 1), map('b', 2))", b"{'a':1,'b':2}\n"),
            ("SELECT mapPopulateSeries(map(1, 10, 3, 30))", b"{1:10,2:0,3:30}\n"),
            ("SELECT mapContainsKeyLike(map('abc', 1), 'ab%')", b"true\n"),
            ("SELECT mapExtractKeyLike(map('abc', 1, 'xyz', 2), 'ab%')", b"{'abc':1}\n"),
            ("SELECT toColumnTypeName(1)", b"Int32\n"),
            ("SELECT countSubstringsCaseInsensitive('AbAb', 'ab')", b"2\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestSweep18DateIpUrlBreadth:
    """Sweep 18: snake-case date_diff/timestamp_diff with quoted units,
    the change* component setters (interval arithmetic so Feb-29
    saturates like CH), formatReadableDecimalSize, normalizeL2,
    isIPv6String, IPv4CIDRToRange, URL form-encoding variants."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT date_diff('day', toDate('2024-01-01'), toDate('2024-01-05'))", b"4\n"),
            ("SELECT timestamp_diff('hour', toDateTime('2024-01-01 00:00:00'), toDateTime('2024-01-01 05:00:00'))", b"5\n"),
            # Spark-native 2-arg form must still pass through untouched
            ("SELECT date_diff(toDate('2024-01-05'), toDate('2024-01-01'))", b"4\n"),
            ("SELECT changeYear(toDate('2024-03-03'), 2020)", b"2020-03-03\n"),
            ("SELECT changeYear(toDate('2020-02-29'), 2021)", b"2021-02-28\n"),
            ("SELECT changeMonth(toDateTime('2024-03-03 10:00:00'), 7)", b"2024-07-03 10:00:00\n"),
            ("SELECT changeDay(toDateTime('2024-03-03 10:00:00'), 15)", b"2024-03-15 10:00:00\n"),
            ("SELECT changeHour(toDateTime('2024-03-03 10:00:00'), 5)", b"2024-03-03 05:00:00\n"),
            ("SELECT changeMinute(toDateTime('2024-03-03 10:30:00'), 5)", b"2024-03-03 10:05:00\n"),
            ("SELECT changeSecond(toDateTime('2024-03-03 10:30:30'), 5)", b"2024-03-03 10:30:05\n"),
            ("SELECT formatReadableDecimalSize(1500000)", b"1.50 MB\n"),
            ("SELECT normalizeL2([3.0, 4.0])", b"[0.6,0.8]\n"),
            ("SELECT isIPv6String('::1')", b"1\n"),
            ("SELECT isIPv6String('2001:db8::8a2e:370:7334')", b"1\n"),
            ("SELECT isIPv6String('fe80:0:0:0:0:0:0:1')", b"1\n"),
            ("SELECT isIPv6String('1::2::3')", b"0\n"),
            ("SELECT isIPv6String('1.2.3.4')", b"0\n"),
            ("SELECT tupleElement(IPv4CIDRToRange(toIPv4('192.168.5.2'), 16), 1)", b"192.168.0.0\n"),
            ("SELECT tupleElement(IPv4CIDRToRange(toIPv4('192.168.5.2'), 16), 2)", b"192.168.255.255\n"),
            ("SELECT encodeURLFormComponent('a b')", b"a+b\n"),
            ("SELECT decodeURLFormComponent('a+b')", b"a b\n"),
            ("SELECT extractURLParameterNames('http://x.com/?a=1&b=2')", b"['a','b']\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestSweep19StableAggAucCase:
    """Sweep 19: *Stable aggregate spellings (plain Spark aggregates are
    already order-insensitive), quantileDeterministic (determinator
    ignored — our percentile is exact), arrayAUC/arrayROCAUC
    (Mann-Whitney pairwise with 0.5 ties, NULL on a one-class input),
    block introspection constants, caseWithExpression."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT round(corrStable(x, y), 4) FROM (SELECT 1.0 AS x, 2.0 AS y UNION ALL SELECT 2.0, 4.0)", b"1\n"),
            ("SELECT covarPopStable(x, y) FROM (SELECT 1.0 AS x, 2.0 AS y UNION ALL SELECT 2.0, 4.0)", b"0.5\n"),
            ("SELECT covarSampStable(x, y) FROM (SELECT 1.0 AS x, 2.0 AS y UNION ALL SELECT 2.0, 4.0)", b"1\n"),
            ("SELECT stddevPopStable(x) FROM (SELECT 1.0 AS x UNION ALL SELECT 2.0)", b"0.5\n"),
            ("SELECT varSampStable(x) FROM (SELECT 1.0 AS x UNION ALL SELECT 2.0)", b"0.5\n"),
            ("SELECT quantileDeterministic(0.5)(n, 1) FROM (SELECT 1.0 AS n UNION ALL SELECT 3.0)", b"2\n"),
            ("SELECT arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1])", b"0.75\n"),
            ("SELECT arrayROCAUC([0.1, 0.4], [0, 1])", b"1\n"),
            # all-tied scores -> 0.5; one-class labels -> NULL
            ("SELECT arrayAUC([0.5, 0.5], [0, 1])", b"0.5\n"),
            ("SELECT arrayAUC([0.5], [1])", b"\\N\n"),
            ("SELECT blockNumber()", b"0\n"),
            ("SELECT rowNumberInBlock()", b"0\n"),
            ("SELECT caseWithExpression(2, 1, 'a', 2, 'b', 'z')", b"b\n"),
            ("SELECT caseWithExpression(9, 1, 'a', 2, 'b', 'z')", b"z\n"),
            ("SELECT serverUUID()", b"00000000-0000-0000-0000-000000000000\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestIntoOutfileAndRunning:
    """INTO OUTFILE clause (error/TRUNCATE/APPEND/AND STDOUT modes —
    chDB accepts this server-side, reference main.py passes it
    through), confined to the engine's user-files directory (CH
    user_files_path model; unconfined server-side writes were an
    arbitrary-file-write primitive — ADVICE r4), SAMPLE after a table
    function, runningAccumulate over aggregate states,
    nonNegativeDerivative."""

    @pytest.fixture(scope="class")
    def files_root(self, tmp_path_factory):
        return tmp_path_factory.mktemp("user_files")

    @pytest.fixture(scope="class")
    def eng(self, spark, files_root):
        from cowsdb_spark.engine import Engine

        return Engine(spark, user_files_dir=str(files_root))

    def test_outfile_modes(self, eng, files_root):
        p = str(files_root / "out.csv")
        assert eng.execute(f"SELECT 41 + 1 AS a INTO OUTFILE '{p}' FORMAT CSV") == b""
        assert open(p).read() == "42\n"
        # default mode errors on the existing file (CH code 76)
        from cowsdb_spark.engine import EngineError

        with pytest.raises(EngineError, match="already exists"):
            eng.execute(f"SELECT 1 AS a INTO OUTFILE '{p}'")
        assert eng.execute(f"SELECT 7 AS a INTO OUTFILE '{p}' TRUNCATE") == b""
        assert open(p).read() == "7\n"
        assert eng.execute(f"SELECT 8 AS a INTO OUTFILE '{p}' APPEND") == b""
        assert open(p).read() == "7\n8\n"
        out = eng.execute(f"SELECT 9 AS a INTO OUTFILE '{p}' AND STDOUT TRUNCATE")
        assert out == b"9\n"
        assert open(p).read() == "9\n"

    def test_outfile_relative_path(self, eng, files_root):
        assert eng.execute("SELECT 5 AS a INTO OUTFILE 'rel.tsv' TRUNCATE") == b""
        assert (files_root / "rel.tsv").read_text() == "5\n"

    def test_outfile_escape_rejected(self, eng, files_root):
        from cowsdb_spark.engine import EngineError

        for bad in (
            "/etc/cron.d/evil",
            "../outside.txt",
            str(files_root) + "/../escape.txt",
            "a/../../escape.txt",
        ):
            with pytest.raises(EngineError) as ei:
                eng.execute(f"SELECT 1 AS a INTO OUTFILE '{bad}' TRUNCATE")
            assert ei.value.code == 481

    def test_outfile_symlink_escape_rejected(self, eng, files_root, tmp_path):
        import os

        from cowsdb_spark.engine import EngineError

        link = files_root / "sneaky"
        os.symlink(str(tmp_path), str(link))
        with pytest.raises(EngineError) as ei:
            eng.execute("SELECT 1 AS a INTO OUTFILE 'sneaky/pwn.txt' TRUNCATE")
        assert ei.value.code == 481

    def test_outfile_disabled_without_config(self, spark, monkeypatch):
        from cowsdb_spark.engine import Engine, EngineError

        monkeypatch.delenv("MOOSPARK_USER_FILES_DIR", raising=False)
        bare = Engine(spark)
        with pytest.raises(EngineError) as ei:
            bare.execute("SELECT 1 AS a INTO OUTFILE '/tmp/x.txt'")
        assert ei.value.code == 344

    def test_sample_after_table_function(self, eng):
        rows = eng.execute("SELECT number FROM numbers(10) SAMPLE 3")
        assert rows == b"0\n1\n2\n"
        frac = eng.execute("SELECT count() AS c FROM (SELECT number FROM numbers(1000) SAMPLE 0.5)")
        assert 300 < int(frac.strip()) < 700

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT runningAccumulate(sumState(number)) FROM numbers(4)", b"0\n1\n3\n6\n"),
            ("SELECT runningAccumulate(number) FROM numbers(4)", b"0\n1\n3\n6\n"),
            ("SELECT runningAccumulate(maxState(number)) FROM numbers(3)", b"0\n1\n2\n"),
            ("SELECT nonNegativeDerivative(v, t) FROM (SELECT 1.0 AS v, toDateTime('2024-01-01 00:00:00') AS t UNION ALL SELECT 5.0, toDateTime('2024-01-01 00:00:02'))", b"0\n2\n"),
        ],
    )
    def test_running_functions(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestSweep20RegexpGroups:
    """Sweep 20: regexpExtract (CH default index 1), extractGroups /
    extractAllGroupsVertical / Horizontal (group count read statically
    from the literal pattern), UTF8 renames, partial reverse sort,
    case-insensitive match counting."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT arrayPartialReverseSort(2, [3,1,2])", b"[3,2,1]\n"),
            ("SELECT countMatchesCaseInsensitive('AaA', 'a')", b"3\n"),
            ("SELECT regexpExtract('foo123', '([0-9]+)')", b"123\n"),
            ("SELECT regexpExtract('foo123bar7', '([0-9]+)[a-z]+([0-9]+)', 2)", b"7\n"),
            ("SELECT translateUTF8('abc', 'ab', 'xy')", b"xyc\n"),
            ("SELECT reverseUTF8('abc')", b"cba\n"),
            ("SELECT extractGroups('a=1', '(\\\\w)=(\\\\d)')", b"['a','1']\n"),
            ("SELECT extractAllGroupsVertical('a=1, b=2', '(\\\\w)=(\\\\d)')", b"[['a','1'],['b','2']]\n"),
            ("SELECT extractAllGroupsHorizontal('a=1, b=2', '(\\\\w)=(\\\\d)')", b"[['a','b'],['1','2']]\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q + " AS r") == want


class TestSweep21FramesSubSecondArrays:
    """Sweep 21: lagInFrame/leadInFrame with CH's mandatory frame
    clause (Spark forbids frames on lag/lead — the full frame is
    dropped, identical results), CAST-type rewriting through bracket
    literals, sub-second toStartOf*, timezone introspection,
    Joda-syntax formatting, arrayLevenshteinDistance (DP fold)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT leadInFrame(number) OVER (ORDER BY number ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS r FROM numbers(3)", b"1\n2\n\\N\n"),
            ("SELECT lagInFrame(number) OVER (ORDER BY number ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS r FROM numbers(3)", b"\\N\n0\n1\n"),
            ("SELECT emptyArrayToSingle(CAST([] AS Array(Int64))) AS r", b"[NULL]\n"),
            ("SELECT emptyArrayToSingle([7]) AS r", b"[7]\n"),
            ("SELECT replicate(7, [1,2,3]) AS r", b"[7,7,7]\n"),
            ("SELECT subtractInterval(toDate('2024-01-02'), INTERVAL 1 DAY) AS r", b"2024-01-01\n"),
            ("SELECT toStartOfMillisecond(toDateTime64('2024-01-01 00:00:00.123456', 6)) AS r", b"2024-01-01 00:00:00.123\n"),
            ("SELECT timeZoneOf(now()) AS r", b"UTC\n"),
            ("SELECT timeZoneOffset(now()) AS r", b"0\n"),
            ("SELECT fromUnixTimestampInJodaSyntax(0, 'yyyy-MM-dd') AS r", b"1970-01-01\n"),
            ("SELECT formatDateTimeInJodaSyntax(toDateTime('2024-01-02 03:04:05'), 'yyyy-MM-dd') AS r", b"2024-01-02\n"),
            ("SELECT arrayLevenshteinDistance([1,2],[1,3]) AS r", b"1\n"),
            ("SELECT arrayLevenshteinDistance([1,2,3],[2,3,4]) AS r", b"2\n"),
            ("SELECT arrayLevenshteinDistance(CAST([] AS Array(Int64)),[1,2]) AS r", b"2\n"),
            ("SELECT arrayLevenshteinDistance([1,2,3],[1,2,3]) AS r", b"0\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q) == want


class TestSweep22TokensBucketsHashes:
    """Sweep 22: hasToken (tokenbf splitter semantics), CH bucket
    rounders (roundDown/roundAge/roundDuration), parseTimeDelta,
    byteHammingDistance, hiveHash (javaHash, sign bit zeroed), real
    xxHash32 (spec vector for ''), and bare-interval projection no
    longer crashing the serializer (renders Spark's interval string)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT hasToken('hello world','world') AS r", b"true\n"),
            ("SELECT hasToken('hello world','wor') AS r", b"false\n"),
            # underscore IS a CH token separator (isTokenSeparator =
            # !isAlphaNumericASCII), so 'a_b' tokenizes as 'a','b'
            ("SELECT hasToken('a_b c','a') AS r", b"true\n"),
            ("SELECT hasTokenCaseInsensitive('Hello World','world') AS r", b"true\n"),
            ("SELECT initcapUTF8('hello world') AS r", b"Hello World\n"),
            ("SELECT roundDown(5, [1,3,7]) AS r", b"3\n"),
            ("SELECT roundDown(0, [1,3,7]) AS r", b"1\n"),
            ("SELECT roundDown(7, [1,3,7]) AS r", b"7\n"),
            ("SELECT roundAge(0) AS r", b"0\n"),
            ("SELECT roundAge(17) AS r", b"17\n"),
            ("SELECT roundAge(20) AS r", b"18\n"),
            ("SELECT roundAge(50) AS r", b"45\n"),
            ("SELECT roundAge(99) AS r", b"55\n"),
            ("SELECT roundDuration(0) AS r", b"0\n"),
            ("SELECT roundDuration(250) AS r", b"240\n"),
            ("SELECT roundDuration(40000) AS r", b"36000\n"),
            ("SELECT parseTimeDelta('1h30m') AS r", b"5400\n"),
            ("SELECT parseTimeDelta('2 days 3 hours') AS r", b"183600\n"),
            ("SELECT parseTimeDelta('1.5s') AS r", b"1.5\n"),
            ("SELECT byteHammingDistance('abc','abd') AS r", b"1\n"),
            ("SELECT byteHammingDistance('abc','ab') AS r", b"1\n"),
            ("SELECT byteHammingDistance('','x') AS r", b"1\n"),
            ("SELECT byteHammingDistance('','') AS r", b"0\n"),
            ("SELECT hiveHash('abc') AS r", b"96354\n"),
            # xxHash32('') = 0x02CC5D05 — the published spec vector
            ("SELECT xxHash32('') AS r", b"46947589\n"),
            ("SELECT toDate('2024-01-01') + toIntervalDay(2) AS r", b"2024-01-03\n"),
            ("SELECT toIntervalDay(2) AS r", b"2 days\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q) == want


class TestSweep23AggregateFolds:
    """Sweep 23: avgMap (per-key-presence divisor), pairwise stat
    matrices (n² corr/covar calls, partial aggs shared by Catalyst),
    time-ordered folds (deltaSumTimestamp, exponentialMovingAverage —
    CH's num/den halflife recurrence over a sorted collect), equal-width
    histogram(N) triples, sparkbar glyph rendering normalized by the
    tallest bucket."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT avgMap(map(number % 2, number)) AS r FROM numbers(4)", b"{0:1,1:2}\n"),
            ("SELECT corrMatrix(number, number * 2) AS r FROM numbers(5)", b"[[1,1],[1,1]]\n"),
            ("SELECT covarSampMatrix(number, number) AS r FROM numbers(5)", b"[[2.5,2.5],[2.5,2.5]]\n"),
            # values 1,5,3,8 in t order: positive deltas 4 + 5 = 9
            ("SELECT deltaSumTimestamp(if(number=0,1,if(number=1,5,if(number=2,3,8))), number) AS r FROM numbers(4)", b"9\n"),
            # v=t=0..4, halflife 1: (4+1.5+.5+.125+0)/(1+.5+.25+.125+.0625)
            ("SELECT round(exponentialMovingAverage(1)(number, number), 5) AS r FROM numbers(5)", b"3.16129\n"),
            ("SELECT histogram(3)(number) AS r FROM numbers(9)", b"[(0,2.6666666666666665,3),(2.6666666666666665,5.333333333333333,3),(5.333333333333333,8,3)]\n"),
            ("SELECT sparkbar(3)(number, 1) AS r FROM numbers(9)", "███\n".encode()),
            ("SELECT sparkbar(5)(number, number) AS r FROM numbers(5)", " ▂▄▆█\n".encode()),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q) == want


class TestSweep24RangesDatesRandom:
    """Sweep 24: arrayReduceInRanges (per-range slice through the
    arrayReduce scalar forms), fromDaysSinceYearZero (year 0 = 366-day
    leap year, day 366 = 0001-01-01), random distributions, URL
    query+fragment, blockSize (whole-result-is-one-block convention),
    and detectLanguage as the scalar twin of operators/text.lang_id."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT arrayReduceInRanges('sum', [(1,2),(2,2)], [1,2,3]) AS r", b"[3,5]\n"),
            ("SELECT arrayReduceInRanges('max', [(1,3)], [5,1,9]) AS r", b"[9]\n"),
            ("SELECT fromDaysSinceYearZero(739136) AS r", b"2023-09-08\n"),
            ("SELECT toDaysSinceYearZero(fromDaysSinceYearZero(713569)) AS r", b"713569\n"),
            ("SELECT queryStringAndFragment('http://x.com/?a=1#f') AS r", b"a=1#f\n"),
            ("SELECT queryStringAndFragment('http://x.com/page') AS r", b"\n"),
            ("SELECT blockSize() AS r", b"1\n"),
            ("SELECT randBernoulli(0.5) IN (0, 1) AS r", b"true\n"),
            ("SELECT randExponential(2) >= 0 AS r", b"true\n"),
            ("SELECT detectLanguage('the cat and the dog is here with us') AS r", b"en\n"),
            ("SELECT detectLanguage('der hund und die katze ist das') AS r", b"de\n"),
            ("SELECT detectLanguage('xyzzy qwerty') AS r", b"un\n"),
            ("SELECT detectLanguage('你好世界') AS r", b"zh\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q) == want


class TestSweep25TuplesMortonQuantiles:
    """Sweep 25: literal-tuple vector arithmetic (struct arity is only
    knowable for literals — column tuples stay unresolved), 2-D morton
    interleave round-trip, the four exact-quantile index conventions,
    snowflake ID round-trip (Twitter epoch, 22 low bits), Nullable
    defaults, clamp, IPv4-mapped IPv6."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT tuplePlus((1,2),(3,4)) AS r", b"(4,6)\n"),
            ("SELECT tupleMinus((1,2),(3,4)) AS r", b"(-2,-2)\n"),
            ("SELECT tupleMultiply((2,3),(4,5)) AS r", b"(8,15)\n"),
            ("SELECT tupleNegate((1,-2)) AS r", b"(-1,2)\n"),
            ("SELECT tupleMultiplyByNumber((1,2), 3) AS r", b"(3,6)\n"),
            ("SELECT tupleDivideByNumber((2,4), 2) AS r", b"(1,2)\n"),
            ("SELECT clamp(5, 1, 3) AS r", b"3\n"),
            ("SELECT IPv4ToIPv6('1.2.3.4') AS r", b"::ffff:1.2.3.4\n"),
            ("SELECT mortonEncode(1, 0) AS r", b"1\n"),
            ("SELECT mortonEncode(0, 1) AS r", b"2\n"),
            ("SELECT mortonDecode(2, mortonEncode(99, 46)) AS r", b"(99,46)\n"),
            ("SELECT quantileExactLow(0.5)(number) AS r FROM numbers(4)", b"1\n"),
            ("SELECT quantileExactHigh(0.5)(number) AS r FROM numbers(4)", b"2\n"),
            ("SELECT quantileExactInclusive(0.5)(number) AS r FROM numbers(4)", b"1.5\n"),
            ("SELECT quantileExactExclusive(0.5)(number) AS r FROM numbers(4)", b"1.5\n"),
            ("SELECT quantileExactExclusive(0.25)(number) AS r FROM numbers(4)", b"0.25\n"),
            ("SELECT snowflakeIDToDateTime(dateTimeToSnowflakeID(toDateTime('2021-08-15 18:57:56'))) AS r", b"2021-08-15 18:57:56\n"),
            ("SELECT defaultValueOfTypeName('Nullable(Int32)') AS r", b"\\N\n"),
            ("SELECT toStringCutToZero('ab') AS r", b"ab\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q) == want


class TestSweep26SplitsWideIntsSystem:
    """Sweep 26: arraySplit/arrayReverseSplit (cut before/after matched
    elements; empty-typed init via the empty-slice transform trick),
    wide Int128/256 as DECIMAL(38,0) (38 of Int128's 39 digits — the
    widest exact integer Spark has), makeDate's day-of-year arity,
    makeDateTime64 fraction handling, IDNA codecs (Python's RFC 3490
    codec = CH's idna library path), filesystem introspection."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT arraySplit(x -> x = 1, [0,1,0,1,0]) AS r", b"[[0],[1,0],[1,0]]\n"),
            ("SELECT arrayReverseSplit(x -> x = 1, [0,1,0,1,0]) AS r", b"[[0,1],[0,1],[0]]\n"),
            ("SELECT arraySplit(x -> x = 1, CAST([] AS Array(Int64))) AS r", b"[]\n"),
            ("SELECT arraySplit(x -> x > 0, [5]) AS r", b"[[5]]\n"),
            ("SELECT concatAssumeInjective('a','b') AS r", b"ab\n"),
            ("SELECT firstLine(concat('a', char(10), 'b')) AS r", b"a\n"),
            ("SELECT toBool('true') AS r", b"true\n"),
            ("SELECT revision() AS r", b"54468\n"),
            ("SELECT toInt128('5') AS r", b"5\n"),
            ("SELECT toUInt256OrZero('x') AS r", b"0\n"),
            ("SELECT toUInt128OrNull('-3') AS r", b"\\N\n"),
            ("SELECT toInt256OrNull('123456789012345678901234567890') AS r", b"123456789012345678901234567890\n"),
            ("SELECT toDecimal256('5.5', 1) AS r", b"5.5\n"),
            ("SELECT toDateTime64OrZero('x', 3) AS r", b"1970-01-01 00:00:00\n"),
            ("SELECT makeDate(2024, 60) AS r", b"2024-02-29\n"),
            ("SELECT makeDate32(2024, 3, 1) AS r", b"2024-03-01\n"),
            ("SELECT makeDateTime64(2024, 1, 2, 3, 4, 5, 123) AS r", b"2024-01-02 03:04:05.123\n"),
            ("SELECT idnaEncode('m\u00fcnchen.de') AS r", "xn--mnchen-3ya.de\n".encode()),
            ("SELECT idnaDecode('xn--mnchen-3ya.de') AS r", "münchen.de\n".encode()),
            ("SELECT filesystemAvailable() > 0 AS r", b"true\n"),
            ("SELECT filesystemCapacity() >= filesystemAvailable() AS r", b"true\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q) == want


class TestSweep28StateMerge:
    """-State / -SimpleState / -Merge combinator family: states are
    plain mergeable VALUES (the partial result for distributive
    aggregates, an (s, c) struct for avg, the distinct-set array for
    uniq*) — the MV incremental-aggregation pattern without opaque
    binary states. finalizeAggregation/initializeAggregation
    round-trip the same representations."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    @pytest.mark.parametrize(
        "q,want",
        [
            ("SELECT finalizeAggregation(sumState(number)) AS r FROM numbers(3)", b"3\n"),
            ("SELECT sumMerge(s) AS r FROM (SELECT sumState(number) AS s FROM numbers(3))", b"3\n"),
            ("SELECT countMerge(s) AS r FROM (SELECT countState(number) AS s FROM numbers(4) GROUP BY number % 2)", b"4\n"),
            ("SELECT uniqMerge(u) AS r FROM (SELECT uniqState(number % 3) AS u FROM numbers(9) GROUP BY number % 2)", b"3\n"),
            ("SELECT avgMerge(a) AS r FROM (SELECT avgState(number) AS a FROM numbers(4) GROUP BY number % 2)", b"1.5\n"),
            ("SELECT finalizeAggregation(avgState(number)) AS r FROM numbers(4)", b"1.5\n"),
            ("SELECT finalizeAggregation(uniqExactState(number % 2)) AS r FROM numbers(6)", b"2\n"),
            ("SELECT sumSimpleState(number) AS r FROM numbers(3)", b"3\n"),
            ("SELECT maxMerge(m) AS r FROM (SELECT maxState(number) AS m FROM numbers(5) GROUP BY number % 2)", b"4\n"),
            ("SELECT initializeAggregation('sumState', 5) AS r", b"5\n"),
            ("SELECT initializeAggregation('uniqState', 7) AS r", b"[7]\n"),
            ("SELECT finalizeAggregation(initializeAggregation('avgState', 6)) AS r", b"6\n"),
            ("SELECT sumIfState(number, number > 1) AS r FROM numbers(4)", b"5\n"),
        ],
    )
    def test_engine_eval(self, eng, q, want):
        assert eng.execute(q) == want


class TestBitExactHashes:
    """r5 bit-exact CH hash family (VERDICT r4 missing #2).

    Verification strategy (no network, no CH binary in the
    container): the murmur3 family and the SipHash-2-4 core are
    checked value-for-value against an INDEPENDENT implementation —
    Guava, bundled with Spark — plus the SipHash paper's official
    test vector; MurmurHash64A and wyhash are careful transcriptions
    of the public-domain reference code (the same code ClickHouse
    vendors), exercised for determinism and tail-length coverage."""

    CASES = [b"", b"a", b"abc", b"1234", b"12345678", b"123456789",
             b"hello world", b"0123456789abcdef",
             b"The quick brown fox jumps over the lazy dog",
             bytes(range(256))]

    def test_siphash_paper_vector(self):
        # SipHash-2-4 official vector: key 000102..0f, empty input
        from cowsdb_spark.functions.ch_hashes import _siphash24_state

        v = _siphash24_state(b"", 0x0706050403020100, 0x0F0E0D0C0B0A0908)
        assert (v[0] ^ v[1] ^ v[2] ^ v[3]) == 0x726FDB47DD0E0E31

    def test_murmur3_128_matches_guava(self, spark):
        from cowsdb_spark.functions.ch_hashes import _murmur3_x64_128

        H = spark.sparkContext._jvm.com.google.common.hash.Hashing
        for data in self.CASES:
            h1, h2 = _murmur3_x64_128(data)
            ours = h1.to_bytes(8, "little") + h2.to_bytes(8, "little")
            theirs = bytes(H.murmur3_128(0).hashBytes(data).asBytes())
            assert ours == theirs, f"murmur3_128 mismatch on {data[:16]!r}"

    def test_murmur3_32_matches_guava(self, spark):
        from cowsdb_spark.functions.ch_hashes import _murmur3_32

        H = spark.sparkContext._jvm.com.google.common.hash.Hashing
        for data in self.CASES:
            theirs = H.murmur3_32_fixed(0).hashBytes(data).asInt() & 0xFFFFFFFF
            assert _murmur3_32(data) == theirs, f"murmur3_32 mismatch on {data[:16]!r}"

    def test_siphash64_matches_guava(self, spark):
        from cowsdb_spark.functions.ch_hashes import _siphash64

        H = spark.sparkContext._jvm.com.google.common.hash.Hashing
        for data in self.CASES:
            theirs = H.sipHash24(0, 0).hashBytes(data).asLong() & 0xFFFFFFFFFFFFFFFF
            assert _siphash64(data) == theirs, f"siphash64 mismatch on {data[:16]!r}"

    def test_murmur2_64_spec_anchors(self):
        from cowsdb_spark.functions.ch_hashes import _murmur2_64a

        # empty input at seed 0 folds to 0 by construction
        assert _murmur2_64a(b"") == 0
        # determinism + all tail lengths 1..7 distinct from each other
        vals = {_murmur2_64a(b"x" * n) for n in range(1, 8)}
        assert len(vals) == 7
        assert _murmur2_64a(b"hello world") == _murmur2_64a(b"hello world")

    def test_wyhash_structure(self):
        from cowsdb_spark.functions.ch_hashes import _wyhash64

        # every size-class branch (0, <4, 4..16, 17..48, >48) runs and
        # produces 64-bit-stable, input-sensitive values
        sizes = [0, 3, 8, 16, 17, 48, 49, 200]
        vals = [_wyhash64(bytes(range(max(1, n)))[:n]) for n in sizes]
        assert len(set(vals)) == len(vals)
        for v in vals:
            assert 0 <= v <= 0xFFFFFFFFFFFFFFFF

    def test_engine_surface(self, spark):
        from cowsdb_spark.engine import Engine
        from cowsdb_spark.functions.ch_hashes import (
            _murmur2_64a,
            _murmur3_x64_128,
            _siphash64,
            _siphash128,
            _to_signed64,
            _wyhash64,
        )

        eng = Engine(spark)

        def one(q):
            return eng.execute(q + " AS r").decode().strip()

        s = b"hello world"
        h1, h2 = _murmur3_x64_128(s)
        assert one("SELECT murmurHash2_64('hello world')") == str(
            _to_signed64(_murmur2_64a(s))
        )
        assert one("SELECT murmurHash3_64('hello world')") == str(
            _to_signed64(h1 ^ h2)
        )
        assert one("SELECT sipHash64('hello world')") == str(
            _to_signed64(_siphash64(s))
        )
        assert one("SELECT wyHash64('hello world')") == str(
            _to_signed64(_wyhash64(s))
        )
        assert one("SELECT hex(sipHash128('hello world'))") == _siphash128(s).hex().upper()
        assert (
            one("SELECT hex(murmurHash3_128('hello world'))")
            == (h1.to_bytes(8, "little") + h2.to_bytes(8, "little")).hex().upper()
        )


class TestTruthyConditions:
    """CH conditions are UInt8 (nonzero = true); if()/multiIf()/ternary
    must accept numeric conditions like CH does."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    def test_if_numeric_condition(self, eng):
        assert eng.execute("SELECT if(1, 'y', 'n') AS r") == b"y\n"
        assert eng.execute(
            "SELECT if(number % 2, 'o', 'e') AS r FROM numbers(3) ORDER BY number"
        ) == b"e\no\ne\n"

    def test_if_boolean_condition_still_works(self, eng):
        assert eng.execute("SELECT if(1 = 1, 'y', 'n') AS r") == b"y\n"

    def test_multiif_numeric_conditions(self, eng):
        assert eng.execute("SELECT multiIf(0, 'a', 2, 'b', 'z') AS r") == b"b\n"

    def test_if_combinators_numeric_conditions(self, eng):
        assert eng.execute(
            "SELECT countIf(number % 2) AS c FROM numbers(10)"
        ) == b"5\n"
        assert eng.execute(
            "SELECT sumIf(number, number % 3) AS s FROM numbers(10)"
        ) == b"27\n"

    def test_quantiles_variant_spellings(self, eng):
        assert eng.execute(
            "SELECT quantileTiming(0.5)(number) AS q FROM numbers(100)"
        ) == b"49\n"
        assert eng.execute(
            "SELECT quantilesTiming(0.5, 0.9)(number) AS q FROM numbers(100)"
        ) == b"[49,89]\n"

    def test_where_having_truthy(self, eng):
        assert eng.execute(
            "SELECT number FROM numbers(5) WHERE number % 2 ORDER BY number"
        ) == b"1\n3\n"
        assert eng.execute(
            "SELECT number FROM numbers(3) WHERE number ORDER BY number"
        ) == b"1\n2\n"
        assert eng.execute(
            "SELECT number % 3 AS k, count() AS c FROM numbers(9) "
            "GROUP BY k HAVING count() % 2 ORDER BY k"
        ) == b"0\t3\n1\t3\n2\t3\n"

    # WHERE condition → the rows of numbers(6) it keeps, by CH truthiness
    OPERAND_CONDS = {
        "has([1, 2, 3], number) AND number % 2": lambda n: n in (1, 2, 3) and n % 2,
        "number BETWEEN 1 AND 3 AND number % 2": lambda n: 1 <= n <= 3 and n % 2,
        "NOT number % 2": lambda n: not n % 2,
        "number % 2 OR number = 4": lambda n: n % 2 or n == 4,
        "number > 0 AND NOT number % 3": lambda n: n > 0 and not n % 3,
        "CASE WHEN number > 1 AND number < 4 THEN 1 ELSE 0 END AND number % 2":
            lambda n: 1 < n < 4 and n % 2,
    }

    @pytest.mark.parametrize("cond", list(OPERAND_CONDS))
    def test_where_operands_truthy(self, eng, cond):
        # CH truthiness applies to each operand of AND/OR/NOT
        out = eng.execute(f"SELECT number FROM numbers(6) WHERE {cond} ORDER BY number")
        keep = self.OPERAND_CONDS[cond]
        assert out == b"".join(b"%d\n" % n for n in range(6) if keep(n))

    def test_array_predicate_lambdas_truthy(self, eng):
        assert eng.execute(
            "SELECT arrayFilter(x -> x % 2, [1,2,3]) AS f"
        ) == b"[1,3]\n"
        assert eng.execute(
            "SELECT arrayCount(x -> x % 2, [1,2,3]) AS c"
        ) == b"2\n"
        assert eng.execute(
            "SELECT arrayFirst(x -> x % 2 = 0, [1,2,3]) AS f"
        ) == b"2\n"
        assert eng.execute(
            "SELECT arrayExists(x -> x > 2, [1,2]) AS e"
        ) == b"false\n"

    def test_todatetime_timezone_form(self, eng):
        assert eng.execute(
            "SELECT toDateTime('2024-01-01 00:00:00', 'UTC') AS t"
        ) == b"2024-01-01 00:00:00\n"
        # wall time in New York (EDT, UTC-4) -> the UTC instant
        assert eng.execute(
            "SELECT toDateTime('2024-06-01 12:00:00', 'America/New_York') AS t"
        ) == b"2024-06-01 16:00:00\n"

    def test_gamma_functions(self, eng):
        assert eng.execute("SELECT tgamma(5) AS tg") == b"24\n"
        out = eng.execute("SELECT round(lgamma(5), 6) AS lg")
        assert out == b"3.178054\n"

    def test_parse_datetime_best_effort_formats(self, eng):
        assert eng.execute(
            "SELECT parseDateTimeBestEffort('15/Jan/2024 13:45:00') AS p"
        ) == b"2024-01-15 13:45:00\n"
        assert eng.execute(
            "SELECT parseDateTimeBestEffort('20240115134500') AS p"
        ) == b"2024-01-15 13:45:00\n"
        assert eng.execute(
            "SELECT parseDateTimeBestEffortOrNull('garbage') AS p"
        ) == b"\\N\n"

    def test_array_sort_keyed(self, eng):
        assert eng.execute("SELECT arraySort(x -> -x, [1,3,2]) AS s") == b"[3,2,1]\n"
        assert eng.execute(
            "SELECT arraySort(x -> length(x), ['ccc','a','bb']) AS s"
        ) == b"['a','bb','ccc']\n"
        assert eng.execute("SELECT arrayReverseSort([1,3,2]) AS s") == b"[3,2,1]\n"

    def test_cast_function_form_with_string_type(self, eng):
        assert eng.execute("SELECT CAST('5', 'Int64') + 1 AS n") == b"6\n"
        assert eng.execute(
            "SELECT CAST('[1,2]', 'Array(Int64)') AS a"
        ) == b"[1,2]\n"

    def test_to_type_or_default_family(self, eng):
        assert eng.execute("SELECT toInt64OrDefault('x', 42) AS d") == b"42\n"
        assert eng.execute("SELECT toUInt8OrDefault('300', 5) AS d") == b"5\n"
        assert eng.execute("SELECT toFloat64OrDefault('1.5', 9.0) AS d") == b"1.5\n"

    def test_nested_known_calls_inside_renamed_functions(self, eng):
        # RENAMES used to skip the whole call, hiding the argument
        # interior from every rewrite pass: greatest(toDateTime(x))
        # reached Spark with raw toDateTime
        assert eng.execute(
            "SELECT greatest(toDateTime('2024-01-01 00:00:00'), "
            "toDateTime('2024-01-02 00:00:00')) AS g"
        ) == b"2024-01-02 00:00:00\n"
        assert eng.execute(
            "SELECT least(toInt64('5'), toInt64('3')) AS l"
        ) == b"3\n"

    def test_summap_two_array_form(self, eng):
        # keys merge ACROSS rows: key 0 gets 0+2, key 1 gets 1+3,
        # key 2 gets 4 rows of 10
        out = eng.execute(
            "SELECT sumMap([number % 2, 2], [number, 10]) AS m FROM numbers(4)"
        )
        assert out == b"{0:2,1:4,2:40}\n"

    def test_truncate_numeric_and_date_forms(self, eng):
        assert eng.execute(
            "SELECT trunc(2.9) AS t, truncate(-2.9) AS n, truncate(2.567, 2) AS d"
        ) == b"2\t-2\t2.56\n"
        assert eng.execute(
            "SELECT trunc(toDate('2024-03-15'), 'MM') AS m"
        ) == b"2024-03-01\n"

    def test_comparison_function_spellings(self, eng):
        assert eng.execute(
            "SELECT equals(1,1) AS e, notEquals(1,2) AS n, "
            "less(1,2) AS l, greaterOrEquals(2,2) AS g"
        ) == b"true\ttrue\ttrue\ttrue\n"

    def test_clause_keyword_named_columns_in_conditions(self, eng):
        # r6 (ADVICE): columns named offset/format/settings/group/…
        # used INSIDE a condition must not be mistaken for clause
        # starts by the boolean() wrapper
        assert eng.execute(
            "SELECT number FROM (SELECT number, number AS offset "
            "FROM numbers(10)) WHERE number > 1 AND offset < 5 "
            "ORDER BY number"
        ) == b"2\n3\n4\n"
        assert eng.execute(
            "SELECT number FROM (SELECT number, number AS format "
            "FROM numbers(5)) WHERE number > format - 1 ORDER BY number"
        ) == b"0\n1\n2\n3\n4\n"
        # real clauses after a truthy condition still close the wrapper
        assert eng.execute(
            "SELECT number % 2 AS k FROM numbers(6) WHERE number % 2 "
            "GROUP BY k ORDER BY k LIMIT 1"
        ) == b"1\n"
        assert eng.execute(
            "SELECT number FROM numbers(10) WHERE number % 2 "
            "ORDER BY number LIMIT 2 OFFSET 1"
        ) == b"3\n5\n"

    def test_lambda_param_not_renamed_in_string_literals(self, eng):
        # r6 (ADVICE): arraySort key-lambda rename must be token-aware
        assert eng.execute(
            "SELECT arraySort(x -> concat(x, 'x'), ['b','a','c']) AS r"
        ) == b"['a','b','c']\n"
        assert eng.execute(
            "SELECT arrayReverseSort(x -> concat('x', x), ['b','a','c']) AS r"
        ) == b"['c','b','a']\n"
        assert eng.execute(
            "SELECT mapApply((k, v) -> (concat(k, 'k'), v + 1), "
            "map('a', 1)) AS r"
        ) == b"{'ak':2}\n"

    def test_todatetime_tz_numeric_keeps_instant(self, eng):
        # r6 (ADVICE): tz arg is display-only for numeric/DateTime
        # inputs; only strings are parsed as wall time in the zone
        assert eng.execute(
            "SELECT toDateTime(0, 'Asia/Tokyo') AS t"
        ) == b"1970-01-01 00:00:00\n"
        assert eng.execute(
            "SELECT toDateTime('2020-01-01 00:00:00', 'Asia/Tokyo') AS t"
        ) == b"2019-12-31 15:00:00\n"
        assert eng.execute(
            "SELECT toDateTime(toDateTime('2020-01-01 00:00:00'), "
            "'Asia/Tokyo') AS t"
        ) == b"2020-01-01 00:00:00\n"

    def test_gamma_poles_do_not_fail(self, eng):
        # r6 (ADVICE): CH returns inf/nan at the poles; the query must
        # not raise (NaN arrives as NULL through the Arrow boundary)
        assert eng.execute("SELECT lgamma(0) AS a, lgamma(-1) AS b") == (
            b"inf\tinf\n"
        )
        out = eng.execute("SELECT tgamma(0) AS a, tgamma(-2) AS b")
        assert out in (b"inf\tnan\n", b"inf\t\\N\n")


class TestFunctionTablesRegisterOnce:
    """A key assigned twice in one of ``dialect/functions.py``'s
    module-level tables, or a function defined twice, leaves a dead
    first registration that the later one silently overwrites."""

    def test_no_key_or_function_is_registered_twice(self):
        import ast
        import inspect

        from cowsdb_spark.dialect import functions

        tree = ast.parse(inspect.getsource(functions))
        seen: dict = {}
        dups = []

        def note(table, key, line):
            if (table, key) in seen:
                dups.append(f"{table}[{key!r}] at {seen[table, key]} and {line}")
            seen[table, key] = line

        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                note("def", node.name, node.lineno)
            elif isinstance(node, ast.Delete):
                for d in node.targets:
                    if isinstance(d, ast.Subscript) and isinstance(d.slice, ast.Constant):
                        seen.pop((ast.unparse(d.value), d.slice.value), None)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                tgt = node.target if isinstance(node, ast.AnnAssign) else node.targets[0]
                if isinstance(tgt, ast.Name) and isinstance(node.value, ast.Dict):
                    for k in node.value.keys:
                        if isinstance(k, ast.Constant):
                            note(tgt.id, k.value, k.lineno)
                elif isinstance(tgt, ast.Subscript) and isinstance(tgt.slice, ast.Constant):
                    note(ast.unparse(tgt.value), tgt.slice.value, node.lineno)
        assert not dups, dups


class TestInsertHeader:
    """``dialect.insert``: the one reader of an INSERT's target."""

    @pytest.mark.parametrize(
        "sql, ref, columns, body",
        [
            ("INSERT INTO t SELECT 1", "t", [], "SELECT 1"),
            ("insert into db.t (a, `b c`) VALUES (1, 2)", "db.t", ["a", "b c"], "VALUES (1, 2)"),
            ("INSERT INTO `d`.`t`(a)FORMAT TSV\n1", "`d`.`t`", ["a"], "FORMAT TSV\n1"),
            ("INSERT /* c */ INTO TABLE t WITH x AS (SELECT 1) SELECT * FROM x",
             "t", [], "WITH x AS (SELECT 1) SELECT * FROM x"),
            ("INSERT INTO t (a, b) VALUES", "t", ["a", "b"], "VALUES"),
        ],
    )
    def test_parts(self, sql, ref, columns, body):
        from cowsdb_spark.dialect.insert import parse_insert

        hdr = parse_insert(sql)
        assert (hdr.ref, hdr.columns, sql[hdr.body_at :].strip()) == (ref, columns, body)

    @pytest.mark.parametrize(
        "sql", ["SELECT 1", "INSERT INTO SELECT 1", "INSERT INTO FUNCTION file('x')", "INSERT INTO t (a"]
    )
    def test_not_an_insert_header(self, sql):
        from cowsdb_spark.dialect.insert import parse_insert

        assert parse_insert(sql) is None

    @pytest.mark.parametrize(
        "ref, parts",
        [("t", (None, "t")), ("db.t", ("db", "t")), ("`my db` . `t`", ("my db", "t"))],
    )
    def test_split_ref(self, ref, parts):
        from cowsdb_spark.dialect.insert import split_ref

        assert split_ref(ref) == parts

    def test_values_default_keyword_and_tuples(self):
        from cowsdb_spark.dialect.insert import values_query

        assert values_query("VALUES (1, DEFAULT), (DEFAULT, 2)", ["7", "'hi'"]) == (
            "VALUES (1, ('hi')), ((7), 2)"
        )
        assert values_query("VALUES ((1, 'x'), DEFAULT)", ["NULL", "3"]).strip() == (
            "SELECT struct(1, 'x'), (3)"
        )
