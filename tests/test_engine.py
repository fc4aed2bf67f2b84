"""End-to-end engine tests — the reference test suite's coverage
map (SURVEY §5.1) re-expressed against our engine API:
literal matrix (test_suite.py:138-161), DDL round-trip (:308-318),
numbers(N) (:320-329), mixed expressions (:331-351), edge values
(:353-365), session/auth matrix (:367-390)."""

from __future__ import annotations

import json

import pytest

from cowsdb_spark.engine import Engine, EngineError


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


class TestLiterals:
    def test_select_1(self, engine):
        assert engine.execute("SELECT 1 AS num") == b"1\n"

    def test_literal_matrix(self, engine):
        out = engine.execute("SELECT 1 AS i, 'hello' AS s, 3.14 AS f, 1.5 AS h")
        assert out == b"1\thello\t3.14\t1.5\n"

    def test_edge_values(self, engine):
        # test_suite.py:355-361
        out = engine.execute("SELECT 0 AS a, 255 AS b, 65535 AS c, 4294967295 AS d")
        assert out == b"0\t255\t65535\t4294967295\n"


class TestFormats:
    def test_format_clause_overrides(self, engine):
        doc = json.loads(engine.execute("SELECT 1 AS num FORMAT JSON", fmt="TSV"))
        assert doc["data"] == [{"num": 1}]
        assert doc["meta"][0]["type"].startswith("Int")

    def test_default_format_param(self, engine):
        doc = json.loads(engine.execute("SELECT 1 AS num", fmt="JSONCompact"))
        assert doc["data"] == [[1]]

    def test_max_result_rows_setting(self, engine):
        out = engine.execute(
            "SELECT number FROM numbers(100) ORDER BY number SETTINGS max_result_rows=5"
        )
        assert out == b"0\n1\n2\n3\n4\n"

    def test_max_result_rows_counts_returned_rows(self, engine):
        # the stats, X-ClickHouse-Summary and system.query_log count
        # the rows actually returned, not one more
        _body, _fmt, stats = engine.execute_with_format(
            "SELECT number FROM numbers(100) ORDER BY number SETTINGS max_result_rows=5",
            user="mrr_count",
        )
        assert stats["result_rows"] == 5
        logged = engine.execute("SELECT result_rows FROM system.query_log", user="mrr_count")
        assert logged == b"5\n"


class TestNumbers:
    def test_numbers_multirow(self, engine):
        # test_suite.py:323-325
        out = engine.execute("SELECT number FROM numbers(5) ORDER BY number")
        assert out == b"0\n1\n2\n3\n4\n"

    def test_numbers_expressions(self, engine):
        # test_suite.py:334-336
        out = engine.execute(
            "SELECT toString(number) AS s, number * 2 AS d FROM numbers(3) ORDER BY number"
        )
        assert out == b"0\t0\n1\t2\n2\t4\n"


class TestDDLAndSessions:
    def test_create_insert_select_drop(self, engine):
        # test_suite.py:308-318 shape
        engine.execute("CREATE DATABASE IF NOT EXISTS `testdb`")
        engine.execute(
            "CREATE TABLE IF NOT EXISTS testdb.test_table (id UInt32, name String) ENGINE=Memory"
        )
        engine.execute("INSERT INTO testdb.test_table VALUES (1, 'one'), (2, 'two')")
        out = engine.execute("SELECT id, name FROM testdb.test_table ORDER BY id")
        assert out == b"1\tone\n2\ttwo\n"
        engine.execute("DROP TABLE IF EXISTS testdb.test_table")
        engine.execute("DROP DATABASE IF EXISTS testdb")

    def test_use_statement_prefix(self, engine):
        # main.py:859-860 semantics: USE db; SELECT …
        engine.execute("CREATE DATABASE IF NOT EXISTS udb")
        engine.execute("USE udb; CREATE TABLE t1 (x Int64) ENGINE=Memory")
        engine.execute("USE udb; INSERT INTO t1 VALUES (42)")
        assert engine.execute("USE udb; SELECT x FROM t1") == b"42\n"
        engine.execute("DROP DATABASE IF EXISTS udb")

    def test_sessions_isolated_per_credentials(self, engine):
        # test_suite.py:367-390: different creds → different catalogs
        engine.execute("CREATE TABLE iso (x Int64) ENGINE=Memory", user="alice", password="a")
        engine.execute("INSERT INTO iso VALUES (1)", user="alice", password="a")
        assert engine.execute("SELECT x FROM iso", user="alice", password="a") == b"1\n"
        with pytest.raises(EngineError):
            engine.execute("SELECT x FROM iso", user="bob", password="b")

    def test_insert_select(self, engine):
        engine.execute("CREATE TABLE src (v Int64) ENGINE=Memory")
        engine.execute("CREATE TABLE dst (v Int64) ENGINE=Memory")
        engine.execute("INSERT INTO src VALUES (1), (2), (3)")
        engine.execute("INSERT INTO dst SELECT v FROM src WHERE v > 1")
        assert engine.execute("SELECT sum(v) AS s FROM dst") == b"5\n"
        engine.execute("DROP TABLE src")
        engine.execute("DROP TABLE dst")


class TestErrors:
    def test_bad_sql_raises_engine_error(self, engine):
        with pytest.raises(EngineError) as ei:
            engine.execute("SELECT FROM WHERE")
        assert "Code:" in str(ei.value)

    def test_missing_table(self, engine):
        with pytest.raises(EngineError):
            engine.execute("SELECT * FROM no_such_table_xyz")


class TestMergeTreeOrderBy:
    """ENGINE=MergeTree ORDER BY (test.yml:49 shape): inserts sort
    within partitions so parquet row-group min/max stats provide the
    data skipping a CH sparse primary index gives (SURVEY §4.2)."""

    def test_insert_select_lands_sorted(self, engine, tmp_path):
        import glob

        import pyarrow.parquet as pq

        engine.execute("DROP TABLE IF EXISTS mtorder")
        engine.execute(
            "CREATE TABLE mtorder (k Int64, v Int64) ENGINE=MergeTree() ORDER BY (k)"
        )
        engine.execute("INSERT INTO mtorder SELECT number % 97, number FROM numbers(20000)")
        sess = engine.get_session()
        rows = engine.spark.sql(
            f"DESCRIBE TABLE EXTENDED `{sess.spark_db()}`.mtorder"
        ).collect()
        loc = [r[1] for r in rows if r[0] == "Location"][0]
        files = glob.glob(loc.replace("file:", "") + "/*.parquet")
        assert files
        for f in files:
            ks = pq.read_table(f, columns=["k"])["k"].to_pylist()
            assert all(a <= b for a, b in zip(ks, ks[1:])), f"unsorted file {f}"
        assert engine.execute("SELECT count(*) AS c FROM mtorder") == b"20000\n"
        engine.execute("DROP TABLE mtorder")

    def test_values_insert_still_works_on_ordered_table(self, engine):
        engine.execute("DROP TABLE IF EXISTS mtv")
        engine.execute("CREATE TABLE mtv (k Int64) ENGINE=MergeTree() ORDER BY (k)")
        engine.execute("INSERT INTO mtv VALUES (3), (1), (2)")
        assert engine.execute("SELECT k FROM mtv ORDER BY k") == b"1\n2\n3\n"
        engine.execute("DROP TABLE mtv")

    def test_insert_select_into_tuple_ordered_table(self, engine):
        # ORDER BY tuple() declares no sort keys: nothing to sort on
        engine.execute("DROP TABLE IF EXISTS mtt")
        engine.execute("CREATE TABLE mtt (k Int64) ENGINE=MergeTree() ORDER BY tuple()")
        engine.execute("INSERT INTO mtt SELECT 3 AS k")
        assert engine.execute("SELECT k FROM mtt") == b"3\n"
        engine.execute("DROP TABLE mtt")


class TestChErrorCodes:
    """CH ErrorCodes parity: the reference surfaces chDB's numeric
    codes in the error text (main.py:823-847); we map Spark error
    classes onto the same public numbering."""

    def _code(self, engine, sql):
        with pytest.raises(EngineError) as ei:
            engine.execute(sql)
        return ei.value.code

    def test_unknown_table_60(self, engine):
        assert self._code(engine, "SELECT * FROM no_such_tbl") == 60

    def test_unknown_identifier_47(self, engine):
        engine.execute("CREATE TABLE ec47 (x Int64) ENGINE=Memory")
        assert self._code(engine, "SELECT nope FROM ec47") == 47
        engine.execute("DROP TABLE ec47")

    def test_syntax_error_62(self, engine):
        assert self._code(engine, "SELECT (1") == 62

    def test_unknown_function_46(self, engine):
        assert self._code(engine, "SELECT definitely_not_a_function(1)") == 46


class TestWithTotals:
    """GROUP BY … WITH TOTALS (CH surface; rewritten to GROUPING SETS
    + grouping_id split in the engine)."""

    def test_tsv_blank_line_then_totals(self, engine):
        out = engine.execute(
            "SELECT number % 3 AS g, sum(number) AS s FROM numbers(10) "
            "GROUP BY g WITH TOTALS ORDER BY g"
        )
        assert out == b"0\t18\n1\t12\n2\t15\n\n0\t45\n"

    def test_json_totals_field(self, engine):
        import json

        out = engine.execute(
            "SELECT number % 3 AS g, sum(number) AS s FROM numbers(10) "
            "GROUP BY g WITH TOTALS ORDER BY g",
            fmt="JSON",
        )
        d = json.loads(out)
        assert d["totals"] == {"g": 0, "s": 45} and d["rows"] == 3

    def test_jsoncompact_totals_array(self, engine):
        import json

        out = engine.execute(
            "SELECT number % 2 AS g, count(*) AS c FROM numbers(6) "
            "GROUP BY g WITH TOTALS ORDER BY g",
            fmt="JSONCompact",
        )
        d = json.loads(out)
        assert d["totals"] == [0, 6]

    def test_string_key_defaults_to_empty(self, engine):
        out = engine.execute(
            "SELECT toString(number % 2) AS g, count(*) AS c FROM numbers(4) "
            "GROUP BY g WITH TOTALS ORDER BY g"
        )
        assert out.endswith(b"\n\n\t4\n")  # '' key, total count

    def test_without_totals_unchanged(self, engine):
        out = engine.execute(
            "SELECT number % 2 AS g, count(*) AS c FROM numbers(4) GROUP BY g ORDER BY g"
        )
        assert out == b"0\t2\n1\t2\n"


class TestMutations:
    """CH mutation/maintenance statements (ALTER … UPDATE/DELETE,
    lightweight DELETE, TRUNCATE, RENAME, ADD/DROP COLUMN, OPTIMIZE,
    EXISTS TABLE) — delegated-only surface in the reference
    (main.py:190); here implemented as stage-and-swap rewrites."""

    def _mk(self, engine, name, order_by=False):
        ob = " ENGINE=MergeTree() ORDER BY (id)" if order_by else " ENGINE=Memory"
        engine.execute(f"DROP TABLE IF EXISTS {name}")
        engine.execute(f"CREATE TABLE {name} (id UInt32, v String){ob}")
        engine.execute(f"INSERT INTO {name} VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")

    def test_alter_delete(self, engine):
        self._mk(engine, "mut1")
        engine.execute("ALTER TABLE mut1 DELETE WHERE id % 2 = 0")
        assert engine.execute("SELECT id FROM mut1 ORDER BY id") == b"1\n3\n"
        engine.execute("DROP TABLE mut1")

    def test_lightweight_delete(self, engine):
        self._mk(engine, "mut2")
        engine.execute("DELETE FROM mut2 WHERE v = 'a'")
        assert engine.execute("SELECT count(*) AS c FROM mut2") == b"3\n"
        engine.execute("DROP TABLE mut2")

    def test_alter_update(self, engine):
        self._mk(engine, "mut3")
        engine.execute("ALTER TABLE mut3 UPDATE v = upper(v), id = id + 10 WHERE id <= 2")
        out = engine.execute("SELECT id, v FROM mut3 ORDER BY id")
        assert out == b"3\tc\n4\td\n11\tA\n12\tB\n"
        engine.execute("DROP TABLE mut3")

    def test_update_preserves_order_by_property(self, engine):
        self._mk(engine, "mut4", order_by=True)
        engine.execute("ALTER TABLE mut4 UPDATE v = 'x' WHERE id = 1")
        # table property survives the swap → later sorted inserts still work
        engine.execute("INSERT INTO mut4 SELECT 5 AS id, 'e' AS v")
        assert engine.execute("SELECT v FROM mut4 WHERE id IN (1, 5) ORDER BY id") == b"x\ne\n"
        engine.execute("DROP TABLE mut4")

    def test_truncate(self, engine):
        self._mk(engine, "mut5")
        engine.execute("TRUNCATE TABLE mut5")
        assert engine.execute("SELECT count(*) AS c FROM mut5") == b"0\n"
        engine.execute("DROP TABLE mut5")

    def test_rename(self, engine):
        self._mk(engine, "mut6")
        engine.execute("DROP TABLE IF EXISTS mut6_renamed")
        engine.execute("RENAME TABLE mut6 TO mut6_renamed")
        assert engine.execute("SELECT count(*) AS c FROM mut6_renamed") == b"4\n"
        assert engine.execute("EXISTS TABLE mut6") == b"0\n"
        engine.execute("DROP TABLE mut6_renamed")

    def test_exists_table(self, engine):
        self._mk(engine, "mut7")
        assert engine.execute("EXISTS TABLE mut7") == b"1\n"
        assert engine.execute("EXISTS no_such_table_qq") == b"0\n"
        engine.execute("DROP TABLE mut7")

    def test_add_column_with_default_backfills(self, engine):
        self._mk(engine, "mut8")
        engine.execute("ALTER TABLE mut8 ADD COLUMN flag UInt8 DEFAULT 7")
        assert engine.execute("SELECT sum(flag) AS s FROM mut8") == b"28\n"
        engine.execute("ALTER TABLE mut8 ADD COLUMN IF NOT EXISTS flag UInt8")  # no-op
        engine.execute("DROP TABLE mut8")

    def test_add_column_no_default_is_metadata_only(self, engine):
        self._mk(engine, "mut9")
        engine.execute("ALTER TABLE mut9 ADD COLUMN note String")
        assert engine.execute("SELECT count(note) AS c FROM mut9") == b"0\n"
        engine.execute("DROP TABLE mut9")

    def test_drop_column(self, engine):
        self._mk(engine, "mut10")
        engine.execute("ALTER TABLE mut10 DROP COLUMN v")
        out = engine.execute("SELECT * FROM mut10 ORDER BY id LIMIT 1")
        assert out == b"1\n"
        engine.execute("DROP TABLE mut10")

    def test_optimize_compacts(self, engine):
        self._mk(engine, "mut11", order_by=True)
        for i in range(5, 9):
            engine.execute(f"INSERT INTO mut11 VALUES ({i}, 'z')")
        engine.execute("OPTIMIZE TABLE mut11 FINAL")
        assert engine.execute("SELECT count(*) AS c, sum(id) AS s FROM mut11") == b"8\t36\n"
        engine.execute("DROP TABLE mut11")


class TestViews:
    """CREATE VIEW / CREATE MATERIALIZED VIEW (delegated-only in the
    reference, main.py:190). MVs follow CH semantics: the SELECT is an
    insert trigger — each inserted block is transformed and appended
    to the MV storage; POPULATE backfills at creation; TO routes
    storage to an existing table."""

    def test_plain_view_with_ch_spellings(self, engine):
        engine.execute("DROP TABLE IF EXISTS vsrc")
        engine.execute("CREATE TABLE vsrc (id UInt32, d Date) ENGINE=Memory")
        engine.execute("INSERT INTO vsrc VALUES (1, '2024-01-15'), (2, '2024-02-20')")
        engine.execute("DROP VIEW IF EXISTS v1")
        engine.execute("CREATE VIEW v1 AS SELECT id, toYYYYMM(d) AS ym FROM vsrc")
        assert engine.execute("SELECT ym FROM v1 ORDER BY id") == b"202401\n202402\n"
        engine.execute("DROP VIEW v1")
        engine.execute("DROP TABLE vsrc")

    def test_mv_populate_and_insert_trigger(self, engine):
        engine.execute("DROP TABLE IF EXISTS mvsrc")
        engine.execute("CREATE TABLE mvsrc (k String, v Int64) ENGINE=Memory")
        engine.execute("INSERT INTO mvsrc VALUES ('a', 1), ('b', 2)")
        engine.execute("DROP TABLE IF EXISTS mv1")
        engine.execute(
            "CREATE MATERIALIZED VIEW mv1 ENGINE=Memory POPULATE AS "
            "SELECT k, v * 10 AS v10 FROM mvsrc"
        )
        # POPULATE backfilled existing rows
        assert engine.execute("SELECT sum(v10) AS s FROM mv1") == b"30\n"
        # inserts into the source propagate through the MV SELECT
        engine.execute("INSERT INTO mvsrc VALUES ('c', 3)")
        assert engine.execute("SELECT sum(v10) AS s FROM mv1") == b"60\n"
        engine.execute("DROP VIEW mv1")
        engine.execute("DROP TABLE mvsrc")

    def test_mv_without_populate_starts_empty(self, engine):
        engine.execute("DROP TABLE IF EXISTS mvsrc2")
        engine.execute("CREATE TABLE mvsrc2 (x Int64) ENGINE=Memory")
        engine.execute("INSERT INTO mvsrc2 VALUES (5)")
        engine.execute("DROP TABLE IF EXISTS mv2")
        engine.execute("CREATE MATERIALIZED VIEW mv2 AS SELECT x + 1 AS y FROM mvsrc2")
        assert engine.execute("SELECT count(*) AS c FROM mv2") == b"0\n"
        engine.execute("INSERT INTO mvsrc2 SELECT number FROM numbers(3)")
        assert engine.execute("SELECT sum(y) AS s FROM mv2") == b"6\n"
        engine.execute("DROP TABLE mv2")
        engine.execute("DROP TABLE mvsrc2")

    def test_drop_by_other_case_forgets_mv(self, engine):
        # Spark drops `mv` for DROP TABLE MV; the MV registry must
        # forget it too, or the next INSERT into the source fails
        # after its rows are written
        u = {"user": "mvcase_drop"}
        engine.execute("CREATE TABLE Src (x Int64) ENGINE=Memory", **u)
        engine.execute("CREATE MATERIALIZED VIEW mv ENGINE=Memory AS SELECT x * 10 AS x FROM Src", **u)
        engine.execute("INSERT INTO Src VALUES (1)", **u)
        engine.execute("DROP TABLE MV", **u)
        engine.execute("INSERT INTO Src VALUES (2)", **u)
        assert engine.execute("SELECT x FROM Src ORDER BY x", **u) == b"1\n2\n"

    def test_insert_by_other_case_feeds_mv(self, engine):
        u = {"user": "mvcase_insert"}
        engine.execute("CREATE TABLE Src (x Int64) ENGINE=Memory", **u)
        engine.execute("CREATE MATERIALIZED VIEW mv ENGINE=Memory AS SELECT x * 10 AS x FROM Src", **u)
        engine.execute("INSERT INTO Src VALUES (1)", **u)
        engine.execute("INSERT INTO src VALUES (2)", **u)
        assert engine.execute("SELECT x FROM Src ORDER BY x", **u) == b"1\n2\n"
        assert engine.execute("SELECT x FROM mv ORDER BY x", **u) == b"10\n20\n"

    def test_mv_aggregating_into_to_table(self, engine):
        engine.execute("DROP TABLE IF EXISTS evsrc")
        engine.execute("CREATE TABLE evsrc (site String, hits Int64) ENGINE=Memory")
        engine.execute("DROP TABLE IF EXISTS ev_rollup")
        engine.execute("CREATE TABLE ev_rollup (site String, total Int64) ENGINE=Memory")
        engine.execute("DROP VIEW IF EXISTS mv3")
        engine.execute(
            "CREATE MATERIALIZED VIEW mv3 TO ev_rollup AS "
            "SELECT site, sum(hits) AS total FROM evsrc GROUP BY site"
        )
        engine.execute("INSERT INTO evsrc VALUES ('x', 2), ('x', 3), ('y', 1)")
        out = engine.execute("SELECT site, total FROM ev_rollup ORDER BY site")
        assert out == b"x\t5\ny\t1\n"
        # reading through the MV name reads the TO table
        assert engine.execute("SELECT sum(total) AS s FROM mv3") == b"6\n"
        engine.execute("DROP VIEW mv3")
        engine.execute("DROP TABLE ev_rollup")
        engine.execute("DROP TABLE evsrc")


class TestInlineDataInsert:
    """INSERT INTO t [(cols)] FORMAT X + inline data — the standard CH
    HTTP ingestion path (reference: combined query+body string handed
    to chDB at main.py:190)."""

    def _mk(self, engine):
        engine.execute("DROP TABLE IF EXISTS ins1")
        engine.execute("CREATE TABLE ins1 (id UInt32, name String, score Float64) ENGINE=Memory")

    def test_tsv_body(self, engine):
        self._mk(engine)
        engine.execute("INSERT INTO ins1 FORMAT TSV\n1\talpha\t1.5\n2\t\\N\t2.5")
        out = engine.execute("SELECT id, name, score FROM ins1 ORDER BY id")
        assert out == b"1\talpha\t1.5\n2\t\\N\t2.5\n"

    def test_csv_with_column_subset(self, engine):
        self._mk(engine)
        engine.execute("INSERT INTO ins1 (id, name) FORMAT CSV\n3,gamma\n4,delta")
        out = engine.execute("SELECT id, name, score FROM ins1 ORDER BY id")
        assert out == b"3\tgamma\t\\N\n4\tdelta\t\\N\n"

    def test_json_each_row(self, engine):
        self._mk(engine)
        engine.execute(
            'INSERT INTO ins1 FORMAT JSONEachRow\n'
            '{"id": 5, "name": "eps", "score": 0.5}\n{"id": 6, "score": 9.0}'
        )
        out = engine.execute("SELECT id, name FROM ins1 ORDER BY id")
        assert out == b"5\teps\n6\t\\N\n"

    def test_values_format(self, engine):
        self._mk(engine)
        engine.execute("INSERT INTO ins1 FORMAT Values\n(7, 'eta', 1.0), (8, 'theta', 2.0)")
        assert engine.execute("SELECT count(*) AS c FROM ins1") == b"2\n"

    def test_tsv_with_names_header(self, engine):
        self._mk(engine)
        engine.execute("INSERT INTO ins1 FORMAT TSVWithNames\nname\tid\nzeta\t9")
        out = engine.execute("SELECT id, name, score FROM ins1")
        assert out == b"9\tzeta\t\\N\n"

    def test_feeds_materialized_view(self, engine):
        self._mk(engine)
        engine.execute("DROP TABLE IF EXISTS ins_mv")
        engine.execute(
            "CREATE MATERIALIZED VIEW ins_mv AS SELECT id * 2 AS id2 FROM ins1"
        )
        engine.execute("INSERT INTO ins1 FORMAT TSV\n10\tx\t0.0")
        assert engine.execute("SELECT id2 FROM ins_mv") == b"20\n"
        engine.execute("DROP TABLE ins_mv")
        engine.execute("DROP TABLE ins1")

    def test_mv_cascade(self, engine):
        engine.execute("DROP TABLE IF EXISTS casc_src")
        engine.execute("CREATE TABLE casc_src (x Int64) ENGINE=Memory")
        engine.execute("DROP TABLE IF EXISTS casc_a")
        engine.execute("CREATE MATERIALIZED VIEW casc_a AS SELECT x * 2 AS x2 FROM casc_src")
        engine.execute("DROP TABLE IF EXISTS casc_b")
        engine.execute("CREATE MATERIALIZED VIEW casc_b AS SELECT x2 + 1 AS x3 FROM casc_a")
        engine.execute("INSERT INTO casc_src VALUES (10)")
        assert engine.execute("SELECT x2 FROM casc_a") == b"20\n"
        assert engine.execute("SELECT x3 FROM casc_b") == b"21\n"
        engine.execute("DROP TABLE casc_b")
        engine.execute("DROP TABLE casc_a")
        engine.execute("DROP TABLE casc_src")


class TestSessionSettings:
    """SET statements persist per credential pair (CH session
    semantics); we honor default_format and max_result_rows and
    silently accept the rest (SURVEY §1.3)."""

    def test_set_default_format_persists(self, engine):
        engine.execute("SET default_format = 'JSONCompact'", user="su1", password="x")
        out = engine.execute("SELECT 1 AS v", user="su1", password="x")
        assert out.lstrip().startswith(b"{")

    def test_explicit_format_overrides_session(self, engine):
        engine.execute("SET default_format = 'JSONCompact'", user="su2", password="x")
        assert engine.execute("SELECT 1 AS v", fmt="TSV", user="su2", password="x") == b"1\n"

    def test_set_max_result_rows(self, engine):
        engine.execute("SET max_result_rows = 3", user="su3", password="x")
        out = engine.execute("SELECT number FROM numbers(10) ORDER BY number", user="su3", password="x")
        assert out == b"0\n1\n2\n"

    def test_settings_isolated_per_credentials(self, engine):
        engine.execute("SET default_format = 'JSONCompact'", user="su4", password="x")
        assert engine.execute("SELECT 1 AS v", user="su5", password="x") == b"1\n"

    def test_unknown_settings_accepted(self, engine):
        engine.execute("SET max_threads = 8, join_use_nulls = 1", user="su6", password="x")
        assert engine.execute("SELECT 1 AS v", user="su6", password="x") == b"1\n"


class TestWithFill:
    """ORDER BY … WITH FILL (CH time-series gap filling): missing axis
    values materialize as rows with defaulted columns (0/'')."""

    def _mk(self, engine):
        engine.execute("DROP TABLE IF EXISTS wfill")
        engine.execute("CREATE TABLE wfill (x Int64, v Float64, s String)")
        engine.execute("INSERT INTO wfill VALUES (1, 10.0, 'a'), (4, 40.0, 'b')")

    def test_fill_gaps_with_defaults(self, engine):
        self._mk(engine)
        out = engine.execute("SELECT x, v, s FROM wfill ORDER BY x WITH FILL")
        assert out == b"1\t10\ta\n2\t0\t\n3\t0\t\n4\t40\tb\n"
        engine.execute("DROP TABLE wfill")

    def test_fill_from_to_exclusive(self, engine):
        self._mk(engine)
        out = engine.execute("SELECT x, v, s FROM wfill ORDER BY x WITH FILL FROM 0 TO 4")
        # TO is exclusive for generated rows; the real x=4 row stays
        assert out == b"0\t0\t\n1\t10\ta\n2\t0\t\n3\t0\t\n4\t40\tb\n"
        engine.execute("DROP TABLE wfill")

    def test_fill_step(self, engine):
        self._mk(engine)
        out = engine.execute("SELECT x, v, s FROM wfill ORDER BY x WITH FILL STEP 3")
        assert out == b"1\t10\ta\n4\t40\tb\n"
        engine.execute("DROP TABLE wfill")

    def test_interpolate_carry_and_expr(self, engine):
        # INTERPOLATE (v AS v + 1, s): filled rows step v from the
        # previous row's value; bare column carries forward
        self._mk(engine)
        out = engine.execute(
            "SELECT x, v, s FROM wfill ORDER BY x "
            "WITH FILL INTERPOLATE (v AS v + 1, s)"
        )
        assert out == b"1\t10\ta\n2\t11\ta\n3\t12\ta\n4\t40\tb\n"
        engine.execute("DROP TABLE wfill")

    def test_interpolate_before_first_real_row_defaults(self, engine):
        self._mk(engine)
        out = engine.execute(
            "SELECT x, v, s FROM wfill ORDER BY x "
            "WITH FILL FROM 0 INTERPOLATE (v)"
        )
        # x=0 precedes every real row: no previous value, default 0
        assert out == b"0\t0\t\n1\t10\ta\n2\t10\t\n3\t10\t\n4\t40\tb\n"
        engine.execute("DROP TABLE wfill")

    def test_fill_dates(self, engine):
        engine.execute("DROP TABLE IF EXISTS wfd2")
        engine.execute("CREATE TABLE wfd2 (d Date, c Int64)")
        engine.execute("INSERT INTO wfd2 VALUES ('2024-01-01', 5), ('2024-01-03', 7)")
        out = engine.execute("SELECT d, c FROM wfd2 ORDER BY d WITH FILL")
        assert out == b"2024-01-01\t5\n2024-01-02\t0\n2024-01-03\t7\n"
        engine.execute("DROP TABLE wfd2")


class TestReplacingFinal:
    """FROM t FINAL on ReplacingMergeTree: keep-latest dedup over the
    MergeTree ORDER BY key (ver column picks the survivor when
    declared). Reference behavior via chDB's MergeTree implementation;
    non-Replacing tables drop FINAL (no unmerged-parts state)."""

    def test_final_dedups_by_version(self, engine):
        engine.execute("DROP TABLE IF EXISTS rmt")
        engine.execute(
            "CREATE TABLE rmt (k Int64, v String, ver Int64) "
            "ENGINE=ReplacingMergeTree(ver) ORDER BY k"
        )
        engine.execute("INSERT INTO rmt VALUES (1,'a',1), (1,'b',2), (2,'x',5)")
        assert engine.execute("SELECT count() AS c FROM rmt") == b"3\n"
        out = engine.execute("SELECT k, v, ver FROM rmt FINAL ORDER BY k")
        assert out == b"1\tb\t2\n2\tx\t5\n"
        # alias form
        out = engine.execute("SELECT r.k, r.v FROM rmt AS r FINAL ORDER BY r.k")
        assert out == b"1\tb\n2\tx\n"
        engine.execute("DROP TABLE rmt")

    def test_final_without_version_collapses_keys(self, engine):
        engine.execute("DROP TABLE IF EXISTS rmt2")
        engine.execute(
            "CREATE TABLE rmt2 (k Int64, v String) "
            "ENGINE=ReplacingMergeTree ORDER BY k"
        )
        engine.execute("INSERT INTO rmt2 VALUES (1,'a'), (1,'b'), (2,'x')")
        assert engine.execute("SELECT count() AS c FROM rmt2 FINAL") == b"2\n"
        engine.execute("DROP TABLE rmt2")

    def test_final_with_function_sort_key(self, engine):
        # ORDER BY (id, toYYYYMM(d)) — the key list must split on
        # TOP-LEVEL commas only; shearing the call produced invalid
        # SQL like `toYYYYMM(d` (ADVICE r4)
        engine.execute("DROP TABLE IF EXISTS rmtf")
        engine.execute(
            "CREATE TABLE rmtf (id Int64, d Date, v String, ver Int64) "
            "ENGINE=ReplacingMergeTree(ver) ORDER BY (id, toYYYYMM(d))"
        )
        engine.execute(
            "INSERT INTO rmtf VALUES "
            "(1,'2024-01-05','a',1), (1,'2024-01-20','b',2), (1,'2024-02-01','c',1)"
        )
        out = engine.execute("SELECT id, v FROM rmtf FINAL ORDER BY v")
        assert out == b"1\tb\n1\tc\n"
        engine.execute("DROP TABLE rmtf")

    def test_final_multi_engine_args_uses_first_as_version(self, engine):
        # ReplacingMergeTree(ver, is_deleted): version = FIRST arg;
        # backticking the whole arg list made `ver, is_deleted`
        # (ADVICE r4)
        engine.execute("DROP TABLE IF EXISTS rmtd")
        engine.execute(
            "CREATE TABLE rmtd (k Int64, v String, ver Int64, is_deleted UInt8) "
            "ENGINE=ReplacingMergeTree(ver, is_deleted) ORDER BY k"
        )
        engine.execute(
            "INSERT INTO rmtd VALUES (1,'old',1,0), (1,'new',2,0)"
        )
        assert engine.execute("SELECT v FROM rmtd FINAL") == b"new\n"
        engine.execute("DROP TABLE rmtd")

    def test_final_as_implicit_column_alias(self, engine):
        # `SELECT x final FROM t` is a valid implicit alias — FINAL
        # outside FROM/JOIN position must not be eaten (ADVICE r4)
        engine.execute("DROP TABLE IF EXISTS aft")
        engine.execute("CREATE TABLE aft (x Int64) ENGINE=Memory")
        engine.execute("INSERT INTO aft VALUES (7)")
        out = engine.execute("SELECT x final FROM aft FORMAT TSVWithNames")
        assert out == b"final\n7\n"
        engine.execute("DROP TABLE aft")

    def test_final_on_plain_mergetree_is_noop(self, engine):
        engine.execute("DROP TABLE IF EXISTS mt3")
        engine.execute(
            "CREATE TABLE mt3 (k Int64) ENGINE=MergeTree ORDER BY k"
        )
        engine.execute("INSERT INTO mt3 VALUES (1), (1), (2)")
        assert engine.execute("SELECT count() AS c FROM mt3 FINAL") == b"3\n"
        engine.execute("DROP TABLE mt3")

    def test_optimize_final_rewrites_storage(self, engine):
        engine.execute("DROP TABLE IF EXISTS rmt4")
        engine.execute(
            "CREATE TABLE rmt4 (k Int64, v String, ver Int64) "
            "ENGINE=ReplacingMergeTree(ver) ORDER BY k"
        )
        engine.execute("INSERT INTO rmt4 VALUES (1,'a',1), (1,'b',2), (2,'x',5)")
        engine.execute("OPTIMIZE TABLE rmt4 FINAL")
        # plain SELECT (no FINAL) now sees the merged state
        out = engine.execute("SELECT k, v FROM rmt4 ORDER BY k")
        assert out == b"1\tb\n2\tx\n"
        engine.execute("DROP TABLE rmt4")

    def test_show_create_keeps_engine_args(self, engine):
        engine.execute("DROP TABLE IF EXISTS rmt5")
        engine.execute(
            "CREATE TABLE rmt5 (k Int64, ver Int64) "
            "ENGINE=ReplacingMergeTree(ver) ORDER BY k"
        )
        out = engine.execute("SHOW CREATE TABLE rmt5").decode()
        assert "ReplacingMergeTree(ver)" in out
        engine.execute("DROP TABLE rmt5")


class TestLockFreeReads:
    """The SELECT path takes no engine lock: _remap_databases fully
    qualifies every table ref, so no setCurrentDatabase on reads."""

    def test_extract_from_not_treated_as_table_ctx(self, engine):
        # Regression: FROM inside a function call must not open table
        # context — EXTRACT(YEAR FROM t.d) used to rewrite `t` as a db.
        engine.execute(
            "CREATE TABLE lf_dates (d Date) ENGINE=Memory", user="lf", password="x"
        )
        engine.execute(
            "INSERT INTO lf_dates VALUES ('2024-03-05')", user="lf", password="x"
        )
        out = engine.execute(
            "SELECT EXTRACT(YEAR FROM t.d) AS y FROM lf_dates t",
            user="lf",
            password="x",
        )
        assert out == b"2024\n"

    def test_substring_from_and_trim_from(self, engine):
        out = engine.execute(
            "SELECT substring('abcdef' FROM 2 FOR 3) AS s, "
            "trim(LEADING 'x' FROM 'xxabc') AS t"
        )
        assert out == b"bcd\tabc\n"

    def test_comma_join_qualifies_all_tables(self, engine):
        engine.execute("CREATE TABLE cj_a (x Int64) ENGINE=Memory", user="lf", password="x")
        engine.execute("CREATE TABLE cj_b (y Int64) ENGINE=Memory", user="lf", password="x")
        engine.execute("INSERT INTO cj_a VALUES (1), (2)", user="lf", password="x")
        engine.execute("INSERT INTO cj_b VALUES (10), (20), (30)", user="lf", password="x")
        out = engine.execute(
            "SELECT count(*) AS c FROM cj_a, cj_b", user="lf", password="x"
        )
        assert out == b"6\n"

    def test_in_subquery_still_remapped(self, engine):
        # IN ( SELECT … FROM t ) — the paren is not a function call,
        # so its FROM must still open table context.
        out = engine.execute(
            "SELECT count(*) AS c FROM cj_a WHERE x IN (SELECT y / 10 FROM cj_b)",
            user="lf",
            password="x",
        )
        assert out == b"2\n"

    def test_concurrent_reads_two_credentials(self, engine):
        import threading

        engine.execute("CREATE TABLE conc (v Int64) ENGINE=Memory", user="c1", password="p")
        engine.execute("INSERT INTO conc VALUES (111)", user="c1", password="p")
        engine.execute("CREATE TABLE conc (v Int64) ENGINE=Memory", user="c2", password="p")
        engine.execute("INSERT INTO conc VALUES (222)", user="c2", password="p")
        errors: list = []

        def reader(user, want):
            try:
                for _ in range(8):
                    got = engine.execute("SELECT v FROM conc", user=user, password="p")
                    assert got == want, (user, got)
            except Exception as e:  # pragma: no cover
                errors.append(e)

        threads = [
            threading.Thread(target=reader, args=("c1", b"111\n")),
            threading.Thread(target=reader, args=("c2", b"222\n")),
            threading.Thread(target=reader, args=("c1", b"111\n")),
            threading.Thread(target=reader, args=("c2", b"222\n")),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors

    def test_system_views_dropped_and_namespaced(self, engine, spark):
        engine.execute("SELECT name FROM system.databases", user="sv1", password="a")
        engine.execute("SELECT name FROM system.databases", user="sv2", password="b")
        # no fixed-name view lingers, and no per-query view survives
        leftovers = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("__moospark_system_")
        ]
        assert leftovers == []


class TestMergeTableFunction:
    def test_merge_unions_matching_tables(self, engine):
        u = {"user": "mrgt"}
        engine.execute("CREATE TABLE m_2024_01 (v Int64) ENGINE=Memory", **u)
        engine.execute("CREATE TABLE m_2024_02 (v Int64) ENGINE=Memory", **u)
        engine.execute("CREATE TABLE other (v Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO m_2024_01 VALUES (1)", **u)
        engine.execute("INSERT INTO m_2024_02 VALUES (2)", **u)
        engine.execute("INSERT INTO other VALUES (99)", **u)
        assert engine.execute(
            "SELECT sum(v) AS s FROM merge('default', '^m_2024')", **u
        ) == b"3\n"
        # one-arg form: current database
        assert engine.execute("SELECT sum(v) AS s FROM merge('^m_')", **u) == b"3\n"

    def test_merge_no_match_is_clean_error(self, engine):
        import pytest as _pytest

        from cowsdb_spark.engine import EngineError

        with _pytest.raises(EngineError):
            engine.execute("SELECT * FROM merge('default', '^zzz')", user="mrgt")


class TestDictionaries:
    """CREATE DICTIONARY + dictGet family: keyed lookups over a source
    table, rewritten to correlated scalar subqueries that Catalyst
    plans as a broadcast left join (asserted below) — the dimension-
    lookup shape a CH dictionary exists for."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        eng = Engine(spark)
        eng.execute("CREATE DATABASE IF NOT EXISTS dictdb")
        eng.execute(
            "CREATE TABLE dictdb.countries (code UInt64, name String, pop UInt64) ENGINE = Memory"
        )
        eng.execute(
            "INSERT INTO dictdb.countries VALUES (1, 'Iceland', 400000), (2, 'Malta', 500000)"
        )
        eng.execute(
            "CREATE DICTIONARY country_dict ("
            " code UInt64, name String DEFAULT 'unknown', pop UInt64"
            ") PRIMARY KEY code"
            " SOURCE(CLICKHOUSE(TABLE 'countries' DB 'dictdb'))"
            " LAYOUT(FLAT()) LIFETIME(MIN 0 MAX 300)"
        )
        return eng

    def test_hit(self, eng):
        assert eng.execute("SELECT dictGet('country_dict', 'name', 1) AS r") == b"Iceland\n"

    def test_miss_uses_declared_default(self, eng):
        assert eng.execute("SELECT dictGet('country_dict', 'name', 99) AS r") == b"unknown\n"

    def test_miss_uses_type_default(self, eng):
        assert eng.execute("SELECT dictGet('country_dict', 'pop', 99) AS r") == b"0\n"

    def test_get_or_default(self, eng):
        assert (
            eng.execute("SELECT dictGetOrDefault('country_dict', 'name', 99, 'n/a') AS r")
            == b"n/a\n"
        )

    def test_get_or_null(self, eng):
        assert eng.execute("SELECT dictGetOrNull('country_dict', 'name', 99) AS r") == b"\\N\n"

    def test_dict_has(self, eng):
        assert (
            eng.execute("SELECT dictHas('country_dict', 2) AS a, dictHas('country_dict', 9) AS b")
            == b"true\tfalse\n"
        )

    def test_typed_variant(self, eng):
        assert eng.execute("SELECT dictGetUInt64('country_dict', 'pop', 2) AS r") == b"500000\n"

    def test_correlated_per_row_lookup(self, eng):
        got = eng.execute(
            "SELECT number, dictGet('country_dict', 'name', number) AS nm "
            "FROM numbers(3) ORDER BY number"
        )
        assert got == b"0\tunknown\n1\tIceland\n2\tMalta\n"

    def test_plan_is_broadcast_join(self, eng):
        df = eng.execute_to_df(
            "SELECT number, dictGet('country_dict', 'name', number) AS nm FROM numbers(10)"
        )[0]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    def test_system_dictionaries(self, eng):
        body = eng.execute("SELECT name, key FROM system.dictionaries")
        assert body == b"country_dict\tcode\n"

    def test_drop(self, eng):
        eng.execute("CREATE DICTIONARY tmp_d (k UInt64, v String) PRIMARY KEY k "
                    "SOURCE(CLICKHOUSE(TABLE 'countries' DB 'dictdb')) LAYOUT(FLAT()) LIFETIME(0)")
        eng.execute("DROP DICTIONARY tmp_d")
        from cowsdb_spark.engine import EngineError

        with pytest.raises(EngineError):
            eng.execute("SELECT dictGet('tmp_d', 'v', 1) AS r")

    @pytest.mark.parametrize(
        "sql, code",
        [
            ("DROP DICTIONARY never_registered", 36),
            ("DROP DICTIONARY IF EXISTS never_registered", None),
            # the phrase inside a quoted name is not the IF EXISTS clause
            ("DROP DICTIONARY `if exists`", 36),
        ],
    )
    def test_drop_missing(self, eng, sql, code):
        if code is None:
            eng.execute(sql)
            return
        with pytest.raises(EngineError) as e:
            eng.execute(sql)
        assert e.value.code == code

    def test_unknown_dict_is_normal_error(self, eng):
        from cowsdb_spark.engine import EngineError

        with pytest.raises(EngineError):
            eng.execute("SELECT dictGet('never_registered', 'v', 1) AS r")

    def test_attribute_types_and_defaults_keep_their_text(self, eng):
        eng.execute(
            "CREATE DICTIONARY text_d (code UInt64, name String DEFAULT 'n/a,  none', "
            "pop Decimal(18, 4)) PRIMARY KEY code "
            "SOURCE(CLICKHOUSE(TABLE 'countries' DB 'dictdb')) LAYOUT(FLAT()) LIFETIME(0)"
        )
        try:
            assert eng.execute("SELECT dictGet('text_d', 'name', 99) AS r") == b"n/a,  none\n"
            # a miss on a Decimal(18, 4) attribute is that type's default
            assert eng.execute("SELECT dictGet('text_d', 'pop', 99) = 0 AS r") == b"true\n"
        finally:
            eng.execute("DROP DICTIONARY text_d")


class TestTemporaryTables:
    """CREATE TEMPORARY TABLE: session-scoped (keyed by session_id),
    invisible to other sessions and to SHOW DATABASES, dropped with
    the session's expiry."""

    def test_scoped_to_session(self, engine):
        u = {"user": "tmpu"}
        engine.execute("CREATE TEMPORARY TABLE ttab (x Int64)", session_id="s1", **u)
        engine.execute("INSERT INTO ttab VALUES (1), (2)", session_id="s1", **u)
        assert engine.execute(
            "SELECT sum(x) AS s FROM ttab", session_id="s1", **u
        ) == b"3\n"
        # another session of the same credentials cannot see it
        with pytest.raises(Exception):
            engine.execute("SELECT * FROM ttab", session_id="s2", **u)
        # hidden from the catalog listing
        assert b"tmp" not in engine.execute("SHOW DATABASES", session_id="s1", **u)
        engine.execute("DROP TABLE ttab", session_id="s1", **u)
        with pytest.raises(Exception):
            engine.execute("SELECT * FROM ttab", session_id="s1", **u)

    def test_temp_shadows_then_reveals_regular(self, engine):
        u = {"user": "tmpv"}
        engine.execute("CREATE TABLE shad (x Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO shad VALUES (10)", **u)
        engine.execute("CREATE TEMPORARY TABLE shad (x Int64)", session_id="sv", **u)
        engine.execute("INSERT INTO shad VALUES (99)", session_id="sv", **u)
        # CH: the temporary table shadows the regular one in its session
        assert engine.execute("SELECT x FROM shad", session_id="sv", **u) == b"99\n"
        # the regular table is untouched for the base session
        assert engine.execute("SELECT x FROM shad", **u) == b"10\n"
        engine.execute("DROP TABLE shad", session_id="sv", **u)  # temp first
        assert engine.execute("SELECT x FROM shad", session_id="sv", **u) == b"10\n"
        engine.execute("DROP TABLE shad", **u)

    # statement, check query (None: the statement's own output), want
    STATEMENTS = {
        "exists": ("EXISTS TABLE {t}", None, b"1\n"),
        "delete": ("ALTER TABLE {t} DELETE WHERE x = 1", "SELECT x FROM {t} ORDER BY x", b"2\n3\n"),
        "update": (
            "ALTER TABLE {t} UPDATE x = 10 WHERE x = 2", "SELECT x FROM {t} ORDER BY x", b"1\n3\n10\n"
        ),
        "add_column": (
            "ALTER TABLE {t} ADD COLUMN y Int64",
            "SELECT x, y FROM {t} ORDER BY x",
            b"1\t\\N\n2\t\\N\n3\t\\N\n",
        ),
        "optimize": ("OPTIMIZE TABLE {t} FINAL", "SELECT x FROM {t} ORDER BY x", b"1\n2\n3\n"),
        "truncate": ("TRUNCATE TABLE {t}", "SELECT count() FROM {t}", b"0\n"),
    }

    @pytest.mark.parametrize("kind", ["temporary", "regular_after_use"])
    @pytest.mark.parametrize("name", list(STATEMENTS))
    def test_statement_resolves_table(self, engine, name, kind):
        """Every statement that names a table finds a TEMPORARY one,
        and a regular one in a named session's current database."""
        u = {"user": f"tmpstmt_{name}_{kind}", "session_id": "s"}
        if kind == "temporary":
            engine.execute("CREATE TEMPORARY TABLE tt (x Int64)", **u)
        else:
            engine.execute("CREATE DATABASE d2", **u)
            engine.execute("USE d2", **u)
            engine.execute("CREATE TABLE tt (x Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO tt VALUES (1), (2), (3)", **u)
        stmt, check, want = self.STATEMENTS[name]
        out = engine.execute(stmt.format(t="tt"), **u)
        assert (engine.execute(check.format(t="tt"), **u) if check else out) == want

    def test_failed_create_leaves_no_temporary_name(self, engine):
        # a failed CREATE TEMPORARY TABLE must not leave a name that
        # hides the regular table of the same name
        u = {"user": "tmpphantom"}
        engine.execute("CREATE TABLE reg (x Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO reg VALUES (7)", **u)
        with pytest.raises(EngineError):
            engine.execute(
                "CREATE TEMPORARY TABLE reg AS SELECT * FROM no_such_table", session_id="s", **u
            )
        assert engine.execute("SELECT x FROM reg", session_id="s", **u) == b"7\n"

    def test_expiry_drops_temp_storage(self, engine):
        import time as _t

        u = {"user": "tmpw"}
        engine.execute("CREATE TEMPORARY TABLE et (x Int64)", session_id="se", **u)
        sess = engine.get_session(u["user"], "", "se")
        tdb = sess.temp_db
        sess.session_timeout = 0.2
        _t.sleep(0.4)
        engine.get_session(u["user"], "", "other")  # triggers eviction sweep
        assert not engine.has_session(u["user"], "", "se")
        dbs = [d.name for d in engine.spark.catalog.listDatabases()]
        assert tdb not in dbs


class TestOneTableResolver:
    """``UserSession.spark_table`` is the only code in ``engine.py`` that
    turns a table reference into a Spark table: no other function tests
    a name against a session's TEMPORARY tables or formats a
    `` `db`.`name` `` string. The catalog listings are allowed."""

    LISTINGS = {"_expand_merge", "_mvs_for"}

    def test_no_second_resolver(self):
        import ast
        import inspect

        from cowsdb_spark import engine as engine_mod

        tree = ast.parse(inspect.getsource(engine_mod))
        found = []

        def walk(node, fn):
            for child in ast.iter_child_nodes(node):
                name = child.name if isinstance(child, (ast.FunctionDef, ast.ClassDef)) else fn
                if name in ("spark_table", *self.LISTINGS):
                    continue
                if isinstance(child, ast.Compare) and any(
                    isinstance(op, (ast.In, ast.NotIn))
                    and isinstance(c, ast.Attribute)
                    and c.attr == "temp_tables"
                    for op, c in zip(child.ops, child.comparators)
                ):
                    found.append(f"{name}:{child.lineno} tests temp_tables")
                if isinstance(child, ast.JoinedStr) and any(
                    isinstance(v, ast.Constant) and "`.`" in v.value for v in child.values
                ):
                    found.append(f"{name}:{child.lineno} formats a `db`.`name`")
                walk(child, name)

        walk(tree, "<module>")
        assert not found, found


class TestModifyRenameColumn:
    """ALTER TABLE ... MODIFY COLUMN (type change via stage-and-swap
    cast) and RENAME COLUMN; both keep the declared-CH-type metadata
    in sync for SHOW CREATE / DESCRIBE."""

    def test_modify_column_casts_and_records_type(self, engine):
        engine.execute("DROP TABLE IF EXISTS amc1")
        engine.execute("CREATE TABLE amc1 (x Int64, s String) ENGINE=Memory")
        engine.execute("INSERT INTO amc1 VALUES (1, '7'), (2, '9')")
        engine.execute("ALTER TABLE amc1 MODIFY COLUMN s Int32")
        assert engine.execute("SELECT x, s + 1 AS sp FROM amc1 ORDER BY x") == b"1\t8\n2\t10\n"
        assert b"`s` Int32" in engine.execute("SHOW CREATE TABLE amc1")
        engine.execute("DROP TABLE amc1")

    def test_rename_column(self, engine):
        engine.execute("DROP TABLE IF EXISTS amc2")
        engine.execute("CREATE TABLE amc2 (a Int64, b String) ENGINE=Memory")
        engine.execute("INSERT INTO amc2 VALUES (1, 'x')")
        engine.execute("ALTER TABLE amc2 RENAME COLUMN b TO c")
        assert engine.execute("SELECT c FROM amc2") == b"x\n"
        out = engine.execute("DESCRIBE amc2")
        assert out.startswith(b"a\tInt64") and b"c\tString" in out
        with pytest.raises(EngineError):
            engine.execute("SELECT b FROM amc2")
        engine.execute("DROP TABLE amc2")

    def test_modify_unknown_column_errors(self, engine):
        engine.execute("DROP TABLE IF EXISTS amc3")
        engine.execute("CREATE TABLE amc3 (x Int64) ENGINE=Memory")
        with pytest.raises(EngineError):
            engine.execute("ALTER TABLE amc3 MODIFY COLUMN nope Int32")
        engine.execute("DROP TABLE amc3")


class TestColumnDefaults:
    """CH column DEFAULT clause (mapped onto Spark's native column
    DEFAULT for constant expressions; non-constant CH defaults fall
    back to nullable with the declaration preserved in metadata)."""

    def test_default_fills_missing_insert_columns(self, engine):
        engine.execute("DROP TABLE IF EXISTS cdef")
        engine.execute(
            "CREATE TABLE cdef (x Int64, c Int64 DEFAULT 42, "
            "s String DEFAULT 'hi') ENGINE=Memory"
        )
        engine.execute("INSERT INTO cdef (x) VALUES (1)")
        engine.execute("INSERT INTO cdef VALUES (2, 7, 'y')")
        assert engine.execute("SELECT x, c, s FROM cdef ORDER BY x") == (
            b"1\t42\thi\n2\t7\ty\n"
        )
        engine.execute("DROP TABLE cdef")

    def test_show_create_and_describe_report_default(self, engine):
        engine.execute("DROP TABLE IF EXISTS cdef2")
        engine.execute(
            "CREATE TABLE cdef2 (x Int64, c Int64 DEFAULT 42) ENGINE=Memory"
        )
        assert b"`c` Int64 DEFAULT 42" in engine.execute("SHOW CREATE TABLE cdef2")
        out = engine.execute("DESCRIBE cdef2")
        assert b"c\tInt64\tDEFAULT\t42" in out
        engine.execute("DROP TABLE cdef2")

    def test_non_constant_default_degrades_to_null(self, engine):
        # Spark cannot evaluate column-referencing defaults at insert;
        # the declaration survives in metadata, values read NULL
        engine.execute("DROP TABLE IF EXISTS cdef3")
        engine.execute(
            "CREATE TABLE cdef3 (x Int64, m Int64 DEFAULT x * 2) ENGINE=Memory"
        )
        engine.execute("INSERT INTO cdef3 (x) VALUES (5)")
        assert engine.execute("SELECT x, m FROM cdef3") == b"5\t\\N\n"
        engine.execute("DROP TABLE cdef3")


class TestDefaultsOnEveryInsertPath:
    """A column an INSERT omits takes its declared DEFAULT on every
    write path, and so does an MV fed from that insert: all of them
    end in one append. ``values`` pins Spark's own INSERT behaviour."""

    INSERTS = {
        "values": "INSERT INTO t (a, s) VALUES (1, 'x')",
        "json_each_row": 'INSERT INTO t FORMAT JSONEachRow\n{"a": 1, "s": "x"}',
        "tsv": "INSERT INTO t (a, s) FORMAT TSV\n1\tx",
        "native_subset": None,  # Engine.insert_rows, as the native server calls it
        "mv_source_values": "INSERT INTO t (a, s) VALUES (1, 'x')",
        "mv_source_default_keyword": "INSERT INTO t VALUES (1, DEFAULT, 'x')",
    }

    @pytest.mark.parametrize("path", list(INSERTS))
    def test_omitted_column_takes_default(self, engine, path):
        u = {"user": f"dflt_{path}"}
        engine.execute(
            "CREATE TABLE t (a Int64, b Int64 DEFAULT 7, s String) ENGINE=Memory", **u
        )
        if path.startswith("mv_"):
            engine.execute(
                "CREATE MATERIALIZED VIEW mv ENGINE=Memory AS SELECT a, b FROM t", **u
            )
        if self.INSERTS[path] is None:
            engine.insert_rows("t", ["a", "s"], [(1, "x")], ch_types=["Int64", "String"], **u)
        else:
            engine.execute(self.INSERTS[path], **u)
        assert engine.execute("SELECT a, b, s FROM t", **u) == b"1\t7\tx\n"
        if path.startswith("mv_"):
            assert engine.execute("SELECT a, b FROM mv", **u) == b"1\t7\n"


class TestNamedSessionResolution:
    """Statements that name a table resolve it in the caller's session
    (its ``session_id``, current database and TEMPORARY tables), not
    in the credential pair's unnamed session."""

    STATEMENTS = {
        "insert_tsv": ("INSERT INTO t FORMAT TSV\n2", "SELECT a FROM t ORDER BY a", b"1\n2\n"),
        "describe": ("DESCRIBE t", None, b"a\tInt64\t\t\t\t\t\n"),
        "show_create": ("SHOW CREATE TABLE t", None, b"CREATE TABLE t"),
        "check": ("CHECK TABLE t", None, b"1\n"),
        "temp_insert_json": (
            'INSERT INTO tt FORMAT JSONEachRow\n{"x": 9}', "SELECT x FROM tt ORDER BY x", b"8\n9\n"
        ),
        "temp_describe": ("DESCRIBE tt", None, b"x\tInt64\t\t\t\t\t\n"),
    }

    @pytest.mark.parametrize("name", list(STATEMENTS))
    def test_statement_resolves_in_session(self, engine, name):
        u = {"user": f"named_{name}", "session_id": "s1"}
        engine.execute("CREATE DATABASE d2", **u)
        engine.execute("USE d2", **u)
        engine.execute("CREATE TABLE t (a Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO t VALUES (1)", **u)
        engine.execute("CREATE TEMPORARY TABLE tt (x Int64)", **u)
        engine.execute("INSERT INTO tt VALUES (8)", **u)
        stmt, check, want = self.STATEMENTS[name]
        out = engine.execute(stmt, **u)
        assert (engine.execute(check, **u) if check else out).startswith(want)


class TestPlanCacheGuards:
    """The optimized-plan cache must never serve stale results: engine
    DDL/inserts bump the generation; direct temp-view replacement is
    caught by semanticHash guards on the referenced views."""

    def test_insert_invalidates(self, engine):
        engine.execute("DROP TABLE IF EXISTS pcg", user="pcg")
        engine.execute("CREATE TABLE pcg (x Int64) ENGINE=Memory", user="pcg")
        engine.execute("INSERT INTO pcg VALUES (1)", user="pcg")
        assert engine.execute("SELECT count() AS c FROM pcg", user="pcg") == b"1\n"
        engine.execute("INSERT INTO pcg VALUES (2)", user="pcg")
        assert engine.execute("SELECT count() AS c FROM pcg", user="pcg") == b"2\n"
        engine.execute("DROP TABLE pcg", user="pcg")

    def test_temp_view_replacement_detected(self, engine):
        engine.spark.range(3).createOrReplaceTempView("pcg_view")
        assert engine.execute("SELECT count() AS c FROM pcg_view") == b"3\n"
        assert engine.execute("SELECT count() AS c FROM pcg_view") == b"3\n"
        engine.spark.range(7).createOrReplaceTempView("pcg_view")
        assert engine.execute("SELECT count() AS c FROM pcg_view") == b"7\n"

    def test_repeated_statement_still_executes_fresh(self, engine):
        # the cache reuses PLANS only (the same planned Dataset on a HOT
        # hit, a fresh one from the optimized plan on a WARM hit), never
        # results: identical repeated statements re-execute (hot-run
        # honesty; the tests below count the re-run jobs); here assert
        # repeated hits do not change results
        for _ in range(3):
            assert engine.execute("SELECT sum(number) AS s FROM numbers(100)") == b"4950\n"

    def test_cache_hit_reruns_shuffle_stages(self, engine):
        # execution honesty: a plan-cache hit must rebuild the Dataset
        # from the cached optimized plan so every shuffle stage re-runs
        # — observable as new Spark jobs on the second execution (a
        # reused Dataset would answer a repeated collect from the
        # registered map outputs without submitting the shuffle jobs)
        sql = "SELECT number % 7 AS k, count() AS c FROM numbers(100000) GROUP BY k ORDER BY k"
        engine.execute(sql)  # populate the cache
        all_before = engine.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        engine.execute(sql)  # cache hit
        all_after = engine.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        assert all_after > all_before, "cache hit executed zero Spark jobs"

    def test_warm_hit_rebuilds_broadcast_plan(self, engine, monkeypatch):
        # a plan holding a BroadcastExchange memoizes the built relation
        # inside the plan object, so it must not be reused as-is: the
        # hit is rebuilt from the cached optimized plan (WARM tier) and
        # re-executes, broadcast included
        u = {"user": "pcgw"}
        engine.execute("CREATE TABLE pw_dim (k Int64, name String) ENGINE=Memory", **u)
        engine.execute("INSERT INTO pw_dim VALUES (0, 'zero'), (1, 'one'), (2, 'two')", **u)
        engine.execute("CREATE TABLE pw_fact (x Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO pw_fact SELECT number AS x FROM numbers(3000)", **u)
        sql = (
            "SELECT d.name, count() AS c FROM pw_fact AS f "
            "JOIN pw_dim AS d ON f.x % 3 = d.k GROUP BY d.name ORDER BY d.name"
        )
        df = engine.execute_to_df(sql, **u)[0]
        assert "BroadcastExchange" in df._jdf.queryExecution().executedPlan().toString()
        first = [tuple(r) for r in df.collect()]
        assert first == [("one", 1000), ("two", 1000), ("zero", 1000)]
        rebuilds = []
        orig = engine._rebuild_from_cache

        def spy(hit_df, width):
            rebuilds.append(width)
            return orig(hit_df, width)

        monkeypatch.setattr(engine, "_rebuild_from_cache", spy)
        sched = engine.spark.sparkContext._jsc.sc().dagScheduler()
        before = sched.nextJobId()
        df2 = engine.execute_to_df(sql, **u)[0]  # cache hit
        second = [tuple(r) for r in df2.collect()]
        after = sched.nextJobId()
        assert len(rebuilds) == 1, "second run was not a WARM cache hit"
        assert df2 is not df
        assert after > before, "WARM hit executed zero Spark jobs"
        assert second == first
        # the rebuild starts from an analyzed plan: no analyzer batch ran
        # (UpdateAttributeNullability is also an optimizer rule)
        rules = df2._jdf.queryExecution().tracker().rules().keys().mkString("\n")
        assert [r for r in rules.split("\n") if "catalyst.analysis.Analyzer" in r] == []
        engine.execute("DROP TABLE pw_dim", **u)
        engine.execute("DROP TABLE pw_fact", **u)


def test_cb22_default_path_matches(spark):
    # cb22 (DISTINCT + string MIN) runs as one aggregate pipeline:
    # no rewrite joins two passes, and the answer matches raw Spark
    from tools.gen_hits import ensure_hits

    cb22 = (
        "SELECT SearchPhrase, MIN(URL) AS mu, MIN(Title) AS mt, COUNT(*) AS c, "
        "COUNT(DISTINCT UserID) AS u FROM hits WHERE Title LIKE '%the%' "
        "AND URL NOT LIKE '%.google.%' AND SearchPhrase <> '' "
        "GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10"
    )
    spark.read.parquet(ensure_hits()).createOrReplaceTempView("hits")
    eng = Engine(spark)
    df = eng.execute_to_df(cb22)[0]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    base = [tuple(r) for r in spark.sql(cb22).collect()]
    assert [tuple(r) for r in df.collect()] == base


class TestSingleTaskSmallScans:
    """Statements over catalog tables under 16 MB run as one task of
    one stage: each table scan is coalesced to one partition, so the
    aggregates, sorts and windows above it need no exchange."""

    U = {"user": "stask"}
    QUERIES = (
        "SELECT k, count() AS c, sum(v) AS s FROM st_t WHERE v > 10 GROUP BY k ORDER BY k",
        "SELECT k, v FROM st_t WHERE s <> '3' ORDER BY v DESC, k LIMIT 7",
        "SELECT k, count(DISTINCT s) AS d FROM st_t GROUP BY k ORDER BY k",
        "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS r "
        "FROM st_t WHERE v < 60 ORDER BY k, r",
    )

    @pytest.fixture(scope="class")
    def tbl(self, engine):
        engine.execute(
            "CREATE TABLE st_t (k Int64, v Int64, s String) ENGINE=MergeTree ORDER BY k",
            **self.U,
        )
        engine.execute(
            "INSERT INTO st_t SELECT number % 5 AS k, number AS v, "
            "toString(number % 7) AS s FROM numbers(3000)",
            **self.U,
        )
        yield
        engine.execute("DROP TABLE st_t", **self.U)

    @staticmethod
    def _plan(engine, sql, **u) -> str:
        df = engine.execute_to_df(sql, **u)[0]
        return df._jdf.queryExecution().executedPlan().toString()

    @staticmethod
    def _tasks(engine, sql, **u) -> tuple[bytes, int, int]:
        """(result, jobs, tasks) of one ``engine.execute``."""
        sc = engine.spark.sparkContext
        sc.setJobGroup("stask-probe", sql)
        try:
            before = set(sc.statusTracker().getJobIdsForGroup("stask-probe"))
            out = engine.execute(sql, **u)
            jobs = set(sc.statusTracker().getJobIdsForGroup("stask-probe")) - before
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
        return out, len(jobs), sum(st.getStageInfo(s).numTasks for s in stages)

    def test_one_task_no_exchange_same_rows(self, engine, tbl, monkeypatch):
        wide = {}
        with monkeypatch.context() as m:
            # reference: each text planned as a 16 MB scan (width 2,
            # no coalesce)
            m.setattr(engine, "_leaf_scan_bytes", lambda df: 16 << 20)
            for sql in self.QUERIES:
                assert "Coalesce" not in self._plan(engine, sql, **self.U)
                wide[sql] = engine.execute(sql, **self.U)
        engine._invalidate_plans()
        for sql in self.QUERIES:
            plan = self._plan(engine, sql, **self.U)
            assert "Exchange" not in plan, plan
            assert "Coalesce 1" in plan
            for _ in range(2):  # the cached plan, then its HOT-tier hit
                out, _, tasks = self._tasks(engine, sql, **self.U)
                assert tasks == 1, sql
                assert out == wide[sql], sql

    def test_with_totals_collects_once(self, engine, tbl):
        # the totals row comes out of the same collect as the detail
        # rows: WITH TOTALS submits no more jobs than the plain GROUP BY
        sql = "SELECT k, sum(v) AS s FROM st_t GROUP BY k {}ORDER BY k"
        out, jobs, _ = self._tasks(engine, sql.format("WITH TOTALS "), **self.U)
        plain, plain_jobs, _ = self._tasks(engine, sql.format(""), **self.U)
        assert out == plain + b"\n0\t4498500\n"
        assert jobs == plain_jobs

    def test_filter_and_pruning_reach_the_scan(self, engine, tbl):
        plan = self._plan(engine, "SELECT sum(v) AS s FROM st_t WHERE k = 3", **self.U)
        scan = next(line for line in plan.splitlines() if "FileScan" in line)
        assert "EqualTo(k,3)" in scan
        assert "ReadSchema: struct<k:bigint,v:bigint>" in scan

    def test_width_one_boundary(self, engine, tbl, monkeypatch):
        sql = "SELECT k, count() AS c FROM st_t WHERE v <> {} GROUP BY k"
        monkeypatch.setattr(engine, "_leaf_scan_bytes", lambda df: (16 << 20) - 1)
        plan = self._plan(engine, sql.format(1), **self.U)
        assert "Coalesce 1" in plan and "Exchange" not in plan
        monkeypatch.setattr(engine, "_leaf_scan_bytes", lambda df: 16 << 20)
        plan = self._plan(engine, sql.format(2), **self.U)
        assert "Coalesce" not in plan and "Exchange hashpartitioning(k#" in plan

    def test_insert_after_hot_hit_is_visible(self, engine, tbl, monkeypatch):
        u = {"user": "stask_ins"}
        engine.execute("CREATE TABLE st_i (x Int64) ENGINE=MergeTree ORDER BY x", **u)
        engine.execute("INSERT INTO st_i VALUES (1), (2)", **u)
        resets = []
        orig = engine._reset_shuffle_outputs
        monkeypatch.setattr(
            engine, "_reset_shuffle_outputs", lambda ids: (resets.append(ids), orig(ids))
        )
        sql = "SELECT count() AS c, sum(x) AS s FROM st_i"
        assert engine.execute(sql, **u) == b"2\t3\n"
        assert engine.execute(sql, **u) == b"2\t3\n"
        assert resets == [[]], "second run was not a HOT hit of a shuffle-free plan"
        engine.execute("INSERT INTO st_i VALUES (10)", **u)
        assert engine.execute(sql, **u) == b"3\t13\n"
        engine.execute("DROP TABLE st_i", **u)

    def test_python_and_non_catalog_leaves_keep_their_plan(self, engine, tbl, tmp_path):
        u = {"user": "stask_py"}
        engine.execute("CREATE TABLE st_docs (doc_id Int64, text String) ENGINE=Memory", **u)
        engine.execute("INSERT INTO st_docs VALUES (1, 'a b c'), (2, 'a b c'), (3, 'd e f')", **u)
        for sql in (
            "SELECT count() AS c FROM exactDedup(st_docs)",  # pipeline table function
            "SELECT sum(intHash32(doc_id)) AS h FROM st_docs",  # Python UDF
            "SELECT number % 3 AS k, count() AS c FROM numbers(100) GROUP BY k",
        ):
            assert "Coalesce" not in self._plan(engine, sql, **u), sql
        assert engine.execute("SELECT count() AS c FROM exactDedup(st_docs)", **u) == b"2\n"
        engine.spark.range(50).write.parquet(str(tmp_path / "v2"))
        engine.spark.read.parquet(str(tmp_path / "v2")).createOrReplaceTempView("st_v2")
        plan = self._plan(engine, "SELECT id % 3 AS k, count() AS c FROM st_v2 GROUP BY k")
        assert "BatchScan" in plan and "Coalesce" not in plan
        engine.spark.catalog.dropTempView("st_v2")
        engine.execute("DROP TABLE st_docs", **u)


class TestAttachDetach:
    """DETACH TABLE hides a table (data kept, invisible to queries
    and listings); ATTACH TABLE restores it — the CH metadata pair."""

    def test_detach_hides_attach_restores(self, engine):
        u = {"user": "adx"}
        engine.execute("CREATE TABLE adx (x Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO adx VALUES (7)", **u)
        engine.execute("DETACH TABLE adx", **u)
        with pytest.raises(EngineError):
            engine.execute("SELECT * FROM adx", **u)
        assert engine.execute("SHOW TABLES", **u) == b""
        assert engine.execute("EXISTS TABLE adx", **u) == b"0\n"
        engine.execute("ATTACH TABLE adx", **u)
        assert engine.execute("SELECT x FROM adx", **u) == b"7\n"
        assert engine.execute("SHOW TABLES", **u) == b"adx\n"
        engine.execute("DROP TABLE adx", **u)

    def test_detach_if_exists_noop(self, engine):
        engine.execute("DETACH TABLE IF EXISTS never_was", user="adx")
        with pytest.raises(EngineError):
            engine.execute("DETACH TABLE never_was2", user="adx")


class TestCreateTableAsSelect:
    """CTAS (CREATE TABLE … [ENGINE …] AS SELECT — schema inferred
    from the select when no column list is declared, positional insert
    when one is), the AS <table> schema-clone form (empty copy), and
    the EXCHANGE TABLES self-exchange no-op (the rename chain would
    otherwise strand the table under its temp name)."""

    def test_ctas_infers_schema(self, engine):
        u = {"user": "ctasx"}
        engine.execute(
            "CREATE TABLE c1 ENGINE = MergeTree ORDER BY tuple() "
            "AS SELECT number AS n, toString(number) AS s FROM numbers(3)",
            **u,
        )
        assert engine.execute("SELECT sum(n) FROM c1", **u) == b"3\n"
        assert engine.execute("SELECT s FROM c1 ORDER BY n LIMIT 1", **u) == b"0\n"

    def test_ctas_declared_columns_positional(self, engine):
        u = {"user": "ctasx"}
        engine.execute(
            "CREATE TABLE c2 (y Int64) ENGINE = MergeTree ORDER BY y "
            "AS SELECT number FROM numbers(3)",
            **u,
        )
        assert engine.execute("SELECT sum(y) FROM c2", **u) == b"3\n"

    def test_clone_form_empty_copy(self, engine):
        u = {"user": "ctasx"}
        engine.execute("CREATE TABLE src (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO src VALUES (1), (2)", **u)
        engine.execute("CREATE TABLE dup AS src", **u)
        assert engine.execute("SELECT count() FROM dup", **u) == b"0\n"
        engine.execute("INSERT INTO dup VALUES (9)", **u)
        assert engine.execute("SELECT a FROM dup", **u) == b"9\n"

    def test_exchange_self_noop(self, engine):
        u = {"user": "ctasx"}
        engine.execute("CREATE TABLE ex (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO ex VALUES (5)", **u)
        engine.execute("EXCHANGE TABLES ex AND ex", **u)
        assert engine.execute("SELECT a FROM ex", **u) == b"5\n"

    def test_exchange_swaps(self, engine):
        u = {"user": "ctasx"}
        engine.execute("CREATE TABLE exa (a Int32) ENGINE=Memory", **u)
        engine.execute("CREATE TABLE exb (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO exa VALUES (1)", **u)
        engine.execute("INSERT INTO exb VALUES (2)", **u)
        engine.execute("EXCHANGE TABLES exa AND exb", **u)
        assert engine.execute("SELECT a FROM exa", **u) == b"2\n"
        assert engine.execute("SELECT a FROM exb", **u) == b"1\n"


class TestReplaceTableAndAlterBreadth:
    """CREATE OR REPLACE / REPLACE TABLE (atomic re-create), COMMENT
    COLUMN, CLEAR COLUMN (reset to type default), and the
    accepted-and-ignored index/TTL DDL (parquet row-group min/max
    stats already provide the minmax-index behavior)."""

    def test_create_or_replace(self, engine):
        u = {"user": "repx"}
        engine.execute("CREATE OR REPLACE TABLE r1 (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO r1 VALUES (1), (2)", **u)
        engine.execute(
            "CREATE OR REPLACE TABLE r1 (a Int32, b Int32) ENGINE=Memory", **u
        )
        assert engine.execute("SELECT count() FROM r1", **u) == b"0\n"

    def test_replace_table(self, engine):
        u = {"user": "repx"}
        engine.execute("CREATE TABLE r2 (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO r2 VALUES (7)", **u)
        engine.execute("REPLACE TABLE r2 (a Int64) ENGINE=Memory", **u)
        assert engine.execute("SELECT count() FROM r2", **u) == b"0\n"

    def test_replace_self_referencing_ctas(self, engine):
        # CREATE OR REPLACE TABLE t AS SELECT ... FROM t is valid CH:
        # the select must read the OLD table (staging swap, ADVICE r4)
        u = {"user": "repx"}
        engine.execute("CREATE TABLE rs (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO rs VALUES (1), (2), (3)", **u)
        # alias `b` (not `a`): CH alias resolution substitutes select
        # aliases into WHERE, so a shadowing alias would change the
        # filter's meaning (CH behaves the same way)
        engine.execute(
            "CREATE OR REPLACE TABLE rs ENGINE=Memory AS "
            "SELECT a * 10 AS b FROM rs WHERE a < 3", **u
        )
        assert engine.execute("SELECT b FROM rs ORDER BY b", **u) == b"10\n20\n"

    def test_replace_failure_preserves_old_table(self, engine):
        # a failing CTAS select must leave the original table intact
        # (the old drop-first flow destroyed it — ADVICE r4)
        from cowsdb_spark.engine import EngineError

        u = {"user": "repx"}
        engine.execute("CREATE TABLE rf (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO rf VALUES (42)", **u)
        with pytest.raises(EngineError):
            engine.execute(
                "CREATE OR REPLACE TABLE rf ENGINE=Memory AS "
                "SELECT no_such_column FROM rf", **u
            )
        assert engine.execute("SELECT a FROM rf", **u) == b"42\n"

    def test_comment_and_clear_column(self, engine):
        u = {"user": "repx"}
        engine.execute("CREATE TABLE r3 (a Int32, s String) ENGINE=Memory", **u)
        engine.execute("INSERT INTO r3 VALUES (5, 'x')", **u)
        engine.execute("ALTER TABLE r3 COMMENT COLUMN a 'the a column'", **u)
        engine.execute("ALTER TABLE r3 CLEAR COLUMN a", **u)
        assert engine.execute("SELECT a, s FROM r3", **u) == b"0\tx\n"
        engine.execute("ALTER TABLE r3 CLEAR COLUMN s", **u)
        assert engine.execute("SELECT a, s FROM r3", **u) == b"0\t\n"

    def test_index_and_ttl_noops(self, engine):
        u = {"user": "repx"}
        engine.execute("CREATE TABLE r4 (a Int32) ENGINE=Memory", **u)
        engine.execute("INSERT INTO r4 VALUES (1)", **u)
        engine.execute(
            "ALTER TABLE r4 ADD INDEX idx a TYPE minmax GRANULARITY 1", **u
        )
        engine.execute("ALTER TABLE r4 DROP INDEX idx", **u)
        engine.execute("ALTER TABLE r4 MODIFY TTL a", **u)
        assert engine.execute("SELECT a FROM r4", **u) == b"1\n"


class TestInsertFormatBreadth:
    """Inline INSERT … FORMAT payloads: JSONCompactEachRow (positional
    arrays), TSKV (k=v pairs, missing keys → NULL), JSONObjectEachRow
    (keyed envelope), LineAsString (whole line → single column)."""

    def test_json_compact_each_row(self, engine):
        u = {"user": "insfx"}
        engine.execute("CREATE TABLE i1 (a Int32, b String) ENGINE=Memory", **u)
        engine.execute('INSERT INTO i1 FORMAT JSONCompactEachRow\n[1, "x"]\n[2, "y"]', **u)
        assert engine.execute("SELECT sum(a) FROM i1", **u) == b"3\n"

    def test_tskv(self, engine):
        u = {"user": "insfx"}
        engine.execute("CREATE TABLE i2 (a Int32, b String) ENGINE=Memory", **u)
        engine.execute("INSERT INTO i2 FORMAT TSKV\na=1\tb=x\nb=y", **u)
        assert engine.execute("SELECT a, b FROM i2 ORDER BY b", **u) == b"1\tx\n\\N\ty\n"

    def test_json_object_each_row(self, engine):
        u = {"user": "insfx"}
        engine.execute("CREATE TABLE i3 (a Int32) ENGINE=Memory", **u)
        engine.execute(
            'INSERT INTO i3 FORMAT JSONObjectEachRow\n{"r1": {"a": 5}, "r2": {"a": 6}}',
            **u,
        )
        assert engine.execute("SELECT sum(a) FROM i3", **u) == b"11\n"

    def test_json_each_row_all_null_column(self, engine):
        # no value to infer `b`'s type from: it takes the column's type;
        # a number into a String column still stores its text
        u = {"user": "insfx"}
        engine.execute("CREATE TABLE i5 (a Int64, b Nullable(String)) ENGINE=Memory", **u)
        engine.execute('INSERT INTO i5 FORMAT JSONEachRow\n{"a": 1, "b": null}', **u)
        engine.execute('INSERT INTO i5 FORMAT JSONEachRow\n{"a": 3, "b": 5}', **u)
        assert engine.execute("SELECT a, b FROM i5 ORDER BY a", **u) == b"1\t\\N\n3\t5\n"

    def test_line_as_string(self, engine):
        u = {"user": "insfx"}
        engine.execute("CREATE TABLE i4 (s String) ENGINE=Memory", **u)
        engine.execute("INSERT INTO i4 FORMAT LineAsString\nhello\tworld", **u)
        assert engine.execute("SELECT s FROM i4", **u) == b"hello\\tworld\n"


class TestAggregatingMergeTreeMV:
    """The canonical CH incremental-aggregation workflow end-to-end:
    a materialized view with -State aggregates over the source table,
    per-insert partial states accumulating in the MV, and -Merge
    finalizing across inserts at query time."""

    def test_state_mv_merge_roundtrip(self, engine):
        u = {"user": "aggmv"}
        engine.execute("CREATE TABLE ev (k Int32, v Int64) ENGINE = MergeTree ORDER BY k", **u)
        engine.execute(
            "CREATE MATERIALIZED VIEW agg ENGINE = AggregatingMergeTree "
            "ORDER BY k AS SELECT k, sumState(v) AS s, countState(v) AS c "
            "FROM ev GROUP BY k",
            **u,
        )
        engine.execute("INSERT INTO ev VALUES (1, 10), (1, 20), (2, 5)", **u)
        engine.execute("INSERT INTO ev VALUES (1, 30), (2, 5)", **u)
        out = engine.execute(
            "SELECT k, sumMerge(s) AS total, countMerge(c) AS n "
            "FROM agg GROUP BY k ORDER BY k",
            **u,
        )
        assert out == b"1\t60\t3\n2\t10\t2\n"


class TestAvroEngine:
    """FORMAT Avro through the engine: SELECT output and inline
    INSERT payloads (binary, surrogateescape-decoded as on the HTTP
    path)."""

    def test_select_format_avro(self, engine):
        from cowsdb_spark.formats.avro import read_ocf

        out = engine.execute(
            "SELECT number AS n, toString(number) AS s FROM numbers(3) FORMAT Avro",
            user="avx",
        )
        names, rows = read_ocf(out)
        assert names == ["n", "s"]
        assert rows == [(0, "0"), (1, "1"), (2, "2")]

    def test_insert_format_avro(self, engine):
        from cowsdb_spark.formats.avro import write_ocf

        u = {"user": "avx"}
        engine.execute("CREATE TABLE av1 (a Int64, s String) ENGINE=Memory", **u)
        blob = write_ocf(["a", "s"], ["Int64", "String"], [(1, "x"), (2, "y")])
        payload = blob.decode("utf-8", "surrogateescape")  # HTTP body path
        engine.execute(f"INSERT INTO av1 FORMAT Avro\n{payload}", **u)
        assert engine.execute("SELECT a, s FROM av1 ORDER BY a", **u) == b"1\tx\n2\ty\n"

    def test_avro_http_round_trip(self, engine):
        """Full wire loop: SELECT ... FORMAT Avro output re-ingested
        via INSERT FORMAT Avro."""
        u = {"user": "avx"}
        engine.execute(
            "CREATE TABLE av2 (d Date, t DateTime, f Float64, n Nullable(Int64)) "
            "ENGINE=Memory", **u,
        )
        engine.execute(
            "INSERT INTO av2 VALUES ('2024-03-05', '2024-03-05 01:02:03', 1.5, NULL), "
            "('2020-01-01', '2020-01-01 00:00:00', -2.25, 9)", **u,
        )
        blob = engine.execute("SELECT * FROM av2 ORDER BY d FORMAT Avro", **u)
        engine.execute("CREATE TABLE av3 AS av2", **u)
        engine.execute(
            "INSERT INTO av3 FORMAT Avro\n" + blob.decode("utf-8", "surrogateescape"),
            **u,
        )
        want = engine.execute("SELECT * FROM av2 ORDER BY d", **u)
        got = engine.execute("SELECT * FROM av3 ORDER BY d", **u)
        assert got == want


class TestEarlyLimitCount:
    """COUNT(*) over a LIMIT-without-ORDER grouped subquery (the
    ClickBench Q17 shape) answers least(k, |groups|)."""

    @pytest.fixture(scope="class")
    def tbl(self, engine):
        u = {"user": "elc"}
        engine.execute("CREATE TABLE elc_t (id Int64, x Int64) ENGINE=Memory", **u)
        engine.execute(
            "INSERT INTO elc_t SELECT number AS id, number % 50 AS x "
            "FROM numbers(5000)", **u,
        )
        return u

    def test_early_exit_hits(self, engine, tbl):
        out = engine.execute(
            "SELECT COUNT(*) AS c FROM "
            "(SELECT x, COUNT(*) AS n FROM elc_t GROUP BY x LIMIT 7) q",
            **tbl,
        )
        assert out == b"7\n"

    def test_fallback_when_fewer_groups(self, engine, tbl):
        out = engine.execute(
            "SELECT COUNT(*) AS c FROM "
            "(SELECT x, COUNT(*) AS n FROM elc_t GROUP BY x LIMIT 100) q",
            **tbl,
        )
        assert out == b"50\n"

    def test_where_respected(self, engine, tbl):
        # WHERE x < 5 -> 5 groups; LIMIT 3 of them
        out = engine.execute(
            "SELECT COUNT(*) AS c FROM (SELECT x, COUNT(*) AS n FROM elc_t "
            "WHERE x < 5 GROUP BY x LIMIT 3) q",
            **tbl,
        )
        assert out == b"3\n"

    def test_alias_key_falls_back_correct(self, engine, tbl):
        # group key is a select alias
        out = engine.execute(
            "SELECT COUNT(*) AS c FROM (SELECT x % 3 AS a, COUNT(*) AS n "
            "FROM elc_t GROUP BY a LIMIT 2) q",
            **tbl,
        )
        assert out == b"2\n"

    def test_expression_key(self, engine, tbl):
        # verbatim expression key
        out = engine.execute(
            "SELECT COUNT(*) AS c FROM (SELECT x % 10 AS m, COUNT(*) AS n "
            "FROM elc_t GROUP BY x % 10 LIMIT 4) q",
            **tbl,
        )
        assert out == b"4\n"

    def test_reprobes_after_insert(self, engine, tbl):
        # soundness under mutation: the plan-cache key carries the
        # catalog generation, so growing the table re-answers instead
        # of serving a plan cached before the insert
        u = {"user": "elc"}
        engine.execute("CREATE TABLE elc_m (x Int64) ENGINE=Memory", **u)
        engine.execute("INSERT INTO elc_m SELECT number % 3 AS x FROM numbers(50)", **u)
        q = ("SELECT COUNT(*) AS c FROM "
             "(SELECT x, COUNT(*) AS n FROM elc_m GROUP BY x LIMIT 10) q")
        assert engine.execute(q, **u) == b"3\n"   # 3 groups < 10
        engine.execute(
            "INSERT INTO elc_m SELECT number % 40 AS x FROM numbers(400)", **u
        )
        assert engine.execute(q, **u) == b"10\n"  # 41 distinct now
        engine.execute("DROP TABLE elc_m", **u)

    def test_analysis_error_still_raised(self, engine, tbl):
        # an unresolved column in the inner SELECT list (never
        # referenced by GROUP BY or the outer COUNT) must surface the
        # analysis error
        from cowsdb_spark.engine import EngineError

        with pytest.raises(EngineError):
            engine.execute(
                "SELECT COUNT(*) AS c FROM (SELECT x, no_such_col "
                "FROM elc_t GROUP BY x LIMIT 7) q",
                user="elc",
            )
