"""system.* tables, url()/file() sources, CH hash functions, EXPLAIN.

Reference parity targets: Play UI queries system.settings
(index.html:27) and sends EXPLAIN PIPELINE graph=1 / EXPLAIN AST
graph=1 (index.html:714-716); CI loads data via
url('…hits_v1.tsv.xz','TSV') (test.yml:50); MergeTree DDL uses
intHash32 (test.yml:49).
"""

from __future__ import annotations

import lzma
import os

import pytest

from cowsdb_spark.engine import Engine, EngineError
from cowsdb_spark.plans.inspect import explain_str, scan_read_schema


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


class TestSystemTables:
    def test_system_one(self, engine):
        assert engine.execute("SELECT * FROM system.one") == b"0\n"

    def test_system_databases(self, engine):
        out = engine.execute("SELECT name FROM system.databases ORDER BY name")
        assert b"default" in out

    def test_system_settings_has_rows(self, engine):
        out = engine.execute(
            "SELECT name, value FROM system.settings ORDER BY name", fmt="JSONCompact"
        )
        assert b"max_result_rows" in out

    def test_system_tables_lists_created_table(self, engine):
        engine.execute("CREATE TABLE systest (x Int64) ENGINE=Memory")
        out = engine.execute(
            "SELECT database, name FROM system.tables ORDER BY database, name"
        )
        assert b"systest" in out
        engine.execute("DROP TABLE systest")

    def test_system_functions_nonempty(self, engine):
        out = engine.execute("SELECT count(*) AS c FROM system.functions")
        assert int(out.strip()) > 20


    def test_system_numbers_limit(self, engine):
        out = engine.execute("SELECT number FROM system.numbers LIMIT 3")
        assert out == b"0\n1\n2\n"

    def test_system_columns(self, engine):
        engine.execute("DROP TABLE IF EXISTS sysc")
        engine.execute("CREATE TABLE sysc (a UInt32, b String) ENGINE=Memory")
        out = engine.execute(
            "SELECT name, type, position FROM system.columns "
            "WHERE table = 'sysc' ORDER BY position"
        )
        assert out == b"a\tNullable(Int64)\t1\nb\tNullable(String)\t2\n"
        engine.execute("DROP TABLE sysc")

class TestUrlFile:
    def test_file_disabled_without_root(self, engine, tmp_path):
        # unconfigured user-files dir -> local reads are refused
        # (CH confines file() to user_files_path; r5 hardening)
        engine.user_files_dir = None
        p = tmp_path / "x.tsv"
        p.write_text("1\n")
        with pytest.raises(EngineError, match="user files"):
            engine.execute(f"SELECT _c0 FROM file('{p}', 'TSV')")

    def test_file_escape_rejected(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        with pytest.raises(EngineError, match="escapes"):
            engine.execute("SELECT _c0 FROM file('../../etc/hostname', 'TSV')")

    def test_file_relative_resolves_in_root(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        (tmp_path / "rel.tsv").write_text("7\tok\n")
        out = engine.execute("SELECT _c0, _c1 FROM file('rel.tsv', 'TSV')")
        assert out == b"7\tok\n"

    def test_file_tsv(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        p = tmp_path / "data.tsv"
        p.write_text("1\talpha\n2\tbeta\n3\t\\N\n")
        out = engine.execute(
            f"SELECT _c0 AS id, _c1 AS name FROM file('{p}', 'TSV') ORDER BY id"
        )
        assert out == b"1\talpha\n2\tbeta\n3\t\\N\n"

    def test_file_csv_with_names(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        p = tmp_path / "data.csv"
        p.write_text("id,name\n10,x\n20,y\n")
        out = engine.execute(
            f"SELECT id, name FROM file('{p}', 'CSVWithNames') ORDER BY id"
        )
        assert out == b"10\tx\n20\ty\n"

    def test_file_xz_decompression(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        # the reference CI pulls hits_v1.tsv.xz (test.yml:50)
        p = tmp_path / "data.tsv.xz"
        with lzma.open(p, "wt") as f:
            f.write("5\tcompressed\n")
        out = engine.execute(f"SELECT _c0, _c1 FROM file('{p}', 'TSV')")
        assert out == b"5\tcompressed\n"

    def test_insert_from_file(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        # INSERT INTO … SELECT * FROM url(...) — the CI load shape.
        # CH types the bare TSV from the INSERT target (structure
        # hint), so the source exposes the target's column names.
        p = tmp_path / "load.tsv"
        p.write_text("1\n2\n3\n")
        engine.execute("CREATE TABLE loaded (v Int64) ENGINE=Memory")
        engine.execute(f"INSERT INTO loaded SELECT v FROM file('{p}', 'TSV')")
        assert engine.execute("SELECT sum(v) AS s FROM loaded") == b"6\n"
        engine.execute("DROP TABLE loaded")

    def test_insert_structure_hint_types_and_names(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        # hits_v1-shaped load: DateTime + numerics + strings parse
        # with the target's types straight out of the TSV
        # (reference CI: test.yml:50)
        p = tmp_path / "hits.tsv"
        p.write_text(
            "2013-07-15 05:44:55\t100\tfirst page\t1.5\n"
            "2013-07-16 06:00:00\t200\tsecond page\t2.5\n"
        )
        engine.execute(
            "CREATE TABLE mini_hits (EventTime DateTime, UserID UInt64,"
            " Title String, Score Float64) ENGINE=MergeTree ORDER BY EventTime"
        )
        engine.execute(
            f"INSERT INTO mini_hits SELECT * FROM file('{p}', 'TSV')"
        )
        out = engine.execute(
            "SELECT toHour(EventTime) AS h, UserID + 1 AS u, Title,"
            " Score * 2 AS s FROM mini_hits ORDER BY EventTime"
        )
        assert out == b"5\t101\tfirst page\t3\n6\t201\tsecond page\t5\n"
        # target column names are usable INSIDE the source select too
        engine.execute(
            f"INSERT INTO mini_hits SELECT EventTime, UserID, Title, Score"
            f" FROM file('{p}', 'TSV') WHERE UserID = 100"
        )
        assert engine.execute("SELECT count() AS c FROM mini_hits") == b"3\n"
        engine.execute("DROP TABLE mini_hits")

    def test_insert_explicit_structure_wins(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        p = tmp_path / "two.tsv"
        p.write_text("7\tx\n")
        engine.execute("CREATE TABLE dst2 (a Int64, b String) ENGINE=Memory")
        engine.execute(
            f"INSERT INTO dst2 SELECT n, s FROM file('{p}', 'TSV', 'n Int64, s String')"
        )
        assert engine.execute("SELECT a, b FROM dst2") == b"7\tx\n"
        engine.execute("DROP TABLE dst2")

    def test_structure_with_paren_in_enum_literal(self, engine, tmp_path):
        engine.user_files_dir = str(tmp_path)
        p = tmp_path / "enum.tsv"
        p.write_text("(\t7\n")
        out = engine.execute(
            f"SELECT e, n FROM file('{p}', 'TSV', 'e Enum8(''('' = 1), n Int64')"
        )
        assert out == b"(\t7\n"


class TestChHashes:
    def test_int_hash64_known_values(self, engine):
        # avalanche mix: h(0)=0 by construction; h(1) is a fixed constant
        out = engine.execute("SELECT intHash64(0) AS a")
        assert out == b"0\n"
        one = int(engine.execute("SELECT intHash64(1) AS a").strip())
        two = int(engine.execute("SELECT intHash64(2) AS a").strip())
        assert one != 1 and two != 2 and one != two

    def test_int_hash32_range(self, engine):
        vals = engine.execute(
            "SELECT intHash32(number) AS h FROM numbers(100)"
        ).splitlines()
        ints = [int(v) for v in vals]
        assert len(set(ints)) == 100  # no collisions on tiny domain
        assert all(0 <= v <= 0xFFFFFFFF for v in ints)

    def test_order_by_int_hash(self, engine):
        # physical-layout usage shape from the MergeTree DDL
        out = engine.execute(
            "SELECT number FROM numbers(8) ORDER BY intHash32(number), number"
        )
        assert sorted(int(x) for x in out.splitlines()) == list(range(8))


class TestExplain:
    def test_explain_select(self, engine):
        out = engine.execute("EXPLAIN SELECT 1 AS x").decode()
        assert "Project" in out or "== Physical Plan ==" in out

    def test_explain_pipeline_graph_emits_digraph(self, engine):
        # the Play UI graphviz path (index.html:714-716,975)
        out = engine.execute("EXPLAIN PIPELINE graph=1 SELECT 1 AS x").decode()
        assert out.startswith("digraph") and "->" not in out.split("{")[0]

    def test_explain_pipeline_without_graph_is_text(self, engine):
        out = engine.execute("EXPLAIN PIPELINE SELECT 1 AS x").decode()
        assert "Physical Plan" in out

    def test_explain_ast_graph_emits_digraph(self, engine):
        out = engine.execute("EXPLAIN AST graph=1 SELECT 1 AS x").decode()
        assert out.startswith("digraph")

    def test_explain_graph_has_plan_nodes(self, engine):
        out = engine.execute(
            "EXPLAIN PIPELINE graph=1 SELECT number FROM numbers(10) WHERE number > 3"
        ).decode()
        assert "Range" in out and "Filter" in out and "->" in out


class TestPlanInspection:
    """Plan-shape gates (SURVEY §4.2): pushdown + pruning are real."""

    def test_filter_pushdown_reaches_scan(self, spark, sf_dir):
        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).filter(
            "l_quantity < 5"
        )
        assert "PushedFilters" in explain_str(df)

    def test_column_pruning(self, spark, sf_dir):
        df = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .select("l_orderkey", "l_quantity")
        )
        cols = scan_read_schema(df)
        assert set(cols) == {"l_orderkey", "l_quantity"}


class TestHeadlinePlanShapes:
    """The conformance queries must keep the efficient plans
    (SURVEY §4.2): top-k short-circuit, broadcast dims, pushdown,
    partial aggregation. A regression here is a 100x problem at
    cluster scale even when results stay correct."""

    @staticmethod
    def _plan(spark, sf_dir, name):
        from cowsdb_spark.queries import registry

        return explain_str(registry()[name].spark(spark, sf_dir))

    def test_topk_short_circuit(self, spark, sf_dir):
        # ORDER BY+LIMIT must plan per-partition heaps, not full sort
        assert "TakeOrderedAndProject" in self._plan(spark, sf_dir, "q07_group_topk")

    def test_join_broadcasts_dimension(self, spark, sf_dir):
        # q11_inner_join retired into q14 (r6) — the broadcast inner
        # equi-join shape is q14's customer⋈nation leg
        plan = self._plan(spark, sf_dir, "q14_star_join")
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    def test_star_join_never_shuffles_fact(self, spark, sf_dir):
        plan = self._plan(spark, sf_dir, "q14_star_join")
        # all three dims broadcast; the only exchange is the final agg
        # (formatted plans list each node in tree + details sections)
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    def test_pricing_summary_pushdown_and_partial_agg(self, spark, sf_dir):
        plan = self._plan(spark, sf_dir, "q25_pricing_summary")
        # v1 FileScan prints PushedFilters; v2 BatchScan (DSv2 — the
        # session default since parquet aggregate pushdown) prints the
        # pushed predicates as DataFilters on the scan node
        assert ("PushedFilters" in plan or "DataFilters" in plan) and "l_shipdate" in plan
        assert plan.count("HashAggregate") >= 2  # partial + final


class TestShowStatements:
    """SHOW DATABASES/TABLES/CREATE TABLE return CH-shaped results and
    never leak the internal per-credential namespace names."""

    def test_show_databases_hides_namespace(self, engine):
        engine.execute("CREATE DATABASE IF NOT EXISTS showdb")
        out = engine.execute("SHOW DATABASES").decode()
        assert "showdb" in out and "__" not in out

    def test_show_tables_single_column(self, engine):
        engine.execute("CREATE DATABASE IF NOT EXISTS showdb")
        engine.execute("DROP TABLE IF EXISTS showdb.st1")
        engine.execute("CREATE TABLE showdb.st1 (x Int64)")
        out = engine.execute("SHOW TABLES FROM showdb").decode()
        assert out == "st1\n"

    def test_show_create_table_ch_ddl(self, engine):
        engine.execute("CREATE DATABASE IF NOT EXISTS showdb")
        engine.execute("DROP TABLE IF EXISTS showdb.st2")
        engine.execute(
            "CREATE TABLE showdb.st2 (x Int64, s String) ENGINE=MergeTree() ORDER BY (x)"
        )
        out = engine.execute("SHOW CREATE TABLE showdb.st2").decode()
        assert "CREATE TABLE showdb.st2" in out
        assert "ENGINE = MergeTree" in out and "ORDER BY" in out
        # declared CH types are preserved verbatim (moospark.ch_types
        # property), not re-derived from the nullable parquet schema
        assert "`x` Int64" in out and "u" + "0" not in out.split("CREATE")[0]

    def test_show_isolated_between_credentials(self, engine):
        engine.execute("CREATE DATABASE IF NOT EXISTS privdb", user="u1", password="p1")
        out = engine.execute("SHOW DATABASES", user="u2", password="p2").decode()
        assert "privdb" not in out


class TestAdminStatements:
    """CHECK TABLE / KILL QUERY / SYSTEM / SHOW PROCESSLIST / CH-shaped
    DESCRIBE — the admin surface a CH client touches (reference
    delegates all of these to chDB, main.py:190)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine, EngineError

        e = Engine(spark)
        e.execute("DROP TABLE IF EXISTS admt", user="admt")
        e.execute(
            "CREATE TABLE admt (x Int64, s String) ENGINE=Memory", user="admt"
        )
        return e

    def test_check_table(self, eng):
        assert eng.execute("CHECK TABLE admt", user="admt") == b"1\n"

    def test_check_missing_table_errors(self, eng):
        from cowsdb_spark.engine import EngineError

        with pytest.raises(EngineError):
            eng.execute("CHECK TABLE no_such_t", user="admt")

    def test_describe_ch_shape(self, eng):
        out = eng.execute("DESCRIBE TABLE admt", user="admt")
        assert out == b"x\tInt64\t\t\t\t\t\ns\tString\t\t\t\t\t\n"
        assert eng.execute("DESC admt", user="admt") == out

    def test_kill_query_empty_result(self, eng):
        assert eng.execute(
            "KILL QUERY WHERE query_id = 'nope'", user="admt"
        ) == b""

    def test_show_processlist_empty(self, eng):
        assert eng.execute("SHOW PROCESSLIST", user="admt") == b""

    def test_system_is_warned_noop(self, eng):
        # warnings ride execute_to_df's settings channel (execute()
        # folds them into the stats dict the servers surface)
        _df, _fmt, settings, _el = eng.execute_to_df(
            "SYSTEM RELOAD DICTIONARIES", user="admt"
        )
        warns = settings.get("__engine_warnings__", [])
        assert warns and "no-op" in warns[0]
        assert eng.execute("SYSTEM FLUSH LOGS", user="admt") == b""


class TestQueryLog:
    """system.query_log: per-namespace ring buffer of executed
    queries; system.processes: empty (synchronous engine)."""

    def test_query_log_records_success_and_failure(self, spark):
        from cowsdb_spark.engine import Engine, EngineError

        eng = Engine(spark)
        u = {"user": "qlog_t"}
        eng.execute("SELECT 41 AS v", **u)
        with pytest.raises(EngineError):
            eng.execute("SELECT * FROM missing_qlog_t", **u)
        out = eng.execute(
            "SELECT type, query, result_rows FROM system.query_log "
            "ORDER BY event_time", **u
        ).decode()
        lines = out.strip().split("\n")
        assert lines[0] == "QueryFinish\tSELECT 41 AS v\t1"
        assert lines[1].startswith("ExceptionWhileProcessing\t")
        # other credentials see their own (empty) log
        other = eng.execute(
            "SELECT count() AS c FROM system.query_log", user="qlog_other"
        )
        # the count query itself is not yet in the log it reads
        assert other == b"0\n"

    def test_processes_empty(self, spark):
        from cowsdb_spark.engine import Engine, EngineError

        eng = Engine(spark)
        assert eng.execute(
            "SELECT count() AS c FROM system.processes", user="qlog_t2"
        ) == b"0\n"


class TestSystemParts:
    def test_parts_reflect_storage(self, engine):
        engine.execute("DROP TABLE IF EXISTS spt")
        engine.execute("CREATE TABLE spt (x Int64) ENGINE=Memory")
        engine.execute("INSERT INTO spt SELECT number FROM numbers(500)")
        out = engine.execute(
            "SELECT sum(rows) AS r, min(active) AS a, "
            "min(bytes_on_disk) > 0 AS b FROM system.parts WHERE table = 'spt'"
        )
        assert out == b"500\t1\ttrue\n"
        engine.execute("DROP TABLE spt")


class TestSystemTableBreadth:
    """The wider system.* surface: real providers (formats, disks,
    clusters, time_zones, table_engines, data_type_families, users,
    build_options) and the structurally-correct empty activity tables
    (merges/replicas/mutations/events/metrics/quotas/grants — no
    background machinery in this engine, but clients poll them).
    `FROM system.settings` must not be eaten by the SETTINGS-clause
    strip (the dot-prefix guard)."""

    def test_settings_table_not_clause(self, engine):
        out = engine.execute("SELECT count() > 0 AS r FROM system.settings")
        assert out == b"true\n"

    @pytest.mark.parametrize(
        "tbl",
        [
            "formats", "table_engines", "data_type_families", "disks",
            "clusters", "time_zones", "users", "build_options",
            "contributors", "licenses",
        ],
    )
    def test_populated_tables(self, engine, tbl):
        out = engine.execute(f"SELECT count() > 0 AS r FROM system.{tbl}")
        assert out == b"true\n", tbl

    @pytest.mark.parametrize(
        "tbl",
        [
            "merges", "replicas", "mutations", "events", "metrics",
            "asynchronous_metrics", "quotas", "grants", "macros",
            "warnings",
        ],
    )
    def test_empty_activity_tables(self, engine, tbl):
        out = engine.execute(f"SELECT count() AS c FROM system.{tbl}")
        assert out == b"0\n", tbl

    def test_formats_lists_json(self, engine):
        out = engine.execute(
            "SELECT name FROM system.formats WHERE name = 'JSON'"
        )
        assert out == b"JSON\n"

    def test_clusters_single_local(self, engine):
        out = engine.execute(
            "SELECT cluster, is_local FROM system.clusters"
        )
        assert out == b"default\t1\n"


class TestExistsSystemTables:
    def test_exists_reflects_providers(self, engine):
        assert engine.execute("EXISTS TABLE system.one") == b"1\n"
        assert engine.execute("EXISTS TABLE system.numbers") == b"1\n"
        assert engine.execute("EXISTS TABLE system.not_a_table") == b"0\n"

    def test_describe_system_table(self, engine):
        out = engine.execute("DESCRIBE TABLE system.one")
        assert out.startswith(b"dummy\t")
        out = engine.execute("DESC system.numbers")
        assert out.startswith(b"number\t")

    def test_numbers_mt_alias(self, engine):
        assert engine.execute(
            "SELECT number FROM system.numbers_mt LIMIT 2"
        ) == b"0\n1\n"


class TestScrubLanePlanShape:
    """t31 computes the coverage flag AND the scrub rewrite from the
    same gram/dup/hits stages. r8 guaranteed this via AQE
    ReusedExchange; since the r9 shared-spine restructure the (doc_id,
    pos) hit rows are materialized ONCE (lazy localCheckpoint) and
    both lanes scan that RDD — a strictly stronger guarantee: the
    corpus-sized gram explode is absent from the per-lane plan
    entirely, not merely exchange-deduplicated."""

    def test_t31_gram_work_not_duplicated(self, spark, sf_dir):
        from cowsdb_spark.queries import registry

        df = registry()["t31_dup_ngrams"].spark(spark, sf_dir)
        df.collect()  # the spine checkpoint materializes at execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        # both lanes read the materialized hits spine (carries _pos)
        spine_scans = [
            ln for ln in plan.splitlines()
            if "Scan ExistingRDD" in ln and "_pos" in ln
        ]
        assert len(spine_scans) >= 2, plan
        # and the gram explode never re-runs inside either lane
        assert "Generate" not in plan, plan
