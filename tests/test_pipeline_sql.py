"""SQL-callable pipeline table functions (SURVEY §7 Phase G): the
operator library reachable from plain SQL through the engine —
exactDedup / minhashPairs / qualityScore / langId / scrubDupSpans /
bm25 in table position, over engine-catalog tables, with CH-style
error codes, and values equal to the Python-API operators they wrap."""

from __future__ import annotations

import pytest

from cowsdb_spark.engine import Engine, EngineError


@pytest.fixture(scope="module")
def eng(spark):
    e = Engine(spark)
    e.execute("CREATE DATABASE IF NOT EXISTS opfndb")
    e.execute("DROP TABLE IF EXISTS opfndb.docs")
    e.execute("CREATE TABLE opfndb.docs (doc_id Int64, text String)")
    e.execute(
        "INSERT INTO opfndb.docs VALUES "
        "(1, 'the quick brown fox jumps over the lazy dog'),"
        "(2, 'the quick brown fox jumps over the lazy dog'),"
        "(3, 'completely different content here entirely'),"
        "(4, 'the quick brown fox leaps over the lazy dog')"
    )
    return e


class TestPipelineSqlFns:
    def test_exact_dedup(self, eng):
        assert eng.execute("SELECT count() AS c FROM exactDedup(opfndb.docs)") == b"3\n"

    def test_minhash_pairs_literal_threshold(self, eng):
        # the byte-identical pair only; 0.4 arrives as the dialect's
        # suffixed literal (0.4D) and must parse
        out = eng.execute(
            "SELECT id_a, id_b FROM minhashPairs(opfndb.docs, 0.4) "
            "ORDER BY id_a, id_b"
        )
        assert out == b"1\t2\n"

    def test_bm25_ranks(self, eng):
        out = eng.execute(
            "SELECT doc_id, rank FROM bm25(opfndb.docs, 'quick brown fox', 3) "
            "ORDER BY rank"
        )
        assert out == b"1\t1\n2\t2\n4\t3\n"

    def test_matches_python_api(self, eng, spark):
        from cowsdb_spark.operators.text import scrub_dup_spans

        sql_rows = eng.execute(
            "SELECT doc_id, n_removed_tokens FROM "
            "scrubDupSpans(opfndb.docs, 4, 2) ORDER BY doc_id"
        )
        docs = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different content here entirely"),
            (4, "the quick brown fox leaps over the lazy dog"),
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        want = b"".join(
            f"{r.doc_id}\t{r.n_removed_tokens}\n".encode()
            for r in scrub_dup_spans(d, n=4, min_docs=2)
            .orderBy("doc_id")
            .collect()
        )
        assert sql_rows == want

    def test_quality_and_langid_run(self, eng):
        out = eng.execute(
            "SELECT doc_id, n_tokens FROM qualityScore(opfndb.docs) "
            "ORDER BY doc_id"
        )
        assert out.startswith(b"1\t9\n")
        assert eng.execute("SELECT count() AS c FROM langId(opfndb.docs)") == b"4\n"

    def test_composes_with_sql(self, eng):
        # table-fn output is a normal relation: joinable + filterable
        out = eng.execute(
            "SELECT d.doc_id FROM exactDedup(opfndb.docs) s "
            "JOIN opfndb.docs d ON d.doc_id = s.doc_id "
            "WHERE d.text LIKE '%fox%' ORDER BY d.doc_id"
        )
        assert out == b"1\n4\n"

    def test_bad_args_ch_code_42(self, eng):
        with pytest.raises(EngineError) as ei:
            eng.execute("SELECT * FROM bm25(opfndb.docs)")
        assert ei.value.code == 42

    def test_unknown_table_ch_code_60(self, eng):
        with pytest.raises(EngineError) as ei:
            eng.execute("SELECT * FROM exactDedup(opfndb.nosuch)")
        assert ei.value.code == 60

    def test_insert_visibility_no_stale_plan(self, eng):
        # operator views are rebuilt per statement (never plan-cached):
        # an INSERT between two identical calls must be visible
        before = eng.execute("SELECT count() AS c FROM exactDedup(opfndb.docs)")
        eng.execute(
            "INSERT INTO opfndb.docs VALUES (9, 'a brand new unique document')"
        )
        after = eng.execute("SELECT count() AS c FROM exactDedup(opfndb.docs)")
        assert int(before) + 1 == int(after)
        eng.execute("ALTER TABLE opfndb.docs DELETE WHERE doc_id = 9")

    def test_insert_select_from_table_fn(self, eng):
        # materialized curation in pure SQL: survivors table built
        # straight from a pipeline fn (INSERT goes through the same
        # expansion)
        eng.execute("DROP TABLE IF EXISTS opfndb.survivors")
        eng.execute("CREATE TABLE opfndb.survivors (doc_id Int64, dup_count Int64)")
        eng.execute(
            "INSERT INTO opfndb.survivors SELECT doc_id, dup_count "
            "FROM exactDedup(opfndb.docs)"
        )
        assert eng.execute("SELECT count() AS c FROM opfndb.survivors") == b"3\n"

    def test_listed_in_system_functions(self, eng):
        out = eng.execute(
            "SELECT name FROM system.functions WHERE name IN "
            "('exactdedup', 'bm25', 'scrubdupspans') ORDER BY name"
        )
        assert out == b"bm25\nexactdedup\nscrubdupspans\n"

    def test_nested_composition(self, eng):
        # rewriteScrub returns the cleaned CORPUS (doc_id, text …), so
        # every other fn composes over it; at n=4 docs 1/2 cover each
        # other fully and drop, doc 4 keeps only 'leaps', doc 3 is
        # untouched -> 2 survivors
        out = eng.execute(
            "SELECT count() AS c FROM exactDedup(rewriteScrub(opfndb.docs, 4, 2))"
        )
        assert out == b"2\n"
        out = eng.execute(
            "SELECT doc_id FROM bm25(rewriteScrub(opfndb.docs, 4, 2), "
            "'completely different content', 1)"
        )
        assert out == b"3\n"

    def test_rewrite_scrub_keeps_columns_and_drops_empty(self, eng):
        # docs 1/2 are byte-identical 9-token docs: at n=4 every token
        # is covered, both scrub to empty and are dropped; doc 4 keeps
        # its unshared middle, doc 3 is untouched
        out = eng.execute(
            "SELECT doc_id, text FROM rewriteScrub(opfndb.docs, 4, 2) "
            "ORDER BY doc_id"
        )
        lines = out.decode().splitlines()
        assert [ln.split("\t")[0] for ln in lines] == ["3", "4"]
        assert lines[0].endswith("completely different content here entirely")

    def test_hll_sketch_fns(self, eng):
        eng.execute("DROP TABLE IF EXISTS opfndb.ev")
        eng.execute("CREATE TABLE opfndb.ev (day String, user String)")
        eng.execute(
            "INSERT INTO opfndb.ev VALUES "
            "('d1','u1'),('d1','u2'),('d2','u1'),('d2','u3'),('d2','u3')"
        )
        # presketch by day, roll up to the grand total: 3 distinct users
        out = eng.execute(
            "SELECT approx_distinct FROM "
            "hllRollup(hllPresketch(opfndb.ev, 'day', 'user'), '')"
        )
        assert out == b"3\n"
        out = eng.execute(
            "SELECT day, approx_distinct FROM "
            "hllRollup(hllPresketch(opfndb.ev, 'day', 'user'), 'day') "
            "ORDER BY day"
        )
        assert out == b"d1\t2\nd2\t2\n"

    def test_hist_sketch_fns(self, eng):
        eng.execute("DROP TABLE IF EXISTS opfndb.vals")
        eng.execute("CREATE TABLE opfndb.vals (g String, v Float64)")
        eng.execute(
            "INSERT INTO opfndb.vals VALUES "
            "('a', 1.0), ('a', 2.5), ('a', 9.5), ('b', -3.0), ('b', 12.0)"
        )
        # 2 bins over [0, 10): array is [under, b1, b2, over]
        out = eng.execute(
            "SELECT g, hist FROM "
            "histPresketch(opfndb.vals, 'g', 'v', 0.0, 10.0, 2) ORDER BY g"
        )
        assert out == b"a\t[0,2,1,0]\nb\t[1,0,0,1]\n"
        out = eng.execute(
            "SELECT hist FROM "
            "histRollup(histPresketch(opfndb.vals, 'g', 'v', 0.0, 10.0, 2), '')"
        )
        assert out == b"[1,2,1,1]\n"

    def test_signed_numeric_literals(self, eng):
        eng.execute("DROP TABLE IF EXISTS opfndb.signed")
        eng.execute("CREATE TABLE opfndb.signed (g String, v Float64)")
        eng.execute("INSERT INTO opfndb.signed VALUES ('a', -3.0), ('a', 4.0), ('b', 12.0)")
        # -10 reaches the expansion as a sign token and a number;
        # 2 bins over [-10, 10): array is [under, b1, b2, over]
        out = eng.execute(
            "SELECT g, hist FROM "
            "histPresketch(opfndb.signed, 'g', 'v', -10, 10, 2) ORDER BY g"
        )
        assert out == b"a\t[0,1,1,0]\nb\t[0,0,0,1]\n"

    @pytest.mark.parametrize(
        "call",
        [
            "histPresketch(opfndb.docs, 'g', 'v', 'lo', 10)",  # wrong kind
            "histPresketch(opfndb.docs, 'g', 'v', 0)",  # required hi missing
            "exactDedup(opfndb.docs, 1)",  # more literals than parameters
            "minhashPairs(opfndb.docs, doc_id)",  # not a literal
        ],
    )
    def test_usage_errors_code_42(self, eng, call):
        with pytest.raises(EngineError) as ei:
            eng.execute(f"SELECT * FROM {call}")
        assert ei.value.code == 42
        assert "usage" in str(ei.value)

    def test_cms_sketch_fns(self, eng):
        eng.execute("DROP TABLE IF EXISTS opfndb.toks")
        eng.execute("CREATE TABLE opfndb.toks (g String, tok String)")
        eng.execute(
            "INSERT INTO opfndb.toks VALUES "
            "('a','x'),('a','x'),('a','y'),('b','x')"
        )
        # a 1-wide grid degenerates to per-row totals: every counter
        # equals the group's row count — checkable without hashing
        out = eng.execute(
            "SELECT g, cms FROM "
            "cmsRollup(cmsPresketch(opfndb.toks, 'g', 'tok', 1, 2), 'g') "
            "ORDER BY g"
        )
        assert out == b"a\t[3,3]\nb\t[1,1]\n"
        out = eng.execute(
            "SELECT cms FROM "
            "cmsRollup(cmsPresketch(opfndb.toks, 'g', 'tok', 1, 2), '')"
        )
        assert out == b"[4,4]\n"

    def test_hashed_embedding_fn(self, eng):
        # dim=1 degenerates to (token_count / token_count) = [1.0] for
        # non-empty docs — checkable without hashing (TSV renders the
        # float CH-style, 1.0 -> "1")
        out = eng.execute(
            "SELECT doc_id, embedding FROM "
            "hashedEmbedding(opfndb.docs, 1) ORDER BY doc_id"
        )
        lines = out.strip().split(b"\n")
        assert lines and all(line.endswith(b"\t[1]") for line in lines)

    def test_table_named_like_fn_is_left_alone(self, eng):
        # only TABLE position (after FROM/JOIN) expands: a user table
        # legitimately named bm25 keeps working, including the INSERT
        # column-list shape that a position-blind scanner would parse
        # as function args
        eng.execute("DROP TABLE IF EXISTS opfndb.bm25")
        eng.execute("CREATE TABLE opfndb.bm25 (doc_id Int64, text String)")
        eng.execute("INSERT INTO opfndb.bm25 (doc_id, text) VALUES (7, 'hi')")
        assert eng.execute("SELECT doc_id FROM opfndb.bm25") == b"7\n"
        # while real calls in FROM position still expand
        assert (
            eng.execute("SELECT count() AS c FROM exactDedup(opfndb.docs)")
            == b"3\n"
        )

    def test_temporary_table_resolves(self, eng):
        eng.execute(
            "CREATE TEMPORARY TABLE tdocs (doc_id Int64, text String)",
            session_id="pfn-tmp",
        )
        eng.execute(
            "INSERT INTO tdocs VALUES (1, 'a b'), (2, 'a b')",
            session_id="pfn-tmp",
        )
        out = eng.execute(
            "SELECT count() AS c FROM exactDedup(tdocs)",
            session_id="pfn-tmp",
        )
        assert out == b"1\n"

    def test_no_cross_credential_resolution(self, eng):
        # user B must NOT see user A's table through a pipeline fn:
        # unqualified names resolve only in B's own namespace
        eng.execute(
            "CREATE DATABASE IF NOT EXISTS privdb", user="alice", password="a"
        )
        eng.execute(
            "CREATE TABLE privdb.secret (doc_id Int64, text String)",
            user="alice",
            password="a",
        )
        with pytest.raises(EngineError) as ei:
            eng.execute(
                "SELECT * FROM exactDedup(secret)", user="bob", password="b"
            )
        assert ei.value.code == 60

    def test_rewrite_scrub_keeps_untouched_empty_doc(self, eng):
        # an ORIGINALLY-empty doc is untouched by the scrub and must
        # pass through; only docs scrubbed TO empty drop
        eng.execute("DROP TABLE IF EXISTS opfndb.we")
        eng.execute("CREATE TABLE opfndb.we (doc_id Int64, text String)")
        eng.execute(
            "INSERT INTO opfndb.we VALUES (1, ''), "
            "(2, 'a b c d'), (3, 'a b c d')"
        )
        out = eng.execute(
            "SELECT doc_id FROM rewriteScrub(opfndb.we, 4, 2) ORDER BY doc_id"
        )
        assert out == b"1\n"  # 2/3 scrub to empty and drop; 1 survives

    def test_scientific_notation_arg_is_code_42_or_parses(self, eng):
        # 5e-1 is one number token: it must parse as a float (0.5),
        # not crash outside the usage-error path
        out = eng.execute(
            "SELECT id_a, id_b FROM minhashPairs(opfndb.docs, 5e-1) "
            "ORDER BY id_a, id_b"
        )
        assert out == b"1\t2\n"

    def test_no_view_residue(self, eng, spark):
        eng.execute(
            "SELECT count() AS c FROM exactDedup(rewriteScrub(opfndb.docs))"
        )
        names = [t.name for t in spark.catalog.listTables()]
        assert not any(n.startswith("__moospark_opfn_") for n in names)
