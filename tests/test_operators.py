"""Unit tests for the pipeline operators (SURVEY §7 G) with
hand-computable fixtures — semantics, not just smoke."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cowsdb_spark.operators.asof import asof_join
from cowsdb_spark.operators.quantile import exact_percentiles
from cowsdb_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cowsdb_spark.operators.multimodal import extract_features, synthetic_media
from cowsdb_spark.operators.similarity import cosine_topk, lsh_bucket_join
from cowsdb_spark.operators.text import lang_id, quality_score, token_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # dup of 0
        (2, "The quick  brown fox jumps over the lazy dog again and again", "en"),  # ws/case dup
        (3, "completely different text about spark and data pipelines here", "en"),
        (4, "der hund und die katze sind freunde und das ist gut", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestExactDedup:
    def test_normalized_duplicates_collapse(self, docs):
        out = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
        # docs 0,1,2 are one class (case/whitespace-insensitive), min id 0
        assert out[0] == 3
        assert out[3] == 1 and out[4] == 1
        assert 1 not in out and 2 not in out


class TestMinhash:
    def test_duplicates_found_distinct_not(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard_est
            for r in minhash_lsh_pairs(docs, min_jaccard=0.5, shingle_k=3).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        assert (0, 2) in pairs  # normalization makes them identical
        assert all(3 not in p and 4 not in p for p in pairs)

    def test_md5_hash_mode_equivalent_semantics(self, docs):
        # the r7 oracle-checkable md5 mode must find the same clear
        # duplicate structure as the xxhash64 default: exact dups at
        # est 1.0, unrelated docs absent (borderline estimates may
        # differ — different hash family, same estimator)
        pairs = {
            (r.id_a, r.id_b): r.jaccard_est
            for r in minhash_lsh_pairs(
                docs, min_jaccard=0.5, shingle_k=3, hash_fn="md5"
            ).collect()
        }
        assert pairs[(0, 1)] == 1.0 and (0, 2) in pairs
        assert all(3 not in p and 4 not in p for p in pairs)

    def test_incremental_equals_full_minus_seen_pairs(self, spark, docs, tmp_path):
        # the daily-pipeline contract: LSH of the increment against a
        # PERSISTED signature store reports exactly what a full-corpus
        # run would, minus the seen x seen pairs yesterday's run
        # already emitted. Store round-trips through parquet to prove
        # the (id, _sig) frame is genuinely persistable.
        from cowsdb_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
            minhash_signature_table,
        )

        new = docs.filter(F.col("doc_id") % 2 == 1)
        seen = docs.filter(F.col("doc_id") % 2 == 0)
        p = str(tmp_path / "sig_store")
        minhash_signature_table(seen, shingle_k=3).write.parquet(p)
        store = spark.read.parquet(p)
        full = {
            (r.id_a, r.id_b): r.jaccard_est
            for r in minhash_lsh_pairs(docs, min_jaccard=0.5, shingle_k=3).collect()
        }
        want = {
            pair: j
            for pair, j in full.items()
            if not (pair[0] % 2 == 0 and pair[1] % 2 == 0)
        }
        got = {
            (r.id_a, r.id_b): r.jaccard_est
            for r in minhash_lsh_pairs_incremental(
                new, store, min_jaccard=0.5, shingle_k=3
            ).collect()
        }
        assert got == want
        # docs 0,1,2 are one dup class: (0,1) and (1,2) have a new
        # side and must survive; (0,2) is seen x seen and must not
        assert (0, 1) in got and (1, 2) in got and (0, 2) not in got

    def test_bucketed_store_join_skips_store_exchange(self, spark, docs):
        # the 100 TB claim as a plan assertion: with the banded store
        # persisted bucketBy(band, bh), the candidate join reads the
        # store WITHOUT an exchange (broadcast disabled to force the
        # sort-merge path bucketing serves at real store sizes)
        from cowsdb_spark.operators.dedup import (
            banded_keys,
            minhash_signature_table,
        )

        tbl = "test_sig_bands"
        store = minhash_signature_table(docs, shingle_k=3)
        banded_keys(store, "doc_id", 32, 8).write.bucketBy(
            8, "band", "bh"
        ).mode("overwrite").saveAsTable(tbl)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            new_banded = banded_keys(store, "doc_id", 32, 8).select(
                "band", "bh", F.col("doc_id").alias("_nid")
            )
            j = new_banded.join(
                spark.table(tbl).select(
                    "band", "bh", F.col("doc_id").alias("_sid")
                ),
                ["band", "bh"],
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # exactly ONE shuffle exchange (the new side); the store scan
        # reads its buckets directly
        assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
        assert "Bucketed: true" in plan, plan[:3000]

    def test_incremental_empty_increment(self, spark, docs):
        from cowsdb_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
            minhash_signature_table,
        )

        store = minhash_signature_table(docs, shingle_k=3)
        out = minhash_lsh_pairs_incremental(
            docs.filter(F.col("doc_id") < 0), store, shingle_k=3
        )
        assert out.count() == 0

    def test_incremental_raises_on_overlapping_ids(self, spark, docs):
        # ADVICE r8: ids shared between the increment and the store
        # would fan out the signature re-attach joins silently. A
        # re-ingested doc collides with itself in every band, so the
        # guard sees it as an id_a == id_b candidate and raises.
        import pytest

        from cowsdb_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
            minhash_signature_table,
        )

        store = minhash_signature_table(docs, shingle_k=3)
        overlap = docs.filter(F.col("doc_id") <= 1)  # ids 0,1 in both
        with pytest.raises(ValueError, match="disjoint"):
            minhash_lsh_pairs_incremental(
                overlap, store, shingle_k=3
            ).collect()

    def test_no_cache_manager_residue(self, spark, docs):
        # VERDICT r7 #2: the signature frame used persist() with no
        # reachable unpersist, pinning one cached table per call in a
        # long-lived serving session.  Now localCheckpoint like the
        # cand_ids/ids_needed frames: repeated calls must leave the
        # CacheManager exactly as they found it.
        cache = spark._jsparkSession.sharedState().cacheManager()
        before = cache.isEmpty()
        from cowsdb_spark.operators.text import bigram_lm_score

        for _ in range(2):
            minhash_lsh_pairs(docs, min_jaccard=0.5, shingle_k=3).collect()
            bigram_lm_score(docs).collect()  # same leak class, r8 fix
        assert cache.isEmpty() == before


class TestSimhash:
    def test_identical_docs_distance_zero(self, docs):
        pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs).collect()}
        assert pairs.get((0, 1)) == 0
        assert (0, 4) not in pairs

    def test_md5_hash_mode_equivalent_semantics(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(docs, hash_fn="md5").collect()
        }
        assert pairs.get((0, 1)) == 0  # exact dups: distance 0 in any mode
        assert (0, 4) not in pairs

    def test_signature_stage_runs_once(self, docs):
        """r5 (closes VERDICT r4 #7): the bucket-group formulation
        consumes the banded signatures exactly once — ONE exchange
        into (band, band-value) groups, no self-join, so the Python
        bit-vote stage appears at most once in the whole plan and no
        persist/cache is needed."""
        df = simhash_pairs(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BatchEvalPython") + plan.count(
            "ArrowEvalPython"
        ) <= 1, plan
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        # exactly one exchange feeds the bucket grouping (plus the
        # candidate-dedup exchange above it)
        assert plan.count("Exchange hashpartitioning") == 2, plan


class TestNgramJaccard:
    def test_exact_jaccard_values(self, docs, spark):
        pairs = spark.createDataFrame([(0, 1), (0, 3)], "id_a long, id_b long")
        out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, pairs).collect()}
        assert out[(0, 1)] == 1.0
        assert out[(0, 3)] < 0.3


class TestText:
    def test_token_stats(self, docs):
        r = {x.doc_id: x for x in token_stats(docs).collect()}
        assert r[0].n_tokens_ws == 12
        assert r[0].n_chars == len("the quick brown fox jumps over the lazy dog again and again")

    def test_lang_id_model(self, docs):
        r = {x.doc_id: x.lang_pred for x in lang_id(docs).collect()}
        assert r[0] == "en" and r[4] == "de"

    def test_lang_id_heldout_and_python_equivalence(self, spark):
        # the NB model must (a) classify held-out sentences (absent
        # from the training text) correctly and (b) agree with the
        # pure-Python reference scorer row-for-row
        from cowsdb_spark.operators.langid_model import HELDOUT, score_text

        rows = [(i, s) for i, s in enumerate(HELDOUT.values())]
        rows += [
            (100, "数据在系统中流动"),          # CJK -> zh (script override)
            (101, "12345 !!! ??? 678"),          # no letters -> und
            (102, "zzqqj xxkkw vvbbp"),          # letters, no vocab gram
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {x.doc_id: x.lang_pred for x in lang_id(d).collect()}
        for i, (lang, _s) in enumerate(HELDOUT.items()):
            assert got[i] == lang, (lang, got[i])
        assert got[100] == "zh" and got[101] == "und"
        # python reference agrees with Spark on every non-CJK row
        for i, (_lang, s) in enumerate(HELDOUT.items()):
            assert score_text(s) == got[i]
        assert score_text("12345 !!! ??? 678") == "und"
        assert got[102] == score_text("zzqqj xxkkw vvbbp")

    def test_lang_id_carry_cols_matches_join_composition(self, docs):
        # r9 fusion: carrying doc attributes through the operator's own
        # 1:1 re-attach must equal the old second-join composition
        import pyspark.sql.functions as F

        fused = lang_id(docs, carry_cols=["lang"]).collect()
        pred = lang_id(docs).select("doc_id", "lang_pred")
        joined = (
            docs.select("doc_id", "lang")
            .join(pred, "doc_id")
            .select("doc_id", "lang_pred", "lang")
            .collect()
        )
        assert sorted(map(tuple, fused)) == sorted(map(tuple, joined))
        # default API unchanged: no carry column in the output
        assert lang_id(docs).columns == ["doc_id", "lang_pred"]

    def test_lang_id_carry_cols_rejects_reserved_names(self, docs):
        # ADVICE r9: colliding carry names must fail at the call site,
        # not as an ambiguous-column analysis error deep in the plan
        import pytest as _pytest

        for bad in ["doc_id", "lang_pred", "_zh", "_s_en"]:
            with _pytest.raises(ValueError, match="carry_cols"):
                lang_id(docs, carry_cols=[bad])

    def test_quality_monotone(self, docs):
        r = {x.doc_id: x for x in quality_score(docs).collect()}
        assert 0 <= r[0].quality <= 1
        assert r[0].stop_ratio > 0

    def test_fused_cols_match_joined_composition(self, docs):
        """quality_cols/gopher_cols (the r9 t27 fusion hooks) over ONE
        staged projection must equal quality_score JOIN gopher_rules
        per row and column — the fusion may change the plan (1 scan,
        0 joins) but never a value."""
        from cowsdb_spark.operators.text import (
            gopher_cols,
            gopher_rules,
            quality_cols,
            tokens,
        )

        t = F.col("text")
        staged = docs.select(
            "doc_id", t, tokens(t).alias("_toks"), F.split(t, "\n").alias("_lines")
        )
        fused = staged.select("doc_id", *quality_cols(), *gopher_cols())
        old = quality_score(docs).join(gopher_rules(docs), "doc_id").select(
            *fused.columns
        )
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, old.collect())
        )


class TestAsof:
    def test_backward_semantics(self, spark):
        left = spark.createDataFrame(
            [(1, 10), (1, 20), (1, 5), (2, 10)], "k long, ts long"
        )
        right = spark.createDataFrame(
            [(1, 8, "a"), (1, 15, "b"), (2, 99, "z")], "k long, ts long, v string"
        )
        out = {
            (r.k, r.ts): r.v
            for r in asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()
        }
        assert out[(1, 10)] == "a"  # 8 <= 10 < 15
        assert out[(1, 20)] == "b"
        assert out[(1, 5)] is None  # nothing at-or-before 5
        assert out[(2, 10)] is None  # right row is in the future

    def test_equal_timestamp_inclusive(self, spark):
        left = spark.createDataFrame([(1, 10)], "k long, ts long")
        right = spark.createDataFrame([(1, 10, "x")], "k long, ts long, v string")
        (row,) = asof_join(left, right, on="k").collect()
        assert row.v == "x"


class TestSimilarity:
    def test_cosine_topk_self_similarity(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),   # identical to query
            (2, [0.0, 1.0, 0.0]),   # orthogonal
            (3, [0.9, 0.1, 0.0]),   # close
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = cosine_topk(emb, query_vec_id=0, k=3).collect()
        assert out[0].vec_id == 1 and out[0].sim == 1.0
        assert out[1].vec_id == 3
        assert out[-1].sim == 0.0

    def test_lsh_finds_identical(self, spark):
        rows = [(i, [float(i % 2), 1.0, 0.5]) for i in range(6)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = {(r.id_a, r.id_b): r.sim for r in lsh_bucket_join(emb, dim=3).collect()}
        assert pairs[(0, 2)] == 1.0  # identical vectors always bucket together


class TestMultimodal:
    def test_feature_extraction_shapes(self, spark):
        out = extract_features(synthetic_media(spark, 12)).collect()
        assert len(out) == 12
        for r in out:
            assert len(r.feature) == 8  # fixed-width across all kinds
            assert r.n_bytes > 0
        # y4m rows take the real-decode path: middle-frame pixel
        # features with the frame count in slot 7 (w=16, h=12)
        real_video = [r for r in out
                      if r.kind == "video" and r.feature[:2] == [16.0, 12.0]]
        assert real_video, "y4m rows must take the real-decode path"
        for r in real_video:
            assert r.feature[7] == 4.0  # n_frames

    def test_deterministic(self, spark):
        a = extract_features(synthetic_media(spark, 5)).collect()
        b = extract_features(synthetic_media(spark, 5)).collect()
        assert a == b

    def test_resize_images(self, spark):
        from cowsdb_spark.operators.media_codecs import decode_bmp
        from cowsdb_spark.operators.multimodal import resize_images

        media = synthetic_media(spark, 9)
        out = resize_images(media, 32, 16).collect()
        assert len(out) == 9  # narrow op: row count preserved
        for r in out:
            if r.kind == "image":
                assert r.meta.width == 32 and r.meta.height == 16
                # real resize: the output is itself a decodable BMP
                # at the requested dimensions
                img = decode_bmp(bytes(r.payload))
                assert img is not None and img.shape == (16, 32, 3)
            elif r.kind == "video":  # non-images pass through untouched
                assert r.meta.width in (16, 64)  # y4m clip / opaque stub

    def test_real_image_features(self, spark):
        # image rows decode for real: slots are (w, h, channels,
        # mean RGB..., gray std, aspect) — not byte stats
        out = extract_features(synthetic_media(spark, 3)).collect()
        img = [r for r in out if r.kind == "image"][0]
        w, h, ch = img.feature[0], img.feature[1], img.feature[2]
        assert (w, h, ch) == (16.0, 12.0, 3.0)
        assert abs(img.feature[7] - 16.0 / 12.0) < 1e-6

    def test_real_audio_features(self, spark):
        # 100ms 8kHz 0.5-amplitude sine: duration and RMS recovered
        # from the actual samples (sine RMS = amp/sqrt(2))
        out = extract_features(synthetic_media(spark, 3)).collect()
        aud = [r for r in out if r.kind == "audio"][0]
        assert abs(aud.feature[0] - 100.0) < 1e-6   # duration_ms
        assert aud.feature[1] == 8000.0             # sample rate
        assert abs(aud.feature[2] - 0.5 / 2 ** 0.5) < 1e-3  # rms

    def test_sample_frames_fanout(self, spark):
        from cowsdb_spark.operators.multimodal import sample_frames

        media = synthetic_media(spark, 9)  # kinds cycle image/audio/video
        out = sample_frames(media, every_ms=250).collect()
        vids = {r.media_id for r in out}
        assert all(i % 3 == 2 for i in vids)  # only video rows fan out
        # duration 1000ms @ 250ms → 4 frames per video, idx 0..3
        per = {}
        for r in out:
            per.setdefault(r.media_id, []).append(r)
        for mid, rows in per.items():
            assert sorted(r.frame_idx for r in rows) == [0, 1, 2, 3]
            assert sorted(r.ts_ms for r in rows) == [0, 250, 500, 750]
            assert all(r.frame for r in rows)


class TestTfIdf:
    def test_scores_sane(self, spark, sf_dir):
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.text import tf_idf

        d = load_table(spark, sf_dir, "documents")
        out = tf_idf(d, top_k=3).filter("doc_id < 10").collect()
        assert len(out) > 0
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc, rows in by_doc.items():
            assert len(rows) <= 3
            scores = [r.score for r in sorted(rows, key=lambda r: r.rk)]
            assert scores == sorted(scores, reverse=True)
            assert all(r.score >= 0 for r in rows)  # idf >= 0 since df <= N


class TestIvf:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.similarity import cosine_topk, ivf_build, ivf_topk

        e = load_table(spark, sf_dir, "embeddings").cache()
        exact = {r.vec_id for r in cosine_topk(e, 0, k=10).collect()}
        assigned, cents = ivf_build(e, n_centroids=8)
        from pyspark.sql import functions as F

        qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
        approx = {
            r.vec_id
            for r in ivf_topk(
                assigned.filter(F.col("vec_id") != 0), cents, qvec, k=10, nprobe=4
            ).collect()
        }
        # half the centroids probed -> recall well above chance;
        # exact equality is not the contract
        assert len(exact & approx) >= 5

    def test_full_probe_equals_brute_force(self, spark, sf_dir):
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.similarity import cosine_topk, ivf_build, ivf_topk

        e = load_table(spark, sf_dir, "embeddings").cache()
        exact = [(r.vec_id, r.sim) for r in cosine_topk(e, 0, k=10).collect()]
        assigned, cents = ivf_build(e, n_centroids=8)
        from pyspark.sql import functions as F

        qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
        approx = [
            (r.vec_id, r.sim)
            for r in ivf_topk(
                assigned.filter(F.col("vec_id") != 0), cents, qvec, k=10, nprobe=8
            ).collect()
        ]
        assert exact == approx  # probing every cell = exact search


class TestFunnel:
    """retention / windowFunnel / sequenceMatch (CH parametric
    aggregates, SURVEY §2.4 tier [D]) on a hand-built event log."""

    @pytest.fixture(scope="class")
    def ev(self, spark):
        from pyspark.sql import types as T

        rows = [
            # u1: view@0 click@10 purchase@20  -> full funnel in window
            (1, 0.0, "view"), (1, 10.0, "click"), (1, 20.0, "purchase"),
            # u2: click before view, purchase too late for 60s window
            (2, 0.0, "click"), (2, 5.0, "view"), (2, 100.0, "purchase"),
            # u3: view then purchase (no click)
            (3, 0.0, "view"), (3, 30.0, "purchase"),
            # u4: purchase only
            (4, 0.0, "purchase"),
        ]
        schema = T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ])
        return spark.createDataFrame(rows, schema)

    def _conds(self):
        from pyspark.sql import functions as F

        return [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ]

    def test_window_funnel_levels(self, ev):
        from cowsdb_spark.operators.funnel import window_funnel

        out = {
            r["user_id"]: r["level"]
            for r in window_funnel(ev, "user_id", "ts", 60.0, self._conds()).collect()
        }
        # u2 reaches level 2 (view@5 -> no click after) -> actually
        # click@0 precedes view@5, so only level 1
        assert out == {1: 3, 2: 1, 3: 1, 4: 0}

    def test_window_funnel_window_binds(self, ev):
        from cowsdb_spark.operators.funnel import window_funnel

        wide = {
            r["user_id"]: r["level"]
            for r in window_funnel(ev, "user_id", "ts", 1000.0, self._conds()).collect()
        }
        assert wide[2] == 1  # order still wrong for u2 even unwindowed

    def test_sequence_match(self, ev):
        from pyspark.sql import functions as F
        from cowsdb_spark.operators.funnel import sequence_match

        out = {
            r["user_id"]: r["matched"]
            for r in sequence_match(
                ev, "user_id", "ts",
                [F.col("event_type") == "view", F.col("event_type") == "purchase"],
            ).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 0}

    def test_retention(self, ev):
        from pyspark.sql import functions as F
        from cowsdb_spark.operators.funnel import retention

        out = {
            r["user_id"]: (r["r1"], r["r2"])
            for r in retention(
                ev, "user_id",
                [F.col("event_type") == "view", F.col("event_type") == "purchase"],
            ).collect()
        }
        # order-insensitive (CH semantics): u2's purchase counts even
        # though a click precedes the view; r2 gated on r1: u4 has
        # purchase but no view -> (0, 0)
        assert out == {1: (1, 1), 2: (1, 1), 3: (1, 1), 4: (0, 0)}

    def test_behavioral_profile_matches_composition(self, spark):
        """behavioral_profile (the r9 one-pass fusion t20 uses) must
        equal retention LEFT JOIN window_funnel LEFT JOIN
        sequence_match with NULLs coalesced to 0, per row and column —
        including keys whose funnel/sequence event lists are EMPTY
        (u5/u6: the left-join-miss path the fused folds must
        reproduce by folding an empty array to 0)."""
        from pyspark.sql import functions as F
        from cowsdb_spark.operators.funnel import (
            behavioral_profile,
            retention,
            sequence_match,
            window_funnel,
        )

        rows = [
            (1, 0.0, "signup"), (1, 1.0, "view"), (1, 10.0, "click"),
            (1, 20.0, "purchase"),
            (2, 0.0, "click"), (2, 5.0, "view"), (2, 100.0, "purchase"),
            (3, 0.0, "view"), (3, 30.0, "purchase"), (3, 40.0, "signup"),
            (4, 0.0, "purchase"),
            (5, 0.0, "error"),            # no funnel events, no seq events
            (6, 0.0, "signup"),           # seq events but chain incomplete
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts double, event_type string")
        rc = [F.col("event_type") == v for v in ("signup", "purchase", "error")]
        fc = [F.col("event_type") == v for v in ("view", "click", "purchase")]
        sc = [F.col("event_type") == v for v in ("signup", "purchase")]
        r = retention(ev, "user_id", rc)
        f = window_funnel(ev, "user_id", "ts", 60.0, fc).withColumnRenamed(
            "level", "_lvl"
        )
        s = sequence_match(ev, "user_id", "ts", sc).withColumnRenamed(
            "matched", "_m"
        )
        old = {
            tuple(r)
            for r in (
                r.join(f, "user_id", "left")
                .join(s, "user_id", "left")
                .select(
                    "user_id", "r1", "r2", "r3",
                    F.coalesce("_lvl", F.lit(0)).cast("int").alias("level"),
                    F.coalesce("_m", F.lit(0)).cast("int").alias("matched"),
                )
                .collect()
            )
        }
        new = {
            tuple(r)
            for r in behavioral_profile(
                ev, "user_id", "ts", rc, 60.0, fc, sc
            ).collect()
        }
        assert new == old
        assert len(new) == 6
        # u5 exercises both empty-list folds explicitly (r3 is 0 too:
        # retention gates every flag on cond1=signup, which u5 lacks)
        by_key = {t[0]: t for t in new}
        assert by_key[5] == (5, 0, 0, 0, 0, 0)


class TestEmbeddingNearDup:
    def test_exact_pairs_symmetry_and_threshold(self, spark, sf_dir):
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.dedup import embedding_neardup_pairs

        e = load_table(spark, sf_dir, "embeddings")
        got = embedding_neardup_pairs(e, threshold=0.45).collect()
        assert all(r["id_a"] < r["id_b"] for r in got)
        assert all(r["cos"] >= 0.45 for r in got)

    def test_exact_matches_bruteforce(self, spark, sf_dir):
        import numpy as np
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.dedup import embedding_neardup_pairs

        e = load_table(spark, sf_dir, "embeddings")
        rows = e.select("vec_id", "embedding").collect()
        ids = np.array([r[0] for r in rows])
        m = np.array([r[1] for r in rows], dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        s = m @ m.T
        want = {
            (int(ids[i]), int(ids[j]))
            for i in range(len(ids))
            for j in range(len(ids))
            if ids[i] < ids[j] and s[i, j] >= 0.45
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs(e, threshold=0.45).collect()
        }
        assert got == want

    def test_lsh_tier_is_subset_of_exact(self, spark, sf_dir):
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.dedup import embedding_neardup_pairs

        e = load_table(spark, sf_dir, "embeddings")
        exact = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs(e, threshold=0.45).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs(
                e, threshold=0.45, exact=False, dim=64
            ).collect()
        }
        assert lsh <= exact

    def test_exact_plan_has_no_nested_loop(self, spark, sf_dir):
        """VERDICT r2 #3: the registered t19 path must not plan a
        BroadcastNestedLoopJoin / CartesianProduct — the screen is a
        broadcast equi-join on the (pruned) block-pair table plus an
        applyInPandas matmul per surviving pair."""
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.dedup import embedding_neardup_pairs

        e = load_table(spark, sf_dir, "embeddings")
        plan = embedding_neardup_pairs(e, threshold=0.45)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_clustered_data_prunes_block_pairs(self, spark):
        """On angularly-clustered data the IVF bound must prune most
        of the B² block grid (the sub-quadratic claim); two tight
        antipodal clusters at threshold 0.9 keep only same-cluster
        block pairs."""
        import numpy as np

        from cowsdb_spark.operators import dedup as D

        rng = np.random.default_rng(7)
        base_a = rng.normal(size=64)
        base_b = -base_a  # antipodal: cross-cluster cosine ≈ -1
        rows = []
        for i in range(200):
            base = base_a if i < 100 else base_b
            v = base + rng.normal(scale=0.01, size=64)
            rows.append((i, [float(x) for x in v]))
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        D._IVF_INDEX_CACHE.clear()
        df = D.embedding_neardup_pairs(e, threshold=0.9, n_blocks=8)
        got = df.collect()
        # correctness: every same-cluster pair matches, no cross pairs
        assert len(got) == 2 * (100 * 99) // 2
        assert all((r.id_a < 100) == (r.id_b < 100) for r in got)
        # pruning: the block-pair table is far below the full grid (36)
        (emb_ref, assigned, cents, delta) = D._IVF_INDEX_CACHE[(id(e), 8)]
        import math

        theta_max = math.acos(0.9 - 1e-6)
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0] = 1e-12
        unit = cents / cn[:, None]
        cang = np.arccos(np.clip(unit @ unit.T, -1.0, 1.0))
        surviving = [
            (i, j)
            for i in range(8)
            for j in range(i, 8)
            if i in delta and j in delta
            and cang[i, j] - delta[i] - delta[j] <= theta_max + 1e-9
        ]
        # every cross-blob block pair (centroids on opposite sides of
        # the base direction) must be pruned; within-blob pairs survive
        # because they really do contain matches
        side = unit @ base_a > 0
        assert len(surviving) < 36
        assert all(side[i] == side[j] for i, j in surviving)


class TestAsofDirections:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, 10), (1, 20), (1, 5), (2, 10)], "k long, ts long"
        )
        right = spark.createDataFrame(
            [(1, 8, "a"), (1, 15, "b"), (2, 99, "z")], "k long, ts long, v string"
        )
        return left, right

    def test_forward_semantics(self, spark):
        left, right = self._frames(spark)
        out = {
            (r.k, r.ts): r.v
            for r in asof_join(left, right, on="k", direction="forward").collect()
        }
        assert out[(1, 10)] == "b"  # earliest at-or-after 10 is 15
        assert out[(1, 20)] is None  # nothing at-or-after 20
        assert out[(1, 5)] == "a"
        assert out[(2, 10)] == "z"

    def test_forward_equal_ts_inclusive(self, spark):
        left = spark.createDataFrame([(1, 10)], "k long, ts long")
        right = spark.createDataFrame([(1, 10, "x")], "k long, ts long, v string")
        (row,) = asof_join(left, right, on="k", direction="forward").collect()
        assert row.v == "x"

    def test_nearest_semantics(self, spark):
        left, right = self._frames(spark)
        out = {
            (r.k, r.ts): r.v
            for r in asof_join(left, right, on="k", direction="nearest").collect()
        }
        assert out[(1, 10)] == "a"  # |10-8|=2 < |15-10|=5
        assert out[(1, 20)] == "b"  # only backward exists
        assert out[(1, 5)] == "a"  # only forward exists
        assert out[(2, 10)] == "z"

    def test_nearest_tie_goes_backward(self, spark):
        left = spark.createDataFrame([(1, 10)], "k long, ts long")
        right = spark.createDataFrame(
            [(1, 8, "back"), (1, 12, "fwd")], "k long, ts long, v string"
        )
        (row,) = asof_join(left, right, on="k", direction="nearest").collect()
        assert row.v == "back"

    def test_all_matches_three_single_direction_calls(self, spark):
        """direction='all' (the r9 one-pass fusion t11 uses) must equal
        the three separate calls it replaces, per row and per column —
        including null fills, equal-ts inclusivity and the
        ties-backward nearest rule."""
        left = spark.createDataFrame(
            [(1, 10), (1, 20), (1, 5), (2, 10), (3, 7), (1, 8), (1, 12)],
            "k long, ts long",
        )
        right = spark.createDataFrame(
            [(1, 8, "a"), (1, 15, "b"), (2, 99, "z"), (1, 12, "c"),
             (1, 4, "d"), (1, 16, "e")],
            "k long, ts long, v string",
        )
        fused = {
            (r.k, r.ts): (r.v_back, r.v_fwd, r.v_near)
            for r in asof_join(left, right, on="k", direction="all").collect()
        }
        singles = {}
        for i, d in enumerate(("backward", "forward", "nearest")):
            for r in asof_join(left, right, on="k", direction=d).collect():
                singles.setdefault((r.k, r.ts), [None] * 3)[i] = r.v
        assert fused == {k: tuple(v) for k, v in singles.items()}
        assert len(fused) == 7

    def test_nearest_timestamp_type(self, spark):
        import datetime as dt

        left = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 12, 0, 0))], "k long, ts timestamp"
        )
        right = spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 11, 0, 0), "morning"),
                (1, dt.datetime(2024, 1, 1, 12, 30, 0), "noonish"),
            ],
            "k long, ts timestamp, v string",
        )
        (row,) = asof_join(left, right, on="k", direction="nearest").collect()
        assert row.v == "noonish"  # 30min forward beats 60min back

    def test_nearest_timestamp_ntz_parquet(self, spark, tmp_path):
        """Regression: Spark 4 reads parquet timestamp[us] (no UTC flag)
        as TIMESTAMP_NTZ when inference is on, and CAST(ntz AS DOUBLE)
        is an AnalysisException — _as_num must route through timestamp.
        Fixture forces an actual NTZ schema regardless of session conf."""
        import datetime as dt

        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("v", T.StringType()),
            ]
        )
        lschema = T.StructType(schema.fields[:2])
        left = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 12, 0, 0))], lschema
        )
        right = spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 11, 0, 0), "morning"),
                (1, dt.datetime(2024, 1, 1, 12, 30, 0), "noonish"),
            ],
            schema,
        )
        lp, rp = str(tmp_path / "l.parquet"), str(tmp_path / "r.parquet")
        left.write.parquet(lp)
        right.write.parquet(rp)
        prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        try:
            lf, rf = spark.read.parquet(lp), spark.read.parquet(rp)
            assert isinstance(lf.schema["ts"].dataType, T.TimestampNTZType)
            (row,) = asof_join(lf, rf, on="k", direction="nearest").collect()
        finally:
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)
        assert row.v == "noonish"

    def test_unknown_direction_raises(self, spark):
        left, right = self._frames(spark)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            asof_join(left, right, on="k", direction="sideways")

    def test_single_shuffle_plan_all_directions(self, spark, sf_dir):
        """The union+window rewrite's scale contract: ONE hash
        exchange on the join key, same as the equi-join ClickHouse
        plans — nearest's second ordering is a re-sort of the same
        partitions, not a second shuffle."""
        from pyspark.sql import functions as F

        from cowsdb_spark.catalog import load_table

        e = load_table(spark, sf_dir, "events")
        left = e.filter(F.col("event_type") == "signup")
        right = e.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        )
        for d in ("backward", "forward", "nearest"):
            plan = (
                asof_join(left, right, on="user_id", direction=d)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            n = plan.count("Exchange hashpartitioning") - plan.count("ReusedExchange")
            assert n == 1, f"{d}: {n} shuffles"


class TestExactQuantile:
    """Histogram-refinement exact percentile (operators/quantile.py):
    no full-data shuffle — only histogram counts move."""

    def test_matches_sorted_reference(self, spark):
        import random

        random.seed(11)
        data = [(random.gauss(0.0, 50.0),) for _ in range(4000)]
        df = spark.createDataFrame(data, "v double")
        qs = [0.0, 0.1, 0.5, 0.95, 1.0]
        got = exact_percentiles(df, "v", qs)
        vs = sorted(x[0] for x in data)

        def qc(q):
            h = (len(vs) - 1) * q
            kf, fr = int(h), (len(vs) - 1) * q - int(h)
            return vs[kf] if fr == 0 else vs[kf] + fr * (vs[kf + 1] - vs[kf])

        assert all(abs(a - qc(q)) < 1e-9 for a, q in zip(got, qs))

    def test_refinement_path_on_large_column(self, spark, sf_dir):
        # > FETCH_LIMIT rows forces at least one histogram iteration
        import duckdb

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        if li.count() <= 100_000:
            li = li.unionByName(li).unionByName(li)  # small sf fallback
        (got,) = exact_percentiles(li, "l_extendedprice", [0.9])
        path = f"{sf_dir}/lineitem.parquet"
        n = li.count() // spark.read.parquet(path).count()
        dd = duckdb.sql(
            f"SELECT quantile_cont(l_extendedprice, 0.9) FROM read_parquet('{path}')"
        ).fetchone()[0]
        # union duplication doesn't change quantiles of duplicated data
        assert abs(got - dd) < 1e-6

    def test_empty_single_and_duplicates(self, spark):
        assert exact_percentiles(
            spark.range(0).selectExpr("CAST(id AS DOUBLE) AS v"), "v", [0.5]
        ) == [None]
        assert exact_percentiles(
            spark.createDataFrame([(7.0,)], "v double"), "v", [0.0, 1.0]
        ) == [7.0, 7.0]
        dup = spark.createDataFrame([(1.0,)] * 500 + [(2.0,)] * 500, "v double")
        assert exact_percentiles(dup, "v", [0.25, 0.5, 0.75]) == [1.0, 1.5, 2.0]

    def test_extra_aggs_ride_the_first_scan(self, spark):
        """exact_percentile_row's extra_aggs (the r9 q30 fusion: the
        caller's unrelated global aggregates ride the operator's own
        step-1 scan) must equal the standalone df.agg composition —
        percentile values untouched, extras bit-identical."""
        from cowsdb_spark.operators.quantile import exact_percentile_row

        rows = [(float(i), float(i % 7)) for i in range(1000)]
        df = spark.createDataFrame(rows, "v double, d double")
        cond = F.col("d") > 3.0
        aggs = [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias("n_hit"),
            F.round(F.sum(F.when(cond, F.col("v")).otherwise(0)), 2).alias(
                "v_hit"
            ),
        ]
        fused = exact_percentile_row(
            spark,
            df,
            [("v", 0.5, "med")],
            extra_aggs=aggs,
            extra_schema="n_hit long, v_hit double",
        ).collect()[0]
        plain = exact_percentile_row(spark, df, [("v", 0.5, "med")]).collect()[0]
        standalone = df.agg(*aggs).collect()[0]
        assert fused.med == plain.med
        assert fused.n_hit == standalone.n_hit
        assert fused.v_hit == standalone.v_hit


class TestScaleShapeFixes:
    """Round-3 verdict items 4-5: tf_idf must not force-broadcast the
    vocabulary; the multimodal Python-stage coalesce must be
    size-conditional."""

    def test_tfidf_no_forced_vocab_broadcast(self, spark, sf_dir):
        from cowsdb_spark.catalog import load_table
        from cowsdb_spark.operators.text import tf_idf

        d = load_table(spark, sf_dir, "documents")
        out = tf_idf(d, top_k=3)
        # the tf-df join must not carry a broadcast HINT on the
        # vocabulary side (AQE may still ELECT broadcast at runtime,
        # which is fine — the optimized logical plan is hint-free)
        logical = out._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in logical
        # value sanity: scores still produced
        assert out.filter("doc_id < 5").count() > 0

    def test_prep_python_stage_input_conditional(self, spark):
        from cowsdb_spark.operators.multimodal import (
            SMALL_PY_STAGE_ROWS,
            prep_python_stage_input,
            synthetic_media,
        )

        small = prep_python_stage_input(synthetic_media(spark, 8), n_rows=8)
        assert small.rdd.getNumPartitions() == 1
        big = synthetic_media(spark, 8)
        n_before = big.rdd.getNumPartitions()
        # attested-large and unknown sizes both pass through untouched
        assert (
            prep_python_stage_input(big, n_rows=SMALL_PY_STAGE_ROWS + 1)
            .rdd.getNumPartitions()
            == n_before
        )
        assert prep_python_stage_input(big).rdd.getNumPartitions() == n_before


class TestConnectedComponents:
    """Transitive closure of near-dup pairs: chains, cliques, and
    disjoint parts resolve to min-id component labels."""

    def _cc(self, spark, edges):
        from cowsdb_spark.operators.dedup import connected_components

        e = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            r.id: r.comp for r in connected_components(e).collect()
        }

    def test_chain_collapses_to_min(self, spark):
        # 1-2-3-4-5 chain: all label 1 (needs transitivity, pairs
        # never connect 1 to 5 directly)
        out = self._cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}

    def test_disjoint_components(self, spark):
        out = self._cc(spark, [(1, 2), (5, 6), (6, 7), (10, 10)])
        assert out == {1: 1, 2: 1, 5: 5, 6: 5, 7: 5, 10: 10}

    def test_direction_and_duplicates_ignored(self, spark):
        out = self._cc(spark, [(2, 1), (1, 2), (2, 3), (3, 1)])
        assert out == {1: 1, 2: 1, 3: 1}

    def test_long_chain_converges(self, spark):
        # 64-node chain: pointer jumping must converge well inside
        # max_iter (plain propagation would need 63 rounds)
        edges = [(i, i + 1) for i in range(64)]
        out = self._cc(spark, edges)
        assert set(out.values()) == {0} and len(out) == 65

    def test_fused_init_matches_identity_composition(self, spark):
        # r10 fused iteration 0 (no node-distinct, no identity-label
        # join): min(self, neighbors) per node. Graph chosen so the
        # initial functional forest has MULTIPLE local-minimum roots
        # per component (ids descend then ascend along the path) —
        # the shape where a wrong init would surface as a split
        # component rather than converge by accident.
        edges = [(20, 40), (40, 10), (10, 50), (50, 30), (90, 80)]
        out = self._cc(spark, edges)
        assert out == {20: 10, 40: 10, 10: 10, 50: 10, 30: 10,
                       90: 80, 80: 80}

    def test_empty_edge_set(self, spark):
        assert self._cc(spark, []) == {}


class TestKeepBestSurvivors:
    def _setup(self, spark):
        # clusters: {1,2,3} and {7,8}; 5 is a singleton
        docs = spark.createDataFrame(
            [
                (1, "a b", 10.0),
                (2, "a b c d", 40.0),
                (3, "a b c", 40.0),
                (5, "solo", 1.0),
                (7, "x", 5.0),
                (8, "x y", 2.0),
            ],
            "doc_id long, text string, q double",
        )
        comp = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "id long, comp long"
        )
        return docs, comp

    def test_keeps_argmax_ties_to_min_id(self, spark):
        from cowsdb_spark.operators.dedup import keep_best_survivors

        docs, comp = self._setup(spark)
        kept = sorted(
            r.doc_id for r in keep_best_survivors(docs, comp, "q").collect()
        )
        # cluster 1: docs 2 and 3 tie at q=40 -> min id 2 survives;
        # cluster 7: doc 7 wins on q; singleton 5 always survives
        assert kept == [2, 5, 7]

    def test_differs_from_min_id_keep_one(self, spark):
        from cowsdb_spark.operators.dedup import keep_best_survivors

        docs, comp = self._setup(spark)
        kept = sorted(
            r.doc_id for r in keep_best_survivors(docs, comp, "q").collect()
        )
        min_id_kept = [1, 5, 7]  # connected_components representative
        assert kept != min_id_kept

    def test_bodies_never_shuffle(self, spark):
        from cowsdb_spark.operators.dedup import keep_best_survivors

        docs, comp = self._setup(spark)
        plan = (
            keep_best_survivors(docs, comp, "q")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the corpus side joins the loser ids ANTI, never sort-merge
        assert "SortMergeJoin LeftAnti" not in plan

    def test_string_ids(self, spark):
        # ids are often hashes/URLs: the argmax tie-break must work on
        # non-numeric ids too (a negate-the-id construction would NULL
        # out non-ANSI or throw ANSI)
        from cowsdb_spark.operators.dedup import keep_best_survivors

        docs = spark.createDataFrame(
            [("ua", "x", 1.0), ("ub", "y", 2.0), ("uc", "z", 2.0)],
            "doc_id string, text string, q double",
        )
        comp = spark.createDataFrame(
            [("ua", "ua"), ("ub", "ua"), ("uc", "ua")],
            "id string, comp string",
        )
        kept = sorted(
            r.doc_id for r in keep_best_survivors(docs, comp, "q").collect()
        )
        assert kept == ["ub"]  # max q, tie broken to smaller id


class TestSamplePerKey:
    def test_deterministic_and_bounded(self, spark):
        from cowsdb_spark.operators.text import sample_per_key

        rows = [(i, f"t{i}", "en" if i % 3 else "de") for i in range(100)]
        d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        s1 = sorted((r.lang, r.doc_id) for r in sample_per_key(d, k=4).collect())
        s2 = sorted((r.lang, r.doc_id) for r in sample_per_key(d, k=4).collect())
        assert s1 == s2  # no RNG: identical across runs
        from collections import Counter

        per_key = Counter(l for l, _ in s1)
        assert per_key == {"en": 4, "de": 4}

    def test_k_larger_than_stratum(self, spark):
        from cowsdb_spark.operators.text import sample_per_key

        d = spark.createDataFrame(
            [(1, "a", "xx"), (2, "b", "xx")], "doc_id long, text string, lang string"
        )
        assert sample_per_key(d, k=10).count() == 2


class TestConnectedComponentsArgs:
    def test_max_iter_below_one_raises(self, spark):
        from cowsdb_spark.operators.dedup import connected_components

        e = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="max_iter"):
            connected_components(e, max_iter=0)


class TestContamination:
    def test_span_overlap_flags(self, spark):
        from cowsdb_spark.operators.text import contamination_flags

        ev = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        train = spark.createDataFrame(
            [
                # contains the full 8-gram "the quick ... lazy" span
                (1, "prefix the quick brown fox jumps over the lazy end"),
                # shares words but no 8-token contiguous span
                (2, "the quick brown cat sleeps under the lazy dog"),
                (3, "completely unrelated text with nothing shared here at all"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.n_hits for r in contamination_flags(train, ev, n=8).collect()}
        assert 1 in out and out[1] >= 1
        assert 2 not in out and 3 not in out

    def test_plan_broadcasts_eval_side(self, spark):
        from cowsdb_spark.operators.text import contamination_flags
        from cowsdb_spark.plans.inspect import explain_str

        ev = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
        tr = spark.createDataFrame([(2, "a b c d e f g h i")], "doc_id long, text string")
        plan = explain_str(contamination_flags(tr, ev, n=8))
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


class TestBigramLmScore:
    def test_probabilities_hand_computed(self, spark):
        import math

        # corpus: "a b" x2 and "a c" -> P(b|a)=2/3, P(c|a)=1/3
        d = spark.createDataFrame(
            [(0, "a b"), (1, "a b"), (2, "a c"), (3, "solo")],
            "doc_id long, text string",
        )
        from cowsdb_spark.operators.text import bigram_lm_score

        out = {r.doc_id: r for r in bigram_lm_score(d).collect()}
        assert out[0].lm_score == round(math.log(2 / 3), 4)
        assert out[2].lm_score == round(math.log(1 / 3), 4)
        assert out[0].n_bigrams == 1
        # <2 tokens -> no bigrams -> dropped
        assert 3 not in out


class TestChunkDedup:
    def test_shared_prefix_chunk_removed_once(self, spark):
        # chunk size 2: doc0 = [xx yy][a b], doc1 = [xx yy][c d]
        d = spark.createDataFrame(
            [(0, "xx yy a b"), (1, "xx yy c d")],
            "doc_id long, text string",
        )
        from cowsdb_spark.operators.text import chunk_dedup

        out = {r.doc_id: r for r in chunk_dedup(d, chunk_tokens=2).collect()}
        assert out[0].n_chunks == 2 and out[0].n_kept == 2
        assert out[0].kept_text == "xx yy a b"
        # doc1 loses the shared first chunk, keeps order of the rest
        assert out[1].n_chunks == 2 and out[1].n_kept == 1
        assert out[1].kept_text == "c d"

    def test_fully_duplicated_doc_drops_out(self, spark):
        d = spark.createDataFrame(
            [(0, "xx yy"), (1, "xx yy")], "doc_id long, text string"
        )
        from cowsdb_spark.operators.text import chunk_dedup

        out = {r.doc_id: r for r in chunk_dedup(d, chunk_tokens=2).collect()}
        assert 0 in out and 1 not in out


class TestPackSequences:
    def test_bins_by_running_offset(self, spark):
        # stratum s: tokens 3,3,3 with seq_len 4 -> offsets 0,3,6
        # -> bins 0,0,1
        d = spark.createDataFrame(
            [(0, "a b c", "s"), (1, "d e f", "s"), (2, "g h i", "s")],
            "doc_id long, text string, source string",
        )
        from cowsdb_spark.operators.text import pack_sequences

        out = {
            r.bin: r
            for r in pack_sequences(d, seq_len=4).collect()
        }
        assert out[0].n_docs == 2 and out[0].bin_tokens == 6
        assert out[1].n_docs == 1 and out[1].bin_tokens == 3


class TestBruteTopkBatch:
    def test_matches_per_query_exact(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(300, 16)).astype(float)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        from cowsdb_spark.operators.similarity import brute_topk_batch, cosine_topk

        qids = [7, 123, 250]
        queries = {q: [float(x) for x in vecs[q]] for q in qids}
        got = brute_topk_batch(emb, queries, k=5).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append((r.vec_id, r.sim))
        for q in qids:
            exact = [(r.vec_id, r.sim) for r in cosine_topk(emb, q, k=5).collect()]
            assert by_q[q] == exact, (q, by_q[q], exact)


class TestCorpusStats:
    def test_values_and_plan(self, spark):
        from cowsdb_spark.operators.text import corpus_stats

        docs = spark.createDataFrame(
            [(i, "the cat sat on the mat " + f"tail{i}") for i in range(20)],
            "doc_id long, text string",
        )
        row = corpus_stats(docs, top_ranks=50).collect()[0]
        assert row.n_docs == 20
        # 7 tokens/doc: 'the' twice -> total 140, vocab = 5 shared + 20 tails
        assert row.total_tokens == 140
        assert row.vocab_size == 25
        assert abs(row.ttr - round(25 / 140, 6)) < 1e-9
        # freq: the=40; cat/sat/on/mat=20; tails=1 -> slope < 0
        assert row.zipf_slope < 0
        plan = (
            corpus_stats(docs, top_ranks=50)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # corpus-sized stages: exactly one token-keyed aggregate pair;
        # the rank window must sit above a bounded top-K, not a global
        # sort of the vocabulary
        assert "TakeOrderedAndProject" in plan

    def test_extra_aggs_match_crossjoin_composition(self, spark):
        """corpus_stats' extra_aggs (the r9 t45 fusion: unrelated
        doc-level aggregates riding the operator's own n_docs scan)
        must equal the crossJoin composition per column."""
        from cowsdb_spark.operators.text import corpus_stats

        docs = spark.createDataFrame(
            [(i, f"the cat sat tail{i % 3}") for i in range(20)],
            "doc_id long, text string",
        )
        agg = F.countDistinct(
            F.md5(F.lower(F.trim(F.col("text"))))
        ).alias("n_unique_docs")
        fused = corpus_stats(docs, top_ranks=50, extra_aggs=[agg]).collect()[0]
        old = (
            corpus_stats(docs, top_ranks=50)
            .crossJoin(docs.agg(agg))
            .collect()[0]
        )
        assert fused.asDict() == old.asDict()
        assert fused.n_unique_docs == 3


class TestCrossCorpusNew:
    def test_new_minus_seen(self, spark):
        from cowsdb_spark.operators.dedup import cross_corpus_new

        seen = spark.createDataFrame(
            [(0, "alpha"), (3, "beta")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(1, "ALPHA  "), (2, "gamma"), (4, "beta"), (5, "delta")],
            "doc_id long, text string",
        )
        got = sorted(r.doc_id for r in cross_corpus_new(new, seen).collect())
        # 1 matches alpha after lower+trim; 4 matches beta; 2,5 survive
        assert got == [2, 5]

    def test_bodies_never_shuffle_and_broadcast(self, spark):
        from cowsdb_spark.operators.dedup import cross_corpus_new

        seen = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        new = spark.createDataFrame([(1, "y")], "doc_id long, text string")
        plan = (
            cross_corpus_new(new, seen)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "LeftAnti" in plan
        # the join operates on fingerprints; raw text reaches no
        # exchange (projection happens below the join)
        assert "text" not in plan.split("Join")[0].split("Exchange")[-1]


class TestFuzzyContamination:
    def test_flags_paraphrased_overlap(self, spark):
        from cowsdb_spark.operators.text import fuzzy_contamination

        ev = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        docs = spark.createDataFrame(
            [
                # shares most 3-grams with the eval doc, but inserted
                # words break every long exact span
                (10, "the quick brown fox leaps jumps over the lazy dog"),
                (11, "completely unrelated text about data pipelines here"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.max_jaccard for r in
               fuzzy_contamination(docs, ev, n=3, threshold=0.2).collect()}
        assert 10 in got and got[10] >= 0.2
        assert 11 not in got

    def test_eval_side_broadcast(self, spark):
        from cowsdb_spark.operators.text import fuzzy_contamination

        ev = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
        docs = spark.createDataFrame([(1, "a b c e")], "doc_id long, text string")
        plan = (
            fuzzy_contamination(docs, ev)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_empty_corpus_does_not_throw(self, spark):
        from cowsdb_spark.operators.text import corpus_stats, fuzzy_contamination

        empty = spark.createDataFrame([], "doc_id long, text string")
        row = corpus_stats(empty).collect()[0]
        assert row.n_docs == 0 and row.vocab_size == 0
        assert fuzzy_contamination(empty, empty).collect() == []


class TestDupNgramCoverage:
    def test_cross_doc_duplicated_bigram(self, spark):
        # bigram "xx yy" appears in docs 0 and 1; "a b"/"c d" are unique
        d = spark.createDataFrame(
            [(0, "xx yy a b"), (1, "xx yy c d"), (2, "p q r s")],
            "doc_id long, text string",
        )
        from cowsdb_spark.operators.text import dup_ngram_coverage

        out = {
            r.doc_id: r for r in dup_ngram_coverage(d, n=2, min_docs=2).collect()
        }
        # doc0: 3 bigrams, 1 duplicated ("xx yy"), tokens covered = 2/4
        assert out[0].n_grams == 3 and out[0].n_dup_grams == 1
        assert out[0].dup_gram_frac == 0.3333 and out[0].dup_token_frac == 0.5
        assert out[1].n_dup_grams == 1
        assert out[2].n_dup_grams == 0 and out[2].dup_token_frac == 0.0

    def test_overlapping_dup_grams_cover_union(self, spark):
        # "xx yy zz" shared: doc0 bigrams [xx yy][yy zz] both duplicated,
        # covering the union {1,2,3} of positions -> 3/4 tokens
        d = spark.createDataFrame(
            [(0, "xx yy zz a"), (1, "xx yy zz b")],
            "doc_id long, text string",
        )
        from cowsdb_spark.operators.text import dup_ngram_coverage

        out = {
            r.doc_id: r for r in dup_ngram_coverage(d, n=2, min_docs=2).collect()
        }
        assert out[0].n_dup_grams == 2 and out[0].dup_token_frac == 0.75

    def test_hash_key_lane_matches_text_lane(self, spark):
        d = spark.createDataFrame(
            [(0, "xx yy zz a"), (1, "xx yy zz b"), (2, "p q r s")],
            "doc_id long, text string",
        )
        from cowsdb_spark.operators.text import dup_ngram_coverage

        t = sorted(map(tuple, dup_ngram_coverage(d, n=2).collect()))
        h = sorted(map(tuple, dup_ngram_coverage(d, n=2, key="hash").collect()))
        assert t == h

    def test_within_doc_repeat_not_duplicated(self, spark):
        # "xx yy" twice in ONE doc: distinct-doc count is 1 -> not dup
        d = spark.createDataFrame(
            [(0, "xx yy xx yy"), (1, "p q r s")],
            "doc_id long, text string",
        )
        from cowsdb_spark.operators.text import dup_ngram_coverage

        out = {
            r.doc_id: r for r in dup_ngram_coverage(d, n=2, min_docs=2).collect()
        }
        assert out[0].n_dup_grams == 0


def _ref_scrub(docs, n, min_docs):
    """Brute-force reference for scrub_dup_spans: mark every token
    position covered by a gram occurring in >= min_docs distinct docs,
    keep the rest in order."""
    toks = {i: t.split(" ") for i, t in docs}
    gram_docs = {}
    for i, tl in toks.items():
        for p in range(len(tl) - n + 1):
            gram_docs.setdefault(" ".join(tl[p : p + n]), set()).add(i)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
    out = {}
    for i, tl in toks.items():
        if len(tl) < n:
            continue
        cov = set()
        for p in range(len(tl) - n + 1):
            if " ".join(tl[p : p + n]) in dup:
                cov.update(range(p, p + n))
        kept = [tl[p] for p in range(len(tl)) if p not in cov]
        out[i] = (len(tl), len(tl) - len(kept), " ".join(kept))
    return out


class TestScrubDupSpans:
    def test_matches_bruteforce_on_golden_corpus(self, spark):
        docs = [
            (1, "a b c d e f g h i j k l m n"),
            (2, "a b c d e f x y z k l m n o p q r s"),
            (3, "z z z q r s t u v w a b a b"),
            (4, "q r s t u v w momo unique tokens here only"),
            (5, "a b c d e f"),  # the whole doc is one duplicated gram
            (6, "lone words that match nothing at all"),
            (7, "t u v w"),  # < n tokens: dropped, matching the flag op
        ]
        from cowsdb_spark.operators.text import scrub_dup_spans

        d = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_removed_tokens, r.scrubbed)
            for r in scrub_dup_spans(d, n=6, min_docs=2).collect()
        }
        assert got == _ref_scrub(docs, 6, 2)
        assert got[5] == (6, 6, "")  # full removal -> empty string
        assert got[6][1] == 0  # untouched doc comes back verbatim

    def test_matches_bruteforce_on_random_corpus(self, spark):
        # small vocab + seeded LCG so cross-doc collisions are dense and
        # the merged-block geometry (adjacent, overlapping, islands) is
        # exercised without RNG state
        state, vocab = 12345, [f"w{i}" for i in range(7)]
        docs = []
        for i in range(40):
            toks = []
            for _ in range(3 + i % 17):
                state = (state * 48271) % 2147483647
                toks.append(vocab[state % len(vocab)])
            docs.append((i, " ".join(toks)))
        from cowsdb_spark.operators.text import scrub_dup_spans

        d = spark.createDataFrame(docs, "doc_id long, text string")
        for n, m in [(3, 2), (4, 3)]:
            got = {
                r.doc_id: (r.n_tokens, r.n_removed_tokens, r.scrubbed)
                for r in scrub_dup_spans(d, n=n, min_docs=m).collect()
            }
            assert got == _ref_scrub(docs, n, m)

    def test_hash_key_lane_matches_text_lane(self, spark):
        d = spark.createDataFrame(
            [(0, "xx yy zz a"), (1, "xx yy zz b"), (2, "p q r s")],
            "doc_id long, text string",
        )
        from cowsdb_spark.operators.text import scrub_dup_spans

        t = sorted(map(tuple, scrub_dup_spans(d, n=2).collect()))
        h = sorted(map(tuple, scrub_dup_spans(d, n=2, key="hash").collect()))
        assert t == h

    def test_agrees_with_coverage_flag(self, spark):
        # the scrubbed token count must equal the flag operator's
        # covered-position count: removal and measurement are two views
        # of the same dup-gram position set
        docs = [
            (i, " ".join(f"t{(i * 7 + j) % 9}" for j in range(5 + i % 6)))
            for i in range(30)
        ]
        from cowsdb_spark.operators.text import (
            dup_ngram_coverage,
            scrub_dup_spans,
        )

        d = spark.createDataFrame(docs, "doc_id long, text string")
        cov = {
            r.doc_id: round(r.dup_token_frac, 4)
            for r in dup_ngram_coverage(d, n=3, min_docs=2).collect()
        }
        scr = {
            r.doc_id: round(r.n_removed_tokens / r.n_tokens, 4)
            for r in scrub_dup_spans(d, n=3, min_docs=2).collect()
        }
        assert scr == cov


class TestMixSample:
    def test_rates_and_split_are_deterministic(self, spark):
        rows = [(i, "w " * 20, "a" if i % 2 == 0 else "b") for i in range(200)]
        d = spark.createDataFrame(
            [(i, t.strip(), s) for i, t, s in rows],
            "doc_id long, text string, source string",
        )
        from cowsdb_spark.operators.text import mix_sample

        w = {"a": 1.0, "b": 0.0}
        out = {r.source: r for r in mix_sample(d, w).collect()}
        assert out["a"].n_kept == out["a"].n_total == 100
        assert out["b"].n_kept == 0
        # split partitions the kept set exactly
        assert (
            out["a"].n_train + out["a"].n_val + out["a"].n_test
            == out["a"].n_kept
        )
        assert out["a"].kept_tokens == 100 * 20
        # same inputs -> identical result (no RNG state)
        again = {r.source: r for r in mix_sample(d, w).collect()}
        assert {k: tuple(v) for k, v in out.items()} == {
            k: tuple(v) for k, v in again.items()
        }

    def test_unlisted_source_keeps_everything(self, spark):
        d = spark.createDataFrame(
            [(1, "x y", "solo")], "doc_id long, text string, source string"
        )
        from cowsdb_spark.operators.text import mix_sample

        r = mix_sample(d, {"other": 0.5}).collect()[0]
        assert r.n_kept == 1 and r.kept_tokens == 2

    def test_half_rate_is_plausible_and_salted(self, spark):
        d = spark.createDataFrame(
            [(i, "w", "s") for i in range(2000)],
            "doc_id long, text string, source string",
        )
        from cowsdb_spark.operators.text import mix_sample

        half = mix_sample(d, {"s": 0.5}).collect()[0]
        assert 850 <= half.n_kept <= 1150  # md5 uniform, 2000 draws
        other_salt = mix_sample(d, {"s": 0.5}, salt="other").collect()[0]
        assert other_salt.n_kept != half.n_kept  # salt changes the draw
