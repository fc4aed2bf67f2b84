"""Deduplication operators for LLM-data pipelines (SURVEY §7 G).

Four tiers, all shuffle-disciplined for 100 TB:

- ``exact_dedup`` — hash-groupBy on a normalized content
  fingerprint. One shuffle on the hash; at scale the fingerprint
  (64-128 bits) shuffles instead of the document bodies.
- ``minhash_lsh_pairs`` — shingle → minhash signature → banding →
  bucket equi-join. The only shuffle is the (band, bucket-hash)
  key; candidate verification joins back per-pair. The classic
  MMDS construction, expressed as DataFrame ops end to end.
- ``simhash_pairs`` — 64-bit simhash per doc; near-dup candidates
  share a band of the fingerprint (hamming-ball via 4-way banding).
- ``ngram_jaccard`` — exact Jaccard on character n-gram sets for a
  candidate pair set (verification kernel for the LSH tiers).

Everything is built from built-in higher-order functions —
split/transform/xxhash64/aggregate — so the hot path stays inside
whole-stage codegen; no Python UDF anywhere.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def normalized(text: Column) -> Column:
    """Normalization used by every dedup tier: lower + squeeze ws."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """128-bit-ish content fingerprint (two independent xxhash64)."""
    n = normalized(text)
    return F.concat_ws(
        ":", F.xxhash64(n).cast("string"), F.xxhash64(F.reverse(n)).cast("string")
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One survivor per distinct normalized text.

    Output: (doc_id, dup_count) — doc_id is the minimum id in each
    duplicate class. Plan: project fingerprint → hash-partial-agg →
    exchange on fingerprint → final agg. Bodies never shuffle.
    """
    fp = fingerprint(F.col(text_col)).alias("_fp")
    return (
        docs.select(F.col(id_col), fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_fp")
    )


def shingles(text: Column, k: int = 5) -> Column:
    """Word k-shingles of the normalized text (array<string>).

    NOTE: per-element lambda cost — if ``text`` is a raw expression
    (not a materialized column), the normalize+split subtree is
    re-evaluated for EVERY array element inside transform(), turning
    O(len) into O(len²) per row (measured 9× on sf0.1 docs). Callers
    on a hot path must project the token array first; see
    ``_tokens_of`` / ``simhash_pairs``.
    """
    toks = F.split(normalized(text), " ")
    return shingles_of_tokens(toks, k)


M31 = 2147483647


def token_hashes_of(toks: Column, hash_fn: str = "xxhash64") -> Column:
    """One xxhash64 per token. The k-shingle hash is then a rolling
    polynomial combine of k consecutive token hashes, done vectorized
    in numpy (see ``minhash_from_token_hashes``) — n small-string
    hashes instead of materializing n k-token shingle strings
    (measured at 1M docs / 40M tokens: 11.3s vs 48.5s for the
    slice+array_join+xxhash64 shingle-string formulation).

    CAUTION (hot path): ``toks`` must be a materialized attribute
    from a previous projection — an inline ``split(regexp_replace(…))``
    argument gets re-evaluated per element by the lambda (measured
    quadratic blowup: pairs stage 132s → 374s when inlined).

    ``hash_fn='md5'`` (r7) swaps xxhash64 for the top 60 bits of md5
    — ~2× slower per token but computable BIT-EXACTLY by DuckDB
    (``CAST(concat('0x', substring(md5(t),1,15)) AS BIGINT)``), which
    makes the whole MinHash-LSH pipeline oracle-checkable end-to-end
    (t06's driver gate). Production paths keep the xxhash64 default."""
    if hash_fn == "md5":
        return F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    return F.transform(toks, lambda t: F.xxhash64(t))


def shingles_of_tokens(toks: Column, k: int) -> Column:
    """k-shingles from an already-materialized token-array column."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    )


def _tokens_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks) with the normalized token array materialized, so
    downstream higher-order lambdas reference a cheap attribute."""
    return docs.select(
        F.col(id_col), F.split(normalized(F.col(text_col)), " ").alias("_toks")
    )


def minhash_signature(tokens: Column, n_hashes: int = 32, k: int = 5, seed: int = 42) -> Column:
    """Array of n_hashes minhash values over word k-shingles.

    Two-phase split between JVM and Python (r5 rework, measured at
    1M docs):

    1. Shingling + hashing stays JVM-side in whole-stage codegen:
       ``transform(shingles, s -> xxhash64(s))`` — the string joins
       and hashing that previously ran as ~200M Python-level
       ``" ".join``/``zlib.crc32`` calls (the dominant cost of the
       whole LSH pipeline at 1M docs) become vectorized codegen.
    2. Only the n_hashes universal-hash permutations
       ``(a_i*h + b_i) mod M31`` run in an Arrow-batched pandas UDF
       as one numpy broadcast per row.

    A pure higher-order-function formulation of phase 2 (32
    ``array_min(transform(...))`` calls) was measured at 17s for 500
    docs — the expression blows past the codegen size limit and falls
    back to interpreted eval; the numpy broadcast does the same work
    in milliseconds per Arrow batch.
    """
    return minhash_from_token_hashes(token_hashes_of(tokens), n_hashes, k, seed)


def minhash_constants(n_hashes: int = 32, k: int = 5, seed: int = 42):
    """The (A, B, C) universal-hash constants — shared by the scoring
    UDF below and the DuckDB oracle replica (queries.py t06), so both
    sides derive them from the same seeded RNG."""
    import random

    rng = random.Random(seed)
    A = [rng.randrange(1, M31) for _ in range(n_hashes)]
    B = [rng.randrange(0, M31) for _ in range(n_hashes)]
    C = [random.Random(seed + 1).randrange(1, M31) for _ in range(k)]
    return A, B, C


def minhash_from_token_hashes(
    token_hashes: Column, n_hashes: int = 32, k: int = 5, seed: int = 42
) -> Column:
    """Phase 2 of :func:`minhash_signature`: rolling k-gram combine +
    universal-hash permutations over an already-computed
    ``array<long>`` of per-token xxhash64 values, all vectorized
    numpy inside one Arrow-batched pandas UDF."""
    from pyspark.sql.pandas.functions import pandas_udf

    A, B, C = minhash_constants(n_hashes, k, seed)

    # array<int>, not array<long>: every minhash value is < M31 = 2^31-1
    # (universal-hash mod), so int32 is lossless and HALVES the widest
    # shuffle of the LSH pipeline — the signature re-attach to the
    # candidate pairs (measured at 30M docs: the re-attach moves
    # |candidates| x signature bytes; 21.6M pairs x 32 values).
    @pandas_udf("array<int>")
    def _sig(hash_lists):
        # Whole-batch vectorization: a per-row numpy formulation of
        # the same math was measured at ~80s for 1M docs (≈20 numpy
        # calls × 1M rows of interpreter overhead); flattening the
        # Arrow batch and using minimum.reduceat for the per-doc min
        # runs the identical arithmetic in a handful of whole-batch
        # numpy ops.
        import numpy as np
        import pandas as pd

        nrows = len(hash_lists)
        lens = np.fromiter(
            (0 if th is None else len(th) for th in hash_lists),
            dtype=np.int64,
            count=nrows,
        )
        out = np.zeros((nrows, n_hashes), dtype=np.int32)
        if lens.sum() > 0:
            flat = (
                np.concatenate(
                    [np.asarray(th, dtype=np.int64) for th in hash_lists if th is not None and len(th)]
                )
                % M31
            )
            total = flat.size
            # rolling polynomial k-gram hash at every flat position
            fpad = np.concatenate([flat, np.zeros(k - 1, dtype=np.int64)])
            acc = np.zeros(total, dtype=np.int64)
            for j in range(k):
                acc = (acc + fpad[j : j + total] * C[j] % M31) % M31
            starts = np.zeros(nrows, dtype=np.int64)
            starts[1:] = np.cumsum(lens)[:-1]
            # windows fully inside one doc: first len-k+1 positions
            wcounts = np.where(lens >= k, lens - k + 1, 0)
            pos_in_doc = np.arange(total) - np.repeat(starts, lens)
            valid = pos_in_doc < np.repeat(wcounts, lens)
            vacc = acc[valid]
            rows = np.flatnonzero(wcounts > 0)
            if rows.size:
                bounds = np.zeros(rows.size, dtype=np.int64)
                bounds[1:] = np.cumsum(wcounts[rows])[:-1]
                for i in range(n_hashes):
                    vals = (A[i] * vacc + B[i]) % M31
                    out[rows, i] = np.minimum.reduceat(vals, bounds)
            # short docs (0 < len < k): single tail window of all
            # tokens, matching the old slice() semantics — rare, so a
            # plain loop is fine
            for r in np.flatnonzero((lens > 0) & (lens < k)):
                thm = flat[starts[r] : starts[r] + lens[r]]
                h = 0
                for j in range(lens[r]):
                    h = (h + int(thm[j]) * C[j]) % M31
                out[r] = [(ai * h + bi) % M31 for ai, bi in zip(A, B)]
        return pd.Series(list(out))

    return _sig(token_hashes)


def minhash_signature_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, _sig array<int>) — the persistable MinHash signature
    STORE. A pipeline that deduplicates incrementally writes this
    frame out once per corpus snapshot (n_docs × (n_hashes+1) ints —
    tiny next to the bodies) and re-reads it on the next increment
    (``minhash_lsh_pairs_incremental``) instead of re-hashing
    yesterday's corpus.

    Staged projections so each per-element lambda (shingle slice,
    shingle-hash transform) reads a materialized attribute, never an
    inline split/regexp expression — see shingle_hashes_of_tokens's
    CAUTION note for the measured quadratic blowup otherwise.
    """
    return (
        _tokens_of(docs, id_col, text_col)
        .select(F.col(id_col), token_hashes_of(F.col("_toks"), hash_fn).alias("_th"))
        .select(
            F.col(id_col),
            minhash_from_token_hashes(F.col("_th"), n_hashes, shingle_k).alias("_sig"),
        )
    )


def banded_keys(
    sig: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bh) — the LSH bucket keys of a signature table.
    Narrow projection (explode of ``bands`` structs per row); at scale
    the incremental store is persisted in THIS form, bucketed by
    (band, bh), so the next increment's candidate join co-locates
    with zero shuffle of the store."""
    rows_per_band = n_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("_sig", b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    ).select(id_col, "_band.band", "_band.bh")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with estimated Jaccard.

    Stages: signature (narrow) → explode to ``bands`` (band,
    band-hash) keys → self-equi-join on the band key (the only
    shuffle) → distinct candidate pairs → exact minhash agreement
    ratio as the Jaccard estimate.
    """
    sig = minhash_signature_table(
        docs, id_col, text_col, n_hashes, shingle_k, hash_fn
    )
    # The signatures feed the banding (both self-join sides) AND the
    # final per-pair agreement join; without materialization the whole
    # signature stage (UDF included) runs three times. At cluster
    # scale this is the standard checkpoint-the-signatures pattern;
    # size is n_docs × (n_hashes+1) longs — tiny vs corpus.
    # localCheckpoint, not persist(): a persisted frame pins a
    # CacheManager entry until an explicit unpersist that can't happen
    # here (the returned frame is lazy), so a long-lived serving
    # session would leak one cached signature table per call (ADVICE
    # r6 / VERDICT r7 #2 — same fix as cand_ids/ids_needed below);
    # checkpoint blocks are freed by the ContextCleaner once the plan
    # is GC'd (the session runs periodicGC=45s).
    # eager=False (r9): the first consumer's job materializes the
    # checkpoint; every later consumer reads the same blocks — one
    # fewer full job per call, identical reuse semantics.
    sig = sig.localCheckpoint(eager=False)
    banded = banded_keys(sig, id_col, n_hashes, bands)
    # Candidate generation: ONE shuffle of the slim (band, bucket-hash,
    # id) rows into per-bucket groups, then in-bucket pair expansion
    # with a higher-order transform. r5 rework of the r4 two-sided
    # band self-join: the join shuffled the banded rows TWICE (once
    # per side) plus the join build; grouping shuffles them once and
    # emits pairs directly (measured at 2M docs, identical 248,611
    # candidates: 20.6 s -> 13.1 s; at 10M the stage shuffle volume
    # halves — see BENCH_DEDUP_10M.json). Skew note: a bucket of B
    # members yields B²/2 pairs under EITHER formulation and lands on
    # one task here (the join routes the same bucket to one partition
    # pair too); per-bucket state is O(B) ids. least/greatest
    # canonicalizes pair order, so results are deterministic despite
    # collect_list's arbitrary ordering.
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list(id_col).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    cand_ids = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) -> "
                    "transform(slice(_ids, i + 2, size(_ids)), y -> "
                    "struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
                )
            ).alias("_p")
        )
        .select("_p.id_a", "_p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Size-conditional pre-filter of the signature table down to the
    # ids the candidate pairs actually reference. Planned statically
    # the two re-attach joins are sort-merge joins that shuffle-WRITE
    # the full signature table twice (~5 GB at 10M docs, ~13 GB at
    # 30M) — AQE converts them to broadcast at runtime but only after
    # the map stages are queued, so the writes still happen. A
    # broadcast LEFT SEMI on the (slim, deduped) referenced-id list
    # streams the persisted signatures with NO shuffle, after which
    # the re-attach joins move only ~|candidates| rows.
    #
    # r6 fix (VERDICT r5 #4): the decision now keys on the size of
    # the BROADCAST side (distinct referenced ids), not the raw
    # candidate-pair count — at 30M docs the pair count tripped the
    # old 20M threshold while the distinct-id list was still tiny, so
    # the filter silently disengaged and the full signature table
    # shuffled twice (BENCH_DEDUP_30M pairs_count: 13.3 GB for 3x the
    # 10M docs). Tiering: ids fit a broadcast (<=8M ids ~ 64 MB of
    # longs, the session's autoBroadcast budget) -> broadcast semi,
    # zero sig shuffle; bigger but not adversarial -> shuffle LEFT
    # SEMI, ONE full-sig shuffle instead of two, and the re-attach
    # joins then move only referenced rows; ids ~ corpus (>100M,
    # adversarial all-pairs corpora) -> filtering is pure overhead,
    # plain joins stand. All counts are O(1) driver scalars on frames
    # that must materialize anyway.
    # localCheckpoint, not persist(): a persisted DataFrame lives in the
    # CacheManager until an explicit unpersist, which can't happen here —
    # the returned frame is lazy, so in a long-lived serving session each
    # call would leak a cached table (ADVICE r6). Checkpoint blocks are
    # instead released by the ContextCleaner once the plan is GC'd (the
    # session runs periodicGC=45s), giving scoped cleanup for free.
    # eager=False (r9): the count below materializes the checkpoint in
    # its own job.
    cand_ids = cand_ids.localCheckpoint(eager=False)
    # Cheap adversarial pre-gate on the (materialized) pair count before
    # paying the explode+distinct shuffle for the id list: distinct
    # ids <= 2x pairs, so pairs <= 50M guarantees ids fit the tiers
    # below, and pairs in the billions (all-pairs corpora) skip the
    # filter without ever building the list it would have discarded.
    if cand_ids.count() <= 200_000_000:
        ids_needed = (
            cand_ids.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_ids = ids_needed.count()
        if n_ids <= 8_000_000:
            sig = sig.join(F.broadcast(ids_needed), id_col, "left_semi")
        elif n_ids <= 100_000_000:
            sig = sig.join(ids_needed, id_col, "left_semi")
        # else: >100M ids — filtering is pure overhead; blocks free on GC.
    cand = cand_ids.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sig_a")),
        "id_a",
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b")),
        "id_b",
    )
    agree = F.size(
        F.filter(F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda v: v)
    )
    est = (agree / F.lit(len(range(n_hashes)))).alias("jaccard_est")
    return (
        cand.select("id_a", "id_b", F.round(est, 4).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= min_jaccard)
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    seen_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
    seen_banded: DataFrame | None = None,
) -> DataFrame:
    """NEAR-dup pairs of an increment against a persisted corpus —
    the daily-pipeline shape ``cross_corpus_new`` covers only for the
    EXACT lane (VERDICT r7 #4): re-running full LSH over
    yesterday's 100 TB plus today's 0.1 TB re-hashes the whole store
    every day; this operator re-hashes ONLY the increment and
    band-joins it against yesterday's signatures.

    ``seen_sigs`` is the (id, _sig) store written by
    ``minhash_signature_table`` (ids must be disjoint from the
    increment's). Output: (id_a, id_b, jaccard_est) with id_a < id_b,
    for every pair with at least one NEW side — new×seen candidates
    from the band join against the store, new×new candidates from the
    increment's own buckets. Identical to what full-corpus
    ``minhash_lsh_pairs`` would report minus the seen×seen pairs
    (yesterday's run already emitted those), with the same constants,
    banding and agreement estimate — the md5 lane therefore stays
    oracle-checkable end-to-end (queries.py t46).

    Scale shape: the increment's signatures are one narrow pass over
    new docs only; the candidate join shuffles slim (band, bh, id)
    rows — and when the store is ALSO persisted in ``banded_keys``
    form as a table bucketed by (band, bh) and passed as
    ``seen_banded``, the store side of the candidate join co-locates
    with ZERO exchange (only the increment's keys shuffle into the
    bucket scheme — measured in BENCH_DEDUP_INCR). Candidate volume
    is bounded by the increment's bucket hits, so the signature
    re-attach always fits the broadcast-semi tier (no
    size-conditional tiers needed here).
    """
    new_sig = minhash_signature_table(
        new_docs, id_col, text_col, n_hashes, shingle_k, hash_fn
    ).localCheckpoint(eager=False)

    banded_new = banded_keys(new_sig, id_col, n_hashes, bands)
    banded_seen = (
        seen_banded
        if seen_banded is not None
        else banded_keys(seen_sigs, id_col, n_hashes, bands)
    )

    # new × seen: plain equi-join on the bucket key; the new side is
    # the small (increment-sized) side, so AQE broadcasts it and the
    # store streams. Canonicalize to id_a < id_b like the batch op.
    cross = (
        banded_new.select("band", "bh", F.col(id_col).alias("_nid"))
        .join(
            banded_seen.select("band", "bh", F.col(id_col).alias("_sid")),
            ["band", "bh"],
        )
        .select(
            F.least("_nid", "_sid").alias("id_a"),
            F.greatest("_nid", "_sid").alias("id_b"),
        )
    )
    # new × new: the increment's own buckets, exactly the batch op's
    # grouped pair expansion (one shuffle of the increment's keys).
    buckets = (
        banded_new.groupBy("band", "bh")
        .agg(F.collect_list(id_col).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    new_new = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) -> "
                    "transform(slice(_ids, i + 2, size(_ids)), y -> "
                    "struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
                )
            ).alias("_p")
        ).select("_p.id_a", "_p.id_b")
    )
    cand_ids = (
        cross.unionByName(new_new)
        .dropDuplicates(["id_a", "id_b"])
        # eager=False (r9): the guard aggregate below materializes it
        .localCheckpoint(eager=False)
    )
    # Disjointness guard (ADVICE r8): an increment id already present
    # in the store would duplicate rows in sig_all below, silently
    # fanning out the signature re-attach joins. A re-ingested doc
    # (same id, same text → same signature) collides with itself in
    # EVERY band, so it surfaces here as an id_a == id_b candidate —
    # least/greatest of equal ids. The check is O(1) on the already-
    # checkpointed candidate frame. (Same id with DIFFERENT text can
    # evade this cheap check when no band agrees; the docstring
    # contract still requires disjoint ids.)
    # r9: one aggregate job carries both guard scalars (total
    # candidates + self-collisions) instead of two passes over the
    # checkpointed frame.
    _g = cand_ids.agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(
            F.sum((F.col("id_a") == F.col("id_b")).cast("long")), F.lit(0)
        ).alias("_nself"),
    ).head()
    n_cand, n_self = int(_g["_n"]), int(_g["_nself"])
    if n_self:
        raise ValueError(
            "minhash_lsh_pairs_incremental: increment ids overlap the "
            f"signature store ({n_self} self-colliding id(s)); the "
            "store and the increment must have disjoint ids"
        )
    # Same size-gated semi-filter tiering as the batch operator: the
    # candidate set is normally bounded by the increment's bucket
    # hits, but an adversarial all-duplicate increment can reference
    # ~|store| ids — an unconditional broadcast of that list would
    # blow the driver. Counts are O(1) scalars on frames that must
    # materialize anyway.
    sig_all = new_sig.unionByName(seen_sigs.select(id_col, "_sig"))
    if n_cand <= 200_000_000:
        ids_needed = (
            cand_ids.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_ids = ids_needed.count()
        if n_ids <= 8_000_000:
            sig_all = sig_all.join(F.broadcast(ids_needed), id_col, "left_semi")
        elif n_ids <= 100_000_000:
            sig_all = sig_all.join(ids_needed, id_col, "left_semi")
        # else: ids ~ corpus — filtering is pure overhead; plain joins.
    cand = cand_ids.join(
        sig_all.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sig_a")),
        "id_a",
    ).join(
        sig_all.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b")),
        "id_b",
    )
    agree = F.size(
        F.filter(F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda v: v)
    )
    est = F.round(agree / F.lit(n_hashes), 4)
    return (
        cand.select("id_a", "id_b", est.alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= min_jaccard)
    )


def simhash64(shingle_col: Column, hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash over a materialized shingle-array column, via
    bit-vote aggregation.

    For each of 64 bits: sum over shingles of (+1 if hash bit set
    else -1); sign of the sum is the output bit. ``hash_fn='md5'``
    (r7) swaps xxhash64 for the top 60 bits of md5 — bits 60-63 then
    never set, an effectively-60-bit SimHash — in exchange for a
    DuckDB-computable hash that lets the oracle replicate the whole
    pipeline (queries.py t07); production keeps the xxhash64 default.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    if hash_fn == "md5":
        hashes = F.transform(
            shingle_col,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        hashes = F.transform(shingle_col, lambda s: F.xxhash64(s))

    # 64 bit-votes folded vectorized in numpy: expressing this as 64
    # aggregate() higher-order calls explodes codegen (measured 76s
    # for 500 docs); the Arrow-batched UDF runs the same docs in ~2s.
    # The hashing itself stays JVM-side (xxhash64 above).
    # r10 (guide §4.2, the minhash_from_token_hashes pattern): the
    # fold is WHOLE-BATCH — one flatten + one (n_hashes, 64) bit
    # matrix + one add.reduceat per Arrow batch — instead of ~20
    # numpy calls per ROW (per-row interpreter overhead dominated the
    # stage; same arithmetic, same bits).
    @pandas_udf("long")
    def _fold(hs):  # pd.Series of int64 lists
        import numpy as np
        import pandas as pd

        nrows = len(hs)
        out = np.zeros(nrows, dtype=np.uint64)
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hs),
            dtype=np.int64,
            count=nrows,
        )
        if lens.sum() > 0:
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hs
                 if h is not None and len(h)]
            ).astype(np.uint64)
            shifts = np.arange(64, dtype=np.uint64)
            # uint8 bit matrix bounds memory (rows*64 bytes); the
            # per-row sums accumulate in int64 via reduceat's dtype
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
            rows = np.flatnonzero(lens > 0)
            bounds = np.zeros(rows.size, dtype=np.int64)
            bounds[1:] = np.cumsum(lens[rows])[:-1]
            sums = np.add.reduceat(bits, bounds, axis=0, dtype=np.int64)
            votes = 2 * sums - lens[rows][:, None]
            out[rows] = np.bitwise_or.reduce(
                np.where(votes > 0, np.uint64(1) << shifts, np.uint64(0)),
                axis=1,
            )
        return pd.Series(out.astype(np.int64))

    return _fold(hashes)


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs by SimHash banding + hamming filter.

    The 64-bit fingerprint splits into 4 16-bit bands; pairs within
    hamming distance ≤ max_hamming share at least one exact band
    when max_hamming < 4·…  (pigeonhole for ≤3 differing bands).
    Shuffle key: (band_index, band_value).

    Scale note (r5, closes VERDICT r4 #7 by construction): the r4
    formulation self-joined the banded signatures, which evaluated
    the whole signature pipeline (normalize → shingle → xxhash64 →
    Python bit-vote fold) once per join side unless persist()ed. The
    r5 bucket-group formulation consumes the banded frame exactly
    ONCE — a single shuffle into (band, band-value) groups with the
    signature riding inside the collected struct — so there is no
    recompute to guard against and no cache to manage
    (plan-asserted: tests/test_operators.py::TestSimhash).
    """
    # three staged projections keep every higher-order lambda working
    # on a materialized attribute (tokens → shingles → simhash); the
    # inline formulation re-ran normalize+split per array element
    withsim = (
        _tokens_of(docs, id_col, text_col)
        .select(id_col, shingles_of_tokens(F.col("_toks"), shingle_k).alias("_sg"))
        .select(id_col, simhash64(F.col("_sg"), hash_fn).alias("_sh"))
    )
    banded = withsim.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("_sh", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_sh", "_b.band", "_b.bv")
    # Same single-shuffle bucket-group pair expansion as
    # minhash_lsh_pairs (r5): group each (band, band-value) bucket
    # once and expand in-bucket pairs with a transform, instead of
    # shuffling both sides of a self-join. The signature rides along
    # inside the collected struct, so the hamming check needs no
    # re-attach join. Pair order canonicalized by id inside the
    # lambda for deterministic output.
    buckets = (
        banded.groupBy("band", "bv")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), "_sh")).alias("_m"))
        .filter(F.size("_m") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(_m, (x, i) -> "
                "transform(slice(_m, i + 2, size(_m)), y -> struct("
                "least(x.id, y.id) AS id_a, greatest(x.id, y.id) AS id_b, "
                "bit_count(x._sh ^ y._sh) AS hamming))))"
            )
        ).alias("_p")
    ).select("_p.id_a", "_p.id_b", "_p.hamming")
    return (
        pairs.dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams. Same per-element-lambda caveat as
    ``shingles``: pass a materialized (already normalized) column on
    hot paths — see ``ngram_jaccard_pairs``."""
    return char_ngrams_of_norm(normalized(text), n)


def char_ngrams_of_norm(norm: Column, n: int) -> Column:
    return char_ngrams_of_chars(F.split(norm, ""), F.length(norm), n)


def char_ngrams_of_chars(ch: Column, ln: Column, n: int) -> Column:
    """Distinct n-grams from a char array (``split(norm, '')``) and
    the string length. r9: building each gram from n O(1) element_at
    lookups replaces per-gram substring(norm, i, n), which seeks
    codepoint i by rescanning the string's bytes (O(len²) per doc).
    Pass ``ch`` as a MATERIALIZED attribute on hot paths (the usual
    higher-order-function inlining caveat). concat_ws skips the NULL
    lookups past the end, which reproduces substring's truncation for
    the short-tail grams (len < n edge); output grams are identical
    to the substring form (tested)."""
    idx = F.sequence(F.lit(1), F.greatest(ln - n + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                "", *[F.element_at(ch, i + F.lit(j)) for j in range(n)]
            ),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) candidate pairs.

    Verification kernel: joins the candidate pair set back to the
    docs — both joins are hash joins on the id, pair-scoped (never
    all-pairs); the gram projection feeds both sides.
    """
    g = (
        docs.select(
            F.col(id_col), normalized(F.col(text_col)).alias("_norm")
        )
        .select(
            F.col(id_col),
            F.split("_norm", "").alias("_ch"),
            F.length("_norm").alias("_ln"),
        )
        .select(
            id_col,
            char_ngrams_of_chars(F.col("_ch"), F.col("_ln"), n).alias("_g"),
        )
    )
    # r9, measured and REJECTED: a lazy localCheckpoint of `g` (the
    # §2b shared-subtree pattern — the gram pipeline runs once per
    # pair side without it). Interleaved A/B at sf0.1: t08 min 1.92 →
    # 2.17 s (materializing corpus-sized gram ARRAYS costs more than
    # the saved second gram pass). Unlike the §2b LSH signature frame
    # (slim fixed-width signatures), the duplicated subtree here is
    # cheaper than its materialization.
    out = (
        pairs.join(g.withColumnRenamed(id_col, "id_a").withColumnRenamed("_g", "_ga"), "id_a")
        .join(g.withColumnRenamed(id_col, "id_b").withColumnRenamed("_g", "_gb"), "id_b")
    )
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size(F.array_union("_ga", "_gb"))
    return out.select(
        "id_a", "id_b", F.round(inter / union, 4).alias("jaccard")
    )


# (df identity, n_blocks) → (df ref, assigned, centroid matrix, radii).
# The angular IVF screen index is built once per input table, like any
# real vector index; entries hold a strong df ref so id() stays valid.
# Bounded LRU (a long-lived server indexing many tables must not pin
# every DataFrame it ever saw — that leaks driver memory and blocks GC).
_IVF_INDEX_CACHE: OrderedDict = OrderedDict()
_IVF_INDEX_CACHE_MAX = 4


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
    dim: int | None = None,
    n_planes: int = 12,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    cosine >= *threshold*, id_a < id_b.

    Two strategies:

    - ``exact=True`` — exact filter-and-verify with an IVF-centroid
      angular-bound block prune. Vectors are clustered into *n_blocks*
      angular blocks (``ivf_build``: sampled-KMeans centroids, one
      bounded driver sample, distributed JVM-side assignment); per
      block k we record the angular radius δ_k = max angle(member,
      centroid) (one tiny k-row collect). The spherical triangle
      inequality gives an EXACT lower bound on any cross-block pair's
      angle: θ(a,b) ≥ θ(C_i,C_j) − δ_i − δ_j, so block pairs whose
      bound exceeds arccos(threshold) provably contain no match and
      are pruned before any pairwise work. Only surviving block pairs
      become ``applyInPandas`` groups, each a single vectorized numpy
      matmul over its two sub-matrices (ids + floats shuffle; no
      driver collect, no executor broadcast of the matrix). On real
      embedding corpora — which cluster — most of the O(B²) block
      grid prunes and the work is sub-quadratic; on adversarially
      uniform data (like this fixture: every matching pair sits at
      cos 0.45-0.60, i.e. 53-63°, while random pairs average 90°) no
      exact method can beat O(n²): a random-hyperplane bit agrees
      with prob 0.65 for a 63° pair vs 0.50 for random, a gap far
      too small for any recall-1.0 LSH blocking (12 shared bits →
      0.65¹² ≈ 0.5% recall). Verify: surviving candidates join back
      to the vectors and the reported cosine is recomputed JVM-side
      with fixed left-to-right summation, bit-identical to a DuckDB
      ``list_cosine_similarity`` oracle (the screen uses a 1e-6
      slack so its different summation order can never drop a true
      pair).
    - ``exact=False`` — approximate sub-quadratic path for high
      thresholds: random-hyperplane LSH blocking
      (``lsh_bucket_join``) so only same-bucket pairs are scored;
      shuffles on the bucket key only. Requires *dim*. Recall < 1 by
      construction — use for near-dup thresholds (≥0.8) where the
      per-bit gap is large.
    """
    from .similarity import dot_nm, ivf_build, lsh_bucket_join, norm_nm

    if not exact:
        if dim is None:
            raise ValueError("dim is required for the LSH path")
        return (
            lsh_bucket_join(
                emb, dim, n_planes, id_col=id_col, vec_col=vec_col,
                min_sim=threshold,
            )
            .withColumnRenamed("sim", "cos")
            .dropDuplicates(["id_a", "id_b"])
        )

    import math

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    slack = threshold - 1e-6
    B = n_blocks

    # The angular index (blocks + radii) is threshold-independent and
    # depends only on the input DataFrame — build once per (df, B),
    # like a real engine builds an IVF index once per table. The cache
    # holds a strong ref to `emb` so id() can't be reused.
    key = (id(emb), B)
    hit = _IVF_INDEX_CACHE.get(key)
    if hit is not None and hit[0] is emb:
        _IVF_INDEX_CACHE.move_to_end(key)
        _, assigned, cent_arr, delta = hit
    else:
        # angular blocks + exact per-block radii (δ_k); the assignment
        # is JVM-side, the two driver collects are O(sample) and O(B)
        assigned, centroids = ivf_build(
            emb, n_centroids=B, id_col=id_col, vec_col=vec_col
        )
        cent_arr = np.asarray(centroids, dtype=float)
        cnorm = np.linalg.norm(cent_arr, axis=1)
        cnorm[cnorm == 0] = 1e-12
        unit_cents = cent_arr / cnorm[:, None]
        # one flat literal array of unit centroids + a single zip_with
        # dot per row (a per-centroid sum-of-element_at expansion was a
        # ~10× bigger Catalyst tree, ~12s of analysis at B=8, dim=64)
        cents_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in unit_cents]
        )
        cvec = F.element_at(cents_lit, F.col("_cell") + 1)
        member_cos = F.aggregate(
            F.zip_with("_v", cvec, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / F.greatest(
            F.sqrt(
                F.aggregate("_v", F.lit(0.0), lambda a, x: a + x * x)
            ),
            F.lit(1e-12),
        )
        radii_rows = (
            assigned.select(F.col("_cell"), member_cos.alias("_c"))
            .groupBy("_cell")
            .agg(F.min("_c").alias("min_cos"))
            .collect()
        )
        delta = {
            int(r["_cell"]): math.acos(max(-1.0, min(1.0, r["min_cos"])))
            for r in radii_rows
        }
        _IVF_INDEX_CACHE[key] = (emb, assigned, cent_arr, delta)
        while len(_IVF_INDEX_CACHE) > _IVF_INDEX_CACHE_MAX:
            _IVF_INDEX_CACHE.popitem(last=False)

    theta_max = math.acos(max(-1.0, min(1.0, slack)))  # pairs beyond this angle can't match
    cn = np.linalg.norm(cent_arr, axis=1)
    cn[cn == 0] = 1e-12
    unit = cent_arr / cn[:, None]
    cang = np.arccos(np.clip(unit @ unit.T, -1.0, 1.0))
    surviving = [
        (i, j)
        for i in range(B)
        for j in range(i, B)
        if i in delta and j in delta
        and cang[i, j] - delta[i] - delta[j] <= theta_max + 1e-9
    ]

    src = assigned.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col("_v").alias("_vec"),
        F.col("_cell").alias("_blk"),
    ).localCheckpoint(eager=False)
    # r9: both block-pair sides reference `src` — the lazy checkpoint
    # runs the IVF assignment once instead of once per side.
    from ..localdf import local_df

    blk_pairs = local_df(spark, surviving or [(0, 0)], "bi int, bj int")
    side_a = src.join(F.broadcast(blk_pairs), src["_blk"] == F.col("bi")).select(
        "bi", "bj", "_id", "_vec", F.lit(0).alias("_side")
    )
    side_b = src.join(F.broadcast(blk_pairs), src["_blk"] == F.col("bj")).select(
        "bi", "bj", "_id", "_vec", F.lit(1).alias("_side")
    )

    def screen(key, pdf):
        bi, bj = key
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ma = np.array(list(a["_vec"]), dtype=np.float64)
        mb = np.array(list(b["_vec"]), dtype=np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia = a["_id"].to_numpy()
        ib = b["_id"].to_numpy()
        mask = sims >= slack
        if bi == bj:
            # same block on both sides: keep the upper triangle by id
            mask &= ia[:, None] < ib[None, :]
        ii, jj = np.nonzero(mask)
        lo = np.minimum(ia[ii], ib[jj])
        hi = np.maximum(ia[ii], ib[jj])
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    cand = (
        side_a.unionByName(side_b)
        .groupBy("bi", "bj")
        .applyInPandas(screen, schema="id_a long, id_b long")
    )
    dim = int(cent_arr.shape[1])
    # raw arrays + per-element-cast expansions (structural rule at
    # similarity.py's helpers): the verify-join shuffles float
    # vectors, not double copies, and the dot stays in codegen
    v = emb.select(
        F.col(id_col), F.col(vec_col).alias("_e")
    ).select(id_col, "_e", norm_nm("_e", dim, cast_elements=True).alias("_n"))
    # r9: both verify-join sides reference `v` — materialize the
    # (id, vec, norm) frame once (the persisted-norms pattern) instead
    # of scanning + norm-folding per side.
    v = v.localCheckpoint(eager=False)
    out = (
        cand.join(
            v.select(
                F.col(id_col).alias("id_a"),
                F.col("_e").alias("_ea"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col(id_col).alias("id_b"),
                F.col("_e").alias("_eb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
    )
    # static-dim expansion: the verify dot runs in codegen,
    # bit-identical to the fold (see similarity.dot_nm)
    cos = dot_nm("_ea", "_eb", dim, cast_elements=True) / (
        F.col("_na") * F.col("_nb")
    )
    return (
        out.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (id, component)
    where ``component`` is the minimum node id reachable from ``id``.
    The missing last step of large-scale dedup — pair generators
    (MinHash-LSH, SimHash, n-gram Jaccard) emit edges; the keep-one
    decision needs the transitive closure (A~B, B~C => {A,B,C} is one
    duplicate group even when A~C was never emitted).

    Algorithm: min-label propagation with pointer jumping
    (comp <- comp[comp] each round), the standard distributed
    connected-components recipe (cf. the large-star/small-star
    family). Per iteration: one shuffle by node id for the neighbor
    min, one self-join for the jump; labels are localCheckpoint'ed so
    lineage stays O(1) instead of O(iterations) — without that, the
    plan doubles every round and the job dies long before 100 TB.
    Pointer jumping makes chain graphs converge in O(log diameter)
    rounds, not O(diameter). Convergence check is a single scalar
    aggregate per round (bounded driver traffic).

    Nodes that appear in no edge are absent from the output (they are
    their own singleton clusters; callers left-join if they need
    them). Deterministic: min-labels do not depend on partitioning.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = None
    prev_sum = None
    for it in range(max_iter):
        if it == 0:
            # fused init (r10, guide §2.4): with identity labels the
            # neighbor-min is min(self, neighbors), so iteration 0
            # needs NO label frame and NO join — (b <- a) ∪ (a <- a)
            # grouped by node. This removes the separate
            # `e.select(a).distinct()` node-id build (an edge-sized
            # exchange at scale) and iteration 0's edge⋈label join;
            # every id occurs as some `a` because e is symmetric, so
            # the grouped ids equal the old distinct node set exactly.
            new = (
                e.select(F.col("b").alias("id"), F.col("a").alias("comp"))
                .union(e.select(F.col("a").alias("id"), F.col("a").alias("comp")))
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
        else:
            # neighbor-min: every edge forwards its endpoint's label
            cand = e.join(lab.withColumnRenamed("id", "a"), "a").select(
                F.col("b").alias("id"), "comp"
            )
            new = (
                lab.select("id", "comp")
                .union(cand)
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
        # pointer jump: comp <- min(comp, PREV[comp]) against the
        # PREVIOUS (checkpoint-materialized) labels, not `new` itself
        # (r10, guide §2.4): the self-join form referenced the
        # un-materialized union+groupBy subtree under BOTH join sides
        # with different exchange keys, so Spark executed the
        # neighbor-min twice per iteration. Joining the ExistingRDD
        # labels instead executes it once; the contraction is one
        # doubling step behind, which never undershoots the component
        # min (PREV[x] >= final min, labels only ever decrease) and
        # the sum-unchanged fixpoint test is unaffected (jumped <=
        # new <= lab pointwise). Iteration 1 is skipped outright:
        # with identity labels PREV[comp] == comp, a no-op.
        if it == 0:
            jumped = new
        else:
            jumped = (
                new.join(
                    lab.select(
                        F.col("id").alias("comp"), F.col("comp").alias("comp2")
                    ),
                    "comp",
                    "left",
                )
                .select(
                    "id", F.least("comp", F.coalesce("comp2", "comp")).alias("comp")
                )
            )
        # eager checkpoint (NOT the §4 lazy-guard pattern): measured
        # r9, lazy vs eager is job-count neutral here — the lazy
        # checkpoint still materializes in its own job when the
        # convergence aggregate first computes it (26 = 26 jobs on a
        # 2k-node chain probe) — so keep the long-proven eager form.
        # r10: the convergence aggregate rides the checkpoint
        # materialization job as an Observation (the bm25 pattern) —
        # one job per iteration instead of two.
        obs = Observation()
        jumped = jumped.observe(obs, F.sum("comp").alias("s"))
        jumped = jumped.localCheckpoint(eager=True)
        # convergence: min-propagation only ever lowers labels, so the
        # label sum is strictly decreasing until the fixpoint — one
        # scalar metric, no extra job, no join against previous labels
        cur = obs.get["s"]
        lab = jumped
        if cur == prev_sum:
            break
        prev_sum = cur
    return lab


def keep_best_survivors(
    docs: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-BEST dedup survivors: per duplicate cluster retain the
    member with the highest ``score_col`` (ties to the smallest id)
    instead of connected_components' min-id representative — the
    production choice (keep the longest / highest-quality copy, drop
    the rest). ``components`` is connected_components' (id, comp);
    docs absent from it are singletons and always survive.

    100 TB shape: scores join the cluster-members-sized label frame
    (tiny vs the corpus), the per-cluster argmax is one keyed agg on
    that frame, and the corpus pays a single ANTI join against the
    loser ids — bodies never shuffle, mirroring the keep-one path.
    """
    from pyspark.sql import Window

    member_scores = components.join(
        docs.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("_s")
        ),
        "id",
    )
    # rank window, not negate-the-id struct max: ids may be strings
    # (hashes/URLs), where negation would NULL out (non-ANSI) or
    # throw (ANSI) instead of tie-breaking
    w = Window.partitionBy("comp").orderBy(
        F.col("_s").desc(), F.col("id")
    )
    losers = (
        member_scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("id").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")


def cross_corpus_new(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental ingest dedup: the new-batch documents whose content
    does not already exist in the seen corpus (exact tier — the first
    gate of a continuously-fed training pipeline; near-dup tiers then
    run on the survivors).

    Both sides project to (id, md5-of-normalized-text) before the
    LEFT ANTI join, so document bodies never shuffle; AQE elects a
    broadcast when the seen side's fingerprints are small, and the
    anti join needs no pre-distinct (anti joins don't multiply). At
    100 TB the same plan holds with the seen fingerprints as a
    bucketed table (or a bloom-filter pre-pass feeding this exact
    anti-join); md5 here instead of xxhash64 keeps the operator
    oracle-checkable.
    """
    fp = F.md5(F.lower(F.trim(F.col(text_col)))).alias("_fp")
    new_fp = new_docs.select(F.col(id_col), fp)
    seen_fp = seen_docs.select(fp)
    return new_fp.join(seen_fp, "_fp", "left_anti").select(id_col)
