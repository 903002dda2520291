"""Skew guard for the n-gram Jaccard join strategy: the auto max_df
cap must drop stop-shingles before the self-join (a shingle in every
document would emit |corpus|² candidate pairs) while never binding on
small corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup


def _stopword_corpus(spark, n_docs):
    # every doc shares the bigram "the x"; each doc also has one unique
    # bigram, so the capped plan still sees per-doc shingles
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the x u"), F.col("id")).alias("text"),
    )


def test_auto_max_df_shrinks_stop_shingle_pair_stream(spark):
    docs = _stopword_corpus(spark, 1200)  # cap = max(1000, 12) = 1000 < df
    uncapped = dedup.ngram_jaccard_pairs(
        docs, n=2, threshold=0.0, strategy="join", max_df=None
    )
    capped = dedup.ngram_jaccard_pairs(
        docs, n=2, threshold=0.0, strategy="join", max_df="auto"
    )
    # the shared "the x" shingle alone forces C(1200,2) candidate pairs
    # uncapped; with the df>1000 shingle dropped, no pair shares one
    assert uncapped.count() == 1200 * 1199 // 2
    assert capped.count() == 0


def test_auto_max_df_never_binds_small_corpus(spark):
    docs = _stopword_corpus(spark, 300)  # df=300 < floor cap 1000
    exact = dedup.ngram_jaccard_pairs(
        docs, n=2, threshold=0.0, strategy="join", max_df=None
    )
    auto = dedup.ngram_jaccard_pairs(
        docs, n=2, threshold=0.0, strategy="join", max_df="auto"
    )
    a = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in exact.collect()}
    b = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in auto.collect()}
    assert a == b != set()


def test_default_max_df_formula():
    assert dedup.default_max_df(500) == 1000
    assert dedup.default_max_df(10**9) == 10**7


def test_containment_finds_embedded_doc(spark):
    """A short doc fully embedded in a long one: containment 1.0 from
    the short side even though Jaccard is far below any dedup
    threshold — the case the directed metric exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, long_), (2, short), (3, "unrelated words entirely different")],
        "doc_id long, text string",
    )
    out = dedup.containment_pairs(docs, n=2, threshold=0.9, max_df=None).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    # every shingle of the short doc is in the long doc
    assert r["containment_b"] == 1.0
    assert r["containment_a"] < 0.2  # Jaccard-style view would miss it
    # and the same corpus at a Jaccard threshold finds nothing
    assert (
        dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.5, max_df=None).count() == 0
    )


def test_minhash_certify_all_within_bound(spark, sf_dir):
    """The estimator verdict holds corpus-wide, and identical shingle
    sets agree on every hash (est exactly 1 where J = 1)."""
    from building_coffee_commodity_trading_data_warehouse_spark import catalog

    pdf = dedup.minhash_estimate_certify(
        catalog.table(spark, sf_dir, "documents")
    ).toPandas()
    assert len(pdf) > 0 and pdf["est_ok"].all()
    exact_dups = pdf[pdf["jaccard"] == 1.0]
    assert (exact_dups["n_agree"] == 64).all()


def test_incremental_dedup_planted(spark):
    """A batch row duplicating history drops; a batch-internal dup
    keeps its min doc_id; genuinely new text survives."""
    hist = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "seen before"), (11, "brand new"), (12, "brand new"), (13, "unique")],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in dedup.incremental_dedup(hist, batch).collect()}
    assert out == {11, 13}


def test_repeated_spans_planted_positions(spark):
    """A 5-token span planted in 3 documents is reported at its exact
    token offset in each; a span shared by only 2 documents is not."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators.dedup import (
        repeated_spans,
    )

    boiler = "all rights reserved by the"
    pair = "only in two documents here"
    rows = [
        (1, f"intro words {boiler} publisher tail"),
        (2, f"{boiler} publisher and more text"),
        (3, f"x y z w {boiler} end {pair}"),
        (4, f"prefix tokens {pair} suffix"),
        (5, "completely unrelated filler text with no shared spans"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = repeated_spans(docs, n=5, min_docs=3).collect()
    hits = {(r["doc_id"], r["pos"]) for r in got if r["span"] == boiler}
    assert hits == {(1, 3), (2, 1), (3, 5)}
    assert all(r["n_docs"] == 3 for r in got if r["span"] == boiler)
    assert not [r for r in got if r["span"] == pair]


def test_remove_repeated_spans_hand_computed(spark):
    """The CUT step: a boilerplate 5-gram planted in 3 docs is
    excised from ALL of them at exact token boundaries; overlapping
    occurrences merge into one maximal interval; a 2-doc span and a
    short document pass through untouched."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators.dedup import (
        remove_repeated_spans,
    )

    boiler = "all rights reserved by the"
    pair = "only in two documents here"
    rows = [
        (1, f"intro words {boiler} publisher tail"),
        (2, f"{boiler} publisher and more text"),
        # overlapping occurrences: 'a a a a a a' holds the repeated
        # span 'a a a a a' at pos 1 AND 2 -> merged cut [1, 6]
        (3, f"x y z w {boiler} end {pair}"),
        (4, f"prefix tokens {pair} suffix"),
        (5, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=5, min_docs=3).collect()}
    assert got[1]["text_clean"] == "intro words publisher tail"
    assert (got[1]["n_tokens"], got[1]["n_cut"]) == (9, 5)
    assert got[2]["text_clean"] == "publisher and more text"
    assert got[3]["text_clean"] == f"x y z w end {pair}"
    assert got[4]["text_clean"] == f"prefix tokens {pair} suffix"
    assert got[4]["n_cut"] == 0
    assert got[5] ["text_clean"] == "tiny doc" and got[5]["n_cut"] == 0

    # interval-merge case: three docs share 'a a a a a'; doc 10 holds
    # it at pos 2 and 3 (overlap) -> one merged interval [2, 7]
    docs2 = spark.createDataFrame(
        [
            (10, "z a a a a a a tail"),
            (11, "a a a a a x"),
            (12, "y a a a a a"),
        ],
        "doc_id long, text string",
    )
    got2 = {r["doc_id"]: r for r in remove_repeated_spans(docs2, n=5, min_docs=3).collect()}
    assert got2[10]["text_clean"] == "z tail" and got2[10]["n_cut"] == 6
    assert got2[11]["text_clean"] == "x"
    assert got2[12]["text_clean"] == "y"


def test_simhash_pairs_planted_neardups(spark):
    """Banded Hamming join recovers exactly the planted
    within-distance pairs: signatures handed in directly so expected
    distances are known by construction, including a pair differing
    only in the SECOND band (catches a plan that joins on one band)."""
    sigs = spark.createDataFrame(
        [
            (1, 0b0000_0000_0000_0000),
            (2, 0b0000_0000_0000_0001),  # d(1,2)=1  (band 0 differs)
            (3, 0b1000_0000_0000_0000),  # d(1,3)=1  (band 1 differs)
            (4, 0b1000_0000_0000_0001),  # d(1,4)=2, d(2,4)=d(3,4)=1
            (5, 0b0101_0101_0101_0101),  # far from everything
        ],
        "doc_id long, simhash long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(sigs, bits=16, max_distance=1).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (2, 4): 1, (3, 4): 1}
    # distance budget 2 admits (1,4) and (2,3) too
    got2 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(sigs, bits=16, max_distance=2).collect()
    }
    assert got2 == {(1, 2): 1, (1, 3): 1, (2, 4): 1, (3, 4): 1, (1, 4): 2, (2, 3): 2}


def test_simhash_pairs_band_join_not_cartesian(spark):
    """Plan pin: candidates come from a (band, band_val) equi-join —
    no BroadcastNestedLoopJoin / CartesianProduct may appear."""
    sigs = dedup.simhash(
        spark.createDataFrame(
            [(i, f"alpha beta w{i} w{i+1}") for i in range(50)],
            "doc_id long, text string",
        ),
        bits=32,
    )
    plan = (
        dedup.simhash_pairs(sigs, bits=32, max_distance=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_edit_distance_pairs_vs_bruteforce(spark):
    """Banded SymSpell join == brute-force Levenshtein at d=1 and
    d=2, including insert/delete/substitute cases, the empty string,
    and 1-char words; invalid distance raises."""
    import itertools

    import pytest as _pytest

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    words = {1: "table", 2: "tble", 3: "tables", 4: "fable", 5: "spark", 6: "", 7: "t"}
    df = spark.createDataFrame(list(words.items()), "id long, w string")

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    for d in (1, 2):
        got = sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.edit_distance_pairs(df, "id", "w", d).collect()
        )
        exp = sorted(
            (a, b, lev(words[a], words[b]))
            for a, b in itertools.combinations(sorted(words), 2)
            if lev(words[a], words[b]) <= d
        )
        assert got == exp, d
    with _pytest.raises(ValueError):
        dedup.edit_distance_pairs(df, "id", "w", 3)


def test_cluster_canonical_picks_highest_quality(spark):
    # cluster {1,2,3} linked by pairs; doc 2 has the most chars so it
    # is canonical despite not being the min id; 4 is a singleton
    docs = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 30), (3, "c", 20), (4, "d", 5)],
        "doc_id long, text string, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r
        for r in dedup.cluster_canonical(docs, pairs).collect()
    }
    assert {r["cluster_id"] for r in out.values()} == {1, 4}
    for d in (1, 2, 3):
        assert out[d]["canonical_id"] == 2
    assert out[2]["is_canonical"] == 1 and out[1]["is_canonical"] == 0
    assert out[4]["canonical_id"] == 4 and out[4]["is_canonical"] == 1


def test_cluster_canonical_quality_tie_breaks_min_id(spark):
    docs = spark.createDataFrame(
        [(7, "x", 10), (9, "y", 10)], "doc_id long, text string, n_chars long"
    )
    pairs = spark.createDataFrame([(7, 9)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in dedup.cluster_canonical(docs, pairs).collect()}
    assert out[7]["canonical_id"] == 7 and out[9]["canonical_id"] == 7


def test_sparse_cosine_exact_known_vectors(spark):
    from building_coffee_commodity_trading_data_warehouse_spark.operators import (
        similarity,
    )

    # doc 1 = [a:2, b:1], doc 2 = [a:1, b:2] -> cos = 4/5 = 0.8
    # doc 3 shares nothing with 1/2
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b b"), (3, "z z z")],
        "doc_id long, text string",
    )
    rows = similarity.sparse_cosine_pairs(
        docs, max_df=100, t_num=1, t_den=2
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"], r["dot_tf"]) == (1, 2, 4)
    assert r["cosine"] == 0.8


def test_sparse_cosine_integer_threshold_boundary(spark):
    from building_coffee_commodity_trading_data_warehouse_spark.operators import (
        similarity,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b b")], "doc_id long, text string"
    )
    # cos = 0.8 exactly: kept at t=4/5, dropped just above
    assert (
        similarity.sparse_cosine_pairs(docs, t_num=4, t_den=5).count() == 1
    )
    assert (
        similarity.sparse_cosine_pairs(docs, t_num=81, t_den=100).count() == 0
    )


def test_sparse_cosine_stop_terms_pruned(spark):
    from building_coffee_commodity_trading_data_warehouse_spark.operators import (
        similarity,
    )

    # "the" appears in all 4 docs; with max_df=3 it is dropped, so the
    # only surviving pair is the one sharing a non-stop term
    docs = spark.createDataFrame(
        [(1, "the u1 q"), (2, "the u2 q"), (3, "the u3"), (4, "the u4")],
        "doc_id long, text string",
    )
    rows = similarity.sparse_cosine_pairs(
        docs, max_df=3, t_num=0, t_den=1
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}


def test_minhash_rollup_merge_certificate(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "web"),
            (2, "beta gamma epsilon", "web"),
            (3, "zeta eta theta", "web"),
            (4, "alpha beta unrelated words", "book"),
            (5, "totally different text here", "book"),
        ],
        "doc_id long, text string, source string",
    )
    out = dedup.minhash_rollup_certify(docs, k=4, n=2, n_batches=2).collect()
    assert {r["source"] for r in out} == {"web", "book"}
    for r in out:
        assert r["merge_ok"] == 1
    # the signature is a pure set property: doubling a doc's batch
    # membership (merge order) must not change the per-source sig
    again = {
        (r["source"], r["mh_0"], r["mh_1"], r["mh_2"], r["mh_3"])
        for r in dedup.minhash_rollup_certify(
            docs.repartition(7), k=4, n=2, n_batches=5
        ).collect()
    }
    base = {
        (r["source"], r["mh_0"], r["mh_1"], r["mh_2"], r["mh_3"]) for r in out
    }
    assert again == base


def test_duplication_stats_exact_rates(spark):
    docs = spark.createDataFrame(
        [
            (1, "same", "a"),
            (2, "same", "a"),
            (3, "other", "a"),
            (4, "x", "b"),
            (5, "y", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in dedup.duplication_stats(docs).collect()}
    assert out["a"]["n_docs"] == 3 and out["a"]["n_unique"] == 2
    assert out["a"]["n_dup_docs"] == 1 and out["a"]["dup_rate"] == 1 / 3
    assert out["b"]["n_dup_docs"] == 0 and out["b"]["dup_rate"] == 0.0


def test_bloom_prefilter_no_false_negatives_and_hits(spark):
    # history = even ids; batch = everything. Odd doc 5 duplicates
    # history content, odd docs 7/9 are fresh.
    rows = [(i, f"hist text {i}") for i in range(0, 6, 2)]  # 0,2,4
    rows += [(5, "hist text 0"), (7, "fresh a"), (9, "fresh b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.bloom_prefilter_dedup(docs, mod=2).collect()
    }
    assert set(out) == {0, 2, 4, 5, 7, 9}
    for r in out.values():
        assert r["no_false_negative"] == 1
    # every history doc is its own duplicate in the batch and MUST hit
    for d in (0, 2, 4):
        assert out[d]["is_dup_exact"] == 1 and out[d]["bloom_hit"] == 1
    assert out[5]["is_dup_exact"] == 1 and out[5]["bloom_hit"] == 1
    for d in (7, 9):
        assert out[d]["is_dup_exact"] == 0


def test_line_dedup_first_occurrence_and_exemption(spark):
    """Corpus-wide line dedup: a shared line survives only at its
    min-(doc_id, idx) occurrence; lines under min_line_chars are
    exempt; the rebuilt text (md5-pinned) preserves original order."""
    import hashlib

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha line\nshared footer line\nx"),
            (2, "shared footer line\nunique beta line"),
            (3, "unique alpha line"),
            (4, ""),
            (5, "dup inside\ndup inside\ntail line"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, min_line_chars=2).collect()
    }
    assert got[1]["n_kept_lines"] == 3  # first occurrences + exempt 'x'
    assert got[2]["n_kept_lines"] == 1 and got[2]["n_dropped"] == 1
    assert got[2]["clean_md5"] == hashlib.md5(b"unique beta line").hexdigest()
    assert got[3]["n_kept_lines"] == 0  # its only line seen in doc 1
    assert got[4]["n_kept_lines"] == 1  # '' exempt
    # within-doc duplicate: second occurrence drops, order preserved
    assert got[5]["n_kept_lines"] == 2
    assert got[5]["clean_md5"] == hashlib.md5(
        b"dup inside\ntail line"
    ).hexdigest()


def test_incremental_neardup_planted_scenarios(spark):
    """Batch-vs-history LSH near-dup: exact copy and one-word edit
    match history; novel and shingle-less docs carry zero candidates
    and NULL jaccard (not 0.0 — 'no candidate' is distinguishable
    from 'candidate with zero overlap')."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    hist = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different text about spark shuffle exchanges"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "the quick brown fox jumps over the lazy cat today"),
            (12, "nothing like anything in history whatsoever plainly"),
            (13, "x"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dedup.incremental_neardup(
            hist, batch, k=8, bands=4, n=2, threshold=0.4
        ).collect()
    }
    assert got[10]["is_neardup"] and got[10]["best_jaccard"] == 1.0
    assert got[10]["match_doc_id"] == 1
    assert got[11]["is_neardup"] and 0.5 < got[11]["best_jaccard"] < 1.0
    assert not got[12]["is_neardup"] and got[12]["n_candidates"] == 0
    assert got[12]["best_jaccard"] is None
    assert got[13]["n_candidates"] == 0 and got[13]["match_doc_id"] is None


def test_incremental_neardup_matches_python_reference(spark):
    """Randomized sweep: 36 docs from an 8-word vocabulary (forced
    collisions), split history/batch; candidates, Jaccard, rollup and
    flags must match an independent pure-Python LSH implementation
    exactly."""
    import hashlib
    import random

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    rng = random.Random(411)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
        for i in range(36)
    ]
    hist_rows = [r for r in rows if r[0] < 18]
    batch_rows = [r for r in rows if r[0] >= 18]
    k, bands, thr = 8, 4, 0.3
    r_per = k // bands

    def sh_set(text):
        toks = [t for t in text.split() if t]
        return {f"{a} {b}" for a, b in zip(toks, toks[1:])}

    def sig(shset):
        return [
            min(
                hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in shset
            )
            for i in range(k)
        ]

    def bandhashes(sg):
        return [
            hashlib.md5(
                ",".join(sg[b * r_per:(b + 1) * r_per]).encode()
            ).hexdigest()
            for b in range(bands)
        ]

    hsets = {i: sh_set(t) for i, t in hist_rows}
    bsets = {i: sh_set(t) for i, t in batch_rows}
    hbands = {i: bandhashes(sig(s)) for i, s in hsets.items() if s}
    bbands = {i: bandhashes(sig(s)) for i, s in bsets.items() if s}
    expected = {}
    for bid, bt in batch_rows:
        cands = {
            hid
            for hid, hb in hbands.items()
            if bid in bbands
            and any(x == y for x, y in zip(bbands[bid], hb))
        }
        jacs = {
            hid: len(bsets[bid] & hsets[hid])
            / len(bsets[bid] | hsets[hid])
            for hid in cands
        }
        best = max(jacs.values()) if jacs else None
        matches = [h for h, j in jacs.items() if j >= thr]
        expected[bid] = (
            len(cands),
            best,
            min(matches) if matches else None,
            best is not None and best >= thr,
        )

    hist = spark.createDataFrame(hist_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_candidates"], r["best_jaccard"],
            r["match_doc_id"], r["is_neardup"],
        )
        for r in dedup.incremental_neardup(
            hist, batch, k=k, bands=bands, n=2, threshold=thr
        ).collect()
    }
    assert got == expected


def test_incremental_neardup_plan_broadcast_semi_prune(spark):
    """Scale-posture pins: both shingle tables are pruned to candidate
    docs with broadcast LEFT-SEMI joins BEFORE the verify shuffle
    (history shingles never exchange wholesale), and candidate
    generation is an equi-join (no cartesian anywhere)."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    hist = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(12)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(12)],
        "doc_id long, text string",
    )
    plan = (
        dedup.incremental_neardup(hist, batch)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_neardup_index_roundtrip_identical_and_append(spark, tmp_path):
    """The persisted-index search must be ROW-IDENTICAL to the direct
    incremental_neardup over the same history; appending a second
    history slab must equal one build over the union; mismatched
    banding parameters on append must refuse."""
    import pytest as _pt

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    h1 = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i} eps zeta") for i in range(8)],
        "doc_id long, text string",
    )
    h2 = spark.createDataFrame(
        [(20 + i, f"one two three four tok{i} five six") for i in range(6)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta tok3 eps zeta"),  # dup of h1/3
            (101, "one two three four tok2 five six"),      # dup of h2/22
            (102, "totally novel content right here now"),
        ],
        "doc_id long, text string",
    )
    key = lambda df: sorted(
        (r["doc_id"], r["n_candidates"], r["best_jaccard"],
         r["match_doc_id"], r["is_neardup"])
        for r in df.collect()
    )
    p = str(tmp_path / "idx")
    dedup.neardup_index_build(h1, p, k=8, bands=4, n=2)
    dedup.neardup_index_build(h2, p, k=8, bands=4, n=2, mode="append")
    got = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
    union = h1.unionByName(h2)
    direct = key(
        dedup.incremental_neardup(union, batch, k=8, bands=4, n=2,
                                  threshold=0.4)
    )
    one_build = str(tmp_path / "idx2")
    dedup.neardup_index_build(union, one_build, k=8, bands=4, n=2)
    rebuilt = key(
        dedup.neardup_index_search(spark, one_build, batch, threshold=0.4)
    )
    assert got == direct == rebuilt
    assert [r for r in got if r[0] == 100][0][4] is True
    assert [r for r in got if r[0] == 102][0][1] == 0
    with _pt.raises(ValueError, match="mismatch|built with"):
        dedup.neardup_index_build(h1, p, k=4, bands=2, n=2, mode="append")


def test_line_dedup_planted_hot_line_correct(spark):
    """Planted 60%-hot-key corpus (the cookie-banner case the salted
    election exists for): 600 of 1000 docs share one boilerplate
    line. The hot line survives only at its min (doc_id, idx)
    occurrence; every unique line survives; totals reconcile."""
    from pyspark.sql import functions as F

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 5 < 3,
            F.concat(
                F.lit("unique line number "), F.col("id").cast("string"),
                F.lit("\nACCEPT ALL COOKIES TO CONTINUE"),
            ),
        )
        .otherwise(
            F.concat(F.lit("only unique content "), F.col("id").cast("string"))
        )
        .alias("text"),
    )
    out = dedup.line_dedup(docs, min_line_chars=2)
    tot = out.agg(
        F.sum("n_lines").alias("nl"), F.sum("n_kept_lines").alias("nk")
    ).collect()[0]
    # 600 hot docs x 2 lines + 400 unique docs x 1 line = 1600 lines;
    # kept = 1000 unique + 1 hot occurrence
    assert tot["nl"] == 1600 and tot["nk"] == 1001
    first_hot = out.filter(F.col("doc_id") == 0).collect()[0]
    assert first_hot["n_kept_lines"] == 2  # doc 0 keeps its hot copy
    later_hot = out.filter(F.col("doc_id") == 5).collect()[0]
    assert later_hot["n_kept_lines"] == 1  # later copies drop it


def test_line_dedup_paragraph_granularity(spark):
    """sep='\\n\\n' runs the same pass at PARAGRAPH granularity: a
    paragraph shared across docs survives only at its first corpus
    occurrence, newlines WITHIN a paragraph are untouched, and the
    rebuilt text joins with the same blank-line bytes."""
    import hashlib

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha one\nalpha two\n\nshared para\nsecond line"),
            (2, "shared para\nsecond line\n\nbeta unique"),
            (3, "x"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, min_line_chars=2, sep="\n\n").collect()
    }
    assert got[1]["n_lines"] == 2 and got[1]["n_kept_lines"] == 2
    assert got[1]["clean_md5"] == hashlib.md5(
        b"alpha one\nalpha two\n\nshared para\nsecond line"
    ).hexdigest()
    assert got[2]["n_kept_lines"] == 1 and got[2]["n_dropped"] == 1
    assert got[2]["clean_md5"] == hashlib.md5(b"beta unique").hexdigest()
    assert got[3]["n_kept_lines"] == 1  # 1-char paragraph: exempt, kept


def test_domain_filter_blocklist_applied(spark):
    """domain_filter drops every doc whose registered_domain is
    blocklisted (broadcast anti-join; corpus never shuffles) and
    keeps the rest, including unparseable ''-domain rows when '' is
    not blocked."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import urls

    docs = spark.createDataFrame(
        [
            (1, "https://spam.net/a"),
            (2, "https://SPAM.net:443/b"),
            (3, "https://ok.org/c"),
            (4, "junk"),
        ],
        "doc_id long, url string",
    )
    block = spark.createDataFrame([("spam.net",)], "registered_domain string")
    got = sorted(
        r["doc_id"] for r in urls.domain_filter(docs, block).collect()
    )
    assert got == [3, 4]
    plan = (
        urls.domain_filter(docs, block)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan and "Broadcast" in plan, plan


def test_incremental_neardup_max_bucket_caps_quadratic_candidates(spark):
    """The LSH quadratic hazard: 60 identical history copies put every
    copy in the same band buckets, so an uncapped batch copy draws 60
    candidates; max_bucket=4 bounds it at <= 4 representatives per
    bucket while (a) the global-min history doc always survives the
    cap (salt-partitioned minima), so match_doc_id is unchanged, and
    (b) the capped plan's bucket aggregate is map-side combinable
    (partial_min below the exchange — the mega bucket itself never
    funnels one reducer)."""
    from pyspark.sql import functions as F

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    hot = "the exact same boilerplate page content repeated everywhere"
    hist = spark.createDataFrame(
        [(i, hot) for i in range(60)]
        + [(100, "one genuinely different history document here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(200, hot), (201, "novel text with no match at all")],
        "doc_id long, text string",
    )
    exact = {
        r["doc_id"]: r
        for r in dedup.incremental_neardup(
            hist, batch, k=8, bands=4, n=2, threshold=0.5
        ).collect()
    }
    capped_df = dedup.incremental_neardup(
        hist, batch, k=8, bands=4, n=2, threshold=0.5, max_bucket=4
    )
    capped = {r["doc_id"]: r for r in capped_df.collect()}
    assert exact[200]["n_candidates"] == 60
    assert capped[200]["n_candidates"] <= 4
    assert capped[200]["is_neardup"] and capped[200]["best_jaccard"] == 1.0
    assert capped[200]["match_doc_id"] == exact[200]["match_doc_id"] == 0
    assert capped[201]["n_candidates"] == 0
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "partial_min(doc_id" in plan, plan


def test_keeper_election_heavy_path_values_match_plain(spark):
    """Direct keeper_election coverage of the HEAVY branch: with
    heavy_threshold=3, a 6-copy hot key resolves through the
    broadcast dictionary + redirect keys while a 2-copy key takes the
    light join — first/count answers must equal the plain
    (threshold=inf) election for every row, including (a) a hot key
    whose ELIGIBLE set is empty (first stays NULL) and (b) NULL-id
    eligibility interplay."""
    from pyspark.sql import functions as F

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    rows = (
        [(i, "hot", i % 2 == 0) for i in range(10, 16)]      # 6 copies
        + [(20, "cold", True), (21, "cold", True)]           # 2 copies
        + [(30, "dead", False), (31, "dead", False),         # 4 copies,
           (32, "dead", False), (33, "dead", False)]         # none eligible
    )
    df = spark.createDataFrame(rows, "doc_id long, k string, ok boolean")

    def run(threshold):
        out = dedup.keeper_election(
            df, "k", eligible=F.col("ok"),
            first_col="first", count_col="n",
            heavy_threshold=threshold,
        )
        return sorted(
            (r["doc_id"], r["k"], r["first"], r["n"]) for r in out.collect()
        )

    heavy = run(3)
    plain = run(10**9)
    assert heavy == plain
    by_id = {t[0]: t for t in heavy}
    assert by_id[11] == (11, "hot", 10, 6)    # min ELIGIBLE id, full count
    assert by_id[20] == (20, "cold", 20, 2)
    assert by_id[30] == (30, "dead", None, 4)  # hot-ish key, no eligible


# --------------------------------------------------------------- r12 fixes


def test_regex_quote_separator_containing_backslash_E(spark):
    """r11 ADVICE: a bare \\Q...\\E wrap breaks when the literal
    separator itself contains \\E — _regex_quote must keep ANY byte
    sequence literal (JDK Pattern.quote algorithm)."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    # separator is the 4-char literal '\E+.' — naive quoting would
    # end the quote at \E and interpret '+.' as regex
    sep = "\\E+."
    docs = spark.createDataFrame(
        [(1, f"aaaa{sep}bbbb{sep}cccc"), (2, f"bbbb{sep}aaaa")],
        "doc_id long, text string",
    )
    out = dedup.line_dedup(docs, min_line_chars=1, sep=sep)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_lines"] == 3 and got[1]["n_kept_lines"] == 3
    # doc 2's 'aaaa' and 'bbbb' are corpus-dups of doc 1's units
    assert got[2]["n_lines"] == 2 and got[2]["n_kept_lines"] == 0
    # regression guard: plain re-split on the literal must agree
    probe = spark.createDataFrame([(1, f"x{sep}y")], "i long, t string")
    from pyspark.sql import functions as F

    n = probe.select(
        F.size(F.split("t", dedup._regex_quote(sep))).alias("n")
    ).head()["n"]
    assert n == 2


def test_keeper_election_long_key_column(spark):
    """r11 ADVICE: keeper_election silently assumed string keys (the
    heavy branch substitutes a string-cast id). With the explicit
    two-sided cast a LONG key column must work and agree with the
    plain window answer."""
    from pyspark.sql import functions as F

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    rows = [(i, i % 7) for i in range(200)] + [(1000 + i, 3) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, grp long")
    out = dedup.keeper_election(
        df, "grp", count_col="n", heavy_threshold=10
    )
    got = {
        (r["doc_id"]): (r["__keeper_id"], r["n"]) for r in out.collect()
    }
    from collections import Counter, defaultdict

    counts = Counter(g for _, g in rows)
    firsts = defaultdict(lambda: 1 << 60)
    for i, g in rows:
        firsts[g] = min(firsts[g], i)
    for i, g in rows:
        assert got[i] == (firsts[g], counts[g]), (i, g, got[i])


def test_neardup_index_torn_append_invisible_and_replay_idempotent(
    spark, tmp_path
):
    """r11 ADVICE: the old append wrote bands/shingles/sizes as three
    independent parquet appends — a failure between them left a torn
    index. The r12 manifest contract: (1) a batch partition without
    its manifest row is IGNORED at search time; (2) re-running an
    append with the same batch_tag overwrites itself (streaming
    replay idempotency)."""
    import pytest as _pt

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    hist = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(4)],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(50, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    dedup.neardup_index_build(hist, p, k=8, bands=4, n=2)
    base = dedup.neardup_index_search(spark, p, batch, threshold=0.4)
    assert not base.head()["is_neardup"]

    # simulate a TORN append: bands land, manifest (and the other
    # tables) never do — exactly the crash window the ADVICE names
    sh = dedup.shingles(extra, 2)
    sig = dedup._minhash_wide(sh, 8)
    dedup._band_keys(sig, 8, 4).write.mode("overwrite").parquet(
        f"{p}/bands/batch=torn"
    )
    after_torn = dedup.neardup_index_search(spark, p, batch, threshold=0.4)
    r = after_torn.head()
    assert not r["is_neardup"] and r["n_candidates"] == 0

    # committed append now lands; replaying it with the SAME tag must
    # not double anything
    dedup.neardup_index_build(
        extra, p, k=8, bands=4, n=2, mode="append", batch_tag="b1"
    )
    dedup.neardup_index_build(
        extra, p, k=8, bands=4, n=2, mode="append", batch_tag="b1"
    )
    got = dedup.neardup_index_search(spark, p, batch, threshold=0.4).head()
    assert got["is_neardup"] and got["match_doc_id"] == 50
    assert got["n_candidates"] == 1  # not inflated by the replay
    direct = dedup.incremental_neardup(
        hist.unionByName(extra), batch, k=8, bands=4, n=2, threshold=0.4
    ).head()
    assert (
        got["n_candidates"],
        got["best_jaccard"],
        got["match_doc_id"],
        got["is_neardup"],
    ) == (
        direct["n_candidates"],
        direct["best_jaccard"],
        direct["match_doc_id"],
        direct["is_neardup"],
    )
    with _pt.raises(ValueError, match="must be"):
        dedup.neardup_index_build(
            extra, p, k=8, bands=4, n=2, mode="append", batch_tag="a=b"
        )
    # numeric/date-shaped tags are refused too: partition discovery
    # would type-infer them and break every tag-string comparison
    with _pt.raises(ValueError, match="must be"):
        dedup.neardup_index_build(
            extra, p, k=8, bands=4, n=2, mode="append",
            batch_tag="20240101",
        )


def test_neardup_candidate_prune_auto_routes_to_shuffle(spark):
    """r11 verdict item 4: the candidate-id semi-joins broadcast only
    UNDER the size threshold; above it the hint is dropped and the
    plan must contain a non-broadcast semi-join (the driver-safe path
    for mega candidate sets)."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    hist = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(6)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma tok2 delta eps")],
        "doc_id long, text string",
    )
    # kill size-based auto-broadcast (the test_plan_shapes idiom): at
    # test scale Spark's own estimator happily broadcasts the tiny id
    # sets even without our hint, which is correct for tiny data but
    # hides the route this test audits. With the threshold off, a
    # surviving BroadcastHashJoin can only come from the explicit
    # hint the auto-route is supposed to have dropped.
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = dedup.incremental_neardup(
            hist, batch, k=8, bands=4, n=2, threshold=0.4,
            max_broadcast_ids=0,
        )
        plan = forced._jdf.queryExecution().executedPlan().toString()
        semis = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert semis, plan
        assert all("BroadcastHashJoin" not in ln for ln in semis), plan
        # and the routed answer is identical to the broadcast answer
        normal = dedup.incremental_neardup(
            hist, batch, k=8, bands=4, n=2, threshold=0.4
        )
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(forced) == key(normal)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_maximal_spans_coalesce_overlapping_windows(spark):
    """r11 verdict item 5 — canonical Lee et al. 2022 span identity:
    a 7-token repeated run surfaces as 3 overlapping 5-gram windows
    and must coalesce into ONE maximal span of 7 tokens, with
    corpus-wide n_docs counted on the MAXIMAL span text."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators.dedup import (
        maximal_spans,
    )

    run = "all rights reserved by the publisher inc"  # 7 tokens
    rows = [
        (1, f"intro {run} tail words"),
        (2, f"{run} and more"),
        (3, f"x y {run}"),
        (4, "unrelated filler text with no shared spans at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = maximal_spans(docs, n=5, min_docs=3).collect()
    by_doc = {r["doc_id"]: r for r in got}
    assert len(got) == 3 and set(by_doc) == {1, 2, 3}
    for r in got:
        assert r["span"] == run and r["n_tokens"] == 7 and r["n_docs"] == 3
    assert (by_doc[1]["start"], by_doc[1]["end"]) == (2, 8)
    assert (by_doc[2]["start"], by_doc[2]["end"]) == (1, 7)
    assert (by_doc[3]["start"], by_doc[3]["end"]) == (3, 9)

    # two DIFFERENT hot 5-grams adjacent in one doc coalesce there
    # (interval semantics: merged ranges, not per-span ranges) while
    # docs holding only one of them emit the fixed-5 span; the
    # merged 10-token text is unique to doc 20 -> n_docs == 1
    a = "alpha beta gamma delta epsilon"
    b = "one two three four five"
    docs2 = spark.createDataFrame(
        [
            (20, f"{a} {b}"),
            (21, f"l {a} r"),
            (22, f"{a} z"),
            (23, f"q {b}"),
            (24, f"{b} w"),
        ],
        "doc_id long, text string",
    )
    got2 = maximal_spans(docs2, n=5, min_docs=3).collect()
    d20 = [r for r in got2 if r["doc_id"] == 20]
    assert len(d20) == 1
    assert d20[0]["span"] == f"{a} {b}" and d20[0]["n_tokens"] == 10
    assert d20[0]["n_docs"] == 1
    d21 = [r for r in got2 if r["doc_id"] == 21]
    assert d21[0]["span"] == a and d21[0]["n_docs"] == 2  # docs 21, 22


def test_neardup_index_compact_and_vacuum(spark, tmp_path):
    """Index lifecycle (r12): compaction rewrites all committed
    batches into one base batch with IDENTICAL search results;
    vacuum removes superseded and torn batch directories; a
    post-compact append continues the normal cycle."""
    import os

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    h1 = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(4)],
        "doc_id long, text string",
    )
    h2 = spark.createDataFrame(
        [(10, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "alpha beta gamma tok2 delta eps"),
            (101, "zeta eta theta iota kappa lambda"),
            (102, "entirely novel words right here now"),
        ],
        "doc_id long, text string",
    )
    key = lambda df: sorted(
        (r["doc_id"], r["n_candidates"], r["best_jaccard"],
         r["match_doc_id"], r["is_neardup"])
        for r in df.collect()
    )
    p = str(tmp_path / "idx")
    dedup.neardup_index_build(h1, p, k=8, bands=4, n=2)
    dedup.neardup_index_build(h2, p, k=8, bands=4, n=2, mode="append",
                              batch_tag="b2")
    before = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))

    # plant a TORN batch (data, no manifest row) — vacuum must remove it
    dedup.shingles(h2, 2).write.mode("overwrite").parquet(
        f"{p}/shingles/batch=torn"
    )
    bid = dedup.neardup_index_compact(spark, p)
    assert bid.startswith("compact-")
    after = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
    assert before == after

    removed = dedup.neardup_index_vacuum(spark, p)
    # superseded: base build batch + b2 across 3 tables, plus the torn dir
    names = {os.path.basename(r) for r in removed}
    assert "batch=torn" in names and "batch=b2" in names
    assert all(f"batch={bid}" != n for n in names)
    still = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
    assert still == before

    # the cycle continues: append after compact, new doc searchable
    h3 = spark.createDataFrame(
        [(20, "entirely novel words right here now")],
        "doc_id long, text string",
    )
    dedup.neardup_index_build(h3, p, k=8, bands=4, n=2, mode="append",
                              batch_tag="b3")
    got = {r["doc_id"]: r for r in
           dedup.neardup_index_search(spark, p, batch, threshold=0.4).collect()}
    assert got[102]["is_neardup"] and got[102]["match_doc_id"] == 20
    assert got[100]["is_neardup"] and got[101]["is_neardup"]


def test_manifest_swap_static_under_dynamic_overwrite_mode(spark, tmp_path):
    """r12 ADVICE (medium): under a session-level
    spark.sql.sources.partitionOverwriteMode=dynamic — a common
    production setting — a partitioned overwrite only replaces the
    partitions present in the NEW data, so the manifest 'swap' in
    build(mode='overwrite') and compact would leave old manifest rows
    alive: searches would then read superseded batches alongside the
    compacted copy, silently doubling shingle/size rows. The swap
    writes pin partitionOverwriteMode=static per-write."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(4)],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(10, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma tok2 delta eps"),
         (101, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    key = lambda df: sorted(
        (r["doc_id"], r["n_candidates"], r["best_jaccard"],
         r["match_doc_id"], r["is_neardup"])
        for r in df.collect()
    )
    p = str(tmp_path / "idx")
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        dedup.neardup_index_build(docs, p, k=8, bands=4, n=2)
        dedup.neardup_index_build(extra, p, k=8, bands=4, n=2,
                                  mode="append", batch_tag="b2")
        before = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
        bid = dedup.neardup_index_compact(spark, p)
        manifest = [
            r["batch"]
            for r in spark.read.parquet(f"{p}/manifest")
            .select(F.col("batch").cast("string").alias("batch"))
            .distinct().collect()
        ]
        assert manifest == [bid], (
            f"dynamic overwrite leaked superseded manifest rows: {manifest}"
        )
        after = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
        assert after == before  # no doubled candidates/Jaccard

        # build-overwrite's manifest swap under the same setting
        p2 = str(tmp_path / "idx2")
        dedup.neardup_index_build(docs, p2, k=8, bands=4, n=2)
        dedup.neardup_index_build(extra, p2, k=8, bands=4, n=2,
                                  mode="overwrite")
        m2 = [
            r["batch"]
            for r in spark.read.parquet(f"{p2}/manifest")
            .select(F.col("batch").cast("string").alias("batch"))
            .distinct().collect()
        ]
        assert len(m2) == 1, f"overwrite swap leaked old manifest rows: {m2}"
        got = {r["doc_id"]: r for r in
               dedup.neardup_index_search(spark, p2, batch, threshold=0.4)
               .collect()}
        # only `extra` is in the rebuilt index
        assert got[101]["is_neardup"] and not got[100]["is_neardup"]
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def test_torn_new_build_recoverable_with_overwrite(spark, tmp_path):
    """r12 ADVICE: a fresh build that crashes after writing meta but
    before the manifest commit must stay recoverable — retrying
    build(mode='overwrite') in place succeeds (the docstring's
    crash-recovery promise), while append is refused with an error
    naming the torn state."""
    import shutil

    import pytest as _pt

    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(4)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma tok2 delta eps")],
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    dedup.neardup_index_build(docs, p, k=8, bands=4, n=2)
    # simulate the crash window: manifest never landed
    shutil.rmtree(f"{p}/manifest")
    with _pt.raises(ValueError, match="torn build"):
        dedup.neardup_index_build(docs, p, k=8, bands=4, n=2,
                                  mode="append", batch_tag="b2")
    # in-place overwrite retry recovers
    dedup.neardup_index_build(docs, p, k=8, bands=4, n=2)
    got = dedup.neardup_index_search(spark, p, batch, threshold=0.4).head()
    # doc 2's shingle set is identical -> exact-1.0 best_jaccard; a
    # doubled index (torn dirs leaking in) would not change 1.0 but
    # WOULD inflate n_candidates past the 4 history docs
    assert got["is_neardup"] and got["best_jaccard"] == 1.0
    assert got["n_candidates"] <= 4

    # crash even earlier: meta written, NO table data at all
    p2 = str(tmp_path / "idx2")
    dedup.neardup_index_build(docs, p2, k=8, bands=4, n=2)
    for t in ("manifest", "bands", "shingles", "sizes"):
        shutil.rmtree(f"{p2}/{t}")
    dedup.neardup_index_build(docs, p2, k=8, bands=4, n=2)
    assert dedup.neardup_index_search(
        spark, p2, batch, threshold=0.4
    ).head()["is_neardup"]


def test_vacuum_grace_window_and_file_scheme(spark, tmp_path):
    """Vacuum spares directories younger than grace_seconds
    (in-flight-append protection), removes them once the grace is 0,
    never touches committed batches — and the whole lifecycle (build
    → append → search → compact → vacuum) runs end-to-end through a
    file:-scheme URI on the same Hadoop FileSystem code every scheme
    takes."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} delta eps") for i in range(4)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma tok2 delta eps"),
         (101, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(10, "zeta eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    p = "file:" + str(tmp_path / "idx")  # explicit scheme end to end
    dedup.neardup_index_build(docs, p, k=8, bands=4, n=2)
    dedup.neardup_index_build(extra, p, k=8, bands=4, n=2,
                              mode="append", batch_tag="b2")
    # torn dir, seconds old: a generous grace must spare it
    dedup.shingles(docs, 2).write.parquet(f"{p}/shingles/batch=torn")
    assert dedup.neardup_index_vacuum(spark, p, grace_seconds=3600) == []
    removed = dedup.neardup_index_vacuum(spark, p, grace_seconds=0)
    assert len(removed) == 1 and removed[0].endswith("batch=torn")
    # committed batches untouched; search still works over file: URI
    # and sees the appended batch
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["best_jaccard"], r["match_doc_id"], r["is_neardup"])
        for r in df.collect()
    )
    got = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
    assert got == [(100, 1.0, 0, True), (101, 1.0, 10, True)]
    # compact + vacuum through the scheme too
    bid = dedup.neardup_index_compact(spark, p)
    removed2 = dedup.neardup_index_vacuum(spark, p, grace_seconds=0)
    assert removed2 and all("batch=" + bid not in r for r in removed2)
    assert any(r.endswith("batch=b2") for r in removed2)
    still = key(dedup.neardup_index_search(spark, p, batch, threshold=0.4))
    assert still == got


def test_maximal_spans_chars_cross_token_boundaries(spark):
    """r12 verdict item 5 (Lee et al. byte-granularity fidelity): a
    repeated run that starts or ends MID-token must surface as one
    maximal CHARACTER span — the token-n-gram mode can't see it at
    all when the run lives inside single long tokens or has
    partial-token edges. Planted: (a) a 39-char single-token run
    shared by 3 docs with different fused prefixes/suffixes; (b) a
    37-char run with partial tokens at BOTH ends
    (berries/ferries/merries -> 'erries ... epsilon'). Also pins
    hash-keyed == exact-text window detection."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    S = "the-quick-brown-fox-jumps-over-the-lazy"  # 39 chars, ONE token
    docs = spark.createDataFrame(
        [
            (1, "pref1" + S + "tail1 other words here"),
            (2, "pp2" + S + "zz2 more words"),
            (3, "x" + S + "y unrelated trailing content"),
            (4, "berries alpha beta gamma delta epsilon"),
            (5, "ferries alpha beta gamma delta epsilons"),
            (6, "merries alpha beta gamma delta epsilonq"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        map(tuple, dedup.maximal_spans_chars(docs, min_len=20, min_docs=3)
            .collect())
    )
    assert got == [
        (1, 6, 44, S, 39, 3),
        (2, 4, 42, S, 39, 3),
        (3, 2, 40, S, 39, 3),
        (4, 2, 38, "erries alpha beta gamma delta epsilon", 37, 3),
        (5, 2, 38, "erries alpha beta gamma delta epsilon", 37, 3),
        (6, 2, 38, "erries alpha beta gamma delta epsilon", 37, 3),
    ]
    # the token mode is blind to every one of these (no shared token
    # 5-gram exists) — the fidelity delta this mode closes
    assert dedup.maximal_spans(docs, n=5, min_docs=3).count() == 0
    exact = sorted(
        map(tuple, dedup.maximal_spans_chars(
            docs, min_len=20, min_docs=3, exact=True).collect())
    )
    assert exact == got
    # runs shorter than min_len stay invisible
    assert dedup.maximal_spans_chars(docs, min_len=40, min_docs=3).count() == 0


def test_remove_repeated_spans_chars_cut_and_rejoin(spark):
    """The char-granular CUT (remove_repeated_spans_chars): maximal
    hot character ranges are removed from every doc and survivors
    re-join with NO separator (a cut mid-token must not mint a
    phantom space). Planted: the single-token 39-char run and the
    partial-token-both-ends run from the maximal_spans_chars
    fixture, plus an untouched doc."""
    from building_coffee_commodity_trading_data_warehouse_spark.operators import dedup

    S = "the-quick-brown-fox-jumps-over-the-lazy"
    docs = spark.createDataFrame(
        [
            (1, "pref1" + S + "tail1 other words here"),
            (2, "pp2" + S + "zz2 more words"),
            (3, "x" + S + "y unrelated trailing content"),
            (4, "berries alpha beta gamma delta epsilon"),
            (5, "ferries alpha beta gamma delta epsilons"),
            (6, "merries alpha beta gamma delta epsilonq"),
            (7, "totally unrelated document here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           dedup.remove_repeated_spans_chars(docs, min_len=20, min_docs=3)
           .collect()}
    assert len(got) == 7
    # seamless rejoin around the single-token run — no phantom space
    assert got[1]["text_clean"] == "pref1tail1 other words here"
    assert got[1]["n_cut"] == 39
    assert got[2]["text_clean"] == "pp2zz2 more words"
    # partial-token cut at BOTH ends: 'b'+'', 'f'+'s', 'm'+'q'
    assert got[4]["text_clean"] == "b" and got[4]["n_cut"] == 37
    assert got[5]["text_clean"] == "fs"
    assert got[6]["text_clean"] == "mq"
    # untouched doc passes through verbatim
    assert got[7]["text_clean"] == "totally unrelated document here"
    assert got[7]["n_cut"] == 0
    # exact-text window keys agree with the hash default
    exact = {r["doc_id"]: r for r in
             dedup.remove_repeated_spans_chars(
                 docs, min_len=20, min_docs=3, exact=True).collect()}
    assert {k: tuple(v) for k, v in got.items()} == \
        {k: tuple(v) for k, v in exact.items()}
    # reconstruction invariant: n_chars - n_cut == len(text_clean)
    for r in got.values():
        assert r["n_chars"] - r["n_cut"] == len(r["text_clean"])
