"""Dedup semantics ported from deduplicator.rs:88-150 + near-dup family."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from bitquery_kafka_streams_rust_spark.operators import dedup as DD

T0 = datetime(2024, 1, 1, 0, 0, 0)


def ev(spark, rows):
    return spark.createDataFrame(rows, "sig string, ts timestamp, v int")


def test_first_wins(spark):
    """consumer.rs:235-248 — first sighting survives (pinned by ts order)."""
    df = ev(
        spark,
        [
            ("a", T0 + timedelta(seconds=5), 2),
            ("a", T0, 1),
            ("b", T0, 3),
        ],
    )
    out = {r["sig"]: r["v"] for r in DD.dedup_first_wins(df, "sig", ["ts", "v"]).collect()}
    assert out == {"a": 1, "b": 3}


def test_window_dedup_readmits_after_window(spark):
    """deduplicator.rs:100-118 — duplicate within window rejected,
    re-admitted in a later window."""
    df = ev(
        spark,
        [
            ("a", T0, 1),
            ("a", T0 + timedelta(seconds=30), 2),   # same 60s window → dropped
            ("a", T0 + timedelta(seconds=90), 3),   # next window → kept
            ("b", T0 + timedelta(seconds=30), 4),   # independent key
        ],
    )
    out = DD.dedup_within_window(df, "sig", "ts", 60, order_by=["ts", "v"])
    vals = sorted(r["v"] for r in out.collect())
    assert vals == [1, 3, 4]


def docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark engines and catalysts " * 5
    return spark.createDataFrame(
        [("d1", base), ("d2", base), ("d3", near), ("d4", other)],
        "doc_id string, text string",
    )


def test_minhash_identical_docs_same_signature(spark):
    df = docs_df(spark)
    sigs = {
        r["doc_id"]: tuple(r["sig"])
        for r in df.select("doc_id", DD.minhash_signature(F.col("text")).alias("sig")).collect()
    }
    assert sigs["d1"] == sigs["d2"]
    assert sigs["d1"] != sigs["d4"]


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in DD.minhash_lsh_pairs(docs_df(spark), threshold=0.5).collect()
    }
    assert ("d1", "d2") in pairs and pairs[("d1", "d2")] == 1.0
    assert ("d1", "d3") in pairs or ("d2", "d3") in pairs  # near-dup caught
    assert all("d4" not in p for p in pairs)


def test_simhash_hamming(spark):
    out = DD.simhash_near_dups(docs_df(spark), max_hamming=10).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs[("d1", "d2")] == 0
    assert ("d1", "d4") not in pairs


def test_ngram_jaccard_exact(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs_df(spark), threshold=0.3).collect()
    }
    assert pairs[("d1", "d2")] == 1.0
    assert 0.3 <= pairs[("d1", "d3")] < 1.0


def test_embedding_near_dups(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in DD.embedding_near_dups(df, threshold=0.99).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_decontaminate_flags_overlap_and_broadcasts(spark):
    """A corpus doc containing an eval doc's 3-gram is flagged with the
    right overlap count; clean docs are not; the eval gram side is
    broadcast (no shuffle join against the tiny benchmark set)."""
    ev = spark.createDataFrame(
        [(1000, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta y"),   # shares 2 distinct 3-grams+
            (2, "alpha beta nope gamma delta"),  # shares 0 full 3-grams
            (3, "totally unrelated words here"),
        ],
        "doc_id long, text string",
    )
    out = DD.decontaminate(corpus, ev, n=3, min_shared=1, hash_grams=False)
    got = {r["id"]: r["n_shared"] for r in out.collect()}
    assert got == {1: 2}  # "alpha beta gamma", "beta gamma delta"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # anti-join removal keeps exactly the clean docs
    clean = corpus.join(
        DD.decontaminate(corpus, ev, n=3, min_shared=1, hash_grams=False)
        .withColumnRenamed("id", "doc_id"),
        "doc_id",
        "left_anti",
    )
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]


def test_connected_components_chain_and_islands(spark):
    """A transitive chain merges into one component labeled by its min
    node; disjoint edges stay separate; isolated nodes are absent."""
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 12), (20, 21)], "id_a long, id_b long"
    )
    got = {r["id"]: r["component"] for r in DD.connected_components(edges).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 12: 3, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    """A 60-hop path (diameter > the default 20 rounds): plain min-label
    propagation would silently mislabel the tail; pointer jumping must
    resolve every node to component 0 well inside max_iter."""
    n = 61
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r["id"]: r["component"] for r in DD.connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_nonconvergence_raises(spark):
    """Hitting max_iter without convergence must raise, never return
    silently-wrong labels."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    try:
        DD.connected_components(edges, max_iter=2)
        raise AssertionError("expected RuntimeError at max_iter=2")
    except RuntimeError as e:
        assert "converge" in str(e)


def test_reliable_materialization_identical_output(spark):
    """reliable=True swaps localCheckpoint for persist(DISK_ONLY)+count
    (lineage kept — survives executor loss on spot capacity); output
    must be identical to the default fast path."""
    rows = [
        (i, f"the quick brown fox jumps over dog number {i % 7} again and again")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.3, n=2, max_gram_doc_freq=100)
    fast = DD.ngram_jaccard_pairs(docs, **kw)
    rel = DD.ngram_jaccard_pairs(docs, reliable=True, **kw)
    fast_rows = sorted(map(tuple, fast.collect()))
    assert fast_rows == sorted(map(tuple, rel.collect()))
    assert len(fast_rows) > 0
    cc_fast = sorted(map(tuple, DD.connected_components(fast).collect()))
    cc_rel = sorted(map(tuple, DD.connected_components(rel, reliable=True).collect()))
    assert cc_fast == cc_rel and len(cc_fast) > 0


def test_token_decontaminate_semantics(spark):
    """Corpus rows sharing a token 8-gram with any eval row are flagged
    with the DISTINCT shared-gram count; short rows hash whole-array;
    disjoint rows are clean."""
    corpus = spark.createDataFrame(
        [
            ("c1", list(range(20))),           # shares grams 0..19 region
            ("c2", list(range(100, 120))),     # disjoint
            ("c3", [1, 2, 3]),                 # short: whole-array gram
            ("c4", list(range(8)) * 2),        # within-row repeat: distinct once
        ],
        "doc_id string, tokens array<int>",
    )
    ev = spark.createDataFrame(
        [("e1", list(range(12))), ("e2", [1, 2, 3])],
        "doc_id string, tokens array<int>",
    )
    got = {
        r["id"]: r["n_shared"]
        for r in DD.token_decontaminate(corpus, ev, n=8).collect()
    }
    # e1 grams: windows 0..4 of range(12) -> 5 grams; c1 shares all 5
    assert got["c1"] == 5
    assert "c2" not in got
    assert got["c3"] == 1                      # whole-array hash matches e2
    # c4 = [0..7,0..7]: its distinct grams include window(0..7) (shared,
    # counted ONCE despite appearing twice) plus wrap-around grams
    assert got["c4"] == 1


def test_token_gram_hashes_match_reference(spark):
    """The vectorized zip_with hashing must equal the direct polynomial
    definition (Horner over each window)."""
    toks = [7, 50000, 0, 313, 12345, 9, 42, 50256, 1, 2]
    df = spark.createDataFrame([(toks,)], "tokens array<int>")
    (row,) = df.select(DD.token_gram_hashes("tokens", n=4).alias("g")).collect()
    M, B = 2147483647, 313

    def ref(win):
        h = 0
        for t in win:
            h = (h * B + t) % M
        return h

    want = sorted({ref(toks[i : i + 4]) for i in range(len(toks) - 3)})
    assert sorted(row["g"]) == want


def test_bloom_gate_no_false_negatives_and_exact_at_low_fill(spark):
    """The Bloom gate may over-flag but never misses: at generous m it
    reproduces the exact join form's overlap counts row for row."""
    corpus = spark.createDataFrame(
        [
            ("c1", list(range(20))),
            ("c2", list(range(100, 120))),
            ("c3", [1, 2, 3]),
        ],
        "doc_id string, tokens array<int>",
    )
    ev = spark.createDataFrame(
        [("e1", list(range(12))), ("e2", [1, 2, 3])],
        "doc_id string, tokens array<int>",
    )
    ev_grams = ev.select(F.explode(DD.token_gram_hashes("tokens", 8)).alias("g"))
    words = DD.bloom_words(ev_grams, m_bits=1 << 14, k=4)  # huge m vs 6 grams
    got = {
        r["doc_id"]: r["n"]
        for r in corpus.select(
            "doc_id",
            DD.bloom_hit_count(DD.token_gram_hashes("tokens", 8), words, 1 << 14, 4).alias("n"),
        ).collect()
    }
    exact = {
        r["id"]: r["n_shared"]
        for r in DD.token_decontaminate(corpus, ev, n=8).collect()
    }
    # no false negatives: every exact overlap is >= in the bloom counts
    for k_, v in exact.items():
        assert got[k_] >= v
    # at this fill ratio (6 grams in 16 Kbit) there are no FPs either
    assert got == {**{d: 0 for d in ("c1", "c2", "c3")}, **exact}


def test_semantic_dedup_min_id_wins(spark):
    """Identical vectors share a cell (rounded-cosine tie breaks to the
    same centroid); the smallest id survives, the rest are dropped."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),   # exact dup of 1
            (3, [1.0, 0.0]),   # exact dup of 1 (chain collapses, no CC)
            (4, [0.0, 1.0]),   # orthogonal — kept
        ],
        "vec_id int, embedding array<float>",
    )
    out = {r["vec_id"]: r["kept"] for r in DD.semantic_dedup(emb, threshold=0.99, n_cells=4).collect()}
    assert out == {1: True, 2: False, 3: False, 4: True}


def test_semantic_dedup_covers_every_row_once(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = DD.semantic_dedup(emb, threshold=0.35)
    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()
    # dropped rows each have a smaller-id kept-or-dropped witness — at
    # minimum the set of kept rows is nonempty and ids are preserved
    kept = out.where(F.col("kept")).count()
    assert 0 < kept <= emb.count()


def test_incremental_minhash_equals_filtered_full(spark):
    """The incremental delta == full recompute filtered to pairs
    touching a changed id; both-changed pairs appear exactly once."""
    base = "the quick brown fox jumps over the lazy dog and runs far away "
    docs = spark.createDataFrame(
        [
            (1, base * 4),
            (2, base * 4 + "tail tweak"),       # near-dup of 1
            (3, base * 4 + "other small edit"),  # near-dup of 1 and 2
            (4, "completely different content about spark catalyst plans " * 4),
            (5, "completely different content about spark catalyst plans " * 4 + "!"),
        ],
        "doc_id int, text string",
    )
    changed = spark.createDataFrame([(2,), (3,)], "doc_id int")
    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in DD.minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    expected = {
        p: v for p, v in full.items() if p[0] in (2, 3) or p[1] in (2, 3)
    }
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in DD.incremental_minhash_pairs(
            docs, changed, threshold=0.4
        ).collect()
    }
    assert got == expected
    assert (2, 3) in got  # both-changed pair present exactly once
    assert (4, 5) in full and (4, 5) not in got  # unchanged-unchanged excluded


def test_split_leakage_report_semantics(spark):
    """A held-out doc replicating train content is flagged; unique
    held-out content is not."""
    frac = lambda i: (i * 2654435761 % 2**31) / 2**31
    train_ids = [i for i in range(200) if frac(i) < 0.9]
    val_ids = [i for i in range(200) if 0.9 <= frac(i) < 0.95]
    assert len(train_ids) >= 2 and len(val_ids) >= 2
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (train_ids[0], shared),
        (train_ids[1], "one two three four five six seven"),
        (val_ids[0], shared + " extra tail"),          # leaks: >=2 shared 3-grams
        (val_ids[1], "unique held out words nothing common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["split"]: (r["n_docs"], r["n_leaked"], r["leak_frac"])
        for r in DD.split_leakage_report(
            df, {"train": 0.9, "val": 0.05, "test": 0.05}, n=3, min_shared=2
        ).collect()
    }
    assert out["val"] == (2, 1, 0.5)
    # scale path (hashed grams) agrees with the portable path
    out_h = {
        r["split"]: (r["n_docs"], r["n_leaked"])
        for r in DD.split_leakage_report(
            df, {"train": 0.9, "val": 0.05, "test": 0.05},
            n=3, min_shared=2, hash_grams=True,
        ).collect()
    }
    assert out_h["val"] == (2, 1)


# --- directed containment ----------------------------------------------------


def test_containment_catches_subset_jaccard_misses(spark):
    # A (2 grams) fully embedded in B (8 grams): containment A->B = 1.0
    # while Jaccard = 2/8 = 0.25 — below any dedup threshold
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in DD.ngram_containment_pairs(
            docs, n=3, threshold=0.8, hash_grams=False
        ).collect()
    }
    assert out == {(1, 2): 1.0}
    jac = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.5, hash_grams=False)
    assert jac.count() == 0


def test_containment_identical_docs_both_directions(spark):
    docs = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w")], "doc_id long, text string"
    )
    rows = sorted(
        (r["id_a"], r["id_b"], r["containment"])
        for r in DD.ngram_containment_pairs(
            docs, n=3, threshold=0.8, hash_grams=False
        ).collect()
    )
    assert rows == [(1, 2, 1.0), (2, 1, 1.0)]


def test_containment_df_cap_prunes_stop_grams(spark):
    # the shared gram appears in all 60 docs; a DF cap of 50 removes it
    # from candidate generation entirely -> no pairs at all
    docs = spark.createDataFrame(
        [(i, "the same stop gram") for i in range(60)],
        "doc_id long, text string",
    )
    out = DD.ngram_containment_pairs(
        docs, n=3, threshold=0.5, hash_grams=False, max_gram_doc_freq=50
    )
    assert out.count() == 0


def test_allpairs_prefix_matches_bruteforce(spark):
    docs = docs_df(spark)
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["sz_a"], r["sz_b"], r["jaccard"])
        for r in DD.allpairs_prefix_jaccard(
            docs, n=3, threshold_num=3, threshold_den=10, hash_grams=False
        ).collect()
    }
    # brute force reference: every pair above the rational threshold
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.3, hash_grams=False
        ).collect()
    }
    assert set(got) == set(brute)  # prefix filter is LOSSLESS
    for pair, (inter, sz_a, sz_b, jac) in got.items():
        assert jac == brute[pair]
        assert 10 * inter >= 3 * (sz_a + sz_b - inter)
    # d1/d2 identical -> jaccard 1.0 present
    assert got[("d1", "d2")][3] == 1.0


def test_allpairs_prefix_no_pairs_below_threshold(spark):
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma delta"), ("b", "one two three four")],
        "doc_id string, text string",
    )
    out = DD.allpairs_prefix_jaccard(
        docs, n=3, threshold_num=1, threshold_den=2, hash_grams=False
    )
    assert out.count() == 0


def test_allpairs_prefix_validates_threshold(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        DD.allpairs_prefix_jaccard(docs_df(spark), threshold_num=0)
