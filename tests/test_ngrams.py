"""Unit tests for operators/ngrams.py — LM n-gram count tables, fed
from real ``tokens`` arrays through the packed-key kernels."""

import pytest
from pyspark.sql import functions as F

from bitquery_kafka_streams_rust_spark.functions import seqkernel as SKN
from bitquery_kafka_streams_rust_spark.operators import ngrams as NG


def _docs(spark, rows):
    return spark.createDataFrame(
        [(d, t, None if t is None else len(t)) for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int",
    )


def _grams(seq, n):
    return seq.select("doc_id", "tokens").mapInArrow(
        SKN.packed_gram_kernel(n, "doc_id"), "doc_id string, g long"
    )


def _pairs(seq, n):
    return seq.select("doc_id", "tokens").mapInArrow(
        SKN.packed_prefix_kernel(n, "doc_id"),
        "doc_id string, p long, next_tok int",
    )


def _vocab(seq):
    return (
        seq.select("tokens")
        .mapInArrow(SKN.distinct_tokens_kernel(), "t int")
        .distinct()
        .count()
    )


def _collocations(seq, **kw):
    uni = (
        seq.select("tokens")
        .mapInArrow(SKN.token_counts_kernel(), "t int, cnt long")
        .groupBy("t")
        .agg(F.sum("cnt").alias("c_tok"))
        .select(F.col("t").alias("tok"), "c_tok")
    )
    t = seq.agg(
        F.sum(F.greatest(F.col("n_tok") - 1, F.lit(0))).alias("t"),
        F.sum("n_tok").alias("u"),
    ).collect()[0]
    return NG.collocation_pmi(_grams(seq, 2), uni, float(t["t"]), float(t["u"]), **kw)


def _pack(*toks):
    g = 0
    for t in toks:
        g = (g << 16) | t
    return g


def test_packed_kernels_values_and_short_docs(spark):
    df = _docs(
        spark,
        [
            ("a", [1, 2, 3, 4]),   # grams: 1,2,3 / 2,3,4
            ("b", [7, 8]),          # shorter than n: nothing
            ("c", []),              # empty: nothing
            ("d", None),            # NULL: nothing
        ],
    )
    got = {(r["doc_id"], r["g"]) for r in _grams(df, 3).collect()}
    assert got == {("a", _pack(1, 2, 3)), ("a", _pack(2, 3, 4))}
    got = {(r["doc_id"], r["p"], r["next_tok"]) for r in _pairs(df, 3).collect()}
    assert got == {("a", _pack(1, 2), 3), ("a", _pack(2, 3), 4)}
    stats = NG.ngram_stats(_grams(df, 3), 3, min_count=1, top_k=None)
    assert sorted(r["gram"] for r in stats.collect()) == ["1,2,3", "2,3,4"]


def test_ngram_stats_counts_and_df(spark):
    df = _docs(
        spark,
        [
            ("a", [1, 2, 3, 1, 2, 3]),  # 1,2,3 x2 (once overlapping restart)
            ("b", [1, 2, 3]),           # 1,2,3 x1 in a second doc
            ("b", [1, 2, 3]),           # bit-identical duplicate row, same id
        ],
    )
    rows = {
        r["gram"]: (r["n_occur"], r["n_doc"])
        for r in NG.ngram_stats(_grams(df, 3), 3, min_count=1, top_k=None).collect()
    }
    # occurrences count every row; document frequency counts ids once
    assert rows["1,2,3"] == (4, 2)
    assert rows["2,3,1"] == (1, 1)
    assert rows["3,1,2"] == (1, 1)


def test_ngram_stats_min_count_and_topk_determinism(spark):
    df = _docs(spark, [("a", [5, 5, 5, 5, 5]), ("b", [9, 9, 9])])
    out = NG.ngram_stats(_grams(df, 3), 3, min_count=2, top_k=1).collect()
    assert [(r["gram"], r["n_occur"]) for r in out] == [("5,5,5", 3)]
    plan = NG.ngram_stats(_grams(df, 3), 3, top_k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # bounded, never a global sort


def test_ngram_continuations_distribution(spark):
    # prefix (1,2) continues to 3 three times and 4 once
    df = _docs(
        spark,
        [
            ("a", [1, 2, 3, 0, 1, 2, 3, 0, 1, 2, 3]),
            ("b", [1, 2, 4]),
        ],
    )
    out = NG.ngram_continuations(_pairs(df, 3), 3, k=2, min_prefix_count=1).collect()
    by_prefix = {}
    for r in out:
        by_prefix.setdefault(r["prefix"], []).append(r)
    top = sorted(by_prefix["1,2"], key=lambda r: r["rank"])
    assert [(r["next_tok"], r["n_occur"], r["rank"]) for r in top] == [
        (3, 3, 1),
        (4, 1, 2),
    ]
    assert top[0]["prefix_total"] == 4
    assert abs(top[0]["prob"] - 0.75) < 1e-9
    assert abs(top[1]["prob"] - 0.25) < 1e-9


def test_ngram_continuations_limit_rows_deterministic(spark):
    df = _docs(spark, [("a", list(range(20))), ("b", list(range(20)))])
    pairs = _pairs(df, 3)
    full = NG.ngram_continuations(pairs, 3, k=1, min_prefix_count=1).count()
    cut = NG.ngram_continuations(pairs, 3, k=1, min_prefix_count=1, limit_rows=5)
    rows = cut.collect()
    assert full > 5 and len(rows) == 5
    # hottest-first ordering: every kept row's total >= any dropped row's,
    # and ties cut on the prefix string ascending
    assert all(r["prefix_total"] == 2 for r in rows)
    assert [r["prefix"] for r in rows] == sorted(
        f"{i},{i + 1}" for i in range(18)
    )[:5]


def test_lm_score_matches_hand_model(spark):
    """Add-α trigram LM cross-entropy against a pure-Python model:
    P(w|pre) = (c(pre,w)+α)/(c(pre)+α·V); docs shorter than n emit no
    row; a repeated in-doc gram weighs by its multiplicity."""
    import math

    df = _docs(
        spark,
        [
            ("a", [1, 2, 3, 2, 3, 2, 3]),  # grams 123,232,323,232,323
            ("b", [1, 2, 4]),              # gram 124
            ("c", [9]),                    # too short: absent
        ],
    )
    V, al = _vocab(df), 0.5
    assert V == 5  # 9 is in the corpus vocabulary though it scores no gram
    out = {
        r["doc_id"]: r
        for r in NG.lm_score(_pairs(df, 3), alpha=al, vocab_size=V).collect()
    }
    assert set(out) == {"a", "b"}
    c = {("1,2", 3): 1, ("1,2", 4): 1, ("2,3", 2): 2, ("3,2", 3): 2}
    cp = {"1,2": 2, "2,3": 2, "3,2": 2}

    def lp(pre, w):
        return math.log((c[(pre, w)] + al) / (cp[pre] + al * V))

    xa = -(lp("1,2", 3) + 2 * lp("2,3", 2) + 2 * lp("3,2", 3)) / 5
    xb = -lp("1,2", 4)
    assert out["a"]["n_grams"] == 5 and out["b"]["n_grams"] == 1
    assert abs(out["a"]["xent"] - round(xa, 4)) < 1e-9
    assert abs(out["b"]["xent"] - round(xb, 4)) < 1e-9
    assert abs(out["a"]["ppl"] - round(math.exp(round(xa, 4)), 3)) < 1e-9


def test_lm_score_vocab_override_and_no_array_shuffle(spark):
    df = _docs(spark, [("a", [1, 2, 3, 4]), ("b", [2, 3, 4, 5])])
    out = NG.lm_score(_pairs(df, 3), alpha=0.5, vocab_size=100)
    rows = out.collect()
    assert len(rows) == 2 and out.columns == ["doc_id", "n_grams", "xent", "ppl"]
    # repo invariant: the tokens array never crosses a shuffle — no
    # exchange row schema mentions the array column
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "tokens" not in line


def test_lm_score_reliable_identical(spark):
    """reliable=True (lineage-keeping DISK_ONLY materialization of the
    corpus-sized docgram table) is value-identical to the default
    localCheckpoint path (VERDICT r4 item 5)."""
    df = _docs(
        spark,
        [("a", [1, 2, 3, 2, 3, 2, 3]), ("b", [1, 2, 4]), ("d", [1, 2, 3, 4])],
    )
    V = _vocab(df)
    base = sorted(map(tuple, NG.lm_score(_pairs(df, 3), vocab_size=V).collect()))
    rel = sorted(
        map(tuple, NG.lm_score(_pairs(df, 3), vocab_size=V, reliable=True).collect())
    )
    assert base == rel and len(base) == 3


def test_collocation_pmi_hand_model(spark):
    import math

    # corpus: [1,2,1,2] and [1,2,3] ->
    # bigrams: (1,2)x2+(2,1)x1 in doc a; (1,2),(2,3) in doc b
    # c(1,2)=3, c(2,1)=1, c(2,3)=1; T=5 bigram positions
    # unigrams: 1x3, 2x3, 3x1; U=7
    seq = _docs(spark, [("a", [1, 2, 1, 2]), ("b", [1, 2, 3])])
    rows = _collocations(seq, min_count=2, top_k=10).collect()
    assert len(rows) == 1  # only (1,2) clears min_count=2
    r = rows[0]
    assert (r["tok_a"], r["tok_b"], r["c_pair"], r["c_a"], r["c_b"]) == (1, 2, 3, 3, 3)
    expect = round(math.log((3 / 5.0) / ((3 / 7.0) * (3 / 7.0))), 6)
    assert r["pmi"] == expect


def test_collocation_pmi_topk_tiebreak(spark):
    # two pairs with identical counts -> identical pmi -> (tok_a, tok_b)
    # ascending tie-break decides the cut
    seq = _docs(spark, [("a", [5, 6]), ("b", [5, 6]), ("c", [7, 8]), ("d", [7, 8])])
    r = _collocations(seq, min_count=2, top_k=1).collect()[0]
    assert (r["tok_a"], r["tok_b"]) == (5, 6)


def test_nucleus_sets_hand_distribution(spark):
    # one prefix "1,2" with continuations: 5x3, 3x4, 1x5, 1x6 (total 10)
    df = _docs(
        spark,
        [(f"d{i}", [1, 2, nxt]) for i, nxt in enumerate([3] * 5 + [4] * 3 + [5, 6])],
    )
    pairs = _pairs(df, 3)
    rows = NG.nucleus_sets(pairs, 3, p_num=8, p_den=10, min_prefix_count=8).collect()
    got = sorted((r["next_tok"], r["rank"], r["cum_n"], r["nucleus_size"])
                 for r in rows)
    # p=0.8: keep 3 (excl 0) and 4 (excl 5); 5 has excl 8 and
    # 8*10 < 8*10 is false -> dropped
    assert got == [(3, 1, 5, 2), (4, 2, 8, 2)]
    assert {r["prefix"] for r in rows} == {"1,2"}
    # p just above 0.8 admits the crossing third token
    rows2 = NG.nucleus_sets(pairs, 3, p_num=81, p_den=100, min_prefix_count=8).collect()
    assert sorted(r["next_tok"] for r in rows2) == [3, 4, 5]


def test_nucleus_p_one_keeps_everything(spark):
    df = _docs(spark, [(f"d{i}", [1, 2, i % 4]) for i in range(12)])
    rows = NG.nucleus_sets(
        _pairs(df, 3), 3, p_num=1, p_den=1, min_prefix_count=8
    ).collect()
    assert sorted(r["next_tok"] for r in rows) == [0, 1, 2, 3]
    assert all(r["nucleus_size"] == 4 for r in rows)


def test_packed_key_width_bound(spark):
    """VOCAB_SIZE > 2^15, so a packed 4-gram can reach the int64 sign
    bit: every packed builder refuses it up front; prefixes of a
    4-gram (3 tokens) still pack.  Tokens outside [0, 2^16) would bleed
    into a neighbour's bits and are refused at run time."""
    from bitquery_kafka_streams_rust_spark import datagen

    with pytest.raises(ValueError):
        SKN.packed_gram_kernel(4, "doc_id")
    with pytest.raises(ValueError):
        SKN.packed_prefix_kernel(5, "doc_id")
    with pytest.raises(ValueError):
        SKN.packed_to_csv("g", 4)
    with pytest.raises(ValueError):
        datagen.exploded_packed_grams(None, 4)
    with pytest.raises(ValueError):
        datagen.exploded_packed_prefix(None, 5)
    SKN.packed_prefix_kernel(4, "doc_id")
    df = _docs(spark, [("a", [1, 70000, 3])])
    with pytest.raises(Exception, match="2\\^16"):
        _grams(df, 3).collect()
