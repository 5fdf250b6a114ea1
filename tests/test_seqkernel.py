"""Kernel-vs-Catalyst parity pins for functions/seqkernel.py (round 6).

Every Arrow/NumPy kernel must be BIT-IDENTICAL to the interpreted
Catalyst form it replaced — these tests compare both paths on real
Spark frames (sf0.001), including the edge rows (empty arrays, short
docs, invalid tokens, duplicate aliases)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from bitquery_kafka_streams_rust_spark import datagen
from bitquery_kafka_streams_rust_spark.functions import seqkernel as SKN
from bitquery_kafka_streams_rust_spark.functions import tokens as TK
from bitquery_kafka_streams_rust_spark.operators import dedup as DD
from bitquery_kafka_streams_rust_spark.operators import ngrams as NG
from bitquery_kafka_streams_rust_spark.schemas import K1, K2, VOCAB_SIZE


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_sequence_features_match_hof_forms(spark, sf_dir):
    """cksum / tok_sum / tok_min / tok_max / first_tok from the fused
    generator kernel == the interpreted HOF expressions over
    sequences_view, row for row (incl. empty rows -> 0/NULL)."""
    fast = SKN.sequence_features_view(spark, sf_dir, SKN.FEATURES)
    seq = datagen.sequences_view(spark, sf_dir)
    slow = seq.select(
        "doc_id",
        "n_tok",
        "source",
        "ts",
        TK.token_checksum("tokens").alias("cksum"),
        TK.token_sum("tokens").alias("tok_sum"),
        F.array_min("tokens").alias("tok_min"),
        F.array_max("tokens").alias("tok_max"),
        F.try_element_at("tokens", F.lit(1)).alias("first_tok"),
    )
    cols = ["doc_id", "n_tok", "source", "ts", *SKN.FEATURES]
    assert _rows(fast, cols) == _rows(slow, cols)


def test_valid_events_kernel_matches_filter_select(spark):
    """The streaming decode kernel == where(is_valid).select(cksum) on a
    frame with every invalid shape: len mismatch, out-of-range token,
    empty-but-declared-nonzero, valid empty."""
    rows = [
        ("a", [1, 2, 3], 3, "s", "2024-01-01 00:00:00"),
        ("b", [1, 2], 3, "s", "2024-01-01 00:00:01"),        # len mismatch
        ("c", [1, -1, 3], 3, "s", "2024-01-01 00:00:02"),     # negative token
        ("d", [1, 99999, 3], 3, "s", "2024-01-01 00:00:03"),  # >= vocab
        ("e", [], 0, "s", "2024-01-01 00:00:04"),             # valid empty
        ("f", [], 2, "s", "2024-01-01 00:00:05"),             # empty mismatch
        ("g", [50256, 0, 50255, 7], 4, "s", "2024-01-01 00:00:06"),
    ]
    df = (
        spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string, ts string"
        )
        .withColumn("ts", F.to_timestamp("ts"))
    )
    fast = df.select("doc_id", "n_tok", "source", "ts", "tokens").mapInArrow(
        SKN.valid_events_kernel, SKN.VALID_EVENTS_SCHEMA
    )
    slow = df.where(TK.is_valid_sequence("tokens", "n_tok")).select(
        "doc_id", "n_tok", "source", "ts", TK.token_checksum("tokens").alias("cksum")
    )
    cols = ["doc_id", "n_tok", "source", "ts", "cksum"]
    assert _rows(fast, cols) == _rows(slow, cols)
    assert {r[0] for r in _rows(fast, ["doc_id"])} == {"a", "e", "g"}


def test_ngram_stats_real_arrays_match_python_counts(spark, sf_dir):
    """ngram_stats fed by the real-array kernel over sequences_view ==
    a pure-Python count over the collected token arrays (full output,
    no top-k cut, so every gram is compared; duplicate-aliased rows
    count in n_occur but once in n_doc)."""
    seq = datagen.sequences_view(spark, sf_dir)
    grams = seq.select("doc_id", "tokens").mapInArrow(
        SKN.packed_gram_kernel(3, "doc_id"), "doc_id string, g long"
    )
    fast = NG.ngram_stats(grams, 3, min_count=2, top_k=None)
    occ, docs = {}, {}
    for r in seq.select("doc_id", "tokens").collect():
        t = r["tokens"]
        for i in range(len(t) - 2):
            gram = ",".join(map(str, t[i:i + 3]))
            occ[gram] = occ.get(gram, 0) + 1
            docs.setdefault(gram, set()).add(r["doc_id"])
    want = sorted((g, k, len(docs[g])) for g, k in occ.items() if k >= 2)
    assert len(want) > 0
    assert _rows(fast, ["gram", "n_occur", "n_doc"]) == want


def test_gram_hash_kernels_match_token_gram_hashes(spark, sf_dir):
    """Distinct gram-hash sets from the generator-fused kernel == the
    Catalyst token_gram_hashes over sequences_view (short docs hash the
    whole array; empty docs emit nothing)."""
    seq = datagen.sequences_view(spark, sf_dir)
    slow = (
        seq.select(F.explode(DD.token_gram_hashes("tokens", 8)).alias("g"))
        .distinct()
    )
    fast = (
        datagen.spine_scalars(spark, sf_dir).select("doc_id", "_c", "n_tok")
        .mapInArrow(SKN.distinct_grams_kernel(n=8), "g long")
        .distinct()
    )
    assert _rows(fast, ["g"]) == _rows(slow, ["g"])


def test_bloom_hits_kernel_matches_expression(spark, sf_dir):
    """Bloom probe counts from the kernel == dedup.bloom_hit_count over
    the same words literal (false positives and all)."""
    seq = datagen.sequences_view(spark, sf_dir)
    num = F.substring("doc_id", 4, 18).cast("long")
    ev = seq.where(num % 97 == 0)
    ev_grams = ev.select(F.explode(DD.token_gram_hashes("tokens", 8)).alias("g"))
    words = DD.bloom_words(ev_grams, m_bits=1 << 16, k=4)
    slow = seq.select(
        "doc_id",
        DD.bloom_hit_count(DD.token_gram_hashes("tokens", 8), words, 1 << 16, 4).alias("n_hits"),
    )
    fast = datagen.spine_scalars(spark, sf_dir).select("doc_id", "_c", "n_tok").mapInArrow(
        SKN.bloom_hits_kernel(words, 1 << 16, 4, n=8),
        "doc_id string, n_hits int",
    )
    assert _rows(fast, ["doc_id", "n_hits"]) == _rows(slow, ["doc_id", "n_hits"])


def test_token_counts_kernel_matches_explode(spark, sf_dir):
    seq = datagen.sequences_view(spark, sf_dir)
    slow = seq.select(F.explode("tokens").alias("t")).groupBy("t").count()
    fast = (
        datagen.spine_scalars(spark, sf_dir).select("_c", "n_tok")
        .mapInArrow(SKN.token_counts_kernel(), "t int, cnt long")
        .groupBy("t")
        .agg(F.sum("cnt").alias("count"))
    )
    assert _rows(fast, ["t", "count"]) == _rows(slow, ["t", "count"])


def test_shard_part_len_equals_size(spark, sf_dir):
    sh = datagen.shards_view(spark, sf_dir)
    bad = sh.where(F.col("part_len") != F.size("tokens_part")).count()
    assert bad == 0


def test_cdc_chunk_kernel_matches_chunk_table(spark, sf_dir):
    """Kernel CDC chunk table == Catalyst cdchunk.chunk_table, row for
    row (boundaries, forced end cuts, fingerprints, avalanche)."""
    from bitquery_kafka_streams_rust_spark.operators import cdchunk as CC

    slow = CC.chunk_table(datagen.sequences_view(spark, sf_dir), w=8, boundary_bits=5)
    fast = datagen.spine_scalars(spark, sf_dir).select("doc_id", "_c", "n_tok").mapInArrow(
        SKN.cdc_chunk_kernel(w=8, boundary_bits=5),
        "doc_id string, chunk_idx int, start int, chunk_len int, chunk_hash long",
    )
    cols = ["doc_id", "chunk_idx", "start", "chunk_len", "chunk_hash"]
    assert _rows(fast, cols) == _rows(slow, cols)


def test_exploded_builders_match_kernels(spark, sf_dir):
    """Codegen exploded builders over the generator spine == the
    real-array forms over sequences_view, keyed by doc_id == 'doc'||c:
    packed grams and prefixes against the packed kernels, gram positions
    against spans.gram_positions, token positions against posexplode."""
    from bitquery_kafka_streams_rust_spark.operators import spans as SP

    spine = datagen.spine_scalars(spark, sf_dir)
    seq = datagen.sequences_view(spark, sf_dir).select("doc_id", "tokens")
    doc_id = F.concat(F.lit("doc"), F.col("c").cast("string")).alias("doc_id")
    fast_g = datagen.exploded_packed_grams(spine, 3).select(doc_id, "g")
    slow_g = seq.mapInArrow(
        SKN.packed_gram_kernel(3, "doc_id"), "doc_id string, g long"
    )
    assert _rows(fast_g, ["doc_id", "g"]) == _rows(slow_g, ["doc_id", "g"])
    fast_p = datagen.exploded_packed_prefix(spine, 3).select(doc_id, "p", "next_tok")
    slow_p = seq.mapInArrow(
        SKN.packed_prefix_kernel(3, "doc_id"), "doc_id string, p long, next_tok int"
    )
    cols = ["doc_id", "p", "next_tok"]
    assert _rows(fast_p, cols) == _rows(slow_p, cols)
    fast_pos = datagen.exploded_gram_positions(spine, 8).select(doc_id, "pos", "g")
    slow_pos = SP.gram_positions(seq, n=8).select(F.col("id").alias("doc_id"), "pos", "g")
    cols = ["doc_id", "pos", "g"]
    assert _rows(fast_pos, cols) == _rows(slow_pos, cols)
    fast_t = datagen.exploded_token_positions(spine).select(doc_id, "pos", "token")
    slow_t = seq.select("doc_id", F.posexplode("tokens").alias("pos0", "token")).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "token"
    )
    cols = ["doc_id", "pos", "token"]
    assert _rows(fast_t, cols) == _rows(slow_t, cols)


def test_adjacent_pair_counts_kernel(spark, sf_dir):
    seq = datagen.sequences_view(spark, sf_dir)
    t = seq["tokens"]
    slow = (
        seq.where(F.size(t) >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(t, F.lit(1), F.size(t) - 1),
                    F.slice(t, F.lit(2), F.size(t) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.count("*").alias("cnt"))
    )
    fast = (
        seq.select("tokens")
        .mapInArrow(SKN.adjacent_pair_counts_kernel(), "l int, r int, cnt long")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert _rows(fast, ["l", "r", "cnt"]) == _rows(slow, ["l", "r", "cnt"])


def test_ensure_parallel_adaptive(spark):
    from bitquery_kafka_streams_rust_spark.datagen import table_meta

    rows, parts = table_meta(spark, "/root/testdata/sf0.001", "documents")
    assert rows > 0 and parts >= 1


def test_minhash_sig_kernel_matches_interpreted(spark, sf_dir):
    """Portable MinHash signatures from the Arrow kernel == the
    interpreted aggregate form, per slot (incl. short/empty texts)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    slow = docs.select(
        F.col("doc_id").alias("id"),
        DD.minhash_signature(F.col("text"), 64).alias("sig"),
    )
    sig, _banded = DD._banded_sigs(docs, "doc_id", "text", 64, 16, False)
    a = sorted((r["id"], tuple(r["sig"])) for r in slow.collect())
    b = sorted((r["id"], tuple(r["sig"])) for r in sig.collect())
    assert a == b


def _py_minhash(text, num_hashes, k=5, base=313, mod=2**31 - 1, prime=4294967311):
    """Per-row reference: distinct char k-shingle Horner hashes (one
    whole-string shingle below k chars), min of each permutation."""
    if text is None:
        return None

    def horner(cs):
        h = 0
        for c in cs:
            h = (h * base + ord(c)) % mod
        return h

    sh = {horner(text)} if len(text) < k else {
        horner(text[i:i + k]) for i in range(len(text) - k + 1)
    }
    return [
        min((x * (2654435761 + 40503 * j) + 7919 * j + 7) % prime for x in sh)
        for j in range(num_hashes)
    ]


def test_minhash_sig_kernel_null_rows_and_layouts():
    """NULL text gets a NULL sig (never the empty string's), wherever
    it sits in the batch; "" next to NULL, zero-row, sliced and
    non-ASCII batches all match the per-row reference."""
    import pyarrow as pa

    cases = [
        [None, "the quick brown fox", "", "abc"],           # NULL first
        ["jumps over", None, "", None, "lazy dog again"],   # middle, "" beside
        ["hello world", "", "héllo wörld", None],           # last; non-ASCII
        [None],
        [],
    ]
    batches = []
    for texts in cases:
        ids = pa.array(range(len(texts)), pa.int64())
        batches.append(pa.record_batch(
            [ids, pa.array(texts, pa.string())], names=["id", "text"]))
    batches.append(batches[1].slice(1, 3))   # sliced: [None, "", None]
    batches.append(batches[0].slice(2, 0))   # sliced to zero rows
    for batch in batches:
        (out,) = list(SKN.minhash_sig_kernel(8)(iter([batch])))
        texts = batch.column("text").to_pylist()
        assert out.column("id").to_pylist() == batch.column("id").to_pylist()
        assert out.column("sig").to_pylist() == [_py_minhash(t, 8) for t in texts]


def test_segment_reduce_trailing_empty_segments():
    """Empty segments anywhere — last included — reduce to ``empty``
    and never truncate the non-empty segment before them."""
    import numpy as np

    flat = np.array([1, 2, 3, 4, 5], dtype=np.int64)
    got = SKN._segment_reduce(np.add, flat, np.array([0, 0, 3, 5]),
                              np.array([0, 3, 2, 0]), 0)
    assert got.tolist() == [0, 6, 9, 0]
    got = SKN._segment_reduce(np.maximum, flat[:3], np.array([0, 3]),
                              np.array([3, 0]), -1)
    assert got.tolist() == [3, -1]


def test_cksum_from_tokens_kernel(spark, sf_dir):
    seq = datagen.sequences_view(spark, sf_dir)
    slow = seq.select("doc_id", "n_tok", TK.token_checksum("tokens").alias("cksum"))
    fast = seq.select("doc_id", "n_tok", "tokens").mapInArrow(
        SKN.cksum_from_tokens_kernel, "doc_id string, n_tok int, cksum bigint"
    )
    cols = ["doc_id", "n_tok", "cksum"]
    assert _rows(fast, cols) == _rows(slow, cols)
    # one Arrow batch whose LAST row is empty, then one whose last row
    # is NULL: the non-empty row before it must keep its full checksum
    for tail in ([], None):
        rows = [("x", [5, 1, 7], 3), ("y", [2, 9], 2), ("z", tail, 0)]
        df = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int"
        ).coalesce(1)
        slow = df.select("doc_id", "n_tok", TK.token_checksum("tokens").alias("cksum"))
        fast = df.mapInArrow(
            SKN.cksum_from_tokens_kernel, "doc_id string, n_tok int, cksum bigint"
        )
        assert _rows(fast, cols) == _rows(slow, cols)
        assert ("y", 2, 20) in _rows(fast, cols)


# ---------------------------------------------------------------------------
# kernel input: generated (spine_scalars) vs real tokens (sequences_view)
# ---------------------------------------------------------------------------


def _run(fn, batch):
    return list(fn(iter([batch])))


def _gen_batch(c, n_tok):
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=pa.int64()), pa.array(n_tok, type=pa.int32())],
        names=["_c", "n_tok"],
    )


def test_token_generator_refuses_unsafe_canon_ids():
    """The NumPy generator is exact only for 0 <= c <= GEN_C_MAX: beyond
    it c*K1 + (n_tok-1)*K2 wraps int64, and a negative c floor-mods
    where Catalyst keeps the sign — both raise instead of returning
    different tokens."""
    assert SKN.GEN_C_MAX == 3_474_699_811
    for c in (-1, 3_474_699_812):
        with pytest.raises(ValueError, match="3474699811"):
            _run(SKN.token_counts_kernel(), _gen_batch([c], [3]))
    # the bound itself still generates, exactly
    (out,) = _run(SKN.token_counts_kernel(), _gen_batch([SKN.GEN_C_MAX], [2048]))
    want = Counter((SKN.GEN_C_MAX * K1 + i * K2) % VOCAB_SIZE for i in range(2048))
    got = dict(zip(out.column("t").to_pylist(), out.column("cnt").to_pylist()))
    assert got == dict(want)


def _eval_grams(spark, sf_dir):
    """Sorted gram-hash set of a doc subset, from the real arrays."""
    ev = datagen.sequences_view(spark, sf_dir).where(F.col("n_tok") % 5 == 0)
    g = ev.select("tokens").mapInArrow(SKN.distinct_grams_kernel(n=8), "g long")
    return np.unique(g.toArrow().column("g").to_numpy(zero_copy_only=False))


_BOTH_INPUTS = {
    "bloom_hits": (
        lambda ev: SKN.bloom_hits_kernel(
            _bloom_words(ev, 1 << 16, 4), 1 << 16, 4, n=8),
        "doc_id string, n_hits int", None),
    "shared_gram_count": (
        lambda ev: SKN.shared_gram_count_kernel(ev, n=8),
        "doc_id string, n_shared long", None),
    "distinct_grams": (
        lambda ev: SKN.distinct_grams_kernel(n=8), "g long", "distinct"),
    "distinct_tokens": (
        lambda ev: SKN.distinct_tokens_kernel(), "t int", "distinct"),
    "token_counts": (
        lambda ev: SKN.token_counts_kernel(), "t int, cnt long", "sum"),
    "cdc_chunk": (
        lambda ev: SKN.cdc_chunk_kernel(w=8, boundary_bits=5),
        "doc_id string, chunk_idx int, start int, chunk_len int, chunk_hash long",
        None),
}


@pytest.mark.parametrize("kernel", sorted(_BOTH_INPUTS))
def test_token_kernels_agree_on_both_inputs(spark, sf_dir, kernel):
    """Each token kernel reads whichever input it is given: over the
    scalar spine it generates the tokens, over sequences_view it decodes
    the real arrays — same output either way."""
    make, schema, combine = _BOTH_INPUTS[kernel]
    fn = make(_eval_grams(spark, sf_dir))
    gen = datagen.spine_scalars(spark, sf_dir).select("doc_id", "_c", "n_tok")
    real = datagen.sequences_view(spark, sf_dir).select("doc_id", "tokens")
    outs = []
    for frame in (gen, real):
        out = frame.mapInArrow(fn, schema)
        if combine == "distinct":
            out = out.distinct()
        elif combine == "sum":
            out = out.groupBy("t").agg(F.sum("cnt").alias("cnt"))
        outs.append(_rows(out, out.columns))
    assert outs[0] == outs[1]
    assert len(outs[0]) > 0


# ---------------------------------------------------------------------------
# real-array kernels on arbitrary batch layouts, against per-row Python
# ---------------------------------------------------------------------------


def _py_grams(t, n=8, base=313, mod=SKN.P31):
    """Distinct gram hashes of one row (token_gram_hashes convention:
    rows shorter than n hash whole, empty/NULL rows have none)."""
    if not t:
        return set()
    if len(t) < n:
        h = 0
        for x in t:
            h = (h * base + x) % mod
        return {h}
    co = [pow(base, n - 1 - k, mod) for k in range(n)]
    return {sum(t[i + k] * co[k] for k in range(n)) % mod for i in range(len(t) - n + 1)}


def _bloom_probes(g, m_bits, k):
    h1 = (g * K1) % SKN.P31
    h2 = (g * 40503 + 7919) % SKN.P31
    return [(h1 + i * h2) % m_bits for i in range(k)]


def _bloom_words(grams, m_bits, k):
    words = [0] * (m_bits // 32)
    for g in grams:
        for idx in _bloom_probes(int(g), m_bits, k):
            words[idx // 32] |= 1 << (idx % 32)
    return words


def _layout_batches():
    """Ragged real-token batches: a NULL row (also one whose slot spans
    values), an empty row, a row shorter than 8, long rows, an array
    sliced out of a larger one, and zero-row batches."""
    rng = np.random.default_rng(7)

    def toks(n):
        return rng.integers(0, VOCAB_SIZE, n).tolist()

    def batch(ids, tokens):
        return pa.RecordBatch.from_arrays(
            [pa.array(ids, type=pa.string()), tokens], names=["doc_id", "tokens"]
        )

    lists = [None, [], toks(3), toks(20), toks(8), toks(12)]
    plain = batch([f"d{i}" for i in range(len(lists))],
                  pa.array(lists, type=pa.list_(pa.int32())))
    big = pa.array([toks(9), None, toks(5), [], toks(30), toks(2)],
                   type=pa.list_(pa.int32()))
    sliced = batch(["s1", "s2", "s3", "s4"], big.slice(1, 4))
    # NULL slot whose offsets still cover 4 values, first and last rows
    vals = pa.array(toks(4 + 10 + 4 + 6), type=pa.int32())
    spanning = batch(["n1", "n2", "n3", "n4"], pa.ListArray.from_arrays(
        pa.array([0, 4, 14, 18, 24], type=pa.int32()), vals,
        mask=pa.array([True, False, True, False])))
    empty = batch([], pa.array([], type=pa.list_(pa.int32())))
    return [plain, sliced, spanning, empty, plain.slice(2, 0)]


@pytest.mark.parametrize("kernel", ["distinct_tokens", "token_counts",
                                    "distinct_grams", "bloom_hits"])
def test_real_array_kernels_any_layout(kernel):
    m_bits, k = 1 << 12, 3
    batches = _layout_batches()
    all_grams = set()
    for b in batches:
        for t in b.column("tokens").to_pylist():
            all_grams |= _py_grams(t)
    # a filter holding half the grams: hits, misses and false positives
    words = _bloom_words(sorted(all_grams)[::2], m_bits, k)
    fn = {
        "distinct_tokens": SKN.distinct_tokens_kernel(),
        "token_counts": SKN.token_counts_kernel(),
        "distinct_grams": SKN.distinct_grams_kernel(n=8),
        "bloom_hits": SKN.bloom_hits_kernel(words, m_bits, k, n=8),
    }[kernel]
    for b in batches:
        rows = b.column("tokens").to_pylist()
        (out,) = _run(fn, b)
        got = out.to_pydict()
        if kernel == "distinct_tokens":
            assert got["t"] == sorted({x for t in rows if t for x in t})
        elif kernel == "token_counts":
            want = Counter(x for t in rows if t for x in t)
            assert dict(zip(got["t"], got["cnt"])) == dict(want)
            assert len(got["t"]) == len(want)
        elif kernel == "distinct_grams":
            assert got["g"] == sorted(set().union(*map(_py_grams, rows)))
        else:
            bits = lambda idx: (words[idx // 32] >> (idx % 32)) & 1  # noqa: E731
            want = [
                sum(all(bits(i) for i in _bloom_probes(g, m_bits, k)) for g in _py_grams(t))
                for t in rows
            ]
            assert got["doc_id"] == b.column("doc_id").to_pylist()
            assert got["n_hits"] == want


# ---------------------------------------------------------------------------
# the replicated spine behind write_spine_batches
# ---------------------------------------------------------------------------


def test_spine_from_range_replicas(spark, sf_dir):
    """Replica 0 of the range spine is sequences_view row for row (ids
    0..499 at sf0.001), and replica 1's event time starts after replica
    0's ends — the arrival order the per-replica day offset promises."""
    spine = datagen._spine_from_range(spark, 500, 2, None)
    rep = (F.substring("doc_id", 4, 18).cast("long") / 10_000_000).cast("int")
    cols = ["doc_id", "tokens", "n_tok", "source", "ts"]
    r0 = spine.where(rep == 0)
    assert _rows(r0, cols) == _rows(datagen.sequences_view(spark, sf_dir), cols)
    span = spine.groupBy(rep.alias("r")).agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    by = {r["r"]: r for r in span.collect()}
    assert set(by) == {0, 1}
    assert by[1]["lo"] > by[0]["hi"]
