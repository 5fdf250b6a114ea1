"""Arrow-vectorized token kernels — the per-task native hot path.

Why this module exists (optimization guide §4.2): Spark's higher-order
array functions (``transform`` / ``aggregate`` / ``zip_with`` lambdas)
execute INTERPRETED — ``HigherOrderFunction`` expressions are
CodegenFallback, so every token of every row pays a boxed per-element
lambda evaluation.  For the token-derivation arithmetic this engine
runs on every sequence (generate / validate / checksum / gram-hash),
that interpretation cost dominates the whole query at bench scale
(~610 M tokens at sf0.1).  The same arithmetic expressed as whole-batch
NumPy over Arrow buffers runs 1-2 orders of magnitude faster per
element, and — following guide §8 — lets the heavy token payload stay
inside the map task: only the ~40-byte decision scalars (checksum,
stats, hit counts) leave the kernel.

Everything here is exact int64 arithmetic, bit-identical to the
Catalyst expressions it replaces (and therefore to the DuckDB oracles):

- segment sums stay in int64 (``np.add.reduceat``), never float;
- one token generator, ``_gen_tokens``, replays ``datagen.gen_token_at``
  (``(c*K1 + i*K2) mod VOCAB``) term for term for a scalar spine batch
  (``_c``, ``n_tok`` from ``datagen.spine_scalars``), and refuses canon
  ids whose int64 sum could wrap;
- the rolling gram hash replays ``dedup.token_gram_hashes``'s
  ``sum_k t_{i+k} * base^(n-1-k) mod P31`` with the same coefficient
  set (pre-reduced mod P31, products < 2^47: int64-safe).

Token kernels read their input: a batch carrying a ``tokens`` column
is decoded as real arrays, any other batch is generated from ``_c`` and
``n_tok`` (``_batch_tokens``).

Kernel functions are module-level (importable on executors — pandas /
Arrow workers deserialize them by module reference; ``session.get_spark``
pins PYTHONPATH and ``__spark_entry__`` ships the package zip).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from ..schemas import K1, K2, MAX_TOK, VOCAB_SIZE

P31 = 2_147_483_647  # 2^31 - 1 (gram-hash modulus)
M31 = 2**31          # checksum modulus

# ---------------------------------------------------------------------------
# exact segmented reductions (int64 in, int64 out — no float detour)
# ---------------------------------------------------------------------------


def _segment_reduce(ufunc, flat: np.ndarray, starts: np.ndarray,
                    lengths: np.ndarray, empty: int) -> np.ndarray:
    """Per-segment ``ufunc.reduceat`` over segments that tile ``flat``
    in order.  Only NON-EMPTY segments' starts feed ``reduceat`` (an
    index equal to the next one would return ``flat[idx]``, and an index
    == len(flat) raises); empty segments yield ``empty``."""
    out = np.full(len(starts), empty, dtype=np.int64)
    nz = lengths > 0
    if nz.any():
        out[nz] = ufunc.reduceat(flat, starts[nz])
    return out


def _flat_positions(lengths: np.ndarray):
    """(row_id, pos_in_row, starts) index arrays for a flattened ragged
    batch — the standard ragged-to-flat bridge all kernels share."""
    total = int(lengths.sum())
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    rid = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)
    return rid, pos, starts


def _list_column(batch: pa.RecordBatch, name: str):
    """Compacted flat view of a list<int> column: (flat int64 values,
    rid, pos, starts, lengths, null_mask) with ``starts`` indexing into
    ``flat`` (NOT the raw Arrow buffer — sliced arrays and null rows are
    compacted away so every kernel can index uniformly)."""
    arr = batch.column(name)
    if isinstance(arr, pa.ChunkedArray):  # defensive; batches are flat
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    raw = arr.values.to_numpy(zero_copy_only=False).astype(np.int64)
    abs_starts = offsets[:-1]
    lengths = offsets[1:] - abs_starts
    nulls = np.asarray(arr.is_null()) if arr.null_count else None
    if nulls is not None:
        lengths = np.where(nulls, 0, lengths)
    rid, pos, starts = _flat_positions(lengths)
    if (
        nulls is None
        and len(abs_starts)
        and abs_starts[0] == 0
        and offsets[-1] == raw.size
    ):
        flat = raw  # common case: un-sliced, no nulls -> zero-copy
    else:
        flat = raw[np.repeat(abs_starts, lengths) + pos]
    return flat, rid, pos, starts, lengths, nulls


# ---------------------------------------------------------------------------
# the fixture token generator (sequences_view fused)
# ---------------------------------------------------------------------------

# largest canon id whose tokens stay exact in int64:
# c*K1 + (MAX_TOK-1)*K2 < 2^63  <=>  c <= 3,474,699,811
GEN_C_MAX = (2**63 - 1 - (MAX_TOK - 1) * K2) // K1


def _gen_tokens(batch: pa.RecordBatch):
    """The fixture token stream of a scalar spine batch (``_c``,
    ``n_tok``), in ``_list_column``'s layout (no NULL rows).  The int64
    sum wraps past ``GEN_C_MAX`` and NumPy floor-mods a negative ``c``
    where Catalyst and DuckDB raise or keep the sign, so both are
    refused rather than generated wrong."""
    c = batch.column("_c").to_numpy(zero_copy_only=False).astype(np.int64)
    n = batch.column("n_tok").to_numpy(zero_copy_only=False).astype(np.int64)
    if c.size and (c.min() < 0 or c.max() > GEN_C_MAX or n.max() > MAX_TOK):
        raise ValueError(
            f"token generator needs 0 <= _c <= {GEN_C_MAX} and n_tok <= {MAX_TOK}"
            f" (c*K1 + (n_tok-1)*K2 < 2^63); got _c in [{c.min()}, {c.max()}],"
            f" n_tok <= {n.max()}"
        )
    rid, pos, starts = _flat_positions(n)
    flat = (c[rid] * K1 + pos * K2) % VOCAB_SIZE
    return flat, rid, pos, starts, n, None


def _batch_tokens(batch: pa.RecordBatch):
    """Uniform flat-token access for the token kernels: decode the
    ``tokens`` list column when the batch carries one, else GENERATE the
    stream from (_c, n_tok) — for spine-derived corpora the generation is
    pure arithmetic, so fusing it into the kernel avoids both the
    interpreted Catalyst generator and shipping ~4 KB/row of arrays
    across the Arrow boundary (only two int64 scalars cross per row)."""
    if "tokens" in batch.schema.names:
        return _list_column(batch, "tokens")
    return _gen_tokens(batch)


def _features_from_flat(flat, pos, starts, n, want):
    """Compute the requested per-row token features from a flat token
    stream.  All exact int64; empty rows follow the engine conventions
    (cksum/token_sum -> 0, min/max/first -> NULL)."""
    out: dict[str, pa.Array] = {}
    empty = n == 0
    if "cksum" in want:
        s = _segment_reduce(np.add, (pos + 1) * flat, starts, n, 0)
        s %= M31
        out["cksum"] = pa.array(s, type=pa.int64())
    if "tok_sum" in want:
        s = _segment_reduce(np.add, flat, starts, n, 0)
        out["tok_sum"] = pa.array(s, type=pa.int64())
    if "tok_min" in want:
        mn = _segment_reduce(np.minimum, flat, starts, n, 0)
        out["tok_min"] = pa.array(mn.astype(np.int32), type=pa.int32(),
                                  mask=empty)
    if "tok_max" in want:
        mx = _segment_reduce(np.maximum, flat, starts, n, 0)
        out["tok_max"] = pa.array(mx.astype(np.int32), type=pa.int32(),
                                  mask=empty)
    if "first_tok" in want:
        if flat.size:
            ft = flat[np.minimum(starts, flat.size - 1)]
        else:
            ft = np.zeros(len(n), dtype=np.int64)
        out["first_tok"] = pa.array(ft.astype(np.int32), type=pa.int32(),
                                    mask=empty)
    return out


FEATURES = ("cksum", "tok_sum", "tok_min", "tok_max", "first_tok")


def gen_feature_kernel(want: tuple[str, ...]):
    """mapInArrow kernel: input batches carry scalar spine columns plus
    ``_c`` (the canon id) and ``n_tok``; output appends the requested
    token features and drops ``_c``.  The token arrays are generated,
    reduced and DISCARDED inside the task — they never enter the plan,
    so nothing fat can reach an exchange (guide §8: decide with small
    rows)."""
    want = tuple(want)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, _rid, pos, starts, n, _nulls = _gen_tokens(batch)
            feats = _features_from_flat(flat, pos, starts, n, want)
            keep = [i for i, name in enumerate(batch.schema.names) if name != "_c"]
            arrays = [batch.column(i) for i in keep]
            names = [batch.schema.names[i] for i in keep]
            for name in want:
                arrays.append(feats[name])
                names.append(name)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


def sequence_features_view(spark, sf_dir: str,
                           features: tuple[str, ...] = ("cksum",),
                           prefilter=None):
    """The fused fast form of ``datagen.sequences_view`` for consumers
    that need per-row token REDUCTIONS, not the arrays: scalar columns
    (doc_id, n_tok, source, ts) come from the same Catalyst projection
    sequences_view uses (cheap, prunable, pushdown-friendly), token
    features from one Arrow/NumPy pass.  Output column order:
    doc_id, n_tok, source, ts, *features.

    Validity note: rows of this view satisfy ``is_valid_sequence`` by
    construction (len(tokens) == n_tok because exactly n_tok tokens are
    generated; every value is reduced mod VOCAB_SIZE, hence in
    [0, vocab)), so a validity gate over this view is the identity —
    callers replacing ``where(is_valid_sequence(...))`` drop nothing.

    ``prefilter``: optional Column over the scalar columns, applied
    BEFORE the kernel (guide §4.1 — filter before the opaque op so
    pruned rows never pay for token generation).
    """
    from .. import datagen

    bad = set(features) - set(FEATURES)
    if bad:
        raise ValueError(f"unknown features: {sorted(bad)}")
    scalars = datagen.spine_scalars(spark, sf_dir, prefilter)
    types = {
        "cksum": "bigint",
        "tok_sum": "bigint",
        "tok_min": "int",
        "tok_max": "int",
        "first_tok": "int",
    }
    schema = "doc_id string, n_tok int, source string, ts timestamp, " + ", ".join(
        f"{f} {types[f]}" for f in features
    )
    return scalars.mapInArrow(gen_feature_kernel(features), schema)


# ---------------------------------------------------------------------------
# validate + checksum over REAL token arrays (the streaming decode stage)
# ---------------------------------------------------------------------------


def valid_events_kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The pipeline decode stage as ONE vectorized pass: validate
    (len(tokens) == n_tok and all tokens in [0, vocab)) and checksum
    (sum((i+1)*t_i) mod 2^31), emitting only valid rows WITHOUT the
    token array — (doc_id, n_tok, source, ts, cksum).  Exact twin of
    ``where(is_valid_sequence(tokens, n_tok)).select(...,
    token_checksum(tokens))`` (tokens.py), row for row and bit for bit;
    the fat column dies in the scan task instead of feeding an
    interpreted per-element lambda chain."""
    for batch in it:
        flat, rid, pos, starts, lengths, nulls = _list_column(batch, "tokens")
        n_tok = batch.column("n_tok").to_numpy(zero_copy_only=False).astype(np.int64)
        mn = _segment_reduce(np.minimum, flat, starts, lengths, 0)
        mx = _segment_reduce(np.maximum, flat, starts, lengths, 0)
        valid = (lengths == n_tok) & (
            (lengths == 0) | ((mn >= 0) & (mx < VOCAB_SIZE))
        )
        if nulls is not None:  # NULL array row: is_valid is NULL -> filtered
            valid &= ~nulls
        cks = _segment_reduce(np.add, (pos + 1) * flat, starts, lengths, 0)
        cks %= M31
        keep = np.flatnonzero(valid)
        take = pa.array(keep, type=pa.int64())
        cols = [
            batch.column("doc_id").take(take),
            batch.column("n_tok").take(take),
            batch.column("source").take(take),
            batch.column("ts").take(take),
            pa.array(cks[keep], type=pa.int64()),
        ]
        yield pa.RecordBatch.from_arrays(
            cols, names=["doc_id", "n_tok", "source", "ts", "cksum"]
        )


VALID_EVENTS_SCHEMA = "doc_id string, n_tok int, source string, ts timestamp, cksum bigint"


# ---------------------------------------------------------------------------
# rolling n-gram hashes + Bloom / membership gates (decontamination)
# ---------------------------------------------------------------------------


def _window_hashes(flat: np.ndarray, win_idx: np.ndarray, n: int,
                   base: int, mod: int) -> np.ndarray:
    """Polynomial hash sum_k flat[i+k] * base^(n-1-k) mod ``mod`` of the
    ``n`` values starting at each flat index ``i`` in ``win_idx``."""
    acc = np.zeros(len(win_idx), dtype=np.int64)
    for k in range(n):
        acc = (acc + flat[win_idx + k] * pow(base, n - 1 - k, mod)) % mod
    return acc


def _flat_gram_hashes(flat: np.ndarray, rid: np.ndarray, pos: np.ndarray,
                      starts: np.ndarray, lengths: np.ndarray,
                      n: int, base: int, mod: int, empty_gram: bool = False):
    """Flat gram hashes: for every row, the polynomial hash of each
    length-``n`` window (rows shorter than n hash the whole array as one
    gram; empty rows contribute nothing, or the empty fold 0 with
    ``empty_gram``) — the NumPy twin of ``dedup.token_gram_hashes``
    pre-``array_distinct``.  Returns (g, g_rid): hash values and their
    row ids."""
    win_idx = np.flatnonzero(pos <= (lengths[rid] - n))  # full-window starts
    acc = _window_hashes(flat, win_idx, n, base, mod)
    g_rid = rid[win_idx]
    short = np.flatnonzero(((lengths > 0) | empty_gram) & (lengths < n))
    if short.size:
        sh = np.zeros(short.size, dtype=np.int64)
        slen = lengths[short]
        sstart = starts[short]
        for k in range(int(slen.max())):
            live = k < slen
            sh[live] = (sh[live] * base + flat[sstart[live] + k]) % mod
        acc = np.concatenate([acc, sh])
        g_rid = np.concatenate([g_rid, short])
    return acc, g_rid


def _distinct_per_row(g: np.ndarray, rid: np.ndarray):
    """Distinct (rid, g) pairs, vectorized: sort by composite key then
    drop adjacent duplicates.  Hash values are < 2^31 so the composite
    ``rid * 2^31 + g`` is collision-free in int64 (rid < 10^4 batch)."""
    if g.size == 0:
        return g, rid
    key = rid * np.int64(2**31) + g
    order = np.argsort(key, kind="stable")
    ks = key[order]
    first = np.ones(ks.size, dtype=bool)
    first[1:] = ks[1:] != ks[:-1]
    sel = order[first]
    return g[sel], rid[sel]


def bloom_hits_kernel(words: list[int], m_bits: int, k: int,
                      n: int = 8, base: int = 313, mod: int = P31):
    """mapInArrow kernel: (doc_id, tokens) -> (doc_id, n_hits) where
    ``n_hits`` counts the row's DISTINCT gram hashes whose ``k``
    Kirsch-Mitzenmacher Bloom probes all hit — the NumPy twin of
    ``size(filter(token_gram_hashes(...), probe_all))``
    (dedup.bloom_hit_count), identical probe arithmetic.  The words
    array is baked into the closure (filter metadata, ~m_bits/8 bytes)."""
    w = np.asarray(words, dtype=np.int64)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, rid, pos, starts, lengths, _nulls = _batch_tokens(batch)
            g, grid = _flat_gram_hashes(flat, rid, pos, starts, lengths, n, base, mod)
            g, grid = _distinct_per_row(g, grid)
            h1 = (g * K1) % P31
            h2 = (g * 40503 + 7919) % P31
            hit = np.ones(g.size, dtype=bool)
            for i in range(k):
                idx = (h1 + i * h2) % m_bits
                hit &= ((w[idx // 32] >> (idx % 32)) & 1) == 1
            n_hits = np.bincount(grid[hit], minlength=batch.num_rows).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(n_hits, type=pa.int32())],
                names=["doc_id", "n_hits"],
            )

    return fn


def shared_gram_count_kernel(eval_grams: np.ndarray, n: int = 8,
                             base: int = 313, mod: int = P31):
    """mapInArrow kernel: (doc_id, tokens) -> (doc_id, n_shared) where
    ``n_shared`` counts the row's distinct gram hashes present in the
    SORTED ``eval_grams`` set — the map-side membership form of
    ``token_decontaminate``'s broadcast semi-join (guide §3.2 pushed
    all the way: the corpus side never explodes, only the per-row count
    leaves the task).  ``eval_grams`` must be sorted ascending."""
    ev = np.asarray(eval_grams, dtype=np.int64)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, rid, pos, starts, lengths, _nulls = _batch_tokens(batch)
            g, grid = _flat_gram_hashes(flat, rid, pos, starts, lengths, n, base, mod)
            g, grid = _distinct_per_row(g, grid)
            if ev.size and g.size:
                loc = np.searchsorted(ev, g)
                loc[loc >= ev.size] = ev.size - 1
                hit = ev[loc] == g
            else:
                hit = np.zeros(g.size, dtype=bool)
            n_shared = np.bincount(grid[hit], minlength=batch.num_rows)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(n_shared, type=pa.int64())],
                names=["doc_id", "n_shared"],
            )

    return fn


def distinct_grams_kernel(n: int = 8, base: int = 313, mod: int = P31):
    """mapInArrow kernel: (tokens) -> (g) — the batch-local-distinct gram
    hashes, exploded.  Used to build the eval-side gram set (small by
    construction: benchmarks, not the corpus); compose with
    ``.distinct()`` for the global set."""

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, rid, pos, starts, lengths, _nulls = _batch_tokens(batch)
            g, _grid = _flat_gram_hashes(flat, rid, pos, starts, lengths, n, base, mod)
            g = np.unique(g)
            yield pa.RecordBatch.from_arrays([pa.array(g, type=pa.int64())],
                                             names=["g"])

    return fn


# ---------------------------------------------------------------------------
# packed n-gram explosion (the LM count-table map stage)
# ---------------------------------------------------------------------------
#
# Gram keys pack into ONE int64 (16 bits per token, VOCAB_SIZE < 2^16):
# pack(t_0..t_{n-1}) = sum t_k << 16*(n-1-k).  Bijective with the CSV
# rendering the contract outputs use, so the aggregated (tiny) result
# unpacks to identical strings — but the corpus-sized exchange carries
# an 8-byte long instead of a ~12-byte string with string hashing
# (guide §2.3: narrower types, shuffle keys not payloads).

assert VOCAB_SIZE < (1 << 16)


def check_packed_width(n_tokens: int) -> None:
    """Packed keys hold ``n_tokens`` 16-bit tokens in a SIGNED int64:
    VOCAB_SIZE > 2^15, so a 4-token key can set the sign bit (and the
    CSV unpacking would read it back wrong).  Raise instead."""
    if not 16 * n_tokens < 64:
        raise ValueError(
            f"a packed key holds at most 3 tokens of 16 bits, got {n_tokens}"
        )


def _packed_windows(batch: pa.RecordBatch, n: int, key_col: str, m: int):
    """Shared map stage of the packed kernels over a real ``tokens``
    column: (key per window, packed first-``m``-token key, flat index of
    each window's start).  Docs shorter than ``n`` (and empty / NULL
    rows) have no windows."""
    flat, rid, pos, starts, lengths, _nulls = _list_column(batch, "tokens")
    if flat.size and (flat.min() < 0 or flat.max() >= (1 << 16)):
        raise ValueError("token ids must lie in [0, 2^16) to pack")
    win_idx = np.flatnonzero(pos <= (lengths[rid] - n))
    key = batch.column(key_col).take(pa.array(rid[win_idx], type=pa.int64()))
    packed = np.zeros(len(win_idx), dtype=np.int64)
    for k in range(m):
        packed = (packed << 16) | flat[win_idx + k]
    return key, packed, flat, win_idx


def packed_gram_kernel(n: int, key_col: str):
    """mapInArrow kernel: (``key_col``, tokens) -> (``key_col``, g) one
    row per n-gram occurrence, ``g`` the 16-bit-packed gram key and
    ``key_col`` passed through (doc id, canon number, ...).  Generator
    input has its codegen builder, ``datagen.exploded_packed_grams``."""
    check_packed_width(n)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            key, g, _flat, _win = _packed_windows(batch, n, key_col, n)
            yield pa.RecordBatch.from_arrays(
                [key, pa.array(g, type=pa.int64())], names=[key_col, "g"]
            )

    return fn


def packed_prefix_kernel(n: int, key_col: str):
    """mapInArrow kernel: (``key_col``, tokens) -> (``key_col``, p,
    next_tok) one row per n-gram occurrence: ``p`` the packed
    (n-1)-token prefix, ``next_tok`` the following token — the
    conditional-LM pair stage (lm_score / continuations / nucleus).
    Generator input: ``datagen.exploded_packed_prefix``."""
    check_packed_width(n - 1)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            key, p, flat, win_idx = _packed_windows(batch, n, key_col, n - 1)
            nx = flat[win_idx + n - 1].astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [key, pa.array(p, type=pa.int64()), pa.array(nx, type=pa.int32())],
                names=[key_col, "p", "next_tok"],
            )

    return fn


def packed_to_csv(col, n: int):
    """Catalyst expression: packed gram long -> the CSV string the
    contract outputs use.  Applied AFTER aggregation/limits, so it runs
    on result-sized frames only."""
    from pyspark.sql import functions as F

    check_packed_width(n)
    col = F.col(col) if isinstance(col, str) else col
    parts = [
        (F.shiftright(col, 16 * (n - 1 - k)) % (1 << 16)).cast("int").cast("string")
        for k in range(n)
    ]
    return F.concat_ws(",", *parts)


def distinct_tokens_kernel():
    """mapInArrow kernel: batch -> batch-local DISTINCT token values
    (column ``t``).  Compose with ``.distinct()`` for the corpus vocab —
    bounded by VOCAB_SIZE rows per batch, replacing the corpus-sized
    one-token explode the generic vocab count pays."""

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, rid, pos, starts, lengths, _nulls = _batch_tokens(batch)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.unique(flat), type=pa.int32())], names=["t"]
            )

    return fn


def token_counts_kernel():
    """mapInArrow kernel: batch -> batch-local (t, cnt) token histogram
    (np.unique(return_counts) — vocab-bounded rows per batch).  Compose
    with groupBy(t).sum(cnt) for the exact corpus histogram: the
    partial-combine that the one-token explode paid a corpus-sized
    exchange row for now happens inside the kernel."""

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, rid, pos, starts, lengths, _nulls = _batch_tokens(batch)
            t, cnt = np.unique(flat, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array(t.astype(np.int32), type=pa.int32()),
                 pa.array(cnt.astype(np.int64), type=pa.int64())],
                names=["t", "cnt"],
            )

    return fn


def gen_cksum_mod_kernel(mod: int):
    """mapInArrow kernel: (doc_id, n_tok, _c) -> (doc_id, n_tok, cksum)
    with cksum = sum((i+1) * token_i) mod ``mod`` (0 for empty rows) —
    the weighted-sum checksum shape under a caller-chosen modulus (the
    span-trim family uses 2^31 - 1)."""

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, _rid, pos, starts, n, _nulls = _gen_tokens(batch)
            s = _segment_reduce(np.add, (pos + 1) * flat, starts, n, 0)
            s %= mod
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), batch.column("n_tok"),
                 pa.array(s, type=pa.int64())],
                names=["doc_id", "n_tok", "cksum"],
            )

    return fn


def adjacent_pair_counts_kernel():
    """mapInArrow kernel: (tokens) -> batch-local (l, r, cnt) adjacent-
    pair counts (BPE counting stage; overlapping occurrences count, the
    classical convention).  Rows shorter than 2 contribute nothing.
    Token ids may exceed the base vocab (BPE mint ids), so the pack is
    l*2^32 + r — exact for any int32 ids."""

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, rid, pos, starts, lengths, _nulls = _list_column(batch, "tokens")
            if flat.size < 2:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([], type=pa.int32()), pa.array([], type=pa.int32()),
                     pa.array([], type=pa.int64())],
                    names=["l", "r", "cnt"],
                )
                continue
            mask = rid[:-1] == rid[1:]  # pair stays within one row
            key = flat[:-1][mask] * np.int64(2**32) + flat[1:][mask]
            uk, cnt = np.unique(key, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array((uk >> 32).astype(np.int32), type=pa.int32()),
                 pa.array((uk & 0xFFFFFFFF).astype(np.int32), type=pa.int32()),
                 pa.array(cnt.astype(np.int64), type=pa.int64())],
                names=["l", "r", "cnt"],
            )

    return fn


_CDC_KNUTH = 2654435761
_CDC_MOD = 2**31


def _cdc_avalanche(x: np.ndarray, stage_salt: int) -> np.ndarray:
    """NumPy twin of cdchunk._avalanche: XOR stage salt -> Knuth
    multiply -> two xorshift-multiply rounds, all mod 2^31 — identical
    int64 arithmetic (inputs nonnegative < 2^31)."""
    h = ((x ^ stage_salt) % _CDC_MOD) * _CDC_KNUTH % _CDC_MOD
    for sh in (13, 17):
        h = (h ^ (h >> sh)) * _CDC_KNUTH % _CDC_MOD
    return h


def cdc_chunk_kernel(w: int = 8, boundary_bits: int = 5,
                     base: int = 313, mod: int = P31,
                     stage_salt: int = 13 * 0x9E3779B9):
    """mapInArrow kernel: spine scalars (or tokens) -> one row per
    content-defined chunk (doc_id, chunk_idx, start, chunk_len,
    chunk_hash) — the NumPy twin of cdchunk.chunk_table, term for term:
    rolling base-313 window hash, stage-13 avalanche, sparse-residue
    cuts (+ forced end-of-doc cut), offset-weighted avalanched chunk
    fingerprints.  The interpreted form walks ~12 HOF lambda passes per
    row; this is one vectorized pass, and the output is chunk-sized
    (~n/2^boundary_bits rows), so the Arrow boundary carries little."""
    mask = (1 << boundary_bits) - 1

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            flat, rid, pos, starts, lengths, _nulls = _batch_tokens(batch)
            doc_id = batch.column("doc_id")
            n_rows = batch.num_rows
            # window hashes (start index i covers i..i+w-1), avalanched
            win_idx = np.flatnonzero(pos <= (lengths[rid] - w))
            hsh = _cdc_avalanche(_window_hashes(flat, win_idx, w, base, mod), stage_salt)
            # cut end-positions (1-based within row): p = pos_in_row + w
            is_cut = (hsh & mask) == 0
            cut_flat = win_idx[is_cut]
            cut_rid = rid[cut_flat]
            cut_p = pos[cut_flat] + w           # 1-based end position
            # append the end-of-doc cut for every non-empty row whose
            # last cut (if any) is not already n
            nz = np.flatnonzero(lengths > 0)
            last_cut = np.zeros(n_rows, dtype=np.int64)
            np.maximum.at(last_cut, cut_rid, cut_p)  # cuts are increasing per row
            need_end = nz[last_cut[nz] != lengths[nz]]
            all_rid = np.concatenate([cut_rid, need_end])
            all_end = np.concatenate([cut_p, lengths[need_end]])
            order = np.lexsort((all_end, all_rid))
            crid = all_rid[order]
            cend = all_end[order]
            # chunk starts: 0 for the first chunk of a row, else prev end
            first = np.ones(crid.size, dtype=bool)
            first[1:] = crid[1:] != crid[:-1]
            cstart = np.empty_like(cend)
            cstart[first] = 0
            cstart[~first] = cend[:-1][~first[1:]] if crid.size else cend[:0]
            # chunk_idx: running index within row
            idx = np.arange(crid.size, dtype=np.int64)
            row_first_idx = np.maximum.accumulate(np.where(first, idx, 0))
            chunk_idx = idx - row_first_idx + 1
            # offset-weighted fingerprint via prefix-sum difference:
            # sum_{j in [s,e)} flat[j]*(j+1-s)  (j 0-based within row)
            #   = [reduceat of flat*(pos+1)] - s * [reduceat of flat]
            gstart = starts[crid] + cstart      # global flat index of chunk start
            glen = cend - cstart
            w1 = flat * (pos + 1)
            s1 = _segment_reduce(np.add, w1, gstart, glen, 0)
            s0 = _segment_reduce(np.add, flat, gstart, glen, 0)
            fp = (s1 - cstart * s0) % mod
            fp = _cdc_avalanche(fp, stage_salt)
            yield pa.RecordBatch.from_arrays(
                [doc_id.take(pa.array(crid, type=pa.int64())),
                 pa.array(chunk_idx.astype(np.int32), type=pa.int32()),
                 pa.array((cstart + 1).astype(np.int32), type=pa.int32()),
                 pa.array(glen.astype(np.int32), type=pa.int32()),
                 pa.array(fp, type=pa.int64())],
                names=["doc_id", "chunk_idx", "start", "chunk_len", "chunk_hash"],
            )

    return fn


def _string_codes(arr: pa.Array):
    """(codes int64 flat, starts, lengths, null_mask) of a string column
    — char CODEPOINTS, matching Spark ascii()/DuckDB ascii() per
    character.  NULL rows get length 0 and are flagged in ``null_mask``
    (None when the column has none), so callers can tell them from
    ``""``.  ASCII fast path reads the UTF-8 buffer directly (byte ==
    codepoint, sliced arrays honored); any non-ASCII byte falls back to
    per-row ord() decoding so the kernel stays correct on arbitrary
    text."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    nulls = np.asarray(arr.is_null()) if arr.null_count else None
    if n == 0:  # a zero-row batch may arrive without an offsets buffer
        empty = np.zeros(0, np.int64)
        return empty, empty, empty, nulls
    off_buf, data_buf = arr.buffers()[1:3]
    lo = arr.offset
    offsets = np.frombuffer(off_buf, dtype=np.int32)[lo:lo + n + 1].astype(np.int64)
    lengths = offsets[1:] - offsets[:-1]
    if nulls is not None:
        lengths = np.where(nulls, 0, lengths)  # a NULL slot may span bytes
    rid, pos, starts = _flat_positions(lengths)
    data = (np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None
            else np.zeros(0, np.uint8))
    flat = data[np.repeat(offsets[:-1], lengths) + pos]
    if (flat < 0x80).all():
        return flat.astype(np.int64), starts, lengths, nulls
    # non-ASCII fallback: decode row by row (codepoint semantics)
    texts = arr.to_pylist()
    lengths = np.array([0 if t is None else len(t) for t in texts], dtype=np.int64)
    flat = np.fromiter(
        (ord(ch) for t in texts if t for ch in t), dtype=np.int64,
        count=int(lengths.sum()),
    )
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    return flat, starts, lengths, nulls


def minhash_sig_kernel(num_hashes: int = 64, k: int = 5,
                       base: int = 313, mod: int = P31,
                       prime: int = 4294967311):
    """mapInArrow kernel: (id, text) -> (id, sig array<long>) — the
    MinHash signature (dedup.minhash_signature, its JVM reference form)
    in one vectorized pass: char-code k-shingle polynomial hashes, then
    per-slot minima of the large-multiplier universal hash family.  The
    interpreted form pays |shingles| x num_hashes lambda steps per doc;
    here each of the num_hashes permutations is one whole-batch
    multiply-add + segmented min.  min over the shingle MULTISET equals
    min over the distinct set, so no distinct pass is needed.  Values
    are bit-identical (same coefficients, same modulus, int64-exact:
    x < 2^31 times max multiplier ~2.66e9 stays < 2^63).  NULL text
    yields a NULL sig, as the JVM form does; ``""`` is one empty
    shingle like any text shorter than ``k``."""
    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column("id")
            flat, starts, lengths, nulls = _string_codes(batch.column("text"))
            n_rows = batch.num_rows
            rid, pos, _ = _flat_positions(lengths)
            # shingle hashes: k-window poly for rows len>=k, whole-string
            # Horner for len<k (the _shingles convention: text of length
            # 0 is one whole-string gram too, the empty fold 0)
            g, g_rid = _flat_gram_hashes(flat, rid, pos, starts, lengths,
                                         k, base, mod, empty_gram=True)
            # signatures: per permutation, min per row over its shingles
            order = np.argsort(g_rid, kind="stable")
            g_s = g[order]
            rid_s = g_rid[order]
            row_counts = np.bincount(rid_s, minlength=n_rows).astype(np.int64)
            row_starts = np.zeros(n_rows, dtype=np.int64)
            np.cumsum(row_counts[:-1], out=row_starts[1:])
            sig = np.full((n_rows, num_hashes), prime, dtype=np.int64)
            for j in range(num_hashes):
                v = (g_s * (2654435761 + 40503 * j) + 7919 * j + 7) % prime
                sig[:, j] = _segment_reduce(np.minimum, v, row_starts,
                                            row_counts, prime)
            sig_list = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_rows + 1) * num_hashes, num_hashes,
                                   dtype=np.int32)),
                pa.array(sig.reshape(-1), type=pa.int64()),
                mask=None if nulls is None else pa.array(nulls),
            )
            yield pa.RecordBatch.from_arrays([ids, sig_list], names=["id", "sig"])

    return fn


def cksum_from_tokens_kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (doc_id, n_tok, tokens) -> (doc_id, n_tok,
    cksum) — token_checksum over REAL arrays (no validity gate), the
    reduction tail of the codec round-trip.  NULL token rows yield NULL
    cksum (token_checksum's behavior on NULL input)."""
    for batch in it:
        flat, rid, pos, starts, lengths, nulls = _list_column(batch, "tokens")
        cks = _segment_reduce(np.add, (pos + 1) * flat, starts, lengths, 0)
        cks %= M31
        mask = nulls if nulls is not None else None
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), batch.column("n_tok"),
             pa.array(cks, type=pa.int64(), mask=mask)],
            names=["doc_id", "n_tok", "cksum"],
        )
