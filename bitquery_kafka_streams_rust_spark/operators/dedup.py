"""Deduplication operators — exact, windowed, and near-duplicate.

Exact/windowed dedup re-expresses the reference's signature caches:
- X1 unbounded ``HashSet`` dedup (``src/consumer.rs:39,235-248``) →
  deterministic first-wins distinct (Spark's state store is
  spill-backed, so the reference's lossy clear-at-capacity is unneeded).
- X2 time-windowed LRU (``src/core/utils/deduplicator.rs:50-75``) →
  batch analog: first row per (key, time-window); streaming analog:
  ``withWatermark + dropDuplicatesWithinWatermark`` (streaming/pipeline.py).

Near-dup family (training-data pipeline ops, no reference analog):
exact text hash, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
All are shuffle-aware: candidate generation goes through band/bucket
equi-joins (shuffle on short keys), never a cross join.  MinHash and
SimHash share one hash family: polynomial char-code shingle hashes and
universal-hash permutations in plain integer arithmetic, so the DuckDB
oracles replay them exactly.  MinHash signatures come from one Arrow
kernel projection (:func:`minhash_sigs`) for batch pairs, the CDC delta
and the streaming gate alike.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Exact / windowed dedup
# ---------------------------------------------------------------------------


def dedup_first_wins(df: DataFrame, key: str, order_by: list[str]) -> DataFrame:
    """Keep the first row per key under an explicit deterministic order
    (the reference relies on arrival order; we pin it — SURVEY §7
    hard-part 1).  Implemented as min_by-style row_number; one shuffle
    on the key."""
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_by])
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def dedup_within_window(
    df: DataFrame, key: str, ts_col: str, window_s: int, order_by: list[str] | None = None
) -> DataFrame:
    """Batch analog of X2: at most one row per key per tumbling
    ``window_s`` window, keeping the earliest (``deduplicator.rs:50-75``
    admits one sighting per time_window)."""
    order_by = order_by or [ts_col]
    bucket = (F.unix_timestamp(F.col(ts_col)) / window_s).cast("long")
    w = Window.partitionBy(F.col(key), bucket).orderBy(*[F.col(c) for c in order_by])
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# Near-duplicate detection over documents
# ---------------------------------------------------------------------------

_H_PRIME = 4294967311  # > 2^32, standard MinHash universal-hash modulus
_P31 = 2147483647  # portable-hash modulus (int64-safe in Spark AND DuckDB)


def _materialize(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Materialize a subplan consumed by several downstream branches.

    Default (``reliable=False``): ``localCheckpoint(eager=True)`` —
    fastest (executor-local blocks, lineage truncated), measured 2-10x
    wins on the near-dup family.  BUT localCheckpoint is non-reliable
    by definition: on preemptible/spot executors a lost executor makes
    the checkpointed blocks unrecoverable and FAILS the job (no lineage
    left to recompute from).

    ``reliable=True``: ``persist(DISK_ONLY)`` + count — blocks still
    live on executor disks, but lineage is KEPT, so a lost executor's
    blocks are recomputed instead of killing the job.  Slightly slower
    (lineage metadata, recompute on loss); use for production runs on
    spot/preemptible capacity."""
    if reliable:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.DISK_ONLY)
        df.count()  # eager: materialize before fan-out
        return df
    return df.localCheckpoint(eager=True)


def _char_codes(text: Column) -> Column:
    """Character code points as array<long> (portable: ascii() agrees
    across Spark and DuckDB for the fixture's ASCII corpus)."""
    chars = F.filter(F.split(text, ""), lambda c: F.length(c) > 0)
    return F.transform(chars, lambda c: F.ascii(c).cast("long"))


def _poly_hash(arr: Column, base: int = 313, mod: int = _P31) -> Column:
    """Horner fold (init 0) — DuckDB twin is
    list_reduce(list_prepend(0, arr), (a,x) -> (a*base + x) % mod)."""
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda a, x: (a * base + x) % F.lit(mod)
    )


def _windowed_poly(longs: Column, k: int, base: int = 313, mod: int = _P31) -> Column:
    """Polynomial hash of every k-window of ``longs`` as array<long> —
    h_i = sum_j longs[i+j] * base^(k-1-j) mod m, vectorized as k
    coefficient-weighted zip_with passes over shifted slices (identical
    values to a per-window Horner fold, ~k× fewer interpreted lambda
    steps; see token_gram_hashes).  Assumes size(longs) >= k."""
    coeffs = [pow(base, k - 1 - j, mod) for j in range(k)]
    win = F.size(longs) - (k - 1)
    acc = F.transform(F.slice(longs, 1, win), lambda x: (x * coeffs[0]) % F.lit(mod))

    def _weighted(c):
        return lambda a, x: (a + x * c) % F.lit(mod)

    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(longs, 1 + j, win), _weighted(coeffs[j]))
    return acc


def _shingles(text: Column, k: int = 5) -> Column:
    """Character k-shingle hashes as array<long> (distinct): a
    polynomial hash over char codes, so the identical shingle set is
    computable in the DuckDB oracle.  Texts shorter than ``k`` (the
    empty string included) are one whole-string shingle; NULL text
    yields NULL."""
    codes = _char_codes(text)
    sh = F.when(F.length(text) < k, F.array(_poly_hash(codes))).otherwise(
        _windowed_poly(codes, k)
    )
    return F.array_distinct(sh)


def minhash_signature(text: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as array<long>[num_hashes] — the interpreted
    JVM REFERENCE form.  Operators never call it: every signature comes
    from :func:`minhash_sigs` (the Arrow kernel), and this form stays
    only as the reference ``test_minhash_sig_kernel_matches_interpreted``
    compares that kernel against, slot for slot.

    h_j(x) = (x * (2654435761 + 40503*j) + 7919*j + 7) mod PRIME,
    computed as ONE aggregate pass over the shingle set with a
    num_hashes-wide min accumulator.  The multipliers are LARGE because
    the inputs are 31-bit polynomial hashes: with small multipliers
    ``x*a_j`` often doesn't wrap the ~2^32 modulus, leaving the
    "permutation" order-preserving — every h_j picks the same small
    shingle and signatures collapse.  2^31 * max(a_j) ~ 5.7e18 stays
    int64-safe in both Spark and DuckDB."""
    sh = _shingles(text)
    js = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    init = F.transform(js, lambda j: F.lit(_H_PRIME).cast("long"))
    perm = lambda x, j: (x * (F.lit(2654435761) + j * 40503) + j * 7919 + 7) % _H_PRIME
    return F.aggregate(
        sh,
        init,
        lambda acc, x: F.zip_with(acc, js, lambda a, j: F.least(a, perm(x, j))),
    )


def minhash_sigs(docs: DataFrame, id_col: str, text_col: str, num_hashes: int) -> DataFrame:
    """(id, sig array<long>) — the ONE signature producer of the MinHash
    family: batch pairs, the CDC delta and the streaming gate all call
    it.  The Arrow kernel (seqkernel.minhash_sig_kernel) does per
    permutation one vectorized multiply-add + segmented min, where the
    interpreted :func:`minhash_signature` pays |shingles| x num_hashes
    lambda steps per doc; values are bit-identical.  NULL text gets a
    NULL sig, whose band hashes are NULL and so never join.  Works on
    streaming frames (a stateless per-batch map)."""
    from ..functions.seqkernel import minhash_sig_kernel

    narrow = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    id_type = narrow.schema["id"].dataType.simpleString()
    return narrow.mapInArrow(
        minhash_sig_kernel(num_hashes), f"id {id_type}, sig array<long>"
    )


def _band_explode(sig_col: Column, num_hashes: int, bands: int) -> Column:
    """posexplode(per-band polynomial hashes of a signature column) —
    alias the result as ("band", "band_hash").  Shared by the batch
    MinHash family and the streaming gate so batch and stream probe the
    SAME index arithmetic."""
    rows_per_band = num_hashes // bands
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: _poly_hash(
                F.slice(sig_col, b * rows_per_band + 1, rows_per_band), base=1000003
            ),
        )
    )


def _banded_sigs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    reliable: bool,
) -> tuple[DataFrame, DataFrame]:
    """(sig, banded) for the MinHash family: one signature pass total —
    the sig subplan feeds several branches (band explode + verify
    joins), so it is materialized executor-local instead of recomputed
    per branch (same pattern as connected_components' per-round
    checkpoint; ~0.5 KB/row stored, the volume one shuffle of it
    would spill anyway).  ``banded`` rows are NARROW (id, band,
    band_hash) — signatures never ride the band-join exchanges."""
    sig = _materialize(minhash_sigs(docs, id_col, text_col, num_hashes), reliable)
    banded = sig.select(
        "id", _band_explode(F.col("sig"), num_hashes, bands).alias("band", "band_hash")
    )
    return sig, banded


def est_jaccard(sig_a: str, sig_b: str, num_hashes: int) -> Column:
    """Signature similarity: the share of equal slots (aliased
    ``est_jaccard``) — the verify step of every MinHash operator."""
    same = F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    return (F.size(same) / F.lit(num_hashes)).alias("est_jaccard")


def _verify_pairs(
    cand: DataFrame, sig: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """Re-join the signatures ONCE per side onto deduplicated bare
    (id_a, id_b) candidates and keep pairs with est_jaccard >=
    threshold."""
    paired = cand.join(
        sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    return paired.select(
        "id_a", "id_b", est_jaccard("sig_a", "sig_b", num_hashes)
    ).where(F.col("est_jaccard") >= threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    reliable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature
    similarity ≥ threshold.

    Plan shape: signature projection → banded id rows (×16, NARROW —
    ids + band hash only) → shuffle on (band, band_hash) equi-join →
    pair dedup on bare (id_a, id_b) → signatures re-joined ONCE per
    side for the verify.  The 64-wide signature arrays never ride the
    band-join or pair-dedup exchanges (the same fat-column rule as the
    token checksum): a dense near-dup family matches in all ``bands``
    bands, so carrying signatures pre-dedup multiplies the shuffled
    bytes ×bands×|sig| — measured 180 s → 17 s on 5k docs producing
    700k candidate pairs.  No cross join anywhere; the band
    join's key cardinality grows with data so it parallelizes across
    the cluster.  Every hash is polynomial integer arithmetic, so the
    whole operator has a DuckDB oracle twin."""
    sig, banded = _banded_sigs(docs, id_col, text_col, num_hashes, bands, reliable)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(cand, sig, num_hashes, threshold)


def incremental_minhash_pairs(
    corpus: DataFrame,
    changed_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    reliable: bool = False,
) -> DataFrame:
    """Incremental near-dup index maintenance (CDC × MinHash): the
    pair DELTA a new corpus snapshot adds — every verified pair with
    AT LEAST ONE side in ``changed_ids`` (the added/changed keys from
    :mod:`.cdc` ``snapshot_diff``).  Unchanged-unchanged pairs are
    exactly the stored pair set from the previous snapshot, so
    ``stored_pairs − pairs_touching_removed_or_changed + this delta``
    reproduces a full recompute — without one.  Output is identical to
    ``minhash_lsh_pairs`` on the new snapshot filtered to pairs
    touching a changed doc (the oracle's formulation).

    Scale shape: the probe side is banded ONLY for changed docs
    (|changed| rows ×bands — churn-sized, not corpus-sized); the index
    side is the full banded corpus, which in production is the STORED
    band index (bucket-partitioned by (band, band_hash) — recomputed
    here because this sandbox has no persistent index table).  The
    band join, pair normalization (least/greatest + dedup) and both
    verify joins move narrow id/hash rows only; signatures never ride
    an exchange, same as the full operator."""
    sig, banded = _banded_sigs(corpus, id_col, text_col, num_hashes, bands, reliable)
    ch = changed_ids.select(F.col(changed_ids.columns[0]).alias("id")).distinct()
    probe = banded.join(ch, "id", "left_semi")
    a, b = probe.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(cand, sig, num_hashes, threshold)


_SIMHASH_BITS = 32  # non-negative in a BIGINT on both engines


def simhash(text: Column) -> Column:
    """32-bit SimHash over character 5-shingles, JVM-side.

    For each bit b: sign(sum over shingles of ±1 by bit b), where bit b
    of shingle hash x is the parity of a per-bit universal hash
    ``((x*(2654435761 + 40503*b) + 7919*b + 3) % (2^31-1)) % 2`` —
    identical arithmetic runs in DuckDB, making the operator
    oracle-checkable.  The multipliers are large for the same reason as
    :func:`minhash_signature`'s: 31-bit x times a small odd a barely
    wraps the modulus, making bit parities correlate across b.  ONE
    aggregate pass with a 32-wide counter accumulator (not one
    aggregate per bit — that expression tree defeats codegen), then the
    counters fold into the fingerprint long."""
    sh = _shingles(text)
    bs = F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))
    init = F.transform(bs, lambda b: F.lit(0).cast("long"))
    bit_of = (
        lambda x, b: (x * (F.lit(2654435761) + b * 40503) + b * 7919 + 3)
        % F.lit(_P31) % 2 == 1
    )
    counters = F.aggregate(
        sh,
        init,
        lambda acc, x: F.zip_with(
            acc,
            bs,
            lambda a, b: a + F.when(bit_of(x, b), 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counters,
            bs,
            lambda v, b: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), b.cast("int"))
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    reliable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Block on 4 × 8-bit chunks of the 32-bit fingerprint (pigeonhole:
    any pair within Hamming 3 shares at least one exact chunk) →
    equi-join per chunk → verify with bit_count(xor); the DuckDB oracle
    runs the identical plan."""
    chunk_bits = _SIMHASH_BITS // 4
    mask = (1 << chunk_bits) - 1
    sig = docs.select(F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh"))
    # the self-join's per-side pushed predicates defeat exchange reuse,
    # so without this the interpreted-HOF fingerprint pass runs once PER
    # SIDE; materialized it is 16 bytes/row and computed once (measured
    # 32 s → ~14 s at sf0.1, identical output)
    sig = _materialize(sig, reliable)
    chunks = sig.select(
        "id",
        "sh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda c: F.call_function(
                    "shiftright", F.col("sh"), c.cast("int") * chunk_bits
                ).bitwiseAND(F.lit(mask)),
            )
        ).alias("chunk_idx", "chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def word_gram_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash_grams: bool = True,
) -> DataFrame:
    """(id, g) inverted index of DISTINCT word n-grams per document —
    the shared candidate-generation primitive for n-gram Jaccard and
    eval-set decontamination.  ``hash_grams=True`` (scale path) emits
    xxhash64 8-byte keys; False keeps raw gram strings (portable to SQL
    oracles).  Docs shorter than n words contribute their whole
    (lowercased) text as the single gram."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    mk = (
        (lambda c: F.xxhash64(c))
        if hash_grams
        else (lambda c: c.cast("string"))
    )
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(words) < n, F.array(mk(F.lower(F.col(text_col))))
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(0), F.size(words) - n),
                        lambda i: mk(F.array_join(F.slice(words, i + 1, n), " ")),
                    )
                )
            )
        ).alias("g"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
    hash_grams: bool = True,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= ``min_shared``
    distinct word n-grams with ANY eval doc, as (id, n_shared).

    The eval gram set is tiny next to the corpus (benchmarks are
    thousands of docs vs 10^12), so it is distinct-ed and BROADCAST;
    the corpus gram index inner-joins it map-side and one groupBy per
    contaminated doc counts overlaps — cost O(corpus grams), never a
    pairwise doc join.  Training sets are decontaminated with
    ``corpus.join(decontaminate(...), on=id, how="left_anti")``."""
    ev = word_gram_index(eval_docs, id_col, text_col, n, hash_grams).select("g").distinct()
    cg = word_gram_index(corpus, id_col, text_col, n, hash_grams)
    return (
        cg.join(F.broadcast(ev), "g")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    hash_grams: bool = True,
    max_gram_doc_freq: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Exact word n-gram Jaccard similarity for candidate pairs.

    Candidates come from shared-ngram inverted index (explode → self
    equi-join on the ngram hash), then |A∩B| is the join match count and
    |A∪B| = |A|+|B|-|A∩B| — set algebra, no per-pair array shipping.
    ``hash_grams=True`` (the scale path) joins on :func:`word_gram_index`'s
    8-byte gram hashes instead of strings; False keeps raw gram strings
    (portable to SQL oracles).

    ``max_gram_doc_freq`` caps a gram's document frequency before the
    self-join: a stop-gram shared by d docs produces d·(d-1)/2 join rows,
    so ONE gram in a million docs is a quadratic hot key at 100 TB.
    Grams above the cap are dropped from the inverted index (standard
    DF-cap pruning; denominators keep the full gram sets, so capped
    Jaccard is a lower bound and pairs below threshold only by a capped
    stop-gram are the accepted approximation)."""
    grams = word_gram_index(docs, id_col, text_col, n, hash_grams)
    # the index subplan feeds FIVE branches (per-doc sizes, the DF-cap
    # aggregate, its semi-join probe, and both self-join sides) and
    # regexp-split gram extraction is the dominant compute — materialize
    # executor-local once (rows are (id, 8-byte gram hash); the string
    # oracle path stores the gram text instead)
    grams = _materialize(grams, reliable)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    joinable = grams
    if max_gram_doc_freq is not None:
        rare = (
            grams.groupBy("g")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_gram_doc_freq)
            .select("g")
        )
        joinable = grams.join(rare, "g", "left_semi")
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    hash_grams: bool = True,
    max_gram_doc_freq: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Directed n-gram CONTAINMENT: |grams(A) & grams(B)| / |grams(A)|
    — the asymmetric companion to :func:`ngram_jaccard_pairs`.
    Jaccard misses the quote/subset case a curation pipeline cares
    about most: a short doc fully embedded in a long one has tiny
    Jaccard (union is dominated by the long doc) but containment 1.0.
    Emits BOTH directions per candidate pair: row (id_a, id_b, c) reads
    "c of id_a's distinct grams also occur in id_b".

    Scale shape is the Jaccard plan verbatim — one shared-gram
    inverted-index self-join generates candidates ONCE with the same
    DF-cap stop-gram pruning, then both directed ratios derive from
    that single intersection count (no second join pass).  The
    ratio is rounded to 6 dp on both engines BEFORE the threshold so
    the boundary cannot flip."""
    grams = word_gram_index(docs, id_col, text_col, n, hash_grams)
    grams = _materialize(grams, reliable)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    joinable = grams
    if max_gram_doc_freq is not None:
        rare = (
            grams.groupBy("g")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_gram_doc_freq)
            .select("g")
        )
        joinable = grams.join(rare, "g", "left_semi")
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    both = inter.join(sa, "id_a").join(sb, "id_b")
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                    F.round(F.col("inter") / F.col("na"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                    F.round(F.col("inter") / F.col("nb"), 6).alias("containment"),
                ),
            )
        ).alias("r")
    ).select(
        F.col("r.src").alias("id_a"),
        F.col("r.dst").alias("id_b"),
        F.col("r.containment").alias("containment"),
    )
    return directed.where(F.col("containment") >= threshold)


def allpairs_prefix_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
    hash_grams: bool = True,
    reliable: bool = False,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard >= num/den via PREFIX FILTERING
    (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity Search";
    Xiao et al., WWW'08 PPJoin) — the scale alternative to the
    DF-cap inverted index of ``ngram_jaccard_pairs``.

    Order every doc's gram set by ascending global document frequency
    (rarest first, gram value as tie-break — any ONE total order shared
    by all docs works).  A doc with ``sz`` grams indexes only its first
    ``sz - ceil(t*sz) + 1`` grams: two docs with Jaccard >= t are
    GUARANTEED to collide on at least one indexed prefix gram, so the
    filter is lossless — the oracle is plain brute-force all-pairs and
    must agree exactly.  Candidates additionally pass the length filter
    (``t*|a| <= |b|`` both ways) before verification.

    Exactness discipline: the threshold is a RATIONAL ``num/den``.
    Prefix lengths use pure integer ``ceil(num*sz/den) =
    (num*sz + den - 1) div den`` and the final predicate is the integer
    cross-multiplication ``den*inter >= num*(sz_a+sz_b-inter)`` — no
    float enters any pruning or acceptance decision, so Spark and the
    SQL oracle cannot diverge at the boundary (the reported ``jaccard``
    column is display-rounded to 6 dp on both engines).

    100 TB plan shape: gram index materialized once (narrow (id, g)
    rows); DF join keyed on the gram; the per-doc rank window is
    per-key parallel (docs are KB-sized); ONLY prefixes self-join —
    for t=0.8 that is ~20% of the index on each side, and the rarest
    grams by construction, so the quadratic blowup stop-grams cause in
    a plain inverted-index join is structurally bounded without the
    lossy DF cap.  Verification re-joins the full index restricted to
    candidate docs: cost O(sum of candidate doc sizes), partial-combined
    counts, never a pairwise array ship.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must be a rational in (0, 1]")
    num, den = threshold_num, threshold_den
    grams = word_gram_index(docs, id_col, text_col, n, hash_grams)
    grams = _materialize(grams, reliable)
    sizes = grams.groupBy("id").agg(F.count("*").alias("sz"))
    dfreq = grams.groupBy("g").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("id").orderBy(F.asc("_df"), F.asc("g"))
    ranked = (
        grams.join(dfreq, "g")
        .select("id", "g", F.row_number().over(w).alias("_rk"))
        .join(sizes, "id")
    )
    # prefix length p = sz - ceil(t*sz) + 1, ceil in exact integers
    ceil_t_sz = F.expr(f"({num}L * sz + {den - 1}L) div {den}L")
    prefix = ranked.where(F.col("_rk") <= F.col("sz") - ceil_t_sz + 1).select(
        "id", "g", "sz"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        # length filter: t*|a| <= |b| and t*|b| <= |a| (integer form)
        .where(
            (F.lit(den) * F.col("b.sz") >= F.lit(num) * F.col("a.sz"))
            & (F.lit(den) * F.col("a.sz") >= F.lit(num) * F.col("b.sz"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verification: |A∩B| from the full index, candidate-restricted
    ga, gb = grams.alias("ga"), grams.alias("gb")
    inter = (
        cand.join(ga, cand["id_a"] == F.col("ga.id"))
        .join(
            gb,
            (F.col("gb.id") == cand["id_b"]) & (F.col("ga.g") == F.col("gb.g")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.lit(den) * F.col("inter") >= F.lit(num) * union_sz)
        .select(
            "id_a",
            "id_b",
            "inter",
            "sz_a",
            "sz_b",
            F.round(F.col("inter") / union_sz, 6).alias("jaccard"),
        )
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed.

    Random-hyperplane signature (deterministic planes) buckets vectors;
    only same-bucket pairs get exact cosine.  At 100 TB the bucket join
    replaces an O(n^2) cross join with a shuffle on the signature."""
    from .similarity import cosine, hyperplane_signature

    sig = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        hyperplane_signature(F.col(vec_col), n_planes).alias("bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings into
    IVF cells, mark every vector that has a same-cell neighbor with
    cosine >= ``threshold`` and a SMALLER id as a duplicate.

    Shape (Abbas et al. 2023, "SemDeDup" — cluster-then-prune):
    - Cells come from the repo's deterministic hash-sampled centroids
      (similarity.sample_centroids — metadata collect, replayable by
      the DuckDB oracle); assignment is pure map-side expression work
      against the inlined centroid literals: the corpus scan never
      shuffles for clustering.
    - The quadratic lives INSIDE a cell only: the self-equi-join on the
      cell id shuffles (cell, id, vec) and compares ~ (n/n_cells)^2
      pairs per cell.  At 100 TB, size n_cells ~ corpus/target_cell
      (the paper uses ~100k cells) — cell occupancy, not corpus size,
      bounds the pair cost.
    - Resolution is GREEDY MIN-ID (one join + one distinct + one
      left-anti derived boolean), not iterative connected components:
      drop d iff some d' < d in the same cell has cos(d, d') >=
      threshold.  Same keep-one-per-duplicate-group guarantee for
      chains entirely within a cell, zero iteration; the CC form
      (embedding_near_dups + connected_components) remains available
      when cross-cell transitivity matters.

    Returns every input row as (vec_id, cell, kept) — kept=false rows
    are the semantic duplicates to discard.
    """
    from .similarity import cell_scores, centroid_literal, cosine, sample_centroids

    cent_arr = centroid_literal(sample_centroids(emb, n_cells, id_col, vec_col))
    assigned = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.try_element_at(cell_scores(F.col(vec_col), cent_arr), F.lit(1))[
            "cent_id"
        ].alias("cell"),
    )
    a = assigned.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "cell")
    b = assigned.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "cell")
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_dup").isNull().alias("kept")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    reliable: bool = False,
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters: (node, component) where
    component = min node id reachable — the step that turns a pair list
    into an actionable dedup decision (keep the canonical min-id doc
    per cluster, drop the rest).

    Min-label propagation WITH pointer jumping: each round every node
    takes (a) the min of its own and its neighbors' labels (one join +
    one groupBy over the small edge set), then (b) its label's label
    (path compression — labels are node ids, so one self-join chases
    the pointer one hop).  Step (b) halves label-tree depth per round,
    so convergence needs O(log diameter) rounds instead of diameter —
    a 2^20-hop chain converges within the default ``max_iter=20``
    (plain propagation silently mislabeled anything deeper than
    max_iter).  Early-stops when a round changes nothing; raises
    RuntimeError instead of returning silently-wrong components if the
    cap is ever hit (each round's convergence check is a count on the
    label frame — metadata-scale next to the corpus)."""
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    # the edge set is consumed EVERY round (neighbor-min join) plus the
    # initial label seed; without this the whole upstream pair plan
    # (e.g. the full Jaccard index/self-join) re-executes per round —
    # measured 10.6 s -> ~3 s on the doc_dedup_clusters contract query
    und = _materialize(und, reliable)
    labels = und.select(F.col("s").alias("n")).distinct().withColumn("comp", F.col("n"))
    converged = False
    for it in range(max_iter):
        neigh_min = (
            und.join(labels.withColumnRenamed("n", "d").withColumnRenamed("comp", "dc"), "d")
            .groupBy("s")
            .agg(F.min("dc").alias("nc"))
            .withColumnRenamed("s", "n")
        )
        prop = (
            labels.join(neigh_min, "n", "left")
            .select("n", F.least(F.col("comp"), F.coalesce(F.col("nc"), F.col("comp"))).alias("comp"))
        )
        # pointer jump: comp(n) <- labels(comp(n)).  comp values are
        # node ids (mins over node ids), so every pointer resolves in
        # the PREVIOUS round's (checkpointed) label table — joining that
        # instead of `prop` keeps prop single-evaluation per round;
        # labels only ever decrease, hence comp2 <= comp when present.
        hop = labels.select(F.col("n").alias("comp"), F.col("comp").alias("comp2"))
        new_labels = prop.join(hop, "comp", "left").select(
            "n", F.coalesce(F.col("comp2"), F.col("comp")).alias("comp")
        )
        new_labels = _materialize(new_labels, reliable)  # cut lineage per round
        changed = (
            new_labels.alias("a")
            .join(labels.alias("b"), "n")
            .where(F.col("a.comp") != F.col("b.comp"))
            .count()
        )
        # the old round's DISK_ONLY blocks are dead once the changed
        # count (their last reader) finishes — release them, or a
        # long reliable=True job pins one label table per round in the
        # block manager for the life of the session (ADVICE r5).  The
        # localCheckpoint path keeps its truncated-lineage blocks: an
        # unpersisted localCheckpoint cannot recompute.
        if reliable and it > 0:
            labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (components deeper than 2^max_iter hops)"
        )
    return labels.select(F.col("n").alias("id"), F.col("comp").alias("component"))


def token_gram_hashes(
    tokens: Column | str, n: int = 8, base: int = 313, mod: int = _P31
) -> Column:
    """Distinct polynomial hashes of the token n-grams of one row, as
    array<long> — computed MAP-SIDE so the token array itself never
    has to cross a shuffle (only 8-byte gram hashes do; the repo-wide
    fat-column rule).  Rows shorter than ``n`` hash the whole array as
    one gram (the `_shingles` convention); empty rows yield no grams.
    Portable: the DuckDB twin is
    ``list_reduce(list_prepend(0, gram), (a,x) -> (a*base+x) % mod)``."""
    tokens = F.col(tokens) if isinstance(tokens, str) else tokens
    longs = F.transform(tokens, lambda t: t.cast("long"))
    n_tok = F.size(tokens)
    # Horner's h = sum_k t_{i+k} * base^(n-1-k) mod m, vectorized as n
    # coefficient-weighted zip_with passes over SHIFTED slices instead
    # of one interpreted aggregate per gram: HOF lambdas run
    # interpreted, so the per-gram reduce is O(grams*n) lambda calls
    # (measured ~30 s/500 docs at sf0.01) while this shape is O(n)
    # whole-array passes (~8x fewer interpreted steps, identical
    # values).  Coefficient products stay < 2^47: int64-safe.
    coeffs = [pow(base, n - 1 - k, mod) for k in range(n)]
    win = n_tok - (n - 1)  # number of grams
    acc = F.transform(
        F.slice(longs, 1, win), lambda x: (x * coeffs[0]) % F.lit(mod)
    )
    def _weighted_add(c):
        # closure, NOT a default arg: zip_with counts lambda parameters
        return lambda a, x: (a + x * c) % F.lit(mod)

    for k in range(1, n):
        acc = F.zip_with(acc, F.slice(longs, 1 + k, win), _weighted_add(coeffs[k]))
    grams = (
        F.when(n_tok == 0, F.array().cast("array<long>"))
        .when(n_tok < n, F.array(_poly_hash(longs, base=base, mod=mod)))
        .otherwise(acc)
    )
    return F.array_distinct(grams)


def token_decontaminate(
    seq: DataFrame,
    eval_seq: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Token-level benchmark decontamination: corpus sequences sharing
    >= ``min_shared`` distinct token n-grams with ANY eval sequence,
    as (id, n_shared) — the form LLM pipelines actually run (word-gram
    decontamination over raw text is ``decontaminate`` above; after
    tokenization the membership test must happen in token space or
    tokenizer normalization hides overlaps).

    Same scale shape as the word form: the eval gram set is distinct-ed
    and BROADCAST (benchmarks are tiny next to a 10^12-row corpus); the
    corpus side explodes only (id, 8-byte gram hash) rows — the token
    arrays stay in the scan stage.  (id, g) pairs are distinct-ed
    before counting so duplicate-aliased rows and within-row repeats
    can't inflate the overlap count."""
    ev = (
        eval_seq.select(
            F.explode(token_gram_hashes(tokens_col, n)).alias("g")
        ).distinct()
    )
    cg = seq.select(
        F.col(id_col).alias("id"),
        F.explode(token_gram_hashes(tokens_col, n)).alias("g"),
    ).distinct()
    return (
        cg.join(F.broadcast(ev), "g")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def bloom_words(
    eval_grams: DataFrame,
    g_col: str = "g",
    m_bits: int = 1 << 16,
    k: int = 4,
) -> list[int]:
    """Deterministic Bloom filter over a gram-hash column, as a dense
    ``m_bits/64`` list of int64 words (collected — filter metadata,
    like IVF centroids, NOT data).

    Kirsch-Mitzenmacher double hashing: probe_i = (h1 + i*h2) mod m,
    h1 = g*2654435761 mod P31, h2 = (g*40503 + 7919) mod P31 — every
    step int64-safe and replayable in any engine, so a SQL oracle
    builds the IDENTICAL bit array and even the false positives agree.
    32-bit words on purpose: shiftleft(1, 63) overflows BIGINT in some
    engines (DuckDB raises), and 1 << (idx % 32) stays unambiguous
    everywhere.  Word bits accumulate with bit_or (idempotent —
    duplicate grams need no distinct pass).

    Size m_bits ~ 16x the expected distinct eval grams for ~0.5% FP at
    k=4; the words list is filter metadata (m_bits/32 longs)."""
    assert m_bits % 32 == 0 and (m_bits & (m_bits - 1)) == 0
    g = F.col(g_col)
    h1 = (g * 2654435761) % F.lit(_P31)
    h2 = (g * 40503 + 7919) % F.lit(_P31)
    idx = F.explode(
        F.transform(F.sequence(F.lit(0), F.lit(k - 1)), lambda i: (h1 + i * h2) % m_bits)
    ).alias("idx")
    rows = (
        eval_grams.select(idx)
        .select(
            (F.col("idx") / 32).cast("long").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("idx") % 32).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * (m_bits // 32)
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return words


def bloom_hit_count(
    grams: Column, words: list[int], m_bits: int | None = None, k: int = 4
) -> Column:
    """Count of gram hashes whose k Bloom probes all hit — pure
    map-side Catalyst over a words literal (no join, no shuffle, no
    state): the streaming-safe decontamination gate.  One-sided error
    only (false positives over-flag; never misses a real overlap)."""
    m_bits = m_bits if m_bits is not None else len(words) * 32
    warr = F.array(*[F.lit(w).cast("long") for w in words])

    def probe_all(g):
        h1 = (g * 2654435761) % F.lit(_P31)
        h2 = (g * 40503 + 7919) % F.lit(_P31)
        # (x mod m) mod 32 == x mod 32 because 32 | m (m is a power of
        # two >= 32), so the bit position skips the outer mod
        return F.forall(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: (
                F.call_function(
                    "shiftright",
                    F.try_element_at(warr, (((h1 + i * h2) % m_bits) / 32).cast("int") + 1),
                    ((h1 + i * h2) % 32).cast("int"),
                ).bitwiseAND(F.lit(1))
                == 1
            ),
        )

    return F.size(F.filter(grams, probe_all))


def split_leakage_report(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_split: str = "train",
    n: int = 3,
    min_shared: int = 2,
    seed: int = 0,
    stage: int = 0,
    hash_grams: bool = True,
) -> DataFrame:
    """Split-leakage QA: after a hash split, how much held-out content
    the TRAIN side already contains — held-out docs sharing >=
    ``min_shared`` distinct word n-grams with any train doc.  The
    check a training pipeline runs before trusting its eval numbers:
    a random split of a near-dup-heavy corpus leaks eval content into
    train (the reason dedup runs BEFORE splitting), and this reports
    exactly how much.  Distinct from :func:`decontaminate`, which
    guards against an EXTERNAL benchmark; this audits the internal
    split itself.

    One row per non-train split: ``n_docs``, ``n_leaked`` (docs over
    the gram threshold), ``leak_frac``.

    Scale shape: the split label is a pure map-side function of the id
    (``sampling.hash_split``), so it is attached to the gram index
    rows for free — no doc-table re-join; train grams are distinct-ed
    and equi-joined on the gram key (corpus-sized index side, same
    narrow-join discipline as ``ngram_jaccard_pairs`` — NOT broadcast,
    unlike decontaminate's tiny eval set)."""
    from .sampling import hash_split

    s = hash_split(docs, weights, id_col=id_col, seed=seed, stage=stage)
    grams = hash_split(
        word_gram_index(s, id_col=id_col, text_col=text_col, n=n, hash_grams=hash_grams),
        weights,
        id_col="id",
        seed=seed,
        stage=stage,
    )
    train_g = grams.where(F.col("split") == train_split).select("g").distinct()
    held = grams.where(F.col("split") != train_split)
    leaked = (
        held.join(train_g, "g")
        .groupBy("id", "split")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .groupBy("split")
        .agg(F.count("*").alias("n_leaked"))
    )
    totals = (
        s.where(F.col("split") != train_split)
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        totals.join(leaked, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
            F.round(
                F.coalesce("n_leaked", F.lit(0)) / F.col("n_docs"), 6
            ).alias("leak_frac"),
        )
        .orderBy("split")
    )
