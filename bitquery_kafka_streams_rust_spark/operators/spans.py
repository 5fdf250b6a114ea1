"""Cross-document repeated-substring (duplicated token-span) detection.

Exact substring dedup in the style of "Deduplicating Training Data
Makes Language Models Better" (Lee et al., 2022), re-expressed for
Spark: instead of a suffix array, every position's token n-gram is
hashed map-side and a gram that occurs in >= ``min_docs`` DISTINCT
documents marks its positions as duplicated; per document, duplicated
positions are merged into maximal spans by interval union (two gram
starts merge iff their [p, p+n-1] windows overlap or touch, i.e.
gap <= n) and reported as span/coverage stats — the numbers a curation
pipeline cuts on (drop or trim docs whose dup_frac exceeds a budget).

Scale shape: the token arrays never cross a shuffle (repo invariant) —
the windowed polynomial hash runs in the scan stage and only narrow
(id, pos, 8-byte gram) rows are exploded.  The gram-frequency aggregate
is a partial-combined countDistinct on the gram key; the dup-position
join is a narrow equi-join on the same key (AQE reuses the exchange);
the island merge is a per-doc window (partitioned by doc id — never a
global window) whose two window functions share one sort.  Output is
one row per document with any duplicated span: bounded by |docs|, not
by |tokens|.

Reference analog: the dedup surface at src/core/utils/deduplicator.rs
is record-identity dedup; this operator is the token-span refinement a
training-data pipeline layers on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _P31, _materialize, _windowed_poly


def gram_positions(
    seq: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 8,
    base: int = 313,
    mod: int = _P31,
) -> DataFrame:
    """(id, pos, g): polynomial hash of the token n-gram starting at
    1-based ``pos``, one row per position — computed MAP-SIDE (the
    vectorized k-pass zip_with of ``_windowed_poly``) so only 8-byte
    hashes enter downstream shuffles.  Docs shorter than ``n`` cannot
    contain an n-token duplicated substring and yield no rows."""
    longs = F.transform(F.col(tokens_col), lambda t: t.cast("long"))
    grams = F.when(
        F.size(tokens_col) >= n, _windowed_poly(longs, n, base=base, mod=mod)
    ).otherwise(F.array().cast("array<long>"))
    return seq.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos0", "g")
    ).select("id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")


def _dup_spans(pos: DataFrame, *, n: int, min_docs: int) -> DataFrame:
    """Maximal duplicated spans (id, s, e) from a gram-position table:
    grams in >= ``min_docs`` distinct docs mark their positions, which
    merge into islands per doc (gap <= n) via two window functions over
    one per-doc sort.  ``s``/``e`` are the first/last GRAM STARTS of
    the span; token coverage is [s, e + n - 1]."""
    dup_g = (
        pos.groupBy("g")
        .agg(F.countDistinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    dp = pos.join(dup_g, "g").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > n, 1).otherwise(0)
    isl = dp.select("id", "pos", brk.alias("brk")).select(
        "id",
        "pos",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("isl"),
    )
    # hash-partitioned by id already => the (id, isl) groupBy below
    # introduces no further exchange
    return isl.groupBy("id", "isl").agg(
        F.min("pos").alias("s"), F.max("pos").alias("e")
    )


def dup_span_stats(
    seq: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 8,
    min_docs: int = 2,
    reliable: bool = False,
) -> DataFrame:
    """Per-document duplicated-span stats over grams appearing in
    >= ``min_docs`` distinct documents: ``n_spans`` maximal spans,
    ``dup_tok`` tokens covered (exact interval union — overlapping
    gram windows are not double-counted), ``max_span`` longest span,
    ``dup_frac`` = dup_tok / n_tok.  Only docs with at least one
    duplicated span appear; deterministic ordered by doc id.

    Duplicate-aliased fixture rows (same doc_id, bit-identical
    content) are harmless by construction: gram frequency counts
    DISTINCT doc ids, and a tied (id, pos) row lands in the same
    island (gap 0) without moving its min/max ends."""
    # Materialized ONCE (same discipline as the near-dup family): the
    # position table has two consumers (frequency aggregate + dup-
    # position join) and its producing expression is a large
    # interpreted-HOF tree — inlining it twice doubles the scan AND
    # pays the big-tree codegen/planning constant on a 2x plan
    # (measured 24 s -> 6 s at sf0.01).  Rows are narrow (id, 2 longs);
    # ``reliable=True`` swaps localCheckpoint for lineage-keeping
    # DISK_ONLY persist on preemptible capacity.
    pos = _materialize(
        gram_positions(seq, id_col=id_col, tokens_col=tokens_col, n=n),
        reliable,
    )
    # interval union: windows [p, p+n-1] and [q, q+n-1] (q > p) merge
    # iff q - p <= n.
    spans = _dup_spans(pos, n=n, min_docs=min_docs)
    per_doc = spans.groupBy("id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + n).alias("dup_tok"),
        F.max(F.col("e") - F.col("s") + n).alias("max_span"),
    )
    lens = seq.groupBy(F.col(id_col).alias("id")).agg(
        F.max(F.size(tokens_col)).alias("n_tok")
    )
    return (
        per_doc.join(lens, "id")
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "dup_tok",
            "max_span",
            "n_tok",
            F.round(F.col("dup_tok") / F.col("n_tok"), 6).alias("dup_frac"),
        )
        .orderBy(id_col)
    )


def dup_span_trim(
    seq: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 8,
    min_docs: int = 2,
    mod: int = _P31,
    reliable: bool = False,
) -> DataFrame:
    """The dedup ACTION on top of :func:`dup_span_stats` geometry: cut
    every cross-document duplicated span (Lee et al. 2022 ExactSubstr
    removal, the drop-all-occurrences variant C4/RefinedWeb-style
    pipelines apply; keep-one-copy at document granularity is the
    separate exact-dedup operator).  One row PER DOCUMENT:

    ``n_tok`` original length, ``kept_n_tok`` surviving tokens,
    ``removed_tok`` = n_tok - kept_n_tok, and ``kept_checksum`` =
    sum(token * new_position) mod 2^31-1 over the TRIMMED sequence
    (positions renumbered 1..kept_n_tok) — an order-sensitive
    certificate of the exact post-trim content, so the oracle check
    pins token-level behavior without shipping arrays through the
    comparator.  Untouched docs appear with removed_tok = 0; fully
    covered docs with kept_n_tok = 0 / checksum 0.

    Scale shape — the shuffle is bounded by DUP-AFFECTED volume, not
    the corpus (round-5 fix: previously EVERY token crossed the
    anti-join + rank exchanges as a scalar (id, pos, token) row, ~6x
    the raw token bytes, even though typically only a small fraction
    of docs contain any cross-doc duplicated span):

    - docs are split by a semi/anti join against the span-bearing ids
      (the span table is already narrow and materialized);
    - only SPAN-BEARING docs take the explode → anti-join → per-doc
      rank window → aggregate path — the TRIM path adds no token-array
      shuffle (the explode is map-side after the semi join).  Token
      arrays cross exactly ONE exchange in the whole operator: the
      per-id first-wins collapse below, unavoidable for multiset input
      and shared by every downstream branch via ReuseExchange (one
      physical shuffle, four consumers);
    - untouched docs never leave the scan: their kept sequence IS the
      original, so ``kept_n_tok = n_tok`` and ``kept_checksum`` is the
      map-side HOF ``sum(token * (1-based pos)) mod P31`` (the
      token_checksum shape with this operator's modulus).

    Input rows are first collapsed per doc id (fixture aliases are
    bit-identical, so first-wins is content-invariant — repo
    invariant)."""
    docs = seq.dropDuplicates([id_col])
    pos = _materialize(
        gram_positions(docs, id_col=id_col, tokens_col=tokens_col, n=n),
        reliable,
    )
    # spans has three consumers below (covered positions, the semi
    # split, the anti split) — materialize once; it is narrow and
    # bounded by dup positions, tiny next to pos
    spans = _materialize(_dup_spans(pos, n=n, min_docs=min_docs), reliable)
    span_ids = spans.select(F.col("id").alias(id_col)).distinct()
    affected = docs.join(span_ids, id_col, "left_semi")
    untouched = docs.join(span_ids, id_col, "left_anti")

    covered = spans.select(
        "id",
        F.explode(
            F.sequence(F.col("s"), F.col("e") + F.lit(n - 1))
        ).alias("pos"),
    )
    tok = affected.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.transform(F.col(tokens_col), lambda t: t.cast("long"))).alias(
            "pos0", "token"
        ),
    ).select("id", (F.col("pos0") + 1).cast("long").alias("pos"), "token")
    kept = tok.join(covered, ["id", "pos"], "left_anti")
    w = Window.partitionBy("id").orderBy("pos")
    ranked = kept.select(
        "id", "token", F.row_number().over(w).cast("long").alias("newpos")
    )
    kept_agg = ranked.groupBy("id").agg(
        F.count("*").alias("kept_n_tok"),
        (F.sum(F.col("token") * F.col("newpos")) % F.lit(mod)).alias(
            "kept_checksum"
        ),
    )
    lens = affected.select(
        F.col(id_col).alias("id"), F.size(tokens_col).cast("long").alias("n_tok")
    )
    affected_out = lens.join(kept_agg, "id", "left").select(
        F.col("id").alias(id_col),
        "n_tok",
        F.coalesce("kept_n_tok", F.lit(0)).alias("kept_n_tok"),
        (F.col("n_tok") - F.coalesce("kept_n_tok", F.lit(0))).alias("removed_tok"),
        F.coalesce("kept_checksum", F.lit(0)).alias("kept_checksum"),
    )
    # untouched docs: pure map-side — same weighted-sum checksum the
    # ranked aggregate computes, since newpos == pos for an untrimmed
    # doc (indexed transform, no second index array — token_checksum's
    # measured-faster shape)
    toks = F.col(tokens_col)
    weighted = F.transform(toks, lambda t, i: t.cast("long") * (i.cast("long") + 1))
    cks = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
    n_tok_u = F.size(toks).cast("long")
    untouched_out = untouched.select(
        F.col(id_col),
        n_tok_u.alias("n_tok"),
        n_tok_u.alias("kept_n_tok"),
        F.lit(0).cast("long").alias("removed_tok"),
        F.when(F.size(toks) == 0, F.lit(0).cast("long"))
        .otherwise(cks % F.lit(mod))
        .cast("long")
        .alias("kept_checksum"),
    )
    return affected_out.unionByName(untouched_out).orderBy(id_col)


# ---------------------------------------------------------------------------
# packed-key forms (optimization round 6)
# ---------------------------------------------------------------------------
#
# Same plans as above, but the gram-position table arrives from the
# codegen'd scalar builder (datagen.exploded_gram_positions) keyed by
# the canon doc NUMBER ``c`` instead of the doc_id string: the frequency
# aggregate and dup-position join exchange 8-byte ints (guide §2.3), the
# rolling hash is one folded scalar expression instead of k interpreted
# zip_with passes (guide §4.2), and doc_id reconstructs as 'doc'+c on
# the bounded outputs.


def _dup_spans_packed(pos: DataFrame, *, n: int, min_docs: int) -> DataFrame:
    dup_g = (
        pos.groupBy("g")
        .agg(F.countDistinct("c").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    dp = pos.join(dup_g, "g").select("c", "pos")
    w = Window.partitionBy("c").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > n, 1).otherwise(0)
    isl = dp.select("c", "pos", brk.alias("brk")).select(
        "c",
        "pos",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("isl"),
    )
    return isl.groupBy("c", "isl").agg(
        F.min("pos").alias("s"), F.max("pos").alias("e")
    )


def dup_span_stats_packed(
    pos: DataFrame,
    lens: DataFrame,
    *,
    n: int = 8,
    min_docs: int = 2,
    reliable: bool = False,
) -> DataFrame:
    """``dup_span_stats`` over a kernel-built (c, pos, g) position frame
    plus a (c, n_tok) length frame — identical output (doc_id
    reconstructed post-aggregate)."""
    pos = _materialize(pos, reliable)
    spans = _dup_spans_packed(pos, n=n, min_docs=min_docs)
    per_doc = spans.groupBy("c").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + n).alias("dup_tok"),
        F.max(F.col("e") - F.col("s") + n).alias("max_span"),
    )
    return (
        per_doc.join(lens, "c")
        .select(
            F.concat(F.lit("doc"), F.col("c").cast("string")).alias("doc_id"),
            "n_spans",
            "dup_tok",
            "max_span",
            "n_tok",
            F.round(F.col("dup_tok") / F.col("n_tok"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def dup_span_trim_packed(
    spine: DataFrame,
    *,
    n: int = 8,
    min_docs: int = 2,
    mod: int = _P31,
    reliable: bool = False,
) -> DataFrame:
    """``dup_span_trim`` over the scalar spine (doc_id, n_tok, source,
    ts, _c): per-doc dedup, gram positions, token explosion of affected
    docs run as codegen'd scalar explosions (datagen builders — for
    exploded outputs the Arrow boundary costs more than it saves); the
    untouched-doc checksum is one Arrow reduction kernel; the span
    geometry, anti-join and rank window are the same narrow-row plan.
    Identical output."""
    from .. import datagen
    from ..functions import seqkernel as SKN

    docs = spine.dropDuplicates(["doc_id"])
    pos = _materialize(datagen.exploded_gram_positions(docs, n), reliable)
    spans = _materialize(_dup_spans_packed(pos, n=n, min_docs=min_docs), reliable)
    span_ids = spans.select("c").distinct()
    affected = docs.join(span_ids, docs["_c"] == span_ids["c"], "left_semi")
    untouched = docs.join(span_ids, docs["_c"] == span_ids["c"], "left_anti")

    covered = spans.select(
        "c",
        F.explode(F.sequence(F.col("s"), F.col("e") + F.lit(n - 1))).alias("pos"),
    )
    tok = datagen.exploded_token_positions(affected)
    kept = tok.join(covered, ["c", "pos"], "left_anti")
    w = Window.partitionBy("c").orderBy("pos")
    ranked = kept.select(
        "c", "token", F.row_number().over(w).cast("long").alias("newpos")
    )
    kept_agg = ranked.groupBy("c").agg(
        F.count("*").alias("kept_n_tok"),
        (F.sum(F.col("token") * F.col("newpos")) % F.lit(mod)).alias("kept_checksum"),
    )
    lens = affected.select(F.col("_c").alias("c"), F.col("n_tok").cast("long").alias("n_tok"))
    affected_out = lens.join(kept_agg, "c", "left").select(
        F.concat(F.lit("doc"), F.col("c").cast("string")).alias("doc_id"),
        "n_tok",
        F.coalesce("kept_n_tok", F.lit(0)).alias("kept_n_tok"),
        (F.col("n_tok") - F.coalesce("kept_n_tok", F.lit(0))).alias("removed_tok"),
        F.coalesce("kept_checksum", F.lit(0)).alias("kept_checksum"),
    )
    # untouched docs: newpos == pos, so the kept checksum is the plain
    # weighted sum mod `mod` — one kernel feature pass, no explosion
    untouched_out = untouched.select("doc_id", "n_tok", "_c").mapInArrow(
        SKN.gen_cksum_mod_kernel(mod), "doc_id string, n_tok int, cksum long"
    ).select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_tok").cast("long").alias("kept_n_tok"),
        F.lit(0).cast("long").alias("removed_tok"),
        F.col("cksum").alias("kept_checksum"),
    )
    return affected_out.unionByName(untouched_out).orderBy("doc_id")
