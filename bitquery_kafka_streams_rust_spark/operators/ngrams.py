"""Corpus n-gram statistics — the LM count-table stage.

The count stage of every n-gram LM / contamination index (KenLM
``lmplz``'s first pass, infini-gram's table build) is the canonical
100 TB MapReduce: slide a window over every token sequence, count each
n-gram corpus-wide, keep document frequency alongside, prune the long
tail with a min-count cutoff.  The reference engine keeps per-key
counters in consumer memory (``src/processors/dex_processor.rs``
counter maps) — this is the distributed, unbounded-keyspace analog.

Input frames are the packed map stage, one row per n-gram occurrence:

- ``(key, g)`` — ``g`` the gram packed into one int64 (16 bits per
  token); ``key`` names the document (doc id, canon number, ...);
- ``(key, p, next_tok)`` — the packed (n-1)-token prefix and the token
  that follows it.

``seqkernel.packed_gram_kernel`` / ``packed_prefix_kernel`` build them
from a real ``tokens`` column (batch or stream); ``datagen.
exploded_packed_grams`` / ``exploded_packed_prefix`` from the
deterministic generator.  Docs shorter than ``n`` contribute nothing.

Plan shape (the part that must survive 100 TB):

- Grams are materialized MAP-SIDE; only the 8-byte packed key and the
  doc key cross the shuffle — never the token array itself (repo
  invariant).  The CSV rendering of a gram (part of the declared
  output) is applied AFTER aggregation/limits, on result-sized frames.
- ``groupBy(g)`` counts are sum-decomposable, so hash-aggregate
  partial combine collapses each partition to one row per gram before
  the exchange: a "the"-style hot gram contributes ONE partial per
  partition, not 10^9 shuffle rows — reducer skew is structurally
  impossible for the count.  Document frequency rides the standard
  two-phase distinct rewrite on (g, key), same property.
- The min-count cutoff runs POST-aggregate (HAVING) and is what keeps
  the output table bounded in practice: Zipf tails mean most grams are
  singletons, and they die here without ever being collected.
- ``top_k`` output runs through TakeOrderedAndProject (bounded
  per-partition heaps), never a global sort; tie-breaks defined on the
  CSV string use the string (computed post-aggregate, pre-limit).

Continuations (``ngram_continuations``) build the conditional
next-token table p(next | prefix): per-prefix totals and ranks via a
window PARTITIONED BY prefix (distributed; WindowGroupLimit pushes the
rank<=k cut into the sort), prefix support cutoff first so cold
prefixes never reach the window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.seqkernel import packed_to_csv


def _key_col(frame: DataFrame, packed: tuple[str, ...]) -> str:
    """The one document-key column of a packed occurrence frame."""
    (key,) = [c for c in frame.columns if c not in packed]
    return key


def ngram_stats(
    grams: DataFrame,
    n: int,
    *,
    min_count: int = 2,
    top_k: int | None = 200,
) -> DataFrame:
    """Corpus n-gram count table (gram, n_occur, n_doc) over a packed
    (key, g) occurrence frame.

    ``n_occur`` is total occurrences, ``n_doc`` the document frequency
    (docs are counted by key: bit-identical duplicate rows sharing an
    id count once in ``n_doc``, each occurrence still counts in
    ``n_occur`` — compose after dedup for clean-corpus counts).
    ``top_k`` orders by (n_occur DESC, gram ASC) — fully deterministic
    under count ties.
    """
    stats = (
        grams.groupBy("g")
        .agg(
            F.count("*").alias("n_occur"),
            F.countDistinct(_key_col(grams, ("g",))).alias("n_doc"),
        )
        .where(F.col("n_occur") >= min_count)
        .select(packed_to_csv("g", n).alias("gram"), "n_occur", "n_doc")
    )
    if top_k is not None:
        stats = stats.orderBy(F.desc("n_occur"), F.asc("gram")).limit(top_k)
    return stats


def ngram_continuations(
    pairs: DataFrame,
    n: int,
    *,
    k: int = 3,
    min_prefix_count: int = 8,
    limit_rows: int | None = None,
) -> DataFrame:
    """Conditional next-token table over a packed (key, p, next_tok)
    frame: for each (n-1)-gram prefix with at least
    ``min_prefix_count`` occurrences, the top-``k`` continuations by
    count with their empirical probability.

    Output: (prefix, prefix_total, next_tok, n_occur, prob, rank);
    ``prob`` is rounded to 6 places (cross-engine float parity), ties
    rank by ``next_tok`` ascending so output is deterministic.

    ``limit_rows`` bounds the output INDEPENDENT of corpus scale: rows
    ordered by (prefix_total DESC, prefix ASC, rank ASC) and cut with a
    TakeOrdered limit — the hottest prefixes survive at any SF instead
    of the output growing with the corpus.
    """
    counts = pairs.groupBy("p", "next_tok").agg(F.count("*").alias("n_occur"))
    w = Window.partitionBy("p")
    wrank = w.orderBy(F.desc("n_occur"), F.asc("next_tok"))
    out = (
        counts.withColumn("prefix_total", F.sum("n_occur").over(w))
        .where(F.col("prefix_total") >= min_prefix_count)
        .withColumn("rank", F.row_number().over(wrank))
        .where(F.col("rank") <= k)
        .select(
            packed_to_csv("p", n - 1).alias("prefix"),
            "prefix_total",
            "next_tok",
            "n_occur",
            F.round(F.col("n_occur") / F.col("prefix_total"), 6).alias("prob"),
            "rank",
        )
    )
    if limit_rows is not None:
        out = out.orderBy(
            F.desc("prefix_total"), F.asc("prefix"), F.asc("rank")
        ).limit(limit_rows)
    return out


def lm_score(
    pairs: DataFrame,
    *,
    alpha: float = 0.5,
    vocab_size: int,
    reliable: bool = False,
) -> DataFrame:
    """Per-document n-gram LM cross-entropy / perplexity under the
    corpus's own add-α-smoothed model — the CCNet/Gopher perplexity
    quality filter: docs whose token stream the corpus LM finds
    surprising (boilerplate, noise, wrong-register text) score high
    and get cut at a ppl threshold downstream.

    Input: a packed (key, p, next_tok) frame.  Output: (key, n_grams,
    xent, ppl), the key under the caller's column name.

    ``P(w|prefix) = (c(prefix,w) + α) / (c(prefix) + α·V)``;
    ``xent = avg(-ln P)`` over the doc's n-grams, ``ppl = exp(xent)``.
    Docs shorter than ``n`` tokens have no grams and emit no row.

    Scale shape — KenLM's estimate+query collapsed to ONE corpus walk:
    the per-(doc, gram) count table ``docgram`` is built map-side and
    materialized once (`dedup._materialize`, the KenLM intermediate);
    the corpus gram table is a re-aggregation of it, the prefix table a
    re-aggregation of that (both aggregate-sized), and scoring equi-
    joins ``docgram`` back against the scored gram table on (p, next)
    — narrow keys, partial-combinable final per-doc fold.  ``V``
    (vocab size) is a driver-side literal (metadata scale; avoids the
    scalar-subquery BroadcastNestedLoopJoin) — compute it cheaply, e.g.
    with ``seqkernel.distinct_tokens_kernel``.

    Cross-engine float parity: ``xent`` rounds to 4 places and ``ppl``
    is exp() OF THE ROUNDED xent (then rounded to 3) so both engines
    exponentiate the identical double instead of racing associativity
    across a much finer rounding grid.
    """
    from bitquery_kafka_streams_rust_spark.operators.dedup import _materialize

    key = _key_col(pairs, ("p", "next_tok"))
    # docgram is corpus-sized (≈ total token positions): reliable=True
    # swaps localCheckpoint for the lineage-keeping DISK_ONLY persist on
    # preemptible capacity, same contract as the dedup/span/graph
    # families (a lost executor recomputes instead of killing the job)
    docgram = _materialize(
        pairs.groupBy(key, "p", "next_tok").agg(F.count("*").alias("k")),
        reliable,
    )
    cnt = docgram.groupBy("p", "next_tok").agg(F.sum("k").alias("c_gram"))
    pre = cnt.groupBy("p").agg(F.sum("c_gram").alias("c_prefix"))
    lp = cnt.join(pre, "p").select(
        "p",
        "next_tok",
        F.log(
            (F.col("c_gram") + F.lit(float(alpha)))
            / (F.col("c_prefix") + F.lit(float(alpha) * vocab_size))
        ).alias("logp"),
    )
    return (
        docgram.join(lp, ["p", "next_tok"])
        .groupBy(key)
        .agg(
            F.sum("k").alias("n_grams"),
            (F.sum(F.col("k") * -F.col("logp")) / F.sum("k")).alias("_x"),
        )
        .select(
            key,
            "n_grams",
            F.round("_x", 4).alias("xent"),
            F.round(F.exp(F.round("_x", 4)), 3).alias("ppl"),
        )
    )


def nucleus_sets(
    pairs: DataFrame,
    n: int,
    *,
    p_num: int = 9,
    p_den: int = 10,
    min_prefix_count: int = 8,
    limit_rows: int | None = None,
) -> DataFrame:
    """Top-p (nucleus) truncation of the empirical next-token
    distribution over a packed (key, p, next_tok) frame: for each hot
    (n-1)-gram prefix, the MINIMAL count-ranked set of continuations
    whose cumulative probability reaches ``p_num/p_den`` — the
    sampling-infrastructure table a distillation/speculative-decoding
    pipeline precomputes from corpus statistics (Holtzman et al. 2020
    top-p, applied to the KenLM-style count table instead of model
    logits).

    The threshold is a RATIONAL: a token stays iff the EXCLUSIVE
    cumulative count satisfies ``cum_excl · p_den < p_num · total``
    (the crossing token is included, the standard convention) — pure
    integer cross-multiplication, no float anywhere until the reported
    share, so both engines agree bit-for-bit.

    Scale shape: same narrow (p, next_tok) count exchange as
    ``ngram_continuations``; ranking/cumsum are prefix-partitioned
    windows; the HAVING-style hot-prefix cut prunes the Zipf tail
    before the windows.  ``limit_rows`` bounds output at any SF.

    Output: (prefix, prefix_total, next_tok, n_occur, rank, cum_n,
    cum_share, nucleus_size)."""
    counts = pairs.groupBy("p", "next_tok").agg(F.count("*").alias("n_occur"))
    w = Window.partitionBy("p")
    wrank = w.orderBy(F.desc("n_occur"), F.asc("next_tok"))
    wcum = wrank.rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        counts.withColumn("prefix_total", F.sum("n_occur").over(w))
        .where(F.col("prefix_total") >= int(min_prefix_count))
        .withColumn("rank", F.row_number().over(wrank))
        .withColumn("cum_n", F.sum("n_occur").over(wcum))
    )
    # exclusive cumsum crosses the rational threshold -> token kept
    kept = staged.where(
        (F.col("cum_n") - F.col("n_occur")) * F.lit(int(p_den))
        < F.lit(int(p_num)) * F.col("prefix_total")
    )
    wsz = Window.partitionBy("p")
    out = kept.select(
        packed_to_csv("p", n - 1).alias("prefix"),
        "prefix_total",
        "next_tok",
        "n_occur",
        "rank",
        "cum_n",
        F.round(F.col("cum_n").cast("double") / F.col("prefix_total").cast("double"), 6).alias(
            "cum_share"
        ),
        F.count(F.lit(1)).over(wsz).alias("nucleus_size"),
    )
    if limit_rows is not None:
        out = out.orderBy(
            F.desc("prefix_total"), F.asc("prefix"), F.asc("rank")
        ).limit(limit_rows)
    return out


def collocation_pmi(
    bigrams: DataFrame,
    uni: DataFrame,
    t_bi: float,
    u_uni: float,
    *,
    min_count: int = 2,
    top_k: int | None = 100,
) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information —
    the association-strength statistic behind phrase tables, tokenizer
    merge diagnostics, and boilerplate detection (a corpus whose top
    PMI pairs are navigation chrome is telling you something).

    Inputs: a packed (key, g) bigram frame, a (tok, c_tok) unigram
    count table, and the totals ``t_bi`` (bigram positions) and
    ``u_uni`` (unigram positions) as driver-side literals (two scalar
    aggregates over n_tok metadata — no token scan).

    ``pmi(a,b) = ln( p(a,b) / (p(a) p(b)) )`` with ``p(a,b) =
    c_pair/T`` and ``p(a) = c_tok/U``.  Computed as the literal
    composition ``(c_pair/T) / ((c_a/U) * (c_b/U))`` in double on BOTH
    engines (identical IEEE op sequence), then ``round(ln(.), 6)`` —
    the repo's log-parity convention (cf. ``drift.py``).

    Plan shape: pair counts partial-combine (hot pairs contribute one
    row per partition); the unigram table is VOCAB-BOUNDED, so both
    enrichment joins broadcast.  The min-count HAVING prunes the Zipf
    tail pre-join; ranking is TakeOrdered on the ROUNDED pmi (desc,
    tok_a, tok_b asc) so the cutoff is deterministic cross-engine.
    """
    c_bi = (
        bigrams.groupBy("g")
        .agg(F.count("*").alias("c_pair"))
        .where(F.col("c_pair") >= min_count)
    )
    pairs = c_bi.select(
        F.shiftright("g", 16).cast("int").alias("tok_a"),
        (F.col("g") % (1 << 16)).cast("int").alias("tok_b"),
        "c_pair",
    )
    ca = uni.select(F.col("tok").alias("tok_a"), F.col("c_tok").alias("c_a"))
    cb = uni.select(F.col("tok").alias("tok_b"), F.col("c_tok").alias("c_b"))
    p_pair = F.col("c_pair").cast("double") / F.lit(t_bi)
    p_a = F.col("c_a").cast("double") / F.lit(u_uni)
    p_b = F.col("c_b").cast("double") / F.lit(u_uni)
    out = (
        pairs.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "c_pair",
            "c_a",
            "c_b",
            F.round(F.log(p_pair / (p_a * p_b)), 6).alias("pmi"),
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")
        ).limit(top_k)
    return out
