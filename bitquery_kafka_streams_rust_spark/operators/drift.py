"""Token-distribution drift between corpus snapshots.

Training-data monitoring: when a new crawl/snapshot lands, compare its
token unigram distribution against the previous one — per-token count
deltas and smoothed log-likelihood ratios, plus corpus-level KL /
total-variation summaries.  Catches tokenizer regressions, source-mix
shifts and contamination bursts before a model trains on them.

Plan shape: each side is one map-side explode + partial-combined count
(token ids cross the shuffle, never token arrays — repo invariant);
the comparison is a full-outer equi-join on the token id whose size is
bounded by VOCAB (≤ |tokenizer|, ~50k), independent of corpus scale.
Totals are collected driver-side (2 metadata scalars) and inlined as
literals — the scalar-subquery form would constant-fold back into a
BroadcastNestedLoopJoin.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def token_histogram(seq: DataFrame, *, token_col: str = "tokens") -> DataFrame:
    """(token, n) corpus unigram counts — map-side explode, hash
    aggregate with partial combine (hot tokens cannot skew the
    reduce)."""
    return (
        seq.select(F.explode(token_col).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def token_drift(
    old_seq: DataFrame,
    new_seq: DataFrame,
    *,
    alpha: float = 0.5,
    vocab: int = 50257,
    token_col: str = "tokens",
) -> DataFrame:
    """Per-token drift table over the UNION vocabulary: counts on each
    side and the add-α-smoothed log-likelihood ratio
    ``ln(p_new/p_old)`` (positive = token became more common).
    ``p = (n + α) / (N + α·V)`` keeps one-sided tokens finite.  Output
    is vocab-bounded regardless of corpus size; deterministic ordered
    by token id."""
    ho = token_histogram(old_seq, token_col=token_col)
    hn = token_histogram(new_seq, token_col=token_col)
    n_old_total = ho.agg(F.sum("n")).collect()[0][0] or 0
    n_new_total = hn.agg(F.sum("n")).collect()[0][0] or 0
    j = ho.withColumnRenamed("n", "n_old").join(
        hn.withColumnRenamed("n", "n_new"), "token", "full_outer"
    )
    a = float(alpha)
    p_old = (F.coalesce(F.col("n_old"), F.lit(0)) + a) / F.lit(
        n_old_total + a * vocab
    )
    p_new = (F.coalesce(F.col("n_new"), F.lit(0)) + a) / F.lit(
        n_new_total + a * vocab
    )
    return (
        j.select(
            "token",
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            F.round(F.log(p_new / p_old), 6).alias("log_ratio"),
        )
        .orderBy("token")
    )


def drift_summary(
    old_seq: DataFrame,
    new_seq: DataFrame,
    *,
    alpha: float = 0.5,
    vocab: int = 50257,
    token_col: str = "tokens",
) -> DataFrame:
    """One-row corpus-level drift: ``kl`` = KL(new‖old) over the
    smoothed union-vocab distributions restricted to observed tokens,
    ``tvd`` = total variation distance on the same support, plus
    support sizes.  A vocab-bounded aggregate over the drift table."""
    ho = token_histogram(old_seq, token_col=token_col)
    hn = token_histogram(new_seq, token_col=token_col)
    n_old_total = ho.agg(F.sum("n")).collect()[0][0] or 0
    n_new_total = hn.agg(F.sum("n")).collect()[0][0] or 0
    j = ho.withColumnRenamed("n", "n_old").join(
        hn.withColumnRenamed("n", "n_new"), "token", "full_outer"
    )
    a = float(alpha)
    p_old = (F.coalesce(F.col("n_old"), F.lit(0)) + a) / F.lit(
        n_old_total + a * vocab
    )
    p_new = (F.coalesce(F.col("n_new"), F.lit(0)) + a) / F.lit(
        n_new_total + a * vocab
    )
    return j.agg(
        F.round(F.sum(p_new * F.log(p_new / p_old)), 8).alias("kl"),
        F.round(F.sum(F.abs(p_new - p_old)) / 2, 8).alias("tvd"),
        F.sum(F.col("n_old").isNotNull().cast("long")).alias("vocab_old"),
        F.sum(F.col("n_new").isNotNull().cast("long")).alias("vocab_new"),
    )


def centroid_drift(
    old: DataFrame,
    new: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-SPACE drift between two corpus snapshots, per group:
    the geometric twin of :func:`token_drift` (which watches the token
    distribution).  For each group: ``centroid_cos`` — cosine between
    the group's old and new centroid (1.0 = no directional drift) —
    and ``l2_shift`` — euclidean distance between the mean vectors,
    plus both side counts.  The embedding-health gate a re-embedding /
    encoder-upgrade pipeline cuts on before committing a snapshot.

    Exact-parity trick: each component is quantized map-side to an
    integer grid (``floor(v * scale)``) so the per-group per-dimension
    SUMS are integer — order-independent and bit-identical on any
    engine/partitioning (float summation order is not).  Cosine is
    scale-invariant, so it is computed directly on the integer sum
    vectors; the mean vectors for ``l2_shift`` divide by the exact
    ``n * scale``.  Quantization error is bounded by 1/scale per
    component — measurement noise for drift purposes, and the price of
    a deterministic, restart-identical metric at 100 TB.

    Scale shape: one narrow (group, dim, q) explode per side feeding a
    partial-combined integer aggregate — dim-bounded rows per group;
    the final assembly/compare moves n_groups × dim scalars.  No
    arrays cross the aggregate shuffle."""
    o = centroid_side(old, group_col=group_col, vec_col=vec_col, scale=scale, suffix="old")
    nw = centroid_side(new, group_col=group_col, vec_col=vec_col, scale=scale, suffix="new")
    return compare_centroid_sides(o, nw, group_col=group_col, scale=scale)


def quantized_components(
    df: DataFrame, *, group_col: str, vec_col: str, scale: int
) -> DataFrame:
    """Map-side (g, d, q) explode of integer-quantized components —
    the pre-aggregate form shared by the batch operator and the
    streaming monitor (whose state is the running per-(g, d) sum)."""
    return df.select(
        F.col(group_col).alias("g"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda v: F.floor(v.cast("double") * scale).cast("long"),
            )
        ).alias("d", "q"),
    )


def assemble_sums(sums: DataFrame, *, suffix: str) -> DataFrame:
    """(g, d, s, cnt) per-dimension sums → (g, sv_<suffix>,
    n_<suffix>): the ordered integer sum vector plus the group row
    count (``cnt`` is the per-(g, d) row count — identical across a
    group's dimensions, so ``max`` recovers it)."""
    return sums.groupBy("g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "s"))),
            lambda st: st["s"],
        ).alias(f"sv_{suffix}"),
        F.max("cnt").alias(f"n_{suffix}"),
    )


def centroid_side(
    df: DataFrame, *, group_col: str, vec_col: str, scale: int, suffix: str
) -> DataFrame:
    """One snapshot side: quantize → per-(g, d) integer sums + count →
    assembled (g, sum vector, n)."""
    sums = (
        quantized_components(df, group_col=group_col, vec_col=vec_col, scale=scale)
        .groupBy("g", "d")
        .agg(F.sum("q").alias("s"), F.count("*").alias("cnt"))
    )
    return assemble_sums(sums, suffix=suffix)


def compare_centroid_sides(
    o: DataFrame, nw: DataFrame, *, group_col: str, scale: int
) -> DataFrame:
    """Join two assembled sides and emit the drift row per group —
    cosine on the integer sum vectors (scale-invariant), L2 on the
    exact mean vectors."""
    j = o.join(nw, "g")
    dot = F.aggregate(
        F.zip_with("sv_old", "sv_new", lambda a, b: a * b),
        F.lit(0).cast("double"),
        lambda acc, x: acc + x.cast("double"),
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.col(c),
            F.lit(0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    mean = lambda c, nc: F.transform(
        F.col(c),
        lambda s: s.cast("double")
        / (F.col(nc).cast("double") * F.lit(float(scale))),
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                mean("sv_old", "n_old"),
                mean("sv_new", "n_new"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    return j.select(
        F.col("g").alias(group_col),
        "n_old",
        "n_new",
        F.round(dot / (nrm("sv_old") * nrm("sv_new")), 6).alias("centroid_cos"),
        F.round(l2, 6).alias("l2_shift"),
    ).orderBy(group_col)


def novelty_curve(
    seq: DataFrame,
    batch_col: Column,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 8,
) -> DataFrame:
    """Corpus-growth novelty: how much genuinely NEW content each
    ingestion batch adds, measured as token n-grams never seen in any
    earlier batch (the Heaps'-law growth curve).  The number a
    continuously-growing pretraining corpus is steered by — a batch
    whose ``novelty_frac`` collapses is re-crawling what the corpus
    already has, and the dedup pipeline's ROI lives exactly in
    ``n_distinct - n_new``.

    Per batch: ``n_pos`` gram positions, ``n_distinct`` distinct grams
    in the batch, ``n_new`` grams whose FIRST occurrence (min batch) is
    this batch, ``novelty_frac`` = n_new / n_distinct.

    Scale shape: the same map-side windowed polynomial gram hashing as
    the span family (token arrays never shuffle — only narrow
    (batch, gram) rows); two partial-combined aggregates over the gram
    key (per-batch distincts + global first-seen) and one
    batch-cardinality-sized join.  No global window: the cumulative
    curve is the running sum of ``n_new``, derivable by the caller
    from this batch-count-sized result.  Input rows are collapsed per
    doc id first (aliased fixture rows are bit-identical)."""
    from .dedup import _P31, _windowed_poly

    docs = seq.dropDuplicates([id_col]).withColumn("_b", batch_col)
    longs = F.transform(F.col(tokens_col), lambda t: t.cast("long"))
    grams = F.when(
        F.size(tokens_col) >= n, _windowed_poly(longs, n, base=313, mod=_P31)
    ).otherwise(F.array().cast("array<long>"))
    g = docs.select(F.col("_b"), F.explode(grams).alias("g"))
    per_batch = g.groupBy("_b").agg(
        F.count("*").alias("n_pos"), F.countDistinct("g").alias("n_distinct")
    )
    first_seen = g.groupBy("g").agg(F.min("_b").alias("fb"))
    new_per_batch = first_seen.groupBy(F.col("fb").alias("_b")).agg(
        F.count("*").alias("n_new")
    )
    return (
        per_batch.join(new_per_batch, "_b", "left")
        .select(
            F.col("_b").alias("batch"),
            "n_pos",
            "n_distinct",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.round(
                F.coalesce("n_new", F.lit(0)) / F.col("n_distinct"), 6
            ).alias("novelty_frac"),
        )
        .orderBy("batch")
    )


def cusum_changepoint(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    tiebreak_col: str,
    *,
    k: float = 0.25,
    h: float = 2.0,
    scale: int = 1000,
    out_dp: int = 6,
    target: float | None = None,
) -> DataFrame:
    """Per-key two-sided CUSUM level-shift detection (Page 1954), the
    sequential-analysis upgrade of the reference's static thresholds
    (``src/processors/dex_processor.rs:156-164``): a key whose value
    series drifts from its mean by more than ``k`` sigma-units per
    step accumulates until the statistic crosses ``h``.

    The recursion ``s_i = max(0, s_{i-1} + x_i)`` is NOT a prefix sum,
    but has the closed form ``s_i = P_i - min(0, min_{j<=i} P_j)`` over
    the plain prefix sums ``P`` — so both sides are two running
    window aggregates over ONE per-key sort, no iteration, no UDF.

    Cross-engine exactness: values quantize to ``q = round(v*scale)``
    longs.  With ``target=None`` (retrospective mode) deviations are
    vs the key's own mean, cleared of division by multiplying through
    by the key's row count ``n`` — ``e_i = n*q_i - S`` (S = sum of q
    over the key) — and the drift/threshold constants scale the same
    way (``kq*n``, ``hq*n``), so every prefix sum, min, max and
    comparison is EXACT long arithmetic; only the final readout
    divides.  Overflow contract: ``n^2 * max|q|`` must stay under
    2^63 — at |q| <= 1e7 that is n <= ~30M rows per key; coarsen
    ``scale`` for denser keys.

    With ``target`` set (online mode, Page's original form) deviations
    are vs the FIXED level ``e_i = q_i - round(target*scale)`` — no
    retrospective mean, so the statistic is computable one row at a
    time; this is the form the streaming twin
    (``streaming/cusum_monitor.py``) replays with per-key long state,
    bit-identically.  Overflow relaxes to ``n * max|e|`` < 2^63.

    Output per key: n, alarm counts per side, first alarm's order
    value per side (pass an epoch-style long — nullable timestamps
    never hash-match; -1 sentinel when no alarm), and the max
    statistic per side in k/h units (rounded ``out_dp``).
    """
    from pyspark.sql import Window

    kq = round(k * scale)
    hq = round(h * scale)
    q = F.round(F.col(value_col).cast("double") * F.lit(scale), 0).cast("long")
    wk = Window.partitionBy(*key_cols)
    wc = wk.orderBy("_x", "_tb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    base = df.select(
        *key_cols,
        F.col(order_col).alias("_x"),
        F.col(tiebreak_col).alias("_tb"),
        q.alias("_q"),
    ).select(
        *key_cols,
        "_x",
        "_tb",
        "_q",
        F.count("*").over(wk).alias("_n"),
        F.sum("_q").over(wk).alias("_s"),
    )
    if target is None:
        e = F.col("_n") * F.col("_q") - F.col("_s")
        mult = F.col("_n")
    else:
        e = F.col("_q") - F.lit(round(float(target) * scale)).cast("long")
        mult = F.lit(1).cast("long")
    i = F.row_number().over(wc)
    pref = base.select(
        *key_cols,
        "_x",
        "_tb",
        "_n",
        (F.sum(e).over(wc) - i.cast("long") * F.lit(kq) * mult).alias("_pp"),
        (F.sum(e).over(wc) + i.cast("long") * F.lit(kq) * mult).alias("_pm"),
    )
    s_hi = F.col("_pp") - F.least(F.lit(0).cast("long"), F.min("_pp").over(wc))
    s_lo = F.greatest(F.lit(0).cast("long"), F.max("_pm").over(wc)) - F.col("_pm")
    lim = F.lit(hq) * (F.lit(1).cast("long") if target is not None else F.col("_n"))
    st = pref.select(
        *key_cols,
        "_x",
        "_n",
        s_hi.alias("_sh"),
        s_lo.alias("_sl"),
        (s_hi > lim).alias("_ah"),
        (s_lo > lim).alias("_al"),
    )
    denom = (
        F.lit(float(scale))
        if target is not None
        else F.col("n").cast("double") * F.lit(float(scale))
    )
    return (
        st.groupBy(*key_cols)
        .agg(
            F.first("_n").alias("n"),
            F.sum(F.when(F.col("_ah"), 1).otherwise(0)).alias("n_alarm_hi"),
            F.sum(F.when(F.col("_al"), 1).otherwise(0)).alias("n_alarm_lo"),
            F.coalesce(
                F.min(F.when(F.col("_ah"), F.col("_x"))), F.lit(-1).cast("long")
            ).alias("first_alarm_hi_x"),
            F.coalesce(
                F.min(F.when(F.col("_al"), F.col("_x"))), F.lit(-1).cast("long")
            ).alias("first_alarm_lo_x"),
            F.max("_sh").alias("_mh"),
            F.max("_sl").alias("_ml"),
        )
        .select(
            *key_cols,
            "n",
            "n_alarm_hi",
            "n_alarm_lo",
            "first_alarm_hi_x",
            "first_alarm_lo_x",
            F.round(F.col("_mh") / denom, out_dp).alias("max_cusum_hi"),
            F.round(F.col("_ml") / denom, out_dp).alias("max_cusum_lo"),
        )
    )


def psi_bins(
    df: DataFrame,
    value_col: str,
    base_pred: Column,
    group_cols: Sequence[str] = (),
    *,
    n_bins: int = 10,
    min_share: float = 0.0001,
    out_dp: int = 6,
) -> DataFrame:
    """Population Stability Index per group — the industry-standard
    "did this feature's distribution move between two periods" score,
    the VALUE-space companion to token_drift's KL: bin edges are the
    BASE side's deciles (the PSI convention), both sides histogram on
    them, and PSI = Σ (p−q)·ln(p/q) with zero shares clamped to
    ``min_share``.  Rule of thumb: <0.1 stable, 0.1-0.25 shifting,
    >0.25 drifted.

    Exactness doctrine: edges are 6-dp-rounded percentiles (the
    events_percentiles parity precedent) broadcast back; bin assignment
    is ``Σ (v > edge)`` strict comparisons over the edge array (same
    fold on both engines); shares smooth and round to 9 dp; each bin's
    PSI term quantizes to round(term·1e9) longs map-side so the
    cross-bin sum is order-independent (the concentration doctrine).

    Shape: one percentile aggregate over the base side (``approx``
    upstream of this operator at extreme scale), a broadcast of the
    group-cardinality edge table, ONE partial-combined (group, side,
    bin) count, and windows over ≤ n_bins rows per group.

    Output: one row per (group, bin): (*group_cols, bin, n_base,
    n_cur, base_share, cur_share, psi_term) — group PSI = sum of
    psi_term over its bins."""
    group_cols = list(group_cols)
    v = F.col(value_col).cast("double")
    probs = [i / n_bins for i in range(1, n_bins)]
    edges = (
        df.where(base_pred)
        .groupBy(*group_cols)
        .agg(
            F.array(
                *[F.round(F.percentile(v, p), 6) for p in probs]
            ).alias("_edges")
        )
    )
    binned = (
        df.select(*group_cols, v.alias("_v"), base_pred.alias("_is_base"))
        .join(F.broadcast(edges), group_cols)
        .select(
            *group_cols,
            "_is_base",
            F.aggregate(
                F.col("_edges"),
                F.lit(0),
                lambda acc, c: acc + F.when(F.col("_v") > c, 1).otherwise(0),
            ).alias("bin"),
        )
    )
    g = binned.groupBy(*group_cols, "bin").agg(
        F.sum(F.col("_is_base").cast("long")).alias("n_base"),
        F.sum((~F.col("_is_base")).cast("long")).alias("n_cur"),
    )
    w_all = Window.partitionBy(*group_cols)
    tb = F.sum("n_base").over(w_all).cast("double")
    tc = F.sum("n_cur").over(w_all).cast("double")
    ms = F.lit(float(min_share))
    p9 = F.round(F.greatest(F.col("n_base").cast("double") / tb, ms), 9)
    q9 = F.round(F.greatest(F.col("n_cur").cast("double") / tc, ms), 9)
    term9 = F.round((p9 - q9) * F.round(F.log(p9 / q9), 9), 9)
    return g.select(
        *group_cols,
        "bin",
        "n_base",
        "n_cur",
        F.round(p9, out_dp).alias("base_share"),
        F.round(q9, out_dp).alias("cur_share"),
        F.round(term9, out_dp).alias("psi_term"),
    )


def chi2_homogeneity(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    *,
    bin_width: int = 50,
    out_dp: int = 6,
) -> DataFrame:
    """Chi-square homogeneity test per group against the pooled
    distribution of an integer-valued column ("do all sources share
    the same length profile?") — the categorical-counts member of the
    audit family next to Benford (digits), KS (two samples) and PSI
    (two periods).

    ``value_col`` bins by INTEGER division ``v div bin_width``
    (engine-identical; no float floor).  Expected cell counts are the
    rational ``n_group · tot_bin / N``, so each cell's term
    ``(obs·N − n_group·tot_bin)² / (N·n_group·tot_bin)`` is one
    division of exact long cross-products, quantized to a 1e6 grid
    before the cross-bin sum (order-independent).  Overflow contract:
    ``(obs·N)² < 2^63`` — fine to ~3e9 rows; widen ``bin_width`` or
    pre-aggregate beyond that.

    Shape: one (group, bin) exchange with map-side combine; bin totals
    are bin-cardinality metadata BROADCAST back; N is a driver literal
    (the heavy_hitters threshold convention — a 1-row frame would
    constant-fold into the banned BNLJ); group sizes ride a
    group-partitioned window over the ≤bins rows.

    Output: (*group_cols, n, n_bins, chi2) — compare chi2 against the
    (n_bins−1)·(n_groups−1) dof critical value downstream."""
    group_cols = list(group_cols)
    b = F.expr(f"CAST({value_col} AS BIGINT) div {int(bin_width)}").alias("bin")
    counts = (
        df.select(*group_cols, b)
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    totals = counts.groupBy("bin").agg(F.sum("obs").alias("tot_bin"))
    n_total = int(df.count())  # metadata scalar, inlined as a literal
    w_grp = Window.partitionBy(*group_cols)
    joined = counts.join(F.broadcast(totals), "bin").withColumn(
        "_n_grp", F.sum("obs").over(w_grp)
    )
    num = (
        F.col("obs") * F.lit(n_total) - F.col("_n_grp") * F.col("tot_bin")
    ).cast("double")
    den = (
        F.lit(n_total).cast("long") * F.col("_n_grp") * F.col("tot_bin")
    ).cast("double")
    tq = F.round(num * num / den * F.lit(1e6), 0).cast("long")
    g = joined.groupBy(*group_cols).agg(
        F.max("_n_grp").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(tq).alias("_st"),
    )
    return g.select(
        *group_cols,
        "n",
        "n_bins",
        F.round(F.col("_st").cast("double") / F.lit(1e6), out_dp).alias("chi2"),
    )


def token_drift_hist(
    ho: DataFrame,
    hn: DataFrame,
    *,
    alpha: float = 0.5,
    vocab: int = 50257,
) -> DataFrame:
    """``token_drift`` over PRE-BUILT (token, n) histograms — for
    sources whose histogram is cheaper than an explode (e.g.
    seqkernel.token_counts_kernel's in-task partial combine).  Identical
    arithmetic and output."""
    n_old_total = ho.agg(F.sum("n")).collect()[0][0] or 0
    n_new_total = hn.agg(F.sum("n")).collect()[0][0] or 0
    j = ho.withColumnRenamed("n", "n_old").join(
        hn.withColumnRenamed("n", "n_new"), "token", "full_outer"
    )
    a = float(alpha)
    p_old = (F.coalesce(F.col("n_old"), F.lit(0)) + a) / F.lit(
        n_old_total + a * vocab
    )
    p_new = (F.coalesce(F.col("n_new"), F.lit(0)) + a) / F.lit(
        n_new_total + a * vocab
    )
    return (
        j.select(
            "token",
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            F.round(F.log(p_new / p_old), 6).alias("log_ratio"),
        )
        .orderBy("token")
    )


def novelty_curve_grams(g: DataFrame) -> DataFrame:
    """``novelty_curve`` over a PRE-BUILT (_b, g) gram-position frame
    (one row per full-window gram position, per-doc-deduped upstream —
    e.g. datagen.exploded_gram_positions over the deduped scalar
    spine).  Identical aggregation stack and output."""
    per_batch = g.groupBy("_b").agg(
        F.count("*").alias("n_pos"), F.countDistinct("g").alias("n_distinct")
    )
    first_seen = g.groupBy("g").agg(F.min("_b").alias("fb"))
    new_per_batch = first_seen.groupBy(F.col("fb").alias("_b")).agg(
        F.count("*").alias("n_new")
    )
    return (
        per_batch.join(new_per_batch, "_b", "left")
        .select(
            F.col("_b").alias("batch"),
            "n_pos",
            "n_distinct",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.round(
                F.coalesce("n_new", F.lit(0)) / F.col("n_distinct"), 6
            ).alias("novelty_frac"),
        )
        .orderBy("batch")
    )
