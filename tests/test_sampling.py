"""Deterministic sampling/split/shuffle operators (training-data curation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bitquery_kafka_streams_rust_spark.operators import sampling as SAMP


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_hash_split_covers_and_is_deterministic(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = SAMP.hash_split(docs, w).groupBy("split").count().collect()
    b = SAMP.hash_split(docs, w).groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {r["split"]: r["count"] for r in a}
    total = docs.count()
    assert sum(counts.values()) == total  # disjoint exact cover
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / total - 0.8) < 0.1


def test_hash_split_is_content_stable(spark, sf_dir):
    """The split of a given doc_id never depends on the rest of the data
    — subset rows get the same labels the full table gave them."""
    docs = _docs(spark, sf_dir)
    full = {
        r["doc_id"]: r["split"]
        for r in SAMP.hash_split(docs, {"a": 0.5, "b": 0.5}).select("doc_id", "split").collect()
    }
    sub = SAMP.hash_split(docs.where(F.col("doc_id") % 7 == 0), {"a": 0.5, "b": 0.5})
    for r in sub.select("doc_id", "split").collect():
        assert full[r["doc_id"]] == r["split"]


def test_hash_split_seed_changes_assignment(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = SAMP.hash_split(docs, {"x": 0.5, "y": 0.5}, seed=0).select("doc_id", "split")
    b = SAMP.hash_split(docs, {"x": 0.5, "y": 0.5}, seed=1).select("doc_id", "split")
    diff = a.join(b.withColumnRenamed("split", "split_b"), "doc_id").where(
        F.col("split") != F.col("split_b")
    )
    assert diff.count() > 0


def test_hash_split_no_shuffle(spark, sf_dir):
    plan = SAMP.hash_split(_docs(spark, sf_dir), {"a": 0.9, "b": 0.1})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stratified_frac_rate_and_no_shuffle(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    fr = {"src0": 0.5, "src1": 1.0}
    samp = SAMP.stratified_sample_frac(docs, fr, strata_col="source")
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side filter
    base = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    got = {r["source"]: r["count"] for r in samp.groupBy("source").count().collect()}
    assert set(got) <= set(fr)  # default_frac=0 drops unlisted strata
    assert got.get("src1", 0) == base["src1"]  # frac 1.0 keeps all
    assert abs(got.get("src0", 0) / base["src0"] - 0.5) < 0.25


def test_stratified_exact_counts_and_group_limit(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n = 5
    samp = SAMP.stratified_sample_exact(docs, n, strata_col="source")
    base = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    got = {r["source"]: r["count"] for r in samp.groupBy("source").count().collect()}
    for src, cnt in base.items():
        assert got.get(src, 0) == min(n, cnt)
    # rank filter is pushed below the final sort (shuffle carries <= n
    # candidates per stratum per map task, not the corpus)
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    # deterministic pick
    a = sorted(r["doc_id"] for r in samp.select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in SAMP.stratified_sample_exact(docs, n, strata_col="source").select("doc_id").collect()
    )
    assert a == b


def test_shuffle_order_is_permutation_and_stable(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = [r["doc_id"] for r in SAMP.shuffle_order(docs).select("doc_id").collect()]
    b = [r["doc_id"] for r in SAMP.shuffle_order(docs).select("doc_id").collect()]
    assert a == b  # rerun-identical order
    assert sorted(a) == sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert a != sorted(a)  # actually shuffled, not storage order
    c = [r["doc_id"] for r in SAMP.shuffle_order(docs, seed=3).select("doc_id").collect()]
    assert c != a  # seed changes the permutation


def test_hash_frac_matches_python_replay(spark):
    """The mixing hash is portable arithmetic: the Spark column and a
    pure-Python replay (== what the DuckDB oracles inline) agree, and
    the fraction is always in [0, 1)."""
    ids = [0, 1, 2, 7, 100, 12345, 10**6, 3 * 10**6 + 17]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", SAMP.hash_frac(F.col("doc_id"), seed=4).alias("f")).collect()
    }
    for i in ids:
        expect = ((i + 4) * 2654435761 % 2**31) / 2**31
        assert got[i] == expect
        assert 0.0 <= got[i] < 1.0


def test_hash_frac_big_ids_no_ansi_overflow(spark):
    """ids beyond 2^31 (the 10^12-row id space) must hash without ANSI
    long overflow: the pre-multiply 31-bit mask makes the product
    bounded, and for ids < 2^31 it is the identity (bit-compatible with
    the unmasked oracle arithmetic — checked above)."""
    ids = [2**31 - 1, 2**31, 2**33 + 5, 10**12, 4 * 10**12 + 7]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", SAMP.hash_frac(F.col("doc_id")).alias("f")
        ).collect()
    }
    for i in ids:
        expect = ((i % 2**31) * 2654435761 % 2**31) / 2**31
        assert got[i] == expect
        assert 0.0 <= got[i] < 1.0
    # staged path too (XOR salt then mask) — no overflow either
    df.select(SAMP.hash_frac(F.col("doc_id"), stage=3).alias("f")).collect()


def test_mix_weights_and_rebalance(spark, sf_dir):
    """Uniform target over 20 equal strata with budget = half the corpus
    → every keep_frac ~0.5 and the kept share lands near the budget;
    oversized budget → keep_frac 1.0 keeps everything."""
    docs = _docs(spark, sf_dir)
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    shares = {s: 1.0 for s in sources}
    total_chars = docs.agg(F.sum("n_chars")).collect()[0][0]

    w = {r["source"]: r["keep_frac"] for r in
         SAMP.mix_weights(docs, shares, total_budget=total_chars // 2).collect()}
    assert set(w) == set(sources)
    assert all(0.0 < kf <= 1.0 for kf in w.values())

    kept = SAMP.rebalance_to_mix(docs, shares, total_budget=total_chars // 2)
    kept_chars = kept.agg(F.sum("n_chars")).collect()[0][0]
    assert abs(kept_chars / (total_chars / 2) - 1.0) < 0.2

    all_w = SAMP.mix_weights(docs, shares, total_budget=total_chars * 10)
    assert all(r["keep_frac"] == 1.0 for r in all_w.collect())
    assert SAMP.rebalance_to_mix(docs, shares, total_budget=total_chars * 10).count() == docs.count()


def test_sampling_stages_are_streaming_safe(spark, sf_dir, tmp_path):
    """hash_split + stratified_sample_frac are stateless map-side
    expressions, so they slot into a readStream plan unchanged and the
    stream emits exactly the rows the batch plan keeps (the streaming
    curation path; stratified_sample_exact is the batch-only variant —
    its global window is unsupported on streams by design)."""
    from bitquery_kafka_streams_rust_spark import datagen

    d = str(tmp_path / "batches")
    datagen.write_sequence_batches(spark, sf_dir, d, n_batches=2)
    batch = spark.read.parquet(d)

    def curate(df):
        split = SAMP.hash_split(df, {"train": 0.9, "heldout": 0.1}, id_col="n_tok")
        return SAMP.stratified_sample_frac(
            split.where(F.col("split") == "train"),
            {"pumpfun": 1.0, "raydium": 0.5},
            strata_col="source",
            id_col="n_tok",
        ).select("doc_id", "source", "split")

    expected = {tuple(r) for r in curate(batch).collect()}
    stream = spark.readStream.schema(batch.schema).parquet(d)
    q = (
        curate(stream)
        .writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM curated_stream").collect()}
    assert got == expected and len(got) > 0


def test_curation_job_cli_end_to_end(spark, sf_dir, tmp_path):
    """jobs/run_curation.py: gate → budget rebalance → split → shuffle →
    partitioned parquet, and a rerun reproduces byte-identical splits."""
    import run_curation as J

    args = [
        "--input", f"{sf_dir}/documents.parquet",
        "--repetition-gate", "--budget", "40000", "--shuffle",
        "--splits", "train=0.8", "val=0.2",
    ]
    rc = J.main([*args, "--output", str(tmp_path / "a")])
    assert rc == 0
    a = spark.read.parquet(str(tmp_path / "a"))
    # BOTH splits must be populated: the budget keep-filter and the
    # split use distinct hash stages, so survivors still split ~80/20
    # (same-stage hashes correlate perfectly and would empty 'val')
    counts = {r["split"]: r["count"] for r in a.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val"} and all(v > 0 for v in counts.values())
    total = sum(counts.values())
    assert abs(counts["train"] / total - 0.8) < 0.15
    assert 0 < total < spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    rc = J.main([*args, "--output", str(tmp_path / "b")])
    assert rc == 0
    b = spark.read.parquet(str(tmp_path / "b"))
    key = lambda df: sorted(map(tuple, df.select("doc_id", "split").collect()))
    assert key(a) == key(b)


def test_curation_cli_exact_dedup(spark, sf_dir, tmp_path):
    """--exact-dedup drops duplicate-content docs (min doc_id wins) and
    the export carries no duplicate texts."""
    import run_curation as J

    rc = J.main([
        "--input", f"{sf_dir}/documents.parquet",
        "--exact-dedup", "--splits", "all=1.0",
        "--output", str(tmp_path / "d"),
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "d"))
    n_rows = out.count()
    n_texts = out.select("text").distinct().count()
    assert n_rows == n_texts > 0
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert n_texts == src.select("text").distinct().count()


def test_curation_cli_near_dedup(spark, sf_dir, tmp_path):
    """--near-dedup drops LSH near-duplicate cluster members (keeping
    the min-id canonical) and reruns reproduce the identical survivor
    set."""
    import run_curation as J

    from bitquery_kafka_streams_rust_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.8)
    n_losers = (
        DD.connected_components(pairs).where("id != component").count()
    )
    assert n_losers > 0  # the fixture carries near-dups by construction

    args = [
        "--input", f"{sf_dir}/documents.parquet",
        "--near-dedup", "0.8", "--splits", "all=1.0",
    ]
    rc = J.main([*args, "--output", str(tmp_path / "a")])
    assert rc == 0
    a = spark.read.parquet(str(tmp_path / "a"))
    assert a.count() == docs.count() - n_losers
    rc = J.main([*args, "--output", str(tmp_path / "b")])
    assert rc == 0
    b = spark.read.parquet(str(tmp_path / "b"))
    assert sorted(r["doc_id"] for r in a.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in b.select("doc_id").collect()
    )


def test_curation_cli_near_dedup_prefix_mode(spark, sf_dir, tmp_path):
    """--near-dedup-mode prefix swaps LSH candidates for the LOSSLESS
    PPJoin pair set: survivors equal exact-Jaccard clustering."""
    import run_curation as J

    from bitquery_kafka_streams_rust_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = DD.allpairs_prefix_jaccard(docs, threshold_num=80, threshold_den=100)
    losers = DD.connected_components(
        pairs.select("id_a", "id_b")
    ).where("id != component")
    n_losers = losers.count()
    assert n_losers > 0

    rc = J.main([
        "--input", f"{sf_dir}/documents.parquet",
        "--near-dedup", "0.8", "--near-dedup-mode", "prefix",
        "--splits", "all=1.0",
        "--output", str(tmp_path / "p"),
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "p"))
    assert out.count() == docs.count() - n_losers


def test_quality_buckets_approx_tracks_exact_ntile(spark, sf_dir):
    """The sketch-cutoff binning agrees with exact ntile(4) for ~all
    docs (only sketch-boundary docs may shift one bucket)."""
    from pyspark.sql import Window

    from bitquery_kafka_streams_rust_spark.functions import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select("doc_id", TX.quality_score(F.col("text")).alias("q"))
    w = Window.orderBy(F.col("q").asc(), F.col("doc_id").asc())
    exact = {r["doc_id"]: r["b"] for r in
             scored.withColumn("b", F.ntile(4).over(w)).select("doc_id", "b").collect()}
    approx = {r["doc_id"]: r["bucket"] for r in
              SAMP.quality_buckets_approx(scored, "q").select("doc_id", "bucket").collect()}
    assert set(approx.values()) <= {1, 2, 3, 4}
    agree = sum(exact[d] == approx[d] for d in exact)
    assert agree / len(exact) > 0.9
    # NOTE: the one-bucket bound holds when no single tied score spans
    # 3+ quartiles (value-binning puts ties in ONE bucket; ntile splits
    # them by rank).  True on this fixture (largest tie group ~1% of
    # docs) — revisit if datagen's score distribution changes.
    assert all(abs(exact[d] - approx[d]) <= 1 for d in exact)
    # the bucket assignment itself is a map-side CASE: no window, no
    # global sort in the physical plan (the only aggregate is the sketch)
    plan = SAMP.quality_buckets_approx(scored, "q")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort " not in plan


def test_quality_buckets_hist_tracks_exact_ntile(spark, sf_dir):
    """The histogram-cutoff binning (the CONTRACT plan since round 3)
    agrees with exact ntile(4) except at bin-granular boundaries, and
    its physical plan has no window / global sort at all."""
    from pyspark.sql import Window

    from bitquery_kafka_streams_rust_spark.functions import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select("doc_id", TX.quality_score(F.col("text")).alias("q"))
    w = Window.orderBy(F.col("q").asc(), F.col("doc_id").asc())
    exact = {r["doc_id"]: r["b"] for r in
             scored.withColumn("b", F.ntile(4).over(w)).select("doc_id", "b").collect()}
    hist_df = SAMP.quality_buckets_hist(scored, "q", n_buckets=4, resolution=4096)
    hist = {r["doc_id"]: r["bucket"] for r in hist_df.select("doc_id", "bucket").collect()}
    assert set(hist.values()) <= {1, 2, 3, 4}
    agree = sum(exact[d] == hist[d] for d in exact)
    assert agree / len(exact) > 0.9
    assert all(abs(exact[d] - hist[d]) <= 1 for d in exact)
    # scale-plan shape: map-side CASE only — the histogram pass already
    # ran (metadata collect), the returned plan must have no Window/Sort
    plan = hist_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort " not in plan


def test_quality_buckets_hist_null_and_empty(spark):
    """NULL scores land in bucket 1 (ntile ASC NULLS FIRST convention);
    an empty frame yields NULL buckets without error."""
    df = spark.createDataFrame(
        [(1, None), (2, 0.1), (3, 0.5), (4, 0.9), (5, 0.95)],
        "doc_id long, q double",
    )
    got = {r["doc_id"]: r["bucket"] for r in SAMP.quality_buckets_hist(df, "q").collect()}
    assert got[1] == 1 and got[2] <= 2 and got[5] == 4
    assert sorted(got.values()) == [1, 1, 2, 3, 4]
    empty = spark.createDataFrame([], "doc_id long, q double")
    assert SAMP.quality_buckets_hist(empty, "q").count() == 0


def test_hash_frac_stage_decorrelates_composed_filters(spark):
    """Same-stage composition correlates perfectly (affine hash);
    distinct stages restore the expected conditional rate."""
    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    kept_same = df.where(SAMP.hash_frac(F.col("doc_id")) < 0.3)
    cond_same = kept_same.where(SAMP.hash_frac(F.col("doc_id")) < 0.8).count() / kept_same.count()
    assert cond_same == 1.0  # the trap this test pins

    kept = df.where(SAMP.hash_frac(F.col("doc_id"), stage=1) < 0.3)
    cond = kept.where(SAMP.hash_frac(F.col("doc_id"), stage=2) < 0.8).count() / kept.count()
    assert abs(cond - 0.8) < 0.05


def test_curation_cli_decontaminate(spark, sf_dir, tmp_path):
    """--decontaminate drops exactly the docs sharing >= min-shared
    distinct word 5-grams with the eval corpus (and nothing else)."""
    import run_curation as J

    from bitquery_kafka_streams_rust_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # eval set = every 7th doc, written out as its own corpus
    ev = docs.where(F.col("doc_id") % 7 == 0)
    ev_path = str(tmp_path / "eval")
    ev.write.parquet(ev_path)
    rc = J.main([
        "--input", f"{sf_dir}/documents.parquet",
        "--decontaminate", ev_path, "--decontaminate-min-shared", "2",
        "--splits", "all=1.0", "--output", str(tmp_path / "c"),
    ])
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "c")).collect()}
    dirty = {
        r["id"] for r in DD.decontaminate(docs, ev, min_shared=2).collect()
    }
    assert dirty, "eval docs must contaminate at least themselves"
    assert kept == {
        r["doc_id"] for r in docs.collect()
    } - dirty


def test_weighted_sample_exact_size_and_determinism(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = SAMP.weighted_sample_exact(docs, "n_chars", 20, seed=5)
    b = SAMP.weighted_sample_exact(docs, "n_chars", 20, seed=5)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert ids_a == ids_b and len(ids_a) == 20
    # output keeps the input schema (priority column dropped)
    assert a.columns == docs.columns


def test_weighted_sample_prefers_heavy_rows(spark):
    """One row with 1000x the weight of 50 others must be drawn far
    more often than 1/51 of the time across independent seeds (A-ES
    inclusion probability is proportional-ish to weight for k=1)."""
    rows = [(0, 100000)] + [(i, 100) for i in range(1, 51)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    hits = 0
    for seed in range(30):
        picked = SAMP.weighted_sample_exact(df, "w", 1, seed=seed).collect()
        hits += picked[0]["doc_id"] == 0
    assert hits >= 20  # uniform would give ~0.6 expected hits


def test_weighted_sample_excludes_nonpositive_weights(spark):
    rows = [(1, 0), (2, -5), (3, 10), (4, 10)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = {r["doc_id"] for r in SAMP.weighted_sample_exact(df, "w", 4).collect()}
    assert out == {3, 4}


def test_weighted_sample_plan_is_take_ordered(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    plan = (
        SAMP.weighted_sample_exact(docs, "n_chars", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # bounded per-partition heaps


def test_curation_cli_scrub_pii(spark, sf_dir, tmp_path):
    """--scrub-pii redacts without changing which docs survive, and
    keeps the per-doc counts."""
    import run_curation as J

    from bitquery_kafka_streams_rust_spark.functions import text as TX2

    # inject one email into a copy of the corpus so the scrub has work
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spiked = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" mail me a@b.io")),
        ).otherwise(F.col("text")),
    )
    in_path = str(tmp_path / "in")
    spiked.write.parquet(in_path)
    rc = J.main([
        "--input", in_path, "--scrub-pii",
        "--splits", "all=1.0", "--output", str(tmp_path / "out"),
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {"pii_email", "pii_ip", "pii_phone"} <= set(out.columns)
    assert out.count() == spiked.count()  # scrub never drops docs
    scrubbed = out.where(F.col("pii_email") > 0)
    assert scrubbed.count() == spiked.where(F.col("doc_id") % 11 == 0).count()
    assert scrubbed.where(F.col("text").contains("a@b.io")).count() == 0
    assert scrubbed.where(F.col("text").contains("<EMAIL>")).count() == scrubbed.count()


def test_temperature_resample_semantics(spark):
    from bitquery_kafka_streams_rust_spark.operators.sampling import (
        temperature_resample,
    )

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # alpha=1: natural mix — every rate 1.0, every doc exactly once
    nat = temperature_resample(df, alpha=1.0).collect()
    assert all(r["rate"] == 1.0 and r["n_copies"] == 1 for r in nat)
    # alpha=0: uniform target — each group aims at N/k docs
    uni = temperature_resample(df, alpha=0.0)
    agg = {
        r["source"]: (r["rate"], r["n"])
        for r in uni.groupBy("source")
        .agg(F.max("rate").alias("rate"), F.sum("n_copies").alias("n"))
        .collect()
    }
    assert abs(agg["big"][0] - 50 / 80) < 1e-9     # downsampled
    assert abs(agg["small"][0] - 50 / 20) < 1e-9   # upsampled 2.5x
    assert agg["small"][1] >= 2 * 20               # every small doc >= floor(2.5)
    # realized size tracks the budget (hash draw is unbiased-ish)
    total_out = sum(v[1] for v in agg.values())
    assert abs(total_out - 100) <= 15
    # deterministic under repartitioning
    again = {
        (r["doc_id"], r["n_copies"])
        for r in temperature_resample(df.repartition(7), alpha=0.0).collect()
    }
    assert again == {(r["doc_id"], r["n_copies"]) for r in uni.collect()}


def test_curation_cli_temperature(spark, sf_dir, tmp_path):
    """--temperature: tails upsample by repetition; copies of a doc
    never straddle splits; rerun reproduces the identical export."""
    import run_curation as J

    # the sf fixtures are source-uniform (alpha-sampling is an identity
    # there) — synthesize a skewed corpus: 400 head docs vs 40 tail
    rows = [
        (i, f"document body number {i} with some words", "head" if i < 400 else "tail", 40)
        for i in range(440)
    ]
    src_in = str(tmp_path / "docs_in")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src_in)
    args = [
        "--input", src_in,
        "--temperature", "0.3",
        "--splits", "train=0.8", "val=0.2",
    ]
    rc = J.main([*args, "--output", str(tmp_path / "t1")])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "t1"))
    # upsampled corpus: tail docs appear more than once, with copy_idx
    per_doc = out.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.countDistinct("split").alias("ns")
    )
    assert per_doc.where(F.col("n") > 1).count() > 0
    assert per_doc.agg(F.max("ns")).first()[0] == 1  # no cross-split leak
    # flattening: with alpha=0.3 realized source counts are closer to
    # uniform than the natural mix
    src = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    nat = {"head": 400, "tail": 40}
    import statistics

    cv = lambda d: statistics.pstdev(d.values()) / statistics.mean(d.values())
    assert cv(src) < cv(nat)
    rc = J.main([*args, "--output", str(tmp_path / "t2")])
    assert rc == 0
    key = lambda df: sorted(
        map(tuple, df.select("doc_id", "copy_idx", "split").collect())
    )
    assert key(out) == key(spark.read.parquet(str(tmp_path / "t2")))


def test_curation_cli_leakage_audit(spark, sf_dir, tmp_path, capsys):
    import json as _json
    import run_curation as J

    rc = J.main([
        "--input", f"{sf_dir}/documents.parquet",
        "--output", str(tmp_path / "la"),
        "--splits", "train=0.9", "val=0.05", "test=0.05",
        "--audit-leakage",
    ])
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    m = _json.loads(line)
    assert set(m["leakage"]) <= {"val", "test"}
    for v in m["leakage"].values():
        assert 0 <= v["n_leaked"] <= v["n_docs"]
        assert abs(v["leak_frac"] - round(v["n_leaked"] / v["n_docs"], 6)) < 1e-9


def test_round_half_up_matches_sql_convention():
    """Driver-side literals must round like F.round/DuckDB (HALF_UP),
    not Python's banker's round (ADVICE r5): exact halves go UP."""
    from bitquery_kafka_streams_rust_spark.operators.sampling import _round_half_up

    assert _round_half_up(2.5, 0) == 3.0 and round(2.5) == 2
    assert _round_half_up(0.125, 2) == 0.13 and round(0.125, 2) == 0.12
    assert _round_half_up(1.0000000005, 9) == 1.000000001


def test_mix_weights_uniform_zero_size_stratum(spark):
    """A stratum whose total size is 0 (or NULL) keeps everything
    (keep_frac 1.0) instead of raising ZeroDivisionError — the column
    form's least(1.0, Inf) semantics (ADVICE r5)."""
    df = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 0), (3, "b", 0), (4, "c", None)],
        "doc_id long, source string, n_chars int",
    )
    w = {
        r["source"]: r["keep_frac"]
        for r in SAMP.mix_weights(df, None, total_budget=50).collect()
    }
    assert w["b"] == 1.0 and w["c"] == 1.0
    assert 0.0 < w["a"] < 1.0  # 50 * (1/3) / 100


def test_curation_cli_slice_terms(spark, sf_dir, tmp_path):
    """--slice-terms keeps exactly the BM25 top-k id set — the export
    is the targeted slice, and every kept doc matches a query term."""
    import run_curation as J

    from bitquery_kafka_streams_rust_spark.operators.retrieval import bm25_topk

    rc = J.main([
        "--input", f"{sf_dir}/documents.parquet",
        "--slice-terms", "hash,merge", "--slice-topk", "40",
        "--splits", "all=1.0",
        "--output", str(tmp_path / "s"),
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "s"))
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {r["doc_id"] for r in bm25_topk(docs, ["hash", "merge"], k=40).collect()}
    assert got == want and len(got) > 0
    # every sliced doc actually contains a query term
    hit = out.where(F.lower(F.col("text")).rlike(r"\b(hash|merge)\b")).count()
    assert hit == out.count()


def test_importance_resample_prefers_target_vocab(spark):
    """Disjoint vocabularies: every kept doc is from the target-like
    slice (its words' buckets carry positive log-ratios), and the cut
    size is ceil(keep_frac * n)."""
    from bitquery_kafka_streams_rust_spark.operators.sampling import (
        importance_resample,
    )

    rows = [(i, "alpha beta gamma", "en", "tgt", 16) for i in range(10)] + [
        (i + 10, "delta epsilon zeta", "en", "other", 18) for i in range(10)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    kept = importance_resample(docs, "tgt", dim=64, keep_frac=0.5).collect()
    assert len(kept) == 10
    assert {r["source"] for r in kept} == {"tgt"}
    assert all(r["importance"] > 0 for r in kept)


def test_importance_resample_empty_text_scores_zero(spark):
    from bitquery_kafka_streams_rust_spark.operators.sampling import (
        importance_resample,
    )

    docs = spark.createDataFrame(
        [(1, "", "en", "a", 0), (2, "word", "en", "b", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r["importance"]
           for r in importance_resample(docs, "a", keep_frac=1.0).collect()}
    assert out[1] == 0.0 and len(out) == 2


def test_curation_cli_anonymity_audit(spark, sf_dir, tmp_path, capsys):
    import json as _json
    import run_curation as J

    rc = J.main([
        "--input", f"{sf_dir}/documents.parquet",
        "--output", str(tmp_path / "ka"),
        "--splits", "train=1.0",
        "--audit-anonymity", "5",
    ])
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    m = _json.loads(line)
    a = m["anonymity"]
    assert a["k_requested"] == 5 and a["k_effective"] >= 1
    assert 0 <= a["rows_at_risk"] <= sum(s["n_docs"] for s in m["splits"].values())
    assert abs(
        a["risk_share"]
        - round(a["rows_at_risk"] / sum(s["n_docs"] for s in m["splits"].values()), 6)
    ) < 1e-9
