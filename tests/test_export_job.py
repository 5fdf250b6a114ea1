"""jobs/run_export.py: chunk/pack export correctness + determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import run_export as X

from bitquery_kafka_streams_rust_spark import datagen  # noqa: E402
from bitquery_kafka_streams_rust_spark.functions import tokens as TK  # noqa: E402
from bitquery_kafka_streams_rust_spark.operators import dedup as DD  # noqa: E402


def _deduped(spark, sf_dir):
    seq = datagen.sequences_view(spark, sf_dir)
    valid = seq.where(TK.is_valid_sequence("tokens", "n_tok"))
    return DD.dedup_first_wins(valid, "doc_id", ["ts", "doc_id"])


def test_export_chunk_partitions_tokens_exactly(spark, sf_dir, tmp_path):
    rc = X.main([
        "--sf-dir", sf_dir, "--output", str(tmp_path / "c"),
        "--mode", "chunk", "--context-len", "512",
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "c"))
    assert out.where(F.col("n_tok") > 512).count() == 0
    # overlap=0 chunking partitions every non-empty doc's tokens exactly
    want = (
        _deduped(spark, sf_dir).where("n_tok > 0").agg(F.sum("n_tok")).collect()[0][0]
    )
    got = out.agg(F.sum("n_tok")).collect()[0][0]
    assert got == want
    # chunk content is the doc's slice (spot-check one multi-chunk doc)
    doc = (
        _deduped(spark, sf_dir).where("n_tok > 600")
        .orderBy("doc_id").limit(1).collect()[0]
    )
    chunks = {
        int(r["example_id"].split("#")[1]): r["tokens"]
        for r in out.where(F.col("example_id").startswith(doc["doc_id"] + "#")).collect()
    }
    flat = [t for i in sorted(chunks) for t in chunks[i]]
    assert flat == list(doc["tokens"])


def test_export_pack_bins_and_determinism(spark, sf_dir, tmp_path):
    args = [
        "--sf-dir", sf_dir, "--output", str(tmp_path / "p"),
        "--mode", "pack", "--context-len", "2048", "--shuffle",
    ]
    rc = X.main(args)
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "p"))
    assert out.where(F.col("n_tok") > 2048).count() == 0
    assert out.where(F.size("tokens") != F.col("n_tok")).count() == 0
    # packing never drops tokens: every valid non-empty doc <= context
    # lands in exactly one bin
    want = (
        _deduped(spark, sf_dir)
        .where("n_tok > 0 AND n_tok <= 2048")
        .agg(F.sum("n_tok"))
        .collect()[0][0]
    )
    assert out.agg(F.sum("n_tok")).collect()[0][0] == want

    rc = X.main([a if not a.endswith("/p") else str(tmp_path / "q") for a in args])
    assert rc == 0
    b = spark.read.parquet(str(tmp_path / "q"))
    key = lambda df: sorted(
        (r["example_id"], tuple(r["tokens"])) for r in df.collect()
    )
    assert key(out) == key(b)


def test_export_pack_counts_oversize_drops(spark, sf_dir, tmp_path, capsys):
    """Docs longer than the context can't be packed — the manifest must
    report them, not silently shrink coverage."""
    import json as _json

    rc = X.main([
        "--sf-dir", sf_dir, "--output", str(tmp_path / "o"),
        "--mode", "pack", "--context-len", "512",
    ])
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_over = (
        _deduped(spark, sf_dir).where("n_tok > 512").count()
    )
    assert n_over > 0
    assert manifest["n_oversize_dropped"] == n_over
    out = spark.read.parquet(str(tmp_path / "o"))
    want = (
        _deduped(spark, sf_dir)
        .where("n_tok > 0 AND n_tok <= 512")
        .agg(F.sum("n_tok"))
        .collect()[0][0]
    )
    assert out.agg(F.sum("n_tok")).collect()[0][0] == want
    assert manifest["total_tokens"] == want


def test_export_pack_counts_empty_drops_and_dedup_is_narrow(
    spark, tmp_path, capsys
):
    """(a) Empty docs (n_tok == 0) are skipped by pack_greedy and must
    be counted in the manifest alongside oversize drops.  (b) The dedup
    stage must be a partially-aggregated min_by (mapper-local
    duplicates collapse BEFORE the exchange), not a fat-row
    row_number window."""
    import json as _json
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    rows = [
        ("d1", list(range(10)), 10, "web", t0),
        ("d1", list(range(10)), 10, "web", t0),       # bit-identical dup
        ("d2", [], 0, "web", t0),                     # empty → counted
        ("d3", list(range(600)), 600, "web", t0),     # oversize at 512
        ("d4", list(range(20)), 20, "web", t0),
    ]
    schema = (
        "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"
    )
    seq = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "seq_in")
    seq.write.parquet(in_dir)
    rc = X.main([
        "--input", in_dir, "--output", str(tmp_path / "o"),
        "--mode", "pack", "--context-len", "512",
    ])
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["n_empty_dropped"] == 1
    assert manifest["n_oversize_dropped"] == 1
    assert manifest["total_tokens"] == 30  # d1 (once) + d4
    out = spark.read.parquet(str(tmp_path / "o"))
    assert out.agg(F.sum("n_tok")).collect()[0][0] == 30

    # plan shape: dedup = ONE exchange, partial min_by before it (the
    # duplicate token arrays never all cross the shuffle)
    a = X.parse_args([
        "--input", in_dir, "--output", "x", "--mode", "chunk",
        "--context-len", "512",
    ])
    _, deduped = X.build_examples(spark, spark.read.parquet(in_dir), a)
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    assert "partial_min_by" in plan or "partial_min" in plan
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Window" not in plan


def test_export_cu_seqlens_boundaries(spark, sf_dir, tmp_path):
    """Both modes emit varlen attention boundaries: strictly increasing,
    starting at 0, ending at n_tok, and in pack mode partitioning the
    bin exactly at member-doc edges."""
    for mode in ("chunk", "pack"):
        rc = X.main([
            "--sf-dir", sf_dir, "--output", str(tmp_path / mode),
            "--mode", mode, "--context-len", "512",
        ])
        assert rc == 0
        out = spark.read.parquet(str(tmp_path / mode))
        bad = out.where(
            (F.try_element_at("cu_seqlens", F.lit(1)) != 0)
            | (F.try_element_at("cu_seqlens", F.lit(-1)) != F.col("n_tok"))
            | F.exists(
                F.zip_with(
                    F.slice("cu_seqlens", 1, F.size("cu_seqlens") - 1),
                    F.slice("cu_seqlens", 2, F.size("cu_seqlens") - 1),
                    lambda a, b: b <= a,
                ),
                lambda x: x,
            )
        ).count()
        assert bad == 0
    # pack mode: boundary count == member count + 1 (spot-check one bin)
    packed = spark.read.parquet(str(tmp_path / "pack"))
    multi = packed.where(F.size("cu_seqlens") > 2).limit(1).collect()
    assert multi, "expected at least one multi-doc bin"


def test_export_fim_mode_structure_and_parity(spark, sf_dir, tmp_path):
    """fim mode: every deduped doc exports exactly once (#fim or #raw);
    #fim examples decode back to the exact PSM parts that
    packing.fim_split certifies via checksums; --fim-rate gates the
    transform deterministically."""
    from bitquery_kafka_streams_rust_spark.operators.packing import fim_split

    rc = X.main([
        "--sf-dir", sf_dir, "--output", str(tmp_path / "f"),
        "--mode", "fim", "--fim-rate", "0.5",
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "f")).collect()
    ded = {r["doc_id"]: list(r["tokens"]) for r in _deduped(spark, sf_dir).collect()}
    ids = [r["example_id"] for r in out]
    assert len(ids) == len(ded) and len(set(ids)) == len(ids)
    PRE, SUF, MID = 50257, 50258, 50259
    cks = lambda p: sum((i + 1) * t for i, t in enumerate(p)) % 2**31
    expect = {
        r["doc_id"]: (r["mid_start"], r["mid_len"],
                      r["prefix_cksum"], r["middle_cksum"], r["suffix_cksum"])
        for r in fim_split(
            spark.createDataFrame(list(ded.items()), "doc_id string, tokens array<int>")
        ).collect()
    }
    n_fim = 0
    for r in out:
        doc_id, kind = r["example_id"].rsplit("#", 1)
        toks = list(r["tokens"])
        assert list(r["cu_seqlens"]) == [0, r["n_tok"]] and r["n_tok"] == len(toks)
        if kind == "raw":
            assert toks == ded[doc_id]
            continue
        n_fim += 1
        assert toks[0] == PRE and toks.count(SUF) == 1 and toks.count(MID) == 1
        i_suf, i_mid = toks.index(SUF), toks.index(MID)
        pre, suf, mid = toks[1:i_suf], toks[i_suf + 1 : i_mid], toks[i_mid + 1 :]
        ms, ml, pc, mc, sc = expect[doc_id]
        assert (cks(pre), cks(mid), cks(suf)) == (pc, mc, sc)
        assert len(pre) == ms - 1 and len(mid) == ml
        assert pre + mid + suf == ded[doc_id]
    # rate 0.5 split both ways; rate 0 -> all raw
    assert 0 < n_fim < len(ded)
    rc = X.main([
        "--sf-dir", sf_dir, "--output", str(tmp_path / "f0"),
        "--mode", "fim", "--fim-rate", "0",
    ])
    assert rc == 0
    assert all(
        r["example_id"].endswith("#raw")
        for r in spark.read.parquet(str(tmp_path / "f0")).select("example_id").collect()
    )


def test_export_bpe_merges_retokenize_before_chunking(spark, sf_dir, tmp_path):
    """--bpe-merges re-tokenizes the deduped corpus with the learned
    merge table before example construction: exported chunks glue back
    to bpe_apply(deduped), and total exported tokens SHRINK vs the raw
    export by exactly the number of merge applications."""
    import json as _json

    from bitquery_kafka_streams_rust_spark.operators.bpe import bpe_apply, bpe_train

    merges, _ = bpe_train(_deduped(spark, sf_dir), n_merges=2)
    assert merges, "fixture must yield at least one merge"
    mpath = tmp_path / "merges.json"
    mpath.write_text(_json.dumps(merges))

    rc = X.main([
        "--sf-dir", sf_dir, "--output", str(tmp_path / "b"),
        "--mode", "chunk", "--context-len", "512",
        "--bpe-merges", str(mpath),
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "b"))

    want_df = bpe_apply(_deduped(spark, sf_dir), merges)
    want_total = want_df.agg(F.sum(F.size("tokens"))).collect()[0][0]
    assert out.agg(F.sum("n_tok")).collect()[0][0] == want_total
    raw_total = (
        _deduped(spark, sf_dir).where("n_tok > 0").agg(F.sum("n_tok")).collect()[0][0]
    )
    assert want_total < raw_total  # merges actually fired

    # glue-back: one multi-chunk doc reassembles to its re-tokenized form
    doc = (
        want_df.where(F.size("tokens") > 600).orderBy("doc_id").limit(1).collect()[0]
    )
    chunks = {
        int(r["example_id"].split("#")[1]): list(r["tokens"])
        for r in out.where(
            F.col("example_id").startswith(doc["doc_id"] + "#")
        ).collect()
    }
    glued = [t for _, ts in sorted(chunks.items()) for t in ts]
    assert glued == list(doc["tokens"])
    # merged ids are present and the merged PAIR is absent post-rewrite
    m0 = merges[0]
    assert any(t == m0["new_tok"] for t in glued) or all(
        not (a == m0["left_tok"] and b == m0["right_tok"])
        for a, b in zip(glued, glued[1:])
    )


def test_export_span_mode_structure_and_parity(spark, sf_dir, tmp_path):
    """span mode: every deduped doc exports exactly once (#span or
    #raw); #span examples are inputs ++ targets exactly as
    packing.span_corrupt(emit='arrays') constructs them, with
    cu_seqlens marking the encoder/decoder boundary; --fim-rate gates
    eligibility deterministically."""
    from bitquery_kafka_streams_rust_spark.operators.packing import span_corrupt

    rc = X.main([
        "--sf-dir", sf_dir, "--output", str(tmp_path / "s"),
        "--mode", "span", "--fim-rate", "0.5",
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "s")).collect()
    ded = {r["doc_id"]: list(r["tokens"]) for r in _deduped(spark, sf_dir).collect()}
    ids = [r["example_id"] for r in out]
    assert len(ids) == len(ded) and len(set(ids)) == len(ids)
    expect = {
        r["doc_id"]: (list(r["inputs"]), list(r["targets"]))
        for r in span_corrupt(
            spark.createDataFrame(
                list(ded.items()), "doc_id string, tokens array<int>"
            ),
            emit="arrays",
        ).collect()
    }
    n_span = 0
    for r in out:
        doc_id, kind = r["example_id"].rsplit("#", 1)
        toks = list(r["tokens"])
        assert r["n_tok"] == len(toks)
        if kind == "raw":
            assert toks == ded[doc_id]
            assert list(r["cu_seqlens"]) == [0, r["n_tok"]]
            continue
        n_span += 1
        inp, tg = expect[doc_id]
        assert toks == inp + tg
        assert list(r["cu_seqlens"]) == [0, len(inp), len(inp) + len(tg)]
        # sentinels appear in inputs in ascending order, once each
        sents = [t for t in toks[: len(inp)] if t >= 60000]
        assert sents == sorted(sents) and len(sents) == len(set(sents))
    assert 0 < n_span < len(ded)
    rc = X.main([
        "--sf-dir", sf_dir, "--output", str(tmp_path / "s0"),
        "--mode", "span", "--fim-rate", "0",
    ])
    assert rc == 0
    assert all(
        r["example_id"].endswith("#raw")
        for r in spark.read.parquet(str(tmp_path / "s0")).select("example_id").collect()
    )
