"""Training-data curation job — ship with spark-submit --py-files.

    spark-submit --py-files engine.zip jobs/run_curation.py \
        --input /data/documents --output s3://curated \
        --splits train=0.9 val=0.05 test=0.05 --budget 50000000000 \
        --repetition-gate --shuffle

Local smoke (this sandbox):

    python jobs/run_curation.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/curated

The batch companion to ``run_pipeline.py``: the corpus-curation stage a
training pipeline runs downstream of the streaming engine.  Stages (all
deterministic — rerunning the job reproduces byte-identical splits):

    read → repetition/quality gates (map-side HOF/regexp expressions)
         → optional exact dedup (md5 hash-groupBy, min-id winner)
         → optional benchmark decontamination (drop docs overlapping an
           eval corpus by distinct word 5-grams; broadcast gram join)
         → optional MinHash-LSH near-dedup (banded pairs → connected
           components → keep the canonical min-id doc per cluster)
         → optional PII scrub (email/IPv4/phone → typed placeholders,
           per-doc counts kept; last text-reading stage so hashes/
           grams upstream see the original bytes)
         → optional domain-mix rebalance toward uniform source shares
           under a char budget (aggregate-then-broadcast hash filter)
         → train/val/test hash split (map-side, no RNG)
         → optional deterministic shuffle order
         → parquet partitioned by split

Prints ONE JSON line of per-split counts (the job's manifest).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bitquery_kafka_streams_rust_spark.functions import text as TX  # noqa: E402
from bitquery_kafka_streams_rust_spark.operators import sampling as SAMP  # noqa: E402
from bitquery_kafka_streams_rust_spark.session import get_spark  # noqa: E402


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="corpus curation/split/export job")
    p.add_argument("--input", required=True, help="documents parquet (doc_id, text, source, n_chars)")
    p.add_argument("--output", required=True)
    p.add_argument("--splits", nargs="*", default=["train=0.9", "val=0.05", "test=0.05"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--budget", type=int, default=None,
                   help="total char budget; rebalances sources toward uniform shares")
    p.add_argument("--slice-terms", default=None, metavar="T1,T2",
                   help="BM25 corpus slice FIRST: keep only the "
                        "--slice-topk documents best matching these "
                        "comma-separated terms (operators/retrieval.py "
                        "bm25_topk) — 'pull the docs about X' before "
                        "any gate runs")
    p.add_argument("--slice-topk", type=int, default=10000)
    p.add_argument("--repetition-gate", action="store_true")
    p.add_argument("--exact-dedup", action="store_true",
                   help="drop exact-content duplicates (md5 hash-groupBy, min doc_id wins)")
    p.add_argument("--near-dedup-mode", choices=["minhash", "prefix"],
                   default="minhash",
                   help="candidate generation for --near-dedup: banded "
                        "MinHash LSH (probabilistic, signature-bounded) or "
                        "PPJoin prefix filtering (LOSSLESS exact n-gram "
                        "Jaccard; SIM rounds to a rational k/100)")
    p.add_argument("--near-dedup", type=float, default=None, metavar="SIM",
                   help="drop MinHash-LSH near-duplicates at signature similarity >= SIM "
                        "(banded candidate join -> connected components -> keep the "
                        "min-doc_id canonical per cluster)")
    p.add_argument("--min-quality", type=float, default=None)
    p.add_argument("--classifier-min-score", type=float, default=None, metavar="S",
                   help="hashed-BoW linear-classifier gate (functions/text.py "
                        "classifier_score): drop docs scoring below S — the "
                        "FineWeb-Edu/DCLM-style model-scored curation stage; "
                        "map-side, zero shuffle")
    p.add_argument("--decontaminate", default=None, metavar="EVAL_PARQUET",
                   help="drop docs sharing >= --decontaminate-min-shared distinct "
                        "word 5-grams with this eval/benchmark corpus "
                        "(broadcast eval-gram join; see dedup.decontaminate)")
    p.add_argument("--decontaminate-min-shared", type=int, default=2)
    p.add_argument("--scrub-pii", action="store_true",
                   help="redact emails/IPv4s/phones to typed placeholders "
                        "(keeps per-doc counts in pii_email/pii_ip/pii_phone)")
    p.add_argument("--temperature", type=float, default=None, metavar="ALPHA",
                   help="alpha-sampling domain mixture: share(source) ~ "
                        "(n_s/N)^alpha renormalized; tails upsample by "
                        "deterministic repetition (stage-7 hash)")
    p.add_argument("--audit-anonymity", type=int, default=None, metavar="K",
                   help="add a k-anonymity audit over (lang, source, "
                        "100-char length band) quasi-identifiers to the "
                        "manifest: effective k, at-risk classes/rows")
    p.add_argument("--audit-leakage", action="store_true",
                   help="add a split-leakage audit to the manifest: held-out "
                        "docs sharing >=2 word 3-grams with any train doc")
    p.add_argument("--shuffle", action="store_true", help="deterministic export order")
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def curate(docs, a: argparse.Namespace):
    if not a.splits:
        raise SystemExit("--splits requires at least one name=weight pair")
    if a.slice_terms:
        # targeted slice BEFORE the gates: all downstream stages see
        # only the matching subset.  bm25_topk's id list is a bounded
        # TakeOrdered heap (k rows); the semi-join is the only touch on
        # the corpus and AQE broadcasts the small side
        from bitquery_kafka_streams_rust_spark.operators.retrieval import bm25_topk

        terms = [t for t in a.slice_terms.split(",") if t]
        ids = bm25_topk(docs, terms, k=a.slice_topk).select("doc_id")
        docs = docs.join(ids, "doc_id", "left_semi")
    if a.repetition_gate:
        docs = docs.where(TX.repetition_gate(F.col("text")))
    if a.exact_dedup:
        # min-doc_id winner per content hash: one shuffle on a 16-byte
        # key, deterministic winner → reruns reproduce splits (reuses
        # the audited first-wins operator rather than re-deriving it)
        from bitquery_kafka_streams_rust_spark.operators import dedup as DDX

        docs = DDX.dedup_first_wins(
            docs.withColumn("_fp", TX.fingerprint_md5(F.col("text"))), "_fp", ["doc_id"]
        ).drop("_fp")
    if a.near_dedup is not None:
        # fuzzy dedup: banded-LSH candidate pairs (Arrow-kernel signatures)
        # → pointer-jumping connected components over the PAIR set →
        # anti-join the non-canonical cluster members out.  Losers per
        # cluster = all but the min doc_id, so the result is
        # deterministic and rerun-stable like every other stage.
        from bitquery_kafka_streams_rust_spark.operators import dedup as DD

        if a.near_dedup_mode == "prefix":
            # exact-Jaccard pairs, prefix-filter bounded (no LSH miss
            # rate); the float SIM quantizes to a rational over 100 so
            # every accept decision stays integer-exact
            num = max(1, min(100, int(round(a.near_dedup * 100))))
            pairs = DD.allpairs_prefix_jaccard(
                docs, threshold_num=num, threshold_den=100
            ).select(F.col("id_a"), F.col("id_b"))
        else:
            pairs = DD.minhash_lsh_pairs(docs, threshold=a.near_dedup)
        losers = (
            DD.connected_components(pairs)
            .where(F.col("id") != F.col("component"))
            .withColumnRenamed("id", "doc_id")
        )
        # plain anti-join (no broadcast hint): web-scale near-dup loser
        # sets run to 30-50% of the corpus — AQE picks broadcast itself
        # when the set turns out small
        docs = docs.join(losers.select("doc_id"), "doc_id", "left_anti")
    if a.min_quality is not None:
        docs = docs.where(TX.quality_score(F.col("text")) >= a.min_quality)
    if a.classifier_min_score is not None:
        # model-scored gate next to the heuristic one: same map-side
        # filter shape, score is a pure function of the text bytes so
        # the cut is rerun/cluster-size stable like every other stage
        docs = docs.where(
            TX.classifier_score(F.col("text")) >= a.classifier_min_score
        )
    if a.decontaminate:
        # benchmark decontamination BEFORE budget/split: contaminated
        # docs must never reach any split.  Eval grams broadcast; the
        # corpus pass is one gram explode + semi-join — cost O(corpus
        # grams), never pairwise.
        from bitquery_kafka_streams_rust_spark.operators import dedup as DDC

        eval_docs = docs.sparkSession.read.parquet(a.decontaminate)
        dirty = DDC.decontaminate(
            docs, eval_docs, min_shared=a.decontaminate_min_shared
        ).withColumnRenamed("id", "doc_id")
        docs = docs.join(dirty.select("doc_id"), "doc_id", "left_anti")
    if a.scrub_pii:
        # LAST text-reading stage: dedup hashes, quality scores and
        # decontamination grams all see the ORIGINAL bytes (the eval
        # corpus is unscrubbed — scrubbing first would break gram
        # overlap), so adding the scrub never changes which docs
        # survive.  Map-side regexp work only.
        n_email, n_ip, n_phone = TX.pii_counts(F.col("text"))
        docs = docs.select(
            *[c for c in docs.columns if c != "text"],
            TX.scrub_pii(F.col("text")).alias("text"),
            n_email.alias("pii_email"),
            n_ip.alias("pii_ip"),
            n_phone.alias("pii_phone"),
        )
    if a.budget is not None:
        # uniform target over observed sources (None), derived inside the
        # mix aggregate — no extra distinct-sources corpus pass.
        # DISTINCT stage vs the split below: the rebalance keep-filter and
        # the split share the id column, and same-stage hashes correlate
        # perfectly (every budget survivor would land in the first split).
        docs = SAMP.rebalance_to_mix(
            docs, None, total_budget=a.budget, seed=a.seed, stage=1
        )
    if a.temperature is not None:
        # alpha-sampling mixture AFTER the gates (multiplicities apply
        # to surviving docs only).  Copies keep the doc_id, so the
        # stage-2 split below sends every copy of a doc to the SAME
        # split — an upsampled doc can never leak across train/val.
        rs = SAMP.temperature_resample(docs, alpha=a.temperature, stage=7)
        docs = (
            docs.join(rs.select("doc_id", "n_copies"), "doc_id")
            .where(F.col("n_copies") > 0)
            .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("n_copies"))))
            .drop("n_copies")
        )
    weights = {k: float(v) for k, v in (s.split("=", 1) for s in a.splits)}
    out = SAMP.hash_split(docs, weights, seed=a.seed, stage=2)
    if a.shuffle:
        out = SAMP.shuffle_order(out, seed=a.seed, stage=3)
    return out


def main(argv: list[str] | None = None) -> int:
    a = parse_args(argv)
    spark = get_spark(app_name="corpus-curation", master=a.master)
    out = curate(spark.read.parquet(a.input), a)
    # manifest stats ride the write itself via observe() (like the
    # streaming sink's lineage counters) — no re-read of the exported
    # corpus.  One observation with per-split conditional aggregates:
    # split names are known from --splits, so this stays one pass.
    names = sorted({s.split("=", 1)[0] for s in a.splits})
    metrics = []
    for nm in names:
        is_split = F.col("split") == nm
        metrics.append(F.sum(F.when(is_split, 1).otherwise(0)).alias(f"n_{nm}"))
        metrics.append(
            F.sum(F.when(is_split, F.col("n_chars")).otherwise(0)).alias(f"c_{nm}")
        )
    from pyspark.sql import Observation

    obs = Observation("curation_manifest")
    out.observe(obs, *metrics).write.mode("overwrite").partitionBy("split").parquet(a.output)
    got = obs.get
    stats = {  # `or 0`: observe yields NULL sums on an empty export
        nm: {"n_docs": int(got[f"n_{nm}"] or 0), "sum_chars": int(got[f"c_{nm}"] or 0)}
        for nm in names
        if int(got[f"n_{nm}"] or 0) > 0
    }
    manifest = {"output": a.output, "splits": stats}
    if a.audit_leakage:
        # the audit a pipeline runs before trusting eval numbers: after
        # all curation stages, does the split still leak train content
        # into the held-out sides?  Same seed/stage as the actual split
        # (labels match the export); distinct doc_ids so --temperature
        # repetitions don't inflate gram counts.
        from bitquery_kafka_streams_rust_spark.operators.dedup import (
            split_leakage_report,
        )

        weights = {k: float(v) for k, v in (s.split("=", 1) for s in a.splits)}
        audit = split_leakage_report(
            out.select("doc_id", "text").dropDuplicates(["doc_id"]),
            weights,
            seed=a.seed,
            stage=2,
        )
        manifest["leakage"] = {
            r["split"]: {
                "n_docs": r["n_docs"],
                "n_leaked": r["n_leaked"],
                "leak_frac": r["leak_frac"],
            }
            for r in audit.collect()
        }
    if a.audit_anonymity is not None:
        # release gate: after PII scrub, do quasi-identifier classes
        # still isolate individual records?  Quasi columns are the
        # export's own metadata (lang × source × length band).
        from bitquery_kafka_streams_rust_spark.operators.privacy import (
            anonymity_summary,
            k_anonymity,
        )

        quasi = out.dropDuplicates(["doc_id"]).withColumn(
            "len_band", F.floor(F.col("n_chars") / 100).cast("int")
        )
        quasi_cols = [c for c in ("lang", "source") if c in quasi.columns]
        classes = k_anonymity(
            quasi, [*quasi_cols, "len_band"], k=a.audit_anonymity
        )
        s = anonymity_summary(classes).collect()[0]
        manifest["anonymity"] = {
            "k_requested": a.audit_anonymity,
            "k_effective": int(s["k_effective"]),
            "n_classes": int(s["n_classes"]),
            "rows_at_risk": int(s["rows_at_risk_k"]),
            "risk_share": float(s["risk_share_k"]),
        }
    print(json.dumps(manifest, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
