"""Streaming near-duplicate gate: stream-static probe of the MinHash
band index.

The online admission twin of ``operators/dedup.py``'s
``incremental_minhash_pairs``: documents arriving on a stream are
checked against the STATIC band index of the already-accepted corpus
before they enter it — the gate a continuously-ingesting curation
pipeline runs so near-duplicates of existing training data are flagged
(or dropped) at ingest time instead of by a nightly recompute.

Execution model — this is a STATELESS stream-static equi-join, a
Structured Streaming surface the rest of the repo's streaming operators
don't exercise (they are stateful: dedup state, session state, CEP
state, upsert state).  No watermark and no state store are involved:
each micro-batch computes signatures (the same Arrow kernel projection
the batch operators materialize, ``dedup.minhash_sigs``) + band hashes
MAP-SIDE for its churn-sized slice of documents and equi-joins the
static banded index relation (Catalyst picks broadcast when the index
fits, shuffled hash otherwise — at 100 TB the index side is a stored,
bucket-partitioned table so the probe co-locates without reshuffling
the index).  The verify step re-joins the static signature table on
the matched id; the probe's own signature rides its band rows
(churn-sized by definition — the fat-column budget the batch operator
enforces corpus-wide doesn't bind on a micro-batch).

Per-band duplicate candidates (a pair matching in k bands appears k
times) are deduplicated INSIDE the exactly-once sink per micro-batch —
deliberately not with a streaming ``dropDuplicates``, which would
allocate unbounded cross-batch state for what is a within-batch
artifact.

Reference analog: the dedup cache consulted on the hot ingest path
(src/consumer.rs:243-248) is record-identity; this gate is the
content-similarity refinement over the same admission point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import _band_explode, _banded_sigs, est_jaccard, minhash_sigs
from .sink import ExactlyOnceParquetSink


def build_neardup_alert_stream(
    stream_docs: DataFrame,
    index_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    reliable: bool = False,
) -> DataFrame:
    """Streaming (probe_id, index_id, est_jaccard) alerts: incoming
    docs whose signature similarity with an indexed doc is >=
    ``threshold``.  ``stream_docs`` is a streaming frame with
    ``id_col``/``text_col``; ``index_docs`` is the static accepted
    corpus (its signature/band tables are materialized once at stream
    start and reused by every micro-batch — the stored-index analog).
    May emit a pair once per matching band; the sink dedups per batch
    (see :class:`NeardupAlertSink`)."""
    sig_i, banded_i = _banded_sigs(
        index_docs, id_col, text_col, num_hashes, bands, reliable
    )
    probe = minhash_sigs(stream_docs, id_col, text_col, num_hashes).select(
        F.col("id").alias("probe_id"), F.col("sig").alias("psig")
    )
    probe_bands = probe.select(
        "probe_id",
        "psig",
        _band_explode(F.col("psig"), num_hashes, bands).alias("band", "band_hash"),
    )
    cand = probe_bands.join(banded_i, ["band", "band_hash"]).where(
        F.col("probe_id") != F.col("id")
    )
    paired = cand.join(sig_i.withColumnRenamed("sig", "isig"), "id")
    return (
        paired.select(
            "probe_id",
            F.col("id").alias("index_id"),
            est_jaccard("psig", "isig", num_hashes),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


class NeardupAlertSink(ExactlyOnceParquetSink):
    """Exactly-once alert sink: collapses the per-band candidate
    multiplicity WITHIN the micro-batch (no cross-batch state), then
    writes idempotently by batch id like the base sink."""

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        super().__call__(
            batch_df.dropDuplicates(["probe_id", "index_id"]), batch_id
        )


def probe_index_batch(
    probe_docs: DataFrame,
    index_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    reliable: bool = False,
) -> DataFrame:
    """Batch oracle form of the gate: the same probe over static
    frames, with the per-band multiplicity collapsed — what the union
    of all micro-batch alert files must equal (parity-tested)."""
    return build_neardup_alert_stream(
        probe_docs,
        index_docs,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        reliable=reliable,
    ).dropDuplicates(["probe_id", "index_id"])
