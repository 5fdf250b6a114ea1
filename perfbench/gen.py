"""Seeded input generators.  The program under test sees only the files
written here, and the same seed always gives the same inputs.

- ``write_spine``: the streaming input, an arrival-ordered sequence
  spine cut into parquet files with the FIXTURES.md section-1
  properties: ~1% exact duplicates, ~5% rows up to 4 min late (always
  inside the 300 s watermark, so no row is dropped as late), ~0.5%
  zero-length rows, one source at ~60%, and ~0.5% malformed rows
  (declared length off by one, or a token outside the vocabulary).
- ``write_tables``: a small star schema plus ``documents`` and
  ``embeddings`` with the column names and types of the tables
  TESTDATA.md describes, for the batch contract queries.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257  # schemas.VOCAB_SIZE; repeated so generation needs no Spark import
MAX_TOK = 2048
SOURCES = ["pumpfun", "raydium", "orca", "meteora", "phoenix", "lifinity"]
SOURCE_P = [0.60, 0.12, 0.10, 0.08, 0.06, 0.04]
T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

SPINE_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), nullable=False)),
                 nullable=False),
        pa.field("n_tok", pa.int32(), nullable=False),
        pa.field("source", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def spine_table(rng: np.random.Generator, first_id: int, n: int, t_base_us: int,
                mean_tok: int) -> pa.Table:
    """``n`` arrival-ordered rows (duplicates included in ``n``)."""
    n_tok = np.minimum(rng.geometric(1.0 / mean_tok, n), MAX_TOK).astype(np.int32)
    n_tok[rng.random(n) < 0.005] = 0
    ids = np.arange(first_id, first_id + n)
    # arrival time: 10 ms apart; ~5% of rows carry an event time 1-4 min early
    ts = t_base_us + (ids - first_id) * 10_000
    late = rng.random(n) < 0.05
    ts = ts - late * rng.integers(60, 241, n) * 1_000_000
    src = rng.choice(len(SOURCES), n, p=SOURCE_P)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    flat = rng.integers(0, VOCAB, offsets[-1], dtype=np.int32)
    # ~1% exact duplicates: the row repeats an earlier row bit for bit
    dup = np.flatnonzero(rng.random(n) < 0.01)
    dup = dup[dup >= 8]
    src_row = dup - rng.integers(1, 8, dup.size)
    doc = np.char.add("doc", np.char.zfill(ids.astype(str), 9)).astype(object)
    lists = [flat[offsets[i]:offsets[i + 1]] for i in range(n)]
    for d, s in zip(dup, src_row):  # ascending, so a copied row is already final
        doc[d], n_tok[d], ts[d], src[d], lists[d] = doc[s], n_tok[s], ts[s], src[s], lists[s]
    declared = n_tok.copy()
    # ~0.5% malformed (never a duplicate, never zero-length)
    bad = np.flatnonzero((rng.random(n) < 0.005) & (n_tok > 0))
    bad = np.setdiff1d(bad, np.concatenate([dup, src_row]))
    for k, i in enumerate(bad):
        if k % 2:
            declared[i] += 1
        else:
            lists[i] = lists[i].copy()
            lists[i][-1] = VOCAB
    lens = np.array([len(x) for x in lists], np.int64)
    offs = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offs[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offs), pa.array(np.concatenate(lists)))
    return pa.Table.from_arrays(
        [
            pa.array(doc, pa.string()),
            tokens.cast(SPINE_SCHEMA.field("tokens").type),
            pa.array(declared, pa.int32()),
            pa.array(np.array(SOURCES, object)[src], pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=SPINE_SCHEMA,
    )


def write_spine(rng: np.random.Generator, out_dir: str, n_files: int, rows_per_file: int,
                mean_tok: int, prefix: str = "part") -> list[str]:
    """Write one spine of ``n_files * rows_per_file`` rows as ``n_files``
    parquet files in arrival order (duplicates may cross files, so dedup
    state spans epochs); return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    t = spine_table(rng, 0, n_files * rows_per_file, T0_US, mean_tok)
    paths = []
    for f in range(n_files):
        p = os.path.join(out_dir, f"{prefix}-{f:05d}.parquet")
        pq.write_table(t.slice(f * rows_per_file, rows_per_file), p)
        paths.append(p)
    return paths


WORDS = ("the a data row column table key value join merge sort order group agg "
         "filter scan hash window stream batch spark query line part customer vector "
         "fast slow big small").split()
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]


# one doc id in SHARE is drawn from each special residue class below
SHARE = 20


def _doc_ids(rng: np.random.Generator, n_docs: int) -> np.ndarray:
    """A seeded, sorted sample of ``n_docs`` ids from ``range(20 * n_docs)``.

    The queries derive each sequence from its id, so the sample changes
    lengths and tokens with the seed.  Two residue classes matter and
    get a fixed count on every seed: ids divisible by 97 are the
    decontamination queries' eval split, and an id ending in 99 aliases
    the id before it (the same sequence twice, which the dedup queries
    drop), so it is drawn together with that id."""
    span = 20 * n_docs
    k = n_docs // SHARE
    eval_ids = 97 * rng.choice(np.arange(1, span // 97), k, replace=False)  # 0 has no tokens
    pairs = 100 * rng.choice(span // 100, k, replace=False) + 98
    special = np.concatenate([eval_ids, pairs, pairs + 1])
    ids = np.arange(span)
    rest = ids[(ids % 97 != 0) & (ids % 100 != 99) & ~np.isin(ids, special)]
    fill = rng.choice(rest, n_docs - special.size, replace=False)
    return np.sort(np.concatenate([special, fill])).astype(np.int64)


def write_tables(rng: np.random.Generator, out_dir: str, n_docs: int, n_orders: int) -> None:
    """Tables read by the batch workload's queries, shaped like the
    TESTDATA.md tables (one parquet file each)."""
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    doc_id = _doc_ids(rng, n_docs)
    n_words = rng.integers(8, 90, n_docs)
    text = [" ".join(rng.choice(WORDS, k)) for k in n_words]
    # a fixed share of near-duplicate texts (one word changed), so the
    # MinHash pair query finds pairs on every seed
    near = rng.choice(n_docs, 2 * (n_docs // SHARE), replace=False)
    for a, b in zip(near[0::2], near[1::2]):
        words = text[a].split()
        words[rng.integers(len(words))] = str(rng.choice(WORDS))
        text[b] = " ".join(words)
    put("documents", {
        "doc_id": doc_id,
        "text": text,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], np.int64),
    })
    emb = rng.normal(0, 0.12, (n_docs, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    put("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n_cust = max(n_orders // 10, 10)
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"], n_cust),
    })
    day = np.datetime64("1995-01-01", "us")
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": day + rng.integers(0, 2400, n_orders) * np.timedelta64(1, "D"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    n_li = 4 * n_orders
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, 200, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 10, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": day + rng.integers(0, 2500, n_li) * np.timedelta64(1, "D"),
    })
