"""Seeded inputs for the benchmark.

``write_tables`` writes the ten tables the declared queries read, one
parquet file each, with the schemas and value domains of the engine's
fixture family (FIXTURES.md, part B): TPC-H-ish star schema, an events
stream with JSON props, a word-level text corpus with near-duplicate
families, and unit-norm embeddings. ``write_genome`` writes the k-mer
workload's corpus: ACGT chromosomes with planted repeats.

The same seed always yields byte-identical values; the row counts never
depend on the seed, so two seeds do the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "hot", "red"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
EMBED_DIM = 64

# the sf0.001 row counts of the fixture family
ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences from a 30-word vocabulary; about one doc in
    ten belongs to a near-duplicate family (a base doc plus variants
    that drop or append a trailing word), as in the fixture corpus."""
    texts: list[str] = []
    while len(texts) < n:
        words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
        if rng.random() < 0.05:
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n:
                    break
                if rng.random() < 0.5:
                    variant = words[:-1]
                else:
                    variant = words + ["dup"] * int(rng.integers(1, 3))
                texts.append(" ".join(variant))
    order = rng.permutation(n)
    return [texts[i] for i in order]


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/{name}.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = ROWS
    n_nations = 25

    _write(
        f"{out_dir}/region.parquet",
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
    )
    _write(
        f"{out_dir}/nation.parquet",
        pa.table({
            "n_nationkey": pa.array(range(n_nations), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n_nations)]),
            "n_regionkey": pa.array([i % 5 for i in range(n_nations)], pa.int32()),
        }),
    )
    c = n["customer"]
    _write(
        f"{out_dir}/customer.parquet",
        pa.table({
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, n_nations, c).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }),
    )
    s = n["supplier"]
    _write(
        f"{out_dir}/supplier.parquet",
        pa.table({
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, n_nations, s).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }),
    )
    p = n["part"]
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
    ]
    _write(
        f"{out_dir}/part.parquet",
        pa.table({
            "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 200) * 0.1, 2),
        }),
    )
    o = n["orders"]
    _write(
        f"{out_dir}/orders.parquet",
        pa.table({
            "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
            "o_orderstatus": _pick(rng, ORDER_STATUS, o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": _pick(rng, PRIORITIES, o),
        }),
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(
        f"{out_dir}/lineitem.parquet",
        pa.table({
            "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, RETURN_FLAGS, li),
            "l_linestatus": _pick(rng, LINE_STATUS, li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }),
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(start + rng.integers(0, month_us, e).astype("timedelta64[us]"))
    _write(
        f"{out_dir}/events.parquet",
        pa.table({
            "event_id": pa.array(np.arange(e, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, c // 10), e).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }),
    )
    d = n["documents"]
    texts = _documents(rng, d)
    _write(
        f"{out_dir}/documents.parquet",
        pa.table({
            "doc_id": pa.array(np.arange(d, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, d),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, d)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }),
    )
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        f"{out_dir}/embeddings.parquet",
        pa.table({
            "vec_id": pa.array(np.arange(m, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
        }),
    )
    return {"region": 5, "nation": n_nations, **n}


# planted repeats: segments of REPEAT_LEN bases, each copied REPEAT_COPIES times
N_REPEATS, REPEAT_LEN, REPEAT_COPIES = 64, 400, 4


def write_genome(out_dir: str, seed: int, n_docs: int, doc_len: int) -> list[str]:
    """Write ``out_dir/documents.parquet``: ``n_docs`` chromosomes of
    exactly ``doc_len`` uniform ACGT bases, into which the repeat
    segments are planted at seeded offsets, so long k-mers recur (k=64
    keys with count >= 2) while short ones saturate their key space.
    Returns the texts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    alphabet = np.frombuffer(b"ACGT", dtype=np.uint8)
    genome = alphabet[rng.integers(0, 4, (n_docs, doc_len))]
    repeat_len = min(REPEAT_LEN, doc_len // 2)
    for _ in range(N_REPEATS):
        segment = alphabet[rng.integers(0, 4, repeat_len)]
        for _ in range(REPEAT_COPIES):
            doc = int(rng.integers(0, n_docs))
            at = int(rng.integers(0, doc_len - repeat_len))
            genome[doc, at : at + repeat_len] = segment
    texts = [row.tobytes().decode("ascii") for row in genome]
    _write(
        f"{out_dir}/documents.parquet",
        pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
        }),
    )
    return texts

