"""Seeded input generator for the graft benchmark.

Writes the ten star-schema tables graft reads (`Tables.scala`) as one
parquet file each, with the column names, physical types and value
domains of the synthetic test data: TPC-H-like orders/lineitem, a
30-day `events` stream, and a word-salad `documents` corpus with
near-duplicate plants. Everything is drawn from `numpy`'s PCG64 seeded
by `seed`, so the same seed gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _write(out, name, cols, schema):
    table = pa.table(cols, schema=pa.schema(schema))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, lo_days, span_days):
    epoch = np.datetime64("1995-01-01", "D").astype("datetime64[us]")
    days = rng.integers(0, span_days, n) + lo_days
    return epoch + days.astype("timedelta64[D]")


def star_tables(rng, sf):
    """The TPC-H-like tables plus `events` at scale factor `sf`."""
    t = {}
    t["region"] = ({"r_regionkey": np.arange(5, dtype=np.int32),
                    "r_name": REGIONS},
                   [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    t["nation"] = ({"n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
                   [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                    ("n_regionkey", pa.int32())])
    nc, ns, npart = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    no, nl, ne = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    t["customer"] = ({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)].tolist()},
        [("c_custkey", pa.int64()), ("c_name", pa.string()),
         ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
         ("c_mktsegment", pa.string())])
    t["supplier"] = ({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)},
        [("s_suppkey", pa.int64()), ("s_name", pa.string()),
         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    t["part"] = ({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)].tolist(),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 1)},
        [("p_partkey", pa.int64()), ("p_name", pa.string()),
         ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    t["orders"] = ({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _dates(rng, no, 0, 2404),
        "o_orderpriority": np.array(PRIOS)[rng.integers(0, 5, no)].tolist()},
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
         ("o_orderdate", pa.timestamp("us")),
         ("o_orderpriority", pa.string())])
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]
    t["lineitem"] = ({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": flags.tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist(),
        "l_shipdate": _dates(rng, nl, 1, 2499)},
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
         ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
         ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
         ("l_discount", pa.float64()), ("l_tax", pa.float64()),
         ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
         ("l_shipdate", pa.timestamp("us"))])
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne))
    t["events"] = ({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)].tolist(),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]},
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])
    return t


def base_texts(rng, n):
    """`n` word-salad texts: 10-89 words; ~5% are an earlier-or-later
    doc's text plus ` dup` (near duplicates), a few are exact copies."""
    lens = rng.integers(10, 90, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    donors = rng.integers(0, n, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[donors[i]] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[donors[i]]
    return texts


def documents(rng, n):
    texts = base_texts(rng, n)
    langs = np.array(LANGS)[rng.choice(5, n, p=LANG_P)].tolist()
    sources = [f"src{i % 20}" for i in range(n)]
    return ({"doc_id": np.arange(n, dtype=np.int64), "text": texts,
             "lang": langs, "source": sources,
             "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
            [("doc_id", pa.int64()), ("text", pa.string()),
             ("lang", pa.string()), ("source", pa.string()),
             ("n_chars", pa.int64())])


def embeddings(rng, n):
    vecs = (rng.standard_normal((n, 64)) * 0.1).astype(np.float32)
    return ({"vec_id": np.arange(n, dtype=np.int64),
             "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
             "label": rng.integers(0, 10, n).astype(np.int32)},
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
             ("label", pa.int32())])


def generate(out, seed, sf, n_docs):
    """Write all tables for `seed` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    tables = star_tables(rng, sf)
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, 500)
    for name, (cols, schema) in tables.items():
        _write(out, name, cols, schema)


def ingest_batches(out, seed, n_docs, batches):
    """`ingest/docs_k.parquet`, k = 1..batches: corpora of `n_docs`
    documents each, drawn from `seed`, with doc ids past every earlier
    corpus — so their planted chunks, URLs and texts are new to a bundle
    built from the base corpus."""
    os.makedirs(os.path.join(out, "ingest"), exist_ok=True)
    for k in range(1, batches + 1):
        rng = np.random.Generator(np.random.PCG64([seed, k]))
        cols, schema = documents(rng, n_docs)
        cols["doc_id"] = cols["doc_id"] + k * n_docs
        _write(os.path.join(out, "ingest"), f"docs_{k}", cols, schema)
