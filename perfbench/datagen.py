"""Deterministic fixture tables for the statement benchmark.

The relational tables follow the repository's sf0.1 test-data schema
(FIXTURES.md) at the same row counts, with dates as ISO `YYYY-MM-DD` TEXT
(AQL has no date type, and ISO strings order like dates). The documents and
embeddings tables are smaller than sf0.1 (see N_DOCS, N_VECS), and the
embeddings are generated in clusters so the ivf index has structure to
find.  The documents table carries near-duplicates (every
tenth document is a light edit of an earlier one) so SIMILAR and SHOW DEDUP
return non-trivial answers, and a held-out slice (`documents_new`) that the
curate_ingest workload merges into the indexed corpus.

The fixture is a pure function of FIXTURE_SEED; statement sequences, not
data, vary with the benchmark's --seed.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
VERSION = "3"  # bump when the generated data changes

N_CUSTOMER = 15_000
N_PART = 20_000
N_SUPPLIER = 1_000
N_ORDERS = 150_000
N_DOCS = 2_000
N_DOCS_NEW = 1_000
N_VECS = 1_000
VEC_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "small", "cold", "bright", "dark", "green", "red"]
NOUN = ["ring", "bolt", "gear", "nut", "plate", "spring", "valve", "pipe"]
LANGS = ["de", "en", "es", "fr", "zh"]
# word list of the documents table; also the benchmark's MATCH term pool
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window index commit cursor page "
         "plan shuffle task stage job cache file version schema token "
         "shingle band bucket centroid probe score rank topk union").split()

DATE0 = datetime.date(1995, 1, 1)
N_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def iso_dates(days):
    table = np.array([(DATE0 + datetime.timedelta(days=int(d))).isoformat()
                      for d in range(N_DAYS + 130)])
    return table[days]


def _customer(rng):
    k = np.arange(N_CUSTOMER, dtype=np.int64)
    return pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })


def _part(rng):
    k = np.arange(N_PART, dtype=np.int64)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, len(ADJ), N_PART), rng.integers(0, len(NOUN), N_PART))]
    return pa.table({
        "p_partkey": k,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 1.1, 2),
    })


def _orders_lineitem(rng, part_price):
    ok = np.arange(N_ORDERS, dtype=np.int64)
    odays = rng.integers(0, N_DAYS, N_ORDERS)
    orders = {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": iso_dates(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    }
    nlines = rng.integers(1, 8, N_ORDERS)
    lk = np.repeat(ok, nlines)
    n = len(lk)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, N_PART, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = {
        "l_orderkey": lk,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * part_price[partkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": iso_dates(np.repeat(odays, nlines) + rng.integers(1, 122, n)),
    }
    return pa.table(orders), pa.table(lineitem)


def _documents(rng):
    n = N_DOCS + N_DOCS_NEW
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i % 10 == 7:
            # near-duplicate of the document seven ids back: a few words
            # replaced, so shingle/simhash families collide but text differs
            words = texts[i - 7].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(12, 80))])
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return docs.slice(0, N_DOCS), docs.slice(N_DOCS)


def _embeddings(rng):
    centers = rng.normal(0.0, 1.0, (10, VEC_DIM))
    label = rng.integers(0, 10, N_VECS)
    vecs = (centers[label] + rng.normal(0.0, 0.35, (N_VECS, VEC_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def generate(out_dir):
    """Write every fixture table as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng(FIXTURE_SEED)
    part = _part(rng)
    orders, lineitem = _orders_lineitem(rng, part.column("p_retailprice").to_numpy())
    docs, docs_new = _documents(rng)
    tables = {"customer": _customer(rng), "part": part, "orders": orders,
              "lineitem": lineitem, "documents": docs, "documents_new": docs_new,
              "embeddings": _embeddings(rng)}
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def ensure(out_dir):
    """Generate the fixture once per checkout; later runs reuse it."""
    stamp = os.path.join(out_dir, f"_COMPLETE_v{VERSION}")
    if not os.path.exists(stamp):
        generate(out_dir)
        open(stamp, "w").close()
    return out_dir
