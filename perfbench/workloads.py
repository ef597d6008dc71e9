"""Seeded statement plans for the three workloads.

A plan is a JSON document the JVM driver executes: set-up steps (containers
loaded from the fixture parquet, indexes, a fixed warm-up) and, per client,
a list of steps. A step is one AQL statement, or a row change plus its
COMMIT that is timed as one operation, with the output checks its result
must pass. Everything here is a pure function of (workload, seed, fixture):
the same seed gives a byte-identical plan.

Clients are closed loops: each sends its next step when the previous one
returned, with no think time. A client runs until the measured window
ends and then to the end of its current cycle (the next step marked
`cycle`), so every run sends whole cycles: the same mix of statement
shapes whatever the seed and however fast the host. Plans hold more steps
than any run sends.
"""
import json
import random

import numpy as np
import pyarrow.parquet as pq

import datagen

WORKLOADS = ("serve_mix", "analytic_search", "curate_ingest")

# the statement classes that make up each workload's `read` and `write`
# roles in the reported metrics
ROLES = {
    "serve_mix": (("point", "readback", "page"), ("commit",)),
    "analytic_search": (("search",), ()),
    "curate_ingest": (("retrieval",), ("ingest",)),
}

# ---- serve_mix ------------------------------------------------------------

ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]
ORDERS_DDL = ("CREATE CONTAINER orders ['o_orderkey','o_custkey','o_orderstatus',"
              "'o_totalprice','o_orderdate','o_orderpriority'] "
              "[BIGINT, BIGINT, TEXT, FLOAT, TEXT, TEXT]")
# the writer's keys start here; the reader reads [0, N_ORDERS) only
WRITER_KEY0 = 10_000_000
WRITER_CUST0 = 900_000
# the reader pages each range cursor RANGE_LAG and 2*RANGE_LAG cycles after
# opening it, so 2*RANGE_LAG cursors stay open: under the 256-entry registry.
# The reader runs about five cycles in a 25 s window, so the lag is short
# enough that its steady state (second and third pages) is reached early.
RANGE_LAG = 1
PK_SEARCH = "SEARCH [] ON orders WHERE o_orderkey = ?"
CUST_SEARCH = "SEARCH [] ON orders WHERE o_custkey = ?"
# auto-OPTIMIZE every N commits: the writer commits about every three seconds,
# so several compaction cycles complete in one measured window
OPTIMIZE_AFTER_COMMITS = 3


def q(v):
    """An AQL literal."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return repr(v)


def _orders(data_dir):
    t = pq.read_table(f"{data_dir}/orders.parquet")
    return {c: t.column(c).to_numpy(zero_copy_only=False) for c in ORDERS_COLS}


def _order_row(o, k):
    return [int(o["o_orderkey"][k]), int(o["o_custkey"][k]), str(o["o_orderstatus"][k]),
            float(o["o_totalprice"][k]), str(o["o_orderdate"][k]),
            str(o["o_orderpriority"][k])]


def _row_bytes(row):
    return sum(len(v.encode()) if isinstance(v, str) else 8 for v in row)


def serve_mix(seed, data_dir, n_cycles=300):
    o = _orders(data_dir)
    n = len(o["o_orderkey"])
    by_cust = {}
    for k, c in enumerate(o["o_custkey"]):
        by_cust.setdefault(int(c), []).append(k)
    rng = random.Random(seed * 1_000_003 + 1)

    def page(cur, lo):
        hi = lo + 100
        return {"cls": "page", "aql": "QYCNNXT {%s}" % cur,
                "expect": {"key_range": [0, lo, hi],
                           "col_sum": [3, round(float(o["o_totalprice"][lo:hi].sum()), 2)]}}

    def point(cls, aql, arg, rows):
        return {"cls": cls, "aql": aql, "args": [str(arg)], "expect": {"rows": rows}}

    # The reader repeats one cycle shape, so every run has the same mix
    # whatever the seed; the seed picks keys. Each cycle opens a 300-row
    # range cursor and pages the cursors opened RANGE_LAG and 2*RANGE_LAG
    # cycles earlier, closing the latter after its last page. Point cursors
    # are left open, as by a client that reads one page: a run opens far
    # fewer than the registry's 256, and closing each one only added a
    # statement that mostly measured waiting for the server lock.
    reader, ranges = [], []
    for i in range(n_cycles):
        k1, k2, k3 = (rng.randrange(n) for _ in range(3))
        c = rng.randrange(datagen.N_CUSTOMER)
        lo = rng.randrange(n - 300)
        ranges.append((f"g{i}", lo))
        reader.append({**point("point", PK_SEARCH, k1, [_order_row(o, k1)]), "cycle": True})
        reader.append(point("point", CUST_SEARCH, c,
                            [_order_row(o, k) for k in sorted(by_cust.get(c, []))]))
        reader.append({"cls": "page", "open": f"g{i}",
                       "aql": f"SEARCH [] ON orders WHERE o_orderkey >= {lo} AND o_orderkey < {lo + 300}",
                       "expect": {"key_range": [0, lo, lo + 100],
                                  "col_sum": [3, round(float(o["o_totalprice"][lo:lo + 100].sum()), 2)]}})
        reader.append(point("point", PK_SEARCH, k2, [_order_row(o, k2)]))
        if i >= RANGE_LAG:
            g, glo = ranges[i - RANGE_LAG]
            reader.append(page(g, glo + 100))
        reader.append(point("point", PK_SEARCH, k3, [_order_row(o, k3)]))
        if i >= 2 * RANGE_LAG:
            g, glo = ranges[i - 2 * RANGE_LAG]
            reader += [page(g, glo + 200), {"cls": "close", "aql": "QYCNEXT {%s}" % g}]

    # The writer keeps a model of its own keys and reads every change back,
    # by pk and through the value index on o_custkey, so the index's
    # maintenance at COMMIT is checked too. Its cycle: create, edit, create,
    # edit, delete (the oldest live key).
    writer, model, next_key = [], {}, WRITER_KEY0
    statuses = ["F", "O", "P"]
    for i in range(n_cycles):
        op = ("create", "edit", "create", "edit", "delete")[i % 5]
        if op == "create":
            k, next_key = next_key, next_key + 1
            row = [k, WRITER_CUST0 + rng.randrange(1000), rng.choice(statuses),
                   round(rng.uniform(1000, 500000), 2),
                   f"{rng.randrange(1995, 2002)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
                   rng.choice(datagen.PRIORITIES)]
            model[k] = row
            cust = row[1]
            change = (f"CREATE ROW [{','.join(q(c) for c in ORDERS_COLS)}] "
                      f"[{', '.join(q(v) for v in row)}] ON orders")
            payload = _row_bytes(row)
        elif op == "edit":
            k = max(model)
            price, status = round(rng.uniform(1000, 500000), 2), rng.choice(statuses)
            model[k] = model[k][:2] + [status, price] + model[k][4:]
            cust = model[k][1]
            change = (f"EDIT ROW ['o_totalprice','o_orderstatus'] [{q(price)}, {q(status)}] "
                      f"ON orders WHERE o_orderkey = {k}")
            payload = _row_bytes([price, status])
        else:
            k = min(model)
            cust = model.pop(k)[1]
            change = f"DELETE ROW ON orders WHERE o_orderkey = {k}"
            payload = 0
        writer.append({"cls": "commit", "aql": [change, "COMMIT orders"], "payload": payload,
                       "cycle": True})
        writer.append(point("readback", PK_SEARCH, k, [model[k]] if k in model else []))
        writer.append(point("readback", CUST_SEARCH, cust,
                            [model[j] for j in sorted(model) if model[j][1] == cust]))

    return {
        "settings": {"optimize_after_commits": OPTIMIZE_AFTER_COMMITS},
        "setup": [
            {"op": "load", "container": "orders", "ddl": ORDERS_DDL, "file": "orders",
             "columns": ORDERS_COLS},
            {"op": "aql", "aql": "CREATE INDEX ck ON orders ['o_custkey'] USING value"},
        ],
        "warmup": ["SEARCH [] ON orders WHERE o_orderkey = 17",
                   "SEARCH [] ON orders WHERE o_custkey = 17",
                   "SEARCH [] ON orders WHERE o_orderkey >= 1000 AND o_orderkey < 1300"],
        "clients": [{"name": "reader", "protocol": "wire", "steps": reader},
                    {"name": "writer", "protocol": "wire", "steps": writer}],
    }


# ---- analytic_search ------------------------------------------------------

def _date(rng, lo_day=0, hi_day=datagen.N_DAYS):
    return str(datagen.iso_dates(np.array([rng.randrange(lo_day, hi_day)]))[0])


def _analytic_templates(rng):
    """One seeded instance of each template: (name, AQL, DuckDB SQL).
    Every result is at most 100 rows in a total order, so the first page
    is the whole answer and compares exactly."""
    # constants vary within narrow ranges of similar selectivity, so a
    # template's cost, and each run's latency mix, varies little by seed
    d1 = _date(rng, 1500, 1600)
    d2 = _date(rng, 2200, 2260)
    disc = rng.randrange(0, 11) / 100.0
    qty = rng.randrange(20, 26)
    seg = rng.choice(datagen.SEGMENTS)
    prio = rng.choice(datagen.PRIORITIES)
    price = rng.randrange(440_000, 450_000)
    brand = f"Brand#{rng.randrange(1, 26)}"
    return [
        ("scan_filter",
         f"SEARCH [l_orderkey, l_linenumber, l_extendedprice] ON lineitem "
         f"WHERE l_shipdate >= '{d1}' AND l_discount = {disc} AND l_quantity < {qty} "
         f"ORDER BY [l_extendedprice DESC, l_orderkey, l_linenumber] LIMIT 50",
         f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
         f"WHERE l_shipdate >= '{d1}' AND l_discount = {disc} AND l_quantity < {qty} "
         f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50"),
        ("group_agg",
         f"SEARCH [l_returnflag, l_linestatus, count(l_orderkey), sum(l_quantity), "
         f"avg(l_extendedprice)] ON lineitem WHERE l_shipdate <= '{d2}'",
         f"SELECT l_returnflag, l_linestatus, count(l_orderkey), sum(l_quantity), "
         f"avg(l_extendedprice) FROM lineitem WHERE l_shipdate <= '{d2}' GROUP BY 1, 2"),
        ("join_topk",
         f"SEARCH [o_orderkey, o_orderdate, sum(l_extendedprice)] ON orders "
         f"JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderpriority = '{prio}' "
         f"AND l_shipdate > '{d1}' ORDER BY [sum_l_extendedprice DESC, o_orderkey] LIMIT 10",
         f"SELECT o_orderkey, o_orderdate, sum(l_extendedprice) FROM orders "
         f"JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderpriority = '{prio}' "
         f"AND l_shipdate > '{d1}' GROUP BY 1, 2 ORDER BY 3 DESC, 1 LIMIT 10"),
        ("multi_join",
         f"SEARCH [c_nationkey, count(l_orderkey), sum(l_quantity)] ON customer "
         f"JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey "
         f"WHERE c_mktsegment = '{seg}' AND o_orderdate < '{d1}'",
         f"SELECT c_nationkey, count(l_orderkey), sum(l_quantity) FROM customer "
         f"JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey "
         f"WHERE c_mktsegment = '{seg}' AND o_orderdate < '{d1}' GROUP BY 1"),
        ("in_subquery",
         f"SEARCH [p_type, count(p_partkey)] ON part WHERE p_brand = '{brand}' AND p_partkey IN "
         f"(SEARCH [l_partkey] ON lineitem WHERE l_quantity > {qty} AND l_shipdate < '{d1}')",
         f"SELECT p_type, count(p_partkey) FROM part WHERE p_brand = '{brand}' AND p_partkey IN "
         f"(SELECT l_partkey FROM lineitem WHERE l_quantity > {qty} AND l_shipdate < '{d1}') "
         f"GROUP BY 1"),
        ("union",
         f"SEARCH [o_orderkey, o_totalprice] ON [(SEARCH [o_orderkey, o_totalprice] ON orders "
         f"WHERE o_totalprice > {price}), (SEARCH [o_orderkey, o_totalprice] ON orders "
         f"WHERE o_orderpriority = '{prio}' AND o_orderdate >= '{d2}')] "
         f"ORDER BY [o_totalprice DESC, o_orderkey] LIMIT 40",
         f"SELECT o_orderkey, o_totalprice FROM (SELECT o_orderkey, o_totalprice FROM orders "
         f"WHERE o_totalprice > {price} UNION ALL SELECT o_orderkey, o_totalprice FROM orders "
         f"WHERE o_orderpriority = '{prio}' AND o_orderdate >= '{d2}') "
         f"ORDER BY o_totalprice DESC, o_orderkey LIMIT 40"),
    ]


ANALYTIC_TABLES = {
    "lineitem": ("CREATE CONTAINER lineitem ['l_orderkey','l_partkey','l_suppkey',"
                 "'l_linenumber','l_quantity','l_extendedprice','l_discount','l_tax',"
                 "'l_returnflag','l_linestatus','l_shipdate'] [BIGINT, BIGINT, BIGINT, INT, "
                 "FLOAT, FLOAT, FLOAT, FLOAT, TEXT, TEXT, TEXT]",
                 ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                  "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                  "l_shipdate"]),
    "orders": (ORDERS_DDL, ORDERS_COLS),
    "customer": ("CREATE CONTAINER customer ['c_custkey','c_name','c_nationkey',"
                 "'c_acctbal','c_mktsegment'] [BIGINT, TEXT, INT, FLOAT, TEXT]",
                 ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]),
    "part": ("CREATE CONTAINER part ['p_partkey','p_name','p_brand','p_type','p_size',"
             "'p_retailprice'] [BIGINT, TEXT, TEXT, TEXT, INT, FLOAT]",
             ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]),
}

ORACLE_SHARE = 0.05  # seeded share of analytic statements checked against DuckDB
# cheap cursors (catalog listings) opened at the end of set-up and never
# paged, so the engine's 256-entry cursor registry is full and every measured
# statement evicts one
FILL_CURSORS = 256


def analytic_search(seed, data_dir, n_steps=3000):
    rng = random.Random(seed * 1_000_003 + 2)
    steps = []
    while len(steps) < n_steps:
        # one instance of every template per round, so each run's mix of
        # statement shapes is the same whatever the seed
        for name, aql, sql in _analytic_templates(rng):
            st = {"cls": "search", "template": name, "aql": aql, "cycle": name == "scan_filter"}
            if len(steps) < 6 or rng.random() < ORACLE_SHARE:
                st["expect"] = {"capture": True}
                st["sql"] = sql
            steps.append(st)
    return {
        "settings": {},
        "setup": [{"op": "load", "container": t, "ddl": ddl, "file": t, "columns": cols}
                  for t, (ddl, cols) in ANALYTIC_TABLES.items()],
        "warmup": [aql for _, aql, _ in _analytic_templates(random.Random(0))],
        "fill": ["SHOW CONTAINERS"] * FILL_CURSORS,
        "clients": [{"name": "analyst", "protocol": "json", "steps": steps}],
    }


# ---- curate_ingest --------------------------------------------------------

DOC_COLS = ["doc_id", "text", "lang", "n_chars"]
DOC_TYPES = "[BIGINT, TEXT, TEXT, BIGINT]"
MERGE_EVERY = 8   # every 8th statement is a MERGE ROWS batch
MERGE_BATCH = 20  # held-out documents per batch
REPEAT_SHARE = 0.15  # retrieval statements sent twice in a row


def _retrieval(rng, kind, n_docs):
    """One seeded retrieval statement of `kind` and its output checks."""
    lim = {"max_rows": 20}
    docs_pk = {"pk_col": "doc_id", "pk_lt": n_docs}
    if kind == "match":
        terms = rng.sample(datagen.VOCAB, 3)
        return (f"MATCH [{', '.join(q(t) for t in terms)}] ON docs USING ft LIMIT 20",
                {**lim, **docs_pk, "score_col": "bm25"})
    if kind == "match_phrase":
        a, b = rng.sample(datagen.VOCAB, 2)
        return f"MATCH PHRASE [{q(a + ' ' + b)}] ON docs USING ft LIMIT 20", {**lim, **docs_pk}
    if kind in ("similar_lsh", "similar_simhash"):
        ix = "nd" if kind == "similar_lsh" else "sh"
        pk = rng.randrange(datagen.N_DOCS // 10) * 10 + 7  # a near-duplicate's pk
        return f"SIMILAR {pk} ON docs USING {ix} LIMIT 20", {**lim, **docs_pk}
    if kind == "similar_ivf":
        return (f"SIMILAR {rng.randrange(datagen.N_VECS)} ON vecs USING ann LIMIT 20 SCORED",
                {**lim, "pk_col": "vec_id", "pk_lt": datagen.N_VECS})
    if kind == "similar_against":
        k = rng.randrange(2, 6)
        return f"SIMILAR probe AGAINST docs USING nd LIMIT {k} SCORED", {}
    if kind == "dedup_lsh":
        return "SHOW DEDUP docs USING nd", {}
    if kind == "dedup_simhash":
        return "SHOW DEDUP docs USING sh", {}
    if kind == "decontaminate":
        return "SHOW DECONTAMINATE docs AGAINST eval ON text", {}
    raise ValueError(kind)


RETRIEVAL_KINDS = ("match", "match_phrase", "similar_lsh", "similar_simhash", "similar_ivf",
                   "similar_against", "dedup_lsh", "dedup_simhash", "decontaminate")


def curate_ingest(seed, data_dir, n_steps=1500):
    rng = random.Random(seed * 1_000_003 + 3)
    new = pq.read_table(f"{data_dir}/documents_new.parquet").to_pydict()
    steps, merged, nth = [], 0, 0
    while len(steps) < n_steps:
        if len(steps) % MERGE_EVERY == MERGE_EVERY - 1 and merged + MERGE_BATCH <= len(new["doc_id"]):
            lo = datagen.N_DOCS + merged
            hi = lo + MERGE_BATCH
            payload = sum(8 + len(new["text"][i].encode()) + len(new["lang"][i]) + 8
                          for i in range(merged, merged + MERGE_BATCH))
            merged += MERGE_BATCH
            steps.append({"cls": "ingest", "payload": payload, "cycle": True,
                          "aql": f"MERGE ROWS [{', '.join(DOC_COLS)}] (SEARCH [{', '.join(DOC_COLS)}] "
                                 f"ON docs_new WHERE doc_id >= {lo} AND doc_id < {hi}) ON docs"})
            continue
        kind = RETRIEVAL_KINDS[nth % len(RETRIEVAL_KINDS)]
        nth += 1
        aql, expect = _retrieval(rng, kind, datagen.N_DOCS + merged)
        steps.append({"cls": "retrieval", "kind": kind, "aql": aql, "expect": expect,
                      "cycle": True})
        if rng.random() < REPEAT_SHARE and len(steps) % MERGE_EVERY != MERGE_EVERY - 1:
            steps[-1]["keep"] = True
            steps.append({"cls": "retrieval", "kind": kind, "aql": aql,
                          "expect": {**expect, "same_as": len(steps) - 1}})
    docs_ddl = f"CREATE CONTAINER {{}} [{', '.join(q(c) for c in DOC_COLS)}] {DOC_TYPES}"
    return {
        "settings": {},
        "setup": [
            {"op": "load", "container": "docs", "ddl": docs_ddl.format("docs"),
             "file": "documents", "columns": DOC_COLS},
            {"op": "load", "container": "docs_new", "ddl": docs_ddl.format("docs_new"),
             "file": "documents_new", "columns": DOC_COLS},
            {"op": "load", "container": "probe",
             "ddl": "CREATE CONTAINER probe ['doc_id','text'] [BIGINT, TEXT]",
             "file": "documents", "where": "doc_id % 50 = 0", "columns": ["doc_id", "text"]},
            {"op": "load", "container": "eval",
             "ddl": "CREATE CONTAINER eval ['doc_id','text'] [BIGINT, TEXT]",
             "file": "documents", "where": "doc_id % 100 = 0", "columns": ["doc_id", "text"]},
            {"op": "load", "container": "vecs",
             "ddl": "CREATE CONTAINER vecs ['vec_id','emb'] [BIGINT, MEDIUM-BYTES]",
             "file": "embeddings", "pack": "embedding", "columns": ["vec_id", "embedding"]},
            {"op": "aql", "aql": "CREATE INDEX ft ON docs ['text'] USING text"},
            {"op": "aql", "aql": "CREATE INDEX nd ON docs ['text'] USING lsh"},
            {"op": "aql", "aql": "CREATE INDEX sh ON docs ['text'] USING simhash"},
            {"op": "aql", "aql": "CREATE INDEX ann ON vecs ['emb'] USING ivf"},
        ],
        "warmup": [_retrieval(random.Random(0), k, datagen.N_DOCS)[0]
                   for k in ("match", "similar_lsh", "similar_ivf")],
        "clients": [{"name": "curator", "protocol": "json", "steps": steps}],
    }


def make_plan(workload, seed, data_dir, setups):
    fn = {"serve_mix": serve_mix, "analytic_search": analytic_search,
          "curate_ingest": curate_ingest}[workload]
    plan = fn(seed, data_dir)
    plan["workload"] = workload
    plan["seed"] = seed
    plan["setups"] = setups
    return plan


def plan_bytes(plan):
    """The canonical serialisation of a plan (what the driver reads)."""
    return json.dumps(plan, sort_keys=True, separators=(",", ":")).encode()
