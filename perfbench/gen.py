"""Input generator for the benchmark.

Two kinds of input, both written as parquet:

* base tables: the engine's star schema (region .. lineitem, events,
  documents, embeddings) at a fixed small scale, made from a fixed data
  seed.  The SQL reports of `etl_load` read them.  They do not depend on
  `--seed`, so every seed runs the same report work.
* seeded batches: everything a workload ingests after set-up (daily order
  and event batches; vector, edge and document batches; deletes; probe
  inputs).  `--seed` fixes their contents and order; it never changes how
  many rows a batch has or how many logical bytes it carries.

Logical bytes are counted per value: 8 for every number or timestamp, the
UTF-8 length for a string, 4 per float of an embedding.  String values in
batches are drawn with a seed-independent length, so two seeds ingest the
same bytes (see seedcheck.py).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
GEN_VERSION = "4"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gizmo", "plate", "ring", "widget", "gear", "valve"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["de", "en", "es", "fr", "zh"]
DIM = 64

# Sizes. The base slice is small on purpose: the engine is bound by driver
# latency at this scale, so more rows buy little signal and cost set-up time.
SCALE = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)
ETL = dict(days=20, changed_orders=200, new_orders=200, new_events=500,
           redelivered_events=50)
IDX = dict(rounds=8, base_vectors=400, vec_append=50, vec_delete=20,
           probe_queries=8, base_docs=300, doc_append=50, doc_delete=20,
           base_nodes=120, base_edges=400, edge_append=24, node_delete=2,
           probe_terms=2)

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(us):
    return pa.array(np.asarray(us, dtype="datetime64[us]"), type=pa.timestamp("us"))


def logical_bytes(table):
    """Bytes of a table counted per value (see module docstring)."""
    total = 0
    for col in table.columns:
        t = col.type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            total += sum(len(v.encode()) for v in col.to_pylist() if v is not None)
        elif pa.types.is_list(t):
            total += 4 * sum(len(v) for v in col.to_pylist() if v is not None)
        else:
            total += 8 * len(col)
    return total


def base_tables(out):
    """Write the fixed base tables under `out` (idempotent)."""
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return
    rng = np.random.default_rng(DATA_SEED)
    s = SCALE
    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    nc = s["customer"]
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)}))
    ns = s["supplier"]
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}))
    npart = s["part"]
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart), rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)}))
    _write(f"{out}/orders.parquet", orders_rows(rng, np.arange(s["orders"]), nc))
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US)}))
    _write(f"{out}/events.parquet", events_rows(
        rng, np.arange(s["events"]),
        EVENTS_T0 + rng.integers(0, 30 * DAY_US, s["events"]), 150))
    nd = s["documents"]
    _write(f"{out}/documents.parquet", docs_rows(rng, np.arange(nd)))
    _write(f"{out}/embeddings.parquet", vectors(rng, np.arange(s["embeddings"])))
    open(done, "w").close()


def orders_rows(rng, keys, ncust):
    n = len(keys)
    i = np.arange(n)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ncust, n), pa.int64()),
        # seed-independent string lengths: status/priority follow the row
        # position, every number is seeded
        "o_orderstatus": [STATUSES[k % 3] for k in i],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n) * DAY_US),
        "o_orderpriority": [PRIORITIES[k % 5] for k in i]})


def events_rows(rng, ids, ts, nusers):
    n = len(ids)
    i = np.arange(n)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, nusers, n), pa.int64()),
        "event_type": [EVENT_TYPES[k % 5] for k in i],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(10, 100, n)]})


def docs_rows(rng, ids):
    n = len(ids)
    text = [" ".join(rng.choice(VOCAB, size=k)) for k in rng.integers(10, 41, n)]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": text,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


# batch documents use only the 4-letter words, so their byte length does not
# depend on the seed; BM25 probe terms come from the same words
WORDS4 = [w for w in VOCAB if len(w) == 4]


def docs_fixed(rng, ids):
    """Documents of 20 four-letter words (seed-independent byte length)."""
    n = len(ids)
    text = [" ".join(rng.choice(WORDS4, size=20)) for _ in range(n)]
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": text})


def vectors(rng, ids):
    n = len(ids)
    v = rng.normal(0.0, 1.0, (n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def etl_batches(out, seed):
    """Daily batches for etl_load under `out`; returns the manifest."""
    rng = np.random.default_rng([seed, 1])
    e = ETL
    n_orders, n_events = SCALE["orders"], SCALE["events"]
    days = []
    next_order = 1_000_000
    next_event = 10_000_000
    redelivered_pool = rng.permutation(n_events)
    for d in range(e["days"]):
        changed = rng.choice(n_orders, e["changed_orders"], replace=False)
        new = np.arange(next_order, next_order + e["new_orders"])
        next_order += e["new_orders"]
        orders = orders_rows(rng, np.concatenate([changed, new]), SCALE["customer"])
        new_ids = np.arange(next_event, next_event + e["new_events"])
        next_event += e["new_events"]
        t_day = EVENTS_T0 + (31 + d) * DAY_US
        ev_new = events_rows(rng, new_ids, t_day + rng.integers(0, DAY_US, len(new_ids)), 150)
        # redelivered rows: base event ids, each id at most once per run, with
        # a timestamp later than any base timestamp so latest-wins keeps them
        k = e["redelivered_events"]
        rids = redelivered_pool[d * k:(d + 1) * k]
        ev_re = events_rows(rng, rids, t_day + rng.integers(0, DAY_US, k), 150)
        events = pa.concat_tables([ev_new, ev_re])
        od = f"{out}/day{d:03d}"
        _write(f"{od}/orders.parquet", orders)
        _write(f"{od}/events.parquet", events)
        days.append({"orders_rows": orders.num_rows, "events_rows": events.num_rows,
                     "rows": orders.num_rows + events.num_rows,
                     "bytes": logical_bytes(orders) + logical_bytes(events)})
    return {"workload": "etl_load", "etl": ETL, "days": days,
            "order": [rng.permutation(10).tolist() for _ in range(e["days"])]}


def index_batches(out, seed):
    """Base slice and per-round batches for index_lifecycle under `out`."""
    rng = np.random.default_rng([seed, 2])
    x = IDX
    # vectors
    _write(f"{out}/vec_base.parquet", vectors(rng, np.arange(x["base_vectors"])))
    live_vec = list(range(x["base_vectors"]))
    # documents
    _write(f"{out}/doc_base.parquet", docs_fixed(rng, np.arange(x["base_docs"])))
    live_doc = list(range(x["base_docs"]))
    # link-domain graph: symmetric string-keyed edges, as the crawl's
    # authority pipeline derives them (site -> linked domain, both ways)
    node = lambda k: f"site{k:05d}.com"
    edges = set()
    while len(edges) < x["base_edges"]:
        a, b = rng.integers(0, x["base_nodes"], 2)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    def edge_table(es):
        src = [node(a) for a, b in es] + [node(b) for a, b in es]
        dst = [node(b) for a, b in es] + [node(a) for a, b in es]
        return pa.table({"src": src, "dst": dst})
    _write(f"{out}/edge_base.parquet", edge_table(sorted(edges)))
    next_vec, next_doc, next_node = 1_000_000, 1_000_000, x["base_nodes"]
    rounds = []
    total_bytes = 0
    for r in range(x["rounds"]):
        rd = f"{out}/round{r:03d}"
        va = vectors(rng, np.arange(next_vec, next_vec + x["vec_append"]))
        next_vec += x["vec_append"]
        live_vec += va.column("vec_id").to_pylist()
        vd = rng.choice(live_vec, x["vec_delete"], replace=False)
        live_vec = [v for v in live_vec if v not in set(vd.tolist())]
        da = docs_fixed(rng, np.arange(next_doc, next_doc + x["doc_append"]))
        next_doc += x["doc_append"]
        live_doc += da.column("doc_id").to_pylist()
        dd = rng.choice(live_doc, x["doc_delete"], replace=False)
        live_doc = [v for v in live_doc if v not in set(dd.tolist())]
        # edge append: new undirected edges absent from the live graph; one
        # endpoint may be a brand-new node
        nodes_live = sorted({a for e in edges for a in e})
        fresh = set()
        while len(fresh) < x["edge_append"]:
            a = rng.choice(nodes_live)
            b = next_node if len(fresh) == 0 else rng.choice(nodes_live)
            e = (min(a, b), max(a, b))
            if a != b and e not in edges and e not in fresh:
                fresh.add(e)
        next_node += 1
        edges |= fresh
        nodes_live = sorted({a for e in edges for a in e})
        gone = rng.choice(nodes_live, x["node_delete"], replace=False)
        edges = {e for e in edges if e[0] not in gone and e[1] not in gone}
        probe = rng.normal(0.0, 1.0, (x["probe_queries"], DIM)).astype(np.float32)
        probe /= np.linalg.norm(probe, axis=1, keepdims=True)
        qv = pa.table({"vec_id": pa.array(range(x["probe_queries"]), pa.int64()),
                       "embedding": pa.array(list(probe), pa.list_(pa.float32()))})
        ea = edge_table(sorted(fresh))
        _write(f"{rd}/vec_append.parquet", va)
        _write(f"{rd}/vec_delete.parquet", pa.table({"vec_id": pa.array(vd, pa.int64())}))
        _write(f"{rd}/vec_probe.parquet", qv)
        _write(f"{rd}/doc_append.parquet", da)
        _write(f"{rd}/doc_delete.parquet", pa.table({"doc_id": pa.array(dd, pa.int64())}))
        _write(f"{rd}/edge_append.parquet", ea)
        _write(f"{rd}/node_delete.parquet", pa.table({"node": [node(g) for g in gone]}))
        b = (logical_bytes(va) + logical_bytes(da) + logical_bytes(ea)
             + 8 * (len(vd) + len(dd)) + sum(len(node(g)) for g in gone))
        total_bytes += b
        rounds.append({
            "terms": sorted(rng.choice(WORDS4, x["probe_terms"], replace=False).tolist()),
            "rows": va.num_rows + da.num_rows + ea.num_rows + len(vd) + len(dd) + len(gone),
            "bytes": b})
    return {"workload": "index_lifecycle", "idx": IDX, "rounds": rounds}


def make(work, run_dir, workload, seed):
    """Generate every input of one run under `run_dir`/in (the base tables
    are shared by all runs under `work`); returns the manifest path."""
    base = os.path.join(work, f"base-v{GEN_VERSION}")
    base_tables(base)
    out = os.path.join(run_dir, "in")
    os.makedirs(out, exist_ok=True)
    man = (etl_batches if workload == "etl_load" else index_batches)(out, seed)
    man["base"] = base
    man["base_rows"] = {t: SCALE[t] for t in ("orders", "events")}
    path = os.path.join(out, "manifest.json")
    with open(path, "w") as f:
        json.dump(man, f)
    return path
