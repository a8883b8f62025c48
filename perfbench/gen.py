"""Seeded input generators for the perfbench workloads.

Three kinds of input, all written as parquet with pyarrow:

* ``fixture``: a TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``, with the same tables, schemas and value domains as the
  engine's test fixtures (see FIXTURES.md). ``scale=1`` gives the sf0.01
  row counts (60,000 lineitem rows). The query workloads always use seed
  42, so their goldens stay fixed; ``--seed`` only permutes row order.
* ``blowup``: a ``factor``-times copy of a fixture, built from that
  fixture's files alone. Every key column is offset per copy, with the
  same offset in every table that joins on it, so joins and cardinalities
  scale with rows. Document words and embedding dimensions are rotated
  per copy, so copies are not exact duplicates of each other.
* ``ingest``: the operation log of the ``ingest_mixed`` workload. It holds
  micro-batch files (updates, inserts and deletes flagged in
  ``_deleted``), MERGE sources, DELETE predicates and read parameters,
  plus the expected counts that follow from replaying the log.

The same seed gives byte-identical files. Every function writes into a
fresh directory and never touches its inputs.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ["query", "row", "stream", "the", "part", "column", "order", "scan",
         "a", "slow", "agg", "key", "window", "table", "merge", "vector",
         "join", "spark", "line", "small", "fast", "group", "customer",
         "batch", "sort", "value", "hash", "filter", "big", "data"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400  # 1995-01-01 in epoch seconds
EPOCH_2024 = 1_704_067_200  # 2024-01-01 in epoch seconds
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])


def _write(path, arrays, schema=None):
    table = (pa.table(arrays) if schema is None
             else pa.Table.from_pydict(arrays, schema=schema))
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days_us):
    return pa.array(days_us, type=pa.timestamp("us"))


def sizes(scale):
    """Row counts per table at ``scale`` (1 = sf0.01)."""
    return {
        "customer": max(15, int(1500 * scale)),
        "supplier": max(10, int(100 * scale)),
        "part": max(20, int(2000 * scale)),
        "orders": max(150, int(15000 * scale)),
        "lineitem": max(600, int(60000 * scale)),
        "events": max(100, int(10000 * scale)),
        "documents": max(200, int(500 * scale)),
        "embeddings": max(200, int(500 * scale)),
    }


def fixture(out_dir, scale):
    """Write the seed-42 fixture at ``scale`` into ``out_dir``."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n = sizes(scale)
    os.makedirs(out_dir)
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist()})
    ns = n["supplier"]
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart),
                                              rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    no = n["orders"]
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts((EPOCH_1995 * 1_000_000
                            + rng.integers(0, ORDER_DAYS, no) * DAY_US)),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist()})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(((EPOCH_1995 + 86400) * 1_000_000
                           + rng.integers(0, SHIP_DAYS, nl) * DAY_US))})
    ne = n["events"]
    users = max(15, ne * 3 // 200)
    ts = np.sort(rng.choice(30 * DAY_US, ne, replace=False))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(EPOCH_2024 * 1_000_000 + ts),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.gamma(2.0, 50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(7, 90)))))
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


def fingerprint(src_dir):
    """sha256 over the fixture files' bytes, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{src_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def blowup(src_dir, out_dir, factor):
    """``factor`` key-offset copies of the fixture in ``src_dir``."""
    src = {t: pq.read_table(f"{src_dir}/{t}.parquet") for t in TABLES}
    span = {
        "cust": src["customer"]["c_custkey"].to_numpy().max() + 1,
        "supp": src["supplier"]["s_suppkey"].to_numpy().max() + 1,
        "part": src["part"]["p_partkey"].to_numpy().max() + 1,
        "order": src["orders"]["o_orderkey"].to_numpy().max() + 1,
        "event": src["events"]["event_id"].to_numpy().max() + 1,
        "user": src["events"]["user_id"].to_numpy().max() + 1,
        "doc": src["documents"]["doc_id"].to_numpy().max() + 1,
        "vec": src["embeddings"]["vec_id"].to_numpy().max() + 1,
    }
    shifted = {  # column -> key span it is offset by
        "c_custkey": "cust", "o_custkey": "cust", "s_suppkey": "supp",
        "l_suppkey": "supp", "p_partkey": "part", "l_partkey": "part",
        "o_orderkey": "order", "l_orderkey": "order", "event_id": "event",
        "user_id": "user", "doc_id": "doc", "vec_id": "vec"}
    os.makedirs(out_dir)
    for t in TABLES:
        tbl = src[t]
        if t in ("region", "nation"):
            pq.write_table(tbl, f"{out_dir}/{t}.parquet", compression="snappy")
            continue
        copies = []
        for i in range(factor):
            cols = {}
            for name in tbl.column_names:
                col = tbl[name]
                if name in shifted:
                    col = pa.array(col.to_numpy() + i * span[shifted[name]],
                                   col.type)
                elif name in ("c_name", "s_name"):
                    key = "c_custkey" if name == "c_name" else "s_suppkey"
                    prefix = "Customer#" if name == "c_name" else "Supplier#"
                    base = tbl[key].to_numpy() + i * span[shifted[key]]
                    col = pa.array([f"{prefix}{k:09d}" for k in base])
                elif name == "text":
                    rot = {w: WORDS[(j + i) % len(WORDS)]
                           for j, w in enumerate(WORDS)}
                    col = pa.array([" ".join(rot.get(w, w) for w in s.split(" "))
                                    for s in col.to_pylist()])
                elif name == "embedding":
                    m = np.stack(col.to_numpy(zero_copy_only=False))
                    col = pa.array(list(np.roll(m, i, axis=1)),
                                   pa.list_(pa.float32()))
                cols[name] = col
            if t == "documents":
                cols["n_chars"] = pa.array(
                    [len(s) for s in cols["text"].to_pylist()], pa.int64())
            copies.append(pa.table(cols, schema=tbl.schema))
        pq.write_table(pa.concat_tables(copies), f"{out_dir}/{t}.parquet",
                       compression="snappy")


def ingest(fixture_dir, out_dir, seed, cycles, commits=2, batch_rows=600,
           merge_rows=300):
    """Write the ingest_mixed operation log for ``seed`` into ``out_dir``.

    One cycle is ``commits`` commits, then ``compact, merge, delete``.
    Each commit lands one file holding ``batch_rows`` distinct keys: a
    third updates of live keys, a third inserts of new keys and a third
    deletes of live keys. Every commit is followed by four reads: a point
    lookup of 8 keys, a range read over 2% of the price range, a
    time-travel read of the previous batch and a change-feed read.

    These sizes are chosen, not taken from a measured workload: batches
    this small keep the sink's fixed per-commit job floor the larger part
    of a commit, which is the cost the workload is meant to expose.
    """
    rng = np.random.default_rng(seed)
    orders = pq.read_table(f"{fixture_dir}/orders.parquet")
    live = set(orders["o_orderkey"].to_pylist())
    # each live key's o_totalprice, for the rows a range read must return
    price = dict(zip(orders["o_orderkey"].to_pylist(),
                     orders["o_totalprice"].to_pylist()))
    dead = []
    next_key = max(live) + 1
    n_cust = int(orders["o_custkey"].to_numpy().max()) + 1
    os.makedirs(out_dir)
    ops = []
    batch = 0  # batch 0 is the bootstrap snapshot of fixture orders
    third = batch_rows // 3

    def rows(keys):
        k = len(keys)
        return {
            "o_orderkey": np.array(keys, np.int64),
            "o_custkey": rng.integers(0, n_cust, k),
            "o_orderstatus": rng.choice(["F", "O", "P"], k).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts(EPOCH_1995 * 1_000_000
                               + rng.integers(0, ORDER_DAYS, k) * DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, k).tolist()}

    def take_live(k):
        pool = np.array(sorted(live), np.int64)
        return [int(x) for x in rng.choice(pool, k, replace=False)]

    def new_keys(k):
        nonlocal next_key
        out = list(range(next_key, next_key + k))
        next_key += k
        return out

    def reads():
        probe = take_live(6) + [int(x) for x in rng.choice(dead, 2)]
        lo = float(np.round(rng.uniform(1000.0, 490000.0), 2))
        hi = lo + 10000.0
        hits = [k for k in live if lo <= price[k] <= hi]
        return {"lookup": probe, "lookup_hits": 6, "range": [lo, hi],
                "range_rows": len(hits), "range_keysum": sum(hits),
                "live": len(live)}

    def set_prices(data):
        price.update(zip(data["o_orderkey"].tolist(),
                         data["o_totalprice"].tolist()))

    for _ in range(cycles):
        for _ in range(commits):
            batch += 1
            upd = take_live(third)
            rest = sorted(live - set(upd))
            dels = [int(x) for x in rng.choice(rest, third, replace=False)]
            ins = new_keys(third)
            keys = upd + ins + dels
            order = rng.permutation(len(keys))
            data = rows([keys[i] for i in order])
            gone = set(dels)
            data["_deleted"] = [keys[i] in gone for i in order]
            fname = f"c{batch:05d}.parquet"
            _write(f"{out_dir}/{fname}", data,
                   ORDERS_SCHEMA.append(pa.field("_deleted", pa.bool_())))
            set_prices(data)
            live.difference_update(dels)
            live.update(ins)
            dead.extend(dels)
            ops.append({"op": "commit", "batch": batch, "file": fname,
                        "rows": len(keys), "insert": len(ins),
                        "update": len(upd), "delete": len(dels),
                        "reads": reads()})
        ops.append({"op": "compact", "live": len(live)})
        batch += 1
        upd = take_live(merge_rows // 2)
        ins = new_keys(merge_rows - len(upd))
        keys = upd + ins
        fname = f"m{batch:05d}.parquet"
        data = rows([keys[i] for i in rng.permutation(len(keys))])
        _write(f"{out_dir}/{fname}", data, ORDERS_SCHEMA)
        set_prices(data)
        live.update(ins)
        ops.append({"op": "merge", "batch": batch, "file": fname,
                    "insert": len(ins), "update": len(upd), "delete": 0,
                    "live": len(live)})
        batch += 1
        mod, rem = 211, int(rng.integers(0, 211))
        gone = {k for k in live if k % mod == rem}
        live.difference_update(gone)
        dead.extend(sorted(gone))
        ops.append({"op": "delete", "batch": batch,
                    "predicate": f"o_orderkey % {mod} = {rem}",
                    "insert": 0, "update": 0, "delete": len(gone),
                    "live": len(live)})
    with open(f"{out_dir}/ops.json", "w") as f:
        json.dump({"seed": seed, "cycles": cycles, "ops": ops}, f, indent=1)


def fresh(path):
    """Remove ``path`` if present (a half-written dir from a killed run)."""
    if os.path.isdir(path):
        shutil.rmtree(path)
