"""Seeded input generator for the graft benchmark.

Writes the ten warehouse tables graft reads (one parquet per table, the
layout `graft.Tables.load` expects) plus the warehouse_load landing batch.
The generator is the benchmark's own: nothing in the program under test
decides what the inputs are.

Shapes follow the TPC-H-ish star schema the graft ops are written
against: uniform keys, five market segments, six part types, thirty-one
word document vocabulary with planted near-duplicates, 64-dim unit
embeddings around ten weak label centroids, and a month of events.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()

US_PER_DAY = 86_400_000_000
DAY_1995 = 9131  # 1995-01-01 as days since the epoch
DAY_2024 = 19723  # 2024-01-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf, rng, n_docs, n_vecs):
    """The ten graft tables at scale factor `sf`, as pyarrow tables."""
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts((DAY_1995 + odays) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    # 1..7 lines per order: (l_orderkey, l_linenumber) is a unique key,
    # which the warehouse merge relies on for a deterministic result
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts((DAY_1995 + 1 + np.minimum(
            np.repeat(odays, lines) + rng.integers(0, 120, n_li), 2498)) * US_PER_DAY)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(DAY_2024 * US_PER_DAY + ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng, n):
    words = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            # planted near-duplicate: an earlier document with a few
            # words substituted (the dedup family's positives)
            w = list(words[rng.integers(0, i)])
            for j in rng.integers(0, len(w), max(1, len(w) // 20)):
                w[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            w = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        words.append(w)
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)})


def _embeddings(rng, n, dim=64, labels=10):
    centroids = rng.normal(0.0, 0.14 / np.sqrt(dim), (labels, dim))
    lab = rng.integers(0, labels, n)
    x = centroids[lab] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        _write(tbl, os.path.join(out_dir, f"{name}.parquet"))


def scale_up(tables, copies):
    """Key-shifted copies of the fact tables (orders, lineitem, customer,
    part): copy k adds k * (max key + 1) to every key, so joins within a
    copy still line up and every key stays unique."""
    out = dict(tables)
    shifts = {
        "customer": {"c_custkey": len(tables["customer"])},
        "part": {"p_partkey": len(tables["part"])},
        "orders": {"o_orderkey": len(tables["orders"]),
                   "o_custkey": len(tables["customer"])},
        "lineitem": {"l_orderkey": len(tables["orders"]),
                     "l_partkey": len(tables["part"])},
    }
    for name, cols in shifts.items():
        base = tables[name]
        parts = []
        for k in range(copies):
            tbl = base
            for c, step in cols.items():
                i = tbl.schema.get_field_index(c)
                tbl = tbl.set_column(i, c, pc.add(tbl[c], pa.scalar(k * step, tbl[c].type)))
            parts.append(tbl)
        out[name] = pa.concat_tables(parts)
    return out


def landing_batch(lineitem, rng, out_dir, chunks, changed=0.10, new=0.02):
    """The nightly lineitem update batch as `chunks` small parquet files:
    ~`changed` of the keys re-sent with new prices and flags, ~`new`
    brand-new keys, and a few all-null rows (the consolidator drops
    them). Returns the number of non-null update rows."""
    n = len(lineitem)
    idx = np.sort(rng.choice(n, int(n * changed), replace=False))
    upd = lineitem.take(pa.array(idx))
    n_new = int(n * new)
    src = lineitem.take(pa.array(rng.integers(0, n, n_new)))
    top = pc.max(lineitem["l_orderkey"]).as_py() + 1
    fresh = src.set_column(0, "l_orderkey",
                           pa.array(top + np.arange(n_new) // 4, pa.int64()))
    fresh = fresh.set_column(3, "l_linenumber",
                             pa.array(np.arange(n_new) % 4 + 1, pa.int32()))
    batch = pa.concat_tables([upd, fresh])
    m = len(batch)
    batch = batch.set_column(5, "l_extendedprice", pa.array(_money(rng, 900.0, 105000.0, m)))
    batch = batch.set_column(6, "l_discount", pa.array(rng.integers(0, 11, m) / 100.0))
    batch = batch.set_column(8, "l_returnflag",
                             pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]))
    nulls = pa.table({f.name: pa.nulls(3, f.type) for f in batch.schema})
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, m, chunks + 1).astype(int)
    for c in range(chunks):
        part = batch.slice(bounds[c], bounds[c + 1] - bounds[c])
        if c % max(1, chunks // 3) == 0:
            part = pa.concat_tables([part, nulls])
        _write(part, os.path.join(out_dir, f"lineitem_part_{c:04d}.parquet"))
    return m
