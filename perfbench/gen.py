"""Seeded input generator for the perfbench workloads.

Every table mirrors the schema (names, arrow types, value domains) of the
engine's sf test data: a TPC-H-shaped star schema plus `events`,
`documents` and `embeddings`. The engine only ever sees the parquet files
written here; nothing reads the generator's state.

Determinism: every table comes from its own `numpy.random.Generator`
seeded by (seed, table tag), so the same seed writes byte-identical files
and changing one table's recipe leaves the others alone.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_SPAN_DAYS = (dt.datetime(2001, 8, 1) - ORDER_EPOCH).days
EVENT_EPOCH = dt.datetime(2024, 1, 1)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMB_DIM = 64
EMB_LABELS = 10


def rng(seed, tag):
    """Independent stream per (seed, table tag)."""
    return np.random.default_rng([int(seed), sum(ord(c) << (8 * i) for i, c in enumerate(tag))])


def pick(r, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)], pa.string())


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def ts_us(epoch, us):
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def write(table, path):
    """Snappy parquet, one row group, no pandas metadata: byte-stable."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", row_group_size=max(1, table.num_rows),
                   store_schema=False)
    os.replace(tmp, path)


# ---------------------------------------------------------------- tables --

def sizes(sf):
    return {
        "customer": max(100, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_000, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
    }


def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(seed, n):
    r = rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n)),
        "c_mktsegment": pick(r, SEGMENTS, n)})


def supplier(seed, n, tag="supplier"):
    r = rng(seed, tag)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n))})


def part(seed, n):
    r = rng(seed, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pick(r, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)], pa.string()),
        "p_type": pick(r, PART_TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})


def orders_rows(r, keys, n_cust, day_lo, day_hi):
    """Order rows for `keys`; o_orderdate uniform over [day_lo, day_hi) days
    past ORDER_EPOCH with a random time of day (strictly inside the day)."""
    n = len(keys)
    us = r.integers(day_lo, day_hi, n) * DAY_US + r.integers(1, DAY_US - 1000, n)
    return {
        "o_orderkey": pa.array(np.asarray(keys, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pick(r, STATUSES, n),
        "o_totalprice": pa.array(money(r, 1000.0, 500000.0, n)),
        "o_orderdate": ts_us(ORDER_EPOCH, us),
        "o_orderpriority": pick(r, PRIORITIES, n)}


def lineitem_rows(r, order_keys, order_us, line_counts, n_part, n_supp):
    """(l_orderkey, l_linenumber) is unique: order i gets lines 1..k_i.
    l_shipdate follows its order's date by 1..95 days."""
    ok = np.repeat(np.asarray(order_keys, dtype=np.int64), line_counts)
    ous = np.repeat(np.asarray(order_us, dtype=np.int64), line_counts)
    starts = np.cumsum(line_counts) - line_counts
    ln = np.arange(len(ok)) - np.repeat(starts, line_counts) + 1
    n = len(ok)
    ship = ous + r.integers(1, 96, n) * DAY_US
    return {
        "l_orderkey": pa.array(ok),
        "l_partkey": pa.array(r.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(money(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(r, RETURN_FLAGS, n),
        "l_linestatus": pick(r, LINE_STATUSES, n),
        "l_shipdate": ts_us(ORDER_EPOCH, ship)}


def orders_and_lineitem(seed, n_orders, n_cust, n_part, n_supp):
    r = rng(seed, "orders")
    o = orders_rows(r, np.arange(n_orders), n_cust, 0, ORDER_SPAN_DAYS + 1)
    o_us = o["o_orderdate"].cast(pa.int64()).to_numpy() - \
        int((ORDER_EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    # whole-day order dates, like the sf data
    o_us = (o_us // DAY_US) * DAY_US
    o["o_orderdate"] = ts_us(ORDER_EPOCH, o_us)
    counts = r.integers(1, 8, n_orders)
    li = lineitem_rows(r, np.arange(n_orders), o_us, counts, n_part, n_supp)
    return pa.table(o), pa.table(li)


def events(seed, n, first_id=0, day_lo=0, day_hi=30, tag="events"):
    r = rng(seed, tag)
    us = np.sort(r.integers(day_lo * DAY_US + 1, day_hi * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": ts_us(EVENT_EPOCH, us),
        "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pick(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string())})


def doc_texts(r, n, dup_pool=None):
    """Random word strings; ~5% are a copy of an earlier text plus ' dup'."""
    words = np.asarray(WORDS, dtype=object)
    lens = r.integers(10, 101, n)
    out = []
    for i in range(n):
        pool = out if dup_pool is None else dup_pool
        if pool and r.random() < 0.05:
            out.append(pool[int(r.integers(0, len(pool)))] + " dup")
        else:
            out.append(" ".join(words[r.integers(0, len(words), lens[i])]))
    return out


def documents(seed, n):
    r = rng(seed, "documents")
    texts = doc_texts(r, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pick(r, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embedding_vectors(r, labels):
    centers = rng(0, "emb-centers").normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    v = centers[labels] + r.normal(0.0, 1.2, (len(labels), EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def embeddings(seed, n):
    r = rng(seed, "embeddings")
    labels = r.integers(0, EMB_LABELS, n)
    v = embedding_vectors(r, labels)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ------------------------------------------------------------- data sets --

def base_tables(sf, seed):
    """The eight pipeline resources at scale `sf`, plus the embeddings the
    scripted analytics read."""
    n = sizes(sf)
    o, li = orders_and_lineitem(seed, n["orders"], n["customer"], n["part"], n["supplier"])
    return {
        "region": region(), "nation": nation(),
        "customer": customer(seed, n["customer"]),
        "supplier": supplier(seed, n["supplier"]),
        "part": part(seed, n["part"]),
        "orders": o, "lineitem": li,
        "events": events(seed, n["events"]),
        "embeddings": embeddings(seed, 2000)}


def write_tables(tables, d):
    os.makedirs(d, exist_ok=True)
    for name, t in tables.items():
        write(t, os.path.join(d, f"{name}.parquet"))


def ingest_batches(base, sf, seed, n_batches, batch_orders):
    """Incremental source batches for `Pipeline.run`, one dict per run.

    Batch i carries `batch_orders` orders (half updates of existing order
    keys, half new keys), all their lines, `batch_orders` appended events
    and a full replacement of `supplier`. Every replication-key value of
    batch i lies strictly inside day i+1 past the initial data's max, so it
    is past the watermark the previous run stored.
    """
    n = sizes(sf)
    r = rng(seed, "ingest")
    o_max_day = ORDER_SPAN_DAYS + 100  # past every initial o_orderdate / l_shipdate
    next_key = base["orders"].num_rows
    next_event = base["events"].num_rows
    ev_last_day = 30
    known = np.arange(next_key)
    out = []
    for i in range(n_batches):
        n_upd = batch_orders // 2
        upd = r.choice(known, n_upd, replace=False)
        new = np.arange(next_key, next_key + batch_orders - n_upd)
        next_key += len(new)
        known = np.concatenate([known, new])
        keys = np.concatenate([upd, new])
        day = o_max_day + i
        o = orders_rows(r, keys, n["customer"], day, day + 1)
        o_us = o["o_orderdate"].cast(pa.int64()).to_numpy() - \
            int((ORDER_EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
        # ship dates land in the same day as the order here, after it
        li_counts = r.integers(1, 8, len(keys))
        li = lineitem_rows(r, keys, o_us, li_counts, n["part"], n["supplier"])
        li["l_shipdate"] = ts_us(ORDER_EPOCH, np.repeat(o_us, li_counts)
                                 + r.integers(1, 1000, int(li_counts.sum())))
        ev = events(seed, batch_orders, first_id=next_event, day_lo=ev_last_day + i,
                    day_hi=ev_last_day + i + 1, tag=f"events-{i}")
        next_event += batch_orders
        out.append({"orders": pa.table(o), "lineitem": pa.table(li), "events": ev,
                    "supplier": supplier(seed, n["supplier"], tag=f"supplier-{i}")})
    return out


def follow_ticks(docs, seed, n_ticks, frac=0.015, n_delete=2, n_append=2):
    """Per-tick changes for `follow`: a morMerge of ~frac of the live docs
    (new text), `n_delete` deletes and `n_append` fresh docs. Keys touched
    in one tick are distinct."""
    r = rng(seed, "follow")
    live = list(docs["doc_id"].to_numpy())
    next_id = len(live)
    texts = docs["text"].to_pylist()
    ticks = []
    for _ in range(n_ticks):
        n_m = max(1, int(len(live) * frac))
        idx = r.choice(len(live), n_m + n_delete, replace=False)
        merged = sorted(int(live[i]) for i in idx[:n_m])
        deleted = sorted(int(live[i]) for i in idx[n_m:])
        appended = list(range(next_id, next_id + n_append))
        ticks.append({
            "docs_delete": deleted,
            "docs_merge_rows": pa.table({
                "doc_id": pa.array(merged, pa.int64()),
                "text": pa.array(doc_texts(r, n_m, dup_pool=texts), pa.string())}),
            "docs_append_rows": pa.table({
                "doc_id": pa.array(appended, pa.int64()),
                "text": pa.array(doc_texts(r, n_append, dup_pool=texts), pa.string())})})
        gone = set(deleted)
        live = [k for k in live if k not in gone] + appended
        next_id += n_append
    return ticks


def watermark(ts_col):
    """The watermark string the pipeline stores for a batch: its max
    replication-key value at microsecond precision."""
    us = int(pc.max(ts_col.cast(pa.int64())).as_py())
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")


def write_workload_inputs(workload, seed, out, n_ops, sf=0.01, docs=500):
    """Write everything `workload` needs under `out` (see run.py for the
    sizes per workload); returns the manifest the JVM side reads."""
    os.makedirs(out, exist_ok=True)
    man = {"workload": workload, "seed": seed}
    if workload == "follow":
        d = documents(seed, docs)
        write(d, os.path.join(out, "documents.parquet"))
        ticks = follow_ticks(d, seed, n_ops)
        for i, t in enumerate(ticks):
            td = os.path.join(out, f"tick{i}")
            os.makedirs(td, exist_ok=True)
            for k in ("docs_merge_rows", "docs_append_rows"):
                write(t[k], os.path.join(td, k + ".parquet"))
        man["ticks"] = [{"docs_delete": t["docs_delete"]} for t in ticks]
    else:
        tables = base_tables(sf, seed)
        write_tables(tables, os.path.join(out, "base"))
        batches = ingest_batches(tables, sf, seed, n_ops, batch_orders=500)
        for i, b in enumerate(batches):
            write_tables(b, os.path.join(out, f"batch{i}"))
        man["batches"] = n_ops
        man["batch_rows"] = [{t: b[t].num_rows for t in b} for b in batches]
        man["batch_wm"] = [{t: watermark(b[t][rk]) for t, rk in
                            (("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
                             ("events", "ts"))} for b in batches]
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, sort_keys=True)
    return man
