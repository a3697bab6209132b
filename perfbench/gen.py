"""Deterministic inputs for the benchmark.

`corpus` writes the ten tables the program reads (`graft.core.Tables`),
shaped like the TPC-H-ish star schema plus the events, documents and
embeddings tables: uniform keys and attributes, monotone event time,
exponential event values, 5 % near-duplicate documents and
label-clustered unit embeddings. Row counts follow the scale factor the
way the reference corpora do (lineitem = 6M x sf). The corpus comes from
a fixed seed, so the expected result fingerprints are fixed.

`etl_batches` writes the `etl_incremental` inputs from the workload seed:
batch 0 is the full load (the corpus customers and orders), batches 1..n
are change-data-capture deltas with updated segments, new customers and
new orders, at the change and reject rates of the program's own CDC and
data-quality keys (see `UPDATE_EVERY` below).
"""
import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window"]
US_PER_DAY = 86400 * 1000000


def sizes(sf):
    n = lambda base, floor=1: max(floor, round(base * sf))
    return dict(customer=n(150000), supplier=n(10000), part=n(200000), orders=n(1500000),
                lineitem=n(6000000), events=n(1000000), users=n(15000, 10),
                documents=n(50000, 500), embeddings=n(20000, 500))


def _rng(*salt):
    return np.random.default_rng([CORPUS_SEED, *salt])


def _money(x):
    return np.round(x, 2)


def _pick(r, values, n):
    return pa.array(np.array(values, dtype=object)[r.integers(0, len(values), n)], pa.string())


def _ts(base_day, days_us):
    """Timestamp column (µs, no zone) `days_us` after `base_day`."""
    base = int((dt.datetime.fromisoformat(base_day) - dt.datetime(1970, 1, 1)).total_seconds()) * 1000000
    return pa.array(base + np.asarray(days_us, dtype=np.int64), pa.timestamp("us"))


def _key_names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys], pa.string())


def table(name, sf):
    s = sizes(sf)
    r = _rng(sum(map(ord, name)))
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        n = s["customer"]
        return pa.table({"c_custkey": pa.array(np.arange(n), pa.int64()),
                         "c_name": _key_names("Customer", range(n)),
                         "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
                         "c_acctbal": _money(r.uniform(-999.99, 9999.99, n)),
                         "c_mktsegment": _pick(r, SEGMENTS, n)})
    if name == "supplier":
        n = s["supplier"]
        return pa.table({"s_suppkey": pa.array(np.arange(n), pa.int64()),
                         "s_name": _key_names("Supplier", range(n)),
                         "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
                         "s_acctbal": _money(r.uniform(-999.99, 9999.99, n))})
    if name == "part":
        n = s["part"]
        adj = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"], dtype=object)
        noun = np.array(["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"], dtype=object)
        return pa.table({"p_partkey": pa.array(np.arange(n), pa.int64()),
                         "p_name": pa.array(adj[r.integers(0, 8, n)] + " " + noun[r.integers(0, 8, n)],
                                            pa.string()),
                         "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)], pa.string()),
                         "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
                         "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
                         "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})
    if name == "orders":
        n = s["orders"]
        return pa.table({"o_orderkey": pa.array(np.arange(n), pa.int64()),
                         "o_custkey": pa.array(r.integers(0, s["customer"], n), pa.int64()),
                         "o_orderstatus": _pick(r, ["F", "O", "P"], n),
                         "o_totalprice": _money(r.uniform(1000, 500000, n)),
                         "o_orderdate": _ts("1995-01-01", r.integers(0, 2404, n) * US_PER_DAY),
                         "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                      "4-NOT SPECIFIED", "5-LOW"], n)})
    if name == "lineitem":
        n = s["lineitem"]
        return pa.table({"l_orderkey": pa.array(r.integers(0, s["orders"], n), pa.int64()),
                         "l_partkey": pa.array(r.integers(0, s["part"], n), pa.int64()),
                         "l_suppkey": pa.array(r.integers(0, s["supplier"], n), pa.int64()),
                         "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
                         "l_quantity": r.integers(1, 51, n).astype(np.float64),
                         "l_extendedprice": _money(r.uniform(900, 105000, n)),
                         "l_discount": r.integers(0, 11, n) / 100.0,
                         "l_tax": r.integers(0, 9, n) / 100.0,
                         "l_returnflag": _pick(r, ["A", "N", "R"], n),
                         "l_linestatus": _pick(r, ["O", "F"], n),
                         "l_shipdate": _ts("1995-01-02", r.integers(0, 2499, n) * US_PER_DAY)})
    if name == "events":
        n = s["events"]
        span = 30 * US_PER_DAY
        offs = np.floor((np.arange(n) + r.random(n)) * (span / n)).astype(np.int64)
        return pa.table({"event_id": pa.array(np.arange(n), pa.int64()),
                         "ts": _ts("2024-01-01", offs),
                         "user_id": pa.array(r.integers(0, s["users"], n), pa.int64()),
                         "event_type": _pick(r, ["click", "error", "purchase", "signup", "view"], n),
                         "value": np.maximum(0.01, _money(r.exponential(50.0, n))),
                         "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string())})
    if name == "documents":
        n = s["documents"]
        vocab = np.array(VOCAB, dtype=object)
        texts = []
        for i in range(n):
            # 5 % of documents (never among the first 20) repeat an
            # earlier document's words with " dup" appended
            if i >= 20 and r.random() < 0.05:
                texts.append(texts[int(r.integers(0, i))] + " dup")
            else:
                texts.append(" ".join(vocab[r.integers(0, len(VOCAB), int(r.integers(10, 100)))]))
        u = r.random(n)
        lang = np.select([u < 0.44, u < 0.58, u < 0.72, u < 0.86], ["en", "zh", "de", "fr"], "es")
        return pa.table({"doc_id": pa.array(np.arange(n), pa.int64()),
                         "text": pa.array(texts, pa.string()),
                         "lang": pa.array(lang.astype(object), pa.string()),
                         "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
                         "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        n = s["embeddings"]
        # unit vectors: 1.2 x a per-label centre (norm ~1) plus per-row
        # gaussian noise (norm ~8), normalised: cosine to the own centre
        # ~0.15, like the reference corpora
        centres = r.normal(0, 1 / 8, (10, 64))
        label = r.integers(0, 10, n)
        raw = 1.2 * centres[label] + r.normal(0, 1, (n, 64))
        vec = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                         "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                         "label": pa.array(label, pa.int32())})
    raise ValueError(f"unknown table {name}")


def corpus(sf, out_dir, names):
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(table(name, sf), os.path.join(out_dir, f"{name}.parquet"))


# Change rates of the `etl_incremental` CDC batches, taken from the
# program's own change-data-capture and data-quality keys
# (`graft.etl.Etl`) rather than chosen here:
# - `cdcChangeSet` (`etl_cdc_apply`, `stream_cdc_apply`): one key in 5
#   is updated (its segment changes) and one key in 11 arrives as a new
#   key, a copy of an existing customer with a `NEW-` name, offset past
#   the keyspace;
# - `etl_dq_check` / `etl_quarantine`: customers with a negative balance
#   are rejected (about 9 % of the corpus balances, uniform over
#   -999.99..9999.99 like TPC-H's `c_acctbal`), as are orders with a
#   bad status;
# - `etl_wap`: every 17th order of a delta has its customer key nulled,
#   the injected violation the DQ gate must reject.
# `cdcChangeSet` also deletes one key in 7; deletes are not generated,
# since `JdbcSink` has no delete path and `Scd.scd2Merge` closes
# departed keys only for authoritative full extracts.
UPDATE_EVERY = 5
INSERT_EVERY = 11
NULL_CUSTKEY_EVERY = 17
NEW_KEY_OFFSET = 10000000000


def etl_batches(sf, seed, cdc_batches, out_dir):
    """Batch files `b<k>_customers.parquet` and `b<k>_orders.parquet`,
    each row tagged with its batch number in `_batch`. Batch 0 is the
    full load (the corpus customers and orders). The seed picks which
    fifth of the keys each CDC batch updates, which eleventh of the
    customers and orders it copies as new rows, the new segments, and
    the row order of every file."""
    os.makedirs(out_dir, exist_ok=True)
    cust = table("customer", sf).to_pandas()
    orders = table("orders", sf).to_pandas()
    seen = cust
    for b in range(cdc_batches + 1):
        r = np.random.default_rng([seed, b])
        if b == 0:
            c, o = cust, orders
        else:
            upd = seen[seen.c_custkey % UPDATE_EVERY == r.integers(UPDATE_EVERY)].copy()
            segs = np.array(SEGMENTS, dtype=object)
            # a segment other than the current one, so every update is a change
            shift = r.integers(1, len(SEGMENTS), len(upd))
            cur = upd.c_mktsegment.map({s: i for i, s in enumerate(SEGMENTS)}).to_numpy()
            upd["c_mktsegment"] = segs[(cur + shift) % len(SEGMENTS)]
            ins = cust[cust.c_custkey % INSERT_EVERY == r.integers(INSERT_EVERY)].copy()
            ins["c_custkey"] += b * NEW_KEY_OFFSET
            ins["c_name"] = "NEW-" + ins.c_name
            c = pd.concat([upd, ins])
            seen = pd.concat([seen, ins])
            o = orders[orders.o_orderkey % INSERT_EVERY == r.integers(INSERT_EVERY)].copy()
            o["o_orderkey"] += b * NEW_KEY_OFFSET
            o["o_custkey"] = o.o_custkey.astype("Int64").mask(o.o_orderkey % NULL_CUSTKEY_EVERY == 0)
        c = c.iloc[r.permutation(len(c))]
        o = o.iloc[r.permutation(len(o))]
        write_batch(pa.Table.from_pandas(c, schema=CUSTOMER_SCHEMA, preserve_index=False), b,
                    os.path.join(out_dir, f"b{b}_customers.parquet"))
        write_batch(pa.Table.from_pandas(o, schema=ORDERS_SCHEMA, preserve_index=False), b,
                    os.path.join(out_dir, f"b{b}_orders.parquet"))


CUSTOMER_SCHEMA = pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                             ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                             ("c_mktsegment", pa.string())])
ORDERS_SCHEMA = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                           ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                           ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])


def write_batch(t, b, path):
    pq.write_table(t.append_column("_batch", pa.array(np.full(t.num_rows, b), pa.int32())), path)
