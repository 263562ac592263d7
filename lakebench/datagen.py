"""Seeded input generator for the lakehouse benchmark.

Every table has the schema of the repository's TPC-H-style fixture set
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings). Values are drawn with numpy from one seed, so the
same seed always gives byte-identical parquet files, and the generator
keeps the model each workload checks the program's answers against.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key value row table part hash scan sort join group agg "
         "order filter window merge stream batch query data column spark "
         "vector fast slow big small line customer").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
FLAGS = np.array(["A", "N", "R"])
STATUS = np.array(["F", "O"])
ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
COLORS = ["blue", "green", "red", "small", "large", "steel", "black", "white"]
THINGS = ["anvil", "bolt", "gear", "ring", "widget", "nut", "spring", "valve"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _cents(x):
    return np.round(x, 2)


class Zipf:
    """Keys in [0, n_keys) with P(rank r) ~ 1/r^skew. Ranks are scattered
    over the key space by a permutation fixed at construction, so the hot
    set stays the same across draws and hot keys are not adjacent."""

    def __init__(self, rng, n_keys, skew):
        p = np.arange(1, n_keys + 1, dtype=np.float64) ** -skew
        self.cdf = np.cumsum(p / p.sum())
        self.perm = rng.permutation(n_keys)

    def draw(self, rng, size):
        ranks = np.minimum(np.searchsorted(self.cdf, rng.random(size)), len(self.perm) - 1)
        return self.perm[ranks]


def lineitem_arrays(rng, n_orders):
    lines = rng.integers(1, 8, size=n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(2, n_orders // 7.5), size=n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(2, n_orders // 150), size=n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, size=n)),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": FLAGS[rng.integers(0, 3, size=n)],
        "l_linestatus": STATUS[rng.integers(0, 2, size=n)],
        "l_shipdate": EPOCH_1995 + rng.integers(0, 2500, size=n).astype("timedelta64[D]"),
    }


def documents(rng, n_docs):
    texts = []
    vocab = np.array(VOCAB)
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc with one word changed
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), size=rng.integers(8, 97))])
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
        "source": np.array([f"src{k}" for k in rng.integers(0, 20, size=n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def events(rng, n_events, n_users):
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": EPOCH_2024 + rng.integers(0, 30 * 86400 * 10**6, size=n_events).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, size=n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, size=n_events)],
        "value": _cents(rng.exponential(50.0, size=n_events)),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
    }


def generate_ev(out, seed, sf):
    """Write `ev_base.parquet`, the events table at scale factor `sf` with
    its timestamp as epoch microseconds (`ts_us`), the shape the CDC
    envelopes carry; return its columns."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ev = events(rng, max(1000, int(1_000_000 * sf)), max(15, int(15_000 * sf)))
    ev["ts_us"] = ev.pop("ts").astype(np.int64)
    ev = {k: ev[k] for k in ("event_id", "ts_us", "user_id", "event_type", "value", "props")}
    _write(out, "ev_base", ev)
    return ev


def generate(out, seed, sf):
    """Write every fixture table for scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(150, int(1_500_000 * sf))
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(2, n_orders // 150)
    n_part = max(2, int(n_orders // 7.5))
    _write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, size=n_cust)),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, size=n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, size=n_supp))})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in
                   zip(rng.integers(0, len(COLORS), size=n_part),
                       rng.integers(0, len(THINGS), size=n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, size=n_part)],
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": _cents(900.0 + rng.integers(0, 1000, size=n_part) / 10.0)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
        "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, size=n_orders)],
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, size=n_orders)),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, size=n_orders).astype("timedelta64[D]"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, size=n_orders)]})
    li = lineitem_arrays(rng, n_orders)
    _write(out, "lineitem", li)
    ev = events(rng, max(1000, int(1_000_000 * sf)), max(15, int(15_000 * sf)))
    _write(out, "events", ev)
    _write(out, "documents", documents(rng, max(200, int(50_000 * sf))))
    n_emb = max(100, int(20_000 * sf))
    emb = rng.normal(0.0, 0.15, size=(n_emb, 64)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n_emb).astype(np.int32)})
