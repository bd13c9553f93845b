"""Seeded tables for batch_heavy: a TPC-H-shaped star (nation, supplier,
part, orders, lineitem) and a `documents` corpus, with the column names and
types the batch rows read. Rows come out in a seeded order and each table
is split into a seeded number of files (`split.json`)."""
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 5000
PARTS = 1000
SUPPLIERS = 100
CUSTOMERS = 500
DOCS = 600
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = (("en", 44), ("zh", 15), ("es", 15), ("de", 14), ("fr", 12))
ADJ = "red small hot old large blue cold green tiny bright".split()
NOUN = "plate widget ring rod bolt gizmo gear anvil spring valve".split()
EPOCH = dt.datetime(1992, 1, 1)
TABLES = ("nation", "supplier", "part", "orders", "lineitem", "documents")


def _shuffled(r, rows):
    rows = list(rows)
    r.shuffle(rows)
    return rows


def _table(rows, schema):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                    schema=schema)


def _doc(r, n_words):
    return " ".join(r.choice(WORDS) for _ in range(n_words))


def tables(seed):
    r = random.Random("batch_heavy/%d" % seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}
    out["nation"] = _table(
        _shuffled(r, [(k, "NATION_%d" % k, k % 5) for k in range(25)]),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    out["supplier"] = _table(_shuffled(r, [
        (k, "Supplier#%09d" % k, r.randrange(25), r.randint(0, 999999) / 100)
        for k in range(SUPPLIERS)]),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    out["part"] = _table(_shuffled(r, [
        (k, "%s %s" % (r.choice(ADJ), r.choice(NOUN)),
         "Brand#%d" % r.randint(1, 25),
         r.choice(("ECONOMY", "STANDARD", "PROMO", "LARGE")),
         r.randint(1, 50), 900 + (k % 1000) / 10)
        for k in range(PARTS)]),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    orders, lines = [], []
    for k in range(ORDERS):
        day = EPOCH + dt.timedelta(days=r.randrange(2400))
        total = 0.0
        for ln in range(1, r.randint(1, 7) + 1):
            qty = float(r.randint(1, 50))
            price = r.randint(90000, 10500000) / 100
            total += price
            lines.append((k, r.randrange(PARTS), r.randrange(SUPPLIERS), ln,
                          qty, price, r.randint(0, 10) / 100,
                          r.randint(0, 8) / 100, r.choice("ANR"),
                          r.choice("OF"),
                          day + dt.timedelta(days=r.randint(1, 120))))
        orders.append((k, r.randrange(CUSTOMERS), r.choice("FOP"),
                       round(total, 2), day,
                       r.choice(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"))))
    out["orders"] = _table(_shuffled(r, orders), pa.schema([
        ("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
        ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    out["lineitem"] = _table(_shuffled(r, lines), pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
        ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
        ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
        ("l_linestatus", s), ("l_shipdate", ts)]))
    texts = []
    for k in range(DOCS):
        if texts and r.random() < 0.08:
            # near duplicate of an earlier document: a few words edited
            words = r.choice(texts).split()
            for _ in range(r.randint(1, 3)):
                words[r.randrange(len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(_doc(r, r.randint(8, 90)))
    langs = [l for l, w in LANGS for _ in range(w)]
    docs = [(k, t, r.choice(langs), "src%d" % (k % 20), len(t))
            for k, t in enumerate(texts)]
    out["documents"] = _table(_shuffled(r, docs), pa.schema([
        ("doc_id", i64), ("text", s), ("lang", s), ("source", s),
        ("n_chars", i64)]))
    split = {t: r.randint(1, 4) for t in TABLES}
    return out, split


def generate(out, seed):
    """Writes each table as a directory of `split[table]` parquet files,
    contiguous slices of its seeded row order."""
    data, split = tables(seed)
    tdir = os.path.join(out, "tables")
    for name, t in data.items():
        d = os.path.join(tdir, name + ".parquet")
        os.makedirs(d, exist_ok=True)
        k = split[name]
        step = -(-t.num_rows // k)
        for i in range(k):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(d, "part-%05d.parquet" % i),
                           compression="snappy")
    with open(os.path.join(out, "split.json"), "w") as f:
        json.dump(split, f, sort_keys=True)
