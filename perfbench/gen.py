"""Seeded generator for the benchmark's input tables.

Writes the ten tables `SparkEntry.queries` read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas and value distributions of the repository's
TPC-H-ish fixtures (FIXTURES.md): uniform keys and categories, 2-decimal
money, midnight dates, a 30-day event stream, space-delimited documents
over a 30-word vocabulary with 5% " dup"-suffixed near-duplicates, and
64-dim float embeddings. The same (seed, scale, replicas) always gives
byte-identical inputs.

`replicas > 1` builds the scale tier: the base corpus is copied with
every key offset per replica (foreign keys move with their targets) and,
from replica 1 on, every document token suffixed with a seed-derived
replica tag, so near-duplicate structure replicates inside each copy
instead of exploding quadratically across copies.

    python3 gen.py OUT_DIR --seed N --scale SF [--replicas R]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(("a agg batch big column customer data fast filter group hash "
                  "join key line merge order part query row scan slow small "
                  "sort spark stream table the value vector window").split())
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["de", "en", "es", "fr", "zh"])
LANG_P = np.array([0.147, 0.412, 0.147, 0.147, 0.147])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _epoch_us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


ORDER_DAY0, ORDER_DAYS = _epoch_us("1995-01-01"), 2404
SHIP_DAY0, SHIP_DAYS = _epoch_us("1995-01-02"), 2498
EVENT_T0 = _epoch_us("2024-01-01")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _counts(scale):
    n = lambda base: max(1, int(round(base * scale)))
    return dict(customer=n(150_000), supplier=n(10_000), part=n(200_000),
                orders=n(1_500_000), lineitem=n(6_000_000), events=n(1_000_000),
                users=n(15_000), documents=max(500, n(50_000)),
                embeddings=max(500, n(20_000)))


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # 5% near-duplicates: an earlier document's text plus a " dup" token
    dups = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for d in dups.tolist():
        text[d] = text[int(rng.integers(0, d))] + " dup"
    return text


def base_tables(seed, scale):
    rng = np.random.default_rng(seed)
    c = _counts(scale)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(c["customer"], dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, len(ck))]})
    sk = np.arange(c["supplier"], dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk))})
    pk = np.arange(c["part"], dtype=np.int64)
    adj, noun = ADJ[rng.integers(0, 8, len(pk))], NOUN[rng.integers(0, 8, len(pk))]
    t["part"] = pa.table({
        "p_partkey": pk, "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(pk)).astype(str)),
        "p_type": TYPES[rng.integers(0, 6, len(pk))],
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    ok = np.arange(c["orders"], dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, c["customer"], len(ok)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, len(ok))],
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
        "o_orderdate": _ts(ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, len(ok)) * US_PER_DAY),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, len(ok))]})
    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n),
        "l_partkey": rng.integers(0, c["part"], n),
        "l_suppkey": rng.integers(0, c["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(SHIP_DAY0 + rng.integers(0, SHIP_DAYS + 1, n) * US_PER_DAY)})
    n = c["events"]
    gaps = rng.exponential(30 * US_PER_DAY / n, n)
    ts = EVENT_T0 + np.floor(np.cumsum(gaps)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64), "ts": _ts(ts),
        "user_id": rng.integers(0, c["users"], n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")})
    n = c["documents"]
    text = _documents(rng, n)
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64), "text": text,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)})
    n = c["embeddings"]
    emb = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return t


# key columns offset per replica, grouped by the table whose row count
# sets the offset (a foreign key moves with the table it points into)
KEYS = {
    "customer": [("customer", "c_custkey")],
    "supplier": [("supplier", "s_suppkey")],
    "part": [("part", "p_partkey")],
    "orders": [("orders", "o_orderkey"), ("customer", "o_custkey")],
    "lineitem": [("orders", "l_orderkey"), ("part", "l_partkey"),
                 ("supplier", "l_suppkey")],
    "events": [("events", "event_id"), ("users", "user_id")],
    "documents": [("documents", "doc_id")],
    "embeddings": [("embeddings", "vec_id")],
}
NAMES = {"customer": ("c_name", "c_custkey", "Customer"),
         "supplier": ("s_name", "s_suppkey", "Supplier")}


def replicate(tables, seed, scale, replicas):
    counts = _counts(scale)
    tag = "".join(chr(ord("a") + (seed >> (5 * i)) % 26) for i in range(3))
    out = {}
    for name, base in tables.items():
        if name not in KEYS:
            out[name] = base
            continue
        copies = []
        for r in range(replicas):
            tb = base
            for owner, column in KEYS[name]:
                i = tb.schema.get_field_index(column)
                tb = tb.set_column(i, column, pa.array(
                    tb[column].to_numpy() + r * counts[owner]))
            if name in NAMES:
                col, key, prefix = NAMES[name]
                tb = tb.set_column(tb.schema.get_field_index(col), col,
                                   _names(prefix, tb[key].to_numpy()))
            if name == "documents" and r > 0:
                suffix = f"{tag}{r}"
                text = [" ".join(w + suffix for w in s.split(" "))
                        for s in tb["text"].to_pylist()]
                tb = tb.set_column(tb.schema.get_field_index("text"), "text",
                                   pa.array(text))
                tb = tb.set_column(tb.schema.get_field_index("n_chars"), "n_chars",
                                   pa.array([len(s) for s in text], pa.int64()))
            copies.append(tb)
        out[name] = pa.concat_tables(copies)
    return out


def generate(out_dir, seed, scale, replicas=1):
    tables = base_tables(seed, scale)
    if replicas > 1:
        tables = replicate(tables, seed, scale, replicas)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--replicas", type=int, default=1)
    a = ap.parse_args()
    print(generate(a.out_dir, a.seed, a.scale, a.replicas))
