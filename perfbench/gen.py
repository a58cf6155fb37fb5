"""Seeded input tables for the benchmark.

A fixed base corpus with the shape of graft's sf0.1 test data (the same ten
tables, column names, physical types, row counts and value distributions)
is synthesised from a constant base seed; the workload seed then keeps about
95% of the rows of each fact table (`orders`, `lineitem`, `events`,
`documents`, `embeddings`), chosen by a hash of the row's key and the seed.
`lineitem` is keyed on its order key, so an order keeps or loses all of its
lines together. The tables that rows refer to (`region`, `nation`,
`supplier`, `customer`, `part`) are kept whole, so every foreign key still
finds its row, as in the committed data; several lanes rely on that. Every
table is written as one parquet file with one row group, so scan splits and
graft's `Tables.events` timestamp path match the committed data.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
KEEP = 0.95
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# table -> key column the seed's subset is drawn on (whole tables are absent)
SUBSET_KEY = {"orders": "o_orderkey", "lineitem": "l_orderkey",
              "events": "event_id", "documents": "doc_id",
              "embeddings": "vec_id"}

TS = pa.timestamp("us")
SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_EMB, EMB_DIM = 5_000, 2_000, 64

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _pick(rng, choices, n):
    """n strings drawn uniformly from `choices`, as an arrow string array."""
    idx = rng.integers(0, len(choices), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(choices)).dictionary_decode()


def _days(rng, start, end, n):
    """n midnight timestamps uniform over [start, end]."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables():
    """The fixed sf0.1-shaped corpus every seed subsets."""
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                   "n_regionkey": nk % 5}
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)}
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)}
    pk = np.arange(N_PART, dtype=np.int64)
    adj = np.array("blue old red small new large hot cold".split())
    noun = np.array("widget gizmo bolt plate rod anvil ring gear".split())
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, N_PART)], " "),
                              noun[rng.integers(0, 8, N_PART)]).tolist(),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}
    t["orders"] = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), N_LINEITEM)}
    # events: a month of arrivals, ~26 s apart, microsecond timestamps
    gaps = rng.exponential(30 * 86400 / N_EVENTS, N_EVENTS)
    micros = np.floor(np.cumsum(gaps) * 1e6).astype(np.int64)
    t["events"] = {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}
    # documents: bag-of-words text, 5% near-duplicates of an earlier document
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    t["documents"] = {
        "doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts,
        "lang": langs[rng.choice(5, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])].tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}
    emb = rng.standard_normal((N_EMB, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), EMB_DIM)
                       .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMB).astype(np.int32)}
    return {name: pa.table(cols, schema=SCHEMAS[name]) for name, cols in t.items()}


def keep_mask(keys, seed):
    """True for the ~95% of keys this seed keeps (splitmix64 of key and seed)."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) \
            + np.uint64(seed) * np.uint64(0xD1B54A32D192ED03) + np.uint64(1)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53) < KEEP


def generate(out_dir, seed):
    """Write the seed's tables to out_dir; returns {table: rows written}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in base_tables().items():
        key = SUBSET_KEY.get(name)
        if key is not None:
            table = table.filter(pa.array(keep_mask(table[key].to_numpy(), seed)))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2])))
