"""Seeded generator for the tables graft's `Tables` loader reads: the
TPC-H-ish star schema plus `events`, `documents` and `embeddings`, one
parquet file per table (`<dir>/<name>.parquet`), with the column names
and types of the repository's test data. Row counts follow the scale
factor the way the test data does (sf 0.01 = 60k lineitem rows). The
same seed gives the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["the", "a", "fast", "slow", "big", "small", "key", "value", "order", "line",
         "part", "customer", "sort", "table", "scan", "merge", "window", "hash", "join",
         "batch", "stream", "spark", "dup", "group", "query", "row", "data", "filter",
         "agg", "column", "vector"]


def sizes(sf):
    n = lambda per_sf, least: max(least, round(per_sf * sf))
    return dict(customer=n(150000, 150), supplier=n(10000, 10), part=n(200000, 200),
                orders=n(1500000, 1500), lineitem=n(6000000, 6000), events=n(1000000, 1000),
                documents=n(50000, 500), embeddings=n(20000, 500))


def generate(out_dir, sf, seed):
    """Write every table under out_dir; returns {table: rows}."""
    rng = np.random.default_rng(seed % 2**63)
    sz = sizes(sf)
    days = 6 * 365
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def pick(xs, n):
        return np.array(xs, dtype=object)[rng.integers(0, len(xs), n)]

    def dates(start, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    def money(lo, hi, n):
        return np.round(lo + rng.random(n) * (hi - lo), 2)

    nc, ns, np_, no, nl = sz["customer"], sz["supplier"], sz["part"], sz["orders"], sz["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    partkey = rng.integers(0, np_, nl)
    tables = {
        "region": [("r_regionkey", np.arange(5), i32),
                   ("r_name", ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)],
        "nation": [("n_nationkey", np.arange(25), i32),
                   ("n_name", [f"NATION_{i}" for i in range(25)], s),
                   ("n_regionkey", np.arange(25) % 5, i32)],
        "customer": [("c_custkey", np.arange(nc), i64),
                     ("c_name", [f"Customer#{i:09d}" for i in range(nc)], s),
                     ("c_nationkey", rng.integers(0, 25, nc), i32),
                     ("c_acctbal", money(-999.99, 9999.99, nc), f64),
                     ("c_mktsegment", pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                            "MACHINERY"], nc), s)],
        "supplier": [("s_suppkey", np.arange(ns), i64),
                     ("s_name", [f"Supplier#{i:09d}" for i in range(ns)], s),
                     ("s_nationkey", rng.integers(0, 25, ns), i32),
                     ("s_acctbal", money(-999.99, 9999.99, ns), f64)],
        "part": [("p_partkey", np.arange(np_), i64),
                 ("p_name", [f"{a} {b}" for a, b in zip(
                     pick(["blue", "hot", "small", "old", "cold", "red", "new", "large"], np_),
                     pick(["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"], np_))], s),
                 ("p_brand", [f"Brand#{b}" for b in rng.integers(1, 26, np_)], s),
                 ("p_type", pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], np_), s),
                 ("p_size", rng.integers(1, 51, np_), i32),
                 ("p_retailprice", np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2), f64)],
        "orders": [("o_orderkey", np.arange(no), i64),
                   ("o_custkey", rng.integers(0, nc, no), i64),
                   ("o_orderstatus", pick(["F", "O", "P"], no), s),
                   ("o_totalprice", money(1000.0, 500000.0, no), f64),
                   ("o_orderdate", dates("1995-01-01", no), pa.timestamp("us")),
                   ("o_orderpriority", pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                             "5-LOW"], no), s)],
        "lineitem": [("l_orderkey", rng.integers(0, no, nl), i64),
                     ("l_partkey", partkey, i64),
                     ("l_suppkey", rng.integers(0, ns, nl), i64),
                     ("l_linenumber", rng.integers(1, 8, nl), i32),
                     ("l_quantity", qty, f64),
                     ("l_extendedprice", np.round(qty * (900.0 + (partkey % 1000) / 10.0), 2), f64),
                     ("l_discount", rng.integers(0, 11, nl) / 100.0, f64),
                     ("l_tax", rng.integers(0, 9, nl) / 100.0, f64),
                     ("l_returnflag", pick(["A", "N", "R"], nl), s),
                     ("l_linestatus", pick(["O", "F"], nl), s),
                     ("l_shipdate", dates("1995-01-02", nl), pa.timestamp("us"))],
        "events": events(rng, sz["events"]),
        "documents": documents(rng, sz["documents"]),
        "embeddings": [("vec_id", np.arange(sz["embeddings"]), i64),
                       ("embedding", list((rng.standard_normal((sz["embeddings"], 64)) * 0.1)
                                          .astype(np.float32)), pa.list_(pa.float32())),
                       ("label", rng.integers(0, 10, sz["embeddings"]), i32)],
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table({c: pa.array(v, type=ty) for c, v, ty in cols})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]")
    return [("event_id", np.arange(n), pa.int64()),
            ("ts", ts, pa.timestamp("us")),
            ("user_id", rng.integers(0, 150, n), pa.int64()),
            ("event_type", np.array(["click", "error", "purchase", "signup", "view"],
                                    dtype=object)[rng.integers(0, 5, n)], pa.string()),
            ("value", np.round(rng.random(n) * 500.0, 2), pa.float64()),
            ("props", [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())]


def documents(rng, n):
    """A fifth of the documents copy an earlier one's words and change
    one, so the minhash and golden-record queries have clusters to find."""
    words = []
    for i in range(n):
        if i > 0 and rng.random() < 0.2:
            w = list(words[rng.integers(0, i)])
            w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            w = [VOCAB[j] for j in rng.integers(0, len(VOCAB), 8 + rng.integers(0, 83))]
        words.append(w)
    text = [" ".join(w) for w in words]
    return [("doc_id", np.arange(n), pa.int64()),
            ("text", text, pa.string()),
            ("lang", np.array(["en", "en", "en", "es", "zh", "de", "fr"],
                              dtype=object)[rng.integers(0, 7, n)], pa.string()),
            ("source", [f"src{i % 20}" for i in range(n)], pa.string()),
            ("n_chars", [len(t) for t in text], pa.int64())]
