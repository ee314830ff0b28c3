#!/usr/bin/env python3
"""Inputs and oracle of the query_suite workload.

    python3 perfbench/suite_data.py gen SEED DIR
        writes the ten driver tables (region, nation, customer, supplier,
        part, orders, lineitem, events, documents, embeddings) as
        DIR/<table>.parquet: the schema and size of the sf0.001 fixtures,
        values drawn from SEED.
    python3 perfbench/suite_data.py hash DIR SQL_JSON OUT_JSON
        runs each SQL of SQL_JSON (name -> DuckDB SQL: a query's oracle, or
        a read of the engine's parquet output) over the tables in DIR and
        writes name -> {"rows", "hash", "cols"} to OUT_JSON.

Both print the CPU seconds they used as the last line of their output.
The hash is the one of tools/check_oracle.py: columns in name order,
floats by repr, rows sorted, sha256 over the lines, first 16 hex digits.
"""
import hashlib
import json
import os
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("scan column window order sort part agg value line key join merge query group a "
         "vector hash slow stream filter fast the spark batch table small data big customer row").split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if v == 0:
                    v = 0.0
                vals.append(repr(v))
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    h = hashlib.sha256()
    for line in out:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def ts(base, seconds):
    return pa.array((np.datetime64(base, "us") + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def generate(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32 = lambda xs: pa.array(np.asarray(xs, dtype=np.int32))
    i64 = lambda xs: pa.array(np.asarray(xs, dtype=np.int64))
    f64 = lambda xs: pa.array(np.asarray(xs, dtype=np.float64))
    s = lambda xs: pa.array([str(x) for x in xs], type=pa.string())
    pick = lambda opts, n: [opts[k] for k in rng.integers(0, len(opts), n)]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": i32(range(5)),
                     "r_name": s(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write("nation", {"n_nationkey": i32(range(25)), "n_name": s(f"NATION_{k}" for k in range(25)),
                     "n_regionkey": i32([k % 5 for k in range(25)])})
    write("customer", {"c_custkey": i64(range(150)), "c_name": s(f"Customer#{k:09d}" for k in range(150)),
                       "c_nationkey": i32(rng.integers(0, 25, 150)), "c_acctbal": f64(money(-999, 9999, 150)),
                       "c_mktsegment": s(pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], 150))})
    write("supplier", {"s_suppkey": i64(range(10)), "s_name": s(f"Supplier#{k:09d}" for k in range(10)),
                       "s_nationkey": i32(rng.integers(0, 25, 10)), "s_acctbal": f64(money(-999, 9999, 10))})
    adj = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
    noun = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear"]
    write("part", {"p_partkey": i64(range(200)),
                   "p_name": s(f"{a} {b}" for a, b in zip(pick(adj, 200), pick(noun, 200))),
                   "p_brand": s(f"Brand#{k}" for k in rng.integers(1, 26, 200)),
                   "p_type": s(pick(["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"], 200)),
                   "p_size": i32(rng.integers(1, 51, 200)),
                   "p_retailprice": f64(np.round(900 + np.arange(200) * 0.1, 2))})
    write("orders", {"o_orderkey": i64(range(1500)), "o_custkey": i64(rng.integers(0, 150, 1500)),
                     "o_orderstatus": s(pick(["F", "O", "P"], 1500)),
                     "o_totalprice": f64(money(1000, 500000, 1500)),
                     "o_orderdate": ts("1995-01-01", rng.integers(0, 2404, 1500) * 86400),
                     "o_orderpriority": s(pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], 1500))})
    qty = rng.integers(1, 51, 6000).astype(np.float64)
    write("lineitem", {"l_orderkey": i64(rng.integers(0, 1500, 6000)), "l_partkey": i64(rng.integers(0, 200, 6000)),
                       "l_suppkey": i64(rng.integers(0, 10, 6000)), "l_linenumber": i32(rng.integers(1, 8, 6000)),
                       "l_quantity": f64(qty), "l_extendedprice": f64(np.round(qty * rng.uniform(900, 2100, 6000), 2)),
                       "l_discount": f64(np.round(rng.integers(0, 11, 6000) / 100, 2)),
                       "l_tax": f64(np.round(rng.integers(0, 9, 6000) / 100, 2)),
                       "l_returnflag": s(pick(["A", "N", "R"], 6000)), "l_linestatus": s(pick(["O", "F"], 6000)),
                       "l_shipdate": ts("1995-01-02", rng.integers(0, 2498, 6000) * 86400)})
    write("events", {"event_id": i64(range(1000)),
                     "ts": ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, 1000))),
                     "user_id": i64(rng.integers(0, 15, 1000)),
                     "event_type": s(pick(["signup", "click", "error", "purchase", "view"], 1000)),
                     "value": f64(np.round(rng.exponential(60, 1000) + 0.01, 2)),
                     "props": s(f'{{"k": {k}}}' for k in rng.integers(0, 100, 1000))})
    texts = []
    for d in range(500):
        if d > 0 and rng.random() < 0.06:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            # 3% long documents: the length outliers of q_outliers
            n_words = 400 if rng.random() < 0.03 else int(rng.integers(10, 101))
            texts.append(" ".join(pick(WORDS, n_words)))
    write("documents", {"doc_id": i64(range(500)), "text": s(texts),
                        "lang": s(pick(["en", "en", "de", "es", "fr", "zh"], 500)),
                        "source": s(f"src{d % 20}" for d in range(500)),
                        "n_chars": i64([len(t) for t in texts])})
    labels = rng.integers(0, 10, 500)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": i64(range(500)),
                         "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                         "label": i32(labels)})


def connect(tables):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    return con


def hash_queries(tables, sql_json, out_json):
    """Runs each SQL of SQL_JSON (name -> DuckDB SQL) over the tables and
    writes name -> {"rows", "hash", "cols"} to OUT_JSON."""
    con = connect(tables)
    with open(sql_json) as fh:
        sqls = json.load(fh)
    res = {}
    for name, sql in sorted(sqls.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        res[name] = {"rows": len(rows), "hash": canon(rows, cols), "cols": sorted(cols)}
    with open(out_json, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "gen":
        generate(int(args[0]), args[1])
    elif cmd == "hash":
        hash_queries(*args)
    else:
        sys.exit(f"unknown command {cmd}")
    print(time.process_time())
