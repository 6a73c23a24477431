"""Deterministic sf0.1-shaped corpus for the benchmark, and its DuckDB oracle.

The declared queries read ten parquet tables (`graft.Tables`). The benchmark
runs in a bare checkout, so it generates those tables itself: same names,
column types, row counts and value domains as the project's sf0.1 test
corpus, one parquet file and one row group per table, from a fixed seed.
The corpus is the same for every run; the run seed only picks what the
workloads do with it.

`oracle_fingerprints` runs each declared query's DuckDB twin
(`SparkEntry.oracleSql`) over the corpus and fingerprints the result after
the normalisation of the project's oracle gate, `tools/check.py`, which is
imported from there.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import norm  # noqa: E402  the oracle gate's normalisation

CORPUS_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("a the spark batch part line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector customer join").split()


def _write(path, cols, schema):
    tbl = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def generate(out_dir):
    """Write the ten tables under `out_dir` (`{table}.parquet`)."""
    rng = np.random.default_rng(CORPUS_SEED)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(p("region"), {"r_regionkey": list(range(5)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(p("nation"), {"n_nationkey": list(range(25)),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    n = 15000
    _write(p("customer"), {
        "c_custkey": np.arange(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))

    n = 1000
    _write(p("supplier"), {
        "s_suppkey": np.arange(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))

    n = 20000
    adj = ["large", "hot", "blue", "green", "small", "red", "cold", "shiny"]
    noun = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "spring"]
    _write(p("part"), {
        "p_partkey": np.arange(n),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    n = 150000
    _write(p("orders"), {
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, 15000, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    n = 600000
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, 150000, n),
        "l_partkey": rng.integers(0, 20000, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))

    # events: the topic's source log; ts increases with event_id
    n = 100000
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = 30 * 86400 * 1_000_000
    _write(p("events"), {
        "event_id": np.arange(n),
        "ts": t0 + np.sort(rng.integers(0, span, n)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(np.minimum(rng.exponential(60.0, n), 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))

    # documents: token text with planted exact and near duplicates
    n = 5000
    texts = []
    for i in range(n):
        if i >= 100 and rng.random() < 0.06:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(["en", "en", "de", "es", "fr", "zh"], n,
                       p=[0.21, 0.2, 0.14, 0.15, 0.15, 0.15])
    _write(p("documents"), {
        "doc_id": np.arange(n), "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))

    # embeddings: 10 labelled clusters of unit vectors in 64 dims
    n, dim = 2000, 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    v = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": np.arange(n), "embedding": [list(r) for r in v],
        "label": labels.astype(np.int32)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))


def fingerprint(df):
    """Hash of a normalised frame: column names, dtypes and every value."""
    df = norm(df)
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(df[c].dtype)] for c in df.columns]).encode())
    h.update(df.to_csv(index=False, float_format="%.17g").encode())
    return f"{len(df)}:{h.hexdigest()[:32]}"


def connect(corpus_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus_dir}/{t}.parquet')")
    return con


def oracle_fingerprints(corpus_dir, oracle_sql):
    """{query: fingerprint of its DuckDB twin's result over the corpus}."""
    con = connect(corpus_dir)
    return {name: fingerprint(con.execute(sql).df())
            for name, sql in sorted(oracle_sql.items())}


def result_fingerprint(con, result_dir):
    """Fingerprint of one query result the benchmark wrote as parquet."""
    return fingerprint(con.execute(
        f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df())
