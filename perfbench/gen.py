"""The query_mix tables: the TPC-H-ish star schema plus `events`,
`documents` and `embeddings` that graft's registered queries read, one
parquet file per table (the layout `graft.Tables.load` expects).

The data set is fixed (TABLE_SEED): the same call writes byte-identical
files, and the workload seed only permutes the query order, so the
DuckDB fingerprints in oracle.json are computed once.
"""
import json
import os

TABLE_SEED = 20260101
# sizes of the scale the repo's oracle gate runs at (sf0.01)
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def write_tables(out_dir):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    i32, i64 = pa.int32(), pa.int64()
    put("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n = SIZES["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)})

    n = SIZES["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": money(-999.99, 9999.99, n)})

    n = SIZES["part"]
    adj = ["red", "blue", "hot", "cold", "old", "small", "large", "new"]
    noun = ["widget", "bolt", "gear", "plate", "ring", "rod", "gizmo", "nut"]
    put("part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})

    n = SIZES["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": money(1000.0, 500000.0, n),
        "o_orderdate": days("1995-01-01", 2400, n),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})

    n = SIZES["lineitem"]
    okey = np.sort(rng.integers(0, SIZES["orders"], n))
    line = np.ones(n, dtype=np.int32)
    for i in range(1, n):
        if okey[i] == okey[i - 1]:
            line[i] = line[i - 1] + 1
    qty = rng.integers(1, 51, n).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n), i64),
        "l_linenumber": pa.array(line, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": days("1995-01-02", 2500, n)})

    n = SIZES["events"]
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    put("events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]})

    # documents: random word strings; every tenth document is a near
    # duplicate of an earlier one (one word swapped, marker appended) so
    # the dedup/near-dup operators have work to find
    n = SIZES["documents"]
    texts = []
    for i in range(n):
        if i % 10 == 9:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: unit vectors scattered around ten labelled centroids
    n, dim = SIZES["embeddings"], 64
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
