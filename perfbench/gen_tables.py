"""Seeded generator for the query workloads' input tables.

Writes the ten tables the registered queries read (`region nation customer
supplier part orders lineitem events documents embeddings`), one parquet
file each, with the schemas and value shapes of the engine's sf0.001 test
data: a small star schema, an `events` stream with monotone timestamps,
a text corpus over a 30-word vocabulary in which about a fifth of the
documents are near-duplicates (another document plus trailing " dup"
tokens), and unit-norm 64-dimensional embeddings weakly clustered by
label. The same seed gives byte-identical files.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear"]
PTYPES = ["MEDIUM", "SMALL", "PROMO", "ECONOMY", "LARGE", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
LANGS = ["en", "en", "de", "fr", "es", "zh"]
VOCAB = ("scan column window order sort part agg value line key join merge "
         "query group a vector hash slow stream filter fast batch the spark "
         "table small data big customer row").split()


def _write(out_dir, name, table):
    pq.write_table(table, f"{out_dir}/{name}.parquet", compression="snappy")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def generate(out_dir, seed, lineitems=6000, documents=500, vectors=500,
             events=1000):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_orders = lineitems // 4

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 63, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(_days(rng, n_orders, "1995-01-01", 2400),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)}))
    qty = rng.integers(1, 51, lineitems).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, lineitems), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, lineitems), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, lineitems), 2),
        "l_discount": np.round(rng.integers(0, 11, lineitems) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, lineitems) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
        "l_linestatus": rng.choice(["F", "O"], lineitems),
        "l_shipdate": pa.array(_days(rng, lineitems, "1995-01-02", 2500),
                               pa.timestamp("us"))}))

    # events: monotone microsecond timestamps over 30 days, 15 users
    gaps = rng.exponential(30 * 86400e6 / events, events).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, events),
        "value": np.round(rng.gamma(2.0, 50.0, events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]}))

    # documents: random word sequences; ~20% copy an earlier document
    # and append one to three " dup" tokens
    texts = []
    for i in range(documents):
        if i > 10 and rng.random() < 0.2:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            n = int(rng.integers(10, 90))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(range(documents), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, documents),
        "source": [f"src{i % 20}" for i in range(documents)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    # embeddings: unit vectors = normalize(0.15 * centre[label] + noise)
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, vectors)
    vecs = 0.15 * centres[labels] + rng.normal(scale=0.125, size=(vectors, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
