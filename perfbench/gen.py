"""Seeded input generators for the benchmark.

`tables(seed, out_dir, sf)` writes the ten base tables the engine's
catalogue reads (same names, columns, types and value ranges as the
engine's sf-scaled test data); `quote_batch(seed, i, ...)` builds the
i-th landed quote batch of both workloads. Both are pure
functions of their arguments: the same seed gives byte-identical
parquet files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "red", "hot", "new", "large", "small", "green", "dark"]
NOUNS = ["bolt", "ring", "anvil", "rod", "plate", "gear", "nut", "pipe"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000


def _days_us(start, end, n, rng):
    """`n` random whole days in [start, end], as epoch micros."""
    lo = (start - EPOCH).days
    hi = (end - EPOCH).days
    return rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(seed, out_dir, sf=0.1):
    """Write the base tables for `seed` at scale `sf` under `out_dir`."""
    rng = np.random.default_rng([seed, 0x7461626c])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    def write(name, cols):
        _write(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    write("part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(
            np.array(COLORS)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUNS)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days_us(dt.datetime(1995, 1, 1),
                                         dt.datetime(2001, 8, 1), n_ord, rng),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days_us(dt.datetime(1995, 1, 2),
                                        dt.datetime(2001, 11, 4), n_li, rng),
                               pa.timestamp("us"))})
    t0 = (dt.datetime(2024, 1, 1) - EPOCH).days * DAY_US
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + t0
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_doc)]
    # one document in twenty is a near-duplicate: another's text + " dup"
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


QUOTE_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("symbol", pa.string()), ("price", pa.float64()),
    ("as_of", pa.timestamp("us", tz="UTC")), ("currency", pa.string()),
    ("source", pa.string())])

# landed quote ids start far above any seed-table id
QUOTE_ID_BASE = 1 << 40


def quote_batch(seed, i, rows, due_us):
    """The i-th landed quote batch: `rows` quotes stamped `due_us`."""
    rng = np.random.default_rng([seed, 0x71756f74, i])
    return pa.table({
        "doc_id": pa.array(QUOTE_ID_BASE + i * rows + np.arange(rows), pa.int64()),
        "symbol": np.array(EVENT_TYPES)[rng.integers(0, 5, rows)],
        "price": np.round(rng.exponential(50.0, rows), 2),
        "as_of": pa.array(np.full(rows, due_us, np.int64),
                          pa.timestamp("us", tz="UTC")),
        "currency": ["USD"] * rows,
        "source": np.char.add("src", rng.integers(0, 2, rows).astype(str))},
        schema=QUOTE_SCHEMA)


def land(table, landing_dir, i):
    """Write batch `i` atomically: temp name, then rename into place.

    The temp file starts with `_`, which Spark's file source ignores.
    """
    tmp = os.path.join(landing_dir, f"_tmp-{i:06d}.parquet")
    _write(table, tmp)
    os.rename(tmp, os.path.join(landing_dir, f"batch-{i:06d}.parquet"))
