"""Seeded generator of the benchmark's input tables.

Writes the TPC-H-like star schema plus the `events`, `documents` and
`embeddings` tables that the engine's pipeline queries read, one parquet
file (one row group) per table, with the same column names and types as
the engine's test corpora. The same (seed, sf) always gives the same bytes.

Usage: python3 gen_data.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
COLORS = "red blue green black white small large steel brass copper".split()
THINGS = "ring widget bolt gear plate valve spring nut".split()
PART_TYPES = ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=1 << 30)


def tables(seed, sf):
    """Yield (name, {column: pyarrow array}) for every table."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))

    yield "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)}
    yield "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    yield "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(COLORS)[rng.integers(0, 10, n_part)], " "),
                        np.array(THINGS)[rng.integers(0, 8, n_part)])
    yield "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))}

    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    yield "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}

    lok = np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64))
    lnum = (np.arange(n_line) - np.searchsorted(lok, lok)).astype(np.int32) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[lok] + rng.integers(1, 96, n_line) * US_PER_DAY
    perm = rng.permutation(n_line)
    rf = np.where(rng.random(n_line) < 0.5, "A", np.where(rng.random(n_line) < 0.5, "N", "R"))
    yield "lineitem", {
        "l_orderkey": pa.array(lok[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(lnum[perm]),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rf),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(ship[perm])}

    ev_ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    n_users = max(10, n_ev // 66)
    yield "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(20.0, n_ev), 2)),
        "props": pa.array(["{\"k\": %d}" % k for k in rng.integers(0, 100, n_ev)])}

    # documents: random word sequences; 5% are near-duplicates (an earlier
    # document plus one marker word), a few are exact copies
    lens = rng.integers(10, 101, n_doc)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in range(1, n_doc):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif r < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    yield "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}

    # embeddings: unit vectors in 64 dimensions around 10 label centroids
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    cents = rng.normal(0.0, 1.0, (10, 64))
    v = cents[labels] * 0.3 + rng.normal(0.0, 1.0, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels)}


def generate(out_dir, seed, sf, only=None):
    """Write every table (or those named in `only`) under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed, sf):
        if only is None or name in only:
            _write(out_dir, name, cols)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
