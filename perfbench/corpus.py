"""Seeded corpus generator for the benchmark.

Writes the ten tables the graft queries read (one parquet file each, the
layout `graft.Tables` expects) with the schemas and physical types of the
read-only test fixtures: `timestamp[us]` timestamps without a zone,
`list<float>` embeddings, int32/int64 keys as in the fixtures. The value
laws copy what the fixtures show:

- TPC-H-ish tables: uniform keys, prices and dates over the fixture ranges;
  lineitem rows pick their order uniformly (4 lines per order on average).
- events: uniform times over January 2024, one user per ten customers,
  exponential values with mean 50, `{"k": n}` props with n < 100.
- documents: 10-100 words from the fixture's 31-word vocabulary; one in
  twenty is an earlier document with " dup" appended (a planted near-dup).
- embeddings: 64-d unit vectors with labels 0-9.

The same seed gives identical files; another seed gives other rows with the
same schemas and row counts. Each table draws from its own stream, so
changing one table's size does not change another table's rows.

`write_ingest` adds the inputs of the direct KeyedTable ops: a keyed base
table and two change batches.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
NAME_ADJ = "blue cold hot large new old red small".split()
NAME_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

def sizes(sf, docs=None, vecs=None):
    """Row counts for a TPC-H-ish scale factor `sf` (sf=0.1 is ~600k
    lineitem rows); documents and embeddings default to the fixture's."""
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": max(10, n(10_000)),
        "part": n(200_000), "orders": n(1_500_000),
        "lineitem": n(6_000_000), "events": n(1_000_000),
        "documents": docs if docs is not None else max(500, n(50_000)),
        "embeddings": vecs if vecs is not None else max(500, n(20_000)),
    }


def _rng(seed, table):
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _days(rng, n, lo, hi):
    """Midnight timestamps uniform over [lo, hi] (numpy datetime64[D])."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def build(seed, rows):
    """Return {table: pyarrow.Table} for a seed and the `sizes()` dict."""
    i32, i64, ts = pa.int32(), pa.int64(), pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    r = _rng(seed, "nation")
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), i32)})

    n = rows["customer"]; r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": _names("Customer", range(n)),
        "c_nationkey": pa.array(r.integers(0, 25, n), i32),
        "c_acctbal": _money(r, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})

    n = rows["supplier"]; r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": _names("Supplier", range(n)),
        "s_nationkey": pa.array(r.integers(0, 25, n), i32),
        "s_acctbal": _money(r, n, -999.99, 9999.99)})

    n = rows["part"]; r = _rng(seed, "part")
    names = [f"{a} {b}" for a in NAME_ADJ for b in NAME_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": np.array(names)[r.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": np.array(TYPES)[r.integers(0, len(TYPES), n)],
        "p_size": pa.array(r.integers(1, 51, n), i32),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n) / 10.0, 1)})

    n = rows["orders"]; r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(r.integers(0, rows["customer"], n), i64),
        "o_orderstatus": np.array(STATUS)[r.integers(0, 3, n)],
        "o_totalprice": _money(r, n, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(r, n, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": np.array(PRIORITY)[r.integers(0, 5, n)]})

    n = rows["lineitem"]; r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, rows["orders"], n), i64),
        "l_partkey": pa.array(r.integers(0, rows["part"], n), i64),
        "l_suppkey": pa.array(r.integers(0, rows["supplier"], n), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n), i32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, n, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(r, n, "1995-01-02", "2001-11-04"), ts)})

    n = rows["events"]; r = _rng(seed, "events")
    users = max(1, rows["customer"] // 10)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 1_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(start + r.integers(0, month_us, n).astype("timedelta64[us]"), ts),
        "user_id": pa.array(r.integers(0, users, n), i64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})

    n = rows["documents"]; r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    lengths = r.integers(10, 101, n)
    words = vocab[r.integers(0, len(vocab), int(lengths.sum()))]
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    dup = r.random(n) < 0.05
    src = r.integers(0, np.maximum(1, np.arange(n)))
    for i in np.nonzero(dup)[0]:
        if i > 0:
            texts[i] = texts[src[i]] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64), "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    n = rows["embeddings"]; r = _rng(seed, "embeddings")
    v = r.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), i32)})
    return out


def write(seed, rows, out_dir):
    """Generate and write every table to `out_dir/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed, rows).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_ingest(seed, rows, out_dir):
    """Keyed base table and two change batches for the direct KeyedTable
    ops: even keys in the base, so inserts (odd keys) fall in gaps. The
    sparse batch touches one narrow key range; the wide batch is spread
    over the whole table. Returns the batches' bytes on disk."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.Generator(np.random.PCG64([seed, 0x1A6E57]))
    k = np.arange(rows, dtype=np.int64) * 2
    base = pa.table({"k": k, "v": np.round(r.uniform(0, 1000, rows), 2),
                     "s": [f"row{x}" for x in r.integers(0, 1 << 30, rows)]})
    pq.write_table(base, os.path.join(out_dir, "keyed_base.parquet"))

    def delta(keys, name):
        n = len(keys)
        op = np.where(keys % 2 == 1, "I", np.where(r.random(n) < 0.2, "D", "U"))
        t = pa.table({"k": keys.astype(np.int64), "v": np.round(r.uniform(0, 1000, n), 2),
                      "s": [f"new{x}" for x in r.integers(0, 1 << 30, n)], "op": op})
        path = os.path.join(out_dir, f"{name}_delta.parquet")
        pq.write_table(t, path)
        return os.path.getsize(path)

    lo = int(r.integers(0, 2 * rows - 400))
    sparse = np.unique(r.integers(lo, lo + 400, 64))
    wide = np.unique(r.integers(0, 2 * rows, max(64, rows // 20)))
    return delta(sparse, "sparse") + delta(wide, "wide")
