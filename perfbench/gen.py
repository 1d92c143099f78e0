"""Seeded corpus generator for the graft benchmark.

Writes the ten tables graft's workloads read (the TPC-H-like star
schema, `events`, `documents`, `embeddings`) as parquet, with the
schemas, value domains and key relationships of graft's synthetic test
corpus (TESTDATA.md). Every value is drawn from `numpy.random.default_rng(seed)`,
so one (seed, scale) pair always yields byte-identical tables.

`scale` is relative to the sf0.1 corpus: scale 1 gives 600k lineitem,
150k orders, 100k events, 5000 documents and 2000 vectors. Dimension
tables (region, nation) do not scale.

Usage: python3 perfbench/gen.py <outDir> <seed> <scale>
"""
import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DIM = 64
LABELS = 10

# sf0.1 row counts; every table but region/nation scales linearly
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
EVENT_USERS = 1500


def _days(a, b):
    return (datetime.date.fromisoformat(b) - datetime.date.fromisoformat(a)).days


def _dates(rng, n, start, end):
    """Midnight timestamps (µs) drawn uniformly from [start, end]."""
    base = np.datetime64(start, "us")
    day = np.timedelta64(86400 * 10**6, "us")
    return base + rng.integers(0, _days(start, end) + 1, n) * day


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _ids(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _i32(a):
    return pa.array(np.asarray(a, dtype=np.int32))


def tables(rng, scale):
    n = {t: max(1, int(round(r * scale))) for t, r in BASE_ROWS.items()}
    out = {}
    out["region"] = pa.table({"r_regionkey": _i32(range(5)),
                              "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": _i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": _i32(rng.integers(0, 5, 25))})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": _ids(c),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": _i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _ids(s),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": _i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": _ids(p),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": _i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _ids(o),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": pa.array(_dates(rng, o, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li, dtype=np.int64)),
        "l_linenumber": _i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": pa.array(_dates(rng, li, "1995-01-02", "2001-11-04"))})
    e = n["events"]
    month = 30 * 86400 * 10**6
    out["events"] = pa.table({
        "event_id": _ids(e),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + rng.integers(0, month, e).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(EVENT_USERS * scale)), e,
                                         dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string())})
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def documents(rng, n):
    """Uniform words from one shared vocabulary, 10-100 words per
    document. As in the sf0.1 corpus, 8 in 5000 documents are exact
    copies of another document and 1 in 20 is a near duplicate: a copy
    of another document with " dup" appended."""
    vocab = np.asarray(VOCAB, dtype=object)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)])
            for k in rng.integers(10, 101, n)]
    langs = rng.choice(len(LANGS), n, p=LANG_WEIGHTS)
    n_exact, n_near = max(1, round(8 * n / 5000)), max(1, round(n / 20))
    pairs = rng.choice(n, 2 * (n_exact + n_near), replace=False).reshape(-1, 2)
    for j, (a, b) in enumerate(pairs):
        text[b] = text[a] if j < n_exact else text[a] + " dup"
    return pa.table({
        "doc_id": _ids(n),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


def embeddings(rng, n):
    """Gaussian clusters: one centre per label, isotropic noise."""
    centres = rng.normal(0.0, 0.05, (LABELS, DIM))
    labels = np.sort(rng.integers(0, LABELS, n))
    vecs = (centres[labels] + rng.normal(0.0, 0.12, (n, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": _ids(n),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": _i32(labels)})


def generate(out_dir, seed, scale):
    """Write the corpus and `manifest.json` (rows and bytes per table)
    into `out_dir`; returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    manifest = {"seed": seed, "scale": scale, "tables": {}}
    for name, table in tables(rng, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest["tables"][name] = {"rows": table.num_rows,
                                    "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))))
