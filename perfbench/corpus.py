"""Deterministic corpus for the benchmark.

Writes the ten parquet tables the registered queries read (a TPC-H-like
retail star schema, an `events` stream table, `documents` and
`embeddings`). At scale factor `sf` the sizes are

  customer 150k*sf, supplier 10k*sf, part 200k*sf, orders 1.5M*sf,
  lineitem 6M*sf, events 1M*sf (from 15k*sf users),
  documents max(500, 50k*sf),
  embeddings max(500, 20k*sf); region 5, nation 25.

With seed 42 the tables hold exactly the rows of the repo's test corpora
(sf 0.001, 0.01 and 0.1, described in TESTDATA.md): the same draws from
one `numpy.random.default_rng(seed)` stream in the same order. `verify`
compares a written corpus with such a directory table by table.

The same seed always yields byte-identical files; `fingerprint` hashes
them so cached oracle results can be keyed on the corpus content.

Usage: python3 perfbench/corpus.py <out_dir> [sf] [seed]
       python3 perfbench/corpus.py --verify <out_dir> <reference_dir>
"""
import hashlib
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Category lists, in the index order of the draws.
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def sizes(sf):
    return dict(customer=int(150_000 * sf), supplier=int(10_000 * sf),
                part=int(200_000 * sf), orders=int(1_500_000 * sf),
                lineitem=int(6_000_000 * sf), events=int(1_000_000 * sf),
                users=int(15_000 * sf),
                documents=max(500, int(50_000 * sf)),
                embeddings=max(500, int(20_000 * sf)))


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed=42, sf=0.1):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    pk = np.arange(n["part"], dtype=np.int64)
    adj = _pick(rng, ADJ, len(pk))
    noun = _pick(rng, NOUN, len(pk))
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": _pick(rng, PART_TYPES, len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ORDER_STATUS, no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    # Line numbers are drawn independently of the order key, as in the
    # test corpora: about a quarter of the (l_orderkey, l_linenumber)
    # pairs repeat at every scale.
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, len(pk), nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": _money(rng, 0.0, 0.10, nl),
        "l_tax": _money(rng, 0.0, 0.08, nl),
        "l_returnflag": _pick(rng, RETURN_FLAGS, nl),
        "l_linestatus": _pick(rng, LINE_STATUS, nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    ts = (np.datetime64("2024-01-01", "ns") +
          (secs * 1e9).astype("timedelta64[ns]")).astype("datetime64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for _ in range(nd):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(_pick(rng, VOCAB, k)))
    # 5% near-duplicates: a copy of another document plus one word
    dups = rng.choice(nd, nd // 20, replace=False)
    for d, src in zip(dups, rng.integers(0, nd, len(dups))):
        texts[d] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return out


def write(out_dir, seed=42, sf=0.1):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, out / f"{name}.parquet", compression="snappy")


def fingerprint(out_dir):
    h = hashlib.sha256()
    for name in TABLES:
        h.update((Path(out_dir) / f"{name}.parquet").read_bytes())
    return h.hexdigest()[:16]


def verify(out_dir, ref_dir):
    """Names the tables whose rows differ from those in ref_dir."""
    bad = []
    for name in TABLES:
        a = pq.read_table(Path(out_dir) / f"{name}.parquet")
        b = pq.read_table(Path(ref_dir) / f"{name}.parquet")
        if not a.replace_schema_metadata().equals(
                b.replace_schema_metadata()):
            bad.append(name)
    return bad


if __name__ == "__main__":
    if sys.argv[1] == "--verify":
        diff = verify(sys.argv[2], sys.argv[3])
        print("identical" if not diff else "differ: " + " ".join(diff))
        sys.exit(1 if diff else 0)
    write(sys.argv[1], int(sys.argv[3]) if len(sys.argv) > 3 else 42,
          float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
    print(fingerprint(sys.argv[1]))
