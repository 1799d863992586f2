"""Checks the benchmark's verified outputs against the DuckDB oracle.

The comparison is the repo's correctness gate, `tools/check_oracle.py`:
its `normalize` (columns by name, rows by value) and the same checks in
the same order (columns, row count, dtypes, exact values). Expected
results are cached, normalized, by (oracle SQL hash, corpus fingerprint),
so a query's oracle runs once per corpus, not once per run.
"""
import hashlib
import math
import pickle
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def _gate(root):
    sys.path.insert(0, str(Path(root) / "tools"))
    import check_oracle
    return check_oracle


def compare(g, w):
    """None when the normalized frames are equal, else the first
    difference as check_oracle reports it."""
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    dt_bad = [(c, str(g[c].dtype), str(w[c].dtype)) for c in g.columns
              if str(g[c].dtype) != str(w[c].dtype)]
    if dt_bad:
        return f"dtype mismatch {dt_bad}"
    for c in g.columns:
        try:
            if g[c].equals(w[c]):
                continue
        except Exception:
            pass
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            eq = (a == b) or (a is None and b is None)
            if not eq and isinstance(a, float) and isinstance(b, float):
                eq = math.isnan(a) and math.isnan(b)
            if not eq:  # NaT/None/NaN
                try:
                    eq = pd.isna(a) and pd.isna(b)
                except Exception:
                    pass
            if not eq:
                return f"col {c} row {i}: {a!r} != {b!r}"
    return None


def check(root, corpus, corpus_fp, verify_dir, oracle_sql, names, cache_dir):
    """Returns {name: None | failure detail} for each name."""
    gate = _gate(root)
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    con = None
    out = {}
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:20]
        cached = cache_dir / f"{key}_{corpus_fp}.normalized.pkl"
        try:
            if cached.exists():
                want = pickle.loads(cached.read_bytes())
            else:
                if con is None:
                    con = duckdb.connect()
                    con.execute(f"PRAGMA temp_directory='{cache_dir}/spill'")
                    for t in gate.TABLES:
                        p = Path(corpus) / f"{t}.parquet"
                        if p.exists():
                            con.execute(f"CREATE VIEW {t} AS SELECT * "
                                        f"FROM read_parquet('{p}')")
                want = gate.normalize(con.execute(sql).fetchdf())
                cached.write_bytes(pickle.dumps(want))
            got = pq.read_table(str(Path(verify_dir) / name)).to_pandas()
            out[name] = compare(gate.normalize(got), want)
        except Exception as e:  # a failing oracle is a failed check
            out[name] = f"oracle error: {str(e)[:200]}"
    if con is not None:
        con.close()
    return out
