"""DuckDB cross-check of the curation queries' outputs.

The JVM side writes each query's first output as parquet, plus the
registry's oracle SQL for it (`SparkEntry.oracleSql`), under OUT. The SQL
runs here against the same seeded corpus; both sides are compared with
columns sorted by name and rows sorted, floats bit-exact — the repo's own
correctness convention (tools/check_correctness.py).
"""
import json
import math
import os

TABLES = ("documents", "embeddings")


def _sort_key(row):
    return tuple((v is None, v == "NaN", _comparable(v)) for v in row)


def _comparable(v):
    if v is None:
        return 0
    if isinstance(v, (list, tuple)):
        return tuple(_comparable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _comparable(x)) for k, x in v.items()))
    return v


def _nan_safe(v):
    """NaN compares unequal to itself; give it a stable stand-in."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_nan_safe(x) for x in v)
    return v


def _canonical(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_nan_safe(r[i]) for i in order) for r in rows), key=_sort_key)


def check(out_dir, corpus_dir, threads):
    """Returns {query: None if the outputs agree, else what differs}."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = json.load(f)
    verdicts = {}
    for name in sorted(oracle):
        sql = oracle[name]
        if not sql:
            verdicts[name] = "no oracle SQL registered"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall()
            got_cols = [d[0] for d in con.description]
            exp = con.execute(sql).fetchall()
            exp_cols = [d[0] for d in con.description]
        except Exception as e:  # the oracle failing to run is a failed check
            verdicts[name] = f"oracle error: {e}"
            continue
        if sorted(got_cols) != sorted(exp_cols):
            verdicts[name] = f"columns {sorted(got_cols)} vs oracle {sorted(exp_cols)}"
        elif len(got) != len(exp):
            verdicts[name] = f"{len(got)} rows vs oracle {len(exp)}"
        else:
            g, e = _canonical(got, got_cols), _canonical(exp, exp_cols)
            bad = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), None)
            verdicts[name] = None if bad is None else f"row {bad}: {g[bad]} vs oracle {e[bad]}"
    return verdicts
