#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: compare_oracle.py <sfDir> <verifyOutDir>

For each query in oracle_sql.json: run the SQL in DuckDB over the sf
tables, sort columns by name, sort rows, and compare row count, schema
(column names), and a value hash (rounded reprs) with the query's output
<verifyOutDir>/<q>. A query with no output fails; the exit status is 1 when
any query fails.
"""
import sys, os, json, hashlib
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

# The connected-components oracles (t33, t68) join a recursive CTE against
# the edge list `e`, and DuckDB 1.0 evaluates `e`, with the whole MinHash
# pipeline under it, again at every step of the recursion (t33 ran for more
# than 10 minutes). Materializing `e` evaluates it once and gives the same
# rows; perfbench/run.py applies the same rewrite.
EDGES = "      e AS (SELECT id_a AS a"


def evaluate_edges_once(sql):
    return sql.replace(EDGES, "      e AS MATERIALIZED (SELECT id_a AS a")


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(f"{v:.9g}")
            else:
                vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest()

fails = 0
# every query with an oracle must have an output: a query that threw in
# graft.Verify has none, and that is a failure, not a skipped compare
outputs = {q for q in os.listdir(outdir) if os.path.isdir(f"{outdir}/{q}")}
for q in sorted(outputs | set(oracle)):
    d = f"{outdir}/{q}"
    if q not in outputs:
        fails += 1
        print(f"{q:24s} FAIL no output {d}")
        continue
    sq = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
    scols = [c[0] for c in sq.description]
    srows = sq.fetchall()
    if q not in oracle:
        print(f"{q:24s} NO_ORACLE rows={len(srows)}")
        continue
    oq = con.execute(evaluate_edges_once(oracle[q]))
    ocols = [c[0] for c in oq.description]
    orows = oq.fetchall()
    ok_rows = len(srows) == len(orows)
    ok_schema = sorted(scols) == sorted(ocols)
    ok_hash = ok_schema and canon(srows, scols) == canon(orows, ocols)
    status = "OK" if (ok_rows and ok_schema and ok_hash) else "FAIL"
    if status == "FAIL":
        fails += 1
        print(f"{q:24s} {status} rows {len(srows)}/{len(orows)} "
              f"schema {ok_schema} ({scols} vs {ocols})" if not ok_schema else
              f"{q:24s} {status} rows {len(srows)}/{len(orows)} hash {ok_hash}")
    else:
        print(f"{q:24s} {status} rows={len(srows)}")
sys.exit(1 if fails else 0)
