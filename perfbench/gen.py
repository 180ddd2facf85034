"""Seeded input generator for the benchmark workloads.

Writes the four tables the workload queries read (region, customer,
supplier, documents) as parquet files with the schemas and value
distributions of the repo's TPC-H-style test data, generated from the
seed alone so a run reads nothing outside its checkout:

- customer: uniform account balance in [-999.99, 9999.99]; the engine maps
  each row to the point (c_acctbal, c_custkey % 1000), so more customers
  means more points in the same domain (higher density), never a wider one.
- supplier: same balance range; the engine maps each row to a square of
  half-side (s_suppkey % 10) + 1 centred at (s_acctbal, (s_suppkey % 100) * 10).
- documents: 10 to 100 words drawn from a 30-word vocabulary, five languages
  (en 40%, de/es/fr/zh 15% each), 20 sources; about 5% are near-duplicates
  (an earlier document plus the token "dup") and 0.2% exact copies.

Sizes and schemas are fixed per profile; the seed drives the values. Every
table is one file with one row group, like the test data, so a scan is one
split. A manifest records row counts, row groups and content hashes so two
runs can show they read identical inputs.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _balances(rng, n):
    return np.round(rng.uniform(-999.99, 9999.99, n), 2)


def _region():
    return pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })


def _customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_balances(rng, n)),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n)], pa.string()),
    })


def _supplier(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": pa.array(keys),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in keys], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_balances(rng, n)),
    })


def _documents(rng, n):
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    kinds = rng.random(n)
    texts = []
    for i in range(n):
        if i > 0 and kinds[i] < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kinds[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed, sizes):
    """Write the tables for `sizes` (rows per table) into `out_dir`, unless a
    manifest for the same seed and sizes is already there. Returns the
    manifest."""
    mpath = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest["seed"] == seed and manifest["sizes"] == sizes:
            return manifest
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table, so a table's contents do not depend
    # on the sizes of the tables generated before it
    streams = np.random.SeedSequence(seed).spawn(3)
    tables = {
        "region": _region(),
        "customer": _customer(np.random.default_rng(streams[0]), sizes["customer"]),
        "supplier": _supplier(np.random.default_rng(streams[1]), sizes["supplier"]),
        "documents": _documents(np.random.default_rng(streams[2]), sizes["documents"]),
    }
    files = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        files[name] = {"rows": table.num_rows,
                       "row_groups": pq.ParquetFile(path).num_row_groups,
                       "sha256": digest}
    manifest = {"seed": seed, "sizes": sizes, "tables": files}
    with open(mpath, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
