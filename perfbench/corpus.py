"""Seeded input for the dedup_replicated workload.

The sf0.1 documents and embeddings are replicated verbatim, each row a
seed-drawn number of times, with ids offset by 1,000,000 per copy (the
offset graft.ScaleSmoke uses). Verbatim copies widen every near-duplicate
family, so result memos, staging, union-find and shuffle carry more work
than at sf0.1 while the text itself stays realistic. The other tables are
copied unchanged, so the DuckDB oracle sees the same views as for sf0.1.

The build is deterministic per seed (single-threaded DuckDB, ordered
output) and writes a completeness marker last; a directory without a
current marker is rebuilt.
"""
import json
import os
import random
import shutil
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ID_OFFSET = 1_000_000
# copies per source row: half stay single, the rest get 2-4 copies
COPY_WEIGHTS = {1: 4, 2: 2, 3: 1, 4: 1}
MARKER = ".complete"
VERSION = 1


def _copies(rng, n):
    counts = list(COPY_WEIGHTS)
    weights = [COPY_WEIGHTS[c] for c in counts]
    return rng.choices(counts, weights=weights, k=n)


def _replicate(con, src, dst, id_col, copies):
    con.register("copies", copies)
    con.execute(f"""
        COPY (
          SELECT s.* REPLACE (s.{id_col} + {ID_OFFSET} * r.i AS {id_col})
          FROM read_parquet('{src}') s
          JOIN copies c ON c.id = s.{id_col}
          JOIN range(0, {max(COPY_WEIGHTS)}) r(i) ON r.i < c.n
          ORDER BY {id_col}
        ) TO '{dst}' (FORMAT PARQUET)""")
    con.unregister("copies")


def build(base_dir, out_root, seed):
    """Return (corpus dir, seconds spent building, properties dict); the
    seconds are 0 when a complete corpus for `seed` already exists."""
    out = os.path.join(out_root, f"seed-{seed}")
    marker = os.path.join(out, MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            done = json.load(f)
        if done.get("version") == VERSION and done.get("seed") == seed:
            return out, 0.0, done["properties"]
    t0 = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = random.Random(seed)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        src = os.path.join(base_dir, f"{table}.parquet")
        ids = [r[0] for r in con.execute(
            f"SELECT {id_col} FROM read_parquet('{src}') ORDER BY 1").fetchall()]
        copies = pd.DataFrame({"id": ids, "n": _copies(rng, len(ids))})
        _replicate(con, src, os.path.join(out, f"{table}.parquet"), id_col, copies)
    for table in TABLES:
        if table not in ("documents", "embeddings"):
            shutil.copyfile(os.path.join(base_dir, f"{table}.parquet"),
                            os.path.join(out, f"{table}.parquet"))
    props = properties(con, out)
    con.close()
    with open(marker, "w") as f:
        json.dump({"version": VERSION, "seed": seed, "properties": props}, f)
    return out, time.monotonic() - t0, props


def properties(con, corpus_dir):
    """Docs, the histogram of copies per source doc, and the widest family
    of identical texts."""
    docs = os.path.join(corpus_dir, "documents.parquet")
    n_docs = con.execute(f"SELECT count(*) FROM read_parquet('{docs}')").fetchone()[0]
    hist = con.execute(f"""
        SELECT n, count(*) FROM (
          SELECT doc_id % {ID_OFFSET} AS src, count(*) AS n
          FROM read_parquet('{docs}') GROUP BY 1) GROUP BY 1 ORDER BY 1""").fetchall()
    widest = con.execute(f"""
        SELECT max(n) FROM (
          SELECT count(*) AS n FROM read_parquet('{docs}') GROUP BY text)""").fetchone()[0]
    return {"docs": n_docs, "copies_histogram": {str(k): v for k, v in hist},
            "max_family_width": widest}
