"""Seeded inputs for the ``operators`` workload and its oracle check.

The four operator queries read two tables of the contract's test data:
``documents`` (entity_golden, dedup_minhash, text_lr_train) and
``lineitem`` (graph_walks, through its part-supplier pairs). This module
writes seeded tables with the same columns and value shapes: texts drawn
from the test data's 29-word vocabulary (so 12-character titles collide
the way they do there and the Jaro-Winkler blocking finds pairs), five
languages with English the largest share, and part/supplier pairs with
repeats. The ``operators`` queries then run against these files, and
``oracle_sql()`` runs in DuckDB over the same files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark stream batch query join filter group agg sort merge "
    "hash scan key value row column table part line order customer vector "
    "window fast slow big small"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")

N_DOCS = 600
N_LINEITEM = 60_000
N_PARTS = 2_000
N_SUPPLIERS = 100


def write_tables(seed: int, directory: str) -> None:
    rng = random.Random(seed)
    os.makedirs(directory, exist_ok=True)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 80)))
        for _ in range(N_DOCS)
    ]
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(N_DOCS)],
        "source": [f"src{rng.randrange(20)}" for _ in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(directory, "documents.parquet"))
    li = pa.table({
        "l_orderkey": pa.array([i // 4 + 1 for i in range(N_LINEITEM)], pa.int64()),
        "l_partkey": pa.array(
            [rng.randint(1, N_PARTS) for _ in range(N_LINEITEM)], pa.int64()
        ),
        "l_suppkey": pa.array(
            [rng.randint(1, N_SUPPLIERS) for _ in range(N_LINEITEM)], pa.int64()
        ),
    })
    pq.write_table(li, os.path.join(directory, "lineitem.parquet"))


def _norm(v):
    """Canonical cell value for comparing engine rows with DuckDB rows."""
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float):
        return round(v, 9)
    return v


def oracle_matches(df, sql: str, directory: str) -> tuple[bool, int]:
    """Collect ``df`` and compare its rows, as a multiset, with DuckDB
    running ``sql`` over the same parquet files; also return the row
    count."""
    cols = sorted(df.columns)
    got = sorted((tuple(_norm(r[c]) for c in cols) for r in df.collect()), key=repr)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("documents", "lineitem"):
            path = os.path.join(directory, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        if sorted(dcols) != cols:
            return False, len(got)
        idx = [dcols.index(c) for c in cols]
        want = sorted(
            (tuple(_norm(row[i]) for i in idx) for row in res.fetchall()), key=repr
        )
    finally:
        con.close()
    return got == want, len(got)
