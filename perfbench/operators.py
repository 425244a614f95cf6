"""The queries layer in the traced run: the 14 crawl-core operators of
``queries.REGISTRY`` over seeded input tables.

The operators read parquet tables from a directory. The benchmark writes
its own inside the checkout, from ``--seed``: ``events``, ``orders``,
``lineitem`` and ``documents`` with the row counts of scale factor 0.01
and only the columns these 14 operators and their oracles read. Value
ranges follow the shared sf0.01 testdata (user ids 0-150, order keys,
part keys 0-2000, 8-96 words of a 30-word vocabulary per document, ~5%
near-duplicate documents); nothing checks that they match it beyond that.

``time_suite`` runs each operator once, one at a time, in a seed-chosen
order, times it, and checks it against its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pandas as pd

#: the crawl-core operators the traced run times, one at a time
OPERATORS = (
    "frontier_topk", "politeness_window", "seen_antijoin", "score_propagation",
    "first_seen_ids", "dedup_exact", "url_canonical_dedup", "robots_admission",
    "minhash_lsh_candidates", "simhash", "pagerank", "inverted_index",
    "crawl_delta", "tfidf_topk",
)
TABLES = ("events", "orders", "lineitem", "documents")
#: scale factor 0.01 row counts
N_EVENTS, N_ORDERS, N_LINES, N_DOCS = 10_000, 15_000, 60_000, 500

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def write_tables(out: str, seed: int) -> str:
    rng = np.random.default_rng(seed)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:  # an earlier text plus " dup"
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 97)))))
    tables = {
        "events": {
            "event_id": np.arange(N_EVENTS, dtype="int64"),
            "ts": start + (np.cumsum(rng.exponential(26.0, N_EVENTS)) * 1e6).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 151, N_EVENTS),
            "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        },
        "orders": {
            "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINES),
            "l_partkey": rng.integers(0, 2001, N_LINES),
        },
        "documents": {
            "doc_id": np.arange(N_DOCS, dtype="int64"),
            "text": texts,
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        },
    }
    for name, cols in tables.items():
        pd.DataFrame(cols).to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
    return out


def time_suite(spark, sf_dir: str, seed: int, ops) -> dict[str, float]:
    """Run each operator once, one at a time, in a seed-chosen order, and
    compare it with its DuckDB ``oracle_sql()`` answer by the repo's strict
    comparator (types, row count, order-insensitive values). Returns each
    operator's wall time for building and collecting its result (a cold
    run: the first execution in the session)."""
    import sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    import check_oracle_strict as strict
    from webcrawler_spark.queries import REGISTRY

    order = list(OPERATORS)
    random.Random(seed).shuffle(order)
    con = duckdb.connect()
    out = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in order:
            fn, sql = REGISTRY[name]
            t0 = time.perf_counter()
            res = ops.run("operator", lambda: (lambda df: (df, df.collect()))(fn(spark, sf_dir)))
            out[name] = time.perf_counter() - t0
            if res is None:
                continue
            sdf, rows = res
            stypes = [strict.spark_type_canon(f.dataType) for f in sdf.schema.fields]
            tbl = con.execute(sql).fetch_arrow_table()
            dtypes = [strict.arrow_type_canon(f.type) for f in tbl.schema]
            drows = list(zip(*(c.to_pylist() for c in tbl.columns)))
            ok, msgs = strict.compare(name, sdf.columns, stypes, [tuple(r) for r in rows],
                                      tbl.column_names, dtypes, drows)
            ops.check("operator", ok, f"operator {name} differs from its oracle: "
                      + "; ".join(msgs)[:300])
    finally:
        con.close()
    return out
