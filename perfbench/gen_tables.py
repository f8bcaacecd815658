"""Seeded generator for the query-mix tables, and their DuckDB oracle results.

Writes the ten parquet tables that ``sources.tables`` and ``plans.queries``
read (a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), with the same column names, physical types and value
domains as the project's shared synthetic test data. Row counts scale with
``sf`` as there (``lineitem`` = 6M x sf).

The expected result of each mix query is computed once per seed by running
the query's DuckDB twin (``plans.queries.ORACLE_SQL``) over the same files;
Spark never computes the truth.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["large", "hot", "red", "new", "small", "cold", "blue", "old"]
_NOUN = ["ring", "bolt", "rod", "plate", "gear", "anvil", "pipe", "nut"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(directory: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(directory, f"{name}.parquet"))


def make_tables(directory: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``directory``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    os.makedirs(directory, exist_ok=True)

    _write(directory, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(directory, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(directory, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
        ),
    })
    _write(directory, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(directory, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    _write(directory, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(directory, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["N", "R", "A"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    _write(directory, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev, dtype=np.int64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    lengths = rng.integers(10, 101, n_doc)
    for i in range(n_doc):
        if i and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, lengths[i])))
    _write(directory, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "fr", "de", "zh"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(directory, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": n_doc, "embeddings": n_emb, "nation": 25, "region": 5,
    }


# ---------------------------------------------------------------------------
# Canonical results (same canonical form as tests/test_oracle_parity.py).


def canonical(rows, columns) -> list:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [
        tuple(
            "NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
            for i in order
        )
        for r in rows
    ]
    return sorted(out, key=repr)


def fingerprint(rows, columns) -> str:
    return hashlib.sha256(repr(canonical(rows, columns)).encode()).hexdigest()


def oracle_results(directory: str, queries: list[str], oracle_sql: dict,
                   timeout_s: float) -> dict:
    """{query: {"rows": n, "fingerprint": sha} | {"unchecked": reason}}.
    A query whose oracle runs past ``timeout_s`` is interrupted and left
    unchecked."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(directory, t + '.parquet')}'"
            )
        out: dict = {}
        for name in queries:
            if name not in oracle_sql:
                out[name] = {"unchecked": "no oracle SQL"}
                continue
            timer = threading.Timer(timeout_s, con.interrupt)
            timer.start()
            started = time.perf_counter()
            try:
                res = con.execute(oracle_sql[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                out[name] = {"rows": len(rows), "fingerprint": fingerprint(rows, cols)}
            except duckdb.InterruptException:
                out[name] = {"unchecked": f"oracle over {timeout_s:.0f} s"}
            finally:
                timer.cancel()
            out[name]["oracle_s"] = round(time.perf_counter() - started, 3)
        return out
    finally:
        con.close()


def build(seed: int, directory: str, sf: float, queries: list[str],
          oracle_sql: dict, oracle_timeout_s: float = 60.0) -> dict:
    """Tables plus oracle results for ``queries``. The tables are made
    once per seed; oracle results are added for queries not seen yet."""
    done = os.path.join(directory, "truth.json")
    if os.path.exists(done):
        with open(done) as f:
            info = json.load(f)
    else:
        rows = make_tables(directory, seed, sf)
        info = {
            "input": directory,
            "rows": sum(rows.values()),
            "table_rows": rows,
            "truth": {},
        }
    missing = [q for q in queries if q not in info["truth"]]
    if missing or not os.path.exists(done):
        info["truth"].update(
            oracle_results(directory, missing, oracle_sql, oracle_timeout_s)
        )
        with open(done + ".tmp", "w") as f:
            json.dump(info, f)
        os.replace(done + ".tmp", done)
    return info
