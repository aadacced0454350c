"""Benchmark fixtures: the sf0.01/sf0.1 test tables, the sf1 scale-up,
table row hashes and the DuckDB oracle answers for the gate entries.

Everything lands under ``perfbench/.cache`` in the checkout and is built
once, when a build reproduces the pinned row hash of every table; later
runs reuse it. The data does not depend on ``--seed`` (the seed drives
workload order and the ingest batches), so every run of a workload reads
the same tables.

``generate`` rebuilds the engine's synthetic test tables (TESTDATA.md:
TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``,
seed 42) row for row, so the benchmark needs nothing outside its checkout.
``PINNED`` holds the row hashes of those test tables as distributed (sf0.01
and sf0.1) and of ``tools/make_scale.py 10`` applied to the sf0.1 tables
(sf1); a build that does not reproduce them is refused.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
DATA_SEED = 42
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_correctness import canon_strict, pdf_rows, rows_to_canon  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# Format version of the cached fixtures; bump when the generator changes.
FIXTURE_VERSION = 3
# Row hashes (count:sum of DuckDB row hashes) of the engine's test tables;
# every build must reproduce them.
PINNED = {
    "0.01": {
        "region": "5:90b851b8a4a42848", "nation": "25:73c53e420a7127d3",
        "customer": "1500:ee1808b12f431cb9", "supplier": "100:5248edb77aceb090",
        "part": "2000:beebb777e0bf0b8b", "orders": "15000:4de3af4ee90d4965",
        "lineitem": "60000:2054eb98ae67fd74", "events": "10000:698f2d09a341a4e3",
        "documents": "500:1d1f314f3290d7d3", "embeddings": "500:2e510f41e22f8297",
    },
    "0.1": {
        "region": "5:90b851b8a4a42848", "nation": "25:73c53e420a7127d3",
        "customer": "15000:e9b766047d13ea40", "supplier": "1000:190399cd3d077318",
        "part": "20000:7e86ca101bdbe694", "orders": "150000:9849760ad4412268",
        "lineitem": "600000:88d0edbf94f935a7", "events": "100000:470fb7531778216d",
        "documents": "5000:696ca43f0daf3015", "embeddings": "2000:45b67c7f393b69d0",
    },
    "1": {
        "region": "5:90b851b8a4a42848", "nation": "25:73c53e420a7127d3",
        "customer": "150000:1765369b9946f8d8", "supplier": "10000:beaebd744fc3899a",
        "part": "200000:5b6151e9a53eea12", "orders": "1500000:944eb9ce02bd95ab",
        "lineitem": "6000000:3213bcf00089cd6a", "events": "1000000:c836503307ee7a9d",
        "documents": "50000:5eb307c7f60a6959", "embeddings": "20000:d3dc9316e8d6c346",
    },
}

WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n, start: datetime, end: datetime) -> pa.Array:
    lo, hi = _us(start) // 86_400_000_000, _us(end) // 86_400_000_000
    return _ts(rng.integers(lo, hi + 1, n) * 86_400_000_000)


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(dst: str, sf: float) -> None:
    """Write the ten test tables of scale ``sf`` (0.001, 0.01 or 0.1) to
    ``dst``, one parquet file each, drawing every value in the order the
    engine's test data drew it from one seed-42 generator. Fact and
    dimension tables scale with ``sf``; documents and embeddings keep a
    floor of 500 rows."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    r = sf / 0.1

    def rows(base: int, floor: int = 1) -> int:
        return max(int(round(base * r)), floor)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust = n = rows(15_000)
    put("customer", {
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n),
    })
    n_supp = n = rows(1_000)
    put("supplier", {
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n_part = n = rows(20_000)
    put("part", {
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })
    n_ord = n = rows(150_000)
    put("orders", {
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = rows(600_000)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, n, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    })
    n = rows(100_000)
    # event times: uniform seconds over 30 days, taken to whole nanoseconds
    # and then truncated to microseconds
    t0, span_s = _us(datetime(2024, 1, 1)) * 1000, 30 * 86_400
    put("events", {
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts((t0 + np.sort(rng.uniform(0, span_s, n) * 1e9).astype("int64")) // 1000),
        "user_id": rng.integers(0, rows(1_500), n),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    # documents: 10-99 words each; then one document in twenty, chosen
    # without replacement, is overwritten in turn by a copy of a random
    # document with " dup" appended, so chains of near-duplicates form
    n = rows(5_000, 500)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
             for _ in range(n)]
    targets = rng.choice(n, n // 20, replace=False)
    for dst_i, src_i in zip(targets, rng.integers(0, n, n // 20)):
        texts[dst_i] = texts[src_i] + " dup"
    put("documents", {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    n, dim = rows(2_000, 500), 64
    vecs = rng.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def table_hash(con, path: str) -> str:
    """Order-independent row hash of one parquet table (DuckDB ``hash``
    summed over rows, plus the row count)."""
    n, h = con.sql(
        f"SELECT count(*), sum(hash(t)::HUGEINT) % 18446744073709551616 "
        f"FROM read_parquet('{path}') t"
    ).fetchone()
    return f"{n}:{int(h):016x}"


def _tables_hashes(con, d: str) -> dict:
    return {t: table_hash(con, os.path.join(d, f"{t}.parquet")) for t in TABLES}


# --- result hashing ---------------------------------------------------------

def frame_hash(pdf) -> str:
    """Hash of a pandas frame's rows, canonicalised exactly as the strict
    correctness check (tools/check_correctness.py) compares them: cells by
    ``canon_strict``, columns in name order, rows sorted."""
    cols = list(pdf.columns)
    h = hashlib.sha256("\x1e".join(sorted(cols)).encode())
    rows = rows_to_canon(cols, pdf_rows(pdf), canon_strict)
    for r in rows:
        h.update(b"\x1d" + "\x1f".join(r).encode())
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def oracle_hashes(data_dir: str, names, oracles: dict) -> dict:
    """DuckDB answer hash per entry name, for the entries that have one."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
        )
    out = {}
    for name in names:
        if name in oracles:
            out[name] = frame_hash(con.execute(oracles[name]).df())
    return out


# --- build / verify --------------------------------------------------------

def _manifest_path(d: str) -> str:
    return os.path.join(d, "_manifest.json")


def _load_manifest(d: str) -> dict | None:
    try:
        with open(_manifest_path(d)) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return None
    return m if m.get("version") == FIXTURE_VERSION else None


def _save_manifest(d: str, m: dict) -> None:
    tmp = _manifest_path(d) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(d))


def ensure_data(sf: str) -> str:
    """Return the directory of scale ``sf`` ("0.01", "0.1" or "1"), building
    it on first use. A build must reproduce the pinned row hash of every
    table before its manifest (and with it the oracle cache) is written."""
    import duckdb

    d = os.path.join(CACHE, f"sf{sf}")
    if _load_manifest(d) is not None:
        return d
    con = duckdb.connect()
    con.execute("SET threads=2")
    if sf in ("0.1", "0.01"):
        generate(d, float(sf))
    elif sf == "1":
        src = ensure_data("0.1")
        os.makedirs(d, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "make_scale.py"), "10", src, d],
            check=True, cwd=ROOT, stdout=subprocess.DEVNULL,
        )
    else:
        raise ValueError(f"unknown scale {sf!r}")
    got = _tables_hashes(con, d)
    if got != PINNED[sf]:
        bad = sorted(t for t in TABLES if got.get(t) != PINNED[sf].get(t))
        raise RuntimeError(f"sf{sf} fixture does not reproduce the pinned row hashes: {bad}")
    _save_manifest(d, {"version": FIXTURE_VERSION, "oracle": {}})
    return d


def expected_hashes(data_dir: str, names, oracles: dict) -> dict:
    """Oracle answer hash for each of ``names`` (None where the entry has no
    oracle). Computed once per data directory and oracle text, and kept in
    the directory's manifest, outside any timed region."""
    m = _load_manifest(data_dir)
    have = m["oracle"]

    def sql_key(n):
        return hashlib.sha256(oracles[n].encode()).hexdigest()[:16]

    missing = [n for n in names
               if n in oracles and have.get(n, {}).get("sql") != sql_key(n)]
    if missing:
        for n, h in oracle_hashes(data_dir, missing, oracles).items():
            have[n] = {"sql": sql_key(n), "hash": h}
        _save_manifest(data_dir, m)
    return {n: have[n]["hash"] if n in oracles else None for n in names}
