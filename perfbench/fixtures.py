"""Deterministic sf0.1-shaped fixture tables for the benchmark.

The benchmark must not read outside its checkout, so it writes its own
copy of the engine's fixture catalog (the ten tables ``session.TABLES``
names, with the schemas and value domains ``FIXTURES.md`` documents) at
sf0.1 row counts. The tables are a function of ``FIXTURE_SEED`` alone:
they are the database every workload queries. The workload seed only
picks the op sequence and keys, so two seeds compare like for like.

Usage: ``python3 perfbench/fixtures.py OUT_DIR`` (``run.py`` calls
``ensure`` itself and reuses a finished directory).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
#: sf0.1 row counts of the engine's fixture catalog.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DONE = "_COMPLETE"


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, int((hi_d - lo_d).astype(np.int64)) + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXTURE_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": _ids(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    })
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _ids(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    adj = ["red", "blue", "hot", "cold", "new", "small", "large", "old"]
    noun = ["bolt", "ring", "rod", "plate", "gear", "anvil", "nut", "pipe"]
    out["part"] = pa.table({
        "p_partkey": _ids(n),
        "p_name": pa.array(
            [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
        ),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _ids(n),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    n = ROWS["events"]
    # distinct µs offsets over 30 days: per-user timestamps never tie
    # (the as-of oracles rely on it)
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, n, replace=False))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": _ids(n),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 95))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    out["documents"] = pa.table({
        "doc_id": _ids(n),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "en", "en", "fr", "es", "zh", "de"], n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n = ROWS["embeddings"]
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": _ids(n),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })
    return out


def ensure(out_dir: str) -> str:
    """Write the tables into ``out_dir`` unless a finished copy is there."""
    if os.path.exists(os.path.join(out_dir, _DONE)):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, _DONE), "w") as f:
        f.write(str(FIXTURE_SEED))
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1])
