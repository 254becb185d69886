"""The workloads: what each sends, and how each checks the answers.

Every op list is a pure function of the seed (``pass_ops`` / ``rpc_plan``),
so the same seed replays the same ops and keys. The engine only ever sees
the generated inputs. Correctness checks run after the measured window
and are never timed.
"""

from __future__ import annotations

import json
import os
import random
import re

import duckdb
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from loadgen import poisson_offsets

# -------------------------------------------------------------- analytics

#: JVM-only registry queries: TPC-H/DS, multiway / range / as-of joins,
#: windows and the gateway-dataflow shapes. None runs a Python worker or
#: touches a staging cache, which the run asserts.
ANALYTICS = (
    "q_tpch_q1", "q_tpch_q5", "q_tpcds_q3", "q_tpcds_q95", "q_join_multiway",
    "q_join_range", "q_join_asof", "q_join_asof_tolerance", "q_window_rank",
    "q_window_rate_limit", "q_gateway_pipeline", "q_sessionize",
)

# --------------------------------------------------------------- curation

#: The LLM-curation registry family: exact and MinHash dedup, exact
#: top-k similarity, and the mapInPandas multimodal and msgpack kernels.
#: (BPE costs 4-6 s on a cold pass, the IVF/IVFPQ indexes and SimHash/
#: semantic dedup 10-24 s each: more than a run can spend.)
CURATION = (
    "q_dedup_exact", "q_minhash_signatures", "q_sim_topk", "q_multimodal_codecs",
    "q_msgpack_roundtrip",
)
BASE_DOCS = 300  # doc_id < BASE_DOCS seeds the published corpus
N_SLICES = 12  # distinct publish inputs: more than staging.CACHE_CAP (8)
SLICE_DOCS = 200
POINTS_PER_PASS = 3
ID_STRIDE = 100_000  # publish p appends its slice as doc_id + (p + 1) * ID_STRIDE


def pass_ops(workload: str, seed: int, p: int) -> list[tuple]:
    """Pass ``p`` of a closed-loop workload: the whole op mix once, in a
    seeded order. Pass 0 is the cold pass."""
    rng = random.Random(f"{workload}/{seed}/{p}")
    if workload == "analytics":
        ops = [("query", n) for n in ANALYTICS]
        rng.shuffle(ops)
        return ops
    s = (seed + p) % N_SLICES
    ops = [("query", n) for n in CURATION]
    ops.append(("publish", s, p))
    lo = rng.randrange(0, BASE_DOCS - 5)
    ops.append(("delete", lo, lo + 4))
    ops.append(("diff",))
    ops += [("point", rng.randrange(0, BASE_DOCS)) for _ in range(POINTS_PER_PASS - 1)]
    rng.shuffle(ops)
    # one point read of a row this pass's publish appended, placed after it
    fresh = (p + 1) * ID_STRIDE + slice_bounds(s)[0] + rng.randrange(SLICE_DOCS)
    after = ops.index(("publish", s, p)) + 1
    ops.insert(rng.randrange(after, len(ops) + 1), ("point", fresh))
    return ops


def slice_bounds(s: int) -> tuple[int, int]:
    lo = BASE_DOCS + s * SLICE_DOCS
    return lo, lo + SLICE_DOCS


# -------------------------------------------------------------------- rpc

#: One block of timed requests. The composition is fixed so every run
#: sends the same mix; only the order, keys and headers are seeded. The
#: 8:2:1:1 weights are assumed, not measured: no recorded gateway call mix
#: exists yet (see README.md).
RPC_BLOCK = ("point",) * 8 + ("catalog", "catalog", "range_agg", "range_rows")
#: JVM-only registry queries with small answers, sent as ``query.*`` calls
#: in the cold pass only: a TPC-DS semi-join and a window. In the open
#: loop their 1-2 s multi-task jobs made every point lookup behind them
#: wait for cores, and the median moved by a quarter between runs.
RPC_QUERIES = ("q_tpcds_q95", "q_window_rank")
RPC_WARM_BLOCKS = 3
RPC_ENCODINGS = ("deflate", "gzip", "")
RPC_TOKENS = tuple(f"wxbench{i:02d}".ljust(28, "x") for i in range(6))
ORDERS = 150_000
RANGE_ROWS = 40


def rpc_request(kind: str, rng: random.Random) -> dict:
    """A request of ``kind`` with seeded keys."""
    if kind == "point":
        k = rng.randrange(ORDERS)
        return {"mod": "sql", "fun": "exec", "key": k,
                "arg": {"sql": f"SELECT * FROM orders WHERE o_orderkey = {k}"}}
    if kind == "range_agg":
        lo = rng.randrange(ORDERS - 2000)
        return {"mod": "sql", "fun": "exec", "key": lo, "arg": {"sql": (
            "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM orders WHERE o_orderkey BETWEEN {lo} AND {lo + 1999} "
            "GROUP BY o_orderstatus ORDER BY o_orderstatus")}}
    if kind == "range_rows":
        lo = rng.randrange(ORDERS - RANGE_ROWS)
        return {"mod": "sql", "fun": "exec", "key": lo, "arg": {"sql": (
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
            f"WHERE o_orderkey BETWEEN {lo} AND {lo + RANGE_ROWS - 1} ORDER BY o_orderkey")}}
    return {"mod": "catalog", "fun": "tables", "arg": None}


def rpc_plan(seed: int, rate: float, seconds: float):
    """(Poisson arrival offsets, one request dict per arrival)."""
    rng = random.Random(f"rpc/{seed}")
    offsets = poisson_offsets(rng, rate, seconds)
    reqs: list[dict] = []
    while len(reqs) < len(offsets):
        block = list(RPC_BLOCK)
        rng.shuffle(block)
        for kind in block:
            r = rpc_request(kind, rng)
            r.update(kind=kind, encoding=rng.choice(RPC_ENCODINGS), token=rng.choice(RPC_TOKENS))
            reqs.append(r)
    return offsets, reqs[: len(offsets)]


def rpc_cold_requests(seed: int) -> tuple[list[dict], list[dict]]:
    """Sent before the open loop starts: every registry query once
    (serially), then ``RPC_WARM_BLOCKS`` blocks from ``nproc`` closed-loop
    clients, so the window meets warm code paths (block medians can still
    fall across the window while the JVM keeps compiling)."""
    rng = random.Random(f"rpc-cold/{seed}")
    calls = [{"mod": "query", "fun": name, "arg": None, "kind": "query"} for name in RPC_QUERIES]
    warmup = [rpc_request(kind, rng) | {"kind": kind} for kind in RPC_BLOCK * RPC_WARM_BLOCKS]
    for r in calls + warmup:
        r.update(encoding=rng.choice(RPC_ENCODINGS), token=rng.choice(RPC_TOKENS))
    return calls, warmup


# ------------------------------------------------------------ correctness

def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted column names, µs timestamps, sorted rows: the
    order-insensitive form the engine's DuckDB parity check compares."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object and s.dropna().size and isinstance(s.dropna().iloc[0], bool):
            df[c] = s.astype("boolean")
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def oracle_frame(sql: str, sf_dir: str, tables) -> pd.DataFrame:
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def parity_error(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the frames hash-match the way the DuckDB oracle check
    requires (non-empty, same rows, columns and dtype kinds, exact values)."""
    actual, expected = canon(actual), canon(expected)
    if len(actual) == 0:
        return "no rows"
    if len(actual) != len(expected) or list(actual.columns) != list(expected.columns):
        return f"shape {actual.shape} vs oracle {expected.shape}"
    kind = lambda s: "i" if s.dtype.kind in "iu" else s.dtype.kind  # noqa: E731
    drift = [c for c in actual.columns if kind(actual[c]) != kind(expected[c])]
    if drift:
        return f"dtype drift in {drift}"
    try:
        pd.testing.assert_frame_equal(actual, expected, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


# ---------------------------------------------------- lakehouse, read directly

def head_version(path: str) -> int:
    return max(
        int(m.group(1))
        for m in (re.fullmatch(r"_MANIFEST\.v(\d+)\.json", n) for n in os.listdir(path))
        if m
    )


def manifest(path: str, version: int) -> dict:
    with open(os.path.join(path, f"_MANIFEST.v{version}.json")) as f:
        return json.load(f)


def snapshot_rows(path: str, version: int, key: int | None = None) -> set[tuple]:
    """(doc_id, text) pairs of a committed version, read with pyarrow from
    the manifest's file list: an independent reader for the checks."""
    rows: set[tuple] = set()
    for rel in manifest(path, version)["files"]:
        t = pq.read_table(os.path.join(path, rel), columns=["doc_id", "text"])
        if key is not None:
            t = t.filter(pc.equal(t["doc_id"], key))
        rows.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    return rows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )

