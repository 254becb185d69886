#!/usr/bin/env python
"""sf1 scaling point (VERDICT r8 task #7): generate a 10× sf0.1 dataset
and measure per-query scaling ratios for every query bench.py sweeps.

The driver ships sf{0.001,0.01,0.1}; the design argument all along has
been "linear in corpus size at fixed key skew" — this script measures it
directly. Construction (10 shifted copies of sf0.1, copy 0 verbatim):

- **Relational keys** (orderkey/custkey/partkey/suppkey/event_id/
  user_id/doc_id/vec_id) get a per-copy offset of k·10^8, applied to
  primary AND foreign keys alike, so every join relationship is
  replicated exactly — fact/dim ratios, group cardinalities per key,
  and per-user event streams are all preserved; only the NUMBER of
  entities grows 10×. region/nation stay as-is (true dimensions).
- **documents.text**: copy k>0 suffixes every whitespace token with
  `~k` — a bijective token remap. Within a copy, text equality and
  shingle equality are preserved EXACTLY (the dup/near-dup structure of
  sf0.1 replicates per copy); across copies no token — hence no shingle,
  no exact hash — collides. Naive replication would instead put every
  doc in a 10-clique of exact dups (pair count 100·P + 45·D, a
  QUADRATIC workload change that would falsely flag every dedup query
  as super-linear); the remap keeps the dup workload linear: 10·P
  pairs, 10× groups. Vocabulary grows 10× (documented; affects zipf/BPE
  constants, not their scaling shape).
- **embeddings.embedding**: copy k applies a deterministic per-copy
  ±1 sign pattern (a diagonal orthogonal matrix, seed=k). Within-copy
  dot products and norms are bit-preserved (cluster structure ×10);
  cross-copy cosines are random ~N(0, 1/64) — far below any pair
  threshold, so the similarity workload also scales linearly, where
  naive replication would make every vector an exact dup of 9 others.
  `label` gets +k·1000 so label-blocked GEMM blocks replicate instead
  of growing 10× each (again: linear, not quadratic).

Run:  python scripts/sf1_scale_bench.py gen [out_dir]
      python scripts/sf1_scale_bench.py run [out_dir]   # prints JSON
Output committed as SF1_BENCH_r<N>.json (SF1_DELTA_r<N>.json for an
SF1_ONLY subset); queries with warm ratio > SUPERLINEAR_FLAG
× 10 are flagged for investigation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DEFAULT_OUT = "/tmp/spark_graft_sf1"
COPIES = 10
KEY_OFFSET = 10**8

#: id-like columns per table (offset by k·KEY_OFFSET in copy k).
KEY_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

#: flagged when cold-at-sf1 / cold-at-sf0.1 exceeds this (10× data ×
#: 2.5 slack for scheduling/spill noise on a shared local[32]).
SUPERLINEAR_FLAG = 25.0


def _suffix_tokens(texts: pa.ChunkedArray, k: int) -> pa.Array:
    import re

    suf = f"~{k}"
    # regex substitution preserves ALL whitespace structure (newlines,
    # runs) — a split/join rebuild would flatten multi-line docs and
    # change the per-copy workload for line-keyed rules
    out = [
        None if t is None else re.sub(r"\S+", lambda m: m.group(0) + suf, t)
        for t in texts.to_pylist()
    ]
    return pa.array(out, pa.string())


def _sign_flip(embs: pa.ChunkedArray, k: int) -> pa.Array:
    lists = embs.to_pylist()
    dim = len(lists[0])
    signs = np.where(np.random.default_rng(k).random(dim) < 0.5, -1.0, 1.0).astype(
        np.float32
    )
    mat = np.asarray(lists, dtype=np.float32) * signs
    return pa.array(list(mat), pa.list_(pa.float32()))


def gen(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in ("region", "nation"):
        pq.write_table(
            pq.read_table(os.path.join(SRC, f"{name}.parquet")),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    for name, keys in KEY_COLS.items():
        src = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
        parts = []
        for k in range(COPIES):
            t = src
            if k > 0:
                for col in keys:
                    i = t.schema.get_field_index(col)
                    shifted = pc.add(
                        pc.cast(t.column(col), pa.int64()), k * KEY_OFFSET
                    )
                    t = t.set_column(i, t.schema.field(i).with_type(pa.int64()), shifted)
                if name == "documents":
                    i = t.schema.get_field_index("text")
                    new_text = _suffix_tokens(t.column("text"), k)
                    t = t.set_column(i, t.schema.field(i), new_text)
                    j = t.schema.get_field_index("n_chars")
                    t = t.set_column(
                        j,
                        t.schema.field(j),
                        pc.cast(pc.utf8_length(new_text), pa.int64()),
                    )
                if name == "embeddings":
                    i = t.schema.get_field_index("embedding")
                    t = t.set_column(
                        i, t.schema.field(i), _sign_flip(t.column("embedding"), k)
                    )
                    j = t.schema.get_field_index("label")
                    t = t.set_column(
                        j,
                        t.schema.field(j),
                        pc.cast(
                            pc.add(pc.cast(t.column("label"), pa.int32()), k * 1000),
                            pa.int32(),
                        ),
                    )
            parts.append(t)
        base = parts[0]
        unified = pa.concat_tables(
            [p.cast(base.schema) for p in parts], promote_options="none"
        )
        pq.write_table(unified, os.path.join(out_dir, f"{name}.parquet"))
        print(f"{name}: {unified.num_rows} rows", file=sys.stderr)


def run(sf1_dir: str) -> None:
    import bench
    from hive_gateway_spark import registry
    from hive_gateway_spark.session import get_spark

    names = bench.sweep_order()
    only = os.environ.get("SF1_ONLY", "")
    if only:  # delta runs: measure just the named queries
        pick = set(only.split(","))
        names = [n for n in names if n in pick]
    spark = get_spark("sf1-scale-bench")
    report: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        row: dict = {}
        for tag, sf_dir in (("sf01", SRC), ("sf1", sf1_dir)):
            t0 = time.perf_counter()
            # noop sink (bench.REDUCTION protocol, r14): materialize
            # EVERY output column — count() let Catalyst prune pure
            # projections and undercharged map-shaped queries; the row
            # count (cheap once warm) is taken after for the record
            out = fn(spark, sf_dir)
            out.write.format("noop").mode("overwrite").save()
            row[tag] = round(time.perf_counter() - t0, 3)
            row[f"{tag}_rows"] = out.count()
        row["ratio"] = round(row["sf1"] / max(row["sf01"], 1e-3), 2)
        row["flag"] = row["ratio"] > SUPERLINEAR_FLAG
        report[name] = row
        print(f"{name}: {row}", file=sys.stderr)
    flagged = {n: r["ratio"] for n, r in report.items() if r["flag"]}
    print(
        json.dumps(
            {
                "sf1_dir": sf1_dir,
                "n_queries": len(report),
                "median_ratio": round(
                    float(np.median([r["ratio"] for r in report.values()])), 2
                ),
                "flagged_superlinear": flagged,
                "queries": report,
            }
        )
    )
    spark.stop()


def merge(base_path: str, delta_path: str) -> None:
    """Fold an SF1_ONLY delta artifact into a full one and RECOMPUTE
    every summary field from the merged queries dict (VERDICT r12
    "What's missing" #2: the r12 hand-merge left n_queries/median
    describing the pre-merge subset). Prints the merged artifact."""
    with open(base_path) as f:
        doc = json.load(f)
    with open(delta_path) as f:
        delta = json.load(f)
    doc["queries"].update(delta["queries"])
    doc["n_queries"] = len(doc["queries"])
    doc["median_ratio"] = round(
        float(np.median([r["ratio"] for r in doc["queries"].values()])), 2
    )
    doc["flagged_superlinear"] = {
        n: r["ratio"] for n, r in doc["queries"].items() if r.get("flag")
    }
    print(json.dumps(doc))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "merge":
        merge(sys.argv[2], sys.argv[3])
    else:
        out = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_OUT
        if mode == "gen":
            gen(out)
        else:
            run(out)
