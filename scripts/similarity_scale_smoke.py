#!/usr/bin/env python
"""Similarity-family and IVF-index scale smoke (VERDICT r6 task #5).

One synthetic corpus (N × 64-dim vectors, 20 planted Gaussian
clusters; the other fixture tables are symlinked from sf0.001 —
load_tables reads eagerly) runs the REGISTERED operators unmodified,
so what is smoked is exactly what ships. Three modes, one JSON line
each (numbers recorded in SCALE.md):

  [n]             the ANN paths — q_sim_topk (exact GEMM baseline),
                  q_sim_topk_ivf, q_sim_topk_lsh, q_sim_topk_pq,
                  q_sim_topk_pq_rerank, q_sim_topk_ivfpq — plus the
                  retrieval-eval queries: cold and warm wall, result
                  sizes, recall vs the exact top-k (default 100k).
  --serve [n]     the persisted index across a SESSION BOUNDARY:
                  session A builds and publishes it (persist_ivf_index)
                  and stops; a fresh session B points
                  hive_gateway.ann.index_path at it and serves
                  q_sim_topk_ivf (no KMeans, only the probed cells'
                  files opened). Build, first/warm serve, the brute
                  baseline and IVF recall (default 1M).
  --screen [n ..] the ingest screen against a persisted index per
                  size: an availableNow drain of one arrival batch
                  (near-copies of indexed vectors + novel vectors)
                  through stream_embed_dedup_screen, and the same
                  batch through the foreachBatch screen
                  embed_screen_batch; every planted copy must match
                  its source and no novel vector may (default 100k
                  and 1M).

Run: python scripts/similarity_scale_smoke.py [--serve | --screen] [n ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

N_DEFAULT = 100_000
DIM = 64
N_CLUSTERS = 20
#: --screen arrival batch: near-copies of indexed vectors + novel ones
N_COPIES = 50
N_NOVEL = 200
SRC_SF = "/root/testdata/sf0.001"  # donor for the non-embedding tables


def synth_corpus(tmp: str, n: int) -> tuple:
    """Write the corpus sf-dir into ``tmp``; returns (vectors, rng) —
    the generator continues past the corpus draws for arrival batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, n)
    vecs = centers[label] + rng.normal(0, 0.35, (n, DIM))
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(tmp, "embeddings.parquet"))
    for name in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(
            os.path.join(SRC_SF, f"{name}.parquet"),
            os.path.join(tmp, f"{name}.parquet"),
        )
    return vecs, rng


def topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall(exact_rows, approx_rows) -> float:
    exact, approx = topk_sets(exact_rows), topk_sets(approx_rows)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    return round(hits / sum(len(v) for v in exact.values()), 3)


def serve(n: int) -> dict:
    from hive_gateway_spark import registry
    from hive_gateway_spark.operators import similarity as sim
    from hive_gateway_spark.session import get_spark

    registry.load_all()
    report: dict = {"n_vectors": n}
    with tempfile.TemporaryDirectory(prefix="annserve_") as tmp:
        sf_dir = os.path.join(tmp, "sf")
        os.makedirs(sf_dir)
        synth_corpus(sf_dir, n)
        idx = os.path.join(tmp, "ann_index")

        spark_a = get_spark("ann-index-build")
        t0 = time.perf_counter()
        manifests = sim.persist_ivf_index(spark_a, sf_dir, idx)
        report["build_persist_sec"] = round(time.perf_counter() - t0, 2)
        report["invfile_rows"] = manifests["invfile"]["n_rows"]
        spark_a.stop()

        spark_b = get_spark("ann-index-serve")
        spark_b.conf.set("hive_gateway.ann.index_path", idx)
        fn = registry.QUERIES["q_sim_topk_ivf"]
        t0 = time.perf_counter()
        ivf_rows = fn(spark_b, sf_dir).collect()
        report["serve_first_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        fn(spark_b, sf_dir).collect()
        report["serve_warm_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        exact_rows = registry.QUERIES["q_sim_topk"](spark_b, sf_dir).collect()
        report["brute_sec"] = round(time.perf_counter() - t0, 2)
        report["recall"] = recall(exact_rows, ivf_rows)
        report["n_queries"] = len(topk_sets(exact_rows))
        spark_b.stop()
    return report


def screen(ns: list[int]) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_gateway_spark.operators.similarity import persist_ivf_index
    from hive_gateway_spark.session import get_spark
    from hive_gateway_spark.streaming.ops import (
        embed_screen_batch,
        stream_embed_dedup_screen,
    )

    spark = get_spark("stream-screen-scale-smoke")
    report: dict = {"dim": DIM, "runs": {}}
    for n in ns:
        with tempfile.TemporaryDirectory(prefix="scrsmoke_") as tmp:
            sf_dir = os.path.join(tmp, "sf")
            os.makedirs(sf_dir)
            vecs, rng = synth_corpus(sf_dir, n)
            idx = os.path.join(tmp, "index")
            t0 = time.perf_counter()
            persist_ivf_index(spark.newSession(), sf_dir, idx)
            build = time.perf_counter() - t0
            src = rng.choice(n, N_COPIES, replace=False)
            arrive = np.vstack(
                [vecs[src] * (1 + 1e-3), rng.normal(0, 1, (N_NOVEL, DIM)) * 3]
            ).astype(np.float32)
            ids = np.arange(10_000_000, 10_000_000 + len(arrive))
            adir = os.path.join(tmp, "arrivals")
            os.makedirs(adir)
            pq.write_table(
                pa.table(
                    {
                        "vec_id": pa.array(ids, pa.int64()),
                        "embedding": pa.array(list(arrive), pa.list_(pa.float32())),
                    }
                ),
                os.path.join(adir, "part-00.parquet"),
            )
            s2 = spark.newSession()
            vec_stream = s2.readStream.schema(
                "vec_id bigint, embedding array<float>"
            ).parquet(adir)
            t0 = time.perf_counter()
            q = (
                stream_embed_dedup_screen(vec_stream, idx, tau=0.98)
                .writeStream.format("memory")
                .queryName(f"scr_{n}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            drain = time.perf_counter() - t0
            rows = s2.table(f"scr_{n}").collect()
            s3 = spark.newSession()
            score = embed_screen_batch(s3, idx, tau=0.98)
            t0 = time.perf_counter()
            gemm_rows = score(s3.read.parquet(adir)).collect()
            gemm_sec = time.perf_counter() - t0
            matched = {int(r["vec_id"]) for r in rows}
            copies = set(int(i) for i in ids[:N_COPIES])
            novel = set(int(i) for i in ids[N_COPIES:])
            report["runs"][str(n)] = {
                "index_build_sec": round(build, 2),
                "screen_batch_sec": round(drain, 2),
                "gemm_screen_sec": round(gemm_sec, 2),
                "gemm_match_rows": len(gemm_rows),
                "arrivals": len(arrive),
                "match_rows": len(rows),
                "copy_recall": round(len(matched & copies) / N_COPIES, 4),
                "novel_false_flags": len(matched & novel),
            }
            print(f"n={n}: {report['runs'][str(n)]}", file=sys.stderr)
    spark.stop()
    return report


def main() -> None:
    mode = sys.argv[1] if sys.argv[1:2] in (["--serve"], ["--screen"]) else None
    ns = [int(a) for a in sys.argv[1 + bool(mode):]]
    if mode == "--serve":
        print(json.dumps(serve(ns[0] if ns else 1_000_000)))
        return
    if mode == "--screen":
        print(json.dumps(screen(ns or [100_000, 1_000_000])))
        return
    n = ns[0] if ns else N_DEFAULT
    from hive_gateway_spark import registry
    from hive_gateway_spark.operators import similarity as sim
    from hive_gateway_spark.session import get_spark

    registry.load_all()
    # optional: widen the bounded query block (crossover studies — the
    # registered operators keep their production cap; this smoke knob
    # exists to measure how the brute/ANN gap moves with query count)
    nq = int(os.environ.get("SIM_SMOKE_QUERIES", "0"))
    if nq:
        sim.MAX_QUERIES = nq
        sim.QUERY_ID_CAP = sim.QUERY_STRIDE * nq
    spark = get_spark("similarity-scale-smoke")
    report: dict = {"n_vectors": n, "dim": DIM}
    with tempfile.TemporaryDirectory(prefix="simsmoke_") as tmp:
        synth_corpus(tmp, n)
        sf_dir = tmp
        results: dict[str, list] = {}
        for name in (
            "q_sim_topk",
            "q_sim_topk_ivf",
            "q_sim_topk_lsh",
            "q_sim_topk_pq",
            "q_sim_topk_pq_rerank",
            "q_sim_topk_ivfpq",
        ):
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            # warm pass: the IVF index / staged frames are session-
            # cached, so this is the amortized serve path (index built
            # once, queried many times — the production shape).
            t1 = time.perf_counter()
            fn(spark, sf_dir).collect()
            warm = time.perf_counter() - t1
            results[name] = rows
            report[name] = {
                "wall_sec": round(dt, 2),
                "warm_sec": round(warm, 2),
                "rows": len(rows),
            }
        # retrieval-eval family: timing + output size only (their
        # outputs are per-query scalars, not top-k sets)
        for name in ("q_retrieval_mmr", "q_ann_recall", "q_retrieval_ndcg"):
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            t1 = time.perf_counter()
            fn(spark, sf_dir).collect()
            warm = time.perf_counter() - t1
            report[name] = {
                "wall_sec": round(dt, 2),
                "warm_sec": round(warm, 2),
                "rows": len(rows),
            }
            if name == "q_ann_recall":
                rs = [r["recall_at_k"] for r in rows]
                report[name]["mean_recall"] = round(sum(rs) / len(rs), 3)
            if name == "q_retrieval_ndcg":
                ns = [r["ndcg"] for r in rows]
                report[name]["mean_ndcg"] = round(sum(ns) / len(ns), 3)
        for name in (
            "q_sim_topk_ivf",
            "q_sim_topk_lsh",
            "q_sim_topk_pq",
            "q_sim_topk_pq_rerank",
            "q_sim_topk_ivfpq",
        ):
            report[name]["recall"] = recall(results["q_sim_topk"], results[name])
        report["n_queries"] = len(topk_sets(results["q_sim_topk"]))
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
