#!/usr/bin/env python
"""Scale harness: the registered operators on a synthetic corpus larger
than the fixtures, timed one way and recorded.

    python scripts/scale.py <family> [n]

Each family writes one synthetic sf-dir (its own table as PARTS parquet
parts, the other nine fixture tables symlinked from the sf0.001
fixture) and runs registered operators on it unmodified. Every leg is
timed by bench's protocol: ``bench._timed`` (construct + noop-sink
execute), one cold run, then the median of WARM_RUNS warm runs, each
under its own job group so the record carries the Spark jobs a warm run
starts. The checks that collect rows run once more, after the clock.

The run writes ``SCALE_<family>_c<cpus>.json`` at the repo root, warns
on stderr when a leg's rows or a recall differ from the previous record
at the same n, and exits 1 if a sanity check fails.

Families (default n):
  corpus      q_dedup_substring, q_boilerplate_chunks, q_lm_perplexity,
              q_dsir_weights, q_curation_v4 over n zipf docs with planted
              shared runs and a footer on 30% of them
  multimodal  q_image_phash, q_audio_fingerprint, q_video_framesample
              over n assets, and banded_hash_pairs under a hot bucket
  similarity  exact, IVF, LSH, PQ, PQ-rerank and IVF-PQ top-k over n
              clustered vectors, recall vs exact, and the eval queries
  serve       a persisted IVF index served from a new session, and the
              ingest screen (stream and GEMM) of copies + novel vectors
  drift       append_ivf_index growth: drifting appends stay under
              IVF_REBUILD_IMBALANCE, a never-seen cluster crosses it
  lakehouse   write, 8 appends, merge upsert and compaction of n docs,
              then a pruned range read
  streaming   n rate-source events drained through the JVM window
              count and a Python-stateful twin
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from hive_gateway_spark import registry  # noqa: E402
from hive_gateway_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402

WARM_RUNS = 3
DRAIN_TIMEOUT_S = 600
PARTS = 32
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
DIM, N_CLUSTERS, SIGMA = 64, 20, 0.35
#: recall vs the exact top-k each ANN path must keep on the clustered
#: corpus. The PQ paths are absent on purpose: on tight clusters exact
#: top-5 is a fine-ranking problem ADC cannot solve (SCALE.md, "PQ
#: regime boundary"), so their recall is recorded, not gated.
RECALL_FLOORS = {"q_sim_topk_ivf": 0.95, "q_sim_topk_lsh": 0.95}
_QUERY_IDS = itertools.count()
#: run ids of the streams drain() started: each stream runs its batches
#: under its own job group, named by its run id
_STREAM_RUNS: list[str] = []

FAMILIES: dict[str, tuple] = {}


def family(n: int, smallest: int):
    """Register a family with its default n and the smallest n at which
    its checks still hold (the one the test runs)."""

    def register(fn):
        FAMILIES[fn.__name__] = (fn, n, smallest)
        return fn

    return register


class Run:
    """One family run: its sf-dir, its timed legs and its checks."""

    def __init__(self, spark, tmp: str, donor: str) -> None:
        self.spark, self.tmp, self.donor = spark, tmp, donor
        self.legs: dict = {}
        self.recall: dict = {}
        self.facts: dict = {}
        self.sanity: dict = {}

    def write(self, name: str, table: pa.Table) -> str:
        """The run's sf-dir, holding ``table`` as table ``name`` in PARTS parts."""
        sf_dir = os.path.join(self.tmp, "sf")
        os.makedirs(os.path.join(sf_dir, f"{name}.parquet"))
        n = table.num_rows
        for j in range(PARTS):
            lo, hi = j * n // PARTS, (j + 1) * n // PARTS
            pq.write_table(
                table.slice(lo, hi - lo), f"{sf_dir}/{name}.parquet/part-{j:03d}.parquet"
            )
        for other in TABLES:
            if other != name:
                os.symlink(f"{self.donor}/{other}.parquet", f"{sf_dir}/{other}.parquet")
        return sf_dir

    def time(self, leg: str, fn, sf_dir: str | None = None, spark=None) -> list:
        """Time ``fn(spark, sf_dir)`` by bench's protocol; return the rows
        of one more run, made after the clock stops."""
        spark = spark or self.spark
        sc = spark.sparkContext
        cold = bench._timed(fn, spark, sf_dir)
        warm, jobs = [], []
        for _ in range(WARM_RUNS):
            group, streams = f"scale-{next(_QUERY_IDS)}", len(_STREAM_RUNS)
            sc.setJobGroup(group, leg)
            try:
                warm.append(bench._timed(fn, spark, sf_dir))
            finally:
                sc.setJobGroup("", "")
            groups = [group, *_STREAM_RUNS[streams:]]
            jobs.append(sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups))
        rows = fn(spark, sf_dir).collect()
        self.legs[leg] = {
            "cold_s": round(cold, 3),
            "warm_median_s": round(statistics.median(warm), 3),
            "jobs_per_warm_run": statistics.median_low(jobs),
            "rows": len(rows),
        }
        return rows

    def query(self, name: str, sf_dir: str, spark=None) -> list:
        return self.time(name, registry.QUERIES[name], sf_dir, spark)

    def check(self, name: str, ok) -> None:
        self.sanity[name] = bool(ok)


def measure(spark, name: str, n: int, donor: str = DEFAULT_SF_DIR) -> dict:
    """Run family ``name`` at ``n`` on ``spark``; returns its record."""
    with tempfile.TemporaryDirectory(prefix=f"scale_{name}_") as tmp:
        run = Run(spark, tmp, donor)
        FAMILIES[name][0](run, n)
    return {
        "family": name,
        "n": n,
        "cpus": bench._run_cpus(),
        "legs": run.legs,
        "recall": run.recall,
        "facts": run.facts,
        "sanity": run.sanity,
    }


def changes(prev: dict | None, cur: dict) -> list[str]:
    """What moved since the previous record of this family and cpus: a
    leg's rows or a recall. A record at another n is not compared."""
    if prev is None:
        return []
    if prev["n"] != cur["n"]:
        return [f"previous record is at n={prev['n']}, not compared"]
    out = [
        f"{leg}: rows {prev['legs'][leg]['rows']} -> {v['rows']}"
        for leg, v in cur["legs"].items()
        if leg in prev["legs"] and prev["legs"][leg]["rows"] != v["rows"]
    ]
    out += [
        f"{leg}: recall {prev['recall'][leg]} -> {r}"
        for leg, r in cur["recall"].items()
        if leg in prev["recall"] and prev["recall"][leg] != r
    ]
    return out


# -- synthetic tables -------------------------------------------------------


def docs_table(texts: list[str], langs) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(np.repeat("synth", n)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def clustered(n: int, rng=None, centers=None):
    """n vectors around N_CLUSTERS Gaussian centres (rng 7 by default);
    returns (vecs, labels, centers, rng), the rng positioned past the
    draws for the caller's next batch."""
    rng = rng or np.random.default_rng(7)
    centers = rng.normal(0, 1, (N_CLUSTERS, DIM)) if centers is None else centers
    label = rng.integers(0, len(centers), n)
    return centers[label] + rng.normal(0, SIGMA, (n, DIM)), label, centers, rng


def embeddings_table(ids, vecs, label=None) -> pa.Table:
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
    }
    if label is not None:
        cols["label"] = pa.array(label.astype(np.int32), pa.int32())
    return pa.table(cols)


def topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall(exact_rows, approx_rows) -> float:
    exact, approx = topk_sets(exact_rows), topk_sets(approx_rows)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    return round(hits / sum(len(v) for v in exact.values()), 3)


def drain(stream, mode: str = "append"):
    """Run ``stream`` to its end under availableNow into a new memory
    table, and return that table."""
    name = f"scale_{next(_QUERY_IDS)}"
    q = stream.writeStream.format("memory").queryName(name).outputMode(mode)
    q = q.trigger(availableNow=True).start()
    _STREAM_RUNS.append(str(q.runId))
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"{name} still running after {DRAIN_TIMEOUT_S} s")
    return stream.sparkSession.table(name)


# -- families ---------------------------------------------------------------

FOOTER = "subscribe to our newsletter for daily updates and exclusive offers today"


@family(5_000, 400)
def corpus(run: Run, n: int) -> None:
    """Docs i and i+1 share a 12-token run for i % 100 == 0; docs with
    i % 10 < 3 end in FOOTER. The two top zipf tokens are real stopwords
    so q_curation_v4's Gopher gate sees them."""
    from hive_gateway_spark.operators.corpus import V4_RECIPE, v4_corpus
    from hive_gateway_spark.pipeline import CurationPipeline
    from hive_gateway_spark.session import load_tables

    rng = np.random.default_rng(11)
    vocab = 4_000
    words = np.array(["the", "a"] + [f"w{i:04d}" for i in range(2, vocab)])
    p = 1.0 / np.arange(1, vocab + 1)
    p /= p.sum()
    texts, run12 = [], None
    for i, length in enumerate(rng.integers(30, 90, n)):
        toks = list(words[rng.choice(vocab, length, p=p)])
        if i % 100 == 0:
            run12 = list(words[rng.choice(vocab, 12, p=p)])
            toks[:12] = run12
        elif i % 100 == 1:
            toks[-12:] = run12
        texts.append(" ".join(toks + (FOOTER.split() if i % 10 < 3 else [])))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
    sf = run.write("documents", docs_table(texts, langs))
    n_footer = sum(i % 10 < 3 for i in range(n))

    dup_docs = sum(r["n_dup_spans"] > 0 for r in run.query("q_dedup_substring", sf))
    run.check("planted_runs_found", dup_docs >= 0.95 * 2 * (n // 100))
    cut = sum(r["n_removed"] > 0 for r in run.query("q_boilerplate_chunks", sf))
    run.check("footer_docs_cut", cut >= n_footer)
    run.query("q_lm_perplexity", sf)
    run.query("q_dsir_weights", sf)
    run.query("q_curation_v4", sf)

    # At the oracle width (3) shingles of this vocabulary are common, so
    # the v4 screen flags a large share "contaminated"; at a production
    # width (8) only real shared text remains, and off the footer docs
    # almost nothing.
    spark = run.spark
    funnel = {r["decision"]: r["n_docs"] for r in registry.QUERIES["q_curation_v4_funnel"](spark, sf).collect()}
    width8 = [(s, {**kw, "shingle_n": 8} if s == "decontaminate" else kw) for s, kw in V4_RECIPE]
    docs = v4_corpus(load_tables(spark, sf)["documents"])
    dec8 = CurationPipeline(spark).from_frame(docs).apply(width8).trace()
    contam = dec8.filter(f"decision = 'contaminated' AND doc_id < {n}")
    n8 = contam.count()
    n8_off_footer = contam.filter("doc_id % 10 >= 3").count()
    run.facts.update(
        v4_funnel=funnel,
        contaminated_n3=funnel.get("contaminated", 0),
        contaminated_n8=n8,
        contaminated_n8_off_footer=n8_off_footer,
    )
    run.check("width8_screens_less", n8 < funnel.get("contaminated", 0))
    run.check("width8_off_footer_under_1pct", n8_off_footer < 0.01 * (n - n_footer))


@family(10_000, 500)
def multimodal(run: Run, n: int) -> None:
    """The perceptual operators synthesize each asset from doc_id, so
    only the ids matter; every PHASH_CLUSTER-doc family must pair up.
    The hot-bucket leg stamps HOT identical hashes in front of n random
    ones: PERCEPTUAL_BUCKET_CAP must keep all their pairs out."""
    from hive_gateway_spark.operators.multimodal import PHASH_CLUSTER as C, banded_hash_pairs

    sf = run.write("documents", docs_table(["multimodal asset stub"] * n, np.repeat("en", n)))
    expected = (n // C) * (C * (C - 1) // 2)
    rows = run.query("q_image_phash", sf)
    family_pairs = sum(r["doc_a"] // C == r["doc_b"] // C for r in rows)
    run.recall["q_image_phash"] = round(family_pairs / expected, 6)
    # a band bucket over the cap drops its pairs: a sliver of recall
    run.check("image_family_recall", family_pairs >= 0.999 * expected)
    run.check("audio_family_pairs", len(run.query("q_audio_fingerprint", sf)) >= expected)
    run.query("q_video_framesample", sf)

    hot = 4_096
    h = np.concatenate(
        [np.full(hot, 0x0123456789ABCDEF, np.int64),
         np.random.default_rng(8).integers(-(2**63), 2**63, n, dtype=np.int64)]
    )
    frame = run.spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(len(h)), "h": h}))
    rows = run.time("banded_hash_pairs", lambda s, _: banded_hash_pairs(frame, "h", 10))
    run.check("hot_bucket_capped", not any(r["doc_a"] < hot and r["doc_b"] < hot for r in rows))


@family(20_000, 2_000)
def similarity(run: Run, n: int) -> None:
    vecs, label, _, _ = clustered(n)
    sf = run.write("embeddings", embeddings_table(np.arange(n), vecs, label))
    exact = run.query("q_sim_topk", sf)
    for name in ("q_sim_topk_ivf", "q_sim_topk_lsh", "q_sim_topk_pq", "q_sim_topk_pq_rerank", "q_sim_topk_ivfpq"):
        run.recall[name] = recall(exact, run.query(name, sf))
    for name, floor in RECALL_FLOORS.items():
        run.check(f"{name}_recall", run.recall[name] >= floor)
    rows = run.query("q_ann_recall", sf)
    run.facts["q_ann_recall_mean"] = round(statistics.mean(r["recall_at_k"] for r in rows), 3)
    rows = run.query("q_retrieval_ndcg", sf)
    run.facts["q_retrieval_ndcg_mean"] = round(statistics.mean(r["ndcg"] for r in rows), 3)
    run.query("q_retrieval_mmr", sf)


@family(50_000, 2_000)
def serve(run: Run, n: int) -> None:
    """One session publishes the index; a new session, its caches empty,
    serves it (only the probed cells' files open) and screens arrivals:
    COPIES scaled copies of indexed vectors, which must each match, and
    NOVEL far-off vectors, which must not."""
    from hive_gateway_spark.operators.similarity import persist_ivf_index
    from hive_gateway_spark.streaming.ops import embed_screen_batch, stream_embed_dedup_screen

    copies, novel = 50, 200
    vecs, label, _, rng = clustered(n)
    sf = run.write("embeddings", embeddings_table(np.arange(n), vecs, label))
    idx = os.path.join(run.tmp, "index")
    persist_ivf_index(run.spark.newSession(), sf, idx)
    s = run.spark.newSession()
    s.conf.set("hive_gateway.ann.index_path", idx)
    served = run.query("q_sim_topk_ivf", sf, s)
    run.recall["q_sim_topk_ivf"] = recall(run.query("q_sim_topk", sf, s), served)
    run.check("served_recall", run.recall["q_sim_topk_ivf"] >= RECALL_FLOORS["q_sim_topk_ivf"])

    src = rng.choice(n, copies, replace=False)
    arrive = np.vstack([vecs[src] * (1 + 1e-3), rng.normal(0, 1, (novel, DIM)) * 3])
    ids = np.arange(10_000_000, 10_000_000 + len(arrive))
    adir = os.path.join(run.tmp, "arrivals")
    os.makedirs(adir)
    pq.write_table(embeddings_table(ids, arrive), f"{adir}/part-0.parquet")
    legs = {
        "stream_embed_dedup_screen": lambda sp, _: drain(
            stream_embed_dedup_screen(
                sp.readStream.schema("vec_id bigint, embedding array<float>").parquet(adir), idx, tau=0.98
            )
        ),
        "embed_screen_batch": lambda sp, _: embed_screen_batch(sp, idx, tau=0.98)(sp.read.parquet(adir)),
    }
    for leg, fn in legs.items():
        matched = {int(r["vec_id"]) for r in run.time(leg, fn, spark=run.spark.newSession())}
        run.check(f"{leg}_copies_matched", matched >= set(ids[:copies].tolist()))
        run.check(f"{leg}_novel_unflagged", not matched & set(ids[copies:].tolist()))


@family(10_000, 2_000)
def drift(run: Run, n: int) -> None:
    """Grow the persisted index 6x by appends against its frozen
    centroids: two batches from the base mixture with every centre moved
    a little further, then three from one cluster the quantizer never
    saw. q_ann_index_stats' max imbalance must stay at or under
    IVF_REBUILD_IMBALANCE through the drift and cross it in the novel
    phase while IVF recall vs exact still holds its floor."""
    from hive_gateway_spark.operators import similarity as sim

    vecs, label, centers, rng = clustered(n)
    sf = run.write("embeddings", embeddings_table(np.arange(n), vecs, label))
    ddir = f"{sf}/embeddings.parquet"
    idx = os.path.join(run.tmp, "index")
    sim.persist_ivf_index(run.spark.newSession(), sf, idx)
    shift = rng.normal(0, 1, centers.shape)
    shift *= 0.1 * SIGMA / np.linalg.norm(shift, axis=1, keepdims=True)
    novel = rng.normal(0, 1, (1, DIM))
    phases = {"drift": [centers + shift * k for k in (1, 2)], "novel": [novel] * 3}
    step = 0
    for phase, batches in phases.items():
        for c in batches:
            step += 1
            v, lab, _, _ = clustered(n, rng, c)
            part = f"{ddir}/append-{step:03d}.parquet"
            pq.write_table(embeddings_table(np.arange(step * n, (step + 1) * n), v, lab), part)
            s = run.spark.newSession()
            sim.append_ivf_index(s, s.read.parquet(part).select("vec_id", "embedding"), idx)
        s = run.spark.newSession()
        s.conf.set("hive_gateway.ann.index_path", idx)
        stats = run.time(f"q_ann_index_stats_{phase}", sim.q_ann_index_stats, sf, s)
        imbalance = max(r["imbalance"] for r in stats)
        run.facts[f"max_imbalance_{phase}"] = imbalance
        run.recall[f"q_sim_topk_ivf_{phase}"] = recall(
            sim.q_sim_topk(s, sf).collect(), sim.q_sim_topk_ivf(s, sf).collect()
        )
        run.check(f"{phase}_recall", run.recall[f"q_sim_topk_ivf_{phase}"] >= 0.9)
    run.check("drift_under_bound", run.facts["max_imbalance_drift"] <= sim.IVF_REBUILD_IMBALANCE)
    run.check("novel_over_bound", run.facts["max_imbalance_novel"] > sim.IVF_REBUILD_IMBALANCE)


@family(20_000, 2_000)
def lakehouse(run: Run, n: int) -> None:
    """The commit cycle a streaming ingest drives: write half the docs,
    append the rest in 8 commits, upsert 1% of the keys as a re-crawl,
    compact clustered by doc_id. The compacted snapshot must hold
    exactly the modelled content, and a 1%-of-keys range read must open
    fewer files than the snapshot has."""
    from hive_gateway_spark.sources.dataset_export import (
        append_dataset, compact_dataset, dataset_files, merge_dataset,
        read_snapshot, verify_dataset, write_dataset,
    )

    def docs(spark, lo, hi, prefix="document body "):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(prefix), F.col("id")).alias("text"),
            F.element_at(F.array(*map(F.lit, ("en", "de", "fr"))), (F.col("id") % 3 + 1).cast("int")).alias("lang"),
        )

    paths = []

    def cycle(spark, _):
        path = os.path.join(run.tmp, f"corpus{len(paths)}")
        paths.append(path)
        bounds = np.linspace(n // 2, n, 9).astype(int)
        write_dataset(docs(spark, 0, n // 2).repartition(PARTS), path, partition_by=["lang"])
        for lo, hi in zip(bounds, bounds[1:]):
            append_dataset(docs(spark, int(lo), int(hi)), path)
        merge_dataset(docs(spark, 0, n // 100, "RECRAWLED "), path, key="doc_id")
        compact_dataset(spark, path, files_per_partition=8, cluster_by="doc_id")
        return read_snapshot(spark, path)

    rows = run.time("commit_cycle", cycle)
    model = {(i, f"{'RECRAWLED' if i < n // 100 else 'document body'} {i}", ("en", "de", "fr")[i % 3]) for i in range(n)}
    run.check("content_equals_model", len(rows) == n and {(r["doc_id"], r["text"], r["lang"]) for r in rows} == model)
    run.check("verify_ok", verify_dataset(run.spark, paths[-1])["ok"])
    lo, hi = n // 2, n // 2 + n // 100

    def pruned_read(spark, _):
        return read_snapshot(spark, paths[-1], between=("doc_id", lo, hi))

    run.facts["files"] = len(dataset_files(paths[-1]))
    run.facts["pruned_files_opened"] = len(pruned_read(run.spark, None).inputFiles())
    rows = run.time("pruned_read", pruned_read)
    run.check("pruned_read_rows", len(rows) == hi - lo + 1)
    run.check("pruned_read_skips_files", run.facts["pruned_files_opened"] < run.facts["files"])


@family(200_000, 2_000)
def streaming(run: Run, n: int) -> None:
    """n events in one rate-source micro-batch (user = seq mod 100,
    event time = seq seconds, type cycling signup/click/purchase)
    through stream_rate_limit_counts (JVM watermark + window count) and
    stream_sequence_count (Python per-user state)."""
    from hive_gateway_spark.streaming.ops import _live_events, stream_rate_limit_counts, stream_sequence_count

    def events(spark):
        src = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", n).load()
        kinds = F.array(*map(F.lit, ("signup", "click", "purchase")))
        return _live_events(src, "value", 100).withColumn(
            "event_type", F.element_at(kinds, (F.col("event_id") % 3 + 1).cast("int"))
        )

    rows = run.time("stream_rate_limit_counts", lambda s, _: drain(stream_rate_limit_counts(events(s)), "update"))
    run.check("window_counts_cover_events", sum(r["n_calls"] for r in rows) == n)
    rows = run.time("stream_sequence_count", lambda s, _: drain(stream_sequence_count(events(s))))
    run.check("sequence_rows", len(rows) > 0)


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in FAMILIES:
        print(__doc__, file=sys.stderr)
        return 2
    name = argv[0]
    n = int(argv[1]) if len(argv) > 1 else FAMILIES[name][1]
    registry.load_all()
    spark = get_spark(f"scale-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rec = measure(spark, name, n)
    finally:
        spark.stop()
    path = os.path.join(REPO, f"SCALE_{name}_c{rec['cpus']}.json")
    prev = json.load(open(path)) if os.path.exists(path) else None
    for line in changes(prev, rec):
        print(f"WARNING: {name}: {line}", file=sys.stderr)
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")
    print(json.dumps(rec))
    return 0 if all(rec["sanity"].values()) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
