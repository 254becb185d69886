"""Similarity search over embedding columns (BASELINE.json north star).

Every top-k query here has one shape — a local top-k per Arrow batch,
then a small global merge (the REPOSE / incremental top-k pattern,
PAPERS.md: EDBT 2020 / ICDE 2021, re-derived, not copied) — and each
step of it is written once:

  _query_block  the bounded query set (every QUERY_STRIDE-th id under
                QUERY_ID_CAP), collected once and broadcast;
  _local_topk   the exact per-batch top-k: one lexsort over the
                queries × rows block, (score desc, neighbor_id asc);
                _pad_pairs turns a ragged (query, neighbor) pair
                stream into such a block;
  _cos_topk     exact int64 GEMM + the shared cosine (cos_div_np) +
                _local_topk — the kernel of the exact, IVF, LSH and
                MMR paths;
  _rank_merge   the global row_number ≤ k merge over query_id;
  _probe_cells  IVF probe routing (cdot_sql centroid dot, desc, cell
                asc) — the one probe rule of the index; the stream's
                in-row probe ranks the same cdot_sql sums in the same
                order;
  _probe_scan   a kernel over only the probed cells' inverted-file
                rows — q_sim_topk_ivf's top-k and the ingest screen's
                threshold (streaming/ops.embed_screen_batch);
  _rerank       the exact re-rank tail of the ADC shortlist paths.

Cosine is dot / √max(|a|²·|b|², 1) in every engine (cos_div,
cos_div_np, cos_div_sql in functions/vectors.py): a zero-norm vector
scores 0 and is ranked like any other. The ADC shortlist paths keep
their own tie-oblivious kernel (_adc_local_topk).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from hive_gateway_spark.functions.vectors import (
    DUCK_FLAT_CTE,
    SCALE,
    cdot_sql,
    cos_div,
    cos_div_np,
    cos_div_sql,
    dot_q,
    gemm_pair_block,
    norm2_q,
    vec_q,
)
from hive_gateway_spark.registry import query
from hive_gateway_spark.session import load_tables
from hive_gateway_spark.staging import SessionCache, release, stage

#: embeddings plan → (centers list, checkpointed inverted file) — the
#: IVF coarse index is a BUILD artifact (fit + assignment cost
#: O(N·cells·dim)), amortized across every query against the same
#: corpus exactly like the dedup pair staging; rebuilding it per call
#: made cold IVF lose to brute force at the 1M smoke (SCALE.md r9).
_IVF_CACHE = SessionCache("similarity.ivf")

#: Pair threshold tuned to the fixture's cosine distribution (within-label
#: 99.9th pct ≈ 0.38): selective but non-empty at every sf.
PAIR_TAU = 0.3

#: Every 100th vector plays "query set" for top-k — capped at
#: MAX_QUERIES ids (VERDICT r03 "What's wrong" #3: an uncapped stride is
#: 1 % *of the corpus*, so the driver-side collect+broadcast grew O(N)
#: with the table — a scale-killer at 100 TB). The cap makes the query
#: dimension a bounded relation by construction: ids {0, 100, …,
#: (MAX_QUERIES−1)·100}, ≤ MAX_QUERIES rows collected no matter the
#: corpus size. Both test scales sit far under the cap (sf0.1 has
#: ~6.4 k vectors → 64 stride ids), so every existing oracle value is
#: unchanged; the oracle models the same bound.
QUERY_STRIDE = 100
MAX_QUERIES = 256
QUERY_ID_CAP = QUERY_STRIDE * MAX_QUERIES
TOP_K = 5


#: Corpus size above which the embeddings staging repartitions to the
#: session's shuffle width. The fixtures (≤6.4k vectors) stay below it —
#: single-digit-k inputs lose more to an exchange than they gain — but a
#: production corpus arrives spread; the threshold only repairs the
#: degenerate one-file local case (the 100k smoke measured the LSH plane
#: projection 86 s single-partition vs ~4 s spread).
_REPARTITION_MIN_ROWS = 10_000


#: embeddings plan → quantized frame — the int64 staging is consumed by
#: every exact/ANN query in the family; above the repartition threshold
#: it is also CHECKPOINTED so a warm session pays the 64-wide
#: quantization transform once, not per query (the r13 1M profile
#: charged ~15 s of every "warm" exact/rerank call to re-projecting the
#: same corpus). Below the threshold the plan is returned
#: un-materialized (and not cached), keeping fixture-scale plan
#: assertions and pushdown shapes exactly as before.
_QUANT_CACHE = SessionCache("similarity.quantized")


def _quantized(t) -> DataFrame:
    e = t["embeddings"]
    spark = e.sparkSession

    def quantize() -> DataFrame:
        return e.select("vec_id", "label", vec_q("embedding").alias("v"))

    def build() -> DataFrame | None:
        # parquet row count is metadata — one cheap job per miss
        if e.count() <= _REPARTITION_MIN_ROWS:
            return None
        width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return quantize().repartition(width, "vec_id").localCheckpoint()

    staged = _QUANT_CACHE.get_or_build(spark, None, build, plan=e)
    return quantize() if staged is None else staged


@query(
    "q_sim_cosine_pairs",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(SUM(a.val * b.val) AS DOUBLE) AS dot
        FROM v a
        JOIN v b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT d.vec_a, d.vec_b,
           ROUND({cos_div_sql('d.dot', 'na.norm2 * nb.norm2')}, 4) AS cos_sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_a
    JOIN norms nb ON nb.vec_id = d.vec_b
    WHERE d.dot > 0 AND d.dot * d.dot >= {PAIR_TAU * PAIR_TAU} * na.norm2 * nb.norm2
    """,
)
def q_sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded cosine-similarity pairs, blocked by label.

    The label is the blocking key (ref analog: O21's per-module routing
    partitions the keyspace): vectors shuffle once on label, then each
    block runs an **exact int64 GEMM** (numpy matmul on the quantized
    vectors — integer, so bit-identical to the oracle's per-element
    sums) inside applyInPandas. This is the engine's vectorized
    slow-path pattern: Arrow batch in, O(n²·d) BLAS-shaped kernel, tiny
    pair table out. At 100 TB, blocks exceeding executor memory are
    sub-chunked (tested pattern: chunked GEMM over row slices — the
    group is an iterator of batches in mapInPandas form).

    The threshold test is sqrt/division-free (dot² ≥ τ²·|a|²·|b|²) and
    evaluated in float64 on exact (< 2⁵³) integer inputs — identical in
    both engines. The kernel (functions/vectors.py:gemm_pair_block) is
    shared with q_dedup_embedding."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t)
    block, schema = gemm_pair_block(PAIR_TAU, with_sim=True)
    return e.groupBy("label").applyInPandas(block, schema)


@query(
    "q_sim_topk",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    q AS (SELECT * FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}),
    dots AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(q.val * b.val) AS DOUBLE) AS dot
        FROM q JOIN v b ON q.pos = b.pos AND q.vec_id <> b.vec_id
        GROUP BY q.vec_id, b.vec_id
    ),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               {cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')} AS sim
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_k, ROUND(sim, 4) AS cos_sim
    FROM (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rank_k
        FROM scored
    )
    WHERE rank_k <= {TOP_K}
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k nearest neighbors for a query subset.

    Plan shape (VERDICT r01 "Next round" #2 — replaces a
    BroadcastNestedLoopJoin cartesian O(N·Q) pair stream): the query
    block — a *bounded* dimension (≤ MAX_QUERIES ids by construction,
    the broadcast-dimension idiom; never a corpus-proportional slice)
    — is collected once and broadcast to executors; the base table
    streams through a **mapInPandas int64-GEMM kernel** that scores one
    Arrow batch against all queries and emits only each query's local
    top-k per batch (K·Q rows per batch, not N·Q). A single tiny window
    merge (row_number ≤ K over ~K·Q·n_batches candidate rows) yields the
    global answer — same oracle, no cartesian.

    Determinism: dot products are exact int64 (GEMM); sim is the
    shared cosine in IEEE float64 from exact integers — bit-identical
    to the oracle's expression, so ranks (with neighbor_id tie-break)
    agree."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    return _topk_rows(_gemm_topk(spark, e, cross_label=False))


#: mapInPandas schema of every cosine kernel's local top-k rows.
_CAND = "query_id bigint, neighbor_id bigint, sim double"


def _is_query(id_col: str = "vec_id") -> Column:
    """The bounded query block: every QUERY_STRIDE-th id under
    QUERY_ID_CAP — ≤ MAX_QUERIES rows at any corpus size."""
    c = F.col(id_col)
    return (c % QUERY_STRIDE == 0) & (c < QUERY_ID_CAP)


def _arrays(rows, *cols: str) -> tuple:
    """Collected rows → one numpy array per column: float64 for norms
    and raw embeddings, exact int64 for ids, labels and quantized
    vectors."""
    return tuple(
        np.asarray(
            [r[c] for r in rows],
            dtype=np.float64 if c in ("n2", "nq", "embedding") else np.int64,
        )
        for c in cols
    )


def _query_block(frame: DataFrame, *cols: str) -> tuple:
    """The query block's ``cols`` of ``frame`` as numpy arrays — the
    family's one bounded driver-side collect."""
    return _arrays(frame.filter(_is_query()).select(*cols).collect(), *cols)


def _vecs(pdf: pd.DataFrame, ids="vec_id", v="v", n2="n2") -> tuple:
    """(ids, X, n2) of one Arrow batch of quantized vectors."""
    return (
        pdf[ids].to_numpy(np.int64),
        np.asarray(pdf[v].tolist(), dtype=np.int64),
        pdf[n2].to_numpy(np.float64),
    )


def _local_topk(qids, ids, score, keep, k: int, col: str = "sim") -> pd.DataFrame:
    """The exact per-batch local top-k: for every query row of
    ``score`` (queries × rows, float64 or exact int64), the first ``k``
    columns that ``keep`` admits, in (score desc, neighbor_id asc)
    order — the global merge's order, so the global top-k is a subset
    of the local ones. ONE lexsort over the whole block (masked
    columns sort last), no per-query loop. Rows are query-major.
    ``ids`` is one row of neighbor ids shared by every query, or a
    (queries × rows) block of its own (_pad_pairs)."""
    take = min(k, score.shape[1])
    ids = np.broadcast_to(ids, score.shape)
    order = np.lexsort((ids, -score, ~keep), axis=1)[:, :take]
    kept = np.take_along_axis(keep, order, axis=1)
    return pd.DataFrame(
        {
            "query_id": np.broadcast_to(qids[:, None], order.shape)[kept],
            "neighbor_id": np.take_along_axis(ids, order, axis=1)[kept],
            col: np.take_along_axis(score, order, axis=1)[kept],
        }
    )


def _pad_pairs(qid, nid, score) -> tuple:
    """A ragged (query_id, neighbor_id, score) pair stream as
    _local_topk's block input: (queries, ids, score, keep), one row per
    distinct query (ascending), padded to its longest candidate list;
    ``keep`` masks the pads out."""
    uq, row = np.unique(qid, return_inverse=True)
    counts = np.bincount(row, minlength=len(uq))
    col = np.empty(len(row), dtype=np.int64)
    col[np.argsort(row, kind="stable")] = np.arange(len(row)) - np.repeat(
        np.cumsum(counts) - counts, counts
    )
    shape = (len(uq), int(counts.max(initial=0)))
    ids = np.zeros(shape, dtype=np.int64)
    block = np.zeros(shape, dtype=score.dtype)
    keep = np.zeros(shape, dtype=bool)
    ids[row, col], block[row, col], keep[row, col] = nid, score, True
    return uq, ids, block, keep


def _cos_topk(qids, Q, qn, ids, X, n2, k: int, keep=None) -> pd.DataFrame:
    """Exact cosine local top-k of queries (qids, Q, qn) against rows
    (ids, X, n2): exact int64 GEMM, the shared cosine, _local_topk.
    ``keep`` defaults to every non-self pair."""
    sim = cos_div_np((Q @ X.T).astype(np.float64), qn[:, None] * n2[None, :])
    if keep is None:
        keep = qids[:, None] != ids[None, :]
    return _local_topk(qids, ids, sim, keep, k)


def _rank_merge(cand: DataFrame, score: str, k: int) -> DataFrame:
    """The global merge of local top-ks: per query_id, rank_k =
    row_number over (``score`` desc, neighbor_id asc), kept ≤ ``k``.
    Its input is ~k·Q rows per batch, never Q·N."""
    w = W.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank_k", F.row_number().over(w)).filter(
        F.col("rank_k") <= k
    )


def _topk_rows(cand: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, rank_k, cos_sim) — the global top-TOP_K
    of cosine candidates, sim rounded to 4 dp only after ranking."""
    return _rank_merge(cand, "sim", TOP_K).select(
        "query_id", "neighbor_id", "rank_k", F.round("sim", 4).alias("cos_sim")
    )


def _gemm_topk(
    spark: SparkSession,
    e: DataFrame,
    *,
    cross_label: bool,
    base: DataFrame | None = None,
    k: int = TOP_K,
) -> DataFrame:
    """Exact cosine candidate stream: the query block of ``e`` is
    collected and broadcast, and each Arrow batch of ``base`` (default
    ``e``; a pre-filtered subset for constrained search) emits its
    local top-``k`` (_cos_topk) as (query_id, neighbor_id, sim) — the
    caller's _rank_merge of these ~k·Q rows per batch is the exact
    global top-``k``.
    ``cross_label=False`` masks self-pairs (nearest neighbors);
    ``cross_label=True`` masks every same-label column, self included
    (hard negatives)."""
    cols = ["vec_id", "label", "v", "n2"] if cross_label else ["vec_id", "v", "n2"]
    bc = spark.sparkContext.broadcast(_query_block(e, *cols))

    def score_batches(batches):
        qids, *qlab, Q, qn = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:  # degenerate Arrow batch
                continue
            ids, X, n2 = _vecs(pdf)
            keep = None
            if cross_label:
                keep = qlab[0][:, None] != pdf["label"].to_numpy(np.int64)[None, :]
            yield _cos_topk(qids, Q, qn, ids, X, n2, k, keep)

    return (base if base is not None else e).select(*cols).mapInPandas(
        score_batches, _CAND
    )


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    q AS (SELECT * FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}),
    dots AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(q.val * b.val) AS DOUBLE) AS dot
        FROM q JOIN v b ON q.pos = b.pos AND q.label <> b.label
        GROUP BY q.vec_id, b.vec_id
    ),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               {cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')} AS sim
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_k, ROUND(sim, 4) AS cos_sim
    FROM (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rank_k
        FROM scored
    )
    WHERE rank_k <= {TOP_K}
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each query
    vector's top-{TOP_K} most-similar neighbors with a DIFFERENT label
    — the exact examples an embedding trainer wants as negatives
    (similar enough to be confused, labeled as something else). Same
    machinery as q_sim_topk with the mask inverted: same-label columns
    (which include the self-pair) are excluded inside the kernel, so
    nothing same-labeled ever leaves an executor. No cartesian, no
    label shuffle."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    return _topk_rows(_gemm_topk(spark, e, cross_label=True))


#: IVF geometry: number of coarse cells, cells probed per query, and the
#: number of cells each BASE vector is assigned to (multi-assignment /
#: replication — the standard recall fix when the corpus has weak
#: cluster structure, as this fixture does: measured single-assignment
#: recall 0.57 at sf0.1 vs 0.84 with assign=2 at identical probe
#: geometry). Storage cost ×IVF_ASSIGN; at production geometry
#: (cells ≈ √N, probes ≪ cells) the scanned fraction stays
#: ≈ assign·probes/cells.
IVF_CELLS = 10
IVF_PROBES = 3
IVF_ASSIGN = 2

#: Rebuild threshold for the APPENDED index (VERDICT r10 task #7):
#: append_ivf_index grows cells against frozen centroids, so drifted
#: ingest concentrates new vectors into ever-fewer cells; the scheduled
#: full rebuild (persist_ivf_index) is due when q_ann_index_stats' max
#: per-cell imbalance (n_cell / mean) crosses this bound. Measured on a
#: corpus grown 10x by progressively-drifting appends
#: (scripts/ann_append_drift_smoke.py, curve in SCALE.md): recall vs
#: the exact baseline holds its floor while max imbalance stays at or
#: under the bound, and the monitor crosses the bound BEFORE recall
#: decays — the alarm leads the damage: a 10x growth of same-mixture
#: (even drifting ~1 sigma) ingest keeps max imbalance ~1.35, while a
#: REGIME-CHANGE ingest (clusters the quantizer never saw, all landing
#: in their few nearest frozen cells) crosses 2 within a few batches.
#: Past the bound the hottest cell holds bound/cells of the index, so
#: probes touching it scan ~2x their fair share — pay the O(N) rebuild
#: before that multiple compounds. Fixture-scale floor + alarm
#: ordering asserted in tests/test_similarity.py.
IVF_REBUILD_IMBALANCE = 2.0


def _ivf_index(spark: SparkSession, t, e) -> tuple:
    """Build (or fetch) the IVF coarse index for this corpus: KMeans
    centroids + the multi-assignment inverted file. Cached per
    (session, embeddings plan) — the index is a build artifact whose
    O(N·cells·dim) assignment cost amortizes over every subsequent
    query, exactly as a production ANN index is built once and served;
    the inverted file is localCheckpoint()'ed so cache hits re-scan
    nothing. Eviction goes through staging.evict (deterministic block
    release, ADVICE r8 #4).

    Serve path (VERDICT r9 task #4): when the session conf
    ``hive_gateway.ann.index_path`` names a lakehouse index published by
    persist_ivf_index, a cache miss LOADS it instead of training — at
    100 TB the index build is a cluster job, not a session warm-up, so
    a fresh serving session must never pay the O(N·cells·dim)
    assignment. The loaded inverted file stays FILE-BACKED (no
    checkpoint): it is hive-partitioned by cell, so the probe filter in
    q_sim_topk_ivf prunes to assign·probes/cells of the files before
    Spark opens anything."""
    emb = t["embeddings"]
    centers_rows, inv_file = _IVF_CACHE.get_or_build(
        spark, None, lambda: _ivf_build(spark, t, e), plan=emb
    )
    centers = spark.createDataFrame(centers_rows, "cell int, center array<double>")
    return centers, inv_file


def _ivf_build(spark: SparkSession, t, e) -> tuple:
    """(centers rows, inverted file): the persisted index when the
    session points at one that matches this corpus, else a fresh fit."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    idx_path = spark.conf.get("hive_gateway.ann.index_path", "")
    if idx_path:
        loaded = _load_persisted_ivf(spark, idx_path, t["embeddings"])
        if loaded is not None:
            return loaded
    # Train the coarse quantizer on a BOUNDED, MATERIALIZED sample: at
    # corpus scale you never k-means the full table for an IVF coarse
    # index (faiss trains on ~max(10k, 50·cells) points). Order matters
    # three ways (each measured on the 100k smoke): sample the RAW table
    # BEFORE the normalization projection (Catalyst does not reorder
    # Sample below Project, so the interpreted per-element expression
    # would otherwise run over the full corpus single-partition, ~28 s);
    # repartition before projecting (spread the expression work); and
    # localCheckpoint before the fit (KMeans makes ~2·maxIter passes —
    # 114 s re-evaluated vs 3 s materialized). Seeded → deterministic.
    n_vecs = t["embeddings"].count()
    train_cap = max(10_000, 50 * IVF_CELLS)
    train_src = t["embeddings"]
    if n_vecs > train_cap:
        train_src = train_src.sample(fraction=min(1.0, train_cap / n_vecs), seed=42)
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # L2-normalize in double for the quantizer only (the exact kernel
    # below stays on the int64-quantized raw vectors). An exactly-zero
    # norm divides by 1 — the pq_encode guard — instead of raising
    # DIVIDE_BY_ZERO under ANSI; every other vector is untouched.
    train = (
        train_src.repartition(width)
        .select(
            "vec_id",
            array_to_vector(
                F.expr(
                    "transform(embedding, x -> CAST(x AS DOUBLE) / "
                    "coalesce(nullif(sqrt(aggregate(transform(embedding, "
                    "y -> CAST(y AS DOUBLE) * y), CAST(0 AS DOUBLE), "
                    "(acc, z) -> acc + z)), 0D), 1D))"
                )
            ).alias("features"),
        )
        .localCheckpoint()
    )
    km = KMeans(k=IVF_CELLS, seed=42, maxIter=20, featuresCol="features").fit(train)
    release(train)  # the fit consumed it; centers live on the driver
    centers_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())
    ]
    centers = spark.createDataFrame(centers_rows, "cell int, center array<double>")
    return centers_rows, _assign_cells(e, centers).localCheckpoint()


def _assign_cells(e, centers) -> DataFrame:
    """Multi-assignment inverted-file rows for the vectors in ``e``
    ((vec_id, v, n2) quantized frame): each base vector lands in its
    IVF_ASSIGN nearest cells (by centroid dot — same ranking heuristic
    as the probe step), replicated via a broadcast-centroid join + per-
    vector row_number — no KMeans.transform single-cell limitation.
    Shared by the index BUILD and the incremental APPEND (faiss add()):
    maintenance assigns against the existing centroids, it never
    retrains."""
    return (
        _cell_ranked(e, centers, "vec_id", "v", "v", "n2")
        .filter(F.col("arank") <= IVF_ASSIGN)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.col("v").alias("vb"),
            F.col("n2").alias("nb"),
        )
    )


def _cell_ranked(frame, centers, key: str, vec: str, *cols: str) -> DataFrame:
    """(key, *cols, cell, cdot, arank) — every row of ``frame`` ranked
    against every centroid by the double dot of its quantized ``vec``
    (broadcast-centroid join + per-key row_number, cdot desc, cell asc).
    The SINGLE cell-ranking expression: _assign_cells takes arank ≤
    IVF_ASSIGN for the inverted file, semantic_dedup takes arank == 1,
    and _probe_cells takes arank ≤ IVF_PROBES for the query probes."""
    cdot = F.expr(cdot_sql(vec, "center"))
    w = W.partitionBy(key).orderBy(F.col("cdot").desc(), F.col("cell").asc())
    return (
        frame.join(F.broadcast(centers))
        .select(key, *cols, "cell", cdot.alias("cdot"))
        .withColumn("arank", F.row_number().over(w))
    )


def _probe_cells(queries: DataFrame, centers: DataFrame, *cols: str) -> dict:
    """cell → [Row(query_id, *cols)]: each query (quantized ``vq``)
    routed to its IVF_PROBES nearest cells — a bounded collect of
    ≤ MAX_QUERIES · IVF_PROBES rows. Probe scores are only a ranking
    heuristic, so the double centroid dot is fine here."""
    by_cell: dict[int, list] = {}
    for r in (
        _cell_ranked(queries, centers, "query_id", "vq", *cols)
        .filter(F.col("arank") <= IVF_PROBES)
        .select("query_id", *cols, "cell")
        .collect()
    ):
        by_cell.setdefault(int(r["cell"]), []).append(r)
    return by_cell


def _probe_scan(queries, centers, inv, kernel, schema: str) -> DataFrame:
    """The IVF probe scan shared by the batch serve path and the ingest
    screen: each query (query_id, vq, nq) probes its cells
    (_probe_cells), each cell's query block is broadcast, and
    ``kernel((qids, Q, qn), (ids, X, n2))`` runs per cell over only the
    probed cells' inverted-file rows (neighbor_id, cell, vb, nb). On a
    persisted index (partition_by=["cell"]) the cell filter is hive
    partition pruning — ≈ assign·probes/cells of the files opened — and
    on the session-checkpointed build it is a cheap row filter."""
    probed = _probe_cells(queries, centers, "vq", "nq")
    bc = queries.sparkSession.sparkContext.broadcast(
        {c: _arrays(rows, "query_id", "vq", "nq") for c, rows in probed.items()}
    )

    def scan(batches):
        cq = bc.value
        for pdf in batches:
            for c, grp in pdf.groupby("cell"):
                if c in cq:
                    yield kernel(cq[c], _vecs(grp, "neighbor_id", "vb", "nb"))

    return (
        inv.where(F.col("cell").isin(sorted(probed)))
        .select("neighbor_id", "cell", "vb", "nb")
        .mapInPandas(scan, schema)
    )


def persist_ivf_index(spark: SparkSession, sf_dir: str, path: str) -> dict:
    """Publish the IVF index as a lakehouse artifact (VERDICT r9 #4).

    At 100 TB the index build is a JOB — O(N·cells·dim) assignment over
    the whole corpus — and serving sessions are many and short-lived, so
    the build result must be data, not session state. Two dataset_export
    tables under ``path``, each with the full manifest contract
    (per-partition row counts, content checksum, versioned commits,
    time travel):

      centroids/  (cell, center)               — cells rows, tiny
      invfile/    (neighbor_id, vb, nb) PARTITIONED BY cell — N·assign rows

    ``partition_by=["cell"]`` is the serving win: q_sim_topk_ivf filters
    the inverted file to its probed cells, so a fresh session reads
    ≈ assign·probes/cells of the FILES (hive partition pruning) instead
    of scanning the full index. The manifest records the geometry and
    the corpus row count; _load_persisted_ivf refuses a mismatch, the
    same pin a production index carries against its corpus snapshot
    version. Returns {"centroids": manifest, "invfile": manifest}."""
    from hive_gateway_spark.sources.dataset_export import write_dataset

    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    centers, inv_file = _ivf_index(spark, t, e)
    geometry = {
        "ivf_cells": IVF_CELLS,
        "ivf_assign": IVF_ASSIGN,
        "n_corpus_vectors": t["embeddings"].count(),
    }
    man_c = write_dataset(centers, f"{path}/centroids", extra=geometry)
    man_i = write_dataset(
        inv_file.select("neighbor_id", "cell", "vb", "nb"),
        f"{path}/invfile",
        partition_by=["cell"],
        extra=geometry,
    )
    return {"centroids": man_c, "invfile": man_i}


def append_ivf_index(spark: SparkSession, new_embeddings: DataFrame, path: str) -> dict:
    """Incremental index maintenance — faiss's add(), lakehouse-style:
    assign NEW vectors to the index's EXISTING centroids (no retrain)
    and commit their inverted-file rows as manifest version N+1 via
    append_dataset (O(batch), versioned, time-travelable — a crashed
    append leaves orphans invisible to every manifest). The geometry
    extras carry forward with the corpus-size pin advanced by the batch
    row count, so a serving session's _load_persisted_ivf accepts the
    grown index against the grown corpus and refuses a partial one.

    At 100 TB this is the difference between a nightly O(N) rebuild and
    an O(new-data) maintenance commit; centroid drift is a monitored
    quantity and the full rebuild (persist_ivf_index) stays the
    scheduled job that resets it. ``new_embeddings`` must carry
    (vec_id, embedding) with vec_ids disjoint from the indexed corpus —
    the same append-only id discipline every vector store demands."""
    from hive_gateway_spark.sources.dataset_export import (
        _current_manifest,
        append_dataset,
        read_snapshot,
    )

    man = _current_manifest(f"{path}/invfile")
    centers = read_snapshot(spark, f"{path}/centroids").select("cell", "center")
    e = new_embeddings.select(
        "vec_id", vec_q("embedding").alias("v")
    ).withColumn("n2", norm2_q("v"))
    rows = _assign_cells(e, centers).select("neighbor_id", "cell", "vb", "nb")
    # Geometry keys carry forward; the corpus-size pin is NOT stored as
    # an extra here — a lost commit race would recompose n_rows on top
    # of the winner but keep a stale pre-read extra, silently desyncing
    # the pin forever. _load_persisted_ivf derives the pin from the
    # manifest's n_rows (which append_dataset composes associatively
    # under races) divided by ivf_assign — one source of truth.
    geometry = {
        "ivf_cells": man["ivf_cells"],
        "ivf_assign": man["ivf_assign"],
        "n_corpus_vectors": int(man["n_corpus_vectors"])
        + new_embeddings.count(),
    }
    return append_dataset(rows, f"{path}/invfile", extra=geometry)


def maybe_rebuild_ivf(spark: SparkSession, sf_dir: str, path: str) -> dict:
    """The scheduled maintenance decision, as code: read the persisted
    index's occupancy (one aggregate over inverted-file rows), compare
    max imbalance to IVF_REBUILD_IMBALANCE, and run the full O(N)
    rebuild (persist_ivf_index — fresh KMeans, manifest version N+1)
    only when the monitor fires. Returns
    {"max_imbalance", "rebuilt", "manifests"?} — the dict a nightly
    maintenance job logs. Idempotent under healthy indexes (no-op but
    the read), exactly the check-then-act loop the drift study pins
    (SCALE.md round 11): drifting same-mixture appends never trigger
    it; a regime-change ingest does, while recall is still intact.

    Caveats the operator must know: the monitor measures cell skew
    from ANY source. Appended drift resets on rebuild; inherently
    lumpy DATA (one tight cluster holding most of the corpus) can
    leave even a fresh quantizer above the bound (measured: 3 tight
    clusters at 50% share rebuild to ~2.0) — if a rebuild does not
    reset the alarm, the fix is geometry (more cells for the grown
    corpus, the cells ≈ √N production rule), not another rebuild.
    And the rebuild re-trains from ``sf_dir``'s embeddings TABLE, so
    vectors that entered only via append_ivf_index (an ingest frame
    not yet merged into the table) would silently vanish from the
    rebuilt index — the corpus-size pin below REFUSES that rebuild
    with ``error: corpus_behind_index`` instead."""
    from hive_gateway_spark.sources.dataset_export import (
        _current_manifest,
        read_snapshot,
    )

    occ = (
        read_snapshot(spark, f"{path}/invfile")
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    ns = [r["n"] for r in occ]
    if not ns:  # failed/partial persist: unhealthy, but never a crash
        return {"max_imbalance": None, "rebuilt": False, "error": "empty_index"}
    imb = max(ns) / (sum(ns) / len(ns))
    out: dict = {"max_imbalance": round(imb, 4), "rebuilt": False}
    if imb > IVF_REBUILD_IMBALANCE:
        man = _current_manifest(f"{path}/invfile")
        # Count and rebuild against FRESH state (code-review r12): on a
        # long-lived session the cached embeddings frame pins the
        # FileIndex captured at first load, so a table that grew since
        # would (a) be under-counted here — a spurious refusal — and
        # (b) worse, a rebuild through the session's _IVF_CACHE would
        # republish the OLD inverted file as version N+1, silently
        # dropping the appended vectors. Drop both caches — SCOPED to
        # this corpus (ADVICE r12 #2): the IVF cache is keyed on the
        # embeddings frame's semanticHash, so compute the stale frame's
        # key BEFORE invalidating the table cache and pop only that
        # entry; unrelated index paths / sf_dirs keep their checkpoints
        # and any caller's lazy plans over them stay recomputable.
        from hive_gateway_spark import session as _session

        _IVF_CACHE.pop(spark, None, plan=load_tables(spark, sf_dir)["embeddings"])
        _session.invalidate(spark, sf_dir)
        n_table = load_tables(spark, sf_dir)["embeddings"].count()
        n_index = man["n_rows"] // man["ivf_assign"]
        out["corpus_rows"] = n_table
        out["index_rows"] = n_index
        # Direction matters (ADVICE r11 #2): refuse ONLY when the
        # index holds vectors the table lacks (n_table < n_index —
        # append-only ingest not yet merged; a retrain from the table
        # would silently drop them). A table AT or AHEAD of the index
        # is the normal grown-corpus case — the full retrain reads
        # every vector and loses nothing, so it proceeds.
        if n_table < n_index:
            out["error"] = "corpus_behind_index"
            return out
        out["manifests"] = persist_ivf_index(spark, sf_dir, path)
        out["rebuilt"] = True
    return out


def _load_persisted_ivf(spark: SparkSession, path: str, emb: DataFrame):
    """Load a persist_ivf_index artifact, or None if absent/mismatched.

    Sanity pins before trusting the index: the manifest's geometry must
    match the module constants and its recorded corpus size must match
    the embeddings table (count() is parquet metadata — no scan). A
    stale index (corpus grew, geometry changed) falls through to a
    fresh build rather than silently serving wrong cells; production
    would pin the index to a corpus snapshot version the same way.
    Returns (centers_rows, inv_file) shaped exactly like the build
    path's cache entry — inv_file deliberately NOT checkpointed (see
    _ivf_index docstring)."""
    from hive_gateway_spark.sources.dataset_export import (
        _current_manifest,
        read_snapshot,
    )

    try:
        man = _current_manifest(f"{path}/invfile")
    except Exception:
        return None
    # Corpus-size pin derived from n_rows (every vector contributes
    # exactly ivf_assign inverted-file rows), NOT from the stored
    # n_corpus_vectors extra: n_rows composes associatively through
    # append_dataset's commit-retry loop, so the pin survives lost
    # append races where a pre-read extra would go stale.
    if (
        man.get("ivf_cells") != IVF_CELLS
        or man.get("ivf_assign") != IVF_ASSIGN
        or man.get("n_rows", -1) != emb.count() * IVF_ASSIGN
    ):
        return None
    centers_rows = [
        (int(r["cell"]), [float(x) for x in r["center"]])
        for r in read_snapshot(spark, f"{path}/centroids").collect()
    ]
    centers_rows.sort()
    inv_file = read_snapshot(spark, f"{path}/invfile").select(
        "neighbor_id", "cell", "vb", "nb"
    )
    return centers_rows, inv_file


@query("q_sim_topk_ivf")  # rows-only: IVF is approximate — no SQL oracle
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed top-k — the 100 TB scale path for q_sim_topk.

    Coarse quantizer: **learned** with MLlib KMeans (fixed seed) over
    L2-normalized vectors (unit sphere ⇒ L2 cells ≈ cosine cells; the
    fixture's `label` column is NOT a usable quantizer). Each base
    vector lands in its IVF_ASSIGN nearest cells (**multi-assignment**
    — replication lifts recall 0.57 → 0.84 at sf0.1 on this weakly-
    clustered corpus at identical probe geometry); each query probes
    its IVF_PROBES nearest centroids and runs the exact int64 kernel
    only inside those cells — scanned fraction ≈ assign·probes/cells
    at production geometry (cells ≈ √N). Centroids and the probed
    query set broadcast; the inverted file is the only large table.
    The index (centroids + inverted file) is session-cached per corpus
    via _ivf_index — built once, served to every later call, as a
    production ANN index is.

    Rows-only check: result size is deterministic (k per query);
    recall vs the exact baseline is pinned in tests/test_similarity.py."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    centers, inv_file = _ivf_index(spark, t, e)
    # IVF's job is pruning which rows the exact kernel sees, not
    # re-deriving the arithmetic
    cand = _probe_scan(
        e.filter(_is_query()).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("vq"),
            F.col("n2").alias("nq"),
        ),
        centers,
        inv_file,
        lambda q, rows: _cos_topk(*q, *rows, TOP_K),
        _CAND,
    )
    # multi-assignment: the same (query, neighbor) can meet in up to
    # min(assign, probes) cells with identical sim
    return _topk_rows(cand.dropDuplicates(["query_id", "neighbor_id"]))


@query(
    "q_embed_agg",
    oracle=f"""
    WITH {DUCK_FLAT_CTE}
    SELECT label, pos,
           COUNT(*) AS n,
           ROUND(CAST(SUM(val) AS DOUBLE) / COUNT(*) / {SCALE}.0, 6) AS centroid
    FROM v
    GROUP BY label, pos
    """,
)
def q_embed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise centroid per label — the "multimodal column" aggregate
    (SURVEY §2.3): posexplode → exact integer mean per (label, pos)."""
    t = load_tables(spark, sf_dir)
    flat = _quantized(t).select("label", F.posexplode("v").alias("pos0", "val"))
    return (
        flat.select("label", (F.col("pos0") + 1).alias("pos"), "val")
        .groupBy("label", "pos")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("val").cast("double") / F.count("*") / SCALE, 6).alias("centroid"),
        )
    )


#: Random-hyperplane LSH geometry (the OTHER scale path next to IVF):
#: L tables × B sign-bits. Rademacher (±1) hyperplanes drawn from a
#: fixed LCG seed — the projection dot(v, r) stays exact int64 on the
#: quantized vectors (|dot| ≤ 64·3·10⁷ ≪ 2⁶³), so bucket ids are
#: deterministic and engine-independent. B controls bucket occupancy
#: (≈ N/2^B per table), L the number of independent chances a true
#: neighbor has to collide.
LSH_TABLES = 16
LSH_BITS = 6


def _lsh_planes(dim: int = 64):
    """(table, bit) → ±1 sign vector of length dim, seeded LCG."""
    s = 0x2545F4914F6CDD1D
    out = []
    for p in range(LSH_TABLES * LSH_BITS):
        signs = []
        for d in range(dim):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            signs.append(1 if (s >> 32) & 1 else -1)
        out.append((p // LSH_BITS, p % LSH_BITS, signs))
    return out


def _lsh_signs():
    """The plane sign matrix (LSH_TABLES·LSH_BITS, dim) in (tbl, bit)
    row order."""
    return np.asarray([signs for _tbl, _bit, signs in _lsh_planes()], dtype=np.int64)


def _lsh_pack(X, S):
    """(n, LSH_TABLES) bucket ids of quantized vectors X: the sign bits
    of the exact int64 projections X @ S.T (≥ 0 → 1), bit j of a table
    weighing 2^j — bit-identical to the oracle's proj/buckets CTEs."""
    bits = (X @ S.T) >= 0
    weights = 1 << np.arange(LSH_BITS, dtype=np.int64)
    return (bits.reshape(len(X), LSH_TABLES, LSH_BITS) * weights).sum(axis=2)


#: DuckDB VALUES literal of the LSH sign matrix — generated at import
#: from the SAME seeded LCG as the kernel path, (plane, 1-based pos,
#: ±1); embedding the generated model in the oracle is the house
#: pattern from _MH_COEF / _LSH_SIG_CTE.
def _planes_values() -> str:
    rows = []
    for tbl, bit, signs in _lsh_planes():
        plane = tbl * LSH_BITS + bit
        rows.extend(
            f"({plane},{pos + 1},{sgn})" for pos, sgn in enumerate(signs)
        )
    return ", ".join(rows)


def _lsh_buckets_cte() -> str:
    """The LSH candidate chain (planes → proj → buckets → qb →
    ``lshcand(query_id, neighbor_id, n_shared_tables)``) as a
    composable fragment — interpolated by BOTH the q_ann_buckets and
    q_ann_recall oracles so the candidate definition cannot drift
    between the machinery pin and the recall eval."""
    return f"""planes(plane, pos, sgn) AS (VALUES {_planes_values()}),
    proj AS (
        SELECT v.vec_id, p.plane, SUM(v.val * p.sgn) AS dot
        FROM v JOIN planes p USING (pos)
        GROUP BY v.vec_id, p.plane
    ),
    buckets AS (
        SELECT vec_id, plane // {LSH_BITS} AS tbl,
               SUM(CASE WHEN dot >= 0
                        THEN (CAST(1 AS BIGINT) << (plane % {LSH_BITS}))
                        ELSE 0 END) AS bucket
        FROM proj GROUP BY vec_id, plane // {LSH_BITS}
    ),
    qb AS (
        SELECT * FROM buckets
        WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}
    ),
    lshcand AS (
        SELECT qb.vec_id AS query_id, b.vec_id AS neighbor_id,
               COUNT(*) AS n_shared_tables
        FROM qb JOIN buckets b
          ON qb.tbl = b.tbl AND qb.bucket = b.bucket AND qb.vec_id <> b.vec_id
        GROUP BY 1, 2
    )"""




def _lsh_topk_oracle() -> str:
    """Exact DuckDB twin of the LSH top-k (r14, ex rows-only): the
    candidate set is the SHARED _lsh_buckets_cte chain (verbatim — the
    same fragment q_ann_buckets/q_ann_recall hash against), and the
    scoring is the exact-int64-dot / float64-sqrt-division shape
    q_sim_topk is hash-verified with — candidate dots stay < 2⁵³ so
    the doubles are bit-identical in both engines; ranking runs on the
    full-precision sim (ties to neighbor_id asc) and rounds only in
    the projection, exactly like the kernel."""
    return f"""
    WITH {DUCK_FLAT_CTE},
    {_lsh_buckets_cte()},
    dots AS (
        SELECT c.query_id, c.neighbor_id, SUM(va.val * vb.val) AS dot
        FROM lshcand c
        JOIN v va ON va.vec_id = c.query_id
        JOIN v vb ON vb.vec_id = c.neighbor_id AND vb.pos = va.pos
        GROUP BY c.query_id, c.neighbor_id
    ),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               {cos_div_sql('CAST(d.dot AS DOUBLE)', 'na.norm2 * nb.norm2')} AS sim
        FROM dots d
        JOIN norms na ON na.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank_k,
           ROUND(sim, 4) AS cos_sim
    FROM (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC
               ) AS rk
        FROM scored
    ) WHERE rk <= {TOP_K}
    """


@query("q_sim_topk_lsh", oracle=_lsh_topk_oracle())
def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane-LSH top-k — the bucketed ANN alternative to
    q_sim_topk_ivf (the mandate names both: "IVF or LSH-bucketed").

    Each vector hashes to one B-bit sign bucket per table (sign of the
    exact int64 Rademacher projection); a query only scores candidates
    sharing a (table, bucket) cell — expected scanned fraction
    ≈ L·N/2^B / N = L/2^B per table geometry.

    Scale shape: ONE fused mapInPandas pass over the corpus — each
    Arrow batch is sign-packed (_lsh_pack, one int64 GEMM) and run
    through _cos_topk per (table, bucket) group against the broadcast
    query index. The only shuffles are the tiny candidate dedup + rank
    merge. No KMeans fit — bucketing is stateless, so this variant
    also works streaming (hash on ingest).

    Exact-oracled since r14 (ex rows-only): the candidate set is the
    shared _lsh_buckets_cte chain, so the full ANN result — not just
    the recall property — is driver-hash-verified."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    S = _lsh_signs()
    # Query side: the bounded block, bucketed driver-side with the same
    # pack, indexed by (table, bucket).
    qids, Q, qn = _query_block(e, "vec_id", "v", "n2")
    qb = _lsh_pack(Q, S) if len(qids) else np.empty((0, LSH_TABLES), np.int64)
    cell_q = {}
    for tbl in range(LSH_TABLES):
        for b in np.unique(qb[:, tbl]):
            ix = np.flatnonzero(qb[:, tbl] == b)
            cell_q[(tbl, int(b))] = (qids[ix], Q[ix], qn[ix])
    bc = spark.sparkContext.broadcast((S, cell_q))

    # One fused kernel pass over the corpus: bucket each Arrow batch,
    # then run the exact kernel per (table, bucket) group present in the
    # query index against just that bucket's probing queries. No
    # exploded 16×N bucket stream, no join.
    def score_kernel(batches):
        S_, cq = bc.value
        for pdf in batches:
            if len(pdf) == 0 or not cq:
                continue
            ids, X, n2 = _vecs(pdf)
            buckets = _lsh_pack(X, S_)
            out = []
            for tbl in range(LSH_TABLES):
                order = np.argsort(buckets[:, tbl], kind="stable")
                bs = buckets[order, tbl]
                for rows in np.split(order, np.flatnonzero(bs[1:] != bs[:-1]) + 1):
                    blk = cq.get((tbl, int(buckets[rows[0], tbl])))
                    if blk is not None:
                        out.append(_cos_topk(*blk, ids[rows], X[rows], n2[rows], TOP_K))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = e.select("vec_id", "v", "n2").mapInPandas(score_kernel, _CAND)
    # the same pair meets in up to LSH_TABLES tables with identical sim
    return _topk_rows(cand.dropDuplicates(["query_id", "neighbor_id"]))


@query(
    "q_ann_buckets",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    {_lsh_buckets_cte()}
    SELECT query_id, neighbor_id, n_shared_tables FROM lshcand
    """,
)
def q_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified ANN bucketing — q_sim_topk_lsh's candidate step
    made SQL-checkable, the move that gave the MinHash family its
    driver-green sibling (q_lsh_candidates, VERDICT r6 task #4): each
    vector's 16 hyperplane sign-buckets (6-bit Rademacher projections
    of the exact int64-quantized embedding — the seeded-LCG sign
    matrix is embedded VERBATIM in the DuckDB oracle as an 8192-row
    VALUES table) joined query-block × corpus on (table, bucket),
    emitting every candidate with its shared-table count. The ANN
    top-k itself stays rows-only (float ranking); THIS query pins the
    whole candidate-generation machinery to an exact oracle.

    Scale shape (100 TB): bucketing is one stateless Arrow pass (the
    same numpy sign-pack GEMM the kernel uses — bit-identical: exact
    integer dots, threshold at 0); candidates come from an equi-join
    on (table, bucket), never all-pairs; the query block is the
    bounded ≤ {MAX_QUERIES} contract."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t)
    S = _lsh_signs()

    def bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, LSH_TABLES),
                    "tbl": np.tile(np.arange(LSH_TABLES, dtype=np.int64), len(ids)),
                    "bucket": _lsh_pack(
                        np.asarray(pdf["v"].tolist(), dtype=np.int64), S
                    ).reshape(-1),
                }
            )

    # localCheckpoint: the frame is BOTH sides of the self-join below,
    # and without materialization Catalyst re-runs the Arrow sign-pack
    # GEMM over the whole corpus once per side (review r8 finding)
    buckets = stage(
        e.select("vec_id", "v").mapInPandas(
            bucketize, "vec_id bigint, tbl bigint, bucket bigint"
        ),
        "ann.buckets",
    )
    q = buckets.filter(_is_query()).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    return (
        q.join(buckets, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.count("*").alias("n_shared_tables"))
    )


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    m AS (
        SELECT vec_id, label, MAX(ABS(val)) AS m
        FROM v GROUP BY vec_id, label
    ),
    q AS (
        SELECT v.vec_id, v.label, m.m,
               CASE WHEN v.val >= 0 THEN (v.val * 127) // m.m
                    ELSE -((-v.val * 127) // m.m) END AS qv,
               (ABS(v.val) * 127) % m.m AS resid
        FROM v JOIN m ON m.vec_id = v.vec_id
        WHERE m.m > 0
    ),
    per_vec AS (
        SELECT vec_id, label,
               SUM(qv) AS sum_q, SUM(ABS(qv)) AS abs_q, SUM(resid) AS resid,
               MAX(m) AS m
        FROM q GROUP BY vec_id, label
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(sum_q) AS BIGINT) AS total_q,
           CAST(SUM(abs_q) AS BIGINT) AS total_abs_q,
           CAST(SUM(resid) AS BIGINT) AS total_residual,
           CAST(MAX(m) AS BIGINT) AS max_scale
    FROM per_vec
    GROUP BY label
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization report — the 4× memory lever that
    makes a 100 TB ANN index fit: store/ship int8 codes + one scale per
    vector, rescore the few candidates in full precision. Each vector's
    code is q_i = sign(v_i)·⌊|v_i|·127 / m⌋ with m = max|v_i| over the
    already-exact int64 staging, so the codes, their sums, AND the
    reconstruction residual (Σ (|v_i|·127) mod m — the truncation error
    in 1/127-of-scale units) are pure integer arithmetic: exactly
    hash-verifiable, no float rounding anywhere. The sign-split
    division keeps Spark's truncating `div` and DuckDB's flooring `//`
    on positive operands only, where they agree.

    Scale shape: one narrow projection over the embeddings staging
    (higher-order transform/aggregate, whole-stage codegen, no UDF) →
    per-label partial agg. Zero-vectors are excluded (m = 0 has no
    code), mirrored in the oracle."""
    t = load_tables(spark, sf_dir)
    vq = _quantized(t)
    m = F.expr("array_max(transform(v, x -> abs(x)))")
    q = F.expr(
        "transform(v, x -> CASE WHEN x >= 0 THEN (x * 127) div m"
        " ELSE -((-x * 127) div m) END)"
    )
    resid = F.expr(
        "aggregate(transform(v, x -> (abs(x) * 127) % m),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    per_vec = (
        vq.withColumn("m", m)
        .filter(F.col("m") > 0)
        .withColumn("q", q)
        .select(
            "label",
            "m",
            F.expr(
                "aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("sum_q"),
            F.expr(
                "aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + abs(x))"
            ).alias("abs_q"),
            resid.alias("resid"),
        )
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("sum_q").cast("bigint").alias("total_q"),
        F.sum("abs_q").cast("bigint").alias("total_abs_q"),
        F.sum("resid").cast("bigint").alias("total_residual"),
        F.max("m").cast("bigint").alias("max_scale"),
    )


@query(
    "q_dedup_cross_lingual",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(SUM(a.val * b.val) AS DOUBLE) AS dot
        FROM v a
        JOIN v b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    ),
    pairs AS (
        SELECT d.vec_a, d.vec_b,
               ROUND({cos_div_sql('d.dot', 'na.norm2 * nb.norm2')}, 4) AS cos_sim
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_a
        JOIN norms nb ON nb.vec_id = d.vec_b
        WHERE d.dot > 0
          AND d.dot * d.dot >= {PAIR_TAU * PAIR_TAU} * na.norm2 * nb.norm2
    )
    SELECT p.vec_a AS doc_a, p.vec_b AS doc_b,
           da.lang AS lang_a, db.lang AS lang_b, p.cos_sim
    FROM pairs p
    JOIN documents da ON da.doc_id = p.vec_a
    JOIN documents db ON db.doc_id = p.vec_b
    WHERE da.lang <> db.lang
    """,
)
def q_dedup_cross_lingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual near-dup detection — the translated-content case
    text dedup is blind to (a FR translation shares no shingles with
    its EN source, but their EMBEDDINGS are close): the exact
    cosine-pair set (q_sim_cosine_pairs' verified int64 GEMM, vec_id ↔
    doc_id) restricted to pairs whose documents declare DIFFERENT
    languages. The per-language curation pipelines would each keep
    their copy; this operator is the cross-pipeline reconciliation
    pass that catches it.

    Scale shape: the pair set is the already-bounded GEMM output
    (label-blocked, tiled), and it is the side that BROADCASTS — the
    (doc_id, lang) projection is corpus-sized (billions of rows at
    100 TB), so the original direction (broadcasting the lang dim onto
    the pairs) was a scale-killer caught in the r8 broadcast
    self-audit; each lang lookup now streams the narrow corpus
    projection past the broadcast pair set."""
    t = load_tables(spark, sf_dir)
    pairs = q_sim_cosine_pairs(spark, sf_dir)
    langs = t["documents"].select("doc_id", "lang")
    la = langs.select(F.col("doc_id").alias("vec_a"), F.col("lang").alias("lang_a"))
    lb = langs.select(F.col("doc_id").alias("vec_b"), F.col("lang").alias("lang_b"))
    j1 = la.join(F.broadcast(pairs), "vec_a")
    return (
        lb.join(F.broadcast(j1), "vec_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select(
            F.col("vec_a").alias("doc_a"),
            F.col("vec_b").alias("doc_b"),
            "lang_a",
            "lang_b",
            "cos_sim",
        )
    )


@query("q_ann_index_stats")  # rows-only: the index is a KMeans artifact
def q_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-health monitor — the drift quantity the maintenance
    story names (append_ivf_index grows cells WITHOUT retraining, so
    occupancy skew is what tells the operator when the scheduled
    rebuild is due): per-cell inverted-file occupancy, its share of
    the index, and the imbalance factor n_cell/mean. A healthy coarse
    quantizer sits near imbalance 1; a hot cell near cells/1 means
    probes scan a corpus-sized cell — IVF degraded to brute force.

    Rows-only by design (KMeans is not SQL-expressible); the counting
    identities (sum == assign·N, cells bounded, shares sum to 1) are
    property-pinned in tests/test_similarity.py. Scale shape: ONE
    map-side-combined aggregate over the (already-built or loaded)
    inverted file + a 1-row total broadcast — the index is read, never
    rebuilt, so the monitor costs one pass over index rows."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    _, inv_file = _ivf_index(spark, t, e)
    occ = inv_file.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    tot = occ.agg(
        F.sum("n_vectors").alias("tot"),
        F.count("*").cast("double").alias("ncells"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        F.col("cell").cast("bigint").alias("cell"),
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.round(F.col("n_vectors") / F.col("tot"), 4).alias("occupancy_share"),
        F.round(
            F.col("n_vectors").cast("double") / (F.col("tot") / F.col("ncells")),
            4,
        ).alias("imbalance"),
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication"): k-means the embedding
# space, find near-dup pairs WITHIN each cluster, and keep exactly one
# member per duplicate set — the published recipe's pruning policy
# keeps the member FARTHEST from the cluster centroid (low centroid
# cosine = the cluster's diverse edge, not its redundant core).
# ---------------------------------------------------------------------------

#: Within-cluster near-dup threshold. The paper prunes images at
#: ~0.95; the synthetic fixture's embeddings carry no true near-dups
#: (max within-label cosine ≈ 0.47), so the registered fixture query
#: runs at 0.35 to exercise real duplicate sets — production raises it
#: through the parameter.
SEMDEDUP_TAU = 0.35


def semantic_dedup(
    spark: SparkSession, sf_dir: str, tau: float = SEMDEDUP_TAU
) -> DataFrame:
    """One keep/drop decision per vector: (vec_id, cell, group_id,
    n_dupes, is_kept).

    Pipeline (every stage a proven kernel): the session/lakehouse IVF
    coarse quantizer supplies the k-means cells (_ivf_index — train
    once, serve from the persisted artifact); each vector takes its
    PRIMARY cell (rank-1 centroid dot); within-cell thresholded pairs
    come from the tiled int64-GEMM kernel (gemm_pair_block — pairs
    materialize only inside the executor); duplicate sets are
    connected components over those pairs (dedup.connected_components
    — driver union-find under 1M edges, pointer-jumping BSP above);
    the survivor is the set's min-centroid-cosine member (tie: lowest
    vec_id), per the paper's keep-the-edge policy.

    Rows-only by design: the cell assignment is KMeans (engine-
    private seeds — the same declared boundary as q_sim_topk_ivf);
    correctness is pinned by planted duplicate-set tests and the
    within-cell recall property (tests/test_similarity.py).

    Scale shape: centroids broadcast (cells ≪ corpus); ONE cell-keyed
    shuffle feeds the GEMM kernel (cells bound the quadratic term —
    the paper's point); the pair graph is dup-sets-sized, not
    corpus-sized; the final keep window partitions on group_id whose
    partitions are duplicate-set-sized. Cross-cell near-dups are
    missed by construction — the recipe's documented recall trade
    (same as the paper's within-cluster scoping)."""
    from hive_gateway_spark.operators.dedup import connected_components

    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    centers, _ = _ivf_index(spark, t, e)
    assigned = stage(
        _cell_ranked(e, centers, "vec_id", "v", "v", "n2")
        .filter(F.col("arank") == 1)
        # centroid cosine UP TO the per-cell constant |center|: the
        # keep rule only ORDERS within one cell's duplicate sets, so
        # dividing by the constant centroid norm cannot change it.
        .select(
            "vec_id",
            "v",
            "cell",
            cos_div(F.col("cdot"), F.col("n2")).alias("csim"),
        ),
        "semdedup.assigned",
    )
    block, schema = gemm_pair_block(tau, with_sim=False)
    pairs = (
        assigned.select("cell", "vec_id", "v")
        .groupBy("cell")
        .applyInPandas(block, schema)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("m_vec"), F.col("cluster_id").alias("group_id")
    )
    dec = assigned.join(
        comp, F.col("m_vec") == F.col("vec_id"), "left"
    ).select(
        "vec_id",
        "cell",
        "csim",
        F.coalesce(F.col("group_id"), F.col("vec_id")).alias("group_id"),
    )
    wk = W.partitionBy("group_id").orderBy(
        F.col("csim").asc(), F.col("vec_id").asc()
    )
    wn = W.partitionBy("group_id")
    return (
        dec.withColumn("rk", F.row_number().over(wk))
        .select(
            "vec_id",
            "cell",
            "group_id",
            F.count(F.lit(1)).over(wn).alias("n_dupes"),
            (F.col("rk") == 1).alias("is_kept"),
        )
    )


@query("q_semantic_dedup")  # rows-only: KMeans cells (engine-private seeds)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered fixture harness for :func:`semantic_dedup` at the
    fixture threshold — emits every vector's keep/drop decision, so
    the driver row is never vacuous."""
    return semantic_dedup(spark, sf_dir)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split each vector into PQ_M subvectors,
# k-means each subspace to PQ_K centroids, store each vector as PQ_M
# byte codes (dim·4 bytes → PQ_M bytes/vector — 32× compression at
# the fixture geometry), and answer queries with ADC (asymmetric
# distance computation): one m×k lookup table per query, approximate
# distance = sum of table entries — no decompression, no full-dim
# arithmetic against the corpus.
# ---------------------------------------------------------------------------

PQ_M = 8    # subvectors
PQ_K = 256  # centroids per subspace → 8-bit codes (the faiss default)

#: embeddings plan → (m, k, dsub) codebook ndarray
_PQ_CACHE = SessionCache("similarity.pq_codebooks")


def _pq_codebooks(spark: SparkSession, t):
    """Train the PQ codebooks on a bounded, materialized sample of the
    L2-NORMALIZED corpus (unit sphere ⇒ ADC L2 ranking ≡ cosine
    ranking, so recall is measured against the exact cosine top-k):
    per subspace, a seeded driver-side Lloyd loop over ≤10k sample
    points — the same train-on-a-sample discipline as the IVF coarse
    quantizer (faiss trains PQ identically), and at 16 centroids ×
    8 dims the fit is milliseconds of numpy, not a cluster job.
    Deterministic: fixed seed, fixed iteration count, ties by lowest
    centroid index (argmin)."""
    emb = t["embeddings"]
    return _PQ_CACHE.get_or_build(spark, None, lambda: _pq_train(emb), plan=emb)


def _pq_train(emb: DataFrame):
    n_vecs = emb.count()
    cap = 10_000
    src = emb
    if n_vecs > cap:
        src = src.sample(fraction=min(1.0, cap / n_vecs), seed=42)
    X = np.asarray(
        [r["embedding"] for r in src.select("embedding").collect()],
        dtype=np.float64,
    )
    # zero-norm guard: an all-zero vector would turn into a NaN row and
    # poison centroids/codes silently — train without it (encode maps
    # it to deterministic codes via the same guard).
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X[norms[:, 0] > 0] / norms[norms[:, 0] > 0]
    dim = X.shape[1]
    if dim % PQ_M:
        raise ValueError(f"dim {dim} not divisible by PQ_M {PQ_M}")
    dsub = dim // PQ_M
    rng = np.random.default_rng(42)
    k_eff = min(PQ_K, len(X))  # small corpus: fewer centroids, same math
    books = np.empty((PQ_M, k_eff, dsub))
    for m in range(PQ_M):
        S = X[:, m * dsub : (m + 1) * dsub]
        C = S[rng.choice(len(S), k_eff, replace=False)]
        for _ in range(20):  # Lloyd; assignment via -2s·c + |c|² (BLAS)
            d = -2.0 * S @ C.T + (C**2).sum(1)[None, :]
            a = d.argmin(1)
            for c in range(k_eff):
                members = S[a == c]
                if len(members):
                    C[c] = members.mean(0)
        books[m] = C
    return books


#: embeddings plan → checkpointed codes frame. EXPLICIT input-keyed
#: cache, NOT a stage() slot: a mapInPandas plan embeds a fresh
#: broadcast/closure per call, so its semanticHash differs every time
#: and a plan-hash slot ALWAYS misses — measured at the 1M smoke as a
#: full 27 s re-encode inside every "warm" ADC query (r13; the same
#: reason _ivf_index and _pq_codebooks key on the INPUT).
_PQ_CODES_CACHE = SessionCache("similarity.pq_codes")


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes array<int>) — each vector's PQ_M codes against
    the session codebooks. Arrow-batched mapInPandas: normalize,
    reshape to (n, m, dsub), one argmin per subspace per batch.
    Encoded ONCE per (session, corpus): the checkpointed codes table
    is the compressed-corpus artifact (PQ_M bytes per vector), served
    to every ADC consumer from the input-keyed session cache."""
    t = load_tables(spark, sf_dir)
    return _PQ_CODES_CACHE.get_or_build(
        spark, None, lambda: _pq_encode_build(spark, t), plan=t["embeddings"]
    )


def _pq_encode_build(spark: SparkSession, t) -> DataFrame:
    emb = t["embeddings"]
    books = _pq_codebooks(spark, t)
    bc = spark.sparkContext.broadcast(books)
    dsub = books.shape[2]

    def encode(batches):
        B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0  # zero vectors: deterministic codes, no NaN
            X /= nrm
            S = X.reshape(len(X), PQ_M, dsub)
            # (n, m, k) distances via ||s||² - 2 s·c + ||c||²
            codes = np.empty((len(X), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                d = (
                    -2.0 * S[:, m, :] @ B[m].T
                    + (B[m] ** 2).sum(1)[None, :]
                )
                codes[:, m] = d.argmin(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "codes": list(codes),
                }
            )

    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(encode, "vec_id bigint, codes array<int>")
        .localCheckpoint()
    )


def _pq_adc_scored(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """ADC candidate stream shared by q_sim_topk_pq (k = TOP_K) and
    the rerank path (k = PQ_RERANK_R): per Arrow batch of codes, each
    query keeps its local top-k by ADC score; the caller applies the
    tiny global window merge."""
    t = load_tables(spark, sf_dir)
    books = _pq_codebooks(spark, t)
    qids, Q = _query_block(t["embeddings"], "vec_id", "embedding")
    bc = spark.sparkContext.broadcast((qids, _adc_tables(Q, books)))

    def score(batches):
        qids, tables = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
            yield _adc_local_topk(qids, ids, _adc_accumulate(tables, codes), k)

    return pq_encode(spark, sf_dir).mapInPandas(
        score, "query_id bigint, neighbor_id bigint, adc_sim double"
    )


def _adc_tables(Q, books):
    """Per-query ADC lookup tables (q, m, k) from raw float query
    embeddings: L2-normalize (zero-norm guard, as in pq_encode — a
    zero embedding scores 0 everywhere, not NaN), then dot each
    subvector with every centroid of its subspace; approximate cosine
    = sum_m table[m, code_m]. float32: table entries are O(1) and ADC
    sums 8 of them — a ranking heuristic, not the served similarity —
    and halving the gather traffic matters (see _adc_accumulate)."""
    nrm = np.linalg.norm(Q, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    Q = Q / nrm
    return np.einsum(
        "qmd,mkd->qmk", Q.reshape(len(Q), PQ_M, books.shape[2]), books
    ).astype(np.float32)


def _adc_accumulate(tables, codes):
    """sim (nq, rows) = Σ_m tables[:, m, codes[:, m]] in the tables'
    dtype (float32 for learned codebooks, exact int64 for the seeded
    oracle codebook) — the ADC inner loop, swept in ROW CHUNKS so each
    per-m gather output is a few MB (cache-resident) instead of an
    (nq × rows) matrix re-traversed PQ_M times from DRAM (the r13 1M
    profile charged ~10 GB of memory traffic per batch to the
    unchunked form)."""
    nq, rows = tables.shape[0], codes.shape[0]
    sim = np.empty((nq, rows), dtype=tables.dtype)
    step = max(1, (4 << 20) // max(nq * tables.itemsize, 1))  # ~4 MB slabs
    for lo in range(0, rows, step):
        hi = min(lo + step, rows)
        acc = tables[:, 0, :][:, codes[lo:hi, 0]]
        for m in range(1, PQ_M):
            acc += tables[:, m, :][:, codes[lo:hi, m]]
        sim[:, lo:hi] = acc
    return sim


def _adc_local_topk(qids, ids, sim, k):
    """Per-batch local top-k over the ADC scores, self-pairs out,
    vectorized: ONE argpartition across all queries selects the
    candidate columns, then a tiny in-candidate lexsort (sim desc, id
    asc) orders them. Boundary ties (exactly equal ADC sums at the
    k-th place) may admit either member — acceptable for a shortlist
    the exact kernel re-ranks (and the plain ADC query's row count
    stays k per query regardless)."""
    sim[qids[:, None] == ids[None, :]] = -np.inf
    nq, rows = sim.shape
    take = min(k, rows)
    if take < rows:
        part = np.argpartition(-sim, take - 1, axis=1)[:, :take]
    else:
        part = np.broadcast_to(np.arange(rows), (nq, rows)).copy()
    psim = np.take_along_axis(sim, part, axis=1)
    pids = ids[part]
    # order each query's candidates: sim desc, neighbor_id asc
    order = np.lexsort((pids, -psim), axis=1)
    psim = np.take_along_axis(psim, order, axis=1)
    pids = np.take_along_axis(pids, order, axis=1)
    keep = psim > -np.inf
    qcol = np.repeat(qids, take).reshape(nq, take)
    return pd.DataFrame(
        {
            "query_id": qcol[keep],
            "neighbor_id": pids[keep],
            "adc_sim": psim[keep].astype(np.float64),
        }
    )


@query("q_sim_topk_pq")  # rows-only: learned codebooks (seeded Lloyd)
def q_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the PQ-compressed corpus — the memory-bound scale
    path: at 100 TB of float32 embeddings the PQ codes are ~3 TB, so
    the whole corpus scans from page cache while full-precision
    vectors would be I/O-bound; faiss's IVFPQ composes this with the
    IVF cells (q_sim_topk_ivf) for the standard billion-vector stack.

    Per query: one (PQ_M × PQ_K) table of subspace dot products
    against the query, then each code row scores as PQ_M table
    lookups summed — no full-dim arithmetic against the corpus.

    Rows-only by declared design (learned codebooks); recall vs the
    exact cosine top-k is pinned in tests/test_similarity.py, with
    the fine-ranking caveat q_sim_topk_pq_rerank exists to close.
    Regime guidance (SCALE.md "PQ regime boundary", measured): PQ is
    the MEMORY lever — on tight-cluster corpora where true neighbors
    differ by sub-cell angles, compressed-domain ranking cannot order
    them at any practical m; route with IVF cells + the exact int64
    kernel by default and compose PQ inside cells only when RAM
    forces it."""
    return _rank_merge(_pq_adc_scored(spark, sf_dir, TOP_K), "adc_sim", TOP_K).select(
        "query_id", "neighbor_id", F.round("adc_sim", 6).alias("adc_sim")
    )


#: Shortlist depth for the rerank path: ADC keeps its top-R, exact
#: scoring re-ranks them — faiss's k_factor idiom (R/k = 10 here).
PQ_RERANK_R = 50


@query("q_sim_topk_pq_rerank")  # rows-only: learned codebooks
def q_sim_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ shortlist + exact re-rank — the production ANN serving
    pattern (faiss's k_factor refinement): ADC's compressed-domain
    scan keeps a top-{PQ_RERANK_R} shortlist per query, then ONLY
    those rows are re-scored with the exact int64 cosine kernel and
    the true top-k emerges. Closes PQ's documented fine-ranking gap
    (quantization noise drowning within-cluster sim differences)
    while still never running full-dim arithmetic against the corpus
    — the exact pass touches Q·R rows, not N.

    Where the shortlist contains the true neighbors, the re-ranked
    rows (_rerank) match the exact kernel bit for bit. Recall vs
    q_sim_topk pinned in tests/test_similarity.py at ≥ the plain-ADC
    floor."""
    t = load_tables(spark, sf_dir)
    shortlist = _pq_adc_scored(spark, sf_dir, PQ_RERANK_R)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    return _rerank(e, shortlist, PQ_RERANK_R)


def _rerank(e: DataFrame, cand: DataFrame, r: int) -> DataFrame:
    """The exact re-rank tail of the ADC shortlist paths: cut each
    query's ADC candidates to its top-``r`` (adc_sim), re-score only
    those rows with the exact int64 cosine (dot_q, cos_div — the
    q_sim_topk arithmetic) and keep the top-TOP_K as (query_id,
    neighbor_id, sim). The probe (shortlist ⋈ query vectors,
    ≤ MAX_QUERIES·r rows) BROADCASTS; the corpus-sized side streams
    map-side with no exchange — the small side is always the build
    side (code-review r12)."""
    shortlist = _rank_merge(cand, "adc_sim", r).select("query_id", "neighbor_id")
    qv = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    ).filter(_is_query("q_id"))
    nv = e.select(
        F.col("vec_id").alias("n_id"),
        F.col("v").alias("nv"),
        F.col("n2").alias("nn2"),
    )
    sim = cos_div(dot_q("qv", "nv"), F.col("qn2") * F.col("nn2"))
    probe = shortlist.join(F.broadcast(qv), F.col("q_id") == F.col("query_id"))
    rescored = nv.join(
        F.broadcast(probe), F.col("n_id") == F.col("neighbor_id")
    ).select("query_id", "neighbor_id", sim.alias("sim"))
    return _rank_merge(rescored, "sim", TOP_K).select(
        "query_id", "neighbor_id", F.round("sim", 6).alias("sim")
    )


# ---------------------------------------------------------------------------
# q_pq_candidates — the ADC candidate machinery made hash-checkable
# (VERDICT r13 task #4, the q_ann_buckets playbook applied to PQ): the
# LEARNED codebooks stay rows-only (seeded Lloyd on the corpus), but
# the entire ADC pipeline — subspace split, nearest-centroid encoding,
# per-query lookup tables, table-sum scoring, shortlist ranking — runs
# here against a SEEDED INTEGER codebook embedded verbatim in the
# DuckDB oracle as a VALUES table, with every step exact int64
# arithmetic (quantized vectors × integer centroids), so the shortlist
# is deterministic and driver-hash-verified in both engines.
# ---------------------------------------------------------------------------

#: Oracle-codebook geometry: PQ_M subspaces × 16 centroids keeps the
#: VALUES table at 8·16·8 = 1024 rows (q_ann_buckets embeds 8192).
PQO_K = 16


def _pq_oracle_books(dim: int = 64):
    """(m, c) → integer centroid vector of length dim // PQ_M, seeded
    LCG (the _lsh_planes house pattern). Component magnitudes match
    the 6-dp-quantized embeddings (|val| ≤ 10⁶), so the per-subspace
    distance −2·s·c + |c|² and the ADC sums stay ≪ 2⁵³ — exact in
    int64 and in DuckDB's HUGEINT alike."""
    dsub = dim // PQ_M
    s = 0x9E3779B97F4A7C15
    out = []
    for m in range(PQ_M):
        for c in range(PQO_K):
            vals = []
            for _ in range(dsub):
                s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
                vals.append(int((s >> 16) % 1_999_999) - 999_999)
            out.append((m, c, vals))
    return out


def _pq_oracle_values() -> str:
    """DuckDB VALUES literal (m, c, 1-based pos, val) of the seeded
    codebook — the generated model embedded in the oracle, the house
    pattern from _planes_values/_MH_COEF."""
    rows = []
    for m, c, vals in _pq_oracle_books():
        rows.extend(f"({m},{c},{p + 1},{v})" for p, v in enumerate(vals))
    return ", ".join(rows)


@query(
    "q_pq_candidates",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    cb(m, c, pos, val) AS (VALUES {_pq_oracle_values()}),
    cnorm AS (
        SELECT m, c, SUM(CAST(val AS BIGINT) * val) AS c2
        FROM cb GROUP BY m, c
    ),
    sub AS (
        SELECT vec_id, (pos - 1) // {64 // PQ_M} AS m,
               ((pos - 1) % {64 // PQ_M}) + 1 AS spos, val
        FROM v
    ),
    dist AS (
        SELECT s.vec_id, s.m, cb.c,
               -2 * SUM(s.val * cb.val) AS cross2
        FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.pos
        GROUP BY s.vec_id, s.m, cb.c
    ),
    codes AS (
        SELECT vec_id, m, c AS code
        FROM (
            SELECT d.vec_id, d.m, d.c,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id, d.m
                       ORDER BY d.cross2 + n.c2 ASC, d.c ASC
                   ) AS rn
            FROM dist d JOIN cnorm n ON d.m = n.m AND d.c = n.c
        ) WHERE rn = 1
    ),
    qtab AS (
        SELECT s.vec_id AS query_id, cb.m, cb.c,
               SUM(s.val * cb.val) AS qdot
        FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.pos
        WHERE s.vec_id % {QUERY_STRIDE} = 0 AND s.vec_id < {QUERY_ID_CAP}
        GROUP BY s.vec_id, cb.m, cb.c
    ),
    adc AS (
        SELECT q.query_id, k.vec_id AS neighbor_id,
               CAST(SUM(q.qdot) AS BIGINT) AS adc_score
        FROM codes k JOIN qtab q ON q.m = k.m AND q.c = k.code
        WHERE k.vec_id <> q.query_id
        GROUP BY q.query_id, k.vec_id
    )
    SELECT query_id, neighbor_id, adc_score
    FROM (
        SELECT query_id, neighbor_id, adc_score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_score DESC, neighbor_id ASC
               ) AS rk
        FROM adc
    ) WHERE rk <= {TOP_K}
    """,
)
def q_pq_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified ADC candidate generation — q_sim_topk_pq's
    machinery made SQL-checkable, the move that gave LSH its
    driver-green sibling (q_ann_buckets): subspace split → nearest-
    centroid encoding (argmin of the exact int64 −2·s·c + |c|², ties
    to the lowest centroid index) → per-query (PQ_M × PQO_K) integer
    lookup tables → ADC score as PQ_M table lookups summed → top-k
    shortlist ordered (score desc, neighbor_id asc). The seeded-LCG
    codebook is embedded VERBATIM in the DuckDB oracle as a 1024-row
    VALUES table; every step is exact integer arithmetic, so the
    shortlist membership AND scores hash-match. The learned-codebook
    queries (q_sim_topk_pq / _ivfpq) stay rows-only; THIS query pins
    the candidate pipeline they share.

    Scale shape (100 TB): identical to q_sim_topk_pq — encoding is one
    stateless Arrow pass (numpy int64 GEMM per subspace), the corpus
    is scanned as PQ_M-byte codes with per-batch local top-k, and the
    only exchange is the tiny K·Q window merge. The query block is the
    bounded ≤ {MAX_QUERIES} contract."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t)
    C, c2 = _pqo_books()
    qids, Q = _query_block(e, "vec_id", "v")
    bc = spark.sparkContext.broadcast((qids, _pqo_tables(Q, C)))

    def score(batches):
        qids, tables = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            codes = _pqo_codes(np.asarray(pdf["v"].tolist(), dtype=np.int64), C, c2)
            # exact integer scores (≪ 2⁵³): boundary ties are REAL here,
            # so the local top-k breaks them exactly as the oracle does
            # (_local_topk), not with _adc_local_topk's argpartition
            acc = _adc_accumulate(tables, codes)
            keep = qids[:, None] != ids[None, :]
            yield _local_topk(qids, ids, acc, keep, TOP_K, "adc_score")

    scored = e.select("vec_id", "v").mapInPandas(
        score, "query_id bigint, neighbor_id bigint, adc_score bigint"
    )
    return _rank_merge(scored, "adc_score", TOP_K).select(
        "query_id", "neighbor_id", "adc_score"
    )


def _pqo_books() -> tuple:
    """(C, c2): the seeded oracle codebook as a (PQ_M, PQO_K, dsub)
    int64 array and its exact squared centroid norms (PQ_M, PQO_K)."""
    C = np.asarray(
        [vals for _m, _c, vals in _pq_oracle_books()], dtype=np.int64
    ).reshape(PQ_M, PQO_K, -1)
    return C, np.einsum("mkd,mkd->mk", C, C)


def _pqo_tables(Q, C):
    """Per-query integer ADC tables T[q, m, c] = q_sub · centroid."""
    if len(Q) == 0:
        return np.zeros((0, PQ_M, PQO_K), dtype=np.int64)
    return np.einsum("qmd,mkd->qmk", Q.reshape(len(Q), PQ_M, C.shape[2]), C)


def _pqo_codes(X, C, c2):
    """(n, PQ_M) codes of quantized vectors X against the seeded
    codebook: argmin_c (−2·s·c + |c|²) per subspace, exact int64;
    np.argmin ties to the lowest index = the oracles' (d, c) order."""
    Xs = X.reshape(len(X), PQ_M, C.shape[2])
    codes = np.empty((len(X), PQ_M), dtype=np.int64)
    for m in range(PQ_M):
        codes[:, m] = (-2 * (Xs[:, m, :] @ C[m].T) + c2[m][None, :]).argmin(1)
    return codes


# ---------------------------------------------------------------------------
# q_ivfpq_candidates — the IVF×ADC shortlist made hash-checkable
# (VERDICT r14 task #4, the q_pq_candidates playbook extended by the
# cell-scoping half): q_sim_topk_ivfpq's learned artifacts (KMeans
# cells, Lloyd codebooks) keep it rows-only, so this query runs the
# SAME serving machinery — coarse assignment, probe selection,
# cell-scoped ADC, shortlist ranking — against a seeded integer cell
# table AND the seeded integer codebook, both embedded verbatim in the
# DuckDB oracle as VALUES tables. Every step is exact int64, so the
# cell-scoped candidate MEMBERSHIP and scores hash-match.
# ---------------------------------------------------------------------------

#: Oracle-IVF geometry: 16 seeded cells, 4 probed — the probe scopes
#: ~25% of the corpus per query, so a membership bug (scoring outside
#: the probed cells, or probing the wrong cells) cannot hide.
IVFO_CELLS = 16
IVFO_PROBES = 4


def _ivf_oracle_centers(dim: int = 64):
    """cell → integer center vector, seeded LCG (distinct seed from
    _pq_oracle_books so cells and codebooks never correlate).
    |component| ≤ 10⁶ keeps the 64-term coarse dot ≤ 6.4·10¹³ — exact
    in int64 and DuckDB HUGEINT alike."""
    s = 0xC2B2AE3D27D4EB4F
    out = []
    for cell in range(IVFO_CELLS):
        vals = []
        for _ in range(dim):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            vals.append(int((s >> 16) % 1_999_999) - 999_999)
        out.append((cell, vals))
    return out


def _ivf_oracle_values() -> str:
    """DuckDB VALUES literal (cell, 1-based pos, val) of the seeded
    cell table — 16·64 = 1024 rows, the q_ann_buckets house pattern."""
    rows = []
    for cell, vals in _ivf_oracle_centers():
        rows.extend(f"({cell},{p + 1},{v})" for p, v in enumerate(vals))
    return ", ".join(rows)


@query(
    "q_ivfpq_candidates",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    cb(m, c, pos, val) AS (VALUES {_pq_oracle_values()}),
    cc(cell, pos, val) AS (VALUES {_ivf_oracle_values()}),
    cnorm AS (
        SELECT m, c, SUM(CAST(val AS BIGINT) * val) AS c2
        FROM cb GROUP BY m, c
    ),
    cdot AS (
        SELECT v.vec_id, cc.cell, SUM(CAST(v.val AS BIGINT) * cc.val) AS dot
        FROM v JOIN cc ON v.pos = cc.pos
        GROUP BY v.vec_id, cc.cell
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY dot DESC, cell ASC
                   ) AS rn
            FROM cdot
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY dot DESC, cell ASC
                   ) AS rn
            FROM cdot
            WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}
        ) WHERE rn <= {IVFO_PROBES}
    ),
    sub AS (
        SELECT vec_id, (pos - 1) // {64 // PQ_M} AS m,
               ((pos - 1) % {64 // PQ_M}) + 1 AS spos, val
        FROM v
    ),
    dist AS (
        SELECT s.vec_id, s.m, cb.c,
               -2 * SUM(s.val * cb.val) AS cross2
        FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.pos
        GROUP BY s.vec_id, s.m, cb.c
    ),
    codes AS (
        SELECT vec_id, m, c AS code
        FROM (
            SELECT d.vec_id, d.m, d.c,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vec_id, d.m
                       ORDER BY d.cross2 + n.c2 ASC, d.c ASC
                   ) AS rn
            FROM dist d JOIN cnorm n ON d.m = n.m AND d.c = n.c
        ) WHERE rn = 1
    ),
    qtab AS (
        SELECT s.vec_id AS query_id, cb.m, cb.c,
               SUM(s.val * cb.val) AS qdot
        FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.pos
        WHERE s.vec_id % {QUERY_STRIDE} = 0 AND s.vec_id < {QUERY_ID_CAP}
        GROUP BY s.vec_id, cb.m, cb.c
    ),
    adc AS (
        SELECT q.query_id, k.vec_id AS neighbor_id,
               CAST(SUM(q.qdot) AS BIGINT) AS adc_score
        FROM codes k
        JOIN assign a ON a.vec_id = k.vec_id
        JOIN probes p ON p.cell = a.cell
        JOIN qtab q ON q.query_id = p.query_id
                   AND q.m = k.m AND q.c = k.code
        WHERE k.vec_id <> q.query_id
        GROUP BY q.query_id, k.vec_id
    )
    SELECT query_id, neighbor_id, adc_score
    FROM (
        SELECT query_id, neighbor_id, adc_score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_score DESC, neighbor_id ASC
               ) AS rk
        FROM adc
    ) WHERE rk <= {TOP_K}
    """,
)
def q_ivfpq_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified IVF×ADC candidate generation — q_sim_topk_ivfpq's
    serving machinery (coarse cell assignment → probe selection →
    cell-scoped ADC scoring → shortlist ranking) run against a seeded
    integer cell table and the seeded integer PQ codebook, both
    embedded VERBATIM in the DuckDB oracle (16·64 + 8·16·8 VALUES
    rows). Assignment is argmax of the exact int64 coarse dot (ties to
    the lowest cell); probing keeps the top {probes} cells per query
    under the same order; only vectors ASSIGNED to a PROBED cell are
    ADC-scored — so the hash verifies the cell-scoping itself, the
    piece q_pq_candidates (flat ADC) cannot see. The learned-artifact
    query (q_sim_topk_ivfpq) stays rows-only; THIS pins the pipeline
    it serves with.

    Scale shape (100 TB): identical to the IVFPQ path — one stateless
    Arrow pass computes cells + codes + per-cell ADC (integer GEMM per
    batch, lookups after), only probed-cell rows are scored (on the
    persisted index this is hive partition pruning), local per-batch
    top-k, and the only exchange is the tiny K·Q window merge."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t)
    C, c2 = _pqo_books()
    CI = np.asarray(
        [vals for _cell, vals in _ivf_oracle_centers()], dtype=np.int64
    )  # (cells, 64)
    qids, Q = _query_block(e, "vec_id", "v")
    if len(Q) == 0:
        Q = np.zeros((0, 64), dtype=np.int64)
    # probe selection: top-P cells by exact int64 coarse dot (≤ 6.4e13),
    # desc, cell asc; query ids here are positions in the block
    qdots = Q @ CI.T
    probes = _local_topk(
        np.arange(len(Q)), np.arange(IVFO_CELLS), qdots,
        np.ones(qdots.shape, dtype=bool), IVFO_PROBES,
    )
    cell_q = {
        int(c): g.to_numpy() for c, g in probes.groupby("neighbor_id")["query_id"]
    }
    bc = spark.sparkContext.broadcast((qids, _pqo_tables(Q, C), cell_q))

    def score(batches):
        qids, tables, cellmap = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            X = np.asarray(pdf["v"].tolist(), dtype=np.int64)
            # coarse assignment: argmax int64 dot, np.argmax ties to
            # the lowest index = the oracle's (dot DESC, cell ASC)
            cells = (X @ CI.T).argmax(1)
            codes = _pqo_codes(X, C, c2)
            for cell in np.unique(cells):
                qix = cellmap.get(int(cell))
                if qix is None:
                    continue
                mask = cells == cell
                cids, sub_q = ids[mask], qids[qix]
                acc = _adc_accumulate(tables[qix], codes[mask])
                keep = sub_q[:, None] != cids[None, :]
                yield _local_topk(sub_q, cids, acc, keep, TOP_K, "adc_score")

    scored = e.select("vec_id", "v").mapInPandas(
        score, "query_id bigint, neighbor_id bigint, adc_score bigint"
    )
    return _rank_merge(scored, "adc_score", TOP_K).select(
        "query_id", "neighbor_id", "adc_score"
    )


q_ivfpq_candidates.__doc__ = q_ivfpq_candidates.__doc__.format(
    probes=IVFO_PROBES
)


#: embeddings plan → checkpointed cell-codes. Input-keyed for the same
#: reason as the PQ codes: the upstream codes frame is a fresh
#: LogicalRDD per cache rebuild, so a stage() slot can never hit across
#: calls.
_IVFPQ_CC_CACHE = SessionCache("similarity.ivfpq_cell_codes")


def _ivfpq_cell_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVFPQ artifact: PQ codes RESIDENT IN the inverted lists —
    (cell, neighbor_id, codes), one row per (vector, assigned cell),
    exactly how faiss IVFPQ lays out storage (codes live inside the
    inverted file, so a probe reads nothing but its cells' code
    blocks). Built once per (session, corpus) from the two existing
    artifacts (inverted file × code table) and checkpointed; at
    100 TB this is a lakehouse table hive-partitioned by cell like
    the inverted file itself, and the join below is the one-off
    index-build job."""
    t = load_tables(spark, sf_dir)
    return _IVFPQ_CC_CACHE.get_or_build(
        spark, None, lambda: _ivfpq_cell_codes_build(spark, sf_dir, t),
        plan=t["embeddings"],
    )


def _ivfpq_cell_codes_build(spark: SparkSession, sf_dir: str, t) -> DataFrame:
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    _, inv_file = _ivf_index(spark, t, e)
    codes = pq_encode(spark, sf_dir)
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        inv_file.select("neighbor_id", "cell")
        .join(codes, F.col("vec_id") == F.col("neighbor_id"))
        .select("cell", "neighbor_id", "codes")
        # even layout INDEPENDENT of the join strategy: under a large
        # autoBroadcastJoinThreshold the build becomes a BHJ and the
        # checkpoint inherits the inverted file's (few, skewed)
        # partitions — measured 5× on the warm 1M ADC scan (r13). One
        # extra exchange in the one-off build buys every probe a full
        # fan-out of the Arrow kernel.
        .repartition(width, "neighbor_id")
        .localCheckpoint()
    )


#: IVFPQ shortlist depth (faiss k_factor): deeper than the full-scan
#: rerank's 50 because ADC misranking is the ONLY recall loss left
#: once cells bound the candidates — measured on the weakly-clustered
#: sf0.1 fixture: R=50 → 0.77, R=100 → 0.82, R=200 → 0.86 = the IVF
#: cell ceiling at identical probe geometry (recall can't exceed what
#: the probed cells contain). Cost stays trivial: the exact pass
#: touches Q·R rows (≤ 51k at MAX_QUERIES), never the corpus.
IVFPQ_RERANK_R = 200


@query("q_sim_topk_ivfpq")  # rows-only: learned cells + codebooks
def q_sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × PQ top-k — the faiss IVFADC serving shape (Jégou 2011
    §IV) and the missing rung between "PQ is the RAM lever"
    (q_sim_topk_pq scans ALL codes) and "IVF prunes the scan"
    (q_sim_topk_ivf reads full-precision vectors): ADC-score ONLY the
    probed cells' code blocks, keep a per-query shortlist, then exact
    int64 re-rank restores fine ranking. Per query the work is
    probes/cells of the corpus in 8-byte codes + R full-precision
    rows — at a billion vectors that is the only shape whose scan fits
    both RAM and latency budgets.

    Plan: cell probing is _probe_cells; the probed cells' code blocks
    stream through ONE mapInPandas with per-cell query ADC tables
    broadcast (table lookups + sums, no full-dim math);
    multi-assignment duplicates drop as in the IVF path; the ≤ Q·R
    shortlist goes through _rerank. On the persisted
    lakehouse index the cell filter is hive partition pruning: a probe
    opens ≈ probes/cells of the code files and nothing else.

    Rows-only by declared design (learned KMeans cells + seeded-Lloyd
    codebooks); recall vs the exact top-k and bit-identity of
    overlapping sims are pinned in tests/test_similarity.py."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    centers, _ = _ivf_index(spark, t, e)
    books = _pq_codebooks(spark, t)
    # One bounded collect serves BOTH probe routing and the ADC tables:
    # vq is recomputed from the raw parquet via vec_q (deterministic
    # round → identical int64s to e's checkpointed v, so the probe is
    # bit-identical), and the raw embedding rides along for the tables.
    probed = _probe_cells(
        t["embeddings"]
        .filter(_is_query())
        .select(
            F.col("vec_id").alias("query_id"),
            "embedding",
            vec_q("embedding").alias("vq"),
        ),
        centers,
        "embedding",
    )
    emb_of = {int(r["query_id"]): r["embedding"] for rows in probed.values() for r in rows}
    qids_all = np.asarray(sorted(emb_of), dtype=np.int64)
    tables = _adc_tables(
        np.asarray([emb_of[int(q)] for q in qids_all], dtype=np.float64), books
    )
    row_of = {int(q): i for i, q in enumerate(qids_all)}
    cell_q = {}
    for c, rows in probed.items():
        ix = [row_of[int(r["query_id"])] for r in rows]
        cell_q[c] = (qids_all[ix], tables[ix])
    bc = spark.sparkContext.broadcast(cell_q)
    r_short = IVFPQ_RERANK_R

    def score_cells(batches):
        cq = bc.value
        for pdf in batches:
            for c, grp in pdf.groupby("cell"):
                if int(c) not in cq:
                    continue
                qids, tabs = cq[int(c)]
                ids = grp["neighbor_id"].to_numpy(np.int64)
                codes = np.asarray(grp["codes"].tolist(), dtype=np.int64)
                yield _adc_local_topk(qids, ids, _adc_accumulate(tabs, codes), r_short)

    cand = (
        _ivfpq_cell_codes(spark, sf_dir)
        .where(F.col("cell").isin(sorted(probed)))
        .mapInPandas(
            score_cells, "query_id bigint, neighbor_id bigint, adc_sim double"
        )
        # One exchange serves both the dedup and the shortlist window:
        # hash(query_id) clusters every (query, neighbor) pair AND the
        # window's partition key, so EnsureRequirements adds nothing for
        # either — previously dropDuplicates shuffled on (q, n) and the
        # window re-shuffled on q (2 Exchange → 1, guide §2.1).
        .repartition("query_id")
        # multi-assignment: the same (query, neighbor) can meet in up
        # to min(assign, probes) cells with identical ADC sim
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rerank(e, cand, r_short)


@query(
    "q_sim_range_search",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    q AS (SELECT * FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}),
    dots AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(q.val * b.val) AS DOUBLE) AS dot
        FROM q JOIN v b ON q.pos = b.pos AND q.vec_id <> b.vec_id
        GROUP BY q.vec_id, b.vec_id
    )
    SELECT d.query_id, d.neighbor_id,
           ROUND({cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')}, 4) AS cos_sim
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nb ON nb.vec_id = d.neighbor_id
    WHERE d.dot > 0
      AND d.dot * d.dot >= {PAIR_TAU * PAIR_TAU} * nq.norm2 * nb.norm2
    """,
)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — the faiss ``range_search`` analog and
    the third query mode of the similarity family next to top-k
    (q_sim_topk) and all-pairs (q_sim_cosine_pairs): for each query in
    the bounded block, EVERY corpus vector with cosine ≥ τ, however
    many or few that is. The mode a dedup screen or a recall-oriented
    retrieval layer wants when "the k best" is the wrong contract
    (near-dup sets have no fixed size).

    Plan shape: the bounded query block broadcasts; the corpus streams
    through one mapInPandas int64-GEMM batch kernel; the threshold
    decision is the sqrt/division-free integer form (dot > 0 AND
    dot² ≥ τ²·|q|²·|b|² — float64 over exact < 2⁵³ integers, identical
    in the oracle), and only qualifying pairs leave the executor —
    per batch the emitted rows are the hits, never Q·batch. No
    shuffle, no window: range search has no rank to merge. At 100 TB
    the same kernel runs per probed IVF cell (compose with _ivf_index
    exactly as q_sim_topk_ivf does for top-k).

    Determinism: exact integer dots; sim is the shared cosine in IEEE
    float64 from exact integers — bit-identical to the oracle."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    bc = spark.sparkContext.broadcast(_query_block(e, "vec_id", "v", "n2"))
    tau2 = PAIR_TAU * PAIR_TAU

    def score(batches):
        qids, Q, qn = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids, X, n2 = _vecs(pdf)
            dot = (Q @ X.T).astype(np.float64)
            hit = (
                (dot > 0)
                & (dot * dot >= tau2 * qn[:, None] * n2[None, :])
                & (qids[:, None] != ids[None, :])
            )
            qi, ni = np.nonzero(hit)
            if len(qi) == 0:
                continue
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "neighbor_id": ids[ni],
                    "cos_sim": np.round(cos_div_np(dot[qi, ni], qn[qi] * n2[ni]), 4),
                }
            )

    return e.select("vec_id", "v", "n2").mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cos_sim double"
    )


#: Constrained-search predicate for q_sim_topk_filtered: neighbors must
#: be embeddings of documents in this language (vec_id ↔ doc_id, the
#: corpus convention established by q_dedup_cross_lingual).
FILTER_LANG = "en"


@query(
    "q_sim_topk_filtered",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    q AS (SELECT * FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}),
    base AS (
        SELECT v.* FROM v
        JOIN documents d ON d.doc_id = v.vec_id AND d.lang = '{FILTER_LANG}'
    ),
    dots AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(q.val * b.val) AS DOUBLE) AS dot
        FROM q JOIN base b ON q.pos = b.pos AND q.vec_id <> b.vec_id
        GROUP BY q.vec_id, b.vec_id
    ),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               {cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')} AS sim
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_k, ROUND(sim, 4) AS cos_sim
    FROM (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rank_k
        FROM scored
    )
    WHERE rank_k <= {TOP_K}
    """,
)
def q_sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED exact top-k — "nearest '{FILTER_LANG}'
    documents to each query": the constrained similarity search every
    vector store exposes (faiss IDSelector / the WHERE clause of a
    vector DB), fourth query mode beside top-k / range / hard-negative.

    PRE-filter, not post-filter: the predicate joins the candidate
    frame BEFORE the GEMM kernel, so selectivity cuts compute and a
    query can never come back short (post-filtering top-k and then
    dropping non-matching rows under-fills k when matches are sparse —
    the classic filtered-ANN bug). The metadata predicate lives on the
    documents table and meets the vectors on the co-partitionable
    vec_id = doc_id equi-join; both sides are corpus-scale, so it is a
    shuffle-hash join (hinted, never a broadcast of a corpus-derived
    set). Queries still come from the UNfiltered stride block — a
    query's own language never constrains what it may retrieve. The
    IVF-composed spelling (probe cells of the filtered subset) is the
    documented next rung when selectivity is low."""
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    keep = (
        t["documents"]
        .filter(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    base = e.join(keep.hint("shuffle_hash"), "vec_id", "semi")
    return _topk_rows(_gemm_topk(spark, e, cross_label=False, base=base))


#: Reciprocal-rank-fusion geometry (Cormack et al. 2009's k=60): each
#: retrieval list contributes round(1e9/(RRF_K + rank)) — an exact
#: BIGINT (no divisor in [61,80] admits a .5 tie against 1e9, so the
#: round is engine-identical) — and lists are the lexical BM25 top-N
#: and the semantic cosine top-N for the SAME query.
RRF_K = 60
RRF_TOPN = 10
RRF_SCALE = 1_000_000_000


def _rrf_term_sql(rank_col: str) -> str:
    return (
        f"CAST(ROUND({RRF_SCALE}.0 / ({RRF_K} + {rank_col}), 0) AS BIGINT)"
    )


def _hybrid_oracle() -> str:
    from hive_gateway_spark.operators.text import BM25_SCORED_CTE, BM25_TOPN

    return f"""
    WITH {DUCK_FLAT_CTE},
    {BM25_SCORED_CTE},
    lexn AS (
        SELECT doc_id, lrnk FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25x DESC, doc_id ASC) AS lrnk
            FROM scored
        ) WHERE lrnk <= {BM25_TOPN}
    ),
    anchor AS (
        SELECT l.doc_id FROM lexn l
        JOIN norms n ON n.vec_id = l.doc_id
        ORDER BY l.lrnk ASC LIMIT 1
    ),
    qv AS (SELECT v.val, v.pos FROM v JOIN anchor a ON v.vec_id = a.doc_id),
    qn AS (SELECT n.norm2 FROM norms n JOIN anchor a ON n.vec_id = a.doc_id),
    sdots AS (
        SELECT b.vec_id AS doc_id, CAST(SUM(qv.val * b.val) AS DOUBLE) AS dot
        FROM qv JOIN v b ON qv.pos = b.pos
        GROUP BY b.vec_id
    ),
    sems AS (
        SELECT d.doc_id, {cos_div_sql('d.dot', 'qn.norm2 * nb.norm2')} AS sim
        FROM sdots d JOIN norms nb ON nb.vec_id = d.doc_id CROSS JOIN qn
    ),
    semn AS (
        SELECT doc_id, srnk FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS srnk
            FROM sems
        ) WHERE srnk <= {BM25_TOPN}
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               COALESCE({_rrf_term_sql('l.lrnk')}, 0)
             + COALESCE({_rrf_term_sql('s.srnk')}, 0) AS rrf_scaled,
               COALESCE(l.lrnk, 0) AS lex_rank,
               COALESCE(s.srnk, 0) AS sem_rank
        FROM lexn l FULL OUTER JOIN semn s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, CAST(rrf_scaled AS BIGINT) AS rrf_scaled,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT doc_id, rrf_scaled, lex_rank, sem_rank,
               ROW_NUMBER() OVER (ORDER BY rrf_scaled DESC, doc_id ASC) AS rnk
        FROM fused
    )
    WHERE rnk <= {RRF_TOPN}
    """


@query("q_hybrid_search", oracle=_hybrid_oracle())
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval via reciprocal-rank fusion —
    the two-tower serving shape (BM25 candidates ∪ embedding
    candidates, RRF-merged) that hybrid search engines expose as ONE
    query. The semantic list is pseudo-relevance feedback: its query
    vector is the embedding of the TOP-1 BM25 document ("more like the
    best lexical hit"), so the whole pipeline stays closed over the
    fixture tables and both engines derive the identical anchor.

    Exactness chain: BM25 ranks are exact-decimal (q_text_bm25's
    ROUND-6 per-term sums); the anchor dot products are exact int64
    over quantized vectors (JVM zip_with/aggregate — no Python in this
    path); RRF terms are exact BIGINTs (round(1e9/(60+r)) — tie-free,
    see RRF_SCALE note), so the fused ordering is integer-deterministic
    end to end. The oracle interpolates text.BM25_SCORED_CTE — shared
    fragment, the lexical chains cannot drift.

    Scale shape: each list is already a scalable retrieval (BM25:
    pruned-token postings; semantic: orderBy+limit = TakeOrdered —
    per-partition local top-N, NO single-partition window over the
    corpus); the fusion joins two ≤N-row frames. Anchor collect is 1
    row by construction."""
    from hive_gateway_spark.operators.text import BM25_TOPN, q_text_bm25

    t = load_tables(spark, sf_dir)
    # Stage the ≤BM25_TOPN-row lexical list: BOTH the anchor probe
    # (collected below) and the final fused plan consume it, and
    # without the checkpoint each consumer re-ran the whole BM25
    # pipeline over the corpus (r16 optimization round, guide §2.4 —
    # the q59/q23 shared-subtree discipline; the checkpoint is 20
    # rows).
    lexn = stage(
        q_text_bm25(spark, sf_dir).select("doc_id", F.col("rnk").alias("lrnk")),
        "similarity.hybrid.lexn",
    )
    # the anchor is the highest-ranked lexical hit WITH an embedding
    # (embeddings cover a corpus subset at sf ≥ 0.1 — anchoring on the
    # raw top-1 would silence the semantic list exactly where hybrid
    # matters); ≤ 1 row collected by construction
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    qrow = (
        lexn.join(e, lexn["doc_id"] == e["vec_id"])
        .orderBy(F.col("lrnk").asc())
        .limit(1)
        .select("v", "n2")
        .collect()
    )
    if qrow:
        qvec = "array(" + ",".join(f"{int(x)}L" for x in qrow[0]["v"]) + ")"
        qn2 = float(qrow[0]["n2"])
        sems = e.select(
            F.col("vec_id").alias("doc_id"),
            cos_div(dot_q("v", qvec), F.lit(qn2) * F.col("n2")).alias("sim"),
        )
        # TakeOrdered (orderBy+limit), then ranks over the tiny result —
        # never a global row_number window over the corpus
        semn = (
            sems.orderBy(F.col("sim").desc(), F.col("doc_id").asc())
            .limit(BM25_TOPN)
            .withColumn(
                "srnk",
                F.row_number().over(
                    W.orderBy(F.col("sim").desc(), F.col("doc_id").asc())
                ),
            )
            .select("doc_id", "srnk")
        )
    else:
        # NO top-N lexical hit has an embedding row: the semantic
        # list is empty and fusion
        # degrades to pure lexical ranking — EXACTLY what the oracle
        # computes (its qv/sdots/semn CTEs are empty), so the two
        # engines agree at every scale, not just where coverage is 1:1
        semn = spark.createDataFrame([], "doc_id bigint, srnk int")
    lterm = F.expr(_rrf_term_sql("lrnk"))
    sterm = F.expr(_rrf_term_sql("srnk"))
    fused = (
        lexn.withColumn("lterm", lterm)
        .join(
            semn.withColumn("sterm", sterm),
            "doc_id",
            "full_outer",
        )
        .select(
            "doc_id",
            (
                F.coalesce("lterm", F.lit(0)) + F.coalesce("sterm", F.lit(0))
            ).cast("bigint").alias("rrf_scaled"),
            F.coalesce("lrnk", F.lit(0)).cast("bigint").alias("lex_rank"),
            F.coalesce("srnk", F.lit(0)).cast("bigint").alias("sem_rank"),
        )
    )
    return (
        fused.withColumn(
            "rnk",
            F.row_number().over(
                W.orderBy(F.col("rrf_scaled").desc(), F.col("doc_id").asc())
            ),
        )
        .filter(F.col("rnk") <= RRF_TOPN)
        .select(
            "doc_id", "rrf_scaled", "lex_rank", "sem_rank",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "q_embed_coherence",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    possum AS (
        SELECT label, pos, SUM(val) AS s
        FROM v GROUP BY label, pos
    ),
    gram AS (
        SELECT label, SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS g
        FROM possum GROUP BY label
    ),
    pern AS (
        SELECT label, COUNT(*) AS n, SUM(CAST(norm2 AS HUGEINT)) AS sn
        FROM norms GROUP BY label
    )
    SELECT p.label, p.n,
           ROUND(CAST(p.sn AS DOUBLE) / CAST(p.n AS DOUBLE)
                 / {SCALE}.0 / {SCALE}.0, 6) AS avg_norm2,
           ROUND(CAST(g.g - p.sn AS DOUBLE) / CAST(p.n * (p.n - 1) AS DOUBLE)
                 / {SCALE}.0 / {SCALE}.0, 6) AS avg_pair_dot
    FROM pern p JOIN gram g ON g.label = p.label
    WHERE p.n > 1
    """,
)
def q_embed_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding coherence: the MEAN PAIRWISE DOT PRODUCT of a
    label's vectors — the cluster-tightness diagnostic a curation
    pipeline runs on its embedding clusters (is this topic/label a
    coherent group or a grab bag?) — computed WITHOUT forming pairs.

    The Gram-sum identity does the work:

        Σ_{{i≠j}} <v_i, v_j>  =  ||Σ_i v_i||² − Σ_i ||v_i||²

    so the naive O(n²·d) pairwise sweep collapses to one O(n·d) pass:
    per-(label, pos) component sums (map-side-combined shuffle of
    ≤ labels·dim rows), square-and-sum per label, minus the per-row
    norms the quantized staging already computes. At 100 TB this is
    the difference between "impossible" and "one aggregate": the same
    identity is how a production pipeline scores millions of clusters
    nightly.

    Determinism: component sums are exact int64 (|s| ≤ n·3·10⁷);
    squares are summed as DECIMAL/HUGEINT so the subtraction is exact
    integer arithmetic in BOTH engines, and the single double division
    at the end has an identical expression shape. Capacity (ADVICE r13
    #4): s is carried as DECIMAL(20,0) — the earlier (18,0) silently
    NULLed a label past |s| = 10¹⁸ — and the binding limit is now the
    Σ-of-squares against DECIMAL(38)/HUGEINT: 64·s² < 10³⁸ ⇒ safe to
    ~4·10¹⁰ rows/label, not the ~10¹¹ previously claimed. avg_norm2 (mean squared L2, the magnitude baseline) rides
    along so avg_pair_dot is interpretable without a second query.
    """
    t = load_tables(spark, sf_dir)
    q = _quantized(t)
    flat = q.select("label", F.posexplode("v").alias("pos", "val"))
    possum = flat.groupBy("label", "pos").agg(F.sum("val").alias("s"))
    sdec = F.col("s").cast("decimal(20,0)")
    gram = possum.groupBy("label").agg(F.sum(sdec * sdec).alias("g"))
    pern = (
        q.select("label", norm2_q("v").alias("n2"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("n2").cast("decimal(20,0)")).alias("sn"),
        )
    )
    return (
        pern.join(gram, "label")
        .filter(F.col("n") > 1)
        .select(
            "label",
            "n",
            F.round(
                F.col("sn").cast("double") / F.col("n").cast("double")
                / SCALE / float(SCALE),
                6,
            ).alias("avg_norm2"),
            F.round(
                (F.col("g") - F.col("sn")).cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
                / SCALE / float(SCALE),
                6,
            ).alias("avg_pair_dot"),
        )
    )


#: MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
#: geometry: re-rank the exact top-MMR_SHORTLIST into MMR_K diverse
#: results with integer weights 7/3 (λ = 0.7 scaled ×10 — the score is
#: 7·rel − 3·max_pairwise_sim, so both engines multiply doubles by
#: small exact integers instead of a decimal literal).
MMR_SHORTLIST = 20
MMR_K = 5
MMR_W_REL = 7
MMR_W_DIV = 3


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as SQL: selection step t is a CTE that joins
    the not-yet-selected shortlist against the pairwise-sim table
    restricted to steps 1..t−1's picks, takes MAX(sim) as the
    diversity penalty, and QUALIFY-picks the arg-max of
    {MMR_W_REL}·rel − {MMR_W_DIV}·maxsim (neighbor_id tie-break).
    Greedy selection is inherently sequential — but K is a constant, so
    K−1 unrolled CTEs express it exactly in one SQL statement."""
    sel_ctes = []
    for t in range(2, MMR_K + 1):
        union = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM sel{i}" for i in range(1, t)
        )
        sel_ctes.append(f"""
    done{t} AS ({union}),
    cand{t} AS (
        SELECT s.query_id, s.neighbor_id, s.sim AS rel, MAX(p.sim) AS maxsim
        FROM short s
        JOIN psim p ON p.query_id = s.query_id AND p.a = s.neighbor_id
        JOIN done{t} u ON u.query_id = p.query_id AND u.neighbor_id = p.b
        WHERE NOT EXISTS (SELECT 1 FROM done{t} d
                          WHERE d.query_id = s.query_id
                            AND d.neighbor_id = s.neighbor_id)
        GROUP BY s.query_id, s.neighbor_id, s.sim
    ),
    sel{t} AS (
        SELECT query_id, neighbor_id, rel,
               CAST({t} AS BIGINT) AS mmr_rank,
               {MMR_W_REL} * rel - {MMR_W_DIV} * maxsim AS score
        FROM cand{t}
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY {MMR_W_REL} * rel - {MMR_W_DIV} * maxsim DESC,
                     neighbor_id ASC) = 1
    )""")
    final_union = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH {DUCK_FLAT_CTE},
    q AS (SELECT * FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}),
    dots AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(q.val * b.val) AS DOUBLE) AS dot
        FROM q JOIN v b ON q.pos = b.pos AND q.vec_id <> b.vec_id
        GROUP BY q.vec_id, b.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id, sim
        FROM (
            SELECT d.query_id, d.neighbor_id,
                   {cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')} AS sim,
                   ROW_NUMBER() OVER (PARTITION BY d.query_id
                                      ORDER BY {cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')} DESC,
                                               d.neighbor_id ASC) AS rk
            FROM dots d
            JOIN norms nq ON nq.vec_id = d.query_id
            JOIN norms nb ON nb.vec_id = d.neighbor_id
        )
        WHERE rk <= {MMR_SHORTLIST}
    ),
    pdots AS (
        SELECT s1.query_id, s1.neighbor_id AS a, s2.neighbor_id AS b,
               CAST(SUM(va.val * vb.val) AS DOUBLE) AS dot
        FROM short s1
        JOIN short s2 ON s1.query_id = s2.query_id
                     AND s1.neighbor_id <> s2.neighbor_id
        JOIN v va ON va.vec_id = s1.neighbor_id
        JOIN v vb ON vb.vec_id = s2.neighbor_id AND vb.pos = va.pos
        GROUP BY 1, 2, 3
    ),
    psim AS (
        SELECT p.query_id, p.a, p.b,
               {cos_div_sql('p.dot', 'na.norm2 * nb.norm2')} AS sim
        FROM pdots p
        JOIN norms na ON na.vec_id = p.a
        JOIN norms nb ON nb.vec_id = p.b
    ),
    sel1 AS (
        SELECT query_id, neighbor_id, sim AS rel,
               CAST(1 AS BIGINT) AS mmr_rank,
               {MMR_W_REL} * sim AS score
        FROM short
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) = 1
    ),{','.join(sel_ctes)}
    SELECT query_id, neighbor_id, mmr_rank,
           ROUND(rel, 4) AS rel,
           ROUND(score, 4) AS mmr_score
    FROM ({final_union})
    """


@query("q_retrieval_mmr", oracle=_mmr_oracle())
def q_retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: MMR re-rank of the exact top-{shortlist}
    into {k} results per query (Carbonell & Goldstein 1998) — the
    redundancy-killer between a similarity index and whatever consumes
    its results (RAG context windows, dedup-aware eval sets): pure
    top-k returns five copies of the same near-duplicate; MMR charges
    each candidate {w_div}/10 of its similarity to the already-picked
    set against {w_rel}/10 of its query relevance.

    Exactness story (this is the repo's first ITERATIVE query with an
    exact oracle): greedy selection over K = {k} steps is unrolled into
    K−1 SQL CTEs (see _mmr_oracle); every similarity is the standard
    exact-int64-dot / √(norm-product) double, the score uses
    INTEGER weights ({w_rel}·rel − {w_div}·maxsim — no decimal literal
    enters the float pipeline), and ties break on neighbor_id — so the
    Spark kernel and the oracle pick identical sets, not just similar
    ones.

    Scale shape: stage 1 is the exact shortlist (_gemm_topk with
    k = {shortlist}, then _rank_merge). Stage 2 joins the M·Q shortlist
    rows (≤ {shortlist}·MAX_QUERIES — bounded by construction, NOT
    corpus-proportional) back to their vectors and runs greedy MMR per query
    inside ONE applyInPandas group of M rows: an M×M int64 GEMM plus K
    argmax sweeps — microseconds per query, embarrassingly parallel
    across queries, zero corpus-sized state.
    """
    t = load_tables(spark, sf_dir)
    e = _quantized(t).withColumn("n2", norm2_q("v"))
    short = _rank_merge(
        _gemm_topk(spark, e, cross_label=False, k=MMR_SHORTLIST), "sim", MMR_SHORTLIST
    ).select("query_id", "neighbor_id", "sim")
    withv = short.join(
        e.select(F.col("vec_id").alias("neighbor_id"), "v", "n2"), "neighbor_id"
    )

    def mmr_group(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["neighbor_id"].to_numpy(np.int64))
        ids = pdf["neighbor_id"].to_numpy(np.int64)[order]
        rel = pdf["sim"].to_numpy(np.float64)[order]
        X = np.asarray(pdf["v"].tolist(), dtype=np.int64)[order]
        n2 = pdf["n2"].to_numpy(np.float64)[order]
        qid = int(pdf["query_id"].iloc[0])
        S = cos_div_np((X @ X.T).astype(np.float64), n2[:, None] * n2[None, :])
        n = len(ids)
        picked: list[int] = []
        ranks, scores = [], []
        for step in range(min(MMR_K, n)):
            if not picked:
                score = MMR_W_REL * rel
            else:
                maxsim = S[:, picked].max(axis=1)
                score = MMR_W_REL * rel - MMR_W_DIV * maxsim
            score = score.copy()
            score[picked] = -np.inf
            # arg-max with neighbor_id tie-break: ids ascend already,
            # argmax takes the first max — exactly the oracle's order
            best = int(np.argmax(score))
            picked.append(best)
            ranks.append(step + 1)
            scores.append(score[best])
        sel = np.asarray(picked, dtype=np.int64)
        return pd.DataFrame(
            {
                "query_id": np.full(len(sel), qid, dtype=np.int64),
                "neighbor_id": ids[sel],
                "mmr_rank": np.asarray(ranks, dtype=np.int64),
                "rel": rel[sel],
                "score": np.asarray(scores, dtype=np.float64),
            }
        )

    out = withv.groupBy("query_id").applyInPandas(
        mmr_group,
        "query_id bigint, neighbor_id bigint, mmr_rank bigint, rel double, score double",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "mmr_rank",
        F.round("rel", 4).alias("rel"),
        F.round("score", 4).alias("mmr_score"),
    )


q_retrieval_mmr.__doc__ = q_retrieval_mmr.__doc__.format(
    shortlist=MMR_SHORTLIST, k=MMR_K, w_rel=MMR_W_REL, w_div=MMR_W_DIV
)


@query(
    "q_ann_recall",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    {_lsh_buckets_cte()},
    q AS (SELECT * FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}),
    dots AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(q.val * b.val) AS DOUBLE) AS dot
        FROM q JOIN v b ON q.pos = b.pos AND q.vec_id <> b.vec_id
        GROUP BY q.vec_id, b.vec_id
    ),
    topk AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT d.query_id, d.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.query_id
                       ORDER BY {cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')} DESC,
                                d.neighbor_id ASC) AS rk
            FROM dots d
            JOIN norms nq ON nq.vec_id = d.query_id
            JOIN norms nb ON nb.vec_id = d.neighbor_id
        )
        WHERE rk <= {TOP_K}
    ),
    ncand AS (
        SELECT query_id, COUNT(*) AS n_candidates
        FROM lshcand GROUP BY query_id
    ),
    hits AS (
        SELECT t.query_id,
               COUNT(*) AS n_exact,
               SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS n_hits
        FROM topk t
        LEFT JOIN lshcand c
          ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        GROUP BY t.query_id
    )
    SELECT h.query_id,
           CAST(h.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(h.n_hits AS BIGINT) AS n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / CAST(h.n_exact AS DOUBLE), 4)
             AS recall_at_k
    FROM hits h
    LEFT JOIN ncand nc ON nc.query_id = h.query_id
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine ANN quality evaluation: recall@k of the LSH candidate
    generation against the exact top-k, per query — the index-health
    number an ANN deployment monitors continuously (recall decays as
    the corpus drifts from the geometry the index was tuned for), here
    as ONE query instead of an offline eval script.

    Every ingredient is already hash-verified, so the eval itself is
    exact-oracled end-to-end — unusual for ANN tooling, where recall
    numbers normally depend on an unverifiable ground-truth dump: the
    candidate set is q_ann_buckets' chain (shared _lsh_buckets_cte
    fragment — the definitions cannot drift) and the truth set is
    q_sim_topk's exact GEMM ranking. n_candidates rides along because
    recall alone is gameable (probing everything is recall 1.0);
    recall-vs-candidates IS the quality/cost trade.

    Scale shape: composes the two operators' plans unchanged (bounded
    query block, stateless sign-pack bucketing, equi-join candidates)
    plus two tiny joins over ≤ MAX_QUERIES·k rows. The left joins keep
    a bucket-starved query visible (0 candidates, recall 0) instead of
    dropping it — the failure mode the monitor exists to catch.
    """
    exact = (
        q_sim_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    cands = q_ann_buckets(spark, sf_dir).select("query_id", "neighbor_id")
    # hit counting joins the CORPUS-sized candidate stream against the
    # ≤ Q·k exact rows — broadcast the tiny side and count map-side
    # (the first spelling's left-outer forced a sort-merge that
    # shuffled all ~16M candidate rows at the 1M smoke); the per-query
    # n_exact frame then carries queries with zero candidate hits
    hit_counts = cands.join(
        F.broadcast(exact), ["query_id", "neighbor_id"]
    ).groupBy("query_id").agg(F.count("*").alias("n_hits"))
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hit_counts, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
    )
    ncand = cands.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    return (
        per_q.join(ncand, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.coalesce("n_candidates", F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double"), 4
            ).alias("recall_at_k"),
        )
    )


#: Integer DCG weights: W[r] = round(1e9 / log2(r+1)) for ranks 1..5,
#: computed ONCE here (the only transcendental evaluation) and injected
#: into both engines as literals — DCG sums are then exact int64, the
#: BM25 decimal-sum trick taken one step further (no in-engine ln/log
#: at all). IDCG@5 = ΣW (the ideal ranking puts a relevant doc at
#: every rank; the exact top-k always has k members on these corpora).
NDCG_W = (1_000_000_000, 630_929_754, 500_000_000, 430_676_558, 386_852_807)
NDCG_IDCG = sum(NDCG_W)


def _ndcg_w_case(rank_col: str) -> str:
    whens = " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(NDCG_W)
    )
    return f"CASE {rank_col} {whens} ELSE 0 END"


@query(
    "q_retrieval_ndcg",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    {_lsh_buckets_cte()},
    q AS (SELECT * FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {QUERY_ID_CAP}),
    dots AS (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(q.val * b.val) AS DOUBLE) AS dot
        FROM q JOIN v b ON q.pos = b.pos AND q.vec_id <> b.vec_id
        GROUP BY q.vec_id, b.vec_id
    ),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               {cos_div_sql('d.dot', 'nq.norm2 * nb.norm2')} AS sim
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nb ON nb.vec_id = d.neighbor_id
    ),
    topk AS (
        SELECT query_id, neighbor_id
        FROM (SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id ASC)
                       AS rk
              FROM scored)
        WHERE rk <= {TOP_K}
    ),
    lsh_ranked AS (
        SELECT query_id, neighbor_id, rk
        FROM (SELECT s.query_id, s.neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY s.query_id
                                        ORDER BY s.sim DESC,
                                                 s.neighbor_id ASC) AS rk
              FROM scored s
              JOIN lshcand c ON c.query_id = s.query_id
                            AND c.neighbor_id = s.neighbor_id)
        WHERE rk <= {TOP_K}
    ),
    gains AS (
        SELECT l.query_id,
               CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel,
               {_ndcg_w_case('l.rk')} AS w
        FROM lsh_ranked l
        LEFT JOIN topk t ON t.query_id = l.query_id
                        AND t.neighbor_id = l.neighbor_id
    )
    SELECT qq.vec_id AS query_id,
           CAST(COALESCE(g.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(g.dcg_scaled, 0) AS BIGINT) AS dcg_scaled,
           ROUND(CAST(COALESCE(g.dcg_scaled, 0) AS DOUBLE)
                 / {NDCG_IDCG}.0, 4) AS ndcg
    FROM (SELECT DISTINCT vec_id FROM q) qq
    LEFT JOIN (
        SELECT query_id, SUM(rel) AS n_hits, SUM(rel * w) AS dcg_scaled
        FROM gains GROUP BY query_id
    ) g ON g.query_id = qq.vec_id
    """,
)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k of the LSH retrieval path against the exact top-k —
    q_ann_recall's rank-weighted sibling: recall treats a hit at rank 1
    and rank 5 the same; nDCG charges each hit by its position, which
    is what a RAG pipeline actually experiences (context windows are
    filled top-down). Binary gains (candidate ∈ exact top-k), LSH
    candidates ranked by their true exact-int64 cosine.

    Determinism: the log2 discount is precomputed as INTEGER weights
    (NDCG_W — the only transcendental runs once, in Python, at import),
    so DCG is an exact int64 sum in both engines and the single
    division by the constant IDCG happens after all arithmetic —
    stricter than the BM25 decimal-sum pattern (no in-engine ln at
    all). Queries whose buckets yield no candidates emit n_hits = 0,
    ndcg = 0 rather than vanishing (the left join from the query
    block) — the monitor must SEE a starved query.

    Scale shape: everything is the q_ann_recall plan (bounded query
    block, stateless bucketing, equi-joins) plus one ≤ MAX_QUERIES·k
    window — no new corpus-sized state.
    """
    e = _quantized(load_tables(spark, sf_dir)).withColumn("n2", norm2_q("v"))
    qids = e.filter(_is_query()).select(F.col("vec_id").alias("query_id"))
    exact = q_sim_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("rel")
    )
    cand = q_ann_buckets(spark, sf_dir).select("query_id", "neighbor_id")
    # Candidate scoring is a GEMM-style kernel, NOT the HOF dot
    # expression: at the 1M smoke the LSH buckets yield ~16M candidate
    # rows, and interpreted per-element array folds took 225 s where
    # the per-row int64 einsum (queries broadcast, one gather per
    # batch) is seconds — the same HOF→BLAS move every hot path in
    # this module has made. Sims stay bit-identical (exact int64 dots,
    # identical float expression shape, the shared max(·, 1.0) guard).
    q_ids, Q, qn = _query_block(e, "vec_id", "v", "n2")
    order = np.argsort(q_ids)
    bcq = spark.sparkContext.broadcast((q_ids[order], Q[order], qn[order]))

    def sim_batches(batches):
        qids_s, Q_s, qn_s = bcq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qid, X, nn = _vecs(pdf, "query_id", "nv")
            idx = np.searchsorted(qids_s, qid)
            dot = np.einsum("ij,ij->i", Q_s[idx], X).astype(np.float64)
            sim = cos_div_np(dot, qn_s[idx] * nn)
            # per-batch local top-k over the padded pair block: the
            # global window's input shrinks from the full candidate
            # stream (~16M rows at the 1M smoke) to k·Q·n_batches
            nid = pdf["neighbor_id"].to_numpy(np.int64)
            yield _local_topk(*_pad_pairs(qid, nid, sim), TOP_K)

    nv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        "n2",
    )
    scored = (
        cand.join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", "nv", "n2")
        .mapInPandas(sim_batches, "query_id bigint, neighbor_id bigint, sim double")
    )
    ranked = _rank_merge(scored, "sim", TOP_K).select(
        "query_id", "neighbor_id", "rank_k"
    )
    gains = ranked.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        F.coalesce("rel", F.lit(0)).alias("rel"),
        F.expr(_ndcg_w_case("rank_k")).alias("w"),
    )
    agg = gains.groupBy("query_id").agg(
        F.sum("rel").alias("n_hits"),
        F.sum(F.col("rel") * F.col("w")).alias("dcg_scaled"),
    )
    return qids.join(agg, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.coalesce("dcg_scaled", F.lit(0)).cast("bigint").alias("dcg_scaled"),
        F.round(
            F.coalesce("dcg_scaled", F.lit(0)).cast("double") / float(NDCG_IDCG), 4
        ).alias("ndcg"),
    )


#: Per-label centroid-distance outliers: the top-N farthest members.
EMBED_OUTLIER_TOPN = 3


@query(
    "q_embed_outliers",
    oracle=f"""
    WITH {DUCK_FLAT_CTE},
    possum AS (
        SELECT label, pos, SUM(val) AS s, COUNT(*) AS n
        FROM v GROUP BY label, pos
    ),
    dev AS (
        SELECT v.vec_id, v.label,
               SUM(CAST(v.n_scaled AS HUGEINT) * CAST(v.n_scaled AS HUGEINT))
                 AS ssq,
               ANY_VALUE(v.n) AS n
        FROM (
            SELECT v.vec_id, v.label, p.n,
                   p.n * v.val - p.s AS n_scaled
            FROM v JOIN possum p ON p.label = v.label AND p.pos = v.pos
        ) v
        GROUP BY v.vec_id, v.label
    )
    SELECT label, vec_id,
           CAST(rnk AS BIGINT) AS rnk,
           ROUND(sqrt(CAST(ssq AS DOUBLE)) / CAST(n AS DOUBLE)
                 / {SCALE}.0, 6) AS centroid_dist
    FROM (
        SELECT label, vec_id, ssq, n,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY ssq DESC, vec_id ASC) AS rnk
        FROM dev
    )
    WHERE rnk <= {EMBED_OUTLIER_TOPN}
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the {topn} members FARTHEST from
    their label's centroid — the per-row anomaly detector beside
    q_embed_coherence's aggregate (a mislabeled or corrupt vector shows
    up here long before it moves the label's mean pairwise dot).

    The n-scaled-centroid trick keeps everything integer: the centroid
    µ = S/n is rational, so instead of comparing ‖v − µ‖ in floats the
    ranking compares ‖n·v − S‖² — exact DECIMAL/HUGEINT on the
    quantized int64 components (identical ordering: the per-label n is
    constant, so scaling by n² is monotone). The single sqrt/division
    happens once per emitted row, on exact integers, with the same
    expression shape in both engines.

    Scale shape: the per-(label, pos) sum table is ≤ labels·dim rows —
    BROADCAST back to the exploded corpus (no corpus-sized shuffle for
    the join); one partial-agg shuffle on vec_id re-assembles each
    row's deviation; the per-label top-{topn} window runs over
    label-partitioned data (WindowGroupLimit prunes to {topn} per
    partition before the exchange). No pair joins, no corpus window.
    """
    t = load_tables(spark, sf_dir)
    q = _quantized(t)
    flat = q.select("vec_id", "label", F.posexplode("v").alias("pos", "val"))
    possum = flat.groupBy("label", "pos").agg(
        F.sum("val").alias("s"), F.count("*").alias("n")
    )
    nsc = (F.col("n") * F.col("val") - F.col("s")).cast("decimal(19,0)")
    dev = (
        flat.join(F.broadcast(possum), ["label", "pos"])
        .select("vec_id", "label", "n", (nsc * nsc).alias("sq"))
        .groupBy("vec_id", "label")
        .agg(F.sum("sq").alias("ssq"), F.any_value("n").alias("n"))
    )
    w = W.partitionBy("label").orderBy(F.col("ssq").desc(), F.col("vec_id").asc())
    return (
        dev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= EMBED_OUTLIER_TOPN)
        .select(
            "label",
            "vec_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.round(
                F.sqrt(F.col("ssq").cast("double"))
                / F.col("n").cast("double")
                / SCALE,
                6,
            ).alias("centroid_dist"),
        )
    )


q_embed_outliers.__doc__ = q_embed_outliers.__doc__.format(topn=EMBED_OUTLIER_TOPN)
