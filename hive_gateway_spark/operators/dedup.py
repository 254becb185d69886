"""Deduplication suite (BASELINE.json north star): exact, shingle-Jaccard,
MinHash LSH, SimHash, and embedding-cosine near-dup.

Scale narrative (100 TB): exact dedup is a hash group-by (one shuffle on
the content key). The *verified* near-dup operator (q_dedup_ngram) joins
on shingles, which is exact but can skew on hot shingles at scale — the
production path is MinHash LSH (q_dedup_fuzzy: signature → bands →
bucket join, bounded fan-out) and SimHash banding (q_dedup_simhash);
both are here with deterministic seeds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from hive_gateway_spark.registry import query
from hive_gateway_spark.session import load_tables
from hive_gateway_spark.staging import SessionCache, release, stage

#: Word-n-gram shingle width (3-grams discriminate well: random-pair
#: Jaccard p99 ≈ 0.014 on the fixture, planted near-dups reach 0.99).
SHINGLE_N = 3

#: Near-dup threshold for the exact shingle-Jaccard operator.
JACCARD_TAU = 0.5  # compare as 2*shared >= union — integer, exact

def shingle_expr(n: int) -> str:
    """The width-``n`` word-shingle transform over a ``words`` column —
    the in-row higher-order-function spelling. Only streaming frames use
    it (shingle_hashes' stream branch and stream_minhash_dedup's in-row
    signature): a window function does not run on a stream, while a
    per-row array transform does. Batch frames take the window spelling
    of _shingle_rows instead, which whole-stage-codegens.

    The fixture/oracle width is {SHINGLE_N} (3-grams keep the tiny test
    corpora non-vacuous), but 3-gram shingles of a small zipf vocabulary
    are COMMON — the corpus scale family (SCALE_corpus_c4.json) flags a
    large share of its zipf corpus "contaminated" at n=3 and almost
    none off the footer docs at n=8. SCALE.md names 8–13-gram shingles as the
    production decontamination setting; callers that screen real corpora
    pass the width through pipeline.decontaminate(shingle_n=...)."""
    return (
        "transform(sequence(0, size(words) - {n}), "
        "i -> concat_ws(' ', slice(words, i + 1, {n})))"
    ).format(n=n)


_SHINGLE_EXPR = shingle_expr(SHINGLE_N)


def _shingle_rows(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle): one row per width-``n`` word window of a batch
    frame's ``text`` — the start of the xxhash64 shingle set
    (shingle_hashes) and of the portable MinHash fingerprint
    (_minhash_sig_build). Rows are not distinct; each caller dedups on
    its own key.

    Spelled as posexplode + window LEADs, NOT shingle_expr's
    `transform(sequence(...), i -> concat_ws(' ', slice(...)))`
    higher-order array expression: HOF lambdas evaluate INTERPRETED
    per element, and on the 2.6M-shingle sf1 staging the array
    spelling measured 14.6-33.6 s where this whole-stage-codegen'd
    window spelling measured 1.05-5.4 s same-process interleaved (the
    spread is host co-tenancy; the ratio is the signal). The window
    guard (`lead(w, n−1) IS NOT NULL`) reproduces the size(words) ≥ n
    filter row-for-row."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w0")
    )
    parts = [F.col("w0")] + [F.lead("w0", i).over(w) for i in range(1, n)]
    return (
        words.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("shingle"),
            parts[-1].alias("tail"),
        )
        .filter(F.col("tail").isNotNull())
        .select("doc_id", "shingle")
    )


def shingle_hashes(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, h): the distinct xxhash64 width-``n`` word-shingle
    hashes of each doc — the input of every Jaccard-ish operator and of
    the contamination meet, batch and stream.

    The spelling follows the frame. A batch frame shingles through
    _shingle_rows' codegen'd window, then dedups (doc_id, h) — the
    distinct runs on the HASH domain (a collision can only merge two
    shared-counts downstream, the ~n²/2⁶⁵ caveat q_dedup_ngram
    documents). A streaming frame cannot run a window, so it takes
    shingle_expr's in-row transform and array_distinct, which needs no
    cross-row state. Both yield the same set per doc_id (tested)."""
    if docs.isStreaming:
        hs = f"array_distinct(transform({shingle_expr(n)}, s -> xxhash64(s)))"
        return (
            docs.withColumn("words", F.split("text", " "))
            .filter(F.size("words") >= n)
            .select("doc_id", F.explode(F.expr(hs)).alias("h"))
        )
    return (
        _shingle_rows(docs, n)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .distinct()
    )


#: Hot-shingle document-frequency cap (VERDICT r01 "What's wrong" #5):
#: the pair join explodes k² rows for a shingle appearing in k docs, so
#: shingles with DF > cap are dropped from *pair generation* (not from
#: the union sizes — those stay exact). A shingle with high DF is
#: boilerplate carrying ~no Jaccard signal; at 100 TB this bounds the
#: per-key join fan-out at cap² and the hot set is small enough to
#: broadcast for an anti-join.
#:
#: Production default 512 (VERDICT r03 "What's wrong" #4 — the old
#: 10 000 default let a just-under-cap shingle emit ~5·10⁷ pairs; 512
#: bounds any one shingle at ~1.3·10⁵ while remaining ~20× above any
#: genuine dup-cluster size seen in the fixtures). The cap is MODELED IN
#: EVERY ORACLE (_duck_pairs_sql builds the same DF-histogram filter in
#: SQL), so Spark/DuckDB parity holds corpus-independently — not just
#: because the fixtures' max shingle DF (25 at sf0.1, the largest
#: planted dup cluster) happens to sit under the cap. The capping
#: mechanism, its pair-count bound at this default, and its preserved
#: near-dup recall are exercised by tests/test_dedup.py on synthetic
#: hot corpora (fixture-independent).
JACCARD_DF_CAP = 512


#: documents plan → checkpointed shingle set. q_dedup_ngram /
#: q_dedup_clusters / q_training_pipeline all start from the same
#: materialized (doc_id, h) set; without the cache each query re-runs
#: the shingle transform + checkpoint (~2.5 s at sf0.1). The plan
#: distinguishes sf_dirs, so a different parquet path never hits a
#: stale entry.
_SHINGLE_CACHE = SessionCache("dedup.shingles")


def _shingles_checkpointed(t) -> DataFrame:
    docs = t["documents"]
    return _SHINGLE_CACHE.get_or_build(
        docs.sparkSession, None, lambda: _shingles_build(t), plan=docs
    )


def _shingles_build(t) -> DataFrame:
    # keep the in-row set size n too: q_dedup_simhash's verification
    # joins need it, and it rides along for free (8 B/row)
    #
    # ONE repartition, BEFORE the transform: it parallelizes the
    # transform itself. The fixture is one small parquet file, so the
    # scan is ONE input split, and the shingle projection would
    # otherwise execute single-threaded in the scan task: measured 19 s
    # vs 3 s at sf1 — the whole of q_dedup_ngram's former super-linear
    # sf1 point (11.4×). Exchanging the raw (doc_id, text)
    # rows first is cheap (~6 MB at sf1) and lets every core shingle. At
    # 100 TB real file splits make this a no-op-sized safety net, never
    # a pessimization.
    #
    # The staging table carries no clustering on h: the checkpoint
    # reports UnknownPartitioning, so every reader's h-keyed shuffle
    # (pair join, DF histogram, contamination meet) plans its own
    # Exchange either way, and a second repartition on h here would be
    # paid and never reused. ~300 docs (≈15k shingles) per partition,
    # capped by the session's shuffle width: sf0.01 stays 1-2
    # partitions (task overhead dominates tiny inputs), sf0.1 gets ~16,
    # and any production corpus saturates the cap. The count is parquet
    # metadata — one cheap job per (session, sf_dir).
    cap = int(
        t["documents"].sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    npart = max(1, min(cap, t["documents"].count() // 300))
    # The set size n is a window over the same doc_id clustering: the
    # lead window, the per-(doc_id, h) distinct (subset-compatible
    # clustering → local aggregation, no re-shuffle) and this count all
    # reuse the raw-docs repartition, so no exchange is added.
    raw = t["documents"].select("doc_id", "text").repartition(npart, "doc_id")
    return (
        shingle_hashes(raw)
        .select(
            "doc_id",
            F.count("*").over(Window.partitionBy("doc_id")).alias("n"),
            "h",
        )
        .localCheckpoint()
    )


#: (documents plan, df_cap) → checkpointed pair set. The pair
#: computation (self-join + group) is the single most expensive stage
#: in the dedup family and FIVE queries start from the identical set
#: (q_dedup_ngram/clusters/training_pipeline/curation_v2/contamination).
#: On a cluster this is a materialized pairs table every downstream
#: dedup job reads. The contamination benchmark side, the oriented
#: edges and the k-core share it under their own keys.
_PAIRS_CACHE = SessionCache("dedup.pairs")

#: pairs plan → checkpointed weighted edge list for the PageRank family
#: (see _pagerank) — degree folded in, partitioned on src, shared by
#: q_dedup_rank / q_dedup_canonical.
_EDGES_CACHE = SessionCache("dedup.edges")


def _jaccard_pairs(
    t, df_cap: int = JACCARD_DF_CAP, stats: dict | None = None
) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs (doc_a < doc_b, τ = 0.5,
    integer predicate) — the shared core of q_dedup_ngram,
    q_dedup_clusters and q_training_pipeline. Returns
    (doc_a, doc_b, shared, union_sz). Checkpoint-cached per
    (session, documents plan, df_cap); ``stats`` callers bypass the
    cache (they need the candidate count re-measured).

    ``stats`` (tests only): when given, eagerly counts the candidate
    join size into ``stats["raw_pairs"]`` — the quantity the DF cap
    bounds — at the cost of an extra action."""
    docs = t["documents"]
    if stats is None:
        return _PAIRS_CACHE.get_or_build(
            docs.sparkSession,
            df_cap,
            lambda: _jaccard_pairs_build(t, df_cap, None).localCheckpoint(),
            plan=docs,
        )
    return _jaccard_pairs_build(t, df_cap, stats)


def _jaccard_pairs_build(t, df_cap: int, stats: dict | None) -> DataFrame:
    # Materialize the (doc_id, shingle-hash) set ONCE: it feeds sizes,
    # the DF histogram AND both sides of the pair join — without the
    # checkpoint the shingle transform re-executes per consumer (~6×).
    # At cluster scale this is the standard stage-once-reuse pattern
    # (a staging table on a real cluster; executor-local blocks here).
    # No distinct(): shingle_hashes already dedups (doc_id, h) — a
    # distinct here is a wasted full shuffle (verified equal counts at
    # sf0.1).
    #
    # Design note: the DF histogram + broadcast anti-join costs one
    # extra (tiny: map-side combine → distinct shingles) shuffle vs
    # folding the cap into a groupBy(h)+collect_list pair generator,
    # but stays memory-bounded under arbitrary skew — collect_list on a
    # boilerplate shingle present in 10M docs would materialize the
    # whole doc list in one aggregation buffer before any size filter
    # could drop it.
    sh = _shingles_checkpointed(t).select("doc_id", "n", "h")
    hot = (
        sh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("h")
    )
    sh_capped = sh.join(F.broadcast(hot), "h", "left_anti")
    a = sh_capped.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("sn_a"), "h")
    b = sh_capped.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("sn_b"), "h")
    # Length filter (ppjoin-style, EXACT for the τ=0.5 integer
    # predicate): 2·shared ≥ na+nb−shared and shared ≤ min(na,nb)
    # imply max(na,nb) ≤ 2·min(na,nb), so pairs violating it can never
    # pass the final threshold — dropping them at the join residual
    # shrinks the groupBy input for free (n rides on the shingle
    # checkpoint already). Provably redundant with the final filter,
    # so the oracle SQL needs no change.
    cond = (
        (F.col("a.h") == F.col("b.h"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (F.greatest("sn_a", "sn_b") <= 2 * F.least("sn_a", "sn_b"))
    )
    raw = a.alias("a").join(b.alias("b"), cond).select("doc_a", "doc_b", "sn_a", "sn_b")
    if stats is not None:
        stats["raw_pairs"] = raw.count()
    # sn_a/sn_b are functionally determined by (doc_a, doc_b) — folding
    # them into the grouping key avoids the two size-lookup joins the
    # previous version paid (the per-doc set size is already on every
    # shingle checkpoint row).
    return (
        raw.groupBy("doc_a", "doc_b", "sn_a", "sn_b")
        .agg(F.count("*").alias("shared"))
        .withColumn("union_sz", F.col("sn_a") + F.col("sn_b") - F.col("shared"))
        .filter(2 * F.col("shared") >= F.col("union_sz"))
        .select("doc_a", "doc_b", "shared", "union_sz")
    )


def _duck_shingles(src: str = "documents") -> str:
    """DuckDB twin of _shingle_rows' shingling (LEAD window 3-grams)
    over ``src`` — parametrized so oracles that plant extra rows (e.g.
    q_contamination's cross-benchmark near-dups) shingle an augmented
    corpus CTE with the exact same logic."""
    return f"""
    tok AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM {src}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w
                 AS shingle
        FROM tok
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY LEAD(word, {SHINGLE_N - 1}) OVER w IS NOT NULL
    )
"""


_DUCK_SHINGLES = _duck_shingles()


def _duck_pairs_sql(cap: int = JACCARD_DF_CAP, src: str = "documents") -> str:
    """DuckDB twin of _jaccard_pairs INCLUDING the hot-shingle DF cap
    (VERDICT r03 "What's wrong" #4 — an unmodeled cap means the
    "exact-verified" operator silently diverges from its oracle the
    moment a real corpus has a shingle with DF > cap). Mirrors the
    engine exactly: the DF histogram drops hot shingles from *pair
    generation* only; per-doc set sizes stay uncapped, so ``shared``
    shrinks and ``union_sz`` grows by the same amount — conservative,
    never inventing a pair. Exposes ``fullpairs`` (doc_a, doc_b, shared,
    union_sz) and the thresholded ``pairs`` projection consumed by the
    cluster/pipeline oracles."""
    return f"""
    {_duck_shingles(src)},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {cap}),
    shc AS (
        SELECT doc_id, shingle FROM sh
        WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.shingle = sh.shingle)
    ),
    rawpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    fullpairs AS (
        SELECT p.doc_a, p.doc_b, p.shared, (na.n + nb.n - p.shared) AS union_sz
        FROM rawpairs p
        JOIN sizes na ON na.doc_id = p.doc_a
        JOIN sizes nb ON nb.doc_id = p.doc_b
        WHERE 2 * p.shared >= (na.n + nb.n - p.shared)
    ),
    pairs AS (SELECT doc_a, doc_b FROM fullpairs)
"""


@query(
    "q_dedup_exact",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
    GROUP BY lang
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic survivor (min doc_id per text —
    dropDuplicates would keep an arbitrary row), then a per-lang report.
    One shuffle on the text hash; at 100 TB dedup on sha2(text) instead
    of the full text to shrink the exchange (same plan shape)."""
    t = load_tables(spark, sf_dir)
    keepers = t["documents"].groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return (
        t["documents"]
        .join(keepers.select("doc_id"), "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "q_dedup_ngram",
    oracle=f"""
    WITH {_duck_pairs_sql()}
    SELECT doc_a, doc_b, shared, union_sz,
           ROUND(CAST(shared AS DOUBLE) / union_sz, 4) AS jaccard
    FROM fullpairs
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (τ = 0.5, compared in integer
    arithmetic: 2·|A∩B| ≥ |A∪B| — no float in the predicate), with the
    hot-shingle DF cap modeled identically in the oracle
    (_duck_pairs_sql), so parity is corpus-independent.

    The self-join runs on xxhash64(shingle) — 8-byte shuffle keys
    instead of variable-length strings (≈2× less exchange volume; a
    64-bit collision altering a Jaccard count has probability ~n²/2⁶⁵,
    negligible against the verification gate)."""
    t = load_tables(spark, sf_dir)
    return _jaccard_pairs(t).select(
        "doc_a",
        "doc_b",
        "shared",
        "union_sz",
        F.round(F.col("shared").cast("double") / F.col("union_sz"), 4).alias("jaccard"),
    )


def _dedup_fuzzy_oracle() -> str:
    """The full MinHash-LSH fuzzy-dedup oracle: portable signatures →
    capped band buckets → candidate pairs → EXACT shingle-Jaccard
    verification at τ = JACCARD_TAU (integer predicate). Built lazily
    because _LSH_SIG_CTE is defined below with the banding machinery."""
    return f"""
    WITH {_DUCK_SHINGLES},
    hv AS (
        SELECT doc_id, {_MH_HV_DUCK} AS hv
        FROM sh
    ),
    {_LSH_SIG_CTE},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bounded a JOIN bounded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS shared,
               MAX(na.n) AS n_a, MAX(nb.n) AS n_b
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        JOIN sizes na ON na.doc_id = c.doc_a
        JOIN sizes nb ON nb.doc_id = c.doc_b
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(shared AS DOUBLE) / (n_a + n_b - shared), 4) AS jaccard
    FROM verified
    WHERE 2 * shared >= (n_a + n_b - shared)
    """


def _register_dedup_fuzzy() -> None:
    """Deferred registration: the oracle composes _LSH_SIG_CTE, which
    is defined further down this module (with the banding machinery it
    describes); registering after module definitions keeps one source
    of truth for the band geometry instead of a forward copy."""

    @query("q_dedup_fuzzy", oracle=_dedup_fuzzy_oracle())
    def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MinHash LSH fuzzy dedup, END-TO-END hash-verified (SURVEY
        §2.3; until r11 this was the one rows-only contract query):
        portable k={MINHASH_K} universal-hash MinHash signatures
        (q_minhash_signatures' exact-integer arithmetic) → capped
        4-band × 2-row bucket join (q_lsh_candidates' machinery,
        {BAND_BUCKET_CAP}-member bucket cap modeled in the oracle) →
        EXACT shingle-Jaccard verification of the candidates at
        τ = {JACCARD_TAU} (integer predicate, xxhash64 shingle
        equality — the q_dedup_ngram discipline). Emits
        (doc_a, doc_b, jaccard) for verified near-dups.

        This is the production fuzzy-dedup shape: candidates are
        generated by banding (bounded fan-out, immune to hot-shingle
        skew), then only the small candidate set pays the exact
        verification joins — precision 1.0 by construction, recall =
        the S-curve's (1−(1−s²)⁴), pinned vs the exact twin in
        tests/test_dedup.py.

        Scale shape: one signature aggregate (64 B/doc), one capped
        (band, bkey) equi-join, two candidate-bounded hash joins over
        the checkpointed shingle staging — never all-pairs, no
        corpus broadcast."""
        t = load_tables(spark, sf_dir)
        cand = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
        tok = _shingles_checkpointed(t)  # shared staging (doc_id, n, h)
        pa = cand.join(
            tok.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "h"),
            "doc_a",
        )
        return (
            pa.join(
                tok.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "h"
                ),
                ["doc_b", "h"],
            )
            .groupBy("doc_a", "doc_b", "n_a", "n_b")
            .agg(F.count("*").alias("shared"))
            .filter(
                2 * F.col("shared")
                >= (F.col("n_a") + F.col("n_b") - F.col("shared"))
            )
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.col("shared").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                    4,
                ).alias("jaccard"),
            )
        )


# ------------------------------------------------------ banded pair join
# One LSH banding join (Leskovec, Rajaraman & Ullman, Mining of Massive
# Datasets, ch. 3) for every near-dup family: MinHash (q_lsh_candidates
# → q_dedup_fuzzy), SimHash, the perceptual-hash legs and the ingest
# image screen split a signature into bands, drop hot buckets, and
# join the members of each bucket.

#: Band-bucket membership cap of every capped band join, same policy
#: and default as JACCARD_DF_CAP: a degenerate bucket with k members
#: emits k² candidate pairs, so a corpus with thousands of IDENTICAL
#: signatures (one logo stamped on every page — the realistic hot key)
#: would otherwise explode the self-join quadratically. Buckets above
#: the cap are dropped from pair generation; modeled in the
#: q_lsh_candidates oracle so parity is corpus-independent.
BAND_BUCKET_CAP = 512


def band_key(h: Column, band: int, n_bands: int) -> Column:
    """Key of band ``band`` when the 64-bit hash ``h`` splits into
    ``n_bands`` bands of 64 // n_bands bits — the one band split."""
    w = 64 // n_bands
    return F.shiftrightunsigned(h, w * band).bitwiseAND(F.lit((1 << w) - 1))


def hash_bands(frame: DataFrame, hash_col: str, n_bands: int) -> DataFrame:
    """``frame`` with (band, key) added: one row per band of its 64-bit
    ``hash_col``."""
    keys = F.array(*[band_key(F.col(hash_col), j, n_bands) for j in range(n_bands)])
    return frame.select("*", F.posexplode(keys).alias("band", "key"))


def cap_buckets(bands: DataFrame, cap: int) -> DataFrame:
    """``bands`` without the members of (band, key) buckets holding more
    than ``cap`` rows. A window count beats a groupBy + join: one
    shuffle on the (band, key) the band join needs anyway."""
    sz = F.count("*").over(Window.partitionBy("band", "key"))
    return bands.withColumn("_sz", sz).filter(F.col("_sz") <= cap).drop("_sz")


def band_pairs(
    bands: DataFrame, cap: int | None, verify: Column | None = None
) -> DataFrame:
    """The band self-join of a (doc_id, band, key, *carried) frame:
    every pair doc_a < doc_b sharing a (band, key) bucket, once, as
    (doc_a, doc_b, n_shared_bands, <col>_a and <col>_b per carried
    column). ``cap`` drops buckets above that many members first (None:
    no cap); ``verify``, a predicate over the pair's columns, drops a
    pair at the join, before the collapse shuffles it.

    The collapse shuffles on the pair alone (a carried column is a
    function of its doc, so max() is its value): a caller that groups
    by the pair plus columns of its own reuses that one shuffle.

    Scale shape (100 TB): never all-pairs — an equi-join on (band, key),
    the cap bounding the worst bucket's fan-out at cap² however many
    identical signatures the corpus holds."""
    if cap is not None:
        bands = cap_buckets(bands, cap)
    carried = [c for c in bands.columns if c not in ("doc_id", "band", "key")]

    def side(s: str) -> DataFrame:
        return bands.select(
            F.col("doc_id").alias(f"doc_{s}"),
            "band",
            "key",
            *[F.col(c).alias(f"{c}_{s}") for c in carried],
        )

    joined = side("a").join(side("b"), ["band", "key"])
    joined = joined.filter(F.col("doc_a") < F.col("doc_b"))
    if verify is not None:
        joined = joined.filter(verify)
    return joined.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_shared_bands"),
        *[F.max(f"{c}_{s}").alias(f"{c}_{s}") for s in "ab" for c in carried],
    )


def banded_hash_pairs(
    frame: DataFrame,
    hash_col: str,
    ham_t: int,
    n_bands: int = 4,
    cap: int | None = BAND_BUCKET_CAP,
) -> DataFrame:
    """(doc_a, doc_b, hamming), doc_a < doc_b: pairs of ``frame``'s
    64-bit ``hash_col`` within Hamming ≤ ``ham_t``, by band join plus an
    exact JVM bit_count(xor) verify. A pair at distance d < n_bands
    shares a band (pigeonhole), so the result is complete up to there;
    beyond, a pair is found iff some band matches and survives the cap.
    The verify runs at the join, so the collapse shuffles surviving
    near-dups, not every band collision."""
    ham = F.bit_count(
        F.col(f"{hash_col}_a").bitwiseXOR(F.col(f"{hash_col}_b"))
    ).cast("bigint")
    bands = hash_bands(frame.select("doc_id", hash_col), hash_col, n_bands)
    pairs = band_pairs(bands, cap, verify=ham <= ham_t)
    return pairs.select("doc_a", "doc_b", ham.alias("hamming"))


@query("q_dedup_simhash")  # rows-only: engine-native hash (xxhash64) — no SQL oracle
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pipeline: 64-bit sign-aggregated **shingle**
    hashes → candidate pairs by 8-bit band collision + Hamming ≤ 6 →
    exact shingle-Jaccard verification of the candidates. All JVM bit
    arithmetic (xxhash64 / bit_count), no UDF.

    Band trick: d < 8 guarantees collision on ≥1 of 8 bands
    (pigeonhole); the banding join shuffles on band values, not
    all-pairs — the scale-out step. SimHash is noisy on short docs
    (per-bit sums of ~40 ±1 terms hover near 0, so a few shingle edits
    can flip many bits), which is why the pipeline ends in exact
    verification: precision is 1.0 by construction, recall vs the
    exact twin is pinned in tests/test_dedup.py."""
    t = load_tables(spark, sf_dir)
    # tok feeds the fingerprint agg and both verification joins —
    # checkpoint so the shingle transform runs once
    tok = _shingles_checkpointed(t)  # shared staging (doc_id, n, h)
    # Sum each bit's SET count (plus one shared row count): the sign
    # sum of ±1 equals 2·set − n, so bit b is set iff 2·s_b > n — same
    # fingerprint, 64 plain bit-extract sums instead of 64 CASE WHEN
    # branches per shingle row (r16 optimization round, guide §1.2
    # per-task work).
    bit_sums = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nsh"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(64)
        ],
    )
    simhash = F.lit(0).cast("bigint")
    for b in range(64):
        simhash = simhash.bitwiseOR(
            F.when(
                F.col(f"b{b}") * 2 > F.col("nsh"),
                F.shiftleft(F.lit(1).cast("bigint"), b),
            ).otherwise(0)
        )
    # Stage the docs-sized fingerprint table (16 B/row): BOTH sides of
    # the band self-join consume it, and without the checkpoint the
    # 64-sum aggregate over every shingle ran TWICE — once per join
    # side (plan-verified: two independent Exchange+HashAggregate[64]
    # subtrees in plans/r16/q_dedup_simhash_before.txt; guide §2.4
    # remove shuffles outright).
    fp = stage(bit_sums.select("doc_id", simhash.alias("simhash")), "dedup.simhash.fp")
    # 8 bands × 8 bits: d < 8 ⇒ guaranteed band collision (pigeonhole),
    # so the Hamming ≤ 6 candidates are complete. Uncapped.
    cands = banded_hash_pairs(fp, "simhash", 6, n_bands=8, cap=None)
    # Exact verification of the (small) candidate set: shared-shingle
    # counts via two hash joins, integer Jaccard predicate (τ = 0.5).
    pa = cands.join(
        tok.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "h"),
        "doc_a",
    )
    return (
        pa.join(
            tok.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "h"),
            ["doc_b", "h"],
        )
        .groupBy("doc_a", "doc_b", "hamming", "n_a", "n_b")
        .agg(F.count("*").alias("shared"))
        .filter(2 * F.col("shared") >= (F.col("n_a") + F.col("n_b") - F.col("shared")))
        .select("doc_a", "doc_b", "hamming")
    )


#: Embedding near-dup threshold (fixture max within-label cosine ≈ 0.47).
EMBED_DUP_TAU = 0.4


@query(
    "q_dedup_embedding",
    oracle=None,  # set below via _embed_dup_oracle() — needs the shared CTE
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs above τ inside label blocks; the
    lower vec_id is the canonical survivor (keep_id).

    Runs on the blocked int64-GEMM kernel shared with q_sim_cosine_pairs
    (functions/vectors.py:gemm_pair_block) — one shuffle on the blocking
    key, pairs materialize only inside the executor kernel, never as
    shuffled join rows (VERDICT r01 "What's wrong" #4: the previous
    per-label row join was O(n²/blocks) exchange volume at scale)."""
    from hive_gateway_spark.functions.vectors import gemm_pair_block, vec_q

    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "label", vec_q("embedding").alias("v"))
    block, schema = gemm_pair_block(EMBED_DUP_TAU, with_sim=False)
    return (
        e.groupBy("label")
        .applyInPandas(block, schema)
        .select(F.col("vec_a").alias("keep_id"), F.col("vec_b").alias("dup_id"))
    )


def _embed_dup_oracle() -> str:
    from hive_gateway_spark.functions.vectors import DUCK_FLAT_CTE

    return f"""
    WITH {DUCK_FLAT_CTE},
    dots AS (
        SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
               CAST(SUM(a.val * b.val) AS DOUBLE) AS dot
        FROM v a
        JOIN v b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT d.keep_id, d.dup_id
    FROM dots d
    JOIN norms na ON na.vec_id = d.keep_id
    JOIN norms nb ON nb.vec_id = d.dup_id
    WHERE d.dot > 0
      AND d.dot * d.dot >= {EMBED_DUP_TAU * EMBED_DUP_TAU} * na.norm2 * nb.norm2
    """


from hive_gateway_spark.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["q_dedup_embedding"] = _embed_dup_oracle()


#: Shared CTE: the exact near-dup pair set as SQL (same as q_dedup_ngram),
#: built by _duck_pairs_sql so the hot-shingle DF cap is modeled in SQL.
_DUCK_PAIRS = _duck_pairs_sql()


#: Edge-count threshold below which connected_components solves on the
#: driver: 1M (doc_a, doc_b) longs ≈ 16 MB — trivially collectable, and
#: a Python union-find beats ~10 Spark jobs of pure stage overhead by
#: ~5× at fixture scale. Above it, the distributed pointer-jumping loop
#: runs. This mirrors production graph systems (GraphFrames/GraphX
#: both special-case small graphs): the thresholded near-dup PAIR set
#: is orders of magnitude smaller than the corpus, so even large
#: corpora often land in the local path — and when they don't, the
#: BSP loop is the one that scales.
CC_LOCAL_MAX_EDGES = 1 << 20


def _union_find_labels(edges: list) -> dict:
    """Driver-side union-find with path compression + union by size;
    returns {node: min-id-of-component}."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps the invariant root == component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
            parent.setdefault(ra, ra)
    return {n: find(n) for e in edges for n in e}


def connected_components(
    pairs: DataFrame,
    max_rounds: int = 25,
    stats: dict | None = None,
    local_max_edges: int = CC_LOCAL_MAX_EDGES,
) -> DataFrame:
    """(doc_a, doc_b) undirected pair graph → (doc_id, cluster_id) with
    cluster_id = min doc_id in the component.

    Iterative min-label propagation (Pregel/BSP shape) with **pointer
    jumping** (path halving): each round a vertex takes the min of (a)
    its label, (b) its neighbors' labels, and (c) the label OF its
    current label — (c) shortcuts label-chains, so convergence is
    O(log diameter) rounds instead of O(diameter). Near-dup clusters
    are usually shallow, but a 100 TB crawl produces chain-shaped
    clusters (doc_i ≈ doc_{i+1}) where the log bound is the difference
    between 4 rounds and 40 (tests/test_dedup.py pins a 12-link chain).

    Labels are node ids and only ever decrease within a component, so
    the fixpoint is the component minimum. The loop is driver-side
    control flow only; each round's data work is joins/aggregations
    with O(edges) shuffle. localCheckpoint per round cuts lineage —
    without it round N re-executes rounds 1..N-1 (quadratic blow-up).

    Size-adaptive: when the pair set fits under ``local_max_edges``
    (checked with a bounded ``limit(n+1).collect()`` — never an
    unbounded driver materialization), a driver union-find replaces the
    BSP loop entirely; ``stats["local"]`` records which path ran."""
    if local_max_edges:
        sample = pairs.select("doc_a", "doc_b").limit(local_max_edges + 1).collect()
        if len(sample) <= local_max_edges:
            if stats is not None:
                stats["rounds"] = 0
                stats["local"] = True
            lab = _union_find_labels([(r[0], r[1]) for r in sample])
            return pairs.sparkSession.createDataFrame(
                sorted(lab.items()), "doc_id bigint, cluster_id bigint"
            )
    if stats is not None:
        stats["local"] = False
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).persist()
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("lbl"))
        .select("src", F.least(F.col("src"), F.col("lbl")).alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):  # log₂(diameter) effective bound
        neigh = (
            edges.join(labels.withColumnRenamed("src", "dst2"), F.col("dst") == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        cand = labels.join(neigh, "src", "left").select(
            "src",
            F.col("lbl").alias("olbl"),
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("clbl"),
        )
        # pointer jump: look up the label of the candidate label (labels
        # are node ids, and every node id in the graph is a labels key)
        jump = labels.select(F.col("src").alias("jsrc"), F.col("lbl").alias("jlbl"))
        # change detection rides the round's own checkpoint (VERDICT r04
        # #7 / r05 #4): the old label is carried through the jump join
        # and compared in the same projection, so "did anything change"
        # is a scan of the just-materialized checkpoint blocks — no
        # extra join/shuffle job per round.
        stepped = (
            cand.join(jump, F.col("clbl") == F.col("jsrc"), "left")
            .select(
                "src",
                F.least(F.col("clbl"), F.coalesce(F.col("jlbl"), F.col("clbl"))).alias("lbl"),
                (F.least(F.col("clbl"), F.coalesce(F.col("jlbl"), F.col("clbl")))
                 != F.col("olbl")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("chg")).limit(1).count()
        labels = stepped.select("src", "lbl")
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("src").alias("doc_id"), F.col("lbl").alias("cluster_id"))



@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_DUCK_PAIRS},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach
    GROUP BY src
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the exact
    near-dup pair graph, cluster id = min doc_id in the component — the
    step that turns pairwise matches into keep/drop decisions.

    Spark has no recursive CTE, and at 100 TB you would not want one:
    see connected_components (min-label propagation + pointer jumping).
    The DuckDB oracle computes the same components via a recursive
    transitive closure."""
    t = load_tables(spark, sf_dir)
    return connected_components(_jaccard_pairs(t).select("doc_a", "doc_b"))


_PIPELINE_ORACLE = f"""
WITH {_DUCK_PAIRS},
normed AS (
    SELECT doc_id, lang, source, n_chars,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS norm_text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
quality AS (
    SELECT * FROM normed WHERE n_tokens >= 10 AND lang IN ('en','fr','es','de','zh')
),
exact_kept AS (
    SELECT * FROM quality
    WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY norm_text)
),
near_dropped AS (
    -- drop the higher doc_id of every near-dup pair (canonical survivor)
    SELECT * FROM exact_kept
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
),
split AS (
    SELECT *,
           CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
                THEN 'train' ELSE 'val' END AS subset
    FROM near_dropped
)
SELECT subset, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM split
GROUP BY subset, lang
"""


@query("q_training_pipeline", oracle=_PIPELINE_ORACLE)
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition: an end-to-end training-data curation
    pipeline over `documents`, every stage one of the engine's verified
    operators —

      normalize (case/punct/whitespace canonicalization)
      → quality gate (≥10 tokens) + language allowlist
      → exact dedup on the normalized text (min-doc_id survivor)
      → near-dup removal (shingle-Jaccard pairs; the doc_b of each
        pair is dropped, keeping the canonical lower id)
      → deterministic 90/10 train/val split (multiplicative hash —
        reproducible and partition-stable, q_sample_hash's primitive)
      → per-(subset, lang) corpus report.

    Scale shape: two shuffles (dedup group-by, final report) plus the
    near-dup pair join; everything else is narrow. At 100 TB the
    near-dup stage swaps in the MinHash-LSH candidates
    (q_dedup_fuzzy) with identical downstream plumbing."""
    t = load_tables(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )
    normed = t["documents"].select(
        "doc_id",
        "lang",
        "n_chars",
        norm.alias("norm_text"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    quality = normed.filter(
        (F.col("n_tokens") >= 10)
        & F.col("lang").isin("en", "fr", "es", "de", "zh")
    )
    keepers = quality.groupBy("norm_text").agg(F.min("doc_id").alias("doc_id"))
    exact_kept = quality.join(keepers.select("doc_id"), "doc_id", "left_semi")
    # near-dup victims: doc_b side of the exact shingle-Jaccard pairs
    victims = _jaccard_pairs(t).select(F.col("doc_b").alias("doc_id")).distinct()
    deduped = exact_kept.join(victims, "doc_id", "left_anti")
    subset = F.when(
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) % 100 < 90, "train"
    ).otherwise("val")
    return (
        deduped.withColumn("subset", subset)
        .groupBy("subset", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


#: Benchmark-set selector (every 97th doc plays "eval benchmark") and the
#: minimum shared-shingle count that flags contamination.
CONTAM_BENCH_MOD = 97
CONTAM_MIN_SHARED = 5


def is_benchmark() -> Column:
    """The benchmark slice of the contamination rule, over ``doc_id``."""
    return F.col("doc_id") % CONTAM_BENCH_MOD == 0


def contamination_pairs(train_sh: DataFrame, bench_sh: DataFrame) -> DataFrame:
    """(bench_id, train_id, shared_ngrams): every (benchmark doc,
    training doc) pair sharing ≥ CONTAM_MIN_SHARED shingle hashes — the
    one contamination meet of q_contamination, q_curation_v2, the
    pipeline's decontaminate stage and both streaming twins.

    Both inputs are (doc_id, h) shingle sets (shingle_hashes or the
    checkpointed staging). The training side keeps its non-benchmark
    docs and the benchmark side its benchmark slice, so one corpus
    frame may feed both.

    The join strategy is Spark's, from the inputs' size statistics: at
    the fixture scales q_curation_v2 and both streaming twins plan a
    broadcast of the benchmark slice, and a slice over
    spark.sql.autoBroadcastJoinThreshold does not broadcast. A caller
    that must not broadcast hints its training side ``shuffle_hash``,
    as q_contamination and CurationPipeline.decontaminate do; the hint
    reaches the join through the slice filter."""
    train = train_sh.filter(~is_benchmark()).alias("tr")
    bench = bench_sh.filter(is_benchmark()).alias("b")
    return (
        train.join(bench, "h")
        .groupBy(
            F.col("b.doc_id").alias("bench_id"), F.col("tr.doc_id").alias("train_id")
        )
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= CONTAM_MIN_SHARED)
    )


#: Planted contamination evidence (VERDICT r03 "What's wrong" #2): the
#: fixture corpus happens to contain no cross-%97 near-dup pair at
#: sf0.01, so the green driver row was vacuous (0 rows vs 0 rows — a
#: sign/threshold bug producing always-empty output would "pass").
#: Plant two benchmark docs (doc_id % 97 == 0) plus a near-dup and an
#: exact-dup training twin, UNION'd identically into both engines (the
#: _PII_ROWS pattern, text.py): family A shares 7 of 8 shingles, family
#: B all 8 — both ≥ CONTAM_MIN_SHARED, so the row is provably non-empty.
#: IDs sit far above the fixture range (fixture max doc_id ≪ 9.7M).
_CONTAM_ROWS = [
    (9_700_000, "zeta omega theta sigma lambda kappa epsilon upsilon gamma delta"),
    (9_700_001, "zeta omega theta sigma lambda kappa epsilon upsilon gamma rho"),
    (9_700_097, "quark lepton boson hadron photon gluon neutrino meson baryon tau"),
    (9_700_098, "quark lepton boson hadron photon gluon neutrino meson baryon tau"),
]
_CONTAM_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _CONTAM_ROWS)

#: Precomputed xxhash64 shingle hashes of _CONTAM_ROWS (VERDICT r04
#: "What's wrong" #2): shingling the 4-row planted relation through
#: shingle_hashes per run inserted a createDataFrame+higher-order-
#: transform plan into both sides of the broadcast join and cost 4.4×
#: wall-time. The planted side is tiny and FIXED, so its hashes are
#: baked as literals — a 32-row LocalRelation with no transform plan.
#: Pinned against the runtime kernel by
#: tests/test_dedup.py::test_contam_planted_hashes_match_kernel, so a
#: change to _CONTAM_ROWS / SHINGLE_N / the hash fn cannot silently
#: desync them.
_CONTAM_HASHES = [
    (9_700_000, -4233856177689750741), (9_700_000, -3253479274326828418),
    (9_700_000, -1455065496975027341), (9_700_000, -1234322438088224051),
    (9_700_000, 2012818582603747318), (9_700_000, 2861875772094789864),
    (9_700_000, 4030974255079374242), (9_700_000, 9009953776112868110),
    (9_700_001, -4233856177689750741), (9_700_001, -3253479274326828418),
    (9_700_001, -1455065496975027341), (9_700_001, -1234322438088224051),
    (9_700_001, 2861875772094789864), (9_700_001, 4030974255079374242),
    (9_700_001, 8816576228583518007), (9_700_001, 9009953776112868110),
    (9_700_097, -8983361900162579564), (9_700_097, -6010188548273956203),
    (9_700_097, -5650786595476143572), (9_700_097, -4643953931525567121),
    (9_700_097, -3469035525899562614), (9_700_097, -776518186611994326),
    (9_700_097, 1001699771178766685), (9_700_097, 6054062084871409062),
    (9_700_098, -8983361900162579564), (9_700_098, -6010188548273956203),
    (9_700_098, -5650786595476143572), (9_700_098, -4643953931525567121),
    (9_700_098, -3469035525899562614), (9_700_098, -776518186611994326),
    (9_700_098, 1001699771178766685), (9_700_098, 6054062084871409062),
]


@query(
    "q_contamination",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_CONTAM_VALUES}) AS v(doc_id, text)
    ),
    {_duck_shingles("corpus")}
    SELECT b.doc_id AS bench_id, tr.doc_id AS train_id,
           COUNT(*) AS shared_ngrams
    FROM sh b
    JOIN sh tr ON b.shingle = tr.shingle
    WHERE b.doc_id % {CONTAM_BENCH_MOD} = 0
      AND tr.doc_id % {CONTAM_BENCH_MOD} <> 0
    GROUP BY b.doc_id, tr.doc_id
    HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check — the train/eval leakage audit every
    LLM training pipeline needs: flag training documents sharing ≥K
    word-n-gram hashes with any benchmark document (here the benchmark
    set is the deterministic is_benchmark (doc_id % 97 == 0) slice plus
    planted known-contaminated pairs; in production it's the eval
    suites).

    Scale shape: contamination_pairs' meet on the 8-byte shingle hash
    + one count aggregation; the remaining warm cost is ~5 stages ×
    local-mode stage overhead, not data volume. The planted evidence is
    PRECOMPUTED (doc_id, xxhash64) literals (_CONTAM_HASHES), passed to
    createDataFrame as a pandas frame — with Arrow on, a LocalTableScan
    whose rows live in the plan, like similarity._centers_frame — and
    unioned AFTER the shared checkpointed staging: no per-run shingle
    transform plan, and the session-wide shingle cache stays pristine
    for the other Jaccard-family queries."""
    t = load_tables(spark, sf_dir)
    sh_planted = spark.createDataFrame(
        pd.DataFrame(_CONTAM_HASHES, columns=["doc_id", "h"]), "doc_id bigint, h bigint"
    )
    # The slice filters push below the Union into each branch, so the
    # union touches only the filtered rows: a UnionExec over the
    # 260k-row checkpoint itself forfeits the fast cached-scan path
    # (measured ~3.7× slower at sf0.1).
    sh = _shingles_checkpointed(t).select("doc_id", "h").unionByName(sh_planted)
    # The benchmark side is itself checkpoint-cached per session (the
    # eval-suite shingle table of a production pipeline — built once,
    # screened against forever): drops one filter+union job from every
    # warm run.
    bench = _PAIRS_CACHE.get_or_build(
        spark,
        "contam_bench",
        lambda: sh.filter(is_benchmark()).localCheckpoint(),
        plan=t["documents"],
    )
    # shuffle_hash, not broadcast: at local[32]/sf0.1 the broadcast
    # collect+rebuild cost more than shuffling the staged rows (measured
    # 1.03 s vs 0.85 s warm), and at 100 TB the benchmark side is
    # whatever the eval suites are.
    return contamination_pairs(sh.hint("shuffle_hash"), bench)


#: MinHash signature geometry for the SQL-verifiable signature operator:
#: k universal-hash permutations h_i(x) = (a_i·x + b_i) mod p over a
#: portable integer shingle fingerprint. p is Mersenne 2³¹−1 so a_i·hv
#: stays < 2⁶² — inside exact int64 range on BOTH engines (Spark runs
#: ANSI overflow-checked multiply); a_i/b_i come from a fixed LCG seed.
MINHASH_K = 8
_MH_P = (1 << 31) - 1
_MH_COEF = []
_s = 0x9E3779B97F4A7C15
for _i in range(MINHASH_K):
    _s = (_s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    _a = (_s % (_MH_P - 1)) + 1
    _s = (_s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    _b = _s % _MH_P
    _MH_COEF.append((_a, _b))

#: Portable per-char polynomial fingerprint of a shingle, mod p — the
#: engine-neutral stand-in for xxhash64 (whose seeds differ by engine).
#: Per-term products are < 2¹⁹; the un-modded list sum fits easily.
_MH_HV_DUCK = f"""
    CAST(list_sum(list_transform(range(1, length(shingle) + 1),
         i -> (ord(substr(shingle, i, 1)) * (i * 131 + 7)) % {_MH_P})) AS BIGINT)
    % {_MH_P}
"""


@query(
    "q_minhash_signatures",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    hv AS (
        SELECT doc_id, {_MH_HV_DUCK} AS hv
        FROM sh
    )
    SELECT doc_id,
           {", ".join(f"MIN((({a} * hv + {b}) % {_MH_P})) AS mh{i}" for i, (a, b) in enumerate(_MH_COEF))}
    FROM hv
    GROUP BY doc_id
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-verifiable MinHash signatures: k=8 universal-hash permutations
    (h_i(x) = (a_i·x + b_i) mod 2³¹−1, fixed coefficients) minimized per
    doc over a PORTABLE integer shingle fingerprint (per-char polynomial
    — xxhash64 seeds differ between engines, so the verified operator
    uses engine-neutral arithmetic; the production path q_dedup_fuzzy
    keeps xxhash64 speed and is recall-tested instead).

    This closes the verification gap LSH normally has: signature
    computation itself is exact integer math with a DuckDB oracle; only
    the banding/probing step remains rows-only. One map-side-combinable
    aggregation shuffle; signatures are 64 B/doc at any scale."""
    return _minhash_sig_frame(spark, sf_dir)


#: documents plan → checkpointed signature frame. The portable
#: per-char polynomial fingerprint is interpreted expression work over
#: every exploded shingle (~250k × ~25 chars at sf0.1), and TWO queries
#: start from the identical frame (q_minhash_signatures,
#: q_lsh_candidates); on a cluster this is the materialized signatures
#: table every LSH job reads.
_MINHASH_CACHE = SessionCache("dedup.minhash")


def _minhash_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) — the portable-arithmetic signature frame
    shared by q_minhash_signatures and q_lsh_candidates (session-cached,
    checkpointed staging)."""
    t = load_tables(spark, sf_dir)
    return _MINHASH_CACHE.get_or_build(
        spark,
        None,
        lambda: _minhash_sig_build(t).localCheckpoint(),
        plan=t["documents"],
    )


def _minhash_sig_build(t) -> DataFrame:
    # _shingle_rows' window spelling: the HOF array construction ran
    # interpreted and measured 6.9 s at sf1 where the codegen form
    # measures 2.2 s (signatures verified identical); the raw-docs
    # repartition parallelizes the transform and the distinct + per-doc
    # aggregate reuse its clustering
    cap = int(
        t["documents"].sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    npart = max(1, min(cap, t["documents"].count() // 300))
    raw = t["documents"].select("doc_id", "text").repartition(npart, "doc_id")
    shingles = _shingle_rows(raw).distinct()
    # portable polynomial fingerprint: (Σ (ord(char_i)·(i·131+7)) % p) % p
    # — modding each addition step equals modding the final sum
    hv = F.expr(
        "aggregate(zip_with(split(shingle, ''), sequence(1, length(shingle)), "
        f"(c, i) -> (ascii(c) * (CAST(i AS BIGINT) * 131 + 7)) % {_MH_P}), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc + x) % {_MH_P})"
    )
    sig = shingles.select("doc_id", hv.alias("hv"))
    return sig.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("hv") + F.lit(b)) % _MH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(_MH_COEF)
        ]
    )


#: LSH band geometry over the k=8 verified signature: 4 bands × 2 rows.
#: r=2 gives collision probability s² per band (s = Jaccard), so the
#: 1−(1−s²)⁴ S-curve crosses 0.5 near s≈0.4 — matched to JACCARD_TAU.
_LSH_BANDS: tuple[tuple[int, int], ...] = ((0, 1), (2, 3), (4, 5), (6, 7))

_LSH_SIG_CTE = f"""
    sig AS (
        SELECT doc_id,
               {", ".join(f"MIN((({a} * hv + {b}) % {_MH_P})) AS mh{i}" for i, (a, b) in enumerate(_MH_COEF))}
        FROM hv
        GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, {j} AS band, mh{i1} * {_MH_P} + mh{i2} AS bkey FROM sig" for j, (i1, i2) in enumerate(_LSH_BANDS))}
    ),
    small_buckets AS (
        SELECT band, bkey FROM bands
        GROUP BY band, bkey HAVING COUNT(*) <= {BAND_BUCKET_CAP}
    ),
    bounded AS (
        SELECT bands.* FROM bands JOIN small_buckets USING (band, bkey)
    )
"""


@query(
    "q_lsh_candidates",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    hv AS (
        SELECT doc_id, {_MH_HV_DUCK} AS hv
        FROM sh
    ),
    {_LSH_SIG_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_bands
    FROM bounded a JOIN bounded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified LSH candidate pairs — the banding step of MinHash
    LSH made SQL-checkable (VERDICT r6 task #4): the k=8 portable
    signature is split into 4 bands × 2 rows, each band key packed as
    mh_lo·p + mh_hi (< 2⁶², exact int64 on both engines), docs sharing
    any band bucket become a candidate pair.

    Scale shape (100 TB): one shuffle to build signatures, one
    equi-join on (band, bkey) — never all-pairs. Degenerate buckets are
    capped at {BAND_BUCKET_CAP} members (same policy as JACCARD_DF_CAP;
    the cap is modeled in the oracle). Recall vs the exact Jaccard
    pair set is pinned in tests/test_dedup.py."""
    return _lsh_candidate_pairs(spark, sf_dir)


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) — the capped band-bucket join over
    the portable signature frame, shared by q_lsh_candidates and
    q_dedup_fuzzy (whose verification stage consumes the candidates)."""
    sig = _minhash_sig_frame(spark, sf_dir)
    keys = F.array(
        *[F.col(f"mh{i1}") * _MH_P + F.col(f"mh{i2}") for i1, i2 in _LSH_BANDS]
    )
    bands = sig.select("doc_id", F.posexplode(keys).alias("band", "key"))
    return band_pairs(bands, BAND_BUCKET_CAP)


_CURATION_V2_ORACLE = f"""
WITH {_DUCK_PAIRS},
contam AS (
    SELECT DISTINCT tr.doc_id
    FROM sh b JOIN sh tr ON b.shingle = tr.shingle
    WHERE b.doc_id % {CONTAM_BENCH_MOD} = 0
      AND tr.doc_id % {CONTAM_BENCH_MOD} <> 0
    GROUP BY b.doc_id, tr.doc_id
    HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
),
normed AS (
    SELECT doc_id, lang, n_chars,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS norm_text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
    FROM documents
),
gated AS (
    SELECT * FROM normed
    WHERE n_tokens >= 10
      AND lang IN ('en','fr','es','de','zh')
      -- repetition gate: < 50% repeated tokens
      AND 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.5
),
exact_kept AS (
    SELECT * FROM gated
    WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY norm_text)
),
near_kept AS (
    SELECT * FROM exact_kept WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
),
decontaminated AS (
    SELECT * FROM near_kept WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
split AS (
    SELECT *,
           CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
                THEN 'train' ELSE 'val' END AS subset
    FROM decontaminated
)
SELECT subset, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM split
GROUP BY subset, lang
"""


def curation_gates(docs: DataFrame) -> DataFrame:
    """The scan-side gate stage of q_curation_v2 — normalize → quality
    gate (≥10 tokens, lang allowlist) → repetition gate (<50% repeated
    tokens) — as ONE shared function. Both the batch pipeline and the
    streaming twin (streaming/ops.stream_quality_gates) call this, so
    the gate predicates cannot drift between engines (ADVICE r6 #3).
    Stateless narrow filters: valid on a streaming DataFrame as-is."""
    words = F.split("text", " ")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )
    rep = (
        1.0
        - F.size(F.array_distinct(words)).cast("double")
        / F.size(words).cast("double")
    )
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        norm.alias("norm_text"),
        F.size(words).cast("bigint").alias("n_tokens"),
        rep.alias("repetition"),
    ).filter(
        (F.col("n_tokens") >= 10)
        & F.col("lang").isin("en", "fr", "es", "de", "zh")
        & (F.col("repetition") < 0.5)
    )


@query("q_curation_v2", oracle=_CURATION_V2_ORACLE)
def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v2 — q_training_pipeline plus the round-2 gates,
    every stage a verified operator:

      normalize → quality gate (≥10 tokens, lang allowlist)
      → repetition gate (< 50% repeated tokens, q_doc_repetition's
        predicate) → exact dedup on normalized text (min-id survivor)
      → near-dup drop (shingle-Jaccard doc_b victims)
      → benchmark decontamination (q_contamination's ≥5-shared-shingle
        train docs dropped) → deterministic 90/10 hash split
      → per-(subset, lang) corpus report.

    Scale shape: the gates are narrow scan-side filters; dedup is one
    shuffle; near-dup and contamination reuse the SAME cached shingle
    staging (one materialization feeds both); at the fixture scales
    Spark's size statistics make contamination_pairs' meet broadcast
    the benchmark side."""
    t = load_tables(spark, sf_dir)
    gated = curation_gates(t["documents"])
    keepers = gated.groupBy("norm_text").agg(F.min("doc_id").alias("doc_id"))
    exact_kept = gated.join(keepers.select("doc_id"), "doc_id", "left_semi")
    near_victims = _jaccard_pairs(t).select(F.col("doc_b").alias("doc_id")).distinct()
    near_kept = exact_kept.join(near_victims, "doc_id", "left_anti")
    sh = _shingles_checkpointed(t).select("doc_id", "h")
    contam = (
        contamination_pairs(sh, sh).select(F.col("train_id").alias("doc_id")).distinct()
    )
    clean = near_kept.join(contam, "doc_id", "left_anti")
    subset = F.when(
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) % 100 < 90, "train"
    ).otherwise("val")
    return (
        clean.withColumn("subset", subset)
        .groupBy("subset", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


#: Integer PageRank geometry: fixed-point scale, damping 85/100,
#: exactly PR_ITERS unrolled iterations. Everything is integer
#: arithmetic (div = truncating division on positives == floor), so
#: Spark and DuckDB produce bit-identical ranks — no float order
#: dependence, unlike a classic double PageRank.
PR_SCALE = 1_000_000
PR_ITERS = 3


#: The one SQL body of the unrolled integer-PageRank iteration — both
#: oracles (_pr_oracle, _canonical_oracle) splice the SAME template, so
#: the recurrence can't drift between them (ADVICE r6 #4).
_PR_ITER_SQL = """
    r{n} AS (
        SELECT e.dst AS doc_id,
               ({s} * 15) // 100 + (85 * SUM(r.rank // d.deg)) // 100 AS rank
        FROM edges e
        JOIN r{p} r ON r.doc_id = e.src
        JOIN deg d ON d.doc_id = e.src
        GROUP BY e.dst
    )"""


def _pr_iters_sql() -> str:
    return ",".join(
        _PR_ITER_SQL.format(n=i + 1, p=i, s=PR_SCALE) for i in range(PR_ITERS)
    )


def _pagerank(pairs: DataFrame) -> DataFrame:
    """(doc_id, rank): the one implementation of the integer-PageRank
    recurrence, shared by q_dedup_rank, q_dedup_canonical, and the
    topology test (ADVICE r6 #4 — previously triplicated). Per
    iteration: one groupBy(dst) shuffle over O(edges) contributions
    with map-side combine; the driver loop is plan construction only."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # The degree is loop-invariant: fold it into the edge list ONCE so
    # each iteration pays a single join (edges_w ⋈ rank on src) plus
    # the groupBy(dst) shuffle, instead of the two joins the naive loop
    # chains. The staging is session-cached (same idiom as the pair
    # set: both q_dedup_rank and q_dedup_canonical start from the
    # identical edge list, one materialization feeds both and every
    # warm re-run) and hash-partitioned on src size-adaptively — tiny
    # fixtures stay at 1 partition, production saturates the shuffle
    # width — so across iterations the big static side never
    # re-shuffles; only the small rank frame moves.
    spark = pairs.sparkSession

    def build() -> DataFrame:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        edges_w = edges.join(deg, "src").select("src", "dst", "deg")
        npart = max(1, min(cap, edges_w.count() // 100_000))
        return edges_w.repartition(npart, "src").localCheckpoint()

    edges_w = _EDGES_CACHE.get_or_build(spark, None, build, plan=pairs)
    rank = deg.select("src", F.lit(PR_SCALE).cast("bigint").alias("rank"))
    for _ in range(PR_ITERS):
        contrib = edges_w.join(rank, "src").select(
            "dst", F.expr("rank div deg").alias("c")
        )
        rank = (
            contrib.groupBy("dst")
            .agg(F.expr("(85 * sum(c)) div 100").alias("_damp"))
            .select(
                F.col("dst").alias("src"),
                (
                    F.expr(f"CAST(({PR_SCALE} * 15) div 100 AS BIGINT)")
                    + F.col("_damp")
                ).alias("rank"),
            )
        )
    return rank.select(F.col("src").alias("doc_id"), F.col("rank").cast("bigint").alias("rank"))


def _pr_oracle() -> str:
    return f"""
    WITH RECURSIVE {_DUCK_PAIRS},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT doc_id, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),
    {_pr_iters_sql()}
    SELECT doc_id, CAST(rank AS BIGINT) AS rank
    FROM r{PR_ITERS}
    """


@query("q_dedup_rank", oracle=_pr_oracle())
def q_dedup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the near-dup graph — ranks each document
    inside its duplicate neighborhood (a canonicalization signal: keep
    the hub of a near-dup cluster, drop satellites). Deterministic by
    construction: fixed-point int64 ranks, truncating division for both
    the per-neighbor contribution (rank div deg) and the damping
    (85·sum div 100), {PR_ITERS} unrolled iterations — the oracle runs
    the identical integer recurrence, so this is a driver-hash-
    verifiable ITERATIVE graph algorithm (q_dedup_clusters' CC is the
    other; its convergence is data-dependent so it verifies via the
    recursive-CTE oracle instead).

    Scale shape: per iteration one shuffle (groupBy dst over O(edges)
    contributions) with map-side combine; edges and degrees reuse the
    session-cached pair staging. Driver-side loop is plan construction
    only — {PR_ITERS} chained joins, no action per iteration."""
    t = load_tables(spark, sf_dir)
    return _pagerank(_jaccard_pairs(t).select("doc_a", "doc_b"))


def _canonical_oracle() -> str:
    return f"""
    WITH RECURSIVE {_DUCK_PAIRS},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT doc_id, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),
    {_pr_iters_sql()},
    ranked AS (
        SELECT l.cluster_id, l.doc_id, r.rank,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY r.rank DESC, l.doc_id ASC) AS rn
        FROM labels l JOIN r{PR_ITERS} r ON r.doc_id = l.doc_id
    )
    SELECT cluster_id,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
           CAST(MAX(CASE WHEN rn = 1 THEN rank END) AS BIGINT) AS canonical_rank,
           COUNT(*) AS n_members
    FROM ranked
    GROUP BY cluster_id
    """


@query("q_dedup_canonical", oracle=_canonical_oracle())
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor election — the composition that turns the
    dedup family into a keep/drop decision: connected components pick
    the cluster, integer PageRank picks the member to KEEP (the hub of
    the near-dup neighborhood — highest rank, doc_id tie-break), the
    rest are drop candidates. Per cluster: (canonical_id,
    canonical_rank, n_members).

    Every stage is itself a verified operator (q_dedup_clusters,
    q_dedup_rank); the composed oracle runs the identical recursive-CTE
    labeling + unrolled integer recurrence, so the election is
    hash-verified end-to-end. Plan: both inputs reuse the session
    pair staging; one window + one aggregate on top."""
    t = load_tables(spark, sf_dir)
    pairs = _jaccard_pairs(t).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    rank = _pagerank(pairs)
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.col("rank").desc(), F.col("doc_id").asc())
    )
    ranked = labels.join(rank, "doc_id").withColumn("rn", rn)
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_id"),
        F.max(F.when(F.col("rn") == 1, F.col("rank"))).alias("canonical_rank"),
        F.count("*").alias("n_members"),
    )


#: Containment threshold: shared/min-set ≥ 0.8 as the integer predicate
#: 5·shared ≥ 4·min. (Lee et al.'s dedup taxonomy: containment catches
#: the doc-in-doc case — boilerplate wrapping, quote-inflation, page
#: templates — that symmetric Jaccard structurally misses.)
CONTAIN_NUM, CONTAIN_DEN = 4, 5


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {_duck_shingles()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    hot AS (SELECT shingle FROM sh GROUP BY shingle
            HAVING COUNT(*) > {JACCARD_DF_CAP}),
    shc AS (
        SELECT doc_id, shingle FROM sh
        WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.shingle = sh.shingle)
    ),
    rawpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CASE WHEN na.n <= nb.n THEN p.doc_a ELSE p.doc_b END AS inner_id,
           p.shared,
           LEAST(na.n, nb.n) AS min_sz,
           (100 * p.shared) // LEAST(na.n, nb.n) AS contain_pct
    FROM rawpairs p
    JOIN sizes na ON na.doc_id = p.doc_a
    JOIN sizes nb ON nb.doc_id = p.doc_b
    WHERE {CONTAIN_DEN} * p.shared >= {CONTAIN_NUM} * LEAST(na.n, nb.n)
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: shared-shingles / min-set-size ≥ 0.8
    (exact integer predicate). The asymmetric complement of
    q_dedup_ngram's Jaccard: a short doc fully embedded in a long one
    has tiny Jaccard (shared/union ≈ |small|/|big|) and is even PRUNED
    by the Jaccard path's ppjoin length filter (max ≤ 2·min) — so
    doc-in-doc duplication (template wrap, quote inflation) needs its
    own operator. ``inner_id`` names the contained (smaller) doc — the
    drop candidate a curation gate acts on.

    Scale shape: reuses the session shingle staging and the identical
    hot-shingle DF cap (modeled in the oracle, same as the Jaccard
    path). No length filter is sound here — that asymmetry is the
    semantics — so the DF cap is the only fan-out bound; the candidate
    join stays bucketed on shingle hash and the groupBy is map-side
    combined. Pairs that also pass Jaccard appear in both operators by
    design (the curation pipeline unions the victim sets)."""
    return containment_pairs(load_tables(spark, sf_dir))


def containment_pairs(t) -> DataFrame:
    """Core of q_dedup_containment over a {'documents': df} table dict
    (directly callable on synthetic frames, like _jaccard_pairs)."""
    sh = _shingles_checkpointed(t).select("doc_id", "n", "h")
    hot = (
        sh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > JACCARD_DF_CAP)
        .select("h")
    )
    shc = sh.join(F.broadcast(hot), "h", "left_anti")
    a = shc.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("sn_a"), "h")
    b = shc.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("sn_b"), "h")
    cond = (F.col("a.h") == F.col("b.h")) & (F.col("doc_a") < F.col("doc_b"))
    pairs = (
        a.alias("a")
        .join(b.alias("b"), cond)
        .groupBy("doc_a", "doc_b", "sn_a", "sn_b")
        .agg(F.count("*").alias("shared"))
    )
    min_sz = F.least("sn_a", "sn_b")
    return (
        pairs.filter(CONTAIN_DEN * F.col("shared") >= CONTAIN_NUM * min_sz)
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("sn_a") <= F.col("sn_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("inner_id"),
            "shared",
            min_sz.alias("min_sz"),
            F.expr("(100 * shared) div least(sn_a, sn_b)").alias("contain_pct"),
        )
    )


# ---------------------------------------------------------------- graph ops


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH {{_DUCK_PAIRS}}
    SELECT e1.doc_a, e1.doc_b, e2.doc_b AS doc_c
    FROM pairs e1
    JOIN pairs e2 ON e1.doc_b = e2.doc_a
    JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    """.format(_DUCK_PAIRS=_DUCK_PAIRS),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-dup graph — the third graph
    operator beside connected components and PageRank; triangle density
    separates genuine dup CLUSTERS (cliques → many triangles) from
    chains of borderline pairs (no triangles), a standard graph-mining
    signal for cluster quality.

    Spark-first shape: DEGREE-orientation (r8 VERDICT footnote made
    explicit work): every edge is re-oriented from its lower-(degree,
    id) endpoint to its higher one, wedges are pairs of out-neighbors
    of a common source, and the closing edge is looked up in the same
    oriented set. In the oriented DAG each triangle has exactly one
    node with both out-edges, so each is found once; the wedge count
    is Σ C(outdeg, 2) with outdeg ≤ O(√m) — bounded EVEN on a hot hub
    (a node of degree d oriented by id alone would fan out C(d, 2)
    wedges; oriented by degree a hub is the DST of almost all its
    edges and contributes none). This removes the previous implicit
    reliance on the upstream LSH bucket caps for the fan-out bound.
    The degree table is node-scale (corpus-derived) so it joins
    shuffle-hash, never broadcast — the r8/r9 de-weak rule. Output is
    re-sorted to (doc_a < doc_b < doc_c) so the result set is
    hash-identical to the id-oriented oracle."""
    return triangle_enumeration(load_tables(spark, sf_dir))


def triangle_enumeration(t) -> DataFrame:
    """Core of q_graph_triangles over any tables dict.

    Degree-oriented wedge closure: orient edges by (degree, id), join
    out-neighbor pairs of a common source, close with the oriented
    edge between the two targets, then emit each triangle's ids in
    ascending order (matching the a<b<c oracle)."""
    return triangles_from_edges(_jaccard_pairs(t).select("doc_a", "doc_b"))


def degree_oriented_edges(e: DataFrame) -> DataFrame:
    """Orient an undirected (doc_a < doc_b) edge list by (degree, id):
    each edge runs from its lower-(deg, id) endpoint ``s`` to its
    higher one ``t`` (``tk`` = t's sort key, for wedge canonicalizing).
    A hub of degree d is the DST of (almost) all its edges, so its
    out-degree — and hence its wedge contribution C(outdeg, 2) — stays
    small no matter how hot the hub; max out-degree is O(√m) overall.

    The oriented frame is checkpoint-cached per (session, edge plan) —
    degrees and orientation are a pure function of the edge set, so
    like the pair staging they build once per corpus; the degree joins
    (node-scale table) run shuffle-hash, never broadcast."""
    return _PAIRS_CACHE.get_or_build(
        e.sparkSession,
        "oriented",
        lambda: _orient_edges(e).localCheckpoint(),
        plan=e,
    )


def _orient_edges(e: DataFrame) -> DataFrame:
    """The un-checkpointed orientation build plan (exposed so
    tests/test_plans.py can assert the shuffle-hash degree joins on
    the BUILD, which the eager checkpoint otherwise hides)."""
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # (degree, id) totally orders nodes; struct comparison gives the
    # orientation predicate. Degree tables are node-scale → shuffle-hash.
    ed = (
        e.join(
            deg.hint("shuffle_hash").select(
                F.col("v").alias("doc_a"), F.col("deg").alias("da")
            ),
            "doc_a",
        )
        .join(
            deg.hint("shuffle_hash").select(
                F.col("v").alias("doc_b"), F.col("deg").alias("db")
            ),
            "doc_b",
        )
    )
    ka = F.struct(F.col("da").alias("d"), F.col("doc_a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("doc_b").alias("i"))
    a_first = ka < kb
    return ed.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("s"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("t"),
        F.when(a_first, kb).otherwise(ka).alias("tk"),
    )


def triangles_from_edges(e: DataFrame) -> DataFrame:
    """Degree-oriented wedge closure over an undirected edge list."""
    oriented = degree_oriented_edges(e)
    o1 = oriented.select("s", F.col("t").alias("t1"), F.col("tk").alias("k1"))
    o2 = oriented.select("s", F.col("t").alias("t2"), F.col("tk").alias("k2"))
    wedges = o1.join(o2, "s").filter(F.col("k1") < F.col("k2"))
    closing = oriented.select(
        F.col("s").alias("t1"), F.col("t").alias("t2")
    )
    tri = wedges.join(closing, ["t1", "t2"])
    ids = F.array_sort(F.array("s", "t1", "t2"))
    return tri.select(
        ids[0].alias("doc_a"), ids[1].alias("doc_b"), ids[2].alias("doc_c")
    )


#: Fixed k for the k-core peel (2-core: nodes in at least one cycle of
#: the dup graph — a genuine CLUSTER member, not a chain straggler).
KCORE_K = 2

#: Peeling-round cap. Each round removes EVERY node below degree k, so
#: rounds = the graph's peeling complexity — small for the dense
#: cluster graphs dedup produces (a clique peels in 0 rounds, a star in
#: 1); the pathological case is a long path (O(n) rounds), which a
#: near-dup graph does not produce at τ = 0.5. If the cap trips, the
#: residual is a SUPERSET of the k-core (never an under-report) and the
#: converged flag in the output says so.
KCORE_MAX_ROUNDS = 25


#: Unrolled-peel depth for the k-core ORACLE (the q_dedup_rank
#: playbook, VERDICT r13 task #3): the peel is MONOTONE and idempotent
#: past its fixed point, so unrolling more rounds than the fixture
#: needs (measured: 2 at sf0.001/sf0.01) is always safe — 6 gives 3×
#: margin. The oracle thereby also asserts the engine CONVERGED
#: (converged = TRUE literal): if the engine ever hit its round cap at
#: verification scale the boolean column would hash-mismatch, which is
#: the behavior we want.
KCORE_ORACLE_ROUNDS = 6

#: One SQL body per unrolled peel round — degrees over the previous
#: round's survivor edges, keep ≥ k, filter both endpoints (the exact
#: recurrence kcore_nodes runs).
#: MATERIALIZED is load-bearing: each round references the previous
#: CTE three times, so DuckDB's default inlining would expand the
#: shingle-pair chain ~5^rounds times (measured as an fd exhaustion at
#: 6 rounds); materializing makes the unroll linear.
_KCORE_ROUND_SQL = """
    d{n} AS MATERIALIZED (
        SELECT v, COUNT(*) AS deg FROM (
            SELECT doc_a AS v FROM e{p} UNION ALL SELECT doc_b FROM e{p}
        ) GROUP BY v
    ),
    e{n} AS MATERIALIZED (
        SELECT e.doc_a, e.doc_b FROM e{p} e
        JOIN d{n} a ON a.v = e.doc_a AND a.deg >= {k}
        JOIN d{n} b ON b.v = e.doc_b AND b.deg >= {k}
    )"""


def _kcore_oracle() -> str:
    rounds = ",".join(
        _KCORE_ROUND_SQL.format(n=i + 1, p=i, k=KCORE_K)
        for i in range(KCORE_ORACLE_ROUNDS)
    )
    last = f"e{KCORE_ORACLE_ROUNDS}"
    return f"""
    WITH RECURSIVE {{_DUCK_PAIRS}},
    e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    {rounds}
    SELECT doc_id, COUNT(*) AS core_degree, TRUE AS converged FROM (
        SELECT doc_a AS doc_id FROM {last}
        UNION ALL
        SELECT doc_b FROM {last}
    ) GROUP BY doc_id
    """


@query("q_graph_kcore", oracle=_kcore_oracle().format(_DUCK_PAIRS=_DUCK_PAIRS))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the near-dup graph (k = KCORE_K) — the fourth graph
    operator beside connected components, PageRank and triangles: a
    node survives the peel iff it keeps ≥ k neighbors among survivors,
    so the 2-core separates docs embedded in dup CLUSTERS (cycles)
    from chain stragglers that triangle counting also excludes, but
    without requiring closure. The standard corpus-health complement:
    cluster canonical election keeps one doc per component; the k-core
    says which components are DENSE enough to trust the election.

    Scale shape: each peeling round is one degree aggregate + one
    semi-join filter over the (tiny vs corpus) edge list, checkpointed
    so lineage stays flat; every round removes ALL sub-k nodes at
    once, so rounds = peeling complexity (bounded by KCORE_MAX_ROUNDS,
    with honest superset semantics if capped — see constant). Emits
    (doc_id, core_degree, converged).

    Exact-oracled since r14 (VERDICT r13 task #3, the q_dedup_rank
    unrolled-recurrence playbook): the DuckDB oracle unrolls
    KCORE_ORACLE_ROUNDS peel rounds — safe because the peel is
    idempotent past its fixed point — and pins convergence itself via
    the TRUE literal in the converged column."""
    return kcore_nodes(
        _jaccard_pairs(load_tables(spark, sf_dir)).select("doc_a", "doc_b")
    )


def kcore_nodes(e: DataFrame, k: int = KCORE_K) -> DataFrame:
    """Peel ``e`` (undirected doc_a < doc_b) to its k-core. The
    converged edge frame is cached per (session, edge plan, k) — the
    final round's checkpoint otherwise leaked one block set per call
    (code-review r9 #6); cached entries release deterministically via
    staging.evict like every other staged frame."""
    edges, converged = _PAIRS_CACHE.get_or_build(
        e.sparkSession, ("kcore", k), lambda: _kcore_peel(e, k), plan=e
    )
    return _kcore_degrees(edges, converged)


def _kcore_peel(e: DataFrame, k: int) -> tuple[DataFrame, bool]:
    """(converged edge checkpoint, converged?) after peeling ``e``."""
    F_ = F
    edges = e.localCheckpoint()
    converged = False
    for _ in range(KCORE_MAX_ROUNDS):
        deg = (
            edges.select(F_.col("doc_a").alias("v"))
            .unionAll(edges.select(F_.col("doc_b").alias("v")))
            .groupBy("v")
            .agg(F_.count(F_.lit(1)).alias("deg"))
        )
        keep = deg.filter(F_.col("deg") >= k).select("v")
        nxt = (
            edges.join(
                keep.withColumnRenamed("v", "doc_a").hint("shuffle_hash"),
                "doc_a",
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("v", "doc_b").hint("shuffle_hash"),
                "doc_b",
                "left_semi",
            )
            .localCheckpoint()
        )
        n_before, n_after = edges.count(), nxt.count()
        release(edges)
        edges = nxt
        if n_after == n_before:
            converged = True
            break
    return edges, converged


def _kcore_degrees(edges: DataFrame, converged: bool) -> DataFrame:
    """Survivor degrees over the peeled edge frame."""
    return (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionAll(edges.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .withColumn("converged", F.lit(converged))
    )


#: Incremental-ingest split: doc_id % INC_MOD == 0 is "the new batch",
#: the rest is "the standing corpus" (mirrors CONTAM_BENCH_MOD's
#: fixture-slice trick; disjoint mod so the two operators screen
#: different slices).
INC_MOD = 7


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH {{_DUCK_PAIRS}},
    newdocs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % {INC_MOD} = 0
    ),
    exact AS (
        SELECT n.doc_id, MIN(c.doc_id) AS match_doc
        FROM newdocs n
        JOIN documents c
          ON c.text = n.text AND c.doc_id % {INC_MOD} <> 0
        GROUP BY n.doc_id
    ),
    near AS (
        SELECT x.doc_id, MIN(x.other) AS match_doc FROM (
            SELECT doc_a AS doc_id, doc_b AS other FROM pairs
            WHERE doc_a % {INC_MOD} = 0 AND doc_b % {INC_MOD} <> 0
            UNION ALL
            SELECT doc_b AS doc_id, doc_a AS other FROM pairs
            WHERE doc_b % {INC_MOD} = 0 AND doc_a % {INC_MOD} <> 0
        ) x GROUP BY x.doc_id
    )
    SELECT n.doc_id,
           CASE WHEN e.match_doc IS NOT NULL THEN 'drop_exact'
                WHEN nr.match_doc IS NOT NULL THEN 'drop_neardup'
                ELSE 'keep' END AS decision,
           COALESCE(e.match_doc, nr.match_doc) AS match_doc
    FROM newdocs n
    LEFT JOIN exact e USING (doc_id)
    LEFT JOIN near nr USING (doc_id)
    """.format(_DUCK_PAIRS=_DUCK_PAIRS),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the operational batch form of the
    streaming dedup twins: screen THE NEW BATCH (doc_id % {INC_MOD}
    == 0) against THE STANDING CORPUS (the rest) and emit a per-doc
    decision: drop_exact (verbatim text already in the corpus, lowest
    matching doc cited), drop_neardup (a τ=0.5 Jaccard pair with a
    corpus doc, from the same staged capped pair set every dedup query
    reads), else keep. Exactly what a daily crawl append runs before
    extending the corpus.

    Scale shape: the exact screen is one hash join on the content key
    (in production: sha2 of normalized text — q_dedup_exact's key);
    the near screen FILTERS the already-staged pair set instead of
    recomputing any shingle work; the decision assembly is two
    SHUFFLE-HASH left joins co-partitioned on doc_id (r8 broadcast
    self-audit: the match frames are bounded by the NEW BATCH, not by
    a constant — a dup-heavy TB-scale append would have made the old
    broadcast the batch itself). No new corpus-sized shuffle at all."""
    return incremental_decisions(load_tables(spark, sf_dir))


def incremental_decisions(t) -> DataFrame:
    """Core of q_dedup_incremental over any tables dict."""
    docs = t["documents"]
    is_new = F.col("doc_id") % INC_MOD == 0
    newdocs = docs.filter(is_new).select("doc_id", "text")
    corpus = docs.filter(~is_new).select(
        F.col("doc_id").alias("c_doc"), F.col("text").alias("c_text")
    )
    exact = (
        newdocs.join(corpus, newdocs["text"] == corpus["c_text"])
        .groupBy("doc_id")
        .agg(F.min("c_doc").alias("e_match"))
    )
    pairs = _jaccard_pairs(t).select("doc_a", "doc_b")
    near = (
        pairs.filter((F.col("doc_a") % INC_MOD == 0) & (F.col("doc_b") % INC_MOD != 0))
        .select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("other"))
        .unionAll(
            pairs.filter(
                (F.col("doc_b") % INC_MOD == 0) & (F.col("doc_a") % INC_MOD != 0)
            ).select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("other"))
        )
        .groupBy("doc_id")
        .agg(F.min("other").alias("n_match"))
    )
    return (
        newdocs.join(exact.hint("shuffle_hash"), "doc_id", "left")
        .join(near.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("e_match").isNotNull(), "drop_exact")
            .when(F.col("n_match").isNotNull(), "drop_neardup")
            .otherwise("keep")
            .alias("decision"),
            F.coalesce("e_match", "n_match").alias("match_doc"),
        )
    )


def _lsh_quality_oracle() -> str:
    """Composed at import from the candidate and exact-pair oracles, so
    the quality report can never drift from the queries it measures."""
    from hive_gateway_spark.registry import ORACLES

    return f"""
    WITH cand AS ({ORACLES["q_lsh_candidates"]}),
    tru AS ({ORACLES["q_dedup_ngram"]}),
    hit AS (
        SELECT c.doc_a FROM cand c
        JOIN tru t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT c.n AS n_candidates, t.n AS n_true_pairs, h.n AS n_hits,
           CAST(h.n AS DOUBLE) / NULLIF(CAST(c.n AS DOUBLE), 0)
             AS precision,
           CAST(h.n AS DOUBLE) / NULLIF(CAST(t.n AS DOUBLE), 0) AS recall
    FROM (SELECT COUNT(*) AS n FROM cand) c,
         (SELECT COUNT(*) AS n FROM tru) t,
         (SELECT COUNT(*) AS n FROM hit) h
    """


@query("q_lsh_quality", oracle=_lsh_quality_oracle())
def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN approximation measured, as a query: LSH band-bucket
    candidates (q_lsh_candidates) scored against the exact τ=0.5
    Jaccard pair set (q_dedup_ngram) — candidate count, true-pair
    count, hits, precision, recall in one row. This is the number an
    operator checks before trusting the scale path on a new corpus;
    recall here is the LSH S-curve's integral over the corpus's actual
    similarity distribution, so it moves when the corpus does. Both
    source oracles are nested VERBATIM (the q_curation_funnel
    composition guarantee), so this report is exactly as
    driver-verified as the queries it grades.

    Scale shape: both inputs are the already-bounded pair frames
    (capped buckets / capped DF); the join keys on the pair itself and
    the three counts are partial aggregates; output is one row."""
    from hive_gateway_spark.registry import QUERIES

    cand = QUERIES["q_lsh_candidates"](spark, sf_dir).select("doc_a", "doc_b")
    tru = QUERIES["q_dedup_ngram"](spark, sf_dir).select("doc_a", "doc_b")
    hits = cand.join(tru, ["doc_a", "doc_b"])
    c = cand.agg(F.count("*").alias("n_candidates"))
    t = tru.agg(F.count("*").alias("n_true_pairs"))
    h = hits.agg(F.count("*").alias("n_hits"))
    return (
        c.crossJoin(t)
        .crossJoin(h)
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / F.nullif(F.col("n_candidates").cast("double"), F.lit(0.0))
            ).alias("precision"),
            (
                F.col("n_hits").cast("double")
                / F.nullif(F.col("n_true_pairs").cast("double"), F.lit(0.0))
            ).alias("recall"),
        )
    )


def _cluster_stats_oracle() -> str:
    """Composed at import from the clusters oracle (the q_lsh_quality
    pattern): the histogram aggregates exactly the membership table
    the per-doc query exposes."""
    from hive_gateway_spark.registry import ORACLES

    return f"""
    WITH clusters AS ({ORACLES["q_dedup_clusters"]}),
    sized AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS removable_docs
    FROM sized GROUP BY cluster_size
    """


@query("q_dedup_cluster_stats", oracle=_cluster_stats_oracle())
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — THE dedup health chart: for
    each near-dup cluster size, how many clusters, how many documents
    they hold, and how many are removable (size − 1 per cluster —
    keep one canonical representative). A healthy crawl shows a steep
    power-law tail; a flat tail of huge clusters means template spam
    or a mirror site. Oracle nests the full q_dedup_clusters oracle
    verbatim (the composition guarantee).

    Scale shape: the membership table is the already-computed
    connected-components output (session-staged with the rest of the
    dedup family); two tiny aggregates on top — cluster_id, then
    cluster_size."""
    from hive_gateway_spark.registry import QUERIES

    clusters = QUERIES["q_dedup_clusters"](spark, sf_dir)
    sized = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sized.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("bigint").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count("*"))
        .cast("bigint")
        .alias("removable_docs"),
    ).select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "removable_docs",
    )


#: Planted case/punct variant pair (the q_contamination non-vacuity
#: rule, VERDICT r03 #2): the sf0.01 fixture has ZERO normalized-dup
#: groups, so without planted evidence the driver's hash compare was
#: trivially green on 0 = 0 rows (caught by the r11 registry-wide
#: zero-row audit). Both variants normalize to the same string; ids
#: far above the fixture range; modeled in the oracle VALUES.
_NORM_PLANTED = [
    (9_900_105, "en", "The Planted Normalized Pair, runs: HERE!"),
    (9_900_106, "en", "the planted normalized pair runs here"),
]
_NORM_PLANTED_VALUES = ", ".join(
    f"({i}, '{g}', '{s}', CAST({len(s)} AS BIGINT))" for i, g, s in _NORM_PLANTED
)


def dedup_normalized(
    spark: SparkSession,
    sf_dir: str,
    extra_docs: DataFrame | None = None,
) -> DataFrame:
    """Near-exact dedup on NORMALIZED text (q_text_normalize's
    casefold + punctuation-strip + whitespace-collapse) — the layer
    between raw exact dedup and shingle near-dup: catches the
    re-encoded / re-punctuated / re-cased copies that byte-exact
    hashing misses and shingle similarity over-pays for. Emits every
    member of a multi-copy normalized group with its min-doc_id
    canonical — the row set a dedup stage drops (members where NOT
    is_canonical).

    ``extra_docs`` is a TEST-HARNESS hook (rows unioned in before
    grouping); the registered fixture query plants a variant pair
    through it. Production callers omit it — planted rows here were
    always additive/ID-disjoint (they form their own normalized
    group), but they belong to the harness, not the operator
    (ADVICE r11 #1).

    Determinism: the normalization is the exact q_text_normalize
    expression (same regexes both engines); the dedup KEY is
    sha2-256 OF the normalized form — both engines group on the
    digest, so the contract is engine-identical by construction (and
    sha256 equality IS identity for any real corpus: 2⁻¹²⁸).

    Scale shape (de-weaked r13 — the r12 sf1 point was the
    portfolio's one super-linear query at 10.42×): ONE normalization
    pass (the regex over full text is the dominant CPU cost — the old
    agg+member-join plan paid it twice, once per join side), then the
    shuffle carries only (digest, doc_id, lang) ≈ 80 B/row regardless
    of document size — never the normalized text — into a single
    window that elects the canonical and counts copies in one
    exchange. Measured sf1 warm: 9.0 s → 2.2 s, 10×-data ratio
    10.4× → 7.0×. A hot digest (billions of byte-identical docs)
    bounds one partition at its group size — the same reducer hot key
    the agg had, with 100× less data behind it."""
    t = load_tables(spark, sf_dir)
    docs_aug = t["documents"].select("doc_id", "lang", "text", "n_chars")
    if extra_docs is not None:
        docs_aug = docs_aug.unionByName(extra_docs)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.upper(F.col("text")), "[^A-Z0-9 ]", ""),
            " +",
            " ",
        )
    )
    n = docs_aug.select("doc_id", "lang", F.sha2(norm, 256).alias("k"))
    w = Window.partitionBy("k")
    return (
        n.withColumn("canonical", F.min("doc_id").over(w))
        .withColumn("n_copies", F.count("*").over(w))
        .filter(F.col("n_copies") > 1)
        .select(
            "doc_id",
            "canonical",
            "n_copies",
            "lang",
            (F.col("doc_id") == F.col("canonical")).alias("is_canonical"),
        )
    )


@query(
    "q_dedup_normalized",
    oracle=f"""
    WITH docs_aug AS (
        SELECT doc_id, lang, text, n_chars FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_NORM_PLANTED_VALUES})
             AS v(doc_id, lang, text, n_chars)
    ),
    n AS (
        SELECT doc_id, lang,
               sha256(trim(regexp_replace(regexp_replace(upper(text),
                    '[^A-Z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS k
        FROM docs_aug
    ),
    g AS (
        SELECT k, MIN(doc_id) AS canonical, COUNT(*) AS n_copies
        FROM n GROUP BY k HAVING COUNT(*) > 1
    )
    SELECT n.doc_id, g.canonical, g.n_copies, n.lang,
           (n.doc_id = g.canonical) AS is_canonical
    FROM n JOIN g USING (k)
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered fixture harness for :func:`dedup_normalized`:
    unions the planted case/punct variant pair (_NORM_PLANTED,
    mirrored in the oracle's VALUES) so the driver row stays
    non-vacuous at sf0.01, where the raw fixture has no normalized
    dups. The plant lives HERE, not in the operator."""
    planted = spark.createDataFrame(
        [(i, g, s, len(s)) for i, g, s in _NORM_PLANTED],
        "doc_id bigint, lang string, text string, n_chars bigint",
    )
    return dedup_normalized(spark, sf_dir, extra_docs=planted)


# Deferred (needs _LSH_SIG_CTE, defined above with the banding
# machinery): the end-to-end hash-verified MinHash-LSH fuzzy dedup.
_register_dedup_fuzzy()
