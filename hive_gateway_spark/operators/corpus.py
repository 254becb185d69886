"""Corpus-level statistical curation operators — the published-recipe
stages a 100 TB training-data pipeline runs between raw ingest and
selection:

- exact duplicated-span detection (suffix-style substring dedup, after
  Lee et al. 2022 "Deduplicating Training Data Makes Language Models
  Better" — theirs is a suffix array over the concatenated corpus; the
  Spark-first equivalent is a rolling token-k-gram inverted index),
- shared-chunk boilerplate removal (after CCNet's duplicated-paragraph
  filter: drop text blocks that recur across many documents),
- bigram-LM negative-log-likelihood scoring (the KenLM-perplexity
  quality signal, add-1 smoothed, made hash-verifiable by the repo's
  round-6 libm rule + exact decimal summation),
- DSIR importance weights (Xie et al. 2023 "Data Selection for
  Language Models via Importance Resampling": hashed unigram-feature
  log-ratio of a target domain vs the raw corpus, deterministic top-N
  selection).

Reference parity: the reference gateway (src/gateway.ts) has no corpus
analytics at all — these extend SURVEY §2.3's LLM-pipeline mandate
(dedup/quality family) with the cross-document statistical passes the
§2.3 operators feed.

All four stay entirely JVM-side (split/posexplode/higher-order
functions, no Python UDFs). Cross-engine determinism follows the
module rules of text.py: counts are exact integers, every ln() is
rounded to 6 dp before use (q_tf_idf precedent), and sums of rounded
doubles go through exact DECIMAL casts so addition order cannot drift
the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hive_gateway_spark.operators.text import QC_B, _qc_weight_sql
from hive_gateway_spark.registry import query
from hive_gateway_spark.session import load_tables
from hive_gateway_spark.staging import SessionCache, release, stage

#: Duplicated-span width in tokens. Lee et al. use 50-token character
#: spans on web corpora; the fixture docs run 10-99 tokens, so k=8
#: keeps spans long enough to be non-accidental (random 8-gram
#: collision over the fixture vocabulary is ~0) and short enough that
#: every doc carries spans.
SPAN_K = 8

#: Boilerplate chunk geometry: non-overlapping windows of CHUNK_W
#: tokens (a "paragraph" of the newline-free fixture text); a chunk is
#: boilerplate when its exact text occurs in >= BOILER_DF distinct docs.
CHUNK_W = 10
BOILER_DF = 3

#: DSIR hashed-feature geometry: unigram features hashed into B buckets
#: (the paper's hashed n-gram features), target domain = lang 'en',
#: deterministic selection of the DSIR_TOP highest-weight docs.
DSIR_B = 64
DSIR_TARGET_LANG = "en"
DSIR_TOP = 100

#: Portable per-char polynomial word fingerprint mod p — same
#: engine-neutral arithmetic as dedup._MH_HV_DUCK (xxhash64 seeds
#: differ between engines, so hash-verified bucketing must not use it).
_HV_P = (1 << 31) - 1

def hv_sql(var: str) -> str:
    """The fingerprint as a SQL expression over variable/column `var`
    (parameterized so stream_dsir_score can apply it to a HOF lambda
    variable in-row)."""
    return (
        f"aggregate(zip_with(split({var}, ''), sequence(1, length({var})), "
        f"(c, i) -> (ascii(c) * (CAST(i AS BIGINT) * 131 + 7)) % {_HV_P}), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc + x) % {_HV_P})"
    )


_HV_SPARK = hv_sql("word")

_HV_DUCK = f"""
    CAST(list_sum(list_transform(range(1, length(word) + 1),
         i -> (ord(substr(word, i, 1)) * (i * 131 + 7)) % {_HV_P})) AS BIGINT)
    % {_HV_P}
"""


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(list_slice(words, i + 1, i + {SPAN_K}), ' ')
                 AS gram
        FROM w, UNNEST(range(len(words) - {SPAN_K} + 1)) AS t(i)
        WHERE len(words) >= {SPAN_K}
    ),
    dup AS (
        SELECT gram FROM g GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    spans AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    cover AS (
        SELECT doc_id, COUNT(DISTINCT pos + j) AS dup_tokens
        FROM spans, UNNEST(range({SPAN_K})) AS t(j)
        GROUP BY doc_id
    ),
    per AS (
        SELECT doc_id, COUNT(*) AS n_spans FROM g GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id, len(words) AS n_tokens FROM w
        WHERE len(words) >= {SPAN_K}
    )
    SELECT base.doc_id,
           CAST(base.n_tokens AS BIGINT) AS n_tokens,
           CAST(per.n_spans AS BIGINT) AS n_spans,
           CAST(COALESCE(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(cover.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(cover.dup_tokens, 0) AS DOUBLE)
             / CAST(base.n_tokens AS DOUBLE) AS dup_ratio
    FROM base
    JOIN per USING (doc_id)
    LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_dup_spans FROM spans GROUP BY doc_id
    ) d USING (doc_id)
    LEFT JOIN cover USING (doc_id)
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span report (Lee et al. 2022, Spark-first): for
    every doc, how many of its rolling {SPAN_K}-token spans also occur
    verbatim in ANOTHER document, and what fraction of its tokens at
    least one such span covers. The duplicated-coverage ratio is the
    drop/trim signal exact-substring dedup acts on.

    Scale shape: one posexplode builds the (doc, pos, gram) inverted
    file; the gram DF aggregate is map-side combined; the dup-gram set
    (boilerplate + planted dup clusters, tiny vs the corpus under
    Zipf) broadcasts back onto the gram stream, so the big side
    shuffles once on gram. Coverage explodes only DUPLICATED spans
    ({SPAN_K}x that subset, not the corpus) before a per-doc count.
    At 100 TB the gram key would carry a 16 B hash instead of the
    string (the q_dedup_ngram staging trick); the oracle keeps the
    string form which is value-identical."""
    return substring_report(load_tables(spark, sf_dir)["documents"])


#: word-frame plan → staged gram file (ADVICE r16 #1). At most 4 per
#: session (cap 3 plus the entry a miss inserts): the full corpus + the
#: curation winner subsets in flight; these are the largest staged
#: frames in the system, so the bound is deliberately tighter than
#: staging.CACHE_CAP. Without a cap every distinct caller plan pinned a
#: corpus-scale checkpoint for the session's lifetime.
_GRAM_CACHE = SessionCache("corpus.gram", cap=3)


def _gram_file(w: DataFrame) -> DataFrame:
    """The staged (doc_id, pos, h) gram inverted file over a word frame
    — shared by substring_report and substring_trim (r16 optimization,
    guide §2.4): each had TWO consumers of its gram stream (the
    dup/holder aggregate and the span join), and the partial aggregate
    under the first consumer's exchange defeats ReusedExchange, so the
    posexplode + per-gram xxhash64 transform executed twice per query.
    The checkpoint follows dedup.py's _shingles_checkpointed
    discipline: repartition the raw word rows FIRST so the interpreted
    transform()/slice() projection parallelizes instead of running in
    the fixture's single scan task, then materialize once. Entries are
    keyed by the input plan, so the corpus queries and the curation
    callers (winner subsets) stage independently.

    The gram STRING never leaves the row: it collapses to a 64-bit
    xxhash64 before the DF aggregate and the span join, so the
    corpus-sized shuffle moves 8 B keys instead of ~50 B strings (the
    q_dedup_ngram staging trick; the oracle keeps the string form,
    which is value-identical short of a 64-bit collision)."""
    def build() -> DataFrame:
        npart = int(
            w.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        return (
            w.repartition(npart)
            .select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        f"transform(sequence(0, size(words) - {SPAN_K}), "
                        f"i -> xxhash64(concat_ws(' ', slice(words, i + 1, {SPAN_K}))))"
                    )
                ).alias("pos", "h"),
            )
            .select("doc_id", F.col("pos").cast("bigint").alias("pos"), "h")
            .localCheckpoint()
        )

    return _GRAM_CACHE.get_or_build(w.sparkSession, None, build, plan=w)


def substring_report(docs: DataFrame) -> DataFrame:
    """Core of q_dedup_substring over any (doc_id, text) frame."""
    w = docs.withColumn("words", F.split("text", " ")).filter(
        F.size("words") >= SPAN_K
    )
    g = _gram_file(w)
    dup = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    # The dup-gram set is NOT vocabulary-sized: every duplicated
    # document contributes ~n_tokens new dup-gram types, so it grows
    # ~linearly with the corpus (Lee et al. 2022 report billions of
    # duplicated spans at C4 scale) — tens of billions of rows at
    # 100 TB, unbroadcastable. Both sides are already keyed on the 8 B
    # gram hash, so the meet is a SHUFFLE_HASH join (the q_lm_perplexity
    # recipe, VERDICT r8 "What's wrong" #1; plan-asserted in
    # tests/test_plans.py).
    spans = g.join(dup.hint("shuffle_hash"), "h").select("doc_id", "pos")
    # r16 optimization (guide §2.3): dup coverage is an interval-union
    # identity, not a row multiplication. Spans are fixed-length
    # [pos, pos+K-1] intervals over STRICTLY INCREASING distinct pos
    # per doc, so the union size is Σ min(K, pos − prev_pos) with the
    # first span contributing K — ONE doc-keyed window pass replaces
    # the former K× explode + countDistinct, and the span count rides
    # the same aggregate (the old plan computed `spans` twice: once
    # per consumer). The window partitions by doc_id — bounded by doc
    # length, never corpus-scale.
    wl = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(wl)
    contrib = F.when(prev.isNull(), F.lit(SPAN_K)).otherwise(
        F.least(F.lit(SPAN_K), F.col("pos") - prev)
    )
    cover = (
        spans.withColumn("c", contrib)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.sum("c").alias("dup_tokens"),
        )
    )
    # n_spans is DERIVED, not aggregated: the shingle transform emits
    # exactly size(words) − K + 1 spans per doc, so the former
    # corpus-wide groupBy over g was a full recompute of the gram
    # stream for a value already known at the row level.
    base = w.select(
        "doc_id",
        F.size("words").cast("bigint").alias("n_tokens"),
        (F.size("words") - SPAN_K + 1).cast("bigint").alias("n_spans"),
    )
    return (
        base.join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_ratio"),
        )
    )


@query(
    "q_boilerplate_chunks",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    c AS (
        SELECT doc_id, CAST(i AS BIGINT) AS cidx,
               array_to_string(
                 list_slice(words, i * {CHUNK_W} + 1, (i + 1) * {CHUNK_W}), ' ')
                 AS chunk
        FROM w, UNNEST(range((len(words) + {CHUNK_W} - 1) // {CHUNK_W}))
               AS t(i)
    ),
    boiler AS (
        SELECT chunk FROM c GROUP BY chunk
        HAVING COUNT(DISTINCT doc_id) >= {BOILER_DF}
    ),
    marked AS (
        SELECT c.doc_id, c.cidx, c.chunk,
               (b.chunk IS NOT NULL) AS is_boiler
        FROM c LEFT JOIN boiler b USING (chunk)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN is_boiler
                         THEN len(string_split(chunk, ' ')) ELSE 0 END)
                AS BIGINT) AS removed_tokens,
           COALESCE(string_agg(CASE WHEN NOT is_boiler THEN chunk END,
                               ' ' ORDER BY cidx), '') AS clean_text
    FROM marked
    GROUP BY doc_id
    """,
)
def q_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: cut every {CHUNK_W}-token chunk
    whose exact text recurs in >= {BOILER_DF} distinct documents
    (navigation bars, license headers, planted dup-cluster bodies) and
    emit the REBUILT document — the rewritten corpus, not just a
    report. clean_text is the positional re-join of surviving chunks,
    so the driver hash pins the whole rewrite.

    Scale shape (reworked r9, VERDICT r8 "What's wrong" #1 + task #8):
    chunk TEXT never enters a shuffle. The inverted file carries only
    (doc_id, cidx, xxhash64(chunk)) — 8 B keys; the recurring-chunk
    set is a map-side-combined aggregate over those keys. That set is
    NOT vocabulary-small (template count grows with source count at
    100 TB), so the mark-back is a SHUFFLE_HASH join on the hash key —
    never a broadcast (plan-asserted). The per-doc bad-chunk index
    sets (bounded by n_chunks/doc) then meet the document row once on
    doc_id and the ENTIRE rebuild — counts, removed tokens,
    clean_text — happens in-row over the original words array: no
    collect_list, no per-group sort, document text moves through
    exactly one doc_id-keyed shuffle."""
    return boilerplate_report(load_tables(spark, sf_dir)["documents"])


#: In-row chunk list: chunk i = words[i*W .. i*W+W-1] re-joined.
_CHUNKS_EXPR = (
    f"transform(sequence(0, CAST(ceil(size(words) / {CHUNK_W}.0) AS INT) - 1), "
    f"i -> concat_ws(' ', slice(words, i * {CHUNK_W} + 1, {CHUNK_W})))"
)


def boilerplate_report(docs: DataFrame) -> DataFrame:
    """Core of q_boilerplate_chunks over any (doc_id, text) frame.

    The oracle keys on chunk STRINGS; this plan keys on their 64-bit
    xxhash64 (value-identical short of a 64-bit collision — the same
    caveat as the substring family's hashed gram keys)."""
    w = docs.withColumn("words", F.split("text", " "))
    c = w.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(words) / {CHUNK_W}.0) AS INT) - 1), "
                f"i -> xxhash64(concat_ws(' ', slice(words, i * {CHUNK_W} + 1, {CHUNK_W}))))"
            )
        ).alias("cidx", "ch"),
    ).select("doc_id", F.col("cidx").cast("bigint").alias("cidx"), "ch")
    boiler = (
        c.groupBy("ch")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= BOILER_DF)
        .select("ch")
    )
    # recurring-chunk set is corpus-scale (every template family adds
    # rows) → shuffle_hash on the 8 B chunk hash, never broadcast
    bad = (
        c.join(boiler.hint("shuffle_hash"), "ch")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("cidx")).alias("bad"))
    )
    # one doc_id-keyed meet, then the rebuild is pure in-row HOF work
    marked = (
        w.join(bad.hint("shuffle_hash"), "doc_id", "left")
        .withColumn("bad", F.coalesce("bad", F.expr("CAST(array() AS ARRAY<BIGINT>)")))
        .withColumn("chunks", F.expr(_CHUNKS_EXPR))
    )
    return marked.select(
        "doc_id",
        F.size("chunks").cast("bigint").alias("n_chunks"),
        F.size("bad").cast("bigint").alias("n_removed"),
        F.expr(
            "aggregate(bad, CAST(0 AS BIGINT), "
            "(acc, i) -> acc + size(split(chunks[CAST(i AS INT)], ' ')))"
        ).alias("removed_tokens"),
        F.concat_ws(
            " ",
            F.expr(
                "filter(chunks, (x, i) -> NOT array_contains(bad, CAST(i AS BIGINT)))"
            ),
        ).alias("clean_text"),
    )


@query(
    "q_lm_perplexity",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    bg AS (
        SELECT doc_id, words[i + 1] AS w1, words[i + 2] AS w2
        FROM w, UNNEST(range(len(words) - 1)) AS t(i)
        WHERE len(words) >= 2
    ),
    d2 AS (
        SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY doc_id, w1, w2
    ),
    c2 AS (SELECT w1, w2, SUM(tf) AS c2 FROM d2 GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
    v AS (
        SELECT COUNT(DISTINCT word) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    ),
    terms AS (
        SELECT d2.doc_id, d2.tf,
               CAST(ROUND(-ln((CAST(c2.c2 AS DOUBLE) + 1.0)
                              / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))),
                          6) AS DECIMAL(18,6)) AS nll6
        FROM d2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(tf AS DECIMAL(18,0)) * nll6) AS DOUBLE) AS sum_nll,
           CAST(CAST(SUM(CAST(tf AS DECIMAL(18,0)) * nll6) AS DOUBLE)
                / CAST(SUM(tf) AS DOUBLE) AS DOUBLE) AS mean_nll
    FROM terms
    GROUP BY doc_id
    """,
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (the KenLM-perplexity filtering signal,
    trained on the corpus itself): per doc, the add-1-smoothed negative
    log-likelihood sum and mean over its bigrams. High mean_nll = the
    doc's word transitions are improbable under the corpus LM =
    gibberish candidate; low = fluent/boilerplate.

    Made hash-verifiable (the thing perplexity scores normally aren't)
    by the repo's two standing rules: each -ln((c2+1)/(c1+V)) term is
    rounded to 6 dp (q_tf_idf's libm rule — the division of exact
    integers is one IEEE op, bit-equal in both engines), and the
    per-doc sum runs in exact DECIMAL so neither engine's addition
    order matters. V, c1, c2 are exact integer counts.

    Scale shape: bigrams are built in-row (zip the words array with
    its own tail — no self-join); (doc,w1,w2) term frequencies and the
    corpus tables c2/c1 are map-side-combined aggregates. The bigram
    vocabulary does NOT obey unigram Heaps' law — at 100 TB the
    distinct-bigram table is itself corpus-scale, so the scoring join
    is a SHUFFLE-HASH join on (w1, w2): c1 folds into the LM table on
    w1 (both sides vocabulary-keyed), then the staged term frame meets
    the LM table partitioned by bigram — no unbounded broadcast
    anywhere in the plan (VERDICT r7 task #2). Only the exact-1-row V
    rides in as a broadcast cross join; the final per-doc fold is one
    partial-agg shuffle on doc_id."""
    return perplexity_report(load_tables(spark, sf_dir)["documents"])


def perplexity_report(docs: DataFrame) -> DataFrame:
    """Core of q_lm_perplexity over any (doc_id, text) frame."""
    w = docs.withColumn("words", F.split("text", " "))
    bg = (
        w.filter(F.size("words") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(words) - 2), "
                    "i -> struct(words[i] AS w1, words[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    d2 = stage(
        bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf")),
        "lm_perplexity.d2",
    )
    c2 = d2.groupBy("w1", "w2").agg(F.sum("tf").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = (
        docs
        .select(F.explode(F.split("text", " ")).alias("word"))
        .agg(F.countDistinct("word").alias("v"))
    )
    nll6 = F.round(
        -F.log(
            (F.col("c2").cast("double") + F.lit(1.0))
            / (F.col("c1").cast("double") + F.col("v").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    # LM table: fold c1 onto c2 first (vocab-keyed shuffle-hash join on
    # w1), then meet the term frame on the full bigram key. Both joins
    # are SHUFFLE_HASH by hint: neither side is bounded at 100 TB, so a
    # broadcast here would be the scale-killer (VERDICT r7 task #2).
    lm = c2.join(c1.hint("shuffle_hash"), "w1")
    terms = (
        d2.join(lm.hint("shuffle_hash"), ["w1", "w2"])
        .crossJoin(F.broadcast(v))
        .select("doc_id", "tf", nll6.alias("nll6"))
    )
    return terms.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("tf").cast("decimal(18,0)") * F.col("nll6"))
        .cast("double")
        .alias("sum_nll"),
        (
            F.sum(F.col("tf").cast("decimal(18,0)") * F.col("nll6")).cast("double")
            / F.sum("tf").cast("double")
        ).alias("mean_nll"),
    )


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, word
        FROM (SELECT doc_id, lang,
                     unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> ''
    ),
    hb AS (
        SELECT doc_id, lang, ({_HV_DUCK}) % {DSIR_B} AS b FROM tok
    ),
    buckets AS (SELECT CAST(range AS BIGINT) AS b FROM range({DSIR_B})),
    tcnt AS (
        SELECT b, COUNT(*) AS ct FROM hb
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    rcnt AS (SELECT b, COUNT(*) AS cr FROM hb GROUP BY b),
    tot AS (
        SELECT SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                 AS nt,
               COUNT(*) AS nr
        FROM hb
    ),
    coef AS (
        SELECT buckets.b,
               CAST(ROUND(ln((CAST(COALESCE(tcnt.ct, 0) AS DOUBLE) + 1.0)
                             / (CAST(tot.nt AS DOUBLE) + {DSIR_B}.0)), 6)
                    AS DECIMAL(18,6))
               - CAST(ROUND(ln((CAST(COALESCE(rcnt.cr, 0) AS DOUBLE) + 1.0)
                               / (CAST(tot.nr AS DOUBLE) + {DSIR_B}.0)), 6)
                      AS DECIMAL(18,6)) AS coef
        FROM buckets LEFT JOIN tcnt USING (b) LEFT JOIN rcnt USING (b)
        CROSS JOIN tot
    ),
    scored AS (
        SELECT hb.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(coef.coef) AS DOUBLE) AS logw
        FROM hb JOIN coef USING (b)
        GROUP BY hb.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, logw
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id ASC) AS rn
        FROM scored
    )
    WHERE rn <= {DSIR_TOP}
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): importance weight
    log w(doc) = sum over tokens of [ln p_target(bucket) -
    ln p_raw(bucket)] with hashed unigram features ({DSIR_B} buckets,
    portable per-char polynomial hash), target = lang
    '{DSIR_TARGET_LANG}' docs, raw = whole corpus; add-1 smoothing on
    both distributions; returns the deterministic top-{DSIR_TOP}
    selection (logw desc, doc_id asc). Hash-verified end-to-end: the
    two ln terms are rounded to 6 dp and subtracted/summed in exact
    DECIMAL, so both engines produce the identical weight and the
    identical selection.

    Scale shape: the token stream maps to {DSIR_B} buckets in-row;
    both distributions are {DSIR_B}-row aggregates (map-side combined);
    the coefficient table is {DSIR_B} rows and broadcasts onto the
    token stream (no shuffle of the big side beyond the per-doc fold);
    the global top-{DSIR_TOP} is a TakeOrdered, not a full sort. At
    100 TB the only O(corpus) shuffle is the groupBy(doc_id) fold."""
    return dsir_report(load_tables(spark, sf_dir)["documents"])


def _dsir_token_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b) — one row per token occurrence, mapped to its
    hashed feature bucket."""
    tok = (
        docs
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    # The per-char polynomial is interpreted HOF work — evaluate it once
    # per DISTINCT word (vocabulary-sized under Heaps' law, a map-side-
    # combined aggregate) and broadcast the (word → bucket) map back
    # onto the occurrence stream, instead of re-hashing every occurrence
    # (measured 2.5 → 1.4 s warm at sf0.1). The occurrence stream itself
    # never shuffles before the per-doc fold — an A/B with a
    # fold-to-(doc,word)-counts-first variant was SLOWER (1.8 s) because
    # it adds a second corpus-sized shuffle for nothing.
    wmap = (
        tok.select("word")
        .distinct()
        .select("word", (F.expr(_HV_SPARK) % DSIR_B).alias("b"))
    )
    return tok.join(F.broadcast(wmap), "word").select("doc_id", "lang", "b")


def dsir_coefficients(docs: DataFrame, hb: DataFrame | None = None) -> DataFrame:
    """The trained DSIR model: per-bucket coefficient table
    (b, coef DECIMAL(18,6)) = round6(ln p_target) − round6(ln p_raw),
    add-1 smoothed over {DSIR_B} buckets. {DSIR_B} rows — the artifact
    a production pipeline trains offline and broadcasts at ingest
    (streaming twin: streaming.ops.stream_dsir_score)."""
    if hb is None:
        hb = _dsir_token_buckets(docs)
    buckets = docs.sparkSession.range(DSIR_B).select(
        F.col("id").cast("bigint").alias("b")
    )
    is_target = F.col("lang") == DSIR_TARGET_LANG
    # ONE corpus-sized aggregation yields both distributions (64 rows);
    # the totals then fold from those 64 rows for free. (The earlier
    # three-separate-aggregates shape re-ran the tokenize subtree per
    # aggregate — 100k-doc smoke: dsir 32.6 → 12.4 s.)
    bcnt = hb.groupBy("b").agg(
        F.sum(F.when(is_target, 1).otherwise(0)).alias("ct"),
        F.count("*").alias("cr"),
    )
    tot = bcnt.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    rln = lambda cnt, total: F.round(  # noqa: E731
        F.log(
            (F.coalesce(cnt, F.lit(0)).cast("double") + F.lit(1.0))
            / (total.cast("double") + F.lit(float(DSIR_B)))
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        buckets.join(bcnt, "b", "left")
        .crossJoin(tot)
        .select(
            "b",
            (rln(F.col("ct"), F.col("nt")) - rln(F.col("cr"), F.col("nr"))).alias(
                "coef"
            ),
        )
    )


def dsir_report(docs: DataFrame, top: int = DSIR_TOP) -> DataFrame:
    """Core of q_dsir_weights over any (doc_id, lang, text) frame.

    The occurrence→bucket stream feeds both the model (coefficients)
    and the scoring fold, so it is staged once (localCheckpoint; on a
    cluster this is the materialized hashed-feature table)."""
    hb = stage(_dsir_token_buckets(docs), "dsir.hashed_buckets")
    coef = dsir_coefficients(docs, hb=hb)
    scored = (
        hb.join(F.broadcast(coef), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("coef").cast("double").alias("logw"),
        )
    )
    # orderBy + limit plans as TakeOrderedAndProject (per-partition
    # partial top-k, driver merge of `top` rows) — a global row_number
    # window would move EVERY doc to one partition first.
    return scored.orderBy(F.col("logw").desc(), F.col("doc_id").asc()).limit(top)


#: q_curation_v3 stage parameters: token gate band on the REBUILT text,
#: the integer substring-coverage drop (10·dup ≥ 6·n ⇔ ratio ≥ 0.6),
#: and the final DSIR selection size.
V3_GATE_MIN = 5
V3_GATE_MAX = 512
V3_TOP = 200


@query(
    "q_curation_v3",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    c AS (
        SELECT doc_id, CAST(i AS BIGINT) AS cidx,
               array_to_string(
                 list_slice(words, i * {CHUNK_W} + 1, (i + 1) * {CHUNK_W}), ' ')
                 AS chunk
        FROM w, UNNEST(range((len(words) + {CHUNK_W} - 1) // {CHUNK_W}))
               AS t(i)
    ),
    boiler AS (
        SELECT chunk FROM c GROUP BY chunk
        HAVING COUNT(DISTINCT doc_id) >= {BOILER_DF}
    ),
    rebuilt AS (
        SELECT c.doc_id,
               COALESCE(string_agg(
                   CASE WHEN b.chunk IS NULL THEN c.chunk END,
                   ' ' ORDER BY c.cidx), '') AS text
        FROM c LEFT JOIN boiler b USING (chunk)
        GROUP BY c.doc_id
    ),
    gated AS (
        SELECT r.doc_id, d.lang, r.text,
               CAST(len(list_filter(string_split(r.text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM rebuilt r JOIN documents d USING (doc_id)
        WHERE len(list_filter(string_split(r.text, ' '), x -> x <> ''))
              BETWEEN {V3_GATE_MIN} AND {V3_GATE_MAX}
    ),
    winners AS (
        SELECT g.* FROM gated g
        JOIN (SELECT text, MIN(doc_id) AS doc_id FROM gated GROUP BY text) k
          ON g.text = k.text AND g.doc_id = k.doc_id
    ),
    w2 AS (SELECT doc_id, string_split(text, ' ') AS words FROM winners),
    g2 AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(list_slice(words, i + 1, i + {SPAN_K}), ' ')
                 AS gram
        FROM w2, UNNEST(range(len(words) - {SPAN_K} + 1)) AS t(i)
        WHERE len(words) >= {SPAN_K}
    ),
    dup2 AS (
        SELECT gram FROM g2 GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    spans2 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup2 USING (gram)),
    cover2 AS (
        SELECT doc_id, COUNT(DISTINCT pos + j) AS dup_tokens
        FROM spans2, UNNEST(range({SPAN_K})) AS t(j)
        GROUP BY doc_id
    ),
    dropped AS (
        SELECT b.doc_id
        FROM (SELECT doc_id, len(words) AS nt FROM w2) b
        JOIN cover2 USING (doc_id)
        WHERE 10 * cover2.dup_tokens >= 6 * b.nt
    ),
    surv AS (
        SELECT * FROM winners WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    tok3 AS (
        SELECT doc_id, lang, word
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
              FROM surv)
        WHERE word <> ''
    ),
    hb3 AS (
        SELECT doc_id, lang, ({_HV_DUCK}) % {DSIR_B} AS b FROM tok3
    ),
    buckets AS (SELECT CAST(range AS BIGINT) AS b FROM range({DSIR_B})),
    bcnt AS (
        SELECT b,
               SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                 AS ct,
               COUNT(*) AS cr
        FROM hb3 GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM bcnt),
    coef AS (
        SELECT buckets.b,
               CAST(ROUND(ln((CAST(COALESCE(bcnt.ct, 0) AS DOUBLE) + 1.0)
                             / (CAST(tot.nt AS DOUBLE) + {DSIR_B}.0)), 6)
                    AS DECIMAL(18,6))
               - CAST(ROUND(ln((CAST(COALESCE(bcnt.cr, 0) AS DOUBLE) + 1.0)
                               / (CAST(tot.nr AS DOUBLE) + {DSIR_B}.0)), 6)
                      AS DECIMAL(18,6)) AS coef
        FROM buckets LEFT JOIN bcnt USING (b) CROSS JOIN tot
    ),
    scored AS (
        SELECT hb3.doc_id,
               COUNT(*) AS sel_tokens,
               CAST(SUM(coef.coef) AS DOUBLE) AS logw
        FROM hb3 JOIN coef USING (b)
        GROUP BY hb3.doc_id
    )
    SELECT s.doc_id, surv.lang,
           CAST(s.sel_tokens AS BIGINT) AS n_tokens, s.logw
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id ASC) AS rn
        FROM scored
    ) s JOIN surv USING (doc_id)
    WHERE s.rn <= {V3_TOP}
    """,
)
def q_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed published-recipe curation pipeline, v3 — every
    stage one of this module's verified operators, chained the way a
    production corpus build chains them, the WHOLE composition under
    one driver hash:

      boilerplate rewrite (boilerplate_report — recurring chunks cut,
        docs rebuilt)
      → token-band quality gate ({V3_GATE_MIN}..{V3_GATE_MAX} on the
        REBUILT text)
      → exact dedup (min doc_id survives per rebuilt text)
      → duplicated-span drop (substring_report on the survivor set;
        integer predicate 10·dup_tokens ≥ 6·n_tokens, i.e. ≥60% of the
        doc covered by cross-doc spans — CCNet-style hard drop, the
        exact-dup stage having already kept one copy of identicals)
      → DSIR selection (dsir_report retrained on the survivors,
        deterministic top-{V3_TOP}).

    Scale: the composition adds nothing beyond its stages' own
    shapes — each intermediate is a narrow (doc_id, lang, text) frame;
    the only corpus-sized shuffles remain the stage-internal ones
    (chunk DF, gram DF, per-doc folds)."""
    docs = load_tables(spark, sf_dir)["documents"]
    surv = _v3_survivors(docs)
    sel = dsir_report(surv, top=V3_TOP)
    return sel.join(surv.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "n_tokens", "logw"
    )


#: documents plan → checkpointed v3 survivor frame. The rebuild →
#: gate → exact-dedup → substring-drop subtree has SIX downstream
#: consumers (substring_report's three reads of the word arrays, the
#: anti-join, the DSIR stages, the lang join) — unstaged, the chunk
#: explode re-ran per consumer (warm sf0.1 8.0 → 4.1 s with per-call
#: checkpoints, → 1.0 s session-cached). On a cluster this is the
#: intermediate corpus version a multi-stage build materializes.
_V3_CACHE = SessionCache("corpus.v3_survivors")


def _v3_survivors(docs: DataFrame) -> DataFrame:
    return _V3_CACHE.get_or_build(
        docs.sparkSession, None, lambda: _v3_survivors_build(docs), plan=docs
    )


def _v3_survivors_build(docs: DataFrame) -> DataFrame:
    rebuilt = boilerplate_report(docs).select("doc_id", "clean_text")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    gated = (
        rebuilt.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("clean_text").alias("text"))
        .withColumn("n_tokens", ntok.cast("bigint"))
        .filter(F.col("n_tokens").between(V3_GATE_MIN, V3_GATE_MAX))
    )
    winners = gated.join(
        gated.groupBy("text").agg(F.min("doc_id").alias("doc_id")),
        ["text", "doc_id"],
    ).localCheckpoint()
    sub = substring_report(winners.select("doc_id", "text"))
    dropped = sub.filter(
        10 * F.col("dup_tokens") >= 6 * F.col("n_tokens")
    ).select("doc_id")
    out = winners.join(dropped, "doc_id", "left_anti").localCheckpoint()
    release(winners)  # out is materialized; the intermediate is dead weight
    return out


@query(
    "q_corpus_drift",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, word
        FROM (SELECT doc_id, source,
                     unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> ''
    ),
    hb AS (SELECT source, ({_HV_DUCK}) % {DSIR_B} AS b FROM tok),
    csb AS (SELECT source, b, COUNT(*) AS c FROM hb GROUP BY source, b),
    cb AS (SELECT b, SUM(c) AS c FROM csb GROUP BY b),
    ns AS (SELECT source, SUM(c) AS n FROM csb GROUP BY source),
    ntot AS (SELECT SUM(c) AS n FROM csb),
    grid AS (
        SELECT ns.source, ns.n, buckets.b
        FROM ns CROSS JOIN (SELECT CAST(range AS BIGINT) AS b
                            FROM range({DSIR_B})) buckets
    ),
    terms AS (
        SELECT g.source, g.n,
               CAST(ROUND(
                 (CAST(COALESCE(csb.c, 0) AS DOUBLE) + 1.0)
                   / (CAST(g.n AS DOUBLE) + {DSIR_B}.0)
                 * (ROUND(ln((CAST(COALESCE(csb.c, 0) AS DOUBLE) + 1.0)
                             / (CAST(g.n AS DOUBLE) + {DSIR_B}.0)), 6)
                    - ROUND(ln((CAST(COALESCE(cb.c, 0) AS DOUBLE) + 1.0)
                               / (CAST(ntot.n AS DOUBLE) + {DSIR_B}.0)), 6)),
                 12) AS DECIMAL(24,12)) AS t
        FROM grid g
        LEFT JOIN csb ON csb.source = g.source AND csb.b = g.b
        LEFT JOIN cb ON cb.b = g.b
        CROSS JOIN ntot
    )
    SELECT source, CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(SUM(t) AS DOUBLE) AS kl_vs_corpus
    FROM terms GROUP BY source
    """,
)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: per source, the KL divergence of its
    hashed-token distribution ({DSIR_B} buckets, add-1 smoothed) from
    the whole corpus — the ingest-ops alarm for a crawl source whose
    content shifted (new boilerplate, language drift, spam bursts).
    Same hashed-feature machinery as DSIR, pointed at monitoring.

    Hash-verified despite being an information-theoretic score: each
    bucket's p·(ln p_s − ln p) term is computed with round-6 logs (one
    IEEE product of identical doubles in both engines), rounded to 12
    dp, and summed in exact DECIMAL — the standing rules composed.

    Scale shape: ONE corpus-sized aggregate (source × {DSIR_B} cells,
    map-side combined); everything downstream operates on that tiny
    frame. KL ≥ 0 up to the round-off of the term rounding."""
    return drift_report(load_tables(spark, sf_dir)["documents"])


def drift_report(docs: DataFrame) -> DataFrame:
    """Core of q_corpus_drift over any (source, text) frame."""
    tok = (
        docs
        .select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    wmap = (
        tok.select("word")
        .distinct()
        .select("word", (F.expr(_HV_SPARK) % DSIR_B).alias("b"))
    )
    hb = tok.join(F.broadcast(wmap), "word").select("source", "b")
    # Stage the (source × bucket) cell table: FOUR consumers (cb, ns,
    # ntot, the terms join) and each replayed the corpus tokenize +
    # vocab hash + aggregate without the checkpoint (plan-verified
    # r16: four full document scans). ≤ sources·DSIR_B rows — trivially
    # checkpointable at any corpus size (guide §2.4).
    csb = stage(
        hb.groupBy("source", "b").agg(F.count("*").alias("c")),
        "corpus.drift.csb",
    )
    cb = csb.groupBy("b").agg(F.sum("c").alias("cb"))
    ns = csb.groupBy("source").agg(F.sum("c").alias("n"))
    ntot = csb.agg(F.sum("c").alias("ntot"))
    buckets = docs.sparkSession.range(DSIR_B).select(
        F.col("id").cast("bigint").alias("b")
    )
    grid = ns.crossJoin(buckets)
    ps = (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("n").cast("double") + F.lit(float(DSIR_B))
    )
    lps = F.round(F.log(ps), 6)
    lp = F.round(
        F.log(
            (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(1.0))
            / (F.col("ntot").cast("double") + F.lit(float(DSIR_B)))
        ),
        6,
    )
    terms = (
        grid.join(csb, ["source", "b"], "left")
        .join(cb, "b", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source",
            "n",
            F.round(ps * (lps - lp), 12).cast("decimal(24,12)").alias("t"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.sum("t").cast("double").alias("kl_vs_corpus"),
    )


@query(
    "q_substring_trim",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(list_slice(words, i + 1, i + {SPAN_K}), ' ')
                 AS gram
        FROM w, UNNEST(range(len(words) - {SPAN_K} + 1)) AS t(i)
        WHERE len(words) >= {SPAN_K}
    ),
    holders AS (
        SELECT gram, MIN(doc_id) AS holder FROM g GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    trimspans AS (
        SELECT g.doc_id, g.pos FROM g JOIN holders USING (gram)
        WHERE g.doc_id <> holders.holder
    ),
    cut AS (
        SELECT DISTINCT doc_id, pos + j AS p
        FROM trimspans, UNNEST(range({SPAN_K})) AS t(j)
    ),
    tokens AS (
        SELECT doc_id, CAST(i AS BIGINT) AS p, words[i + 1] AS word
        FROM w, UNNEST(range(len(words))) AS t(i)
    ),
    kept AS (
        SELECT t.doc_id, t.p, t.word
        FROM tokens t LEFT JOIN cut USING (doc_id, p)
        WHERE cut.p IS NULL
    )
    SELECT w.doc_id,
           CAST(len(w.words) AS BIGINT) AS n_tokens,
           CAST(len(w.words) - COUNT(kept.p) AS BIGINT) AS removed_tokens,
           COALESCE(string_agg(kept.word, ' ' ORDER BY kept.p), '')
             AS trimmed_text
    FROM w LEFT JOIN kept USING (doc_id)
    GROUP BY w.doc_id, len(w.words)
    """,
)
def q_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE form of exact substring dedup — what Lee et al.
    2022 actually do to the corpus: every duplicated {SPAN_K}-token
    span is CUT from every doc except the span's canonical holder (the
    lowest doc_id containing it — content kept exactly once
    corpus-wide), and each doc is rebuilt from its surviving tokens.
    Overlapping spans merge through position coverage; docs shorter
    than {SPAN_K} tokens pass through verbatim.

    Scale shape: the same hashed gram inverted file as
    q_dedup_substring plus one holder aggregate (min doc per dup
    gram, broadcast back); the cut-position set explodes only
    duplicated spans; the rebuild is one groupBy(doc_id) with an
    in-row positional sort — the boilerplate-rebuild pattern."""
    docs = load_tables(spark, sf_dir)["documents"]
    return substring_trim(docs)


def substring_trim(docs: DataFrame) -> DataFrame:
    """Core of q_substring_trim over any (doc_id, text) frame."""
    w = docs.withColumn("words", F.split("text", " "))
    # staged gram file shared with substring_report — same word-frame
    # plan (filter ≥ SPAN_K before the transform), so the slot's
    # semanticHash matches and one checkpoint serves both queries
    g = _gram_file(w.filter(F.size("words") >= SPAN_K))
    holders = (
        g.groupBy("h")
        .agg(
            F.min("doc_id").alias("holder"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "holder")
    )
    # holders is one row per dup-gram TYPE — corpus-scale, like the
    # dup set in substring_report (grows ~linearly with duplicated
    # text; unbroadcastable at 100 TB). Shuffle-hash on the 8 B gram
    # key; plan-asserted broadcast-free in tests/test_plans.py.
    trimspans = (
        g.join(holders.hint("shuffle_hash"), "h")
        .filter(F.col("doc_id") != F.col("holder"))
        .select("doc_id", "pos")
    )
    # r16 optimization (guide §2.3/§2.4): the old rebuild exploded the
    # WHOLE corpus into token rows, anti-joined them against a K×
    # exploded cut-position set, and re-assembled every doc through a
    # collect_list + in-row sort — three corpus-scale exchanges for a
    # decision that only depends on the (tiny) duplicated-span set.
    # Now: merge the fixed-length cut spans into disjoint ISLANDS per
    # doc (gaps-and-islands over one doc-keyed window — spans at
    # strictly increasing pos; a new island starts when the gap
    # exceeds K−1), aggregate islands to one sorted interval array per
    # affected doc, and rebuild each doc IN-ROW by slicing the words
    # array between the islands. Docs without cuts pass through
    # verbatim (split/concat_ws roundtrip is the identity). The only
    # corpus-scale exchange left is the span window itself.
    wl = Window.partitionBy("doc_id").orderBy("pos")
    wcum = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("pos").over(wl)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > SPAN_K - 1), 1).otherwise(0)
    islands = (
        trimspans.withColumn("isl", F.sum(brk).over(wcum))
        .groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + SPAN_K - 1).alias("e"),
        )
    )
    cuts = islands.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("iv"),
        F.sum(F.col("e") - F.col("s") + 1).alias("removed"),
    )
    kept = F.expr(
        "flatten(zip_with("
        "  concat(array(0L), transform(iv, x -> x.e + 1)),"
        "  concat(transform(iv, x -> x.s), array(CAST(size(words) AS BIGINT))),"
        "  (a, b) -> slice(words, CAST(a + 1 AS INT), CAST(b - a AS INT))))"
    )
    return (
        w.join(cuts, "doc_id", "left")
        .select(
            "doc_id",
            F.size("words").cast("bigint").alias("n_tokens"),
            F.coalesce("removed", F.lit(0)).cast("bigint").alias("removed_tokens"),
            F.when(F.col("iv").isNull(), F.col("text"))
            .otherwise(F.concat_ws(" ", kept))
            .alias("trimmed_text"),
        )
    )


@query(
    "q_curation_trace",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    c AS (
        SELECT doc_id, CAST(i AS BIGINT) AS cidx,
               array_to_string(
                 list_slice(words, i * {CHUNK_W} + 1, (i + 1) * {CHUNK_W}), ' ')
                 AS chunk
        FROM w, UNNEST(range((len(words) + {CHUNK_W} - 1) // {CHUNK_W}))
               AS t(i)
    ),
    boiler AS (
        SELECT chunk FROM c GROUP BY chunk
        HAVING COUNT(DISTINCT doc_id) >= {BOILER_DF}
    ),
    rebuilt AS (
        SELECT c.doc_id,
               COALESCE(string_agg(
                   CASE WHEN b.chunk IS NULL THEN c.chunk END,
                   ' ' ORDER BY c.cidx), '') AS text
        FROM c LEFT JOIN boiler b USING (chunk)
        GROUP BY c.doc_id
    ),
    sized AS (
        SELECT r.doc_id, d.lang, r.text,
               CAST(len(list_filter(string_split(r.text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM rebuilt r JOIN documents d USING (doc_id)
    ),
    band AS (
        SELECT * FROM sized
        WHERE n_tokens BETWEEN {V3_GATE_MIN} AND {V3_GATE_MAX}
    ),
    keymin AS (
        SELECT text, MIN(doc_id) AS m FROM band GROUP BY text
    ),
    winners AS (
        SELECT b.* FROM band b JOIN keymin k
          ON b.text = k.text AND b.doc_id = k.m
    ),
    w2 AS (SELECT doc_id, string_split(text, ' ') AS words FROM winners),
    g2 AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(list_slice(words, i + 1, i + {SPAN_K}), ' ')
                 AS gram
        FROM w2, UNNEST(range(len(words) - {SPAN_K} + 1)) AS t(i)
        WHERE len(words) >= {SPAN_K}
    ),
    dup2 AS (
        SELECT gram FROM g2 GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    spans2 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup2 USING (gram)),
    cover2 AS (
        SELECT doc_id, COUNT(DISTINCT pos + j) AS dup_tokens
        FROM spans2, UNNEST(range({SPAN_K})) AS t(j)
        GROUP BY doc_id
    ),
    dropped AS (
        SELECT b.doc_id, cover2.dup_tokens
        FROM (SELECT doc_id, len(words) AS nt FROM w2) b
        JOIN cover2 USING (doc_id)
        WHERE 10 * cover2.dup_tokens >= 6 * b.nt
    ),
    surv AS (
        SELECT * FROM winners
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    tok3 AS (
        SELECT doc_id, lang, word
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
              FROM surv)
        WHERE word <> ''
    ),
    hb3 AS (
        SELECT doc_id, lang, ({_HV_DUCK}) % {DSIR_B} AS b FROM tok3
    ),
    buckets AS (SELECT CAST(range AS BIGINT) AS b FROM range({DSIR_B})),
    bcnt AS (
        SELECT b,
               SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                 AS ct,
               COUNT(*) AS cr
        FROM hb3 GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM bcnt),
    coef AS (
        SELECT buckets.b,
               CAST(ROUND(ln((CAST(COALESCE(bcnt.ct, 0) AS DOUBLE) + 1.0)
                             / (CAST(tot.nt AS DOUBLE) + {DSIR_B}.0)), 6)
                    AS DECIMAL(18,6))
               - CAST(ROUND(ln((CAST(COALESCE(bcnt.cr, 0) AS DOUBLE) + 1.0)
                               / (CAST(tot.nr AS DOUBLE) + {DSIR_B}.0)), 6)
                      AS DECIMAL(18,6)) AS coef
        FROM buckets LEFT JOIN bcnt USING (b) CROSS JOIN tot
    ),
    scored AS (
        SELECT hb3.doc_id, CAST(SUM(coef.coef) AS DOUBLE) AS logw
        FROM hb3 JOIN coef USING (b) GROUP BY hb3.doc_id
    ),
    sel AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id ASC) AS rn
            FROM scored
        ) WHERE rn <= {V3_TOP}
    )
    SELECT s.doc_id,
           CASE WHEN s.n_tokens < {V3_GATE_MIN} THEN 'too_short'
                WHEN s.n_tokens > {V3_GATE_MAX} THEN 'too_long'
                WHEN k.m IS NOT NULL AND s.doc_id <> k.m THEN 'exact_dup'
                WHEN dr.doc_id IS NOT NULL THEN 'span_dup'
                WHEN sel.doc_id IS NOT NULL THEN 'selected'
                ELSE 'not_selected' END AS decision,
           CASE WHEN s.n_tokens < {V3_GATE_MIN}
                  OR s.n_tokens > {V3_GATE_MAX} THEN NULL
                WHEN k.m IS NOT NULL AND s.doc_id <> k.m THEN k.m
                WHEN dr.doc_id IS NOT NULL THEN dr.dup_tokens
                ELSE NULL END AS detail
    FROM sized s
    LEFT JOIN keymin k ON k.text = s.text
    LEFT JOIN dropped dr ON dr.doc_id = s.doc_id
    LEFT JOIN sel ON sel.doc_id = s.doc_id
    """,
)
def q_curation_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainable curation — the audit table answering "why was my
    document dropped?": every ORIGINAL doc traced to the first
    q_curation_v3 stage that eliminated it (too_short / too_long on
    the rebuilt text, exact_dup citing the surviving doc, span_dup
    with its duplicated-token count) or to its final fate (selected /
    not_selected by the DSIR cut). `detail` carries the per-decision
    evidence: the surviving doc_id for exact_dup, the covered-token
    count for span_dup, NULL otherwise.

    The decisions are exactly v3's — the same stage predicates over
    the same frames (consistency with q_curation_v3's selection is
    pinned by test_curation_trace_consistent_with_v3); only the
    bookkeeping differs. Scale shape: v3's stages plus three
    broadcast-sized left joins of per-doc verdict frames. The small
    (doc_id, decision, detail) result is SESSION-CACHED like every
    staging artifact: q_curation_funnel aggregates it (measured 5.9 s
    per warm call re-running the whole stage chain before the cache,
    ~0.2 s after), and on a cluster this is the persisted audit table
    the summary reads."""
    return _TRACE_CACHE.get_or_build(
        spark, sf_dir, lambda: _curation_trace_build(spark, sf_dir)
    )


def _curation_trace_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    rebuilt = boilerplate_report(docs).select("doc_id", "clean_text")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    sized = (
        rebuilt.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("clean_text").alias("text"))
        .withColumn("n_tokens", ntok.cast("bigint"))
        .localCheckpoint()
    )
    band = sized.filter(F.col("n_tokens").between(V3_GATE_MIN, V3_GATE_MAX))
    keymin = band.groupBy("text").agg(F.min("doc_id").alias("m"))
    winners = band.join(keymin, "text").filter(F.col("doc_id") == F.col("m")).drop("m")
    sub = substring_report(winners.select("doc_id", "text"))
    dropped = sub.filter(10 * F.col("dup_tokens") >= 6 * F.col("n_tokens")).select(
        "doc_id", F.col("dup_tokens").alias("dr_tokens")
    )
    surv = winners.join(dropped.select("doc_id"), "doc_id", "left_anti")
    sel = dsir_report(surv, top=V3_TOP).select(
        "doc_id", F.lit(True).alias("is_sel")
    )
    out = (
        sized.join(keymin.select(F.col("m"), F.col("text").alias("ktext")),
                   F.col("text") == F.col("ktext"), "left")
        .join(dropped, "doc_id", "left")
        .join(F.broadcast(sel), "doc_id", "left")
    )
    too_short = F.col("n_tokens") < V3_GATE_MIN
    too_long = F.col("n_tokens") > V3_GATE_MAX
    exact_dup = F.col("m").isNotNull() & (F.col("doc_id") != F.col("m"))
    span_dup = F.col("dr_tokens").isNotNull()
    out_frame = out.select(
        "doc_id",
        F.when(too_short, "too_short")
        .when(too_long, "too_long")
        .when(exact_dup, "exact_dup")
        .when(span_dup, "span_dup")
        .when(F.col("is_sel").isNotNull(), "selected")
        .otherwise("not_selected")
        .alias("decision"),
        F.when(too_short | too_long, F.lit(None).cast("bigint"))
        .when(exact_dup, F.col("m"))
        .when(span_dup, F.col("dr_tokens"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("detail"),
    ).localCheckpoint()
    release(sized)  # out_frame is materialized; the intermediate is dead
    return out_frame


#: sf_dir → checkpointed trace frame (see q_curation_trace).
_TRACE_CACHE = SessionCache("corpus.trace")


@query(
    "q_template_catalog",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS words
        FROM documents
    ),
    c AS (
        SELECT doc_id, source,
               array_to_string(
                 list_slice(words, i * {CHUNK_W} + 1, (i + 1) * {CHUNK_W}), ' ')
                 AS chunk
        FROM w, UNNEST(range((len(words) + {CHUNK_W} - 1) // {CHUNK_W}))
               AS t(i)
    )
    SELECT chunk,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS sample_doc
    FROM c
    GROUP BY chunk
    HAVING COUNT(DISTINCT doc_id) >= {BOILER_DF}
    ORDER BY n_docs DESC, chunk ASC
    LIMIT 50
    """,
)
def q_template_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate CATALOG — the human-auditable face of the
    removal operators: the top recurring {CHUNK_W}-token templates
    (the chunks q_boilerplate_chunks cuts), each with its document
    reach, raw occurrence count, source spread (a template crossing
    many sources is crawl-infrastructure boilerplate; one source =
    that site's furniture) and a sample doc to inspect. What a
    curation operator reviews before approving a removal rule.

    Scale shape: the chunk DF aggregate (map-side combined) filtered
    to >= {BOILER_DF} docs, TakeOrdered top-50 — no corpus-sized
    anything past the one aggregate."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = docs.withColumn("words", F.split("text", " "))
    c = w.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(words) / {CHUNK_W}.0) AS INT) - 1), "
                f"i -> concat_ws(' ', slice(words, i * {CHUNK_W} + 1, {CHUNK_W})))"
            )
        ).alias("chunk"),
    )
    return (
        c.groupBy("chunk")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("sample_doc"),
        )
        .filter(F.col("n_docs") >= BOILER_DF)
        .orderBy(F.col("n_docs").desc(), F.col("chunk").asc())
        .limit(50)
    )


@query(
    "q_zipf_fit",
    oracle="""
    WITH wf AS (
        SELECT word, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    ),
    ranked AS (
        SELECT ROW_NUMBER() OVER (ORDER BY n DESC, word ASC) AS r, n
        FROM wf
    ),
    pts AS (
        SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
               CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_vocab,
           (k * sxy - sx * sy) / (k * sxx - sx * sx) AS slope,
           (sy * sxx - sx * sxy) / (k * sxx - sx * sx) AS intercept
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health scalar: the
    least-squares slope of ln(freq) vs ln(rank) over the vocabulary
    (natural corpora sit near −1; a slope collapsing toward 0 means
    boilerplate/duplication flattened the distribution, a steep slope
    means a vocabulary hole). Hash-verifiable regression: x/y are
    round-6 logs in exact DECIMAL, all five regression sums are exact,
    and slope/intercept are each ONE IEEE division of exact operands —
    no mean-centering drift, no iterative fit.

    Scale shape: the word-frequency aggregate (map-side combined), a
    vocabulary-sized rank window (Zipf ranks ≪ corpus), one 5-number
    fold. The corpus is touched once."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W

    wf = (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    ranked = wf.select(
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), F.col("word").asc()))
        .alias("r"),
        "n",
    )
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log(F.col("n").cast("double")), 6).cast("decimal(18,6)").alias("y"),
    )
    # The five sums are EXACT decimals; they convert to double once
    # (correctly rounded, hence identical in both engines) and the
    # slope/intercept arithmetic then runs in IEEE doubles with the
    # same expression shape as the oracle — decimal PRODUCTS of the
    # sums would overflow precision 38 and round engine-specifically.
    s = pts.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    det = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("k").cast("bigint").alias("n_vocab"),
        ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / det).alias(
            "slope"
        ),
        ((F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / det).alias(
            "intercept"
        ),
    )


@query(
    "q_ngram_novelty",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id,
               words[i] || chr(31) || words[i + 1] || chr(31) || words[i + 2]
                 AS gram
        FROM (SELECT doc_id, words,
                     unnest(range(1, len(words) - 1)) AS i
              FROM w WHERE len(words) >= 3)
    ),
    f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM g JOIN f USING (gram)
    GROUP BY g.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal novelty per document (Lee et al.'s dedup papers
    measure corpora this way): of a doc's DISTINCT word 3-grams, the
    fraction first seen in THIS doc when the corpus is read in doc_id
    order — the curve that tells you where a training run stops
    seeing new text (near-dups score ~0, fresh content ~1). Docs with
    fewer than 3 words carry no grams and are excluded.

    Scale shape: in-row gram construction (no self-join), ONE
    (doc, gram) dedup shuffle, a gram-keyed MIN aggregate, and a
    gram-keyed join back — the first-occurrence table is corpus-scale
    so it is NEVER broadcast (same rule as the r8 perplexity de-weak);
    both sides shuffle on the gram key once. At 100 TB the gram
    strings become 8-byte xxhash64 keys (q_dedup_substring's layout);
    the string form here keeps the oracle engine-portable."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = docs.select("doc_id", F.split("text", " ").alias("words")).filter(
        F.size("words") >= 3
    )
    g = (
        w.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(words) - 3), i -> "
                    "concat_ws(chr(31), words[i], words[i + 1], words[i + 2]))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    f = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        g.join(f, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count("*").cast("double")).alias(
                "novelty"
            ),
        )
    )


def _curation_funnel_oracle() -> str:
    """Composed at import from the trace oracle — the summary MUST
    aggregate exactly the audit table the per-doc query exposes."""
    from hive_gateway_spark.registry import ORACLES

    return f"""
    WITH trace AS ({ORACLES["q_curation_trace"]}),
    tok AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w <> '')) AS BIGINT) AS n_tok
        FROM documents
    )
    SELECT t.decision,
           COUNT(*) AS n_docs,
           CAST(SUM(k.n_tok) AS BIGINT) AS total_tokens
    FROM trace t JOIN tok k USING (doc_id)
    GROUP BY t.decision
    """


@query("q_curation_funnel", oracle=_curation_funnel_oracle())
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel summary — the one-screen answer to "where
    did my corpus go?": per q_curation_trace decision (too_short /
    too_long / exact_dup / span_dup / selected / not_selected), how
    many documents and how many original whitespace tokens took that
    exit. The oracle nests the FULL trace oracle verbatim, so the
    summary can never drift from the per-doc audit it aggregates —
    the same composition guarantee q_curation_v3 gives its stages.

    Scale shape: the trace's own plan plus one token projection, a
    doc-keyed join, and a six-row aggregate."""
    trace = q_curation_trace(spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("bigint")
        .alias("n_tok"),
    )
    return (
        trace.join(tok, "doc_id")
        .groupBy("decision")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


def _curation_shift_oracle() -> str:
    """Composed at import from the v3 oracle (the funnel pattern)."""
    from hive_gateway_spark.registry import ORACLES

    return f"""
    WITH sel AS ({ORACLES["q_curation_v3"]}),
    before AS (
        SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY lang
    ),
    after AS (SELECT lang, COUNT(*) AS n_after FROM sel GROUP BY lang),
    tot AS (
        SELECT CAST(SUM(n_before) AS BIGINT) AS tb,
               (SELECT CAST(SUM(n_after) AS BIGINT) FROM after) AS ta
        FROM before
    )
    SELECT b.lang,
           CAST(b.n_before AS BIGINT) AS n_before,
           CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
           CAST(b.n_before AS DOUBLE) / CAST(t.tb AS DOUBLE) AS share_before,
           CAST(COALESCE(a.n_after, 0) AS DOUBLE) / CAST(t.ta AS DOUBLE)
             AS share_after,
           CAST(COALESCE(a.n_after, 0) AS DOUBLE) / CAST(t.ta AS DOUBLE)
           - CAST(b.n_before AS DOUBLE) / CAST(t.tb AS DOUBLE) AS shift
    FROM before b LEFT JOIN after a USING (lang) CROSS JOIN tot t
    """


@query("q_curation_shift", oracle=_curation_shift_oracle())
def q_curation_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did curation skew the mix? Per language: corpus share BEFORE
    q_curation_v3 vs share of the SELECTED set, and the signed shift —
    the recipe-evaluation check every published pipeline reports
    (aggressive English-centric quality filters famously shrink
    low-resource languages; this query is where that shows). The v3
    oracle is nested verbatim (the funnel composition guarantee);
    absent-after languages report honest zeros.

    Determinism: integer counts through fixed IEEE ratio chains.
    Scale shape: the selection is the session-staged v3 frame; two
    lang-keyed aggregates and a ~30-row join."""
    docs = load_tables(spark, sf_dir)["documents"]
    sel = q_curation_v3(spark, sf_dir)
    before = docs.groupBy("lang").agg(F.count("*").alias("n_before"))
    after = sel.groupBy("lang").agg(F.count("*").alias("n_after"))
    tb = before.agg(F.sum("n_before").cast("bigint").alias("tb"))
    ta = after.agg(F.sum("n_after").cast("bigint").alias("ta"))
    share_b = F.col("n_before").cast("double") / F.col("tb").cast("double")
    share_a = (
        F.coalesce(F.col("n_after"), F.lit(0)).cast("double")
        / F.col("ta").cast("double")
    )
    return (
        before.join(after, "lang", "left")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(ta))
        .select(
            "lang",
            F.col("n_before").cast("bigint").alias("n_before"),
            F.coalesce(F.col("n_after"), F.lit(0))
            .cast("bigint")
            .alias("n_after"),
            share_b.alias("share_before"),
            share_a.alias("share_after"),
            (share_a - share_b).alias("shift"),
        )
    )


def _ccnet_oracle() -> str:
    """Composed at import from the q_lm_perplexity oracle (the nesting
    guarantee: the buckets can never drift from the scores they cut)."""
    from hive_gateway_spark.registry import ORACLES

    return f"""
    WITH ppl AS ({ORACLES["q_lm_perplexity"]}),
    ranked AS (
        SELECT d.lang, ppl.doc_id, ppl.n_bigrams, ppl.mean_nll,
               NTILE(3) OVER (PARTITION BY d.lang
                              ORDER BY ppl.mean_nll, ppl.doc_id) AS t
        FROM ppl JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
           CAST(SUM(CAST(ROUND(mean_nll, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) AS avg_nll
    FROM ranked
    GROUP BY lang, t
    """


@query("q_ccnet_buckets", oracle=_ccnet_oracle())
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-memoized wrapper — see _ccnet_build for the operator
    (staging.memo_frame: the exact_ntile plan assembly is the warm
    cost once the score frame is staged)."""
    from hive_gateway_spark.staging import memo_frame

    return memo_frame(
        spark, ("q_ccnet_buckets", sf_dir), lambda: _ccnet_build(spark, sf_dir)
    )


def _ccnet_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    language, rank documents by the corpus-LM perplexity score
    (q_lm_perplexity's mean_nll) and cut the ranking into equal
    thirds — head (most fluent), middle, tail (gibberish candidates).
    Published pipelines keep head+middle and drop or down-weight tail;
    this emits the per-(lang, bucket) report an operator reviews
    before choosing the cut.

    Determinism: the ranking key is (mean_nll, doc_id) — mean_nll is
    bit-identical across engines (the 6 dp-rounded-term / exact-
    decimal-sum construction), doc_id breaks ties totally, and
    NTILE(3) is a pure function of the rank order; avg_nll aggregates
    through exact decimal.

    Scale shape (de-weaked r10, VERDICT r9 task #2): the perplexity
    staging (shuffle-hash LM joins, no corpus broadcast) plus ONE
    doc-keyed join for lang and the ``exact_ntile`` cut (ranking.py) —
    the quantile-sketch two-pass form the r9 docstring promised:
    percentile_approx range splits bound every window partition to
    ~1/32² of a language (vs the old per-lang NTILE whose partition WAS
    the corpus/5), ranks are exact integer arithmetic, and the tile is
    bit-identical to NTILE(3); the report itself is 3·langs rows."""
    t = load_tables(spark, sf_dir)
    from hive_gateway_spark.operators.ranking import exact_ntile

    ppl = perplexity_report(t["documents"])
    # exact_ntile makes ~3 passes over its input — stage the small
    # per-doc score frame so the LM joins behind it run once
    # (q_rfm_segments measured this exact re-execution mode)
    ranked = exact_ntile(
        stage(
            ppl.join(t["documents"].select("doc_id", "lang"), "doc_id").select(
                "lang", "doc_id", "n_bigrams", "mean_nll"
            ),
            "ccnet.ntile_input",
        ),
        3,
        "mean_nll",
        "doc_id",
        partition_cols=["lang"],
        out_col="t",
        # mean_nll is a near-continuous double (6 dp-rounded exact-
        # decimal mean) — massive ties are structurally impossible, so
        # the hot-value sub-split passes are skipped (exactness is
        # unconditional; only balance would suffer on a surprise tie).
        tie_subsplit=False,
    )
    bucket = (
        F.when(F.col("t") == 1, "head")
        .when(F.col("t") == 2, "middle")
        .otherwise("tail")
    )
    return ranked.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
        (
            F.sum(F.round("mean_nll", 6).cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("avg_nll"),
    )


# --------------------------------------------------------------------------
# q_curation_v4 — the full published-recipe pipeline (VERDICT r9 task #5)
# --------------------------------------------------------------------------

#: v4 stage parameters: DSIR selection size (sized so the sf0.01 funnel
#: keeps a selective-but-nonempty not_selected band) and the planted
#: contamination pair. The fixture corpus has no cross-benchmark
#: near-dup at either test sf, so WITHOUT planted evidence the
#: decontamination stage would be vacuously green (the q_contamination
#: lesson, VERDICT r03 #2): plant one benchmark doc (id % 97 == 0) and
#: one training near-dup sharing a 50-word prefix (47 shared 3-gram
#: shingles >> CONTAM_MIN_SHARED). Both pass the Gopher battery by
#: construction (55/56 natural words, 7 stopwords) so they PROVABLY
#: reach the decontamination stage, where both exit (benchmark /
#: contaminated) — they never influence the LM, dedup, or DSIR
#: statistics of real documents. IDs far above the fixture range.
V4_TOP = 120

#: dedup's benchmark-slice modulus, bound once here so every v4 CTE
#: AND the funnel's decision CASE interpolate the same constant (a
#: hardcoded copy in one spot would silently desync the funnel's
#: benchmark attribution if the modulus ever changed). Module-level
#: import is cycle-safe: dedup never imports corpus.
from hive_gateway_spark.operators.dedup import (  # noqa: E402
    CONTAM_BENCH_MOD as _V4_BENCH_MOD,
)

#: The Gopher battery's stopword rule with the CORPUS-APPROPRIATE
#: function-word lexicon (the battery's structure is fixed; the lexicon
#: is per-corpus, exactly as CCNet/Gopher deployments swap it per
#: language): the fixture's synthetic vocabulary carries only
#: "the"/"a" as function words (the English list would zero the whole
#: corpus — measured 0/500 at sf0.01), and the planted English pair
#: carries the/and/of/with. ≥2 distinct required, as published.
V4_STOPS = ("the", "a", "and", "of", "with")

_V4_PREFIX = (
    "the quarterly compliance review board published findings that have "
    "broad impact and teams across the region must adopt new retention "
    "policies to align with the updated standard before the close of "
    "the fiscal year while managers prepare training sessions and "
    "document every exception with great care for audit purposes"
)
#: Planted normalized-dup pair (same non-vacuity rule as the
#: contamination pair): two case/punctuation variants whose normalized
#: forms are IDENTICAL, built from a 6-word phrase repeated 10× so the
#: corpus LM (retrained on the survivor set, which includes both) sees
#: every bigram ≥10 times — lowest-possible mean_nll, hence provably
#: head-tile at the CCNet cut, hence both provably REACH the normalized
#: dedup stage where the higher id exits as norm_dup. Self-repetition
#: is invisible to the span drop (coverage counts CROSS-doc grams only)
#: and neither id is ≡ 0 mod 97.
_V4_NORM_PHRASE = "the fast table scan sorts a "
_V4_PLANTED = [
    (9_800_007, "en", _V4_PREFIX + " auditors certified the final consolidated report"),
    (9_800_008, "en", _V4_PREFIX + " engineers archived the draft summary notebooks today"),
    (9_800_105, "en", (_V4_NORM_PHRASE * 10).strip()),
    (9_800_106, "en", ("The fast, table scan sorts a " * 10).strip()),
]
_V4_VALUES = ", ".join(f"({i}, '{g}', '{s}')" for i, g, s in _V4_PLANTED)


def _v4_oracle_ctes() -> str:
    """The shared DuckDB CTE chain computing every q_curation_v4 stage —
    one fragment feeding both the manifest and the funnel oracle, so the
    two cannot drift. Every block is a proven sibling oracle with tables
    renamed: Gopher (gopher_cte), shingle decontamination
    (q_contamination), bigram-LM perplexity (q_lm_perplexity), the
    per-lang NTILE(3) cut (q_ccnet_buckets' semantics), normalized
    dedup (q_dedup_normalized), the span-coverage drop + DSIR selection
    (q_curation_v3), and split/pack (q_split_assign /
    q_pack_sequences)."""
    from hive_gateway_spark.operators.dedup import (
        CONTAM_BENCH_MOD,
        CONTAM_MIN_SHARED,
        _duck_shingles,
    )
    from hive_gateway_spark.operators.sampling import (
        _PACK_BUDGET,
        _PACK_SHARDS,
        _TRAIN_LT,
        _VAL_LT,
        _h_sql,
    )
    from hive_gateway_spark.operators.text import (
        _BPE_RE,
        GOPHER_KEEP_SQL,
        gopher_cte,
    )

    return f"""
    v4corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_V4_VALUES}) AS pv(doc_id, lang, text)
    ),
    {gopher_cte("v4corpus", c_name="gc", stops=V4_STOPS)},
    gok AS (SELECT doc_id FROM gc WHERE {GOPHER_KEEP_SQL}),
    g AS (SELECT v4corpus.* FROM v4corpus JOIN gok USING (doc_id)),
    {_duck_shingles("v4corpus")},
    contam AS (
        SELECT DISTINCT tr.doc_id
        FROM sh tr
        JOIN sh b ON b.shingle = tr.shingle
        WHERE b.doc_id % {CONTAM_BENCH_MOD} = 0
          AND tr.doc_id % {CONTAM_BENCH_MOD} <> 0
        GROUP BY tr.doc_id, b.doc_id
        HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
    ),
    d AS (
        SELECT g.* FROM g
        WHERE g.doc_id % {CONTAM_BENCH_MOD} <> 0
          AND g.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    pw AS (SELECT doc_id, string_split(text, ' ') AS words FROM d),
    bg AS (
        SELECT doc_id, words[i + 1] AS w1, words[i + 2] AS w2
        FROM pw, UNNEST(range(len(words) - 1)) AS t(i)
        WHERE len(words) >= 2
    ),
    d2 AS (
        SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY doc_id, w1, w2
    ),
    c2 AS (SELECT w1, w2, SUM(tf) AS c2 FROM d2 GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
    vv AS (
        SELECT COUNT(DISTINCT word) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM d)
    ),
    terms AS (
        SELECT d2.doc_id, d2.tf,
               CAST(ROUND(-ln((CAST(c2.c2 AS DOUBLE) + 1.0)
                              / (CAST(c1.c1 AS DOUBLE) + CAST(vv.v AS DOUBLE))),
                          6) AS DECIMAL(18,6)) AS nll6
        FROM d2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv
    ),
    ppl AS (
        SELECT doc_id,
               CAST(CAST(SUM(CAST(tf AS DECIMAL(18,0)) * nll6) AS DOUBLE)
                    / CAST(SUM(tf) AS DOUBLE) AS DOUBLE) AS mean_nll
        FROM terms GROUP BY doc_id
    ),
    cut AS (
        SELECT d.doc_id,
               NTILE(3) OVER (PARTITION BY d.lang
                              ORDER BY ppl.mean_nll ASC, d.doc_id ASC) AS t
        FROM d JOIN ppl USING (doc_id)
    ),
    tailt AS (SELECT doc_id FROM cut WHERE t = 3),
    c3 AS (
        SELECT d.* FROM d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM tailt)
    ),
    nn AS (
        SELECT doc_id, lang, text,
               trim(regexp_replace(regexp_replace(upper(text),
                    '[^A-Z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        FROM c3
    ),
    nwin AS (
        SELECT nn.doc_id, nn.lang, nn.text FROM nn
        JOIN (SELECT norm, MIN(doc_id) AS doc_id FROM nn GROUP BY norm) k
          ON nn.norm = k.norm AND nn.doc_id = k.doc_id
    ),
    w2 AS (SELECT doc_id, string_split(text, ' ') AS words FROM nwin),
    g2 AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(list_slice(words, i + 1, i + {SPAN_K}), ' ')
                 AS gram
        FROM w2, UNNEST(range(len(words) - {SPAN_K} + 1)) AS t(i)
        WHERE len(words) >= {SPAN_K}
    ),
    dup2 AS (
        SELECT gram FROM g2 GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    spans2 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup2 USING (gram)),
    cover2 AS (
        SELECT doc_id, COUNT(DISTINCT pos + j) AS dup_tokens
        FROM spans2, UNNEST(range({SPAN_K})) AS t(j)
        GROUP BY doc_id
    ),
    sdrop AS (
        SELECT b.doc_id
        FROM (SELECT doc_id, len(words) AS nt FROM w2) b
        JOIN cover2 USING (doc_id)
        WHERE 10 * cover2.dup_tokens >= 6 * b.nt
    ),
    surv AS (
        SELECT * FROM nwin WHERE doc_id NOT IN (SELECT doc_id FROM sdrop)
    ),
    tok3 AS (
        SELECT doc_id, lang, word
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
              FROM surv)
        WHERE word <> ''
    ),
    hb3 AS (
        SELECT doc_id, lang, ({_HV_DUCK}) % {DSIR_B} AS b FROM tok3
    ),
    buckets AS (SELECT CAST(range AS BIGINT) AS b FROM range({DSIR_B})),
    bcnt AS (
        SELECT b,
               SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                 AS ct,
               COUNT(*) AS cr
        FROM hb3 GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM bcnt),
    coef AS (
        SELECT buckets.b,
               CAST(ROUND(ln((CAST(COALESCE(bcnt.ct, 0) AS DOUBLE) + 1.0)
                             / (CAST(tot.nt AS DOUBLE) + {DSIR_B}.0)), 6)
                    AS DECIMAL(18,6))
               - CAST(ROUND(ln((CAST(COALESCE(bcnt.cr, 0) AS DOUBLE) + 1.0)
                               / (CAST(tot.nr AS DOUBLE) + {DSIR_B}.0)), 6)
                      AS DECIMAL(18,6)) AS coef
        FROM buckets LEFT JOIN bcnt USING (b) CROSS JOIN tot
    ),
    scored AS (
        SELECT hb3.doc_id,
               COUNT(*) AS sel_tokens,
               CAST(SUM(coef.coef) AS DOUBLE) AS logw
        FROM hb3 JOIN coef USING (b)
        GROUP BY hb3.doc_id
    ),
    sel AS (
        SELECT s.doc_id, surv.lang, surv.text,
               CAST(s.sel_tokens AS BIGINT) AS n_tokens, s.logw
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id ASC) AS rn
            FROM scored
        ) s JOIN surv USING (doc_id)
        WHERE s.rn <= {V4_TOP}
    ),
    sized AS (
        SELECT doc_id, lang, n_tokens, logw,
               CASE WHEN {_h_sql('doc_id')} % 1000 < {_TRAIN_LT} THEN 'train'
                    WHEN {_h_sql('doc_id')} % 1000 < {_VAL_LT} THEN 'val'
                    ELSE 'test' END AS split,
               {_h_sql('doc_id')} % {_PACK_SHARDS} AS shard,
               CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
                 AS n_tok
        FROM sel
    ),
    placed AS (
        SELECT doc_id, lang, n_tokens, logw, split, shard,
               CAST(FLOOR(CAST(SUM(n_tok) OVER (
                   PARTITION BY split, lang, shard ORDER BY doc_id ASC
                   ROWS UNBOUNDED PRECEDING
               ) - n_tok AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT) AS bin
        FROM sized
    )"""


_V4_ORACLE = f"""
    WITH {_v4_oracle_ctes()}
    SELECT doc_id, lang, n_tokens, logw, split, shard, bin FROM placed
"""

_V4_FUNNEL_ORACLE = f"""
    WITH {_v4_oracle_ctes()}
    SELECT decision, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
        SELECT v.doc_id,
               CASE WHEN gok.doc_id IS NULL THEN 'gopher_fail'
                    WHEN v.doc_id % {_V4_BENCH_MOD} = 0 THEN 'benchmark'
                    WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                    WHEN tl.doc_id IS NOT NULL THEN 'ppl_tail'
                    WHEN nw.doc_id IS NULL THEN 'norm_dup'
                    WHEN sd.doc_id IS NOT NULL THEN 'span_dup'
                    WHEN sl.doc_id IS NULL THEN 'not_selected'
                    ELSE 'selected' END AS decision
        FROM v4corpus v
        LEFT JOIN gok ON gok.doc_id = v.doc_id
        LEFT JOIN contam ct ON ct.doc_id = v.doc_id
        LEFT JOIN tailt tl ON tl.doc_id = v.doc_id
        LEFT JOIN (SELECT doc_id FROM nwin) nw ON nw.doc_id = v.doc_id
        LEFT JOIN sdrop sd ON sd.doc_id = v.doc_id
        LEFT JOIN (SELECT doc_id FROM sel) sl ON sl.doc_id = v.doc_id
    )
    GROUP BY decision
"""

#: (sf_dir, shingle_n) → {"decisions": frame, "manifest": frame} — the
#: v4 stage chain has two registered consumers (manifest + funnel) and
#: a pipeline-facade pin test; staged once per (session, sf_dir) like
#: the v3 survivor frame and the curation trace.
_V4_CACHE = SessionCache("corpus.v4_state")


def _v4_state(
    spark: SparkSession, sf_dir: str, shingle_n: int | None = None
) -> dict:
    """Run every q_curation_v4 stage once; return checkpointed
    {"decisions", "manifest"} frames (see q_curation_v4 docstring for
    the stage chain and its scale shape).

    ``shingle_n`` parameterizes the DECONTAMINATION shingle width only
    (default: dedup.SHINGLE_N — the fixture/oracle width the registered
    queries pin). 3-gram shingles of a small vocabulary are common
    (the 100k smoke measured 25% of a synthetic zipf corpus flagged at
    n=3, an over-trigger, not leakage); SCALE.md names 8–13 grams as
    the production setting, and corpus_scale_smoke.py asserts the
    flagged share collapses at n=8 while the PLANTED contamination pair
    (50 shared words ≫ any n here) is still caught."""
    from hive_gateway_spark.operators.dedup import SHINGLE_N as _DEFAULT_N

    # normalize: an explicit shingle_n == the default must hit the same
    # cache entry as shingle_n=None (else the whole v4 chain re-runs
    # and double-checkpoints for a semantically identical request)
    n_sh = _DEFAULT_N if shingle_n is None else shingle_n
    return _V4_CACHE.get_or_build(
        spark, (sf_dir, n_sh), lambda: _v4_state_build(spark, sf_dir, n_sh)
    )


def _v4_state_build(spark: SparkSession, sf_dir: str, n_sh: int) -> dict:
    from pyspark.sql import Window

    from hive_gateway_spark.operators.dedup import (
        CONTAM_BENCH_MOD,
        CONTAM_MIN_SHARED,
        _shingles_checkpointed,
    )
    from hive_gateway_spark.operators.ranking import exact_ntile
    from hive_gateway_spark.operators.sampling import (
        _PACK_BUDGET,
        _PACK_SHARDS,
        _TRAIN_LT,
        _VAL_LT,
        _h,
    )
    from hive_gateway_spark.operators.text import _BPE_RE, gopher_report

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "lang", "text")
    planted = spark.createDataFrame(
        _V4_PLANTED, "doc_id bigint, lang string, text string"
    )
    corpus = docs.unionByName(planted)
    # Per-stage doc_id verdict frames are checkpointed ONCE: both
    # consumers (the manifest chain and the decisions/funnel frame)
    # read them, and unmaterialized they would re-execute the gopher
    # scan, the contamination shuffle join, the ranking passes, the
    # gram meet, and the DSIR scoring a second time each (code-review
    # r10: the decisions frame roughly doubled the chain's cold cost).
    # 1. Gopher rule battery (stateless in-row projection, zero shuffle)
    gok = (
        gopher_report(corpus, stops=V4_STOPS)
        .filter("keep")
        .select("doc_id")
        .localCheckpoint()
    )
    g = corpus.join(gok, "doc_id")
    # 2. Decontamination: the fixture side reuses the session-wide
    # checkpointed shingle staging; the 2-row planted side shingles
    # through the same kernel expression (tiny local plan). Benchmark
    # shingle table vs training shingles is a shuffle-hash join on the
    # 8 B hash — never a corpus broadcast (q_contamination's plan).
    from hive_gateway_spark.operators.dedup import SHINGLE_N, shingle_expr

    if n_sh == SHINGLE_N:
        # fixture width: reuse the session-wide checkpointed staging
        sh_fix = _shingles_checkpointed(t).select("doc_id", "h")
    else:
        sh_fix = (
            docs.withColumn("words", F.split("text", " "))
            .filter(F.size("words") >= n_sh)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"array_distinct(transform({shingle_expr(n_sh)},"
                        " s -> xxhash64(s)))"
                    )
                ).alias("h"),
            )
        )
    hs = f"array_distinct(transform({shingle_expr(n_sh)}, s -> xxhash64(s)))"
    sh_pl = (
        planted.withColumn("words", F.split("text", " "))
        .select("doc_id", F.explode(F.expr(hs)).alias("h"))
    )
    sh = sh_fix.unionByName(sh_pl)
    bench = sh.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    train = sh.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0).select(
        F.col("doc_id").alias("train_id"), "h"
    )
    contam_ids = (
        train.hint("shuffle_hash")
        .join(bench, "h")
        .groupBy("bench_id", "train_id")
        .agg(F.count("*").alias("sn"))
        .filter(F.col("sn") >= CONTAM_MIN_SHARED)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .localCheckpoint()
    )
    d = (
        g.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        .join(contam_ids, "doc_id", "left_anti")
        .localCheckpoint()
    )
    # 3. CCNet perplexity cut: LM retrained on the decontaminated set
    # (shuffle-hash LM joins), per-lang exact NTILE(3) via the
    # range-bucket rank projection (no corpus-in-5-partitions window),
    # tail third dropped.
    ppl = perplexity_report(d)
    # staged: exact_ntile's multi-pass ranking must not re-run the LM
    # scoring joins per pass (same fix as q_ccnet_buckets)
    ranked = exact_ntile(
        stage(
            ppl.join(d.select("doc_id", "lang"), "doc_id").select(
                "lang", "doc_id", "mean_nll"
            ),
            "v4.ntile_input",
        ),
        3,
        "mean_nll",
        "doc_id",
        partition_cols=["lang"],
        out_col="t",
        tie_subsplit=False,
    )
    tail_ids = (
        ranked.filter(F.col("t") == 3).select("doc_id").localCheckpoint()
    )
    c3 = d.join(tail_ids, "doc_id", "left_anti")
    # 4. Normalized-text dedup (one shuffle on the normalized key)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.upper(F.col("text")), "[^A-Z0-9 ]", ""),
            " +",
            " ",
        )
    )
    nn = c3.select("doc_id", "lang", "text", norm.alias("norm"))
    keymin = nn.groupBy("norm").agg(F.min("doc_id").alias("m"))
    nwin = (
        nn.join(keymin, "norm")
        .filter(F.col("doc_id") == F.col("m"))
        .select("doc_id", "lang", "text")
        .localCheckpoint()
    )
    # 5. Duplicated-span drop (>=60% coverage) on the canonical set
    sub = substring_report(nwin.select("doc_id", "text"))
    sdrop = (
        sub.filter(10 * F.col("dup_tokens") >= 6 * F.col("n_tokens"))
        .select("doc_id")
        .localCheckpoint()
    )
    surv = nwin.join(sdrop, "doc_id", "left_anti").localCheckpoint()
    # 6. DSIR selection (retrained on survivors, deterministic top-N)
    sel = dsir_report(surv, top=V4_TOP).localCheckpoint()
    # 7. Split + pack: hash split, hash shard, contiguous cumsum bins
    # per (split, lang, shard) — every window partition bounded.
    bucket = _h(F.col("doc_id")) % 1000
    split = (
        F.when(bucket < _TRAIN_LT, "train")
        .when(bucket < _VAL_LT, "val")
        .otherwise("test")
    )
    sized = (
        sel.join(surv.select("doc_id", "lang", "text"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "logw",
            split.alias("split"),
            (_h(F.col("doc_id")) % _PACK_SHARDS).alias("shard"),
            F.regexp_count("text", F.lit(_BPE_RE)).cast("bigint").alias("n_tok"),
        )
    )
    w = (
        Window.partitionBy("split", "lang", "shard")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    manifest = sized.select(
        "doc_id",
        "lang",
        "n_tokens",
        "logw",
        "split",
        "shard",
        F.floor(
            ((F.sum("n_tok").over(w) - F.col("n_tok")).cast("double"))
            / F.lit(_PACK_BUDGET)
        )
        .cast("bigint")
        .alias("bin"),
    ).localCheckpoint()
    # Per-doc first-drop attribution (the funnel/audit frame): the
    # when-chain precedence IS the stage order, so each later branch is
    # only reached by docs that survived every earlier stage.
    decisions = (
        corpus.select("doc_id", "lang")
        .join(gok.withColumn("gk", F.lit(True)), "doc_id", "left")
        .join(contam_ids.withColumn("ct", F.lit(True)), "doc_id", "left")
        .join(tail_ids.withColumn("tl", F.lit(True)), "doc_id", "left")
        .join(
            nwin.select("doc_id").withColumn("nw", F.lit(True)),
            "doc_id",
            "left",
        )
        .join(sdrop.withColumn("sd", F.lit(True)), "doc_id", "left")
        .join(
            sel.select("doc_id").withColumn("sl", F.lit(True)),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            F.when(F.col("gk").isNull(), "gopher_fail")
            .when(F.col("doc_id") % CONTAM_BENCH_MOD == 0, "benchmark")
            .when(F.col("ct").isNotNull(), "contaminated")
            .when(F.col("tl").isNotNull(), "ppl_tail")
            .when(F.col("nw").isNull(), "norm_dup")
            .when(F.col("sd").isNotNull(), "span_dup")
            .when(F.col("sl").isNull(), "not_selected")
            .otherwise("selected")
            .alias("decision"),
        )
        .localCheckpoint()
    )
    for frame in (d, nwin, surv, gok, contam_ids, tail_ids, sdrop, sel):
        release(frame)  # decisions+manifest are materialized; free the stages
    return {"decisions": decisions, "manifest": manifest}


@query("q_curation_v4", oracle=_V4_ORACLE)
def q_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE published-recipe pipeline (RedPajama / Dolma / CCNet
    composed, VERDICT r9 task #5) as ONE driver-verified query — every
    stage a verified sibling operator, chained end-to-end:

      Gopher rule battery (q_gopher_rules — stateless in-row gate)
      → decontamination (q_contamination's shingle machinery: drop the
        benchmark slice AND training docs sharing ≥{CONTAM_MIN_SHARED}
        shingles with it; planted near-dup pair proves non-vacuity)
      → CCNet perplexity cut (q_lm_perplexity retrained on survivors,
        q_ccnet_buckets' per-lang exact NTILE(3), tail third dropped)
      → normalized-text dedup (q_dedup_normalized's canonical election)
      → duplicated-span drop (q_dedup_substring coverage ≥60%)
      → DSIR selection (retrained on survivors, deterministic top-{V4_TOP})
      → split/pack (q_split_assign 80/10/10 hash split +
        q_pack_sequences cumsum bins per (split, lang, shard)).

    Returns the training MANIFEST: one row per selected doc with its
    importance weight, split, shard, and packed bin — the frame a
    dataloader consumes and dataset_export publishes
    (tests/test_corpus.py exports + verifies it through the lakehouse
    layer).

    Published-recipe provenance (technique citations, PAPERS.md — no
    code consulted): rule battery Rae et al. 2021 App. A1.1 (Gopher);
    perplexity bucketing Wenzek et al. 2020 (CCNet); span/dedup stages
    Lee et al. 2022 ("Deduplicating Training Data..."); selection Xie
    et al. 2023 (DSIR); the composed gate order follows the open
    RedPajama / Dolma data pipelines' published stage lists.

    Scale shape: the composition adds nothing beyond its stages' own
    audited shapes — per-doc projections, one shingle-hash shuffle-hash
    join, the shuffle-hash LM joins, the range-bucket NTILE (no
    giant-partition window), one normalized-key shuffle, the capped
    gram meets, the 64-bucket DSIR broadcast, and bounded (split, lang,
    shard) pack windows. Intermediates are narrow (doc_id, lang, text)
    frames, staged once per (session, sf_dir) and shared with the
    funnel."""
    return _v4_state(spark, sf_dir)["manifest"]


@query("q_curation_v4_funnel", oracle=_V4_FUNNEL_ORACLE)
def q_curation_v4_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v4 pipeline's survivorship funnel: every input document
    attributed to the FIRST stage that eliminated it (gopher_fail /
    benchmark / contaminated / ppl_tail / norm_dup / span_dup) or its
    final fate (not_selected / selected) — the one-look audit of where
    a corpus build loses its data, aggregated from the same staged
    decision frame q_curation_v4 derives from (equality with the
    manifest is pinned in tests/test_corpus.py). The planted pair
    guarantees the benchmark and contaminated rows are non-vacuous."""
    dec = _v4_state(spark, sf_dir)["decisions"]
    return dec.groupBy("decision").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


@query(
    "q_dataset_card",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               (CAST(list_sum(list_transform(range(1, length(word) + 1),
                    i -> (ord(substr(word, i, 1)) * (i * 131 + 7))
                         % {(1 << 31) - 1})) AS BIGINT)
                % {(1 << 31) - 1}) % {QC_B} AS b
        FROM w WHERE word <> ''
    ),
    q AS (
        SELECT doc_id, SUM({_qc_weight_sql('b')}) AS num,
               COUNT(*) AS n_tokens
        FROM h GROUP BY doc_id
    ),
    dup AS (
        SELECT text, COUNT(*) AS c FROM documents GROUP BY text
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT d.lang) AS n_langs,
           CAST(SUM(CASE WHEN q.num > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality,
           CAST(SUM(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup,
           ROUND(100.0 * SUM(CASE WHEN q.num > 0 THEN 1 ELSE 0 END)
                 / COUNT(*), 4) AS pct_quality
    FROM documents d
    JOIN q   ON q.doc_id = d.doc_id
    JOIN dup ON dup.text = d.text
    GROUP BY d.source
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the datasheet rollup a corpus release
    ships (Gebru et al. 2021 "Datasheets for Datasets"): document and
    token volume, language spread, the hashed-linear quality share
    (q_quality_classifier's exact arithmetic folded INLINE into the
    scan — no join against a second pass over the corpus), and the
    exact-duplicate share.

    Determinism: token counts and classifier sums are exact integers
    in-row; the dup flag is an integer group count; the one percentage
    divides exact integers identically on both engines.

    Scale shape: the classifier folds in-row (zero extra passes); ONE
    text-keyed shuffle builds the dup counts (at 100 TB: sha2 of the
    text, q_dedup_exact's note) and joins back on the same key; the
    per-source rollup is a handful of rows finished map-side. The
    card covers docs with ≥1 token (the classifier's domain — the
    fixture has no empty docs)."""
    from hive_gateway_spark.operators.text import quality_exprs

    t = load_tables(spark, sf_dir)
    d = t["documents"]
    n_tok, num = quality_exprs()
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        "text",
        n_tok.alias("n_tokens"),
        num.alias("__num"),
    ).filter(F.col("n_tokens") > 0)
    # r16 optimization (guide §2.3): the dup count grouped and joined
    # on the FULL TEXT — multi-KB shuffle keys on both the aggregate
    # and (at scale, where the join stops broadcasting) the join-back.
    # Keyed on xxhash64(text) instead, both exchanges carry 8 B keys
    # (the q_dedup_ngram key discipline; a 64-bit collision has
    # probability ~n²/2⁶⁵, negligible against the oracle gate). The
    # local plan keeps the broadcast join-back (dup is distinct-texts
    # sized), so the corpus still never shuffles here at fixture scale.
    dup = d.groupBy(F.xxhash64("text").alias("th")).agg(F.count("*").alias("c"))
    j = scored.join(dup, F.xxhash64(F.col("text")) == F.col("th"))
    is_q = F.when(F.col("__num") > 0, 1).otherwise(0)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(is_q).cast("bigint").alias("n_quality"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_dup"),
        F.round(100.0 * F.sum(is_q) / F.count(F.lit(1)), 4).alias(
            "pct_quality"
        ),
    )


_V5_ORACLE = f"""
    WITH {{ctes}},
    qcw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM v4corpus
    ),
    qch AS (
        SELECT doc_id,
               (CAST(list_sum(list_transform(range(1, length(word) + 1),
                    i -> (ord(substr(word, i, 1)) * (i * 131 + 7))
                         % {(1 << 31) - 1})) AS BIGINT)
                % {(1 << 31) - 1}) % {QC_B} AS b
        FROM qcw WHERE word <> ''
    ),
    qcs AS (
        SELECT doc_id, SUM({_qc_weight_sql('b')}) AS num
        FROM qch GROUP BY doc_id
    )
    SELECT p.doc_id, p.lang, p.n_tokens, p.logw, p.split, p.shard, p.bin
    FROM placed p JOIN qcs ON qcs.doc_id = p.doc_id
    WHERE qcs.num > 0
"""


@query(
    "q_curation_v5",
    oracle=_V5_ORACLE.format(ctes=_v4_oracle_ctes()),
)
def q_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v4 published-recipe manifest with the hashed-linear quality
    classifier as a FINAL gate — the r12 composition: Gopher →
    decontamination → perplexity cut → normalized dedup → span drop →
    DSIR → split/pack (all of q_curation_v4, reused from the session's
    staged v4 state), then only selections the classifier scores
    positive survive. Running the classifier LAST scores the few
    hundred selected docs instead of the corpus — the cheap-gate-last
    ordering a real pipeline uses when the classifier is the
    expensive model (here it is free either way; the composition
    point is that the stage slots in WITHOUT touching v4's verified
    chain or its hash).

    Determinism: v4's manifest is hash-verified; the gate is the
    exact-integer classifier sum (q_quality_classifier's arithmetic
    over the same v4corpus-with-planted-rows scope, mirrored in the
    oracle's qcs CTE).

    Scale shape: v4's audited stages unchanged; the gate adds one
    in-row integer fold over the SELECTED manifest rows and a
    manifest-sized semi join — no new corpus pass (the oracle scores
    all docs only because SQL has no lazy evaluation; values agree
    wherever both score)."""
    manifest = _v4_state(spark, sf_dir)["manifest"]
    passing = _v5_passing(spark, sf_dir, manifest.select("doc_id"))
    return manifest.join(F.broadcast(passing), "doc_id", "left_semi")


def _v5_passing(
    spark: SparkSession, sf_dir: str, sel_ids: DataFrame
) -> DataFrame:
    """doc_ids among ``sel_ids`` the quality classifier scores positive
    — q_curation_v5's gate, shared with the v5 funnel so the two
    registered consumers cannot drift. Scores ONLY the given ids: the
    id set (DSIR top — a bounded dimension) broadcasts into the corpus
    scan, the classifier folds in-row over the survivors, and the
    selection-sized passing set is what returns. Never a corpus-sized
    build side."""
    from hive_gateway_spark.operators.text import quality_exprs

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "lang", "text")
    planted = spark.createDataFrame(
        _V4_PLANTED, "doc_id bigint, lang string, text string"
    )
    corpus = docs.unionByName(planted)
    # Materialize the semi-joined SLICE before scoring: the classifier
    # fold lands in a Filter that references only corpus columns, so
    # Catalyst's predicate pushdown moves it BELOW the semi join and
    # scores the whole corpus to keep 120 docs — measured as 5.3 s per
    # v5-family call at sf1 where the intended selection-only fold is
    # milliseconds (r14; the sf1 record showed all three v5 queries
    # paying it). The staged checkpoint is an optimizer barrier the
    # pushdown cannot cross, and the slot supersedes itself across the
    # family's two sel_ids spellings (tiny frames either way).
    survivors = stage(
        corpus.join(F.broadcast(sel_ids), "doc_id", "left_semi"),
        "v5.survivors",
    )
    n_tok, num = quality_exprs()
    return (
        survivors.select("doc_id", num.alias("__num"), n_tok.alias("__nt"))
        .filter((F.col("__nt") > 0) & (F.col("__num") > 0))
        .select("doc_id")
    )


_V5_FUNNEL_ORACLE = f"""
    WITH {{ctes}},
    qcw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM v4corpus
    ),
    qch AS (
        SELECT doc_id,
               (CAST(list_sum(list_transform(range(1, length(word) + 1),
                    i -> (ord(substr(word, i, 1)) * (i * 131 + 7))
                         % {(1 << 31) - 1})) AS BIGINT)
                % {(1 << 31) - 1}) % {QC_B} AS b
        FROM qcw WHERE word <> ''
    ),
    qcs AS (
        SELECT doc_id, SUM({_qc_weight_sql('b')}) AS num
        FROM qch GROUP BY doc_id
    )
    SELECT decision, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
        SELECT v.doc_id,
               CASE WHEN gok.doc_id IS NULL THEN 'gopher_fail'
                    WHEN v.doc_id % {_V4_BENCH_MOD} = 0 THEN 'benchmark'
                    WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                    WHEN tl.doc_id IS NOT NULL THEN 'ppl_tail'
                    WHEN nw.doc_id IS NULL THEN 'norm_dup'
                    WHEN sd.doc_id IS NOT NULL THEN 'span_dup'
                    WHEN sl.doc_id IS NULL THEN 'not_selected'
                    WHEN COALESCE(q.num, 0) <= 0 THEN 'quality_fail'
                    ELSE 'selected' END AS decision
        FROM v4corpus v
        LEFT JOIN gok ON gok.doc_id = v.doc_id
        LEFT JOIN contam ct ON ct.doc_id = v.doc_id
        LEFT JOIN tailt tl ON tl.doc_id = v.doc_id
        LEFT JOIN (SELECT doc_id FROM nwin) nw ON nw.doc_id = v.doc_id
        LEFT JOIN sdrop sd ON sd.doc_id = v.doc_id
        LEFT JOIN (SELECT doc_id FROM sel) sl ON sl.doc_id = v.doc_id
        LEFT JOIN qcs q ON q.doc_id = v.doc_id
    )
    GROUP BY decision
"""


def _v5_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, decision) with the classifier gate's exit split
    out of 'selected' — the per-doc frame both v5 audit queries
    (trace + funnel) aggregate from; composed from the staged v4
    decision frame and the shared _v5_passing gate."""
    dec = _v4_state(spark, sf_dir)["decisions"]
    sel_ids = dec.filter(F.col("decision") == "selected").select("doc_id")
    passing = _v5_passing(spark, sf_dir, sel_ids)
    return dec.join(
        F.broadcast(passing.withColumn("qp", F.lit(True))), "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        F.when(
            (F.col("decision") == "selected") & F.col("qp").isNull(),
            "quality_fail",
        )
        .otherwise(F.col("decision"))
        .alias("decision"),
    )


_V5_TRACE_ORACLE = _V5_FUNNEL_ORACLE.replace(
    """    SELECT decision, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
        SELECT v.doc_id,""",
    """    SELECT doc_id, lang, decision
    FROM (
        SELECT v.doc_id, v.lang,""",
).replace("""    )
    GROUP BY decision
""", """    )
""")


@query(
    "q_curation_v5_trace",
    oracle=_V5_TRACE_ORACLE.format(ctes=_v4_oracle_ctes()),
)
def q_curation_v5_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document v5 decision trace (VERDICT r12 task #5's per-doc
    attribution): every input doc with the FIRST stage that eliminated
    it — v4's attribution verbatim, plus 'quality_fail' for v4-selected
    docs the classifier gate rejects. The funnel is exactly this
    frame's GROUP BY (same oracle text modulo the aggregate — string
    surgery, so the two cannot drift)."""
    return _v5_decisions(spark, sf_dir)


@query(
    "q_curation_v5_funnel",
    oracle=_V5_FUNNEL_ORACLE.format(ctes=_v4_oracle_ctes()),
)
def q_curation_v5_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v5 pipeline's survivorship funnel (VERDICT r12 task #5):
    q_curation_v4_funnel's per-doc first-drop attribution with the
    classifier gate's exit attributed too — a v4-selected doc the
    quality classifier scores non-positive lands in 'quality_fail';
    everything upstream keeps its v4 attribution verbatim (the gate
    runs LAST, so it can only split the 'selected' bucket). Composed
    from the same staged v4 decision frame and the same shared
    _v5_passing gate q_curation_v5 filters with, so manifest and
    funnel cannot disagree (equality pinned in tests/test_corpus.py).

    Scale shape: the v4 funnel's aggregate plus one broadcast of the
    selection-sized passing set — no new corpus pass."""
    return (
        _v5_decisions(spark, sf_dir)
        .groupBy("decision")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
