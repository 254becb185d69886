"""Streaming operator implementations (see package docstring).

Every builder takes a *streaming* DataFrame (from stream_events) and
returns a streaming DataFrame; the same builder applied to the batch
events table must produce identical results once the stream is drained
with an availableNow trigger — that equivalence is the test contract
(tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

#: The reference's receive timeout (gateway.ts:56) — our watermark delay.
WATERMARK_DELAY = "30 seconds"

#: Streaming session gap — matches the batch q_sessionize gap.
SESSION_GAP = "30 minutes"

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as a stream: parquet readStream (one file = one batch
    with availableNow; on a cluster this is a Kafka/files source — the
    transformations are source-agnostic).

    readStream requires an explicit schema, but the fixture's physical
    ``ts`` encoding drifts between rounds (nanos-as-long, NTZ µs, LTZ —
    see session._normalize_timestamps). A one-time batch schema read
    captures whatever the file actually stores; the same normalization
    then coerces to LTZ timestamp so every downstream builder sees the
    identical dtype the batch path sees.
    """
    from hive_gateway_spark.session import _normalize_timestamps, configure

    configure(spark)
    path = f"{sf_dir}/events.parquet"
    physical_schema = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(physical_schema)
        .option("maxFilesPerTrigger", 1)
        # the file source requires a directory; select just events.parquet
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_timestamps("events", raw)


#: Epoch base for the live demo's synthesized event time.
_LIVE_BASE = "2026-01-01 00:00:00"


def _live_events(df: DataFrame, seq_col: str, user_mod: int) -> DataFrame:
    """events-shaped projection of a monotonic sequence: user = seq mod
    user_mod, event time = base + seq seconds. Shared by the live rate
    stream and its batch twin so both derive the identical rows from the
    same sequence prefix."""
    return df.select(
        F.col(seq_col).alias("event_id"),
        F.pmod(F.col(seq_col), F.lit(user_mod)).alias("user_id"),
        F.expr(f"timestampadd(SECOND, {seq_col}, TIMESTAMP'{_LIVE_BASE}')").alias(
            "ts"
        ),
    )


def live_rate_events(
    spark: SparkSession, rows_per_second: int = 400, user_mod: int = 5
) -> DataFrame:
    """LIVE events stream (VERDICT r6 task #3) off Spark's built-in
    `rate` source — a genuinely continuous source driven by a real
    processing-time trigger, unlike the file-source + availableNow
    twins. Event time is synthesized deterministically from the rate
    sequence number (NOT wall clock), so (a) the watermark advances
    ~rows_per_second event-seconds per wall-second — the reference's
    30 s receive timeout (gateway.ts:56) plays out in a few real
    seconds — and (b) any processed prefix 0..n-1 is exactly
    reproducible in batch via live_rate_batch_twin(spark, n), which is
    what the live-vs-batch equivalence test compares against."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return _live_events(rate, "value", user_mod)


def live_rate_batch_twin(
    spark: SparkSession, n_rows: int, user_mod: int = 5
) -> DataFrame:
    """The batch DataFrame holding EXACTLY the rows live_rate_events
    emits for sequence numbers 0..n_rows-1."""
    return _live_events(spark.range(n_rows), "id", user_mod)


def stream_rate_limit_counts(
    events: DataFrame, limit: int = 10, window: str = "1 day"
) -> DataFrame:
    """Tumbling-window request counts per token with an over-limit flag —
    the reference's rate limiter (O16 *intended* semantics) as a
    watermarked windowed aggregation. Output: one row per
    (user, 1-day window) with n_calls and throttled.

    The watermark bounds state exactly like the Redis 1 s TTL bounded
    the reference's counters (gateway.ts:149): closed windows are
    evicted. Window length is 1 day to match the batch twin's fixture
    density (windows.py RATE_LIMIT shape).
    """
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", window).alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_calls"))
        .select(
            F.col("win.start").alias("window_start"),
            "user_id",
            "n_calls",
            (F.col("n_calls") > limit).alias("throttled"),
        )
    )


def stream_session_windows(events: DataFrame) -> DataFrame:
    """Gap-based sessions via the built-in session_window aggregation +
    watermark — the streaming twin of q_sessionize and the principled
    version of the reference's in-flight session map (which *leaked*
    never-answered sessions, SURVEY §3.3; the watermark closes ours).

    Output: (user_id, session_start, n_events, session_value)."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.date_trunc("second", F.col("sw.start")).alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def stream_admission(events: DataFrame, limit: int = 3) -> DataFrame:
    """Per-token admission control as a **custom stateful operator**
    (applyInPandasWithState) — the direct analog of the reference's
    per-token Redis counters (gateway.ts:139-171) and in-memory session
    map (O4): keyed state per user_id holding per-day admit counts, a
    processing-time timeout standing in for the Redis 1 s TTL.

    Emits one row per event: (event_id, user_id, admitted). Drained
    with availableNow over the fixture, the output equals the batch
    q_window_rate_limit exactly (tested).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_id bigint, user_id bigint, admitted boolean"
    # state: parallel arrays (day epoch-days, admitted-count) — struct of
    # arrays serializes everywhere maps are awkward.
    state_schema = "days array<int>, counts array<int>"

    def admit(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # Window long closed — evict (the Redis EXPIRE analog).
            state.remove()
            return
        if state.exists:
            days, counts = state.get
            book = dict(zip(days, counts))
        else:
            book = {}
        # Materialize the whole per-key micro-batch before sorting:
        # Arrow chunks are not globally ordered, and a per-chunk sort
        # would admit the wrong first-N whenever a key spans chunks.
        # Memory bound = one key's rows in one micro-batch (set the
        # trigger's input limits accordingly at scale).
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            day = (pdf["ts"].astype("datetime64[us]").astype("int64") // 86_400_000_000).astype(int)
            admitted = []
            for d in day:
                n = book.get(d, 0) + 1
                book[d] = n
                admitted.append(n <= limit)
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].values,
                    "user_id": key[0],
                    "admitted": admitted,
                }
            )
        state.update((list(book.keys()), list(book.values())))
        state.setTimeoutDuration(24 * 3600 * 1000)

    return events.groupBy("user_id").applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def split_request_response(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Synthesize the gateway's two wire streams from `events`:
    requests = click/view/signup/purchase rows; responses = error rows
    re-keyed to the previous request's serial number — here we key both
    on (user_id, day-bucket) ∧ correlation id = event_id div 2 so a
    deterministic subset pairs up."""
    req = events.filter(F.col("event_type") != "error").select(
        (F.col("event_id")).alias("sn"),
        F.col("ts").alias("req_ts"),
        "user_id",
        F.col("event_type").alias("fun"),
    )
    # responses: error events answer the request with sn = event_id - 1
    # (their immediate predecessor), mimicking the backend's async reply
    resp = events.filter(F.col("event_type") == "error").select(
        (F.col("event_id") - 1).alias("sn"),
        F.col("ts").alias("resp_ts"),
        F.col("value").alias("resp_value"),
    )
    return req, resp


def stream_correlate(
    req: DataFrame, resp: DataFrame, timeout: str = "30 seconds"
) -> DataFrame:
    """Request/response correlation (ref O8, gateway.ts:72-81) as a
    watermarked stream-stream inner join on the serial number, with the
    reference's 30 s receive timeout as the join's time bound; the
    latency column is O9's `stop - start`.

    Late or unknown-sn responses fall out of the join exactly like the
    reference drops them (gateway.ts:134-136)."""
    r = req.withWatermark("req_ts", WATERMARK_DELAY)
    p = resp.withWatermark("resp_ts", WATERMARK_DELAY)
    return r.join(
        p,
        (r["sn"] == p["sn"])
        & (p["resp_ts"] >= r["req_ts"])
        & (p["resp_ts"] <= r["req_ts"] + F.expr(f"INTERVAL {timeout}")),
        "inner",
    ).select(
        r["sn"],
        "user_id",
        "fun",
        (F.unix_micros(p["resp_ts"]) - F.unix_micros(r["req_ts"])).alias("latency_us"),
        "resp_value",
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` as a stream — the ingestion side of a continuous
    training-data pipeline (files landing from a crawler; Kafka on a
    real cluster, same transformations)."""
    from hive_gateway_spark.session import configure

    configure(spark)
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: first-arrival-wins per content key —
    the continuous twin of q_dedup_exact's batch survivor pick.

    The state key is sha2(text) (32 B/doc), not the text: at 100 TB the
    dedup state must hold hashes, never payloads. State is unbounded
    here because the fixture stream replays a finite corpus; a
    production pipeline bounds it with dropDuplicatesWithinWatermark
    over the ingest timestamp (same plan, bounded state store) — the
    within-watermark variant is exercised in tests/test_streaming.py's
    late-data suite for events."""
    return docs.withColumn("content_key", F.sha2(F.col("text"), 256)).dropDuplicates(
        ["content_key"]
    )


def stream_near_dup_candidates(
    docs_stream: DataFrame, corpus_shingles: DataFrame, min_shared: int = 5
) -> DataFrame:
    """Continuous-ingest near-dup screening: shingle each arriving doc
    and join against the STATIC corpus shingle staging (the same cached
    (doc_id, h) checkpoint the batch dedup family shares) — a
    stream-static inner join, which Structured Streaming runs stateless
    (only the stream side is incremental), then a per-(new, corpus)
    shared-shingle count with a candidate threshold.

    This is the ingest-time gate of a training pipeline: a new crawl
    shard is screened against the accepted corpus before admission.
    At 100 TB the static side is the bucketed staging table; the join
    is shuffle-on-h with the stream side tiny per micro-batch."""
    from hive_gateway_spark.operators.dedup import shingle_hashes

    sh_new = shingle_hashes(docs_stream).select(F.col("doc_id").alias("new_doc"), "h")
    corpus = corpus_shingles.select(F.col("doc_id").alias("corpus_doc"), "h")
    return (
        sh_new.join(corpus, "h")
        .filter(F.col("new_doc") != F.col("corpus_doc"))
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def stream_quality_gates(docs: DataFrame) -> DataFrame:
    """Streaming twin of q_curation_v2's scan-side gates (VERDICT r04
    #4 / r05 #6): normalize → token-count + lang-allowlist quality gate
    → repetition gate (< 50% repeated tokens). All three are stateless
    narrow filters, so the streaming plan is the batch plan applied per
    micro-batch — the natural ingest-time screen a crawler shard passes
    before any stateful dedup stage sees it.

    Emits the gated rows with the same derived columns the batch
    pipeline computes (norm_text, n_tokens, repetition). This IS the
    batch gate stage — dedup.curation_gates — applied to the stream
    (shared implementation, so the predicates cannot drift; ADVICE r6
    #3)."""
    from hive_gateway_spark.operators.dedup import curation_gates

    return curation_gates(docs)


def stream_decontaminate(
    docs_stream: DataFrame, corpus_shingles: DataFrame
) -> DataFrame:
    """Streaming twin of the benchmark-decontamination gate (VERDICT
    r04 #4 / r05 #6): shingle each arriving doc and screen it against
    the STATIC benchmark shingle slice (dedup.is_benchmark of the
    corpus staging — in production, the eval-suite shingle
    table). A training doc sharing ≥ CONTAM_MIN_SHARED shingles with
    any benchmark doc is flagged contaminated at ingest, before it can
    enter the corpus.

    Plan shape: the batch meet, dedup.contamination_pairs — a
    stream-static join on the shingle hash, stateless on the stream
    side, which broadcasts the benchmark slice while Spark's size
    statistics let it; the per-(doc, bench) count is the only
    stream-side aggregation, no stream-stream state. Emits (doc_id,
    bench_id, shared)."""
    from hive_gateway_spark.operators.dedup import (
        contamination_pairs,
        shingle_hashes,
    )

    return contamination_pairs(shingle_hashes(docs_stream), corpus_shingles).select(
        F.col("train_id").alias("doc_id"),
        "bench_id",
        F.col("shared_ngrams").alias("shared"),
    )


def stream_curation_pipeline(
    docs_stream: DataFrame, corpus_shingles: DataFrame
) -> DataFrame:
    """The composed continuous-ingest curation pipeline — every stage a
    tested streaming twin, chained the way the batch q_curation_v2
    chains them:

      quality/repetition gates (stream_quality_gates, stateless)
      → exact first-arrival dedup on normalized text (state = sha2
        hashes only, the stream_exact_dedup contract)
      → decontamination drop (left_anti against the static flagged doc
        set of dedup.contamination_pairs over the corpus staging)

    Emits admitted documents with their derived columns. Near-dup
    clustering is deliberately NOT in the stream: it needs cross-doc
    state over the whole corpus (the batch `q_dedup_clusters` path);
    ingest-time near-dup SCREENING against the accepted corpus is
    `stream_near_dup_candidates`.
    """
    from hive_gateway_spark.operators.dedup import contamination_pairs

    gated = stream_quality_gates(docs_stream)
    deduped = gated.withColumn(
        "content_key", F.sha2(F.col("norm_text"), 256)
    ).dropDuplicates(["content_key"])
    # static contaminated-id set: a stream-static LEFT ANTI join is
    # stateless on the stream side.
    contaminated = (
        contamination_pairs(corpus_shingles, corpus_shingles)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    return deduped.join(contaminated, "doc_id", "left_anti").drop("content_key")


#: Streaming minhash-dedup state bound: signatures kept per LSH bucket.
#: 64 docs × (8 minhashes + id) × 8 B ≈ 4.6 KB/bucket worst case — the
#: state store stays O(buckets), never O(corpus text).
STREAM_DEDUP_BUCKET_CAP = 64

#: Estimated-Jaccard admission threshold: ≥ 6 of 8 minhash components
#: equal (est j ≈ 0.75) flags an arriving doc as a near-dup.
STREAM_DEDUP_MIN_EQ = 6


def stream_minhash_dedup(docs_stream: DataFrame) -> DataFrame:
    """Continuous stream-vs-ITSELF near-dup dedup — the stateful twin
    of the batch MinHash pipeline, and the missing piece between
    stream_exact_dedup (exact content key) and
    stream_near_dup_candidates (screen vs a static corpus): arriving
    docs are near-dup-checked against what the STREAM itself has
    already admitted.

    Shape: the k=8 minhash signature computes entirely IN-ROW
    (array_min over higher-order transforms — no explode, no streaming
    aggregation), so the only stateful operator is an
    applyInPandasWithState keyed by the first LSH band (mh0, mh1).
    Per bucket the state holds up to STREAM_DEDUP_BUCKET_CAP admitted
    signatures (~4.6 KB); an arriving doc whose full signature matches
    a stored one in ≥ STREAM_DEDUP_MIN_EQ components is flagged with
    the earlier doc's id. Recall is the band-collision probability
    (j² for a 2-row band — near-1 for true near-dups); precision is
    enforced by the full-signature estimate. Emits one row per doc:
    (doc_id, dup_of nullable).

    At 100 TB: state is O(active buckets), the shuffle key is the band
    bucket (uniform by construction), and a processing-time timeout
    (production: set on the state) expires cold buckets the way the
    batch pipeline re-stages daily."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hive_gateway_spark.operators.dedup import (
        MINHASH_K,
        SHINGLE_N,
        _MH_COEF,
        _MH_P,
        _SHINGLE_EXPR,
    )

    hs = f"array_distinct(transform({_SHINGLE_EXPR}, s -> pmod(xxhash64(s), {_MH_P})))"
    sig_cols = [
        F.expr(
            f"array_min(transform(hs, h -> ({a} * h + {b}) % {_MH_P}))"
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(_MH_COEF)
    ]
    sigged = (
        docs_stream.withColumn("words", F.split("text", " "))
        .filter(F.size("words") >= SHINGLE_N)
        .withColumn("hs", F.expr(hs))
        .select("doc_id", *sig_cols)
    )

    out_schema = "doc_id bigint, dup_of bigint"
    state_schema = "ids array<bigint>, sigs array<bigint>"  # sigs flattened k/doc
    k = MINHASH_K

    def dedup(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:  # pragma: no cover - production path
            state.remove()
            return
        if state.exists:
            ids, flat = state.get
            ids, flat = list(ids), list(flat)
        else:
            ids, flat = [], []
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            state.update((ids, flat))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        out_ids, out_dup = [], []
        cols = [f"mh{i}" for i in range(k)]
        for row in pdf.itertuples(index=False):
            sig = [int(getattr(row, c)) for c in cols]
            dup_of = None
            for j in range(len(ids)):
                stored = flat[j * k : (j + 1) * k]
                eq = sum(1 for a, b in zip(sig, stored) if a == b)
                if eq >= STREAM_DEDUP_MIN_EQ:
                    dup_of = ids[j]
                    break
            if dup_of is None and len(ids) < STREAM_DEDUP_BUCKET_CAP:
                ids.append(int(row.doc_id))
                flat.extend(sig)
            out_ids.append(int(row.doc_id))
            out_dup.append(dup_of)
        state.update((ids, flat))
        yield pd.DataFrame({"doc_id": out_ids, "dup_of": out_dup})

    return sigged.groupBy("mh0", "mh1").applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dsir_score(docs_stream: DataFrame, coef: DataFrame) -> DataFrame:
    """Streaming twin of q_dsir_weights' scoring stage: DSIR importance
    scoring at ingest against a FROZEN coefficient table — the standard
    deployment (Xie et al. 2023 train the hashed-feature log-ratio
    model offline, then weigh the raw stream with it).

    Deliberately STATELESS: the 64-row model collapses to one
    map<bucket, micro-coef> literal row (cross-joined broadcast), and
    the per-doc weight folds IN-ROW over the words array (transform →
    bucket → map lookup → integer aggregate) — no explode, no
    stateful aggregation, no watermark; the streaming plan is a narrow
    projection applied per micro-batch, trivially correct at any
    ingest rate. Coefficients ride as exact micro-units (coef·10⁶ fits
    int64 — |round6(ln p)| < 40), so the in-row fold is integer-exact
    and logw = micro/10⁶ reproduces the batch DECIMAL sum bit-for-bit
    (both are correctly-rounded doubles of the same rational).

    Parity with the batch operator is pinned by
    tests/test_streaming.py::test_stream_dsir_score_matches_batch
    against q_dsir_weights' own selection."""
    from hive_gateway_spark.operators.corpus import DSIR_B, hv_sql

    cmap = coef.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("b"),
                    (F.col("coef") * 1_000_000).cast("bigint").alias("m"),
                )
            )
        ).alias("cmap")
    )
    words = "filter(split(text, ' '), w -> w <> '')"
    micro = (
        f"aggregate(transform({words}, w -> cmap[({hv_sql('w')}) % {DSIR_B}]), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        docs_stream.crossJoin(F.broadcast(cmap))
        .select(
            "doc_id",
            F.expr(f"size({words})").cast("bigint").alias("n_tokens"),
            (F.expr(micro).cast("double") / F.lit(1_000_000.0)).alias("logw"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def stream_image_phash_screen(
    docs_stream: DataFrame, corpus_phash: DataFrame
) -> DataFrame:
    """Ingest-time IMAGE near-dup screening — the multimodal sibling of
    stream_decontaminate: each arriving doc's texture is pHashed in the
    micro-batch (phash_frame is a stateless mapInPandas — valid on a
    stream as-is) and screened against the STATIC corpus pHash index
    via the same 4×16-bit band join the batch operator uses, with the
    exact Hamming verify as the join residual. Emits
    (doc_id, corpus_doc, hamming) for flagged arrivals.

    Plan shape at scale: the corpus index is 8 B/doc and its band
    projection joins as a static side (broadcast when it fits); the
    stream side does one decode+DCT pass per micro-batch. The operator
    is fully STATELESS (no stream-stream join, no watermark, no
    streaming aggregation): a pair matching in several bands is
    collapsed not by ``distinct()`` — which on a stream is an
    unbounded-state cross-batch dedup (ADVICE r7 #3) — but by a
    row-local FIRST-MATCHING-BAND predicate: both full hashes ride on
    the joined row, so "no earlier band also matched" is a pure filter
    and each flagged pair emits exactly once per arrival. Re-arrivals
    of the same doc in later micro-batches re-emit (at-least-once
    screening is the ingest contract; suppression belongs to the
    downstream sink key, not to executor state). Hot STATIC buckets
    are capped like the batch operator's; a pair whose earliest
    matching band was capped is suppressed with it — the recall trade
    the cap already makes, accepted for boundedness."""
    from hive_gateway_spark.operators.dedup import (
        BAND_BUCKET_CAP,
        band_key,
        cap_buckets,
        hash_bands,
    )
    from hive_gateway_spark.operators.multimodal import PHASH_HAM_T, phash_frame

    n_bands = 4  # the batch perceptual legs' split

    def banded(df: DataFrame, id_out: str, ph_out: str) -> DataFrame:
        ph = df.select(F.col("doc_id").alias(id_out), F.col("phash").alias(ph_out))
        return hash_bands(ph, ph_out, n_bands)

    new = banded(phash_frame(docs_stream), "doc_id", "ph_new")
    # cap hot STATIC-side buckets (same policy as banded_hash_pairs):
    # a corpus with thousands of identical images would otherwise emit
    # 1000s of flags per arriving near-dup; the window count runs on
    # the static frame once, so this stays stateless on the stream
    idx = cap_buckets(banded(corpus_phash, "corpus_doc", "ph_old"), BAND_BUCKET_CAP)
    ham = F.bit_count(F.col("ph_new").bitwiseXOR(F.col("ph_old")))

    # Stateless multi-band collapse: keep the row only if no band
    # BEFORE the joined one also matches — exactly one emit per pair.
    first_band = F.lit(True)
    for j in range(n_bands - 1):
        new_j, old_j = (band_key(F.col(c), j, n_bands) for c in ("ph_new", "ph_old"))
        first_band = first_band & ((F.col("band") <= j) | (new_j != old_j))
    # join strategy left to Catalyst (r8 broadcast self-audit): the
    # banded index is ~32 B/doc — BHJ is right while it fits (fixtures,
    # and any corpus under spark.sql.autoBroadcastJoinThreshold) but a
    # FORCED broadcast of a billion-doc index (~tens of GB) would kill
    # the stream; at that scale Catalyst picks SHJ/SMJ, and production
    # persists `idx` pre-partitioned on (band, key) so each micro-batch
    # shuffles only the arrivals
    return (
        new.join(idx, ["band", "key"])
        .filter(F.col("doc_id") != F.col("corpus_doc"))
        .filter(first_band)
        .select("doc_id", "corpus_doc", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= PHASH_HAM_T)
    )


def stream_k_anonymity(events_stream: DataFrame) -> DataFrame:
    """Streaming k-anonymity audit — the ingest-time twin of
    q_k_anonymity: per quasi-identifier class (event_type, integer-div
    epoch day, floor-10 value band) the DISTINCT-user count and the
    at-risk flag, maintained as events arrive.

    Streaming disallows COUNT(DISTINCT) in a stateful aggregation; the
    supported composition that means the same thing is watermark →
    dropDuplicatesWithinWatermark(QI + user) → count — Spark 3.5's
    chained-stateful-operator form, with BOTH states bounded: the
    dedup state holds one row per (class, user) only until the
    watermark passes it (day is part of the key, so duplicates can
    only arrive within the same event-time day + delay), and the
    windowed count is keyed by the class. A user re-appearing in a
    class after eviction double-counts — the bounded-state trade an
    ingest monitor accepts, stated here rather than hidden (the
    ADVICE r7 #3 rule: no unbounded streaming state, no false
    stateless claims).

    Equivalence with the batch operator over the drained fixture
    stream is pinned in tests/test_streaming.py."""
    from hive_gateway_spark.operators.advanced import K_ANON

    n_users = F.count("*")
    return (
        events_stream.withWatermark("ts", "1 day")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            (F.floor(F.col("value") / F.lit(10)) * F.lit(10))
            .cast("double")
            .alias("value_band"),
            "user_id",
            "ts",
        )
        .dropDuplicatesWithinWatermark(
            ["event_type", "day", "value_band", "user_id"]
        )
        .groupBy("event_type", "day", "value_band")
        .agg(
            n_users.alias("n_users"),
            (n_users < F.lit(K_ANON)).alias("at_risk"),
        )
    )


def stream_volume_screen(
    events_stream: DataFrame, stats: DataFrame
) -> DataFrame:
    """Ingest-time volume-anomaly screen — the streaming twin of
    q_volume_anomaly in the FROZEN-MODEL pattern (stream_dsir_score's
    shape): the per-day sufficient statistics (k, Σn, Σn²) come from a
    1-row BATCH frame computed over history and broadcast-cross-joined
    onto the stream; each micro-batch counts its arrivals per day
    (watermarked tumbling day window — bounded state) and flags any
    day whose running count trips the integer 3σ predicate against
    the frozen baseline.

    TWO flags, because update-mode partials and alerting want
    different predicates (ADVICE r8 #2):

    - ``is_spike`` — the batch predicate verbatim, (k·n − Σn)² >
      9·(k·Σn² − (Σn)²). Its FINAL value (watermark-closed or
      complete-mode drain) matches q_volume_anomaly exactly — that
      parity is pinned in tests — but it is NOT monotone under
      update-mode partials: a day's early running count sits far
      BELOW the frozen mean, so the two-sided test trips on the low
      side first and untrips as counts accumulate. Dashboards, not
      pagers.
    - ``is_high_spike`` — one-sided high: k·n − Σn > 0 AND the same
      squared test. Monotone in the running count (dev only grows
      with n), so once a day trips it, later updates keep it tripped
      — THE column a first-sight alerting sink keys on. Low-volume
      anomalies are by nature only decidable once the day closes;
      they appear in ``is_spike`` on the final emission.

    Integer-exact throughout, no float anywhere."""
    counted = (
        events_stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(
            F.expr("unix_micros(win.start) div 86400000000").alias("day"),
            "n",
        )
    )
    dev = F.col("k") * F.col("n") - F.col("sn")
    var9 = F.lit(9) * (F.col("k") * F.col("snn") - F.col("sn") * F.col("sn"))
    return counted.crossJoin(F.broadcast(stats)).select(
        F.col("day").cast("bigint").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        (dev * dev > var9).alias("is_spike"),
        ((dev > F.lit(0)) & (dev * dev > var9)).alias("is_high_spike"),
    )


def volume_baseline(events: DataFrame) -> DataFrame:
    """The frozen 1-row (k, sn, snn) baseline stream_volume_screen
    screens against — computed over BATCH history (yesterday's table),
    exactly q_volume_anomaly's sufficient statistics."""
    d = (
        events.select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    return d.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )


def stream_gopher_screen(docs: DataFrame) -> DataFrame:
    """Streaming twin of q_gopher_rules: the Gopher App. A1.1 rule
    battery applied at ingest — per arriving document, the seven
    PASS/FAIL flags plus the overall keep bit. Every rule is an
    in-row integer comparison (zero state, zero watermarks), so the
    streaming plan is literally the batch projection per micro-batch;
    a crawler shard runs this BEFORE anything stateful and routes
    keep=false into a reject sink with per-rule attribution. Shared
    implementation with the batch query (text.gopher_report), so the
    predicates cannot drift."""
    from hive_gateway_spark.operators.text import gopher_report

    return gopher_report(docs)


def stream_reservoir_sample(docs_stream: DataFrame) -> DataFrame:
    """Streaming twin of q_reservoir_per_source: maintain the k
    lowest-hash documents PER SOURCE as the stream flows — the
    bounded "live sample" an ingest dashboard shows per crawl source.
    Because the "randomness" is the same portable LCG hash of doc_id
    the batch query ranks by, the streaming reservoir CONVERGES to
    exactly the batch answer once the same rows have flowed: determin-
    istic top-k-by-hash is a commutative/idempotent fold, unlike a
    true RNG reservoir which no batch oracle could reproduce.

    Shape: hash computes in-row; the only stateful operator is an
    applyInPandasWithState keyed by source whose state is the ≤ k
    (hash, doc_id) frontier (~16 B·k per source). Each batch emits the
    rows NEWLY ADMITTED to the reservoir (an admitted row may later be
    evicted by a lower hash — the consumer keeps the k smallest of
    what it has seen, which the equivalence test pins against the
    batch query). State is O(sources · k); the shuffle key is source."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hive_gateway_spark.operators.sampling import _A, _B, _P, _RESERVOIR_K

    k = _RESERVOIR_K
    hashed = docs_stream.select(
        "source",
        "doc_id",
        F.expr(f"({_A} * (doc_id % {_P}) + {_B}) % {_P}").alias("h"),
    )
    out_schema = "source string, doc_id bigint, h bigint"
    state_schema = "hs array<bigint>, ids array<bigint>"

    def fold(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:  # pragma: no cover - production path
            state.remove()
            return
        frontier = (
            list(zip(*state.get)) if state.exists else []
        )  # [(h, doc_id), ...]
        held = set(frontier)
        for pdf in pdf_iter:
            for row in pdf.itertuples(index=False):
                frontier.append((int(row.h), int(row.doc_id)))
        frontier = sorted(set(frontier))[:k]
        admitted = [e for e in frontier if e not in held]
        state.update(
            ([h for h, _ in frontier], [i for _, i in frontier])
        )
        if admitted:
            yield pd.DataFrame(
                {
                    "source": key[0],
                    "doc_id": [i for _, i in admitted],
                    "h": [h for h, _ in admitted],
                }
            )

    return hashed.groupBy("source").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_chunk_windows(docs: DataFrame) -> DataFrame:
    """Streaming twin of q_chunk_windows: sliding-window context
    chunking at ingest — each arriving document explodes into its
    overlapping W/S chunks in-row (stateless bounded explode, no
    watermark, no state), so long crawl documents become
    training-ready sequences the moment they land. Shared
    implementation with the batch query (text.chunk_windows), so the
    geometry cannot drift."""
    from hive_gateway_spark.operators.text import chunk_windows

    return chunk_windows(docs)


def stream_quality_screen(docs: DataFrame) -> DataFrame:
    """Streaming twin of q_quality_classifier: the hashed-linear
    quality score at ingest — per arriving document, token count,
    score, and the keep bit. The whole classifier folds IN-ROW
    (engine-neutral word fingerprint → integer bucket weight → exact
    BIGINT aggregate → one division), so the streaming plan is the
    batch projection per micro-batch: zero state, zero watermarks,
    any ingest rate. A crawler shard runs this next to the Gopher
    screen and routes is_quality=false with the score attached.
    Shared implementation with the batch query
    (text.quality_score_frame), so the weights cannot drift."""
    from hive_gateway_spark.operators.text import quality_score_frame

    return quality_score_frame(docs)


def stream_embed_dedup_screen(
    vec_stream: DataFrame, index_path: str, tau: float = 0.9
) -> DataFrame:
    """Ingest-time SEMANTIC dedup against the persisted IVF index, as a
    pure streaming transform — the frozen-model pattern
    (stream_dsir_score's shape) composing the lakehouse ANN artifact
    (persist_ivf_index), the exact int64 cosine kernel and the
    streaming ingest path. Per arriving (vec_id, embedding): rank the
    index cells IN-ROW and explode the top IVF_PROBES of them, then a
    stream-static join against ONLY those cells' inverted-file rows
    scores exact cosine, and matches at ≥ tau emit (vec_id, match_id,
    cos_sim). A vector with no emitted row is novel — ingest it; a
    crawler shard drops or routes the matches.

    One probe rule: the cells are ranked by the batch serve path's
    centroid dot (cdot_sql) in its order — dot desc, lowest cell id on
    ties — so this transform, embed_screen_batch and q_sim_topk_ivf
    probe the same cells. A stream cannot run the batch path's ranking
    window, so the rank is spelled in-row: the centroid table is tiny
    and rides as a literal array, ordered by array_sort and cut by
    slice. A match assigned to ≥2 probed cells emits up to
    min(assign, probes) IDENTICAL rows (a stateless append-mode stream
    cannot dropDuplicates), so consumers needing distinct pairs dedup
    in their sink; screen semantics (any row ⇒ duplicate) are
    unaffected.

    Stateless per micro-batch against the FROZEN index (no watermarks,
    any ingest rate); index maintenance stays the batch jobs
    (append_ivf_index / maybe_rebuild_ivf). A foreachBatch sink runs
    embed_screen_batch instead: same rows, one BLAS kernel per cell in
    place of a per-row higher-order dot."""
    from hive_gateway_spark.functions.vectors import (
        cdot_sql,
        cos_div,
        dot_q,
        norm2_q,
        vec_q,
    )
    from hive_gateway_spark.operators.similarity import IVF_PROBES
    from hive_gateway_spark.sources.dataset_export import read_snapshot

    spark = vec_stream.sparkSession
    centers = read_snapshot(spark, f"{index_path}/centroids").collect()
    rows = ", ".join(
        f"struct({int(r['cell'])} AS cell, array({', '.join(f'CAST({x} AS DOUBLE)' for x in r['center'])}) AS c)"
        for r in sorted(centers, key=lambda r: r["cell"])
    )
    probe = (
        f"transform(slice(array_sort(transform(array({rows}), "
        f"s -> struct(s.cell AS cell, {cdot_sql('v', 's.c')} AS d)), "
        "(l, r) -> CASE WHEN l.d > r.d THEN -1 WHEN l.d < r.d THEN 1 "
        "WHEN l.cell < r.cell THEN -1 WHEN l.cell > r.cell THEN 1 "
        f"ELSE 0 END), 1, {IVF_PROBES}), s -> s.cell)"
    )
    q = (
        vec_stream.select(
            "vec_id", vec_q("embedding").alias("v")
        )
        .withColumn("n2", norm2_q("v"))
        .withColumn("cell", F.explode(F.expr(probe)))
    )
    inv = read_snapshot(spark, f"{index_path}/invfile").select(
        F.col("neighbor_id").alias("match_id"),
        F.col("cell").alias("i_cell"),
        "vb",
        "nb",
    )
    sim = cos_div(dot_q("v", "vb"), F.col("n2") * F.col("nb"))
    return (
        q.join(inv, F.col("i_cell") == F.col("cell"))
        .filter(F.col("vec_id") != F.col("match_id"))
        .select("vec_id", "match_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= tau)
    )


def embed_screen_batch(spark, index_path: str, tau: float = 0.9):
    """The semantic ingest screen for a foreachBatch sink: returns
    ``score(batch_df) -> DataFrame`` that screens ONE micro-batch of
    (vec_id, embedding) arrivals against the persisted IVF index and
    emits stream_embed_dedup_screen's rows — (vec_id, match_id,
    cos_sim) at cos ≥ tau — with the batch serve path's int64-GEMM
    kernel instead of the per-row higher-order dot. GEMM won at every
    measured arrival count (SCALE.md "Semantic screen crossover"), so
    every micro-batch takes it; an empty one emits the typed empty
    frame.

    Usage::

        score = embed_screen_batch(spark, idx, tau=0.9)
        (vec_stream.writeStream
            .foreachBatch(lambda df, _id: sink(score(df)))
            .start())

    The scan is q_sim_topk_ivf's (_probe_scan): _probe_cells ranks the
    arrivals against the centroids with the batch serve path's
    expression and window, so batch, stream and serve probe the same
    cells, ties included, and only the probed cells' inverted-file
    rows are read. Each micro-batch's arrival block is BOUNDED (an
    ingest screen admits thousands of vectors per trigger, not a
    corpus), so its probes are collected and broadcast like the batch
    path's query block. Arrivals are quantized through vec_q and
    scored by exact int64 dots and the shared cosine, so emitted sims
    are bit-identical to the streaming transform's, and the same
    (vec_id, match_id) pair can emit up to min(assign, probes)
    identical rows, as there."""
    import numpy as np
    import pandas as pd

    from hive_gateway_spark.functions.vectors import cos_div_np, norm2_q, vec_q
    from hive_gateway_spark.operators.similarity import _centers_frame, _probe_scan
    from hive_gateway_spark.sources.dataset_export import read_snapshot

    # the tiny centroid table is read once, into a local relation that
    # each micro-batch's probe broadcasts
    centers = _centers_frame(
        spark, read_snapshot(spark, f"{index_path}/centroids").select("cell", "center").toPandas()
    )
    inv = read_snapshot(spark, f"{index_path}/invfile")
    t = float(tau)

    def hits(q, rows):
        (qids, Q, qn), (ids, X, n2) = q, rows
        sim = cos_div_np((Q @ X.T).astype(np.float64), qn[:, None] * n2[None, :])
        qi, ni = np.nonzero((sim >= t) & (qids[:, None] != ids[None, :]))
        return pd.DataFrame(
            {"vec_id": qids[qi], "match_id": ids[ni], "cos_sim": sim[qi, ni]}
        )

    def score(batch_df):
        arrivals = batch_df.select(
            F.col("vec_id").alias("query_id"), vec_q("embedding").alias("vq")
        ).withColumn("nq", norm2_q("vq"))
        return _probe_scan(
            arrivals, centers, inv, hits, "vec_id bigint, match_id bigint, cos_sim double"
        )

    return score


def stream_token_trend(docs: DataFrame) -> DataFrame:
    """Streaming twin of q_heavy_hitters: RUNNING token frequencies at
    ingest via the same distributed Misra-Gries kernel (advanced.
    mg_summaries — shared implementation, the sketch geometry cannot
    drift). Per micro-batch, each partition folds its tokens into a
    ≤ HH_CAP-counter summary; the streaming groupBy then maintains the
    running per-token sum as ordinary aggregation state. The row with
    word NULL accumulates the total decrement mass — the live err_hi
    bound, so a monitor reads "token t has appeared ≥ cnt_lo and
    ≤ cnt_lo + err(NULL row) times so far" at any point in the stream.

    Scale shape: state is O(observed vocabulary) and each micro-batch
    shuffles O(partitions · HH_CAP) summary rows, NOT the token stream
    — the same property that makes the batch sketch viable at 100 TB
    makes this the drift/trend screen a crawler shard runs
    continuously (pair with q_corpus_drift's batch report). The top-k
    cut is the CONSUMER's (sort the tiny state table in the sink);
    streaming aggregates cannot rank in-plan."""
    from hive_gateway_spark.operators.advanced import (
        HH_CAP,
        mg_summaries,
        tokens_of,
    )

    summaries = mg_summaries(tokens_of(docs), ["word"], HH_CAP)
    return summaries.groupBy("word").agg(
        F.sum("cnt").cast("bigint").alias("cnt_lo")
    )


def stream_token_fertility(docs: DataFrame) -> DataFrame:
    """Streaming twin of q_tokenizer_fertility: RUNNING per-language
    tokenizer-equity report at ingest — the live counterpart of the
    batch audit, so a multilingual crawler watches fertility drift as
    shards land instead of waiting for the nightly batch. Delegates to
    text.token_fertility_report — the ONE frame builder the batch
    query also returns (the quality_score_frame pattern), so the twin
    cannot drift from the audit by construction.

    Scale shape: the regex counts are per-row scan projections (never
    a UDF, no token explosion — counts leave the map side, not
    tokens); the streaming groupBy keeps ≤ |langs| rows of running-sum
    state. Complete-mode output, availableNow-equivalence-tested
    against the batch query."""
    from hive_gateway_spark.operators.text import token_fertility_report

    return token_fertility_report(docs)


def stream_scd2_changes(events: DataFrame) -> DataFrame:
    """Streaming twin of q_scd2_history: maintain each user's CURRENT
    state run in keyed state and emit a CDC row the moment a run
    CLOSES — the incremental writer that keeps an SCD2 dimension table
    current without rebuilding history (the batch operator is the
    backfill; this is the tail). Emitted rows are exactly the batch
    query's CLOSED intervals (is_current = false) — equivalence-tested
    over an availableNow drain; the one still-open run per user lives
    in the state store, not the output (append mode cannot retract).

    State per user: (current state, run start µs, run event count) —
    three scalars, O(users) total, no timeout (a dimension's current
    row never expires; production would use a TTL tied to entity
    retention). Per micro-batch the key's rows are concatenated and
    sorted (ts, event_id) — the same total order as the batch windows,
    so run boundaries are bit-identical.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, state string, valid_from timestamp, "
        "valid_to timestamp, n_events bigint"
    )
    state_schema = "cur string, since_us bigint, n bigint"

    def track(key, pdf_iter, state: GroupState):
        cur, since_us, n = state.get if state.exists else (None, 0, 0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        closed_state, closed_from, closed_to, closed_n = [], [], [], []
        for et, us in zip(pdf["event_type"].values, ts_us.values):
            if cur is None:
                cur, since_us, n = et, int(us), 1
            elif et == cur:
                n += 1
            else:
                closed_state.append(cur)
                closed_from.append(since_us)
                closed_to.append(int(us))
                closed_n.append(n)
                cur, since_us, n = et, int(us), 1
        state.update((cur, since_us, n))
        if closed_state:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "state": closed_state,
                    "valid_from": pd.to_datetime(closed_from, unit="us"),
                    "valid_to": pd.to_datetime(closed_to, unit="us"),
                    "n_events": closed_n,
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_window_funnel(events: DataFrame) -> DataFrame:
    """Streaming twin of q_window_funnel: per user, the deepest
    ordered signup → click → purchase prefix whose whole chain fits
    the {hours}-hour window — emitted as LEVEL-UP CDC rows the moment
    a user first reaches each level. The funnel level is MONOTONE
    (more events can only deepen the best prefix — the greedy
    max-start carry argument from the batch operator), so append mode
    needs no retraction: max(funnel_level) per user over the drained
    output equals the batch report exactly (equivalence-tested).

    State per user: the batch pass's two greedy carries (latest signup
    µs, latest valid 2-prefix start µs) plus the emitted level — three
    scalars, O(users) total. Per micro-batch the key's rows sort
    (ts, event_id), the same total order as the batch window, and the
    walk IS the batch operator's carry loop, so level boundaries are
    bit-identical under the twins' standing contract (event-time-
    ordered ingestion per user)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hive_gateway_spark.operators.advanced import FUNNEL_WINDOW_US

    out_schema = "user_id bigint, funnel_level int, at timestamp"
    state_schema = "s_last bigint, c2_best bigint, lvl int"

    def track(key, pdf_iter, state: GroupState):
        s_last, c2_best, lvl = state.get if state.exists else (-1, -1, 0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        ups_lvl, ups_at = [], []
        for et, us in zip(pdf["event_type"].values, ts_us.values):
            us = int(us)
            if et == "signup":
                s_last = max(s_last, us)
                if lvl < 1:
                    lvl = 1
                    ups_lvl.append(1)
                    ups_at.append(us)
            elif et == "click" and s_last >= 0 and us - s_last <= FUNNEL_WINDOW_US:
                c2_best = max(c2_best, s_last)
                if lvl < 2:
                    lvl = 2
                    ups_lvl.append(2)
                    ups_at.append(us)
            elif (
                et == "purchase"
                and c2_best >= 0
                and us - c2_best <= FUNNEL_WINDOW_US
            ):
                if lvl < 3:
                    lvl = 3
                    ups_lvl.append(3)
                    ups_at.append(us)
        state.update((s_last, c2_best, lvl))
        if ups_lvl:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "funnel_level": pd.array(ups_lvl, dtype="int32"),
                    "at": pd.to_datetime(ups_at, unit="us"),
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


stream_window_funnel.__doc__ = stream_window_funnel.__doc__.format(
    hours=12
)


def stream_sequence_count(events: DataFrame) -> DataFrame:
    """Streaming twin of q_sequence_count: per user, the running count
    of non-overlapping signup → purchase chains, emitted as an updated
    total whenever a chain COMPLETES (append mode — the count is
    monotone, so each completion appends one row with the new total;
    max per user over a drain equals the batch report).

    The batch closed form (count signup-run → purchase-run boundaries)
    is already incremental: the only cross-batch state is the LAST
    seen S/P type plus the running count — two scalars per user. Per
    micro-batch the key's rows sort (ts, event_id) and the transition
    scan continues from the carried type, so chain boundaries land
    identically to the batch window under the twins' standing
    contract (event-time-ordered ingestion per user)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_chains bigint, at timestamp"
    state_schema = "last string, cnt bigint"

    def track(key, pdf_iter, state: GroupState):
        last, cnt = state.get if state.exists else (None, 0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf[pdf["event_type"].isin(["signup", "purchase"])].sort_values(
            ["ts", "event_id"]
        )
        outs_n, outs_at = [], []
        for et, ts in zip(pdf["event_type"].values, pdf["ts"].values):
            if et == "purchase" and last == "signup":
                cnt += 1
                outs_n.append(cnt)
                outs_at.append(ts)
            last = et
        state.update((last, cnt))
        if outs_n:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "n_chains": pd.array(outs_n, dtype="int64"),
                    "at": outs_at,
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def scd2_dimension_sink(spark: SparkSession, table_path: str):
    """Continuously-maintained SCD2 dimension TABLE — the lakehouse
    completion of the SCD2 family: stream_scd2_changes emits the CDC
    rows, this foreachBatch sink keeps the queryable dimension itself
    current by MERGE-ing each micro-batch through the versioned
    dataset-export layer (copy-on-write upsert, snapshot isolation,
    time travel — the exact Delta/Iceberg `MERGE INTO dim` job).

    Returns ``apply(batch_df, batch_id)`` for ``writeStream
    .foreachBatch``. Per batch, bounded by the AFFECTED user set:
    the current snapshot's OPEN rows for arriving users seed the
    shared interval walk (operators.advanced.scd2_walked — the same
    kernel q_scd2_incremental is driver-hash-verified with), and only
    the recomputed rows upsert, keyed by the stable interval identity
    (user_id, run_seq): the per-user run ordinal threaded through the
    walk (scd2_walked's seq mode — the open run keeps its stored
    ordinal when it closes, new runs extend it), so closing-in-place
    is an update, new runs insert, and untouched users' files are
    never rewritten beyond the COW union. (user_id, valid_from) was
    the first key and is NOT unique: equal-timestamp state flips —
    ties on ts with different event_ids, which the batch SCD2 build
    supports — give two runs of one user the same valid_from, and the
    merge's delete-by-key then silently dropped a closed history row
    (ADVICE r13 #1; ts-tie case pinned in tests/test_streaming.py).
    Contract: batches arrive event-time-ordered per user (the
    stream twin's documented assumption).

    After draining an event stream, ``read_snapshot(table_path)``
    equals q_scd2_history over the same events — equivalence-tested
    batch-by-batch in tests/test_streaming.py.
    """
    import os

    from hive_gateway_spark.operators.advanced import scd2_walked
    from hive_gateway_spark.sources.dataset_export import (
        merge_dataset,
        read_snapshot,
        rewrite_dataset,
        write_dataset,
    )

    def apply(batch_df: DataFrame, _batch_id) -> None:
        batch = batch_df.select("user_id", "ts", "event_id", "event_type")
        fresh = not os.path.exists(os.path.join(table_path, "_MANIFEST.json"))
        if fresh:
            seeds = batch.sparkSession.createDataFrame(
                [],
                "user_id bigint, state string, valid_from timestamp, "
                "n_events bigint, run_seq bigint",
            )
        else:
            hist = read_snapshot(spark, table_path)
            if "run_seq" not in hist.columns:
                # Migration (ADVICE r14 #3): a dimension written by the
                # pre-run_seq sink carries no run ordinal, so the seeded
                # walk below would die on a missing column. Backfill the
                # per-user ordinal from the stored interval order ONCE
                # and commit it as a schema-evolving rewrite (new
                # version, old versions' files untouched) — the merge
                # key derives from run_seq, so the whole table must
                # re-key, not just the seeds. Ordering: valid_from,
                # then valid_to with the open row (NULL) last — equal-
                # valid_from runs (ts-tie flips) close in valid_to
                # order; state breaks the residual zero-length-run tie
                # deterministically (consecutive runs always differ in
                # state). Tie-swapped ordinals among closed zero-length
                # rows are harmless: the walk consumes only the OPEN
                # run's ordinal, which row_number pins to the per-user
                # MAX, so new runs extend without key collisions.
                from pyspark.sql import Window

                w_seq = Window.partitionBy("user_id").orderBy(
                    F.col("valid_from").asc(),
                    F.col("valid_to").asc_nulls_last(),
                    F.col("state").asc(),
                )
                hist = (
                    hist.withColumn(
                        "run_seq", F.row_number().over(w_seq).cast("bigint")
                    )
                    .withColumn(
                        "iv_key",
                        F.concat_ws("|", F.col("user_id"), F.col("run_seq")),
                    )
                    .localCheckpoint()  # rewrite replaces the path we read
                )
                rewrite_dataset(hist, table_path)
            affected = batch.select("user_id").distinct()
            seeds = hist.filter(F.col("is_current")).join(
                affected, "user_id", "left_semi"
            )
        changed = scd2_walked(seeds, batch, seq=True).withColumn(
            "iv_key", F.concat_ws("|", F.col("user_id"), F.col("run_seq"))
        )
        # localCheckpoint breaks the lineage back to the snapshot being
        # replaced — a lazy read-then-overwrite of the same path is the
        # classic self-overwrite trap
        changed = changed.localCheckpoint()
        if fresh:
            write_dataset(changed, table_path)
        else:
            merge_dataset(changed, table_path, "iv_key")

    return apply


def replicate_catchup(spark: SparkSession, src: str, dst: str, key: str) -> dict | None:
    """ONE CDC catch-up step: diff the source's head against the
    version this replica last drained, apply it atomically, and record
    the drained version IN the same commit (apply_diff(record=...)).
    Returns the replica's new manifest, or None when already caught up.

    Exactly-once without a distributed log: the drained-version marker
    and the applied rows commit as ONE manifest version, so a crash at
    ANY point either leaves both (step complete) or neither (clean
    retry) — and a retry that re-drains an already-applied span is a
    content no-op by apply_diff's replay safety. The consumer is
    therefore safe to run from a streaming foreachBatch, a cron, or a
    human shell with zero coordination between them."""
    from hive_gateway_spark.sources import dataset_export as de

    head = int(de._current_manifest(src)["version"])
    rep = de._current_manifest(dst)
    drained = int(rep.get("replicated_src_version", 1))
    if head <= drained:
        return None
    diff = de.snapshot_diff(spark, src, drained, head, key).localCheckpoint()
    return de.apply_diff(
        diff, dst, key, record={"replicated_src_version": head}
    )


def stream_replicate(
    spark: SparkSession,
    src: str,
    dst: str,
    key: str,
    checkpoint: str,
    interval: str = "1 second",
):
    """The apply_diff REPLICATION TWIN (VERDICT r15 stretch #9): a
    Structured Streaming query whose every micro-batch drains the
    source's snapshot_diff feed into the replica via replicate_catchup
    — Delta's `readStream` + `foreachBatch` CDC replication loop,
    expressed over this engine's manifest log. The rate source is a
    metronome only (its rows are ignored); all replication state lives
    in the REPLICA manifest, so the streaming checkpoint carries no
    correctness burden — stop, crash, or restart anywhere and the next
    tick re-converges (idempotent catch-up), which is exactly what the
    crash-restart equivalence test pins.

    Returns the started StreamingQuery; callers own stop()."""
    metronome = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )

    def _sync(_batch: DataFrame, _bid: int) -> None:
        replicate_catchup(spark, src, dst, key)

    return (
        metronome.writeStream.foreachBatch(_sync)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=interval)
        .start()
    )
