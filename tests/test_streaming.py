"""Streaming twins must equal their batch counterparts when the fixture
stream is drained with an availableNow trigger (SURVEY §5.2)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from hive_gateway_spark import registry
from hive_gateway_spark.session import load_tables
from hive_gateway_spark.streaming import (
    stream_events,
    stream_rate_limit_counts,
    stream_session_windows,
    stream_correlate,
)
from hive_gateway_spark.streaming.ops import (
    SESSION_GAP,
    split_request_response,
    stream_admission,
)

registry.load_all()


def drain(stream_df, name: str, mode: str = "append") -> pd.DataFrame:
    """availableNow → memory sink → pandas.

    Aggregations drain in `complete` mode so windows still open at
    end-of-stream (the final fixture day — the watermark never passes
    them) are included; production uses append + watermark eviction.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = stream_df.sparkSession
    return spark.table(name).toPandas()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def assert_same(a: pd.DataFrame, b: pd.DataFrame):
    a, b = _canon(a), _canon(b)
    assert len(a) == len(b), f"{len(a)} != {len(b)} rows"
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


def test_stream_rate_limit_equals_batch(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    got = drain(stream_rate_limit_counts(stream_events(spark, sf_dir)), "s_rl", mode="complete")
    want = (
        t["events"]
        .groupBy(F.window("ts", "1 day").alias("win"), "user_id")
        .agg(F.count("*").alias("n_calls"))
        .select(
            F.col("win.start").alias("window_start"),
            "user_id",
            "n_calls",
            (F.col("n_calls") > 10).alias("throttled"),
        )
        .toPandas()
    )
    assert len(got) > 0
    assert_same(got, want)


def test_stream_sessions_equal_batch_session_window(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    got = drain(stream_session_windows(stream_events(spark, sf_dir)), "s_sess", mode="complete")
    want = (
        t["events"]
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
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
        .toPandas()
    )
    assert len(got) > 0
    assert_same(got, want)


def test_stream_sessions_equal_lag_based_sessionize(spark, sf_dir):
    """The built-in session_window and the batch lag/cumsum sessionizer
    (q_sessionize) must agree on the session partitioning."""
    got = drain(stream_session_windows(stream_events(spark, sf_dir)), "s_sess2", mode="complete")
    batch = registry.QUERIES["q_sessionize"](spark, sf_dir).toPandas()
    a = got[["user_id", "n_events", "session_value"]]
    b = batch[["user_id", "n_events", "session_value"]]
    assert_same(a, b)


def test_stream_admission_equals_batch_rate_limit(spark, sf_dir):
    """The applyInPandasWithState admission operator must reproduce the
    batch row_number()-based admission exactly."""
    from hive_gateway_spark.operators.windows import RATE_LIMIT_N

    got = drain(
        stream_admission(stream_events(spark, sf_dir), limit=RATE_LIMIT_N), "s_adm"
    )
    want = registry.QUERIES["q_window_rate_limit"](spark, sf_dir).toPandas()
    assert len(got) > 0
    assert got["admitted"].dtype == bool or got["admitted"].notna().all()
    assert_same(got, want)


def test_stream_correlate_equals_batch_join(spark, sf_dir):
    """Watermarked stream-stream sn join == the same join in batch; the
    time bound drops late responses (ref gateway.ts:134-136)."""
    t = load_tables(spark, sf_dir)
    sreq, sresp = split_request_response(stream_events(spark, sf_dir))
    got = drain(stream_correlate(sreq, sresp, timeout="30 minutes"), "s_corr")
    breq, bresp = split_request_response(t["events"])
    want = stream_correlate(breq, bresp, timeout="30 minutes").toPandas()
    assert len(got) > 0, "no correlated pairs — fixture assumptions broke"
    assert_same(got, want)
    # every latency respects the bound, and unknown sns were dropped
    assert (got["latency_us"] <= 30 * 60 * 1_000_000).all()
    assert (got["latency_us"] >= 0).all()


def test_watermark_drops_late_data(spark, sf_dir, tmp_path):
    """The reference drops late/unknown-sn responses (gateway.ts:134-136);
    the streaming twin's watermark does the same: rows arriving after
    their window's watermark passed are excluded from the appended
    result. Two files with controlled mtimes force the arrival order."""
    import os
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # this test writes its own fixture files with raw nanos-as-long ts
    ns_long_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    t = load_tables(spark, sf_dir)
    pdf = t["events"].toPandas().sort_values("event_id")
    # ns-long ts back (the local schema expects raw nanos-as-long)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("int64")
    first_day = pdf["ts"].min() // 86_400_000_000_000
    is_day1 = (pdf["ts"] // 86_400_000_000_000) == first_day
    late = pdf[is_day1].head(5)          # 5 day-1 rows arrive last
    ontime = pdf.drop(late.index)

    # Three files: the watermark a batch's late-filter uses is the one
    # computed from the PREVIOUS batch's data (it lags one trigger), so
    # the on-time data spans two batches before the late file arrives.
    d = tmp_path / "late_src"
    d.mkdir()
    half = len(ontime) // 2
    parts = [
        (str(d / "a_ontime1.parquet"), ontime.iloc[:half]),
        (str(d / "b_ontime2.parquet"), ontime.iloc[half:]),
        (str(d / "c_late.parquet"), late),
    ]
    for i, (f, part) in enumerate(parts):
        part.to_parquet(f, index=False)
        os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stream = (
        spark.readStream.schema(ns_long_schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d))
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    agg = (
        stream.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("day"), "n")
    )
    got = drain(agg, "s_late", mode="append")
    day1 = got[got["day"] == got["day"].min()]
    assert len(day1) == 1
    n_ontime_day1 = int(is_day1.sum()) - len(late)
    # late rows were DROPPED: the closed day-1 window counts only
    # the on-time rows (a batch run over both files would add the 5)
    assert int(day1["n"].iloc[0]) == n_ontime_day1, (
        f"late rows leaked into a closed window: {day1}"
    )


def test_streaming_gateway_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """Streaming flagship: events stream → stateful admission →
    broadcast route join → per-region admitted counts → KV writeback
    via foreachBatch. Results must equal the batch computation."""
    from pyspark.sql import functions as F
    from hive_gateway_spark.operators.windows import RATE_LIMIT_N
    from hive_gateway_spark.sources.kv import FileKV, kv_sink_foreachBatch

    t = load_tables(spark, sf_dir)
    routes = F.broadcast(
        t["nation"].join(
            F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey")
        )
    )

    admitted = stream_admission(stream_events(spark, sf_dir), limit=RATE_LIMIT_N)
    routed = admitted.filter(F.col("admitted")).join(
        routes, F.pmod(F.col("user_id"), F.lit(25)).cast("int") == F.col("n_nationkey")
    )
    counts = routed.groupBy("r_name").agg(F.count("*").alias("n")).select(
        F.col("r_name").alias("k"), F.col("n").cast("string").alias("v")
    )
    out_root = str(tmp_path / "kv_regions")
    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(kv_sink_foreachBatch(lambda: FileKV(out_root), "k", "v"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = dict(FileKV(out_root).items())

    batch = registry.QUERIES["q_gateway_pipeline"](spark, sf_dir)
    want = {
        r["route_region"]: str(r["n"])
        for r in batch.groupBy("route_region")
        .agg(F.sum("n_admitted").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_exact_dedup_equals_batch(spark, sf_dir):
    """Streaming first-arrival dedup keeps exactly one doc per distinct
    text — the kept TEXT set equals the batch distinct set (survivor
    *identity* legitimately differs: arrival order vs min doc_id)."""
    from hive_gateway_spark.session import load_tables
    from hive_gateway_spark.streaming.ops import stream_documents, stream_exact_dedup

    out = drain(
        stream_exact_dedup(stream_documents(spark, sf_dir)), "dedup_stream_docs"
    )
    t = load_tables(spark, sf_dir)
    batch = t["documents"].select("text").distinct().toPandas()
    assert len(out) == len(batch)
    assert set(out["text"]) == set(batch["text"])


def test_stream_near_dup_candidates_equal_batch(spark, sf_dir):
    """Stream-static ingest screening equals the batch shared-shingle
    count at the same threshold (replaying the corpus against itself:
    every true near-dup pair must surface in both directions)."""
    from pyspark.sql import functions as F

    from hive_gateway_spark.operators.dedup import _shingles_checkpointed
    from hive_gateway_spark.session import load_tables
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_near_dup_candidates,
    )

    t = load_tables(spark, sf_dir)
    corpus = _shingles_checkpointed(t).select("doc_id", "h")
    out = drain(
        stream_near_dup_candidates(stream_documents(spark, sf_dir), corpus),
        "near_dup_stream",
        mode="complete",
    )
    got = {(r.new_doc, r.corpus_doc, r.shared) for r in out.itertuples(index=False)}

    a = corpus.select(F.col("doc_id").alias("new_doc"), "h")
    b = corpus.select(F.col("doc_id").alias("corpus_doc"), "h")
    batch = (
        a.join(b, "h")
        .filter(F.col("new_doc") != F.col("corpus_doc"))
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 5)
    )
    want = {(r["new_doc"], r["corpus_doc"], r["shared"]) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_quality_gates_equal_batch(spark, sf_dir):
    """VERDICT r04 #4 / r05 #6 / ADVICE r6 #3: the ingest-time gates
    drained over the fixture stream keep exactly the rows q_curation_v2's
    batch gate stage keeps. Expected rows come from dedup.curation_gates
    — the function q_curation_v2 itself calls — not from re-invoking the
    streaming twin, so a drift between the batch pipeline's gates and
    the streaming path would fail here (and the two share one
    implementation besides)."""
    from hive_gateway_spark.operators.dedup import curation_gates
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_quality_gates,
    )

    got = drain(
        stream_quality_gates(stream_documents(spark, sf_dir)), "s_qgates"
    )
    t = load_tables(spark, sf_dir)
    want = curation_gates(t["documents"]).toPandas()
    assert len(got) == len(want) > 0
    assert set(got["doc_id"]) == set(want["doc_id"])
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        g[["doc_id", "n_tokens", "norm_text"]], w[["doc_id", "n_tokens", "norm_text"]]
    )


def test_stream_decontaminate_equals_batch(spark, sf_dir):
    """Ingest-time decontamination equals the batch contamination gate:
    the flagged (doc, bench, shared) triples match q_curation_v2's
    contam subquery exactly."""
    from hive_gateway_spark.operators.dedup import (
        CONTAM_BENCH_MOD,
        CONTAM_MIN_SHARED,
        _shingles_checkpointed,
    )
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_decontaminate,
    )

    t = load_tables(spark, sf_dir)
    corpus = _shingles_checkpointed(t).select("doc_id", "h")
    got = drain(
        stream_decontaminate(stream_documents(spark, sf_dir), corpus),
        "s_decontam",
        mode="complete",
    )
    bench = corpus.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    want = (
        corpus.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= CONTAM_MIN_SHARED)
        .toPandas()
    )
    got_set = {tuple(r) for r in got[["doc_id", "bench_id", "shared"]].itertuples(index=False)}
    want_set = {tuple(r) for r in want[["doc_id", "bench_id", "shared"]].itertuples(index=False)}
    assert got_set == want_set
    assert len(want_set) > 0, "decontamination gate is vacuous on the fixture"


def test_stream_curation_pipeline_equals_batch(spark, sf_dir):
    """The composed streaming curation pipeline admits exactly the doc
    set the same gates admit in batch (survivor identity for exact-dup
    groups legitimately differs — arrival order vs min doc_id — so the
    comparison is on normalized-text sets, the dedup-invariant)."""
    from hive_gateway_spark.operators.dedup import (
        CONTAM_BENCH_MOD,
        CONTAM_MIN_SHARED,
        _shingles_checkpointed,
    )
    from hive_gateway_spark.streaming.ops import (
        stream_curation_pipeline,
        stream_documents,
        stream_quality_gates,
    )

    t = load_tables(spark, sf_dir)
    corpus = _shingles_checkpointed(t).select("doc_id", "h")
    got = drain(
        stream_curation_pipeline(stream_documents(spark, sf_dir), corpus),
        "s_curation",
    )

    gated = stream_quality_gates(t["documents"])
    bench = corpus.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    contaminated = (
        corpus.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= CONTAM_MIN_SHARED)
        .select("doc_id")
        .distinct()
    )
    want = (
        gated.dropDuplicates(["norm_text"])
        .join(contaminated, "doc_id", "left_anti")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    assert set(got["norm_text"]) == set(want["norm_text"])


def test_stream_minhash_dedup_catches_near_dups(spark, sf_dir):
    """Stream-vs-itself near-dup dedup: draining the fixture stream
    must flag the strong exact near-dups (jaccard ≥ 0.95 — band
    collision ≈ j² so recall is near-1 there) with first-arrival-wins
    direction, and every flagged pair must be a genuine near-dup by
    the exact batch measure (no wild false positives)."""
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_minhash_dedup,
    )

    got = drain(
        stream_minhash_dedup(stream_documents(spark, sf_dir)), "s_mh_dedup"
    )
    assert len(got) > 0
    flagged = {
        (int(r.dup_of), int(r.doc_id))
        for r in got.dropna(subset=["dup_of"]).itertuples(index=False)
    }
    # first-arrival == lower doc_id here (one availableNow batch,
    # in-bucket processing sorts by doc_id)
    assert all(a < b for a, b in flagged), flagged

    exact = {
        (r["doc_a"], r["doc_b"]): r["shared"] / r["union_sz"]
        for r in registry.QUERIES["q_dedup_ngram"](spark, sf_dir).collect()
    }
    strong = {p for p, j in exact.items() if j >= 0.9}
    if strong:
        recall = len(strong & flagged) / len(strong)
        assert recall >= 0.7, (recall, strong - flagged)
    # precision: flagged pairs must be true near-dups at tau=0.5
    # (the exact operator's own threshold) — allow pairs the exact op
    # dropped only if they're still in its candidate set is too lax;
    # require membership outright.
    false_pos = flagged - set(exact)
    assert not false_pos, f"flagged non-near-dups: {false_pos}"


def test_live_rate_source_kv_pipeline(spark):
    """VERDICT r6 task #3 — the gateway admission pipeline LIVE: a
    continuous rate source, a REAL processing-time trigger (not
    availableNow), the 30 s receive-timeout watermark closing windows
    across ≥2 micro-batches, append-mode emission on close (the
    reference's timeout behavior demonstrated, not analogized), and
    foreachBatch writing each closed window's final count over the RESP2
    wire into the KV sink.

    Asserts (a) ≥2 micro-batches carried rows, (b) the event-time
    watermark strictly advanced between batches, (c) ≥2 windows closed
    into the KV store, and (d) the KV state equals the batch twin run
    over exactly the processed sequence prefix — live-vs-batch
    equivalence on every closed window."""
    import time

    from pyspark.sql import functions as F

    from hive_gateway_spark.sources.kv import (
        FakeRespServer,
        RespKV,
        kv_sink_foreachBatch,
    )
    from hive_gateway_spark.streaming.ops import (
        _LIVE_BASE,
        live_rate_batch_twin,
        live_rate_events,
        stream_rate_limit_counts,
    )

    user_mod, win_s = 5, 10
    srv = FakeRespServer().start()
    port = srv.port
    # narrow state width for sub-second micro-batches (32 shuffle
    # partitions make each stateful batch ~4 s on local[32], so the
    # first batch swallows the whole backlog and the demo sees only one
    # fed trigger); restored below — batch queries are unaffected
    # mid-test because this test runs its queries serially.
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        agg = stream_rate_limit_counts(
            live_rate_events(spark, rows_per_second=400, user_mod=user_mod),
            limit=10,
            window=f"{win_s} seconds",
        )
        out = agg.select(
            F.concat_ws(
                "@", F.col("user_id"), F.col("window_start").cast("string")
            ).alias("k"),
            F.col("n_calls").cast("string").alias("v"),
        )
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(kv_sink_foreachBatch(lambda: RespKV(port=port), "k", "v"))
            .option("checkpointLocation", "/tmp/live_kv_ckpt_%d" % time.time_ns())
            .trigger(processingTime="1 second")
            .start()
        )
        def _marks(progress):
            return {
                p["eventTime"]["watermark"]
                for p in progress
                if p.get("eventTime", {}).get("watermark", "").startswith("2026")
            }

        deadline = time.time() + 120
        while time.time() < deadline:
            progress = [p for p in (q.recentProgress or []) if p]
            fed_ids = {p["batchId"] for p in progress if p["numInputRows"] > 0}
            n_windows = len({k.split("@")[1] for k in srv.store})
            if n_windows >= 3 and len(fed_ids) >= 2 and len(_marks(progress)) >= 2:
                break
            time.sleep(0.5)
        progress = [p for p in (q.recentProgress or []) if p]
        q.stop()
        q.awaitTermination(30)

        # (a) real trigger, multiple micro-batches with data
        fed = [p for p in progress if p["numInputRows"] > 0]
        assert len({p["batchId"] for p in fed}) >= 2, "needs >=2 fed micro-batches"
        # (b) watermark advanced between micro-batches
        marks = _marks(progress)
        assert len(marks) >= 2, f"watermark never advanced: {marks}"
        # (c) windows actually closed into the KV store over the wire
        kv = dict(srv.store)
        closed_starts = {k.split("@", 1)[1] for k in kv}
        assert len(closed_starts) >= 2, f"expected >=2 closed windows, got {kv}"

        # (d) live == batch on the processed prefix: every closed window
        # [s, s+10) saw sequence numbers s..s+9 (event time == seq), so
        # the prefix up to the latest closed window end reconstructs the
        # exact input; in-order arrival means closed counts are final.
        import datetime as dt

        base = dt.datetime.fromisoformat(_LIVE_BASE)
        max_end = max(
            int((dt.datetime.fromisoformat(s) - base).total_seconds()) + win_s
            for s in closed_starts
        )
        twin = (
            live_rate_batch_twin(spark, max_end, user_mod=user_mod)
            .groupBy(F.window("ts", f"{win_s} seconds").alias("win"), "user_id")
            .agg(F.count("*").alias("n_calls"))
            .select(
                F.concat_ws(
                    "@", F.col("user_id"), F.col("win.start").cast("string")
                ).alias("k"),
                F.col("n_calls").cast("string").alias("v"),
            )
        )
        want = {
            r["k"]: r["v"]
            for r in twin.collect()
            if r["k"].split("@", 1)[1] in closed_starts
        }
        assert kv == want, f"live KV state != batch twin: {kv} vs {want}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)
        srv.stop()


def test_stream_dsir_score_matches_batch(spark, sf_dir):
    """The ingest-time DSIR scorer with a frozen coefficient table
    reproduces the batch operator's weights EXACTLY: q_dsir_weights'
    top-100 selection (decimal-summed logw) must appear in the drained
    stream scores bit-for-bit — the micro-unit integer fold is the
    same rational number, and both sides round once to double."""
    from hive_gateway_spark.operators.corpus import dsir_coefficients
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_dsir_score,
    )

    t = load_tables(spark, sf_dir)
    coef = dsir_coefficients(t["documents"]).localCheckpoint()
    got = drain(
        stream_dsir_score(stream_documents(spark, sf_dir), coef), "s_dsir"
    )
    scores = dict(zip(got["doc_id"], got["logw"]))
    ntoks = dict(zip(got["doc_id"], got["n_tokens"]))
    batch = registry.QUERIES["q_dsir_weights"](spark, sf_dir).collect()
    assert len(batch) > 0
    for r in batch:
        assert scores[r["doc_id"]] == r["logw"]  # exact, not approx
        assert ntoks[r["doc_id"]] == r["n_tokens"]
    # and the stream scored every non-empty doc, not just the selection
    assert len(got) == t["documents"].filter("text <> ''").count()


def test_stream_image_phash_screen_equals_batch(spark, sf_dir):
    """The ingest-time image screen drained over the fixture stream
    flags exactly the batch operator's pairs (both directions of each
    q_image_phash pair, since every arriving doc is screened against
    the full corpus index minus itself)."""
    from hive_gateway_spark.operators.multimodal import phash_frame
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_image_phash_screen,
    )

    corpus = phash_frame(load_tables(spark, sf_dir)["documents"]).localCheckpoint()
    got = drain(
        stream_image_phash_screen(stream_documents(spark, sf_dir), corpus),
        "s_imgscreen",
    )
    pairs = [(r.doc_id, r.corpus_doc) for r in got.itertuples(index=False)]
    flagged = set(pairs)
    # the STATELESS first-matching-band collapse (ADVICE r7 #3 replaced
    # the cross-batch-stateful distinct()) must still emit each pair
    # exactly once even when several bands match (identical images
    # match in all 4)
    assert len(pairs) == len(flagged)
    batch = registry.QUERIES["q_image_phash"](spark, sf_dir).collect()
    want = {(r["doc_a"], r["doc_b"]) for r in batch} | {
        (r["doc_b"], r["doc_a"]) for r in batch
    }
    assert flagged == want and len(want) > 0


def test_stream_k_anonymity_equals_batch(spark, sf_dir):
    """The streaming k-anonymity audit (watermarked dedup → count, the
    no-COUNT-DISTINCT-on-streams composition) drained over the fixture
    stream reports exactly the batch operator's per-class user counts
    and at-risk flags."""
    from hive_gateway_spark.streaming.ops import (
        stream_events,
        stream_k_anonymity,
    )

    got = drain(
        stream_k_anonymity(stream_events(spark, sf_dir)),
        "s_kanon",
        mode="complete",
    )
    want = (
        registry.QUERIES["q_k_anonymity"](spark, sf_dir)
        .drop("n_rows")  # the dedup stream can't see pre-dedup rows
        .toPandas()
    )
    key = ["event_type", "day", "value_band"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) > 0
    pd.testing.assert_frame_equal(
        g[key + ["n_users", "at_risk"]], w[key + ["n_users", "at_risk"]]
    )


def test_stream_volume_screen_matches_batch_anomaly(spark, sf_dir):
    """The streaming screen with the batch-frozen baseline, drained
    over the fixture stream in complete mode, flags exactly the days
    q_volume_anomaly flags (the fixture stream delivers every event,
    so the final per-day counts equal the batch counts)."""
    from hive_gateway_spark.streaming.ops import (
        stream_events,
        stream_volume_screen,
        volume_baseline,
    )

    baseline = volume_baseline(
        load_tables(spark, sf_dir)["events"]
    ).localCheckpoint()
    got = drain(
        stream_volume_screen(stream_events(spark, sf_dir), baseline),
        "s_vol",
        mode="complete",
    )
    want = registry.QUERIES["q_volume_anomaly"](spark, sf_dir).toPandas()
    g = got.sort_values("day").reset_index(drop=True)
    w = want.sort_values("day").reset_index(drop=True)
    assert len(g) == len(w) > 0
    pd.testing.assert_frame_equal(
        g[["day", "n_events", "is_spike"]], w[["day", "n_events", "is_spike"]]
    )


def test_stream_volume_screen_high_flag_is_one_sided(spark):
    """ADVICE r8 #2: update-mode partials sit BELOW the frozen mean, so
    the two-sided is_spike trips low-side on a day's first micro-batch
    and untrips later — not alertable. is_high_spike must stay False on
    a below-mean partial, trip only when the running count exceeds the
    high threshold, and (being monotone in n) never untrip after."""
    from pyspark.sql import functions as F

    from hive_gateway_spark.streaming.ops import (
        stream_volume_screen,
        volume_baseline,
    )

    def events(day_counts):
        rows = [(d, i) for d, n in day_counts for i in range(n)]
        return spark.createDataFrame(rows, "day int, i int").select(
            F.expr("timestamp_micros(CAST(day AS BIGINT) * 86400000000 + i)")
            .alias("ts")
        )

    # 10-day history, counts 95..104: mean 99.5, σ ≈ 2.87, 3σ band ≈ ±8.6
    baseline = volume_baseline(
        events([(d, 95 + d) for d in range(10)])
    ).localCheckpoint()

    def screen(day_counts):
        out = {
            r["day"]: r
            for r in stream_volume_screen(events(day_counts), baseline).collect()
        }
        return out

    # a day's first partial (5 of an eventual 160): low-side two-sided
    # trip, but the alerting flag must hold
    partial = screen([(20, 5)])[20]
    assert partial["is_spike"] and not partial["is_high_spike"]
    # the same day fully delivered: both trip — and is_high_spike is
    # monotone between the two states (False→True as n grows)
    full = screen([(20, 160)])[20]
    assert full["is_spike"] and full["is_high_spike"]
    # a normal day trips neither once delivered
    normal = screen([(21, 100)])[21]
    assert not normal["is_spike"] and not normal["is_high_spike"]
    # implication invariant: high ⇒ spike at every count level
    for n in (1, 50, 91, 100, 109, 200):
        r = screen([(22, n)])[22]
        assert (not r["is_high_spike"]) or r["is_spike"]


def test_stream_gopher_screen_equal_batch(spark, sf_dir):
    """The Gopher rule battery drained over the fixture stream emits
    exactly the batch projection's flags (shared implementation —
    text.gopher_report — so the equivalence also guards against the
    twins drifting apart)."""
    from hive_gateway_spark.operators.text import gopher_report
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_gopher_screen,
    )

    got = drain(stream_gopher_screen(stream_documents(spark, sf_dir)), "s_gopher")
    want = gopher_report(load_tables(spark, sf_dir)["documents"]).toPandas()
    assert len(got) == len(want) > 0
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)
    cols = ["doc_id", "n_words", "ok_word_count", "ok_stopwords", "keep"]
    pd.testing.assert_frame_equal(g[cols], w[cols])


def test_stream_reservoir_converges_to_batch_sample(spark, sf_dir):
    """After the fixture stream drains, the k smallest (hash, doc_id)
    per source among the emitted admissions are EXACTLY the batch
    q_reservoir_per_source rows — the deterministic-hash reservoir's
    convergence guarantee (a true RNG reservoir could never be pinned
    like this)."""
    from hive_gateway_spark.operators.sampling import _RESERVOIR_K
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_reservoir_sample,
    )

    got = drain(
        stream_reservoir_sample(stream_documents(spark, sf_dir)), "s_resv"
    )
    final: dict[str, list] = {}
    for r in got.itertuples(index=False):
        final.setdefault(r.source, []).append((int(r.h), int(r.doc_id)))
    kept = {
        s: {i for _, i in sorted(set(v))[:_RESERVOIR_K]}
        for s, v in final.items()
    }
    want: dict[str, set] = {}
    for r in (
        registry.QUERIES["q_reservoir_per_source"](spark, sf_dir).collect()
    ):
        want.setdefault(r["source"], set()).add(r["doc_id"])
    assert kept == want and all(len(v) > 0 for v in want.values())


def test_stream_chunk_windows_equal_batch(spark, sf_dir):
    """Chunking drained over the fixture stream emits exactly the
    batch projection's chunks (shared implementation)."""
    from hive_gateway_spark.operators.text import chunk_windows
    from hive_gateway_spark.streaming.ops import (
        stream_chunk_windows,
        stream_documents,
    )

    got = drain(stream_chunk_windows(stream_documents(spark, sf_dir)), "s_chunks")
    want = chunk_windows(load_tables(spark, sf_dir)["documents"]).toPandas()
    assert len(got) == len(want) > 0
    g = got.sort_values(["doc_id", "chunk_idx"]).reset_index(drop=True)
    w = want.sort_values(["doc_id", "chunk_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        g[["doc_id", "chunk_idx", "chunk", "n_tokens"]],
        w[["doc_id", "chunk_idx", "chunk", "n_tokens"]],
    )


def test_stream_quality_screen_equal_batch(spark, sf_dir):
    """The hashed-linear quality classifier drained over the fixture
    stream emits exactly the batch scores (shared implementation —
    text.quality_score_frame — so the twins cannot drift)."""
    from hive_gateway_spark.operators.text import quality_score_frame
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_quality_screen,
    )

    got = drain(
        stream_quality_screen(stream_documents(spark, sf_dir)), "s_quality"
    )
    want = quality_score_frame(
        load_tables(spark, sf_dir)["documents"]
    ).toPandas()
    assert len(got) == len(want) > 0
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)
    cols = ["doc_id", "n_tokens", "quality_score", "is_quality"]
    pd.testing.assert_frame_equal(g[cols], w[cols])


def test_stream_embed_dedup_screen(spark, tmp_path):
    """Ingest-time semantic screen against the persisted IVF index:
    planted near-copies of INDEXED vectors must emit a match row
    naming their source at cos ≥ τ; novel vectors (fresh random
    directions) must emit nothing; and the in-row primary-cell
    assignment must agree with the batch kernel's tie-break (every
    match pair shares the source's indexed cell by construction)."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_gateway_spark.operators import similarity as sim
    from hive_gateway_spark.streaming.ops import stream_embed_dedup_screen

    rng = np.random.default_rng(23)
    dim, n_clusters, n = 16, 10, 1200
    centers = rng.normal(0, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    vecs = centers[label] + rng.normal(0, 0.35, (n, dim))

    def write_emb(dirpath, ids, vs, labels):
        os.makedirs(dirpath)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        list(vs.astype(np.float32)), pa.list_(pa.float32())
                    ),
                    "label": pa.array(
                        np.asarray(labels, dtype=np.int32), pa.int32()
                    ),
                }
            ),
            os.path.join(dirpath, "part-00.parquet"),
        )

    # corpus sf-dir (indexed half)
    sfd = str(tmp_path / "sf_screen")
    write_emb(os.path.join(sfd, "embeddings.parquet"), np.arange(n), vecs, label)
    for name in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(
            os.path.join("/root/testdata/sf0.001", f"{name}.parquet"),
            os.path.join(sfd, f"{name}.parquet"),
        )
    idx = str(tmp_path / "screen_index")
    sim.persist_ivf_index(spark.newSession(), sfd, idx)

    # arriving batch: 5 near-copies of indexed vectors + 20 novel
    # random directions (cosine to any fixture vector ≪ τ in dim 16
    # ... novel picked orthogonal-ish by fresh random draws scaled up)
    copies_src = [3, 77, 400, 801, 1150]
    arrive_ids = list(range(10_000, 10_005)) + list(range(20_000, 20_020))
    arrive_vecs = np.vstack(
        [vecs[copies_src] * (1 + 1e-3), rng.normal(0, 1, (20, dim)) * 3]
    )
    stream_dir = str(tmp_path / "arrivals")
    write_emb(
        os.path.join(stream_dir, "embeddings.parquet"),
        np.asarray(arrive_ids),
        arrive_vecs,
        np.zeros(len(arrive_ids)),
    )
    s = spark.newSession()
    vec_stream = (
        s.readStream.schema(
            "vec_id bigint, embedding array<float>, label int"
        )
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(stream_dir, "embeddings.parquet"))
    )
    got = drain(
        stream_embed_dedup_screen(vec_stream, idx, tau=0.98), "s_embscreen"
    )
    matched = {int(v) for v in got["vec_id"].unique()}
    # every planted copy matched, and its best match IS its source
    for aid, src_id in zip(range(10_000, 10_005), copies_src):
        assert aid in matched, aid
        g = got[got["vec_id"] == aid].sort_values("cos_sim", ascending=False)
        assert int(g.iloc[0]["match_id"]) == src_id
        assert g.iloc[0]["cos_sim"] >= 0.98
    # novel vectors emit nothing at this τ
    assert not (matched & set(range(20_000, 20_020)))


def test_embed_screen_batch_matches_expression(spark, tmp_path):
    """The foreachBatch GEMM screen must emit the SAME (vec_id,
    match_id) pairs with BIT-IDENTICAL sims as the expression screen
    (same quantization, same int64 dots, same probe scope) — the
    high-rate spelling adds speed, never semantics. Duplicate
    multi-assignment rows are deduped on both sides before compare."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_gateway_spark.operators import similarity as sim
    from hive_gateway_spark.streaming.ops import (
        embed_screen_batch,
        stream_embed_dedup_screen,
    )

    rng = np.random.default_rng(29)
    dim, n_clusters, n = 16, 10, 1000
    centers = rng.normal(0, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    vecs = centers[label] + rng.normal(0, 0.35, (n, dim))

    def write_emb(dirpath, ids, vs, labels):
        os.makedirs(dirpath)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        list(vs.astype(np.float32)), pa.list_(pa.float32())
                    ),
                    "label": pa.array(
                        np.asarray(labels, dtype=np.int32), pa.int32()
                    ),
                }
            ),
            os.path.join(dirpath, "part-00.parquet"),
        )

    sfd = str(tmp_path / "sf_gemmscreen")
    write_emb(os.path.join(sfd, "embeddings.parquet"), np.arange(n), vecs, label)
    for name in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(
            os.path.join("/root/testdata/sf0.001", f"{name}.parquet"),
            os.path.join(sfd, f"{name}.parquet"),
        )
    idx = str(tmp_path / "gemmscreen_index")
    sim.persist_ivf_index(spark.newSession(), sfd, idx)

    copies_src = [5, 123, 777]
    arrive_ids = list(range(50_000, 50_003)) + list(range(60_000, 60_010))
    arrive_vecs = np.vstack(
        [vecs[copies_src] * (1 + 1e-3), rng.normal(0, 1, (10, dim)) * 3]
    )
    stream_dir = str(tmp_path / "gemm_arrivals")
    write_emb(
        os.path.join(stream_dir, "embeddings.parquet"),
        np.asarray(arrive_ids),
        arrive_vecs,
        np.zeros(len(arrive_ids)),
    )
    s = spark.newSession()
    vec_stream = (
        s.readStream.schema("vec_id bigint, embedding array<float>, label int")
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(stream_dir, "embeddings.parquet"))
    )
    expr_rows = drain(
        stream_embed_dedup_screen(vec_stream, idx, tau=0.95), "s_gemmscreen"
    )
    expr = {
        (int(r.vec_id), int(r.match_id)): float(r.cos_sim)
        for r in expr_rows.itertuples()
    }

    s2 = spark.newSession()
    batch_df = s2.read.parquet(os.path.join(stream_dir, "embeddings.parquet"))
    score = embed_screen_batch(s2, idx, tau=0.95)
    gemm = {
        (int(r["vec_id"]), int(r["match_id"])): float(r["cos_sim"])
        for r in score(batch_df).collect()
    }
    assert set(gemm) == set(expr) and len(gemm) > 0
    for k, v in gemm.items():
        assert v == expr[k], k
    # planted copies matched, novels silent — the screen contract
    matched = {v for v, _ in gemm}
    assert set(range(50_000, 50_003)) <= matched
    assert not (matched & set(range(60_000, 60_010)))


def test_stream_token_trend_equal_batch(spark, sf_dir):
    """The streaming Misra-Gries trend drained over the fixture stream
    carries exactly the batch sketch's counts (shared kernel —
    advanced.mg_summaries): in the exact regime the running state IS
    the exact token histogram, the NULL-word error row is 0, and the
    consumer-side top-k cut reproduces q_heavy_hitters verbatim."""
    from hive_gateway_spark.operators.advanced import HH_TOPK
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_token_trend,
    )

    got = drain(
        stream_token_trend(stream_documents(spark, sf_dir)),
        "s_token_trend",
        mode="complete",
    )
    err = got[got["word"].isnull()]
    assert len(err) == 1 and int(err["cnt_lo"].iloc[0]) == 0
    top = (
        got[got["word"].notnull()]
        .sort_values(["cnt_lo", "word"], ascending=[False, True])
        .head(HH_TOPK)
        .reset_index(drop=True)
    )
    want = (
        registry.QUERIES["q_heavy_hitters"](spark, sf_dir)
        .toPandas()
        .sort_values("rnk")
        .reset_index(drop=True)
    )
    assert list(top["word"]) == list(want["word"])
    assert list(top["cnt_lo"]) == list(want["cnt_lo"])


def test_stream_scd2_changes_equal_batch_closed_intervals(spark, sf_dir):
    """Draining the SCD2 change stream must reproduce exactly the batch
    history's CLOSED intervals (the open run per user stays in state)."""
    from hive_gateway_spark.streaming.ops import stream_events, stream_scd2_changes

    got = drain(stream_scd2_changes(stream_events(spark, sf_dir)), "s_scd2")
    batch = (
        registry.QUERIES["q_scd2_history"](spark, sf_dir)
        .filter(~F.col("is_current"))
        .select("user_id", "state", "valid_from", "valid_to", "n_events")
        .toPandas()
    )
    assert len(batch) > 0
    assert_same(got, batch)


def test_scd2_dimension_sink_maintains_batch_equivalent_table(spark, sf_dir, tmp_path):
    """Feed the events fixture through scd2_dimension_sink in THREE
    chronological micro-batches (the foreachBatch contract, driven
    directly); the maintained lakehouse table must equal the one-shot
    batch SCD2 history — and the table must have versioned (one
    snapshot per batch, time travel intact)."""
    from hive_gateway_spark.session import load_tables
    from hive_gateway_spark.sources.dataset_export import read_snapshot
    from hive_gateway_spark.streaming.ops import scd2_dimension_sink

    ev = load_tables(spark, sf_dir)["events"]
    cuts = ["2024-01-11 00:00:00", "2024-01-21 00:00:00"]
    b1 = ev.filter(F.col("ts") < cuts[0])
    b2 = ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1]))
    b3 = ev.filter(F.col("ts") >= cuts[1])
    assert b1.count() and b2.count() and b3.count()
    path = str(tmp_path / "dim_user_state")
    apply = scd2_dimension_sink(spark, path)
    for i, b in enumerate((b1, b2, b3)):
        apply(b, i)
    cols = ["user_id", "state", "valid_from", "valid_to", "is_current", "n_events"]
    got = read_snapshot(spark, path).select(*cols).toPandas()
    want = registry.QUERIES["q_scd2_history"](spark, sf_dir).select(*cols).toPandas()
    assert_same(got, want)
    # three commits → version 3 is current, version 1 readable (COW)
    v1 = read_snapshot(spark, path, version=1)
    assert 0 < v1.count() < len(got)


def test_scd2_dimension_sink_survives_equal_ts_state_flips(spark, tmp_path):
    """ADVICE r13 #1: (user_id, valid_from) is NOT a unique interval
    identity — equal-timestamp state flips (ties on ts with different
    event_ids, which _scd2_build explicitly supports) give one user
    two runs with the SAME valid_from, and the first merge key
    silently deleted a closed history row. The sink now keys on
    (user_id, run_seq); this pins the tie case batch-vs-rebuild."""
    from hive_gateway_spark.operators.advanced import _scd2_build
    from hive_gateway_spark.sources.dataset_export import read_snapshot
    from hive_gateway_spark.streaming.ops import scd2_dimension_sink

    rows = [
        # batch 1: plain run, then a flip at t1 (open run B from t1)
        (1, "2024-01-01 00:00:00", 1, "A"),
        (1, "2024-01-02 00:00:00", 2, "A"),
        (1, "2024-01-02 00:00:00", 3, "B"),
        # batch 2: ties ON the seed's valid_from — A at t1 (larger
        # event_id), then B at t2: the recompute emits TWO intervals
        # with valid_from = t1 (closed B, closed A) plus the new open B
        (1, "2024-01-02 00:00:00", 4, "A"),
        (1, "2024-01-03 00:00:00", 5, "B"),
    ]
    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string"
    import datetime as _dt

    all_ev = spark.createDataFrame(
        [
            (u, _dt.datetime.fromisoformat(ts), e, et)
            for u, ts, e, et in rows
        ],
        schema,
    )
    b1 = all_ev.filter(F.col("event_id") <= 3)
    b2 = all_ev.filter(F.col("event_id") > 3)
    path = str(tmp_path / "dim_tie")
    apply = scd2_dimension_sink(spark, path)
    apply(b1, 0)
    apply(b2, 1)
    cols = ["user_id", "state", "valid_from", "valid_to", "is_current", "n_events"]
    got = read_snapshot(spark, path)
    # the maintained table equals the one-shot rebuild — including BOTH
    # same-valid_from intervals (4 rows: A[t0,t1) n=2, B[t1,t1) n=1,
    # A[t1,t2) n=1, B[t2,∞) n=1)
    want = _scd2_build(all_ev).select(*cols).toPandas()
    assert len(want) == 4
    assert_same(got.select(*cols).toPandas(), want)
    # and the merge identity is unique per user
    seqs = got.select("user_id", "run_seq").toPandas()
    assert seqs.duplicated().sum() == 0


def test_scd2_dimension_sink_migrates_pre_run_seq_table(spark, tmp_path):
    """ADVICE r14 #3: a dimension table written by the pre-run_seq sink
    has no run ordinal, so the first post-upgrade batch used to die on
    a missing-column AnalysisException with no migration path. The
    sink now detects the legacy schema at seed load, backfills run_seq
    per user from the stored interval order, re-keys, and commits the
    rewrite as a NEW version (old versions stay time-travel readable)
    before merging the batch as usual."""
    import datetime as _dt

    from hive_gateway_spark.operators.advanced import _scd2_build
    from hive_gateway_spark.sources.dataset_export import (
        read_snapshot,
        write_dataset,
    )
    from hive_gateway_spark.streaming.ops import scd2_dimension_sink

    rows = [
        (1, "2024-01-01 00:00:00", 1, "A"),
        (1, "2024-01-02 00:00:00", 2, "B"),
        (1, "2024-01-03 00:00:00", 3, "B"),
        (2, "2024-01-01 12:00:00", 4, "A"),
        # batch 2 (post-upgrade): a flip for user 1, a new user 3
        (1, "2024-01-04 00:00:00", 5, "A"),
        (3, "2024-01-05 00:00:00", 6, "B"),
    ]
    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string"
    all_ev = spark.createDataFrame(
        [(u, _dt.datetime.fromisoformat(ts), e, et) for u, ts, e, et in rows],
        schema,
    )
    b1 = all_ev.filter(F.col("event_id") <= 4)
    b2 = all_ev.filter(F.col("event_id") > 4)
    # a LEGACY table: the batch build WITHOUT run_seq, keyed the
    # pre-r14 way (user_id|valid_from) — exactly what the old sink wrote
    legacy = _scd2_build(b1).withColumn(
        "iv_key",
        F.concat_ws("|", F.col("user_id"), F.unix_micros("valid_from")),
    )
    path = str(tmp_path / "dim_legacy")
    write_dataset(legacy.localCheckpoint(), path)
    assert "run_seq" not in read_snapshot(spark, path).columns
    # the upgraded sink's first batch must migrate, then merge normally
    apply = scd2_dimension_sink(spark, path)
    apply(b2, 0)
    cols = ["user_id", "state", "valid_from", "valid_to", "is_current", "n_events"]
    got = read_snapshot(spark, path)
    want = _scd2_build(all_ev).select(*cols).toPandas()
    assert_same(got.select(*cols).toPandas(), want)
    # run ordinals are unique per user and the open runs carry the max
    seqs = got.select("user_id", "run_seq").toPandas()
    assert seqs.duplicated().sum() == 0
    # the migration committed as a version, not a reset: v1 is the
    # legacy table (still readable, still run_seq-less), v2 the
    # backfilled rewrite, v3 the merged batch
    v1 = read_snapshot(spark, path, version=1)
    assert "run_seq" not in v1.columns and v1.count() == legacy.count()
    v2 = read_snapshot(spark, path, version=2)
    assert "run_seq" in v2.columns and v2.count() == legacy.count()


def test_embed_screen_batch_empty_and_single_arrival(spark, tmp_path):
    """embed_screen_batch is the foreachBatch screen at every arrival
    count, down to the smallest micro-batches: a 0-arrival batch emits
    the typed empty frame, and a 1-arrival batch emits exactly the rows
    (duplicates included) of stream_embed_dedup_screen applied to the
    same static frame."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_gateway_spark.operators import similarity as sim
    from hive_gateway_spark.streaming.ops import (
        embed_screen_batch,
        stream_embed_dedup_screen,
    )

    rng = np.random.default_rng(31)
    dim, n_clusters, n = 16, 8, 600
    centers = rng.normal(0, 1, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    vecs = centers[label] + rng.normal(0, 0.35, (n, dim))

    sfd = str(tmp_path / "sf_small")
    os.makedirs(os.path.join(sfd, "embeddings.parquet"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(
                    list(vecs.astype(np.float32)), pa.list_(pa.float32())
                ),
                "label": pa.array(label.astype(np.int32), pa.int32()),
            }
        ),
        os.path.join(sfd, "embeddings.parquet", "part-00.parquet"),
    )
    for name in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(
            os.path.join("/root/testdata/sf0.001", f"{name}.parquet"),
            os.path.join(sfd, f"{name}.parquet"),
        )
    idx = str(tmp_path / "small_index")
    sim.persist_ivf_index(spark.newSession(), sfd, idx)

    s = spark.newSession()
    score = embed_screen_batch(s, idx, tau=0.95)
    schema = "vec_id bigint, embedding array<float>"
    empty = score(s.createDataFrame([], schema))
    assert empty.schema.simpleString() == (
        "struct<vec_id:bigint,match_id:bigint,cos_sim:double>"
    )
    assert empty.collect() == []

    one = s.createDataFrame(
        [(70_000, [float(x) for x in (vecs[77] * (1 + 1e-3)).astype(np.float32)])],
        schema,
    )
    got = sorted(tuple(r) for r in score(one).collect())
    want = sorted(
        tuple(r) for r in stream_embed_dedup_screen(one, idx, tau=0.95).collect()
    )
    assert got == want
    assert (70_000, 77) in {(v, m) for v, m, _ in got}


def test_stream_token_fertility_equals_batch(spark, sf_dir):
    """The 27th streaming twin: the running per-language fertility
    report drained over the full fixture must equal
    q_tokenizer_fertility exactly (shared regex + ppm expressions)."""
    from hive_gateway_spark.streaming.ops import (
        stream_documents,
        stream_token_fertility,
    )

    got = drain(
        stream_token_fertility(stream_documents(spark, sf_dir)),
        "s_fert",
        mode="complete",
    )
    want = registry.QUERIES["q_tokenizer_fertility"](spark, sf_dir).toPandas()
    assert len(got) > 0
    assert_same(got, want)


def test_stream_window_funnel_equals_batch(spark, sf_dir):
    """Drained level-up CDC rows reduce (max per user) to exactly the
    batch windowFunnel report, and levels only ever step up by 1 in
    emission order per user."""
    from hive_gateway_spark.streaming.ops import stream_events, stream_window_funnel

    got = drain(stream_window_funnel(stream_events(spark, sf_dir)), "s_wfun")
    assert len(got) > 0
    reduced = got.groupby("user_id")["funnel_level"].max()
    want = (
        registry.QUERIES["q_window_funnel"](spark, sf_dir)
        .toPandas()
        .set_index("user_id")["funnel_level"]
    )
    assert reduced.to_dict() == want.to_dict()
    # monotone single-step emission per user
    for _uid, grp in got.sort_values("at").groupby("user_id"):
        lv = grp["funnel_level"].tolist()
        assert lv == sorted(lv) and len(set(lv)) == len(lv)


def test_stream_sequence_count_equals_batch(spark, sf_dir):
    """Each chain completion appends the new running total; max per
    user over the drain equals the batch sequenceCount (users with
    zero chains emit nothing — the batch report carries them as 0)."""
    from hive_gateway_spark.streaming.ops import (
        stream_events,
        stream_sequence_count,
    )

    got = drain(stream_sequence_count(stream_events(spark, sf_dir)), "s_seqc")
    assert len(got) > 0
    reduced = got.groupby("user_id")["n_chains"].max().to_dict()
    want_df = registry.QUERIES["q_sequence_count"](spark, sf_dir).toPandas()
    want = {
        r.user_id: r.n_chains
        for r in want_df.itertuples()
        if r.n_chains > 0
    }
    assert reduced == want
    # totals step by exactly 1 in event-time order per user
    for _uid, grp in got.sort_values("at").groupby("user_id"):
        ns = grp["n_chains"].tolist()
        assert ns == list(range(ns[0], ns[0] + len(ns))) and ns[0] >= 1


def test_stateful_twin_recovers_state_across_restart(spark, tmp_path):
    """Checkpointed restart recovery: a stateful twin
    (stream_sequence_count) processes file 1, the query STOPS, files
    2-3 arrive, and a NEW query restarted from the same checkpoint
    must (a) restore per-user state — a chain whose signup is in file
    1 and purchase in file 2 counts exactly once, (b) not re-emit file
    1's outputs (exactly-once over the memory sink union), and (c)
    agree with the batch operator over the full event set."""
    import datetime as _dt
    import os

    from pyspark.sql import types as T

    from hive_gateway_spark.operators import advanced as A
    from hive_gateway_spark.streaming.ops import stream_sequence_count

    rows = [
        # user 1: chain inside file 1, then a signup whose purchase
        # lands in file 2 (the state-recovery probe), then one more
        # full chain in file 3
        (1, 1, "signup"), (2, 1, "purchase"),      # f1: chain 1
        (3, 1, "signup"),                           # f1: open
        (4, 1, "purchase"),                         # f2: closes chain 2
        (5, 1, "signup"), (6, 1, "purchase"),      # f3: chain 3
        # user 2: purchase-before-signup noise + one chain across f2/f3
        (7, 2, "purchase"), (8, 2, "signup"),      # f1/f2 split below
        (9, 2, "purchase"),                         # f3: closes chain 1
    ]
    files = {0: rows[0:3] + rows[6:7], 1: rows[3:4] + rows[7:8], 2: rows[4:6] + rows[8:9]}
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    d = tmp_path / "src"
    d.mkdir()
    ck = str(tmp_path / "ckpt")

    def write_file(i):
        pdf = pd.DataFrame(
            [
                (eid, u, _dt.datetime(2024, 1, 1, 0, 0, eid), et)
                for eid, u, et in files[i]
            ],
            columns=["event_id", "user_id", "ts", "event_type"],
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(str(d / f"f{i}.parquet"), index=False)
        os.utime(str(d / f"f{i}.parquet"), (1_000_000 + i, 1_000_000 + i))

    out = str(tmp_path / "sink")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        q = (
            stream_sequence_count(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).toPandas()

    write_file(0)
    first = run_once()
    # file 1 alone: user 1's first chain only
    assert first[["user_id", "n_chains"]].values.tolist() == [[1, 1]]
    write_file(1)
    write_file(2)
    both = run_once()  # restart from the SAME checkpoint
    # exactly-once: the file sink holds the FULL emission history with
    # no duplicates after the restart
    assert len(both) == len(both.drop_duplicates())
    reduced = both.groupby("user_id")["n_chains"].max().to_dict()
    # batch truth over the full event set
    all_ev = spark.createDataFrame(
        [
            (eid, u, _dt.datetime(2024, 1, 1, 0, 0, eid), et)
            for i in files
            for eid, u, et in files[i]
        ],
        schema,
    )
    orig = A.load_tables
    A.load_tables = lambda s, dd: {"events": all_ev}
    try:
        want = {
            r["user_id"]: r["n_chains"]
            for r in A.q_sequence_count(spark, "ignored").collect()
        }
    finally:
        A.load_tables = orig
    assert reduced == {u: n for u, n in want.items() if n > 0}
    # the cross-restart chain (signup f1 → purchase f2) was counted
    # exactly once: totals step 1,2,3 for user 1 with no repeats
    u1 = sorted(both[both.user_id == 1]["n_chains"].tolist())
    assert u1 == [1, 2, 3]


def test_replication_twin_converges_across_midstream_restart(spark, tmp_path):
    """apply_diff's streaming replication twin (stream_replicate): the
    replica must equal the source head after (a) a first streaming
    drain, (b) a STOP mid-stream while the source keeps advancing, and
    (c) a restart from the same checkpoint — with the drained-version
    marker and the applied rows always committed atomically together,
    and re-drains content-no-ops (replay safety)."""
    import time as _time

    from hive_gateway_spark.sources import dataset_export as de
    from hive_gateway_spark.streaming.ops import (
        replicate_catchup,
        stream_replicate,
    )

    base = spark.createDataFrame(
        [(i, f"t{i}", float(i)) for i in range(1, 21)],
        "doc_id bigint, text string, score double",
    )
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    de.write_dataset(base, src)
    de.write_dataset(base, dst)  # replica fork at v1
    ck = str(tmp_path / "ckpt")

    def content(path):
        return {
            (r["doc_id"], r["text"], r["score"])
            for r in de.read_snapshot(spark, path).collect()
        }

    def wait_caught_up(timeout=60.0):
        head = int(de._current_manifest(src)["version"])
        t0 = _time.time()
        while _time.time() - t0 < timeout:
            m = de._current_manifest(dst)
            if int(m.get("replicated_src_version", 1)) >= head:
                return m
            _time.sleep(0.3)
        raise AssertionError("replica never caught up")

    # advance the source: insert + update + delete
    de.append_dataset(
        spark.createDataFrame([(21, "new", 21.0)], base.schema), src
    )
    de.merge_dataset(
        spark.createDataFrame([(3, "T3!", 3.5)], base.schema), src, "doc_id"
    )
    de.delete_dataset(spark, src, "doc_id", 5, 6)

    q = stream_replicate(spark, src, dst, "doc_id", ck)
    try:
        m1 = wait_caught_up()
        assert content(dst) == content(src)
    finally:
        q.stop()  # the mid-stream "crash"

    # source keeps advancing while the replicator is down
    de.append_dataset(
        spark.createDataFrame([(22, "late", 22.0)], base.schema), src
    )
    de.delete_dataset(spark, src, "doc_id", 1, 1)

    # restart from the SAME checkpoint: must converge again
    q2 = stream_replicate(spark, src, dst, "doc_id", ck)
    try:
        m2 = wait_caught_up()
        assert content(dst) == content(src)
    finally:
        q2.stop()

    # atomicity: the drained-version marker rode the SAME manifest
    # commits that applied the rows (never a marker-only version)
    assert int(m2["replicated_src_version"]) == int(
        de._current_manifest(src)["version"]
    )
    assert m2["version"] > m1["version"]
    # idle convergence: catch-up with nothing to drain is a no-op
    assert replicate_catchup(spark, src, dst, "doc_id") is None
    # replay safety: a manual re-drain of an already-applied span is a
    # content no-op on the replica (a bare apply_diff also DROPS the
    # drained-version marker — each commit's record stands alone)...
    head = int(de._current_manifest(src)["version"])
    diff = de.snapshot_diff(spark, src, 1, head, "doc_id").localCheckpoint()
    before = de._current_manifest(dst)["content_xxh64_sum"]
    m3 = de.apply_diff(diff, dst, "doc_id")
    assert m3["content_xxh64_sum"] == before
    # ...so the next catch-up re-drains from scratch and must ALSO be
    # a content no-op, restoring the marker atomically
    m4 = replicate_catchup(spark, src, dst, "doc_id")
    assert m4 is not None and m4["content_xxh64_sum"] == before
    assert int(m4["replicated_src_version"]) == head
    assert replicate_catchup(spark, src, dst, "doc_id") is None
