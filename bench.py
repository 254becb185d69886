#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full record as one JSON line, then a compact contract line LAST.

Sweep order (``sweep_order``): the 22 ``HEADLINE`` queries first, in
their order, then every other ``registry.QUERIES`` name in registration
order. ``value`` is the sum over ``HEADLINE`` (the r01-comparable
headline); ``value_all`` is the sum over every query.

Timing = full plan execution materialized via the NOOP SINK (see
REDUCTION below — count() let the optimizer prune pure projections
out of their own benchmark) — we charge the whole pipeline including
every output column, not just planning.

Hygiene (VERDICT r01 "Next round" #8): per query we record one COLD run
(codegen compile + file-index setup) and the MEDIAN of 3 warm runs;
``value``/``queries`` carry the warm medians (the steady-state number
that scales and is comparable round-over-round under co-tenant noise),
``queries_cold`` carries the cold runs.

Each passing run writes its complete record as ONE JSON document to
``BENCH_LOCAL_[c<N>_][sf<sf>_]r<NN>.json`` (``_write_local``); the next
run's regression gate reads those files back with ``json.load``
(``_bench_history``), and a file that does not parse is an error.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from hive_gateway_spark import registry
from hive_gateway_spark.session import get_spark

#: Headline set: one per operator family, weighted toward shuffle-heavy
#: shapes (the ones that matter at 100 TB).
HEADLINE = [
    "q_gateway_pipeline",
    "q_agg_group",
    "q_join_multiway",
    "q_join_range",
    "q_join_asof",
    "q_window_rate_limit",
    "q_sessionize",
    "q_agg_cube",
    "q_dedup_exact",
    "q_dedup_ngram",
    "q_text_tokenize",
    "q_text_quality",
    "q_sim_cosine_pairs",
    "q_sim_topk",
    "q_embed_agg",
    "q_multimodal_meta",
    "q_msgpack_roundtrip",
    "q_subquery_correlated",
    "q_gateway_e2e",
    "q_training_pipeline",
    "q_dedup_clusters",
    "q_tpch_q3",
]


def sweep_order() -> list[str]:
    """Every registered query exactly once: ``HEADLINE`` first, in its
    order, then the rest of ``registry.QUERIES`` in registration order."""
    registry.load_all()
    return HEADLINE + [n for n in registry.QUERIES if n not in HEADLINE]


#: Regression gate (VERDICT r6 task #6): warm ratio vs the previous
#: round's recorded bench above which the run FAILS (rc != 0), so a perf
#: regression can't hide behind a green correctness gate. The absolute
#: floor keeps sub-100 ms queries from flapping on scheduler noise.
REGRESSION_RATIO = 1.5
REGRESSION_FLOOR_SEC = 0.2

#: Cold-run gate (VERDICT r9 task #3 / "What's wrong" #2): session
#: staging makes WARM numbers reflect cache hits, so a staging-BUILD
#: blow-up could hide behind a healthy warm ratio. Colds are gated
#: with a looser ratio/floor (codegen compile + file-index setup make
#: them noisier) under the same median normalization.
COLD_REGRESSION_RATIO = 2.0
COLD_REGRESSION_FLOOR_SEC = 0.5

#: Sentinel renormalization for the remeasure pass (VERDICT r15 task
#: #1): BENCH_r15 confirmed a flag on UNTOUCHED code (q_rolling_wau)
#: because the remeasure — though itself a median of 3 — ran inside the
#: same co-tenant-noisy window as the sweep, so "reproduces" could mean
#: "machine still slow" rather than "code slow". Each remeasure pass now
#: concurrently re-measures SENTINEL_COUNT un-flagged queries whose
#: first-pass ratio sat closest to the round median (i.e. the most
#: machine-representative ones); the flagged query's fresh sample is
#: divided by the sentinels' fresh drift before the threshold applies.
#: A confirmed flag therefore means THIS query is slow while the machine
#: demonstrably is not — code, not co-tenant. Sentinels need a previous
#: time above the floor so scheduler noise can't dominate the drift
#: estimate.
SENTINEL_COUNT = 2
SENTINEL_MIN_PREV_SEC = 0.2

#: Intentional-change ledger: queries whose implementation changed
#: THIS round in a way that changes their cost model on purpose — the
#: warm/cold gates skip the prev-compare for exactly these names (the
#: fresh number re-seeds the per-sf ratchet at close, so the gate
#: re-arms next round automatically). An entry must say what changed
#: and why the new cost is the intended one; stale entries are pruned
#: at the next round open. This is the honest alternative to letting
#: a KNOWN change trip the reproduce-before-fail protocol (which
#: exists to catch UNINTENDED slowdowns).
REBASELINED: dict[str, str] = {}

#: Global-slowdown tripwire (ADVICE r7 #5): median-normalizing the
#: per-query gate makes it blind to a change that slows EVERY query
#: uniformly (e.g. a session-config regression inflates the median and
#: each query looks "normal" against it). When the round's median ratio
#: itself exceeds this, the gate downgrades to "warn_global_slowdown"
#: so whole-distribution shifts stay visible in the recorded JSON —
#: warn rather than hard-fail because co-tenant frequency scaling has
#: been OBSERVED shifting the whole distribution +15..65% with no code
#: change (see median-normalization note below), and a flaky rc=1
#: would teach operators to ignore the gate entirely.
GLOBAL_SLOWDOWN_RATIO = 1.4


def _round_of(path: str) -> int:
    m = re.search(r"_r(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


#: Core count of the full machine the driver records on: the count a
#: record without a ``cpus`` field was measured at, and the one count
#: whose BENCH_LOCAL stem carries no ``c<N>_`` tag.
FULL_MACHINE_CPUS = 32


def _run_cpus() -> int:
    """The core count this run executes under (the driver contract's
    $SPARK_GRAFT_CPUS, falling back to the host)."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or (os.cpu_count() or 0))
    except ValueError:  # pragma: no cover - malformed env
        return os.cpu_count() or 0


def _bench_history(
    sf: float, limit: int = 2, any_cpus: bool = False
) -> list[tuple[str, dict]]:
    """Up to ``limit`` newest comparable BENCH_LOCAL records, newest
    round first, as ``(file name, record)``. The first is the
    regression baseline; the second backs the BASELINE-ANOMALY check:
    a confirmed warm flag must be a regression against the last TWO
    independent records, because one anomalously FAST sample becoming
    the baseline makes every honest later measurement look regressed
    (observed r16: q_brand_affinity recorded 0.381 in one run — r15:
    0.727, the runs around it: 0.88/0.65 — and the next run's honest
    0.65 'reproduced' a phantom 1.7× flag with the machine flat).

    Comparable means same sf (an sf-less record matches any), same
    core count (unless ``any_cpus``) and the current REDUCTION. Each
    file is one JSON document; one that does not parse raises
    ``ValueError`` naming it, because skipping it would silently
    disable the ratchet."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    paths = sorted(
        glob.glob(os.path.join(here, "BENCH_LOCAL_*.json")),
        key=lambda p: (_round_of(p), p),
        reverse=True,
    )
    cpus = _run_cpus()
    out: list[tuple[str, dict]] = []
    for path in paths:
        with open(path) as f:
            try:
                doc = json.load(f)
            except json.JSONDecodeError as e:
                raise ValueError(f"{path}: not one JSON document: {e}") from e
        if doc.get("sf") not in (None, sf):
            continue  # foreign-sf record: this sf's ratchet lives elsewhere
        # foreign-core-count record (VERDICT r16 "what's wrong" #6: the
        # c8 diagnostic run compared against c32 baselines and flagged
        # shuffle-heavy queries that legitimately slow at 8 cores).
        # Each core count keeps its own ratchet. A legacy record
        # without the key was recorded on the full machine, so it
        # matches only full-machine runs.
        if not any_cpus and (doc.get("cpus") or FULL_MACHINE_CPUS) != cpus:
            continue
        if doc.get("reduction", "count") != REDUCTION:
            # measured under a different materialization protocol —
            # ratios against it are meaningless (count() undercharged
            # pure-projection queries); the ratchet re-seeds from the
            # first record under the current protocol
            continue
        out.append((os.path.basename(path), doc))
        if len(out) >= limit:
            break
    return out


def _write_local(record: dict) -> None:
    """Persist the complete per-query record as BENCH_LOCAL_r{N}.json
    (the default sf0.1 ratchet) or BENCH_LOCAL_sf{sf}_r{N}.json for any
    other scale factor — per-sf files keep one sf's run from clobbering
    another's baseline within a round (ADVICE r11 #4). N = the round in
    flight (one past the newest driver BENCH_r*). Never raises: a
    read-only checkout must not fail the bench itself."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [_round_of(p) for p in glob.glob(os.path.join(here, "BENCH_r*.json"))]
    n = (max(rounds) if rounds else 0) + 1
    sf = record.get("sf")
    # Every core count but the full machine's gets its own stem
    # (VERDICT r16 #6): the driver's c8 scaling run used to OVERWRITE
    # the same-round c32 record, clobbering the main ratchet's baseline.
    cpus = record.get("cpus")
    c_tag = f"c{cpus}_" if cpus not in (None, FULL_MACHINE_CPUS) else ""
    stem = (
        f"BENCH_LOCAL_{c_tag}r{n:02d}.json"
        if sf in (None, 0.1)
        else f"BENCH_LOCAL_{c_tag}sf{sf}_r{n:02d}.json"
    )
    try:
        with open(os.path.join(here, stem), "w") as f:
            json.dump(record, f)
    except OSError:  # pragma: no cover
        pass


def warm_gate(
    timings: dict[str, float],
    prev_queries: dict[str, float],
    remeasure,
) -> tuple[dict, dict, float]:
    """The warm regression gate with reproduce-before-fail.

    Returns ``(confirmed, first_pass, median_ratio)``. Per-query ratios
    are NORMALIZED by the round's median ratio over all shared queries
    (floored at 1.0 so a globally faster round can't mask a regression).
    A first-pass flag is a hypothesis, not a verdict (VERDICT r10
    "wrong" #1: BENCH_r10 landed rc=1 on four queries whose code had
    not changed — single-sample co-tenant noise): each flagged query is
    serially RE-MEASURED via ``remeasure(name)`` and confirmed only if
    the fresh sample — NORMALIZED by the fresh drift of concurrently
    re-measured sentinel queries (VERDICT r15 task #1: a remeasure
    taken while the machine is still co-tenant-slow must not confirm
    untouched code) — also exceeds the threshold. Retracted flags write
    their drift-adjusted steady-state value back into ``timings`` (the
    smaller of the estimates), so the printed totals and the next
    baseline carry the reproducible number."""
    median_ratio = 1.0
    shared = {
        name: now / prev_queries[name]
        for name, now in timings.items()
        if prev_queries.get(name)
    }
    if shared:
        rs = sorted(shared.values())
        median_ratio = max(1.0, rs[len(rs) // 2])

    def _flagged(now: float, before: float) -> bool:
        return (
            now > before * REGRESSION_RATIO * median_ratio
            and now - before > REGRESSION_FLOOR_SEC
        )

    first_pass: dict[str, dict] = {}
    for name, now in timings.items():
        before = prev_queries.get(name)
        if before and _flagged(now, before):
            first_pass[name] = {
                "prev": before,
                "now": now,
                "ratio": round(now / before, 2),
                "median_ratio": round(median_ratio, 2),
            }
    confirmed: dict[str, dict] = {}
    if not first_pass:
        return confirmed, first_pass, median_ratio

    # Sentinels: the un-flagged shared queries most representative of
    # the machine right now (ratio nearest the round median, previous
    # time above the floor). Their FRESH drift, measured in the same
    # window as the flagged queries' remeasure, distinguishes "machine
    # still slow" from "this code is slow".
    sentinels = sorted(
        (
            name
            for name, r in shared.items()
            if name not in first_pass
            and prev_queries[name] >= SENTINEL_MIN_PREV_SEC
        ),
        key=lambda n: (abs(shared[n] - median_ratio), n),
    )[:SENTINEL_COUNT]
    sentinel_fresh = {s: round(remeasure(s), 3) for s in sentinels}
    drifts = sorted(sentinel_fresh[s] / prev_queries[s] for s in sentinels)
    # floored at 1.0: a machine that is FAST at remeasure time must not
    # amplify the flagged query's fresh sample
    local_drift = max(1.0, drifts[len(drifts) // 2]) if drifts else 1.0

    def _confirms(fresh: float, before: float) -> bool:
        adjusted = fresh / local_drift
        return (
            adjusted > before * REGRESSION_RATIO
            and adjusted - before > REGRESSION_FLOOR_SEC
        )

    for name, flag in first_pass.items():
        remeasured = round(remeasure(name), 3)
        flag["remeasured"] = remeasured
        flag["remeasure_drift"] = round(local_drift, 3)
        flag["sentinels"] = {
            s: {"prev": prev_queries[s], "fresh": sentinel_fresh[s]}
            for s in sentinels
        }
        if _confirms(remeasured, flag["prev"]):
            # Confirm-twice (r16): a point co-tenant burst narrower
            # than the sentinel window can inflate ONE remeasure while
            # the sentinels read flat (observed r16: q_agg_stats swept
            # at 1.7 s, remeasured 5.95 s under sentinel drift 1.23,
            # then ran 0.6-1.0 s standalone minutes later — untouched
            # code "confirmed" by a burst). A genuine code regression
            # is deterministic and reproduces in BOTH serial samples;
            # a burst long enough to survive two separated median-of-3
            # remeasures AND leave the sentinels flat is
            # indistinguishable from code by any local protocol.
            # r17 (ADVICE r16 #3): the second remeasure runs minutes
            # after the sentinel window — re-sample one sentinel so the
            # second sample is normalized by FRESH drift, not a stale
            # estimate that could seed an optimistically low baseline
            # through the min() write-back (phantom flags next round).
            drift2 = local_drift
            if sentinels:
                s0 = sentinels[0]
                fresh2 = round(remeasure(s0), 3)
                drift2 = max(1.0, fresh2 / prev_queries[s0])
                flag["sentinel2"] = {
                    "name": s0,
                    "prev": prev_queries[s0],
                    "fresh": fresh2,
                }
            second = round(remeasure(name), 3)
            flag["remeasured2"] = second
            flag["remeasure_drift2"] = round(drift2, 3)
            adjusted2 = second / drift2
            if (
                adjusted2 > flag["prev"] * REGRESSION_RATIO
                and adjusted2 - flag["prev"] > REGRESSION_FLOOR_SEC
            ):
                confirmed[name] = flag
            else:
                timings[name] = min(
                    timings[name],
                    max(flag["prev"], round(second / drift2, 3)),
                )
        else:
            # The drift-adjusted steady-state estimate supersedes the
            # noisy sweep sample — CLAMPED at prev (r17): a retracted
            # flag's hypothesis was "slower than prev" and its
            # retraction only established "not slower"; "faster than
            # prev" was never measured by this protocol, so writing a
            # sub-prev value manufactures a baseline no honest run can
            # match. Observed in the r16 driver record: one sentinel
            # window read drift 3.408 and 15 retracted queries were
            # written back at remeasured/3.408 — phantom baselines of
            # 0.11-0.37 s against honest steady states of 0.4-1.2 s,
            # which made the NEXT round's first bench rc=1 on untouched
            # code (q_curation_v5_trace, q_agg_stats).
            timings[name] = min(
                timings[name],
                max(flag["prev"], round(remeasured / local_drift, 3)),
            )
    return confirmed, first_pass, median_ratio


#: Measurement-protocol marker. "noop-sink" (r14): queries materialize
#: through `df.write.format("noop")`, which consumes EVERY output
#: column — the count() reduction this replaces let Catalyst prune
#: pure projections under the count, so map-shaped queries were
#: undercharged (q_quality_classifier's per-word scoring fold was
#: being optimized OUT of its own benchmark: 0.37 s recorded at sf1
#: where the real fold costs ~5 s — discovered when predicate pushdown
#: moved the same fold somewhere it couldn't be pruned). Baselines
#: recorded under a DIFFERENT protocol are not comparable and are
#: skipped by _bench_history, so the ratchet re-seeds once.
REDUCTION = "noop-sink"


def _timed(fn, spark, sf_dir: str) -> float:
    """One full construction+execution measurement of a registry query.

    Iterative operators (label propagation) do real work while building
    the plan, so construction is charged too; the noop sink
    materializes the whole pipeline — every column, no projection
    pruning, no rows serialized to the driver."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def retract_baseline_anomalies(
    regressions: dict[str, dict],
    timings: dict[str, float],
    history: list[tuple[str, dict]],
) -> None:
    """Baseline-anomaly retraction: a confirmed flag whose
    drift-adjusted fresh sample is NOT a regression against the
    SECOND-newest record means the newest baseline sample was
    anomalously FAST, not that this code got slow — a regression is
    "worse than historical steady state", never "worse than the
    single best sample ever recorded" (observed r16: one run logged
    q_brand_affinity at 0.381 between records of 0.727/0.88/0.65;
    the next honest 0.65 then 'reproduced' a phantom 1.7× flag with
    the machine flat by every sentinel). The now-passing run re-seeds
    the baseline with the honest number, aging the anomaly out; a
    genuine regression fails against BOTH records and stays
    confirmed. Mutates ``regressions``/``timings`` in place; the flag
    record keeps a ``baseline_anomaly`` marker for the audit trail."""
    if not regressions or len(history) < 2:
        return
    prev2 = history[1][1]["queries"]
    for name in list(regressions):
        before2 = prev2.get(name)
        if not before2:
            continue
        flag = regressions[name]
        # steadier of the two confirm-twice samples, each under ITS OWN
        # drift window (r17): a burst that contaminated ONE remeasure
        # must not anchor the anomaly check
        fresh = min(
            flag["remeasured"] / flag.get("remeasure_drift", 1.0),
            flag.get("remeasured2", flag["remeasured"])
            / flag.get(
                "remeasure_drift2", flag.get("remeasure_drift", 1.0)
            ),
        )
        if not (
            fresh > before2 * REGRESSION_RATIO
            and fresh - before2 > REGRESSION_FLOOR_SEC
        ):
            flag["baseline_anomaly"] = {
                "record": history[1][0],
                "prev2": before2,
            }
            timings[name] = min(timings[name], round(fresh, 3))
            del regressions[name]


def _maintenance_bench(spark, sf_dir: str) -> dict[str, float]:
    """Timed lakehouse MAINTENANCE verbs (VERDICT r15 task #4: apply_diff
    and build_bloom_index had no timed record). These are write-path
    verbs — they mutate tables, so they can't live in queries() — and
    they are scheduled jobs in production, so one cold shot IS the
    serve posture (no warm median). The scenario is the CDC replication
    loop on the documents table: seed source+replica, advance the
    source (append 10% + delete a key range), snapshot_diff → apply
    onto the replica, then build the distributed Bloom index on the
    head. Never raises: a failed verb records -1.0 and the bench goes
    on (maintenance timings are a record, not a gate)."""
    import shutil
    import tempfile

    from hive_gateway_spark.sources import dataset_export as de

    out: dict[str, float] = {}
    base = tempfile.mkdtemp(prefix="bench_maint_")

    def timed(verb: str, fn) -> None:
        t0 = time.perf_counter()
        try:
            fn()
            out[verb] = round(time.perf_counter() - t0, 3)
        except Exception:
            out[verb] = -1.0

    try:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n = docs.count()
        src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
        timed("write_dataset", lambda: de.write_dataset(docs, src))
        de.write_dataset(docs, dst)  # replica fork at v1 (not timed twice)
        slice_df = docs.filter(F.col("doc_id") % 10 == 3).withColumn(
            "doc_id", F.col("doc_id") + n
        )
        timed("append_dataset", lambda: de.append_dataset(slice_df, src))
        timed(
            "delete_dataset",
            lambda: de.delete_dataset(spark, src, "doc_id", 0, max(1, n // 20)),
        )
        head_v = de._current_manifest(src)["version"]
        diff = de.snapshot_diff(spark, src, 1, head_v, "doc_id").localCheckpoint()
        timed("apply_diff", lambda: de.apply_diff(diff, dst, "doc_id"))
        timed(
            "build_bloom_index",
            lambda: de.build_bloom_index(spark, src, "doc_id"),
        )
        timed(
            "expire_snapshots",
            lambda: de.expire_snapshots(src, keep_last=1, orphan_grace_s=0),
        )
    except Exception:  # pragma: no cover - scenario setup failed
        out.setdefault("setup", -1.0)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    names = sweep_order()
    spark = get_spark("hive-gateway-spark-bench")

    # Serve-posture ANN setup (VERDICT r12 task #3): publish the IVF
    # index ONCE outside the timed region and point the session at it,
    # so every IVF consumer's cold number measures SERVING (load the
    # lakehouse artifact + probe) instead of silently re-paying the
    # O(N·cells·dim) training — at 100 TB the build is a scheduled
    # cluster job, never part of query latency. Warm numbers are
    # unchanged (session cache hits either way).
    import tempfile

    from hive_gateway_spark.operators.similarity import _IVF_CACHE, persist_ivf_index
    from hive_gateway_spark.session import load_tables

    ann_idx = os.path.join(tempfile.mkdtemp(prefix="bench_ann_"), "index")
    persist_ivf_index(spark, sf_dir, ann_idx)
    spark.conf.set("hive_gateway.ann.index_path", ann_idx)
    # the publish leaves the trained index in the session cache — drop
    # it so the first IVF consumer pays the real serve path (load the
    # partitioned artifact), not a RAM hit the driver would never see
    _IVF_CACHE.pop(spark, None, plan=load_tables(spark, sf_dir)["embeddings"])

    import gc

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        fn = registry.QUERIES[name]
        # drop the previous query's dead broadcasts/UDF workers before
        # timing this one — without it, late queries in a 30-query
        # session measure the earlier queries' GC debt (observed 2.7 s
        # standalone vs 9.3 s late-session for the same plan)
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # pragma: no cover
            pass

        # cold: whole-stage codegen compilation + file-index setup
        cold[name] = round(_timed(fn, spark, sf_dir), 3)
        # warm steady state: median of 3 rides out co-tenant noise
        timings[name] = round(
            statistics.median(_timed(fn, spark, sf_dir) for _ in range(3)), 3
        )

    # Maintenance verbs: timed once, recorded, never gated (they run
    # on temp copies; co-tenant noise in a single shot is expected).
    maintenance = _maintenance_bench(spark, sf_dir)

    # Per-query regression gate vs the previous round's recorded bench.
    # The per-query ratio is NORMALIZED by the round's median ratio over
    # all shared queries: a co-tenant / frequency-scaling slowdown shifts
    # the WHOLE distribution (observed: every Python-worker-heavy query
    # drifting +15..65% together across a session, JVM queries +3%,
    # while no code changed), whereas a true regression is an outlier
    # against the round's own baseline shift. The median divisor is
    # floored at 1.0 so a globally FASTER round can never mask a real
    # per-query regression.
    history = _bench_history(sf)  # per-sf, per-core-count ratchet
    prev = history[0] if history else None
    # foreign-cpus marker (VERDICT r16 #6): records exist at this sf
    # but under a different core count — the gate is skipped, not
    # failed, and the record says so.
    baseline_foreign_cpus = bool(
        prev is None and _bench_history(sf, limit=1, any_cpus=True)
    )
    regressions: dict[str, dict] = {}
    record_first_pass: dict[str, dict] = {}
    cold_regressions: dict[str, dict] = {}
    median_ratio = 1.0
    cold_median_ratio = 1.0
    if prev is not None:
        prev_name, prev_doc = prev

        def _remeasure(name: str) -> float:
            # serial, after the full sweep's contention has drained;
            # same GC hygiene as the main loop
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # pragma: no cover
                pass
            fn = registry.QUERIES[name]
            return statistics.median(_timed(fn, spark, sf_dir) for _ in range(3))

        prev_warm = {
            k: v
            for k, v in prev_doc["queries"].items()
            if k not in REBASELINED  # intentional change: re-seed, don't flag
        }
        regressions, record_first_pass, median_ratio = warm_gate(
            timings, prev_warm, _remeasure
        )
        retract_baseline_anomalies(regressions, timings, history)
        prev_cold = {
            k: v
            for k, v in (prev_doc.get("queries_cold") or {}).items()
            if k not in REBASELINED
        }
        shared_cold = {
            name: now / prev_cold[name]
            for name, now in cold.items()
            if prev_cold.get(name)
        }
        if shared_cold:
            rs = sorted(shared_cold.values())
            cold_median_ratio = max(1.0, rs[len(rs) // 2])
        for name, now in cold.items():
            before = prev_cold.get(name)
            if (
                before
                and now > before * COLD_REGRESSION_RATIO * cold_median_ratio
                and now - before > COLD_REGRESSION_FLOOR_SEC
            ):
                cold_regressions[name] = {
                    "prev": before,
                    "now": now,
                    "ratio": round(now / before, 2),
                    "median_ratio": round(cold_median_ratio, 2),
                }
    # "value" stays the sum over the SAME 22 queries r01 benched, so the
    # round-over-round headline compares like-for-like; "value_all" sums
    # every query. Summed AFTER the gate so a retracted flag's
    # re-measured steady-state number is what the totals carry.
    record = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(timings[n] for n in HEADLINE), 3),
        "unit": "sec",
        "value_all": round(sum(timings.values()), 3),
        "queries": timings,
        "queries_cold": cold,
        "maintenance": maintenance,
        "sf": sf,
        "cpus": _run_cpus(),
        "reduction": REDUCTION,
        "regression_baseline": prev[0] if prev else None,
        "baseline_foreign_cpus": baseline_foreign_cpus,
        "rebaselined": sorted(REBASELINED),
        "regression_median_ratio": round(median_ratio, 3),
        "regressions": regressions,
        "regressions_first_pass": record_first_pass,
        "cold_median_ratio": round(cold_median_ratio, 3),
        "cold_regressions": cold_regressions,
        "regression_gate": (
            "fail"
            if regressions
            # cold is a WARNING, not a failure: cold times are
            # single samples (warm is a median of 3), and one
            # co-tenant CPU spike during a query's only cold
            # measurement was observed inflating it 5.5× with
            # the round median at 1.06 — a hard exit would
            # teach operators to ignore the gate. The flag
            # stays in the record for the next round to act on.
            else (
                "warn_cold"
                if cold_regressions
                else (
                    "warn_global_slowdown"
                    if median_ratio > GLOBAL_SLOWDOWN_RATIO
                    else "pass"
                )
            )
        ),
    }
    # A FAILING run must not become the next baseline: persisting its
    # timings would let one re-run launder any warm regression into the
    # ratchet (the regressed value compares against itself → ratio 1.0
    # → pass). warn_cold runs persist — they are advisory — but the
    # FLAGGED queries' previous cold values are carried into the
    # written baseline, so the warning re-fires on every run until the
    # cold cost is actually fixed (or the old value naturally ages out
    # of a later passing run) instead of self-erasing after one rerun.
    if not regressions:
        baseline = record
        if cold_regressions and prev is not None:
            carried = dict(record["queries_cold"])
            for name in cold_regressions:
                old = (prev[1].get("queries_cold") or {}).get(name)
                if old:
                    carried[name] = old
            # the BASELINE carries the old colds; the printed record
            # below keeps this run's true measurements
            baseline = {**record, "queries_cold": carried}
        _write_local(baseline)
    print(json.dumps(record))
    # The driver records only the LAST ~2000 chars of stdout and
    # json-parses the final line (BENCH_r12/r13 landed "parsed": null
    # because the full record above is ~15 KB and was truncated
    # mid-line — VERDICT r13 "What's wrong" #1). Emit a compact
    # contract line LAST: headline-block per-query warm medians only
    # (~600 chars), with the complete record in BENCH_LOCAL_r{N}.json.
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": "sec",
        "queries": {q: timings[q] for q in HEADLINE if q in timings},
        "sf": sf,
        "value_all": record["value_all"],
        "n_queries": len(timings),
        "maintenance": maintenance,
        "regression_median_ratio": record["regression_median_ratio"],
        "cold_median_ratio": record["cold_median_ratio"],
        "regression_gate": record["regression_gate"],
        "full_record": "BENCH_LOCAL (see repo)",
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # stay inside the driver's tail window
        compact["queries"] = {}
        line = json.dumps(compact)
    print(line)
    spark.stop()
    if regressions:
        sys.exit(1)


if __name__ == "__main__":
    main()
