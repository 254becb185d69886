"""Deterministic staging-block release (ADVICE r8 #4): evicting or
superseding a localCheckpoint()'ed staging frame must free its block-
manager blocks NOW, not at ContextCleaner GC time — on a long session
the leaked blocks otherwise accumulate for its lifetime."""

from __future__ import annotations

import pytest

from hive_gateway_spark.staging import SessionCache, evict, release, stage


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


#: A cache owned by this module's tests, so they never disturb the
#: operator caches' entries.
_TEST_CACHE = SessionCache("tests.staging")


def _never():
    raise AssertionError("expected a cache hit")


def _forge_collision(cache, spark, incoming, key=None):
    """Plant a SessionCache entry under ``incoming``'s (semanticHash,
    key) whose plan and checkpoint belong to a different query."""
    wrong = spark.range(10).selectExpr("id AS v")
    wrong.semanticHash = incoming.semanticHash  # forged: collides with incoming
    cache.get_or_build(spark, key, wrong.localCheckpoint, plan=wrong)


def test_release_frees_checkpoint_blocks(spark):
    base = _n_persistent(spark)
    df = spark.range(1000).selectExpr("id", "id * 2 AS y").localCheckpoint()
    df.count()
    assert _n_persistent(spark) == base + 1
    release(df)
    assert _n_persistent(spark) == base


def test_release_tolerates_non_frames(spark):
    release([("a", "b", 1)])  # BPE merge list rides through eviction
    release(None)
    release(spark.range(3))  # not checkpointed: nothing to free


def test_evict_releases_lru_entries_only(spark):
    """LRU eviction (r14, ex clear-all): over cap, the OLDEST entries
    release and drop until the cache fits; a touch()ed entry survives
    because hits move it to the MRU end."""
    from hive_gateway_spark.staging import touch

    base = _n_persistent(spark)
    per = {
        i: spark.range(i, i + 10).localCheckpoint() for i in range(5)
    }
    assert _n_persistent(spark) == base + 5
    touch(per, 0)  # a hit on the oldest entry — must survive
    evict(per, cap=3)  # over cap by 2: entries 1 and 2 (now oldest) go
    assert set(per) == {3, 4, 0}
    assert _n_persistent(spark) == base + 3
    for v in per.values():
        release(v)
    per = {0: spark.range(5).localCheckpoint()}
    evict(per, cap=3)  # under cap: untouched
    assert 0 in per and _n_persistent(spark) == base + 1
    release(per[0])


def test_stage_supersedes_previous_slot_occupant(spark):
    base = _n_persistent(spark)
    a = stage(spark.range(100), "test.slot")
    assert _n_persistent(spark) == base + 1
    b = stage(spark.range(200), "test.slot")  # supersedes a
    assert _n_persistent(spark) == base + 1
    assert b.count() == 200
    release(b)
    # distinct slots coexist
    c = stage(spark.range(10), "test.slot2")
    d = stage(spark.range(20), "test.slot3")
    assert c.count() == 10 and d.count() == 20
    release(c)
    release(d)


def test_repeated_query_calls_do_not_accumulate_blocks(spark, sf_dir):
    """The measured leak: q_sample_temperature re-checkpointed its
    source aggregate on every call. Three calls must not hold three
    copies."""
    from hive_gateway_spark import registry

    registry.load_all()
    q = registry.QUERIES["q_sample_temperature"]
    q(spark, sf_dir).collect()
    after_first = _n_persistent(spark)
    for _ in range(3):
        q(spark, sf_dir).collect()
    assert _n_persistent(spark) == after_first


def test_stage_reuses_plan_identical_checkpoint(spark):
    """r11: a repeat stage() call with a semantically identical plan
    must return the SAME materialized checkpoint (no re-checkpoint, no
    extra persistent RDD) — the warm-path fix that took
    q_rfm_segments from 1.85 s to 0.91 s."""
    base = _n_persistent(spark)
    df = spark.range(500).selectExpr("id", "id * 3 AS y")
    a = stage(df, "test.reuse")
    assert _n_persistent(spark) == base + 1
    b = stage(spark.range(500).selectExpr("id", "id * 3 AS y"), "test.reuse")
    assert b is a  # cache hit: the very same frame
    assert _n_persistent(spark) == base + 1
    release(a)


def test_stage_never_serves_released_checkpoint(spark):
    """ADVICE r11 #3: release() must drop the slot entry, so a later
    plan-identical stage() call re-checkpoints instead of handing back
    a frame whose blocks were freed (a released localCheckpoint cannot
    be recomputed)."""
    base = _n_persistent(spark)
    a = stage(spark.range(70).selectExpr("id * 7 AS k"), "test.released")
    assert a.count() == 70
    release(a)
    assert _n_persistent(spark) == base
    b = stage(spark.range(70).selectExpr("id * 7 AS k"), "test.released")
    assert b is not a
    assert b.count() == 70  # fresh, executable checkpoint
    release(b)


@pytest.mark.parametrize("site", ["stage", "SessionCache", "minhash_site"])
def test_stage_hash_collision_guard(spark, sf_dir, site):
    """A 32-bit semanticHash() collision between genuinely different
    plans must NOT serve the other plan's data: every plan-keyed reuse
    path confirms with sameSemantics against the stored input plan.
    Simulated by forging an entry whose recorded key matches the
    incoming plan's hash but whose plan/checkpoint belong to a
    different query — in a stage() slot, in a bare SessionCache, and
    in a real operator cache (the minhash signature staging)."""
    if site == "stage":
        from hive_gateway_spark.staging import _SLOTS

        wrong = spark.range(10).selectExpr("id AS v")
        incoming = spark.range(99).selectExpr("id * 2 AS v")
        _SLOTS.setdefault(spark, {})["test.collide"] = (
            incoming.semanticHash(),  # forged: collides with incoming
            wrong,
            wrong.localCheckpoint(),
        )
        out = stage(incoming, "test.collide")
        assert out.count() == 99  # the incoming plan's data, not the forgery's
    elif site == "SessionCache":
        incoming = spark.range(99).selectExpr("id * 2 AS v")
        _forge_collision(_TEST_CACHE, spark, incoming, "collide")
        out = _TEST_CACHE.get_or_build(
            spark, "collide", incoming.localCheckpoint, plan=incoming
        )
        assert out.count() == 99
    else:
        from hive_gateway_spark.operators import dedup
        from hive_gateway_spark.session import load_tables

        docs = load_tables(spark, sf_dir)["documents"]
        _forge_collision(dedup._MINHASH_CACHE, spark, docs)
        out = dedup._minhash_sig_frame(spark, sf_dir)
        assert "mh0" in out.columns
        assert out.count() == docs.count()
    release(out)


def test_session_cache_never_serves_released_frame(spark):
    """release() is the single choke point: a SessionCache entry holding
    the released checkpoint (alone or inside a composite value) is
    dropped, so a later identical lookup rebuilds instead of handing
    back a frame whose blocks are gone."""
    plan = spark.range(70).selectExpr("id * 7 AS k")
    a = _TEST_CACHE.get_or_build(spark, "released", plan.localCheckpoint, plan=plan)
    assert _TEST_CACHE.get_or_build(spark, "released", _never, plan=plan) is a
    release(a)
    b = _TEST_CACHE.get_or_build(spark, "released", plan.localCheckpoint, plan=plan)
    assert b is not a
    assert b.count() == 70  # fresh, executable checkpoint
    pair = _TEST_CACHE.get_or_build(spark, "pair", lambda: (b, 1))
    release(b)
    assert _TEST_CACHE.get_or_build(spark, "pair", lambda: "rebuilt") == "rebuilt"
    assert pair[0] is b


def test_session_cache_unhashable_plan_is_built_not_cached(spark):
    """A plan whose semanticHash() raises is built every time and never
    cached (the old id(df) fallback could serve a dead frame's entry to
    a new frame that reused its id)."""
    plan = spark.range(5)

    def boom():
        raise RuntimeError("no semantic hash")

    plan.semanticHash = boom
    built = []

    def build():
        built.append(1)
        return len(built)

    assert _TEST_CACHE.get_or_build(spark, "unhashable", build, plan=plan) == 1
    assert _TEST_CACHE.get_or_build(spark, "unhashable", build, plan=plan) == 2


def test_session_cache_lru_bound_and_scoped_pop(spark):
    """Eviction runs before the build, down to ``cap`` entries, so a
    cache holds at most cap + 1; a hit refreshes an entry's LRU
    position; pop() drops only the named entry."""
    cache = SessionCache("tests.staging.bound", cap=2)
    base = _n_persistent(spark)
    frames = {
        i: cache.get_or_build(spark, i, spark.range(i + 1).localCheckpoint)
        for i in range(3)
    }
    assert _n_persistent(spark) == base + 3
    assert cache.get_or_build(spark, 0, _never) is frames[0]  # 0 is now MRU
    cache.get_or_build(spark, 3, spark.range(9).localCheckpoint)  # evicts 1
    assert _n_persistent(spark) == base + 3
    assert cache.get_or_build(spark, 1, lambda: "rebuilt") == "rebuilt"  # evicts 2
    cache.pop(spark, 0)
    assert _n_persistent(spark) == base + 1  # only key 3's frame is left
    assert cache.get_or_build(spark, 3, _never).count() == 9
    cache.pop(spark, 3)
    assert _n_persistent(spark) == base


def test_operator_caches_use_session_cache():
    """Every staging cache under operators/ is a staging.SessionCache —
    a hand-rolled WeakKeyDictionary cache must not grow back."""
    import pathlib

    import hive_gateway_spark.operators as ops

    offenders = [
        p.name
        for p in pathlib.Path(ops.__file__).parent.rglob("*.py")
        if "WeakKeyDictionary" in p.read_text()
    ]
    assert offenders == []


def test_direct_release_clears_plan_memos(spark):
    """ADVICE r11 #5: memo invalidation lives in release() itself (the
    single choke point for freeing checkpoint blocks) — a memoized plan
    over a checkpoint freed by a DIRECT release() call, with no slot
    supersede involved, must drop instead of failing on next execution."""
    from hive_gateway_spark.staging import _FRAMES, memo_frame

    ck = spark.range(40).localCheckpoint()
    m = memo_frame(spark, ("q_direct", "sf"), lambda: ck.selectExpr("id AS w"))
    assert m.count() == 40
    release(ck)
    assert ("q_direct", "sf") not in _FRAMES.get(spark, {})


def test_stage_supersede_clears_plan_memos(spark):
    """A memoized final plan may reference a staged checkpoint; when a
    DIFFERENT plan supersedes that slot (the old blocks are released,
    and a released localCheckpoint cannot be recomputed), every memo
    for the session must drop so no caller executes a dead plan."""
    from hive_gateway_spark.staging import _FRAMES, memo_frame

    a = stage(spark.range(50), "test.memo_slot")
    built = []

    def build():
        built.append(1)
        return a.selectExpr("id * 2 AS z")

    m1 = memo_frame(spark, ("q_test", "sf"), build)
    m2 = memo_frame(spark, ("q_test", "sf"), build)
    assert m1 is m2 and len(built) == 1  # memo hit
    assert m1.count() == 50
    b = stage(spark.range(60), "test.memo_slot")  # supersede → memos drop
    assert ("q_test", "sf") not in _FRAMES.get(spark, {})
    m3 = memo_frame(spark, ("q_test", "sf"), lambda: b.selectExpr("id AS z"))
    assert m3.count() == 60
    release(b)
