"""Session-scoped staging: one cache type, one release path.

Staging artifacts (shingle sets, minhash signatures, BPE vocab,
curation traces, IVF/PQ indexes, …) are ``localCheckpoint()``'ed
DataFrames — or small driver-side values — that repeated consumers
reuse instead of rebuilding. Every such cache is a ``SessionCache``:

- **Key.** Entries live per SparkSession (weakly held: they die with
  their session). A lookup passes a ``key`` and, for plan-derived
  artifacts, the input ``plan``; the entry is then keyed on
  ``(plan.semanticHash(), key)``. Exact keys (an ``sf_dir``) pass no
  plan. A plan whose ``semanticHash()`` raises is built and never
  cached.
- **Confirm.** ``semanticHash()`` is 32 bits, so a plan-keyed hit is
  served only if ``plan.sameSemantics(stored_plan)`` — a collision
  between different plans is a miss, never another plan's data.
- **LRU bound.** Hits move an entry to the most-recently-used end
  (``touch``); a miss first evicts least-recently-used entries down
  to ``cap`` (``evict``), releasing their blocks before the build, so
  a cache holds at most ``cap + 1`` entries per session.
- **Release.** Dropping a Python reference leaves a checkpoint's blocks
  in the JVM block manager until the ContextCleaner happens to GC the
  RDD (ADVICE r8 #4); ``release()`` unpersists them NOW. It is the
  single choke point: it also drops every plan memo (``memo_frame``),
  ``stage()`` slot and ``SessionCache`` entry that holds the freed
  frame, so a released checkpoint is never served again.

``stage()`` is the call-site variant: one occupant per named slot,
superseded (and released) when a different plan arrives.
``memo_frame()`` memoizes pure plan assembly. All helpers are
best-effort no-ops off the classic py4j session (Connect has no
``_jdf``) — there the ContextCleaner path still applies.
"""

from __future__ import annotations

import weakref as _weakref

from pyspark.sql import DataFrame

#: Default size cap shared by every session-scoped staging cache.
CACHE_CAP = 8

#: session → {slot name: checkpointed frame} for call-site staging
#: (frames rebuilt per call whose previous incarnation must be freed).
_SLOTS: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def release(obj) -> None:
    """Free the block-manager blocks behind a localCheckpoint()'ed
    DataFrame NOW instead of at ContextCleaner GC time. Tuples/lists
    are walked so composite cache entries (e.g. the IVF index's
    (centers, inverted_file) pair) free their checkpointed members —
    a bare tuple would otherwise no-op and defeat the deterministic
    release (code-review r9 #5); dicts walk their values for the same
    reason (the v4 state cache holds {'decisions': df, 'manifest': df}).
    Safe on anything else: non-DataFrames, non-checkpointed frames, and
    Connect sessions fall through silently.

    release() is the single choke point for freeing checkpoint blocks
    (ADVICE r11 #3/#5), so the session invalidation lives HERE, not in
    stage()'s supersede branch: before unpersisting, every _FRAMES memo
    for the session is dropped (a memoized final plan may reference the
    freed checkpoint — truncated lineage cannot recompute), and any
    _SLOTS entry or SessionCache entry handing out THIS frame is
    removed (a released checkpoint must never be served to a later
    plan-identical lookup). Memos, slots and cache entries rebuild on
    the next call, so the conservative clear is semantics-free."""
    if isinstance(obj, dict):
        for item in obj.values():
            release(item)
        return
    if isinstance(obj, (tuple, list)):
        for item in obj:
            release(item)
        return
    try:
        plan = obj._jdf.queryExecution().analyzed()
        if plan.nodeName() != "LogicalRDD":
            return
    except Exception:
        return  # non-classic session / not a checkpoint: nothing to free
    try:
        spark = obj.sparkSession
        frames = _FRAMES.get(spark)
        if frames:
            frames.clear()
        slots = _SLOTS.get(spark)
        if slots:
            for name in [n for n, e in slots.items() if e[-1] is obj]:
                del slots[name]
        for cache in _CACHES:
            cache._drop_holders(spark, obj)
    except Exception:
        pass
    try:
        plan.rdd().unpersist(False)
    except Exception:
        pass


def evict(per: dict, cap: int = CACHE_CAP) -> None:
    """Size-capped LRU eviction for a session staging cache: while the
    cache exceeds ``cap``, pop the LEAST-RECENTLY-USED entry (python
    dicts are insertion-ordered; hit paths call touch() to move an
    entry to the MRU end) and release its frame's blocks before
    dropping it (the leak ADVICE r8 #4 measured was clear() without
    release). Values that aren't checkpointed frames (e.g. the BPE
    merge list) pass through release() harmlessly.

    LRU, not clear-all (r14): the first policy dropped EVERY entry on
    overflow, including the hottest — measured in SF1_BENCH_r13 as
    q_split_leakage paying a full 5.2 s pair-staging rebuild at sf0.1
    (22 s at sf1, the record's worst non-codec ratio) because the
    shared _PAIRS_CACHE overflowed between the dedup block and the
    r13 block and took the jaccard pair frame with it, while sibling
    consumers a few queries earlier read the same frame in 0.6 s.

    Contract (same as stage()): a caller that still holds a LAZY plan
    over an evicted checkpoint must not execute it after eviction —
    collect before triggering more staged queries. Every registered
    query and the driver contract collect eagerly, so the hazard is
    only holding un-executed frames across many staged calls."""
    while len(per) > cap:
        oldest = next(iter(per))
        release(per.pop(oldest))


def touch(per: dict, key) -> None:
    """Mark ``key`` most-recently-used (move to the dict's end) so
    evict()'s LRU order reflects HITS, not just insertions — without
    this a long-lived hot entry (the jaccard pair staging) ages out
    as if it were never read."""
    if key in per:
        per[key] = per.pop(key)


#: Every SessionCache, so release() can drop the entries holding a frame.
_CACHES: list["SessionCache"] = []


def _holds(value, obj) -> bool:
    """``value`` is ``obj``, or a composite entry with ``obj`` as a member
    (the IVF index's (centers, inverted file) tuple, the v4 state's
    {'decisions', 'manifest'} dict)."""
    if isinstance(value, dict):
        value = tuple(value.values())
    if isinstance(value, tuple):
        return any(v is obj for v in value)
    return value is obj


def _confirms(plan, stored) -> bool:
    """A plan-keyed hit is served only if the stored input plan is
    semantically the same query (ADVICE r11 #3: a bare 32-bit hash
    collision would otherwise return another plan's data)."""
    if plan is None:
        return True
    try:
        return stored is not None and plan.sameSemantics(stored)
    except Exception:  # pragma: no cover - non-classic session
        return False


class SessionCache:
    """A named, session-scoped LRU of staging artifacts; the module
    docstring gives the key / confirm / bound / release rules. The
    per-session ``{key: value}`` dict is what ``touch``/``evict`` see,
    so their LRU order and block release are the same for every cache;
    input plans sit in a parallel dict (never released with a value)."""

    def __init__(self, name: str, cap: int = CACHE_CAP) -> None:
        self.name = name
        self.cap = cap
        self._values: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()
        self._plans: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()
        _CACHES.append(self)

    def get_or_build(self, spark, key, build, plan: DataFrame | None = None):
        """The entry for (``key``, ``plan``) in ``spark``'s cache, built by
        ``build()`` on a miss. A build that returns None caches nothing
        (a caller that stages only above a size threshold)."""
        try:
            k = key if plan is None else (plan.semanticHash(), key)
        except Exception:  # no plan hash (e.g. a non-classic session)
            return build()
        per = self._values.setdefault(spark, {})
        plans = self._plans.setdefault(spark, {})
        if k in per:
            if _confirms(plan, plans.get(k)):
                touch(per, k)
                return per[k]
            plans.pop(k, None)
            release(per.pop(k))  # a hash collision: the new plan takes the key
        evict(per, self.cap)
        for gone in plans.keys() - per.keys():
            del plans[gone]
        value = build()
        if value is not None:
            per[k] = value
            if plan is not None:
                plans[k] = plan
        return value

    def pop(self, spark, key, plan: DataFrame | None = None) -> None:
        """Drop and release the entry for (``key``, ``plan``) only —
        scoped invalidation when the files under an unchanged plan grew
        (``maybe_rebuild_ivf``), or to force a serve path's load."""
        try:
            k = key if plan is None else (plan.semanticHash(), key)
        except Exception:  # pragma: no cover - non-classic session
            return
        per = self._values.get(spark)
        if per and k in per and _confirms(plan, self._plans[spark].get(k)):
            self._plans[spark].pop(k, None)
            release(per.pop(k))

    def _drop_holders(self, spark, obj) -> None:
        per = self._values.get(spark)
        if per:
            for k in [k for k, v in per.items() if _holds(v, obj)]:
                del per[k]
                self._plans[spark].pop(k, None)


#: session → {(query, sf_dir): final DataFrame} plan memo (memo_frame).
_FRAMES: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def memo_frame(spark, key: tuple, builder) -> DataFrame:
    """Session-scoped memo of a registered query's FINAL DataFrame.

    DataFrames are immutable and re-executable, so returning the same
    object on a repeat (session, sf_dir) call is semantics-free — what
    it saves is real: the exact_ntile consumers spend ~0.3-0.45 s per
    call assembling the deep kernel plan over py4j and another ~0.2 s
    re-analyzing it, while a memoized frame re-enters execution with
    its QueryExecution already resolved (the prepared-statement
    pattern). Only for builders that are PURE plan assembly over
    immutable fixtures — anything touching per-call state (streaming,
    tmp paths, mutable session staging slots) must not use this."""
    per = _FRAMES.setdefault(spark, {})
    df = per.get(key)
    if df is None:
        df = builder()
        per[key] = df
    return df


def stage(df: DataFrame, slot: str) -> DataFrame:
    """localCheckpoint ``df`` and register it under (session, slot),
    releasing the PREVIOUS occupant's blocks — for call sites that
    rebuild a staging frame on every invocation (q_lm_perplexity's
    term frame, q_sample_temperature's source aggregate, the ANN
    bucket table): without the supersede each call leaked one more
    copy for the session's lifetime. The previous frame is released
    only after its successor materialized, so a caller that already
    collected the old result is never affected; holding the OLD frame
    across a NEW call to the same site is outside the contract.

    PLAN-IDENTICAL calls reuse the occupant instead of re-staging: the
    slot records the input's ``semanticHash()`` and a repeat call with
    the same hash returns the already-materialized checkpoint — the
    same immutable-fixture contract every session cache here keys on
    (_TABLE_CACHE, _SHINGLE_CACHE, the v4 state). Before this, every
    warm call to an exact_ntile consumer re-ran and re-checkpointed
    its staged aggregate (measured ~1 s of q_rfm_segments' 1.85 s warm
    at sf0.1 — VERDICT r10 "wrong" #2). The 32-bit hash hit is
    CONFIRMED with ``sameSemantics`` against the stored input plan
    before the occupant is served (ADVICE r11 #3: a bare hash
    collision between genuinely different plans would silently return
    wrong data); a released occupant can never be served because
    release() drops its slot entry. A caller whose underlying FILES
    changed under an unchanged plan must go through a new session (or
    new path), exactly as with the other caches."""
    per = _SLOTS.setdefault(df.sparkSession, {})
    try:
        key = df.semanticHash()
    except Exception:  # pragma: no cover - non-classic session fallback
        key = None
    prev = per.get(slot)
    if prev is not None and key is not None and prev[0] == key:
        try:
            same = df.sameSemantics(prev[1])
        except Exception:  # pragma: no cover - non-classic session
            same = False
        if same:
            return prev[2]
    out = df.localCheckpoint()
    if prev is not None:
        # release() drops this session's memo_frame entries and the
        # superseded slot itself before freeing the blocks (the single
        # choke point — see release()'s docstring).
        release(prev[2])
    per[slot] = (key, df, out)
    return out
