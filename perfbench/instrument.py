"""Spans and counters around calls into the engine's layers.

Everything here replaces a public attribute of an engine module with a
wrapper that records into a ``Tracer``; no engine file changes. The
module-level names must be replaced before ``registry.load_all()``
imports the operator modules, because those bind ``stage``,
``load_tables`` and friends by name at import.

Layers and what is wrapped:

- ``session``: ``get_spark``, ``load_tables``;
- ``staging``: ``stage``, ``memo_frame``, ``touch``, ``evict``, ``release``
  (hits and evictions are worked out from the arguments and results);
- ``dataset_export``: the lakehouse verbs the curation workload calls;
- ``pipeline``: ``CurationPipeline.run``;
- ``server`` / ``msgpack_codec``: the request handler, ``dispatch``,
  ``negotiate``, ``packb`` and ``unpackb`` as the server module sees them
  (``server_hooks``, once a server exists);
- ``operators``: every ``registry.QUERIES`` entry (``wrap_queries``);
- ``spark``: the workloads open a span around execution, and Spark job
  intervals are added after the run from the status store
  (``add_job_spans``).
"""

from __future__ import annotations

import time
import weakref

DATASET_VERBS = (
    "write_dataset", "append_dataset", "delete_dataset", "apply_diff",
    "snapshot_diff", "build_bloom_index", "read_snapshot", "verify_dataset",
)
STAGING = ("stage", "memo_frame", "touch", "evict", "release")


def install(tracer) -> None:
    """Wrap the module-level entry points (call before ``load_all``);
    ``wrap_queries`` follows once the registry is loaded. ``pipeline``
    is imported last: it imports operator modules, which bind the
    session and staging names at import."""
    from hive_gateway_spark import session, staging
    from hive_gateway_spark.sources import dataset_export

    tracer.patch(session, "get_spark", "session.get_spark", "session")
    tracer.patch(session, "load_tables", "session.load_tables", "session")
    _install_staging(tracer, staging)
    for verb in DATASET_VERBS:
        tracer.patch(dataset_export, verb, f"dataset_export.{verb}", "dataset_export")

    from hive_gateway_spark import pipeline

    tracer.patch(pipeline.CurationPipeline, "run", "pipeline.run", "pipeline")


def wrap_queries(tracer) -> None:
    """An ``operators`` span around each registry query's plan
    construction, whoever calls it (the workload or the server)."""
    from hive_gateway_spark import registry

    for name, fn in registry.QUERIES.items():
        registry.QUERIES[name] = tracer.wrap(fn, "construct", "operators")


def _install_staging(tracer, staging) -> None:
    staged: dict[int, weakref.ref] = {}

    def stage_after(_, out, seconds):
        ref = staged.get(id(out))
        if ref is not None and ref() is out:
            tracer.count("staging.hits")
        else:
            tracer.count("staging.build_s", seconds)
            staged[id(out)] = weakref.ref(out)
        tracer.count("staging.lookups")

    def touch_before(args, kwargs):
        per, key = args[0], args[1]
        tracer.count("staging.lookups")
        if key in per:
            tracer.count("staging.hits")

    def evict_before(args, kwargs):
        per = args[0]
        cap = args[1] if len(args) > 1 else kwargs.get("cap", staging.CACHE_CAP)
        tracer.count("staging.evictions", max(0, len(per) - cap))

    orig_memo = staging.memo_frame

    def memo_frame(spark, key, builder):
        built = []

        def timed_builder():
            t0 = time.perf_counter()
            try:
                return builder()
            finally:
                built.append(time.perf_counter() - t0)

        out = orig_memo(spark, key, timed_builder)
        tracer.count("staging.lookups")
        if built:
            tracer.count("staging.build_s", built[0])
        else:
            tracer.count("staging.hits")
        return out

    staging.memo_frame = memo_frame
    tracer.patch(staging, "stage", "staging.stage", "staging", after=stage_after)
    tracer.patch(staging, "memo_frame", "staging.memo_frame", "staging")
    tracer.patch(staging, "touch", "staging.touch", "staging", before=touch_before)
    tracer.patch(staging, "evict", "staging.evict", "staging", before=evict_before)
    tracer.patch(staging, "release", "staging.release", "staging")


def staging_calls(counters) -> int:
    return int(sum(counters.get(f"staging.{n}.calls", 0) for n in STAGING))


def dataset_calls(counters) -> int:
    return int(sum(counters.get(f"dataset_export.{v}.calls", 0) for v in DATASET_VERBS))


def server_hooks(tracer, gw) -> None:
    """Wrap one running ``GatewayServer``: queue time (client send to
    handler start, both clocks in this process), dispatch, compression
    negotiation and the msgpack calls the server module makes."""
    from hive_gateway_spark import server as server_mod

    handler_cls = gw._httpd.RequestHandlerClass
    orig_post = handler_cls.do_POST

    def do_POST(handler):
        start = time.perf_counter()
        sent = handler.headers.get("X-PB-Sent")
        if sent is not None:
            tracer.count("server.queue_s", start - float(sent))
            tracer.count("server.requests")
        with tracer.in_op(handler.headers.get("X-PB-Op")), tracer.span("server.request", "server"):
            orig_post(handler)

    handler_cls.do_POST = do_POST

    orig_dispatch = gw.dispatch
    sc = gw.spark.sparkContext

    def dispatch(mod, fun, arg):
        if tracer.enabled and tracer.op is not None:
            sc.setJobGroup(f"pb{tracer.op}", f"{mod}.{fun}")
        return orig_dispatch(mod, fun, arg)

    gw.dispatch = tracer.wrap(dispatch, "server.dispatch", "server")

    def negotiate_after(token, out, seconds):
        raw_len = token
        body, enc = out
        if enc is not None:
            tracer.count("server.compressed_in", raw_len)
            tracer.count("server.compressed_out", len(body))

    server_mod.negotiate = tracer.wrap(
        server_mod.negotiate, "server.negotiate", "server",
        before=lambda a, k: len(a[0]), after=negotiate_after,
    )
    server_mod.packb = tracer.wrap(server_mod.packb, "msgpack_codec.packb", "msgpack_codec")
    server_mod.unpackb = tracer.wrap(server_mod.unpackb, "msgpack_codec.unpackb", "msgpack_codec")


def add_job_spans(tracer, jobs_by_group: dict, clock_offset: float) -> None:
    """Add each Spark job as a ``spark``-layer span under the innermost
    span of its op that contains it. Job times are wall-clock seconds;
    ``clock_offset`` is ``time.time() - time.perf_counter()``."""
    by_op: dict = {}
    for s in tracer.spans:
        by_op.setdefault(s[6], []).append(s)
    for group, jobs in jobs_by_group.items():
        op = group[2:]
        candidates = by_op.get(op, [])
        for job in jobs:
            t0, t1 = job["start"] - clock_offset, job["end"] - clock_offset
            mid = (t0 + t1) / 2
            inside = [s for s in candidates if s[3] <= mid <= s[4]]
            parent = min(inside, key=lambda s: s[4] - s[3])[0] if inside else None
            tracer.add_span("spark.job", "spark", t0, t1, parent, op)
