"""The CurationPipeline engine: hand-written chains reproduce the
registered recipes exactly, trace() agrees with run() and reuses its
fold, exports round-trip through the self-certifying manifest, and
operators/corpus.py grows no second chain."""

from __future__ import annotations

from hive_gateway_spark import registry
from hive_gateway_spark.pipeline import CurationPipeline

registry.load_all()


def test_default_chain_equals_curation_v3(spark, sf_dir):
    from hive_gateway_spark.operators.corpus import (
        V3_GATE_MAX,
        V3_GATE_MIN,
        V3_TOP,
    )

    out = (
        CurationPipeline(spark)
        .read_parquet(sf_dir)
        .remove_boilerplate()
        .gate_tokens(V3_GATE_MIN, V3_GATE_MAX)
        .dedup_exact()
        .drop_span_duplicates(0.6)
        .select_dsir(top=V3_TOP)
        .run()
        .collect()
    )
    v3 = registry.QUERIES["q_curation_v3"](spark, sf_dir).collect()
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in v3}
    lw_api = {r["doc_id"]: r["logw"] for r in out}
    for r in v3:
        assert lw_api[r["doc_id"]] == r["logw"]  # exact, not approx


def test_pipeline_export_verifies(spark, sf_dir, tmp_path):
    from hive_gateway_spark.sources.dataset_export import verify_dataset

    p = (
        CurationPipeline(spark)
        .read_parquet(sf_dir)
        .gate_tokens(10, 512)
        .dedup_exact()
    )
    manifest = p.export(str(tmp_path / "ds"), partition_by=["lang"])
    assert manifest["n_rows"] == p.run().count()
    assert verify_dataset(spark, str(tmp_path / "ds"))["ok"]
    assert p.stages == ["gate_tokens", "dedup_exact"]


def test_pipeline_requires_source(spark):
    import pytest

    with pytest.raises(ValueError, match="no source"):
        CurationPipeline(spark).gate_tokens(1, 10).run()


def test_pipeline_append_commits_next_version(spark, sf_dir, tmp_path):
    """The daily-batch form: the same stage chain curates a second
    batch and append_to() commits it as manifest version 2; verify
    stays green and time travel still reads version 1 alone."""
    from hive_gateway_spark.sources.dataset_export import (
        read_snapshot,
        verify_dataset,
    )

    path = str(tmp_path / "dsa")
    day1 = CurationPipeline(spark).read_parquet(sf_dir).gate_tokens(10, 512)
    m1 = day1.export(path, partition_by=["lang"])

    from hive_gateway_spark.session import load_tables
    from pyspark.sql import functions as F

    batch2 = (
        load_tables(spark, sf_dir)["documents"]
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)  # fresh ids
        .limit(50)
    )
    m2 = CurationPipeline(spark).from_frame(batch2).gate_tokens(10, 512).append_to(path)
    assert m2["version"] == 2 and m2["n_rows"] > m1["n_rows"]
    assert verify_dataset(spark, path)["ok"]
    assert read_snapshot(spark, path, 1).count() == m1["n_rows"]


def test_v4_chain_equals_curation_v4(spark, sf_dir):
    """The facade's v4 recipe chain must reproduce q_curation_v4's
    manifest exactly (same selected docs, weights, splits, shards,
    bins) when fed the same augmented corpus — the facade adds zero
    semantics over the registered pipeline."""
    from hive_gateway_spark.operators.corpus import _V4_PLANTED, V4_STOPS, V4_TOP
    from hive_gateway_spark.pipeline import CurationPipeline
    from hive_gateway_spark.registry import QUERIES
    from hive_gateway_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "text")
    planted = spark.createDataFrame(
        _V4_PLANTED, "doc_id bigint, lang string, text string"
    )
    corpus = docs.unionByName(planted)
    out = (
        CurationPipeline(spark)
        .from_frame(corpus)
        .gate_gopher(stops=V4_STOPS)
        # benchmark shingles from the UNGATED corpus — a benchmark doc
        # the Gopher gate drops must still protect against its
        # near-dups (matches q_curation_v4's scope exactly)
        .decontaminate(bench_corpus=corpus)
        .cut_perplexity_tail()
        .dedup_normalized()
        .drop_span_duplicates(0.6)
        .select_dsir(top=V4_TOP)
        .split_pack()
        .run()
    )
    cols = ["doc_id", "lang", "logw", "split", "shard", "bin"]
    facade = sorted(tuple(r[c] for c in cols) for r in out.select(*cols).collect())
    v4 = sorted(
        tuple(r[c] for c in cols)
        for r in QUERIES["q_curation_v4"](spark, sf_dir).select(*cols).collect()
    )
    assert facade == v4 and len(facade) > 0


def test_gate_quality_matches_classifier(spark, sf_dir):
    """gate_quality keeps exactly the docs the registered classifier
    scores above the threshold — the facade adds zero semantics."""
    from hive_gateway_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    got = {
        r["doc_id"]
        for r in CurationPipeline(spark)
        .from_frame(docs)
        .gate_quality(0.0)
        .run()
        .select("doc_id")
        .collect()
    }
    expected = {
        r["doc_id"]
        for r in registry.QUERIES["q_quality_classifier"](
            spark, sf_dir
        ).collect()
        if r["quality_score"] > 0.0
    }
    assert got == expected
    assert 0 < len(got)


def test_v5_chain_equals_curation_v5(spark, sf_dir):
    """The facade's v5 chain — the verified v4 recipe chain with
    gate_quality(0.0) appended AFTER split_pack (the manifest gate
    position: bins stay v4's; the gate only filters rows) — must
    reproduce q_curation_v5's manifest exactly."""
    from hive_gateway_spark.operators.corpus import _V4_PLANTED, V4_STOPS, V4_TOP
    from hive_gateway_spark.pipeline import CurationPipeline
    from hive_gateway_spark.registry import QUERIES
    from hive_gateway_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "text")
    planted = spark.createDataFrame(
        _V4_PLANTED, "doc_id bigint, lang string, text string"
    )
    corpus = docs.unionByName(planted)
    out = (
        CurationPipeline(spark)
        .from_frame(corpus)
        .gate_gopher(stops=V4_STOPS)
        .decontaminate(bench_corpus=corpus)
        .cut_perplexity_tail()
        .dedup_normalized()
        .drop_span_duplicates(0.6)
        .select_dsir(top=V4_TOP)
        .split_pack()
        .gate_quality(0.0)
        .run()
    )
    cols = ["doc_id", "lang", "logw", "split", "shard", "bin"]
    facade = sorted(tuple(r[c] for c in cols) for r in out.select(*cols).collect())
    v5 = sorted(
        tuple(r[c] for c in cols)
        for r in QUERIES["q_curation_v5"](spark, sf_dir).select(*cols).collect()
    )
    assert facade == v5 and len(facade) > 0


def test_span_ratio_is_exact(spark):
    """drop_span_duplicates compares against the exact ratio: two docs
    sharing a 13-token run in 21 tokens (~62% covered) survive
    max_ratio=0.65 and are dropped at 0.6, where an unrelated doc stays."""
    shared = " ".join(f"s{i}" for i in range(13))
    docs = spark.createDataFrame(
        [
            (1, "en", shared + " " + " ".join(f"a{i}" for i in range(8))),
            (2, "en", " ".join(f"b{i}" for i in range(8)) + " " + shared),
            (3, "en", " ".join(f"c{i}" for i in range(21))),
        ],
        "doc_id bigint, lang string, text string",
    )

    def kept(ratio):
        out = CurationPipeline(spark).from_frame(docs).drop_span_duplicates(ratio).run()
        return {r["doc_id"] for r in out.collect()}

    assert kept(0.65) == {1, 2, 3}
    assert kept(0.6) == {3}


def test_stage_added_after_run_reaches_export(spark, tmp_path):
    """A stage added after run() supersedes that run: export() publishes
    the chain with the new stage."""
    docs = spark.createDataFrame(
        [(1, "en", "same text"), (2, "en", "same text"), (3, "en", "other text")],
        "doc_id bigint, lang string, text string",
    )
    p = CurationPipeline(spark).from_frame(docs).gate_tokens(1, 10)
    assert p.run().count() == 3
    p.dedup_exact().export(str(tmp_path / "ds"))
    texts = [r["text"] for r in spark.read.parquet(str(tmp_path / "ds")).collect()]
    assert sorted(texts) == ["other text", "same text"]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_trace_after_run_runs_no_stage_again(spark, sf_dir):
    """trace() reads run()'s fold: run() then trace() launches exactly the
    jobs of trace() on a fresh identical pipeline, a second trace()
    launches none, and the result stays readable after the stage
    boundaries are released. (Stages without session caches, so the
    fresh pipeline repeats all of the first one's work.)"""
    from hive_gateway_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]

    def chain():
        return (
            CurationPipeline(spark)
            .from_frame(docs)
            .gate_tokens(10, 512)
            .dedup_normalized()
            .gate_quality(0.0)
        )

    p = chain()
    result, run_jobs = _jobs(spark, "pipe-run", p.run)
    _, trace_jobs = _jobs(spark, "pipe-trace", p.trace)
    _, fresh_jobs = _jobs(spark, "pipe-fresh", chain().trace)
    _, again = _jobs(spark, "pipe-again", p.trace)
    assert run_jobs >= 3 and trace_jobs > 0
    assert run_jobs + trace_jobs == fresh_jobs
    assert again == 0
    assert result.count() == p.trace().filter("decision = 'selected'").count()


def test_trace_partitions_the_source_and_matches_run(spark, sf_dir):
    """For every registered recipe: one decision per source doc, the
    'selected' ids are run()'s ids, and each funnel query is the
    trace's Counter."""
    from collections import Counter

    from hive_gateway_spark.operators.corpus import _recipe

    funnels = {"v3": "q_curation_funnel", "v4": "q_curation_v4_funnel", "v5": "q_curation_v5_funnel"}
    for name, funnel in funnels.items():
        pipe = _recipe(spark, sf_dir, name)
        trace = pipe.trace().collect()
        n_source = (pipe._parent or pipe)._source.count()
        assert len(trace) == len({r["doc_id"] for r in trace}) == n_source, name
        selected = {r["doc_id"] for r in trace if r["decision"] == "selected"}
        assert selected == {r["doc_id"] for r in pipe.run().collect()}, name
        counts = {
            r["decision"]: r["n_docs"]
            for r in registry.QUERIES[funnel](spark, sf_dir).collect()
        }
        assert counts == dict(Counter(r["decision"] for r in trace)), name


#: The stages the recipes are made of, and what only a pipeline may call.
_STAGE_CALLS = {
    "boilerplate_report", "substring_report", "dsir_report", "perplexity_report",
    "gopher_report", "exact_ntile", "quality_exprs", "stage", "localCheckpoint",
}


def test_one_curation_engine():
    """Regrowth guard: operators/corpus.py holds no hand-built copy of a
    recipe chain — the deleted chain builders and their caches stay
    gone, the module keeps two SessionCaches (the gram file and the
    recipes), and each registered curation query reaches its stages only
    through _recipe."""
    import ast
    import pathlib

    import hive_gateway_spark.operators.corpus as corpus

    for gone in (
        "_v3_survivors", "_v3_survivors_build", "_curation_trace_build", "_v4_state",
        "_v4_state_build", "_v5_passing", "_v5_decisions", "_V3_CACHE", "_TRACE_CACHE",
        "_V4_CACHE",
    ):
        assert not hasattr(corpus, gone), gone
    src = pathlib.Path(corpus.__file__).read_text()
    assert src.count("SessionCache(") == 2
    bodies = {
        fn.name: fn
        for fn in ast.parse(src).body
        if isinstance(fn, ast.FunctionDef) and fn.name.startswith("q_curation_")
    }
    for name in (
        "q_curation_v3", "q_curation_trace", "q_curation_funnel", "q_curation_v4",
        "q_curation_v4_funnel", "q_curation_v5", "q_curation_v5_trace", "q_curation_v5_funnel",
    ):
        calls = {
            node.func.id if isinstance(node.func, ast.Name) else node.func.attr
            for node in ast.walk(bodies[name])
            if isinstance(node, ast.Call) and isinstance(node.func, (ast.Name, ast.Attribute))
        }
        assert "_recipe" in calls, name
        assert not calls & _STAGE_CALLS, (name, calls & _STAGE_CALLS)


def test_one_decontamination_join_and_shingle_hash():
    """Regrowth guard: under hive_gateway_spark/ the curation decisions
    are each written once — the benchmark slice only in
    dedup.is_benchmark (which contamination_pairs and the decontaminate
    stage's label call), the in-row shingle hash only in
    dedup.shingle_hashes' stream branch, the window-LEAD shingle text
    only in dedup._shingle_rows — and decontaminate takes no option
    that could fork the rule from the registered queries."""
    import ast
    import inspect
    import pathlib

    import hive_gateway_spark

    root = pathlib.Path(hive_gateway_spark.__file__).parent

    def owners(needle: str) -> list[tuple[str, str]]:
        """(module, innermost enclosing function) of each line holding needle."""
        found = []
        for path in sorted(root.rglob("*.py")):
            src = path.read_text()
            if needle not in src:
                continue
            fns = [n for n in ast.walk(ast.parse(src)) if isinstance(n, ast.FunctionDef)]
            for i, line in enumerate(src.splitlines(), 1):
                if needle in line:
                    inner = [f for f in fns if f.lineno <= i <= f.end_lineno]
                    fn = min(inner, key=lambda f: f.end_lineno - f.lineno, default=None)
                    found.append((path.relative_to(root).as_posix(), fn.name if fn else ""))
        return found

    assert owners("s -> xxhash64(s)") == [("operators/dedup.py", "shingle_hashes")]
    assert set(owners('F.lead("w0"')) == {("operators/dedup.py", "_shingle_rows")}
    assert owners("% CONTAM_BENCH_MOD") == [("operators/dedup.py", "is_benchmark")]
    params = inspect.signature(CurationPipeline.decontaminate).parameters
    assert not {"bench_mod", "min_shared"} & set(params), list(params)


def test_concurrent_callers_share_one_fold(spark):
    """A registered recipe's pipeline is shared by server threads: more
    callers than cores racing run() and trace() on one pipeline all get
    the same result and the same trace (one fold, no lost update)."""
    import sys
    import threading

    docs = spark.createDataFrame(
        [(i, "en", f"doc {i % 7} words here") for i in range(40)],
        "doc_id bigint, lang string, text string",
    )
    pipe = CurationPipeline(spark).from_frame(docs).gate_tokens(1, 10).dedup_exact()
    got: list = []
    calls = [pipe.run, pipe.trace] * 6
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=lambda f=f: got.append((f.__name__, f()))) for f in calls]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads) and len(got) == len(calls)
    assert all(out is pipe.run() for name, out in got if name == "run")
    assert all(out is pipe.trace() for name, out in got if name == "trace")
    assert pipe.trace().filter("decision = 'selected'").count() == pipe.run().count() == 7
