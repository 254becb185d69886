"""Semantic invariants of the corpus-statistics curation family
(operators/corpus.py) on PLANTED fixture-independent data, beyond the
DuckDB parity gate (tests/test_parity.py covers all four oracles)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hive_gateway_spark import registry
from hive_gateway_spark.operators.corpus import (
    BOILER_DF,
    SPAN_K,
    boilerplate_report,
    dsir_report,
    perplexity_report,
    substring_report,
)

registry.load_all()


def _docs(spark, rows, schema="doc_id bigint, text string"):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- substring

SHARED = "alpha beta gamma delta epsilon zeta eta theta"  # exactly SPAN_K tokens
assert len(SHARED.split()) == SPAN_K


def test_substring_detects_planted_cross_doc_span(spark):
    docs = _docs(
        spark,
        [
            (1, SHARED + " one two three four"),
            (2, "nine ten eleven twelve " + SHARED),
            (3, "completely unrelated words with no shared span at all here"),
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in substring_report(docs).collect()}
    # docs 1 and 2 share exactly one SPAN_K-gram (the planted run);
    # every position of the shared run is covered in both docs
    assert out[1]["n_dup_spans"] == 1 and out[2]["n_dup_spans"] == 1
    assert out[1]["dup_tokens"] == SPAN_K and out[2]["dup_tokens"] == SPAN_K
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_tokens"] == 0
    assert out[3]["dup_ratio"] == 0.0
    # a full-duplicate pair covers every token
    dup = _docs(spark, [(10, SHARED + " " + SHARED), (11, SHARED + " " + SHARED)])
    for r in substring_report(dup).collect():
        assert r["dup_ratio"] == 1.0


def test_substring_ignores_within_doc_repeats(spark):
    """A span repeated inside ONE doc is q_doc_repetition's business,
    not cross-doc dedup's: no other doc has it, so it must not count."""
    docs = _docs(
        spark,
        [
            (1, SHARED + " filler " + SHARED),
            (2, "totally different text with many distinct words in this doc"),
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in substring_report(docs).collect()}
    assert out[1]["n_dup_spans"] == 0 and out[1]["dup_tokens"] == 0


# -------------------------------------------------------------- boilerplate

FOOTER = "visit our site for more great content every single day"  # 10 tokens


def test_boilerplate_chunk_removed_and_text_rebuilt(spark):
    bodies = [
        "unique words number %d something else entirely original content here" % i
        for i in range(BOILER_DF)
    ]
    docs = _docs(
        spark,
        [(i, bodies[i] + " " + FOOTER) for i in range(BOILER_DF)]
        + [(99, "a clean document with no boilerplate footer attached at all")],
    )
    out = {r["doc_id"]: r.asDict() for r in boilerplate_report(docs).collect()}
    for i in range(BOILER_DF):
        assert out[i]["n_removed"] == 1
        assert out[i]["removed_tokens"] == 10
        assert out[i]["clean_text"] == bodies[i]  # rebuild drops ONLY the footer
    assert out[99]["n_removed"] == 0
    assert out[99]["clean_text"] == "a clean document with no boilerplate footer attached at all"


def test_boilerplate_below_df_threshold_survives(spark):
    """A chunk shared by fewer than BOILER_DF docs is legitimate
    near-dup (the Jaccard family's business), not boilerplate."""
    docs = _docs(
        spark,
        [
            (1, FOOTER + " trailing words one"),
            (2, FOOTER + " trailing words two"),
            (3, "an unrelated third document body with its own words here now"),
        ],
    )
    assert BOILER_DF > 2
    out = {r["doc_id"]: r.asDict() for r in boilerplate_report(docs).collect()}
    assert out[1]["n_removed"] == 0 and out[2]["n_removed"] == 0
    assert out[1]["clean_text"].startswith(FOOTER)


def test_boilerplate_all_removed_yields_empty_text(spark):
    docs = _docs(spark, [(i, FOOTER) for i in range(BOILER_DF + 1)])
    for r in boilerplate_report(docs).collect():
        assert r["n_removed"] == r["n_chunks"] == 1
        assert r["clean_text"] == ""


# -------------------------------------------------------------- perplexity

def test_perplexity_matches_hand_computed_bigram_model(spark):
    """3-doc corpus small enough to hand-check: c2/c1/V counted by
    hand, each term round(-ln((c2+1)/(c1+V)), 6), decimal-summed."""
    docs = _docs(spark, [(1, "a b a b"), (2, "a b c"), (3, "c c")])
    # corpus bigrams: d1: (a,b)x2 (b,a)x1 ; d2: (a,b) (b,c) ; d3: (c,c)
    # c2: (a,b)=3 (b,a)=1 (b,c)=1 (c,c)=1 ; c1: a=3 b=2 c=1 ; V=3
    out = {r["doc_id"]: r.asDict() for r in perplexity_report(docs).collect()}

    def term(c2, c1):
        return round(-math.log((c2 + 1.0) / (c1 + 3.0)), 6)

    d1 = 2 * term(3, 3) + term(1, 2)
    d2 = term(3, 3) + term(1, 2)
    d3 = term(1, 1)
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["sum_nll"] - d1) < 1e-9
    assert abs(out[2]["sum_nll"] - d2) < 1e-9
    assert abs(out[3]["sum_nll"] - d3) < 1e-9
    assert abs(out[1]["mean_nll"] - d1 / 3) < 1e-9


def test_perplexity_flags_shuffled_doc_above_fluent_dup(spark, sf_dir):
    """The operator's purpose: a doc made of corpus words in an order
    the corpus never uses scores a higher mean NLL than a doc whose
    bigrams all recur. Build both from the same vocabulary."""
    fluent = "the quick brown fox jumps over the lazy dog"
    docs = _docs(
        spark,
        [(i, fluent) for i in range(1, 6)]
        + [(99, "dog the over quick lazy jumps brown the fox")],
    )
    out = {r["doc_id"]: r["mean_nll"] for r in perplexity_report(docs).collect()}
    assert out[99] > out[1]


# -------------------------------------------------------------------- dsir

def test_dsir_prefers_target_like_documents(spark):
    """Docs drawn from the target-domain vocabulary must outweigh docs
    from the disjoint raw-only vocabulary."""
    target_text = "market price trade stock yield bond rate index fund asset"
    raw_text = "lizard volcano nebula glacier fungus quark comet tundra moss fjord"
    rows = (
        [(i, target_text, "en") for i in range(20)]
        + [(100 + i, raw_text, "fr") for i in range(20)]
    )
    docs = _docs(spark, rows, "doc_id bigint, text string, lang string")
    out = dsir_report(docs, top=40).collect()
    logw = {r["doc_id"]: r["logw"] for r in out}
    assert min(logw[i] for i in range(20)) > max(logw[100 + i] for i in range(20))


def test_dsir_selection_is_deterministic_topk(spark, sf_dir):
    a = registry.QUERIES["q_dsir_weights"](spark, sf_dir).collect()
    b = registry.QUERIES["q_dsir_weights"](spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    ws = [r["logw"] for r in a]
    assert ws == sorted(ws, reverse=True)


# ------------------------------------------------------------- curation v3

def test_curation_v3_stage_attrition(spark, sf_dir):
    """The composition actually filters: the selection is exactly
    V3_TOP docs, every selected doc survives each stage's own
    predicate (unique rebuilt text, token band, sub-60% span
    coverage), and weights arrive sorted."""
    from hive_gateway_spark.operators.corpus import (
        V3_GATE_MAX,
        V3_GATE_MIN,
        V3_TOP,
        boilerplate_report,
    )
    from hive_gateway_spark.session import load_tables

    out = registry.QUERIES["q_curation_v3"](spark, sf_dir).collect()
    assert len(out) == V3_TOP
    # the top-V3_TOP selection is the set with the highest weights —
    # strictly above (or tied with) everything dsir scored below the
    # cut (row order itself is unspecified after the lang join)
    assert len({r["doc_id"] for r in out}) == V3_TOP
    assert all(V3_GATE_MIN <= r["n_tokens"] <= V3_GATE_MAX for r in out)
    # rebuilt texts of the selected docs are pairwise distinct (exact
    # dedup ran on the REBUILT text)
    docs = load_tables(spark, sf_dir)["documents"]
    sel_ids = {r["doc_id"] for r in out}
    reb = {
        r["doc_id"]: r["clean_text"]
        for r in boilerplate_report(docs).collect()
        if r["doc_id"] in sel_ids
    }
    assert len(set(reb.values())) == len(reb)


# ------------------------------------------------------------ corpus drift

def test_drifted_source_scores_higher_kl(spark):
    """A source drawn from a disjoint vocabulary diverges more from
    the corpus distribution than sources matching it — the drift alarm
    the operator exists for."""
    from hive_gateway_spark.operators.corpus import drift_report

    normal = "the quick brown fox jumps over the lazy dog again"
    weird = "zzq xxv qqj vvk jjz kkx zzv xxq qqk vvj"
    rows = (
        [(i, normal, "en", "web") for i in range(20)]
        + [(100 + i, normal, "en", "books") for i in range(20)]
        + [(200 + i, weird, "en", "spam") for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )
    out = {r["source"]: r["kl_vs_corpus"] for r in drift_report(docs).collect()}
    assert out["spam"] > out["web"] >= 0.0
    assert abs(out["web"] - out["books"]) < 1e-9  # identical distributions


# ----------------------------------------------------------- substring trim

def test_substring_trim_keeps_canonical_holder_only(spark):
    """The lowest doc_id containing a duplicated span KEEPS it; every
    other doc has the span cut and its text rebuilt; unrelated and
    short docs pass through verbatim."""
    from hive_gateway_spark.operators.corpus import substring_trim

    docs = _docs(
        spark,
        [
            (1, SHARED + " tail one two"),      # canonical holder
            (5, "lead in words here " + SHARED),  # trimmed
            (9, "a short doc"),                  # < SPAN_K: verbatim
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in substring_trim(docs).collect()}
    assert out[1]["removed_tokens"] == 0
    assert out[1]["trimmed_text"] == SHARED + " tail one two"
    assert out[5]["removed_tokens"] == SPAN_K
    assert out[5]["trimmed_text"] == "lead in words here"
    assert out[9]["removed_tokens"] == 0
    assert out[9]["trimmed_text"] == "a short doc"
    # corpus-wide: the span's content survives exactly once
    total = " ".join(r["trimmed_text"] for r in substring_trim(docs).collect())
    assert total.count(SHARED) == 1


# ----------------------------------------------------------- curation trace

def test_curation_trace_consistent_with_v3(spark, sf_dir):
    """The audit table partitions EVERY original doc into exactly one
    decision, and its 'selected' set IS q_curation_v3's selection."""
    from hive_gateway_spark.session import load_tables

    trace = registry.QUERIES["q_curation_trace"](spark, sf_dir).collect()
    docs = load_tables(spark, sf_dir)["documents"]
    assert len(trace) == docs.count()  # total partition of the corpus
    by_dec = {}
    for r in trace:
        by_dec.setdefault(r["decision"], set()).add(r["doc_id"])
    sel = {r["doc_id"] for r in registry.QUERIES["q_curation_v3"](spark, sf_dir).collect()}
    assert by_dec.get("selected", set()) == sel
    # evidence typing: exact_dup cites a doc that is itself not an
    # exact_dup loser of the same text chain's winner set
    for r in trace:
        if r["decision"] == "exact_dup":
            assert r["detail"] is not None and r["detail"] < r["doc_id"]
        if r["decision"] == "span_dup":
            assert r["detail"] is not None and r["detail"] > 0


def test_gopher_rules_planted_branches(spark):
    """One doc per rule failure, each tripping EXACTLY its own rule
    (plus a doc passing all seven) — the per-branch coverage the
    fixture's clean prose can't provide."""
    from hive_gateway_spark.operators.text import q_gopher_rules  # noqa: F401
    from hive_gateway_spark import registry

    registry.load_all()
    good_words = ("the quick brown fox jumps over lazy dogs and cats "
                  "that have been with many friendly people of town") 
    good = " ".join((good_words + " ").split() * 5)  # 95 words, all rules pass
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "the of short"),  # word count < 50
            (3, " ".join(["a"] * 60) + " the of"),  # mean word len < 3
            (4, " ".join(["####word"] * 30 + ["the", "of"] + ["ok"] * 20)),
            (5, "\n".join(["- bullet line the of"] * 10)),
            (6, "\n".join(["trailing dots the of..."] * 10)),
            (7, " ".join(["1234"] * 48) + " the of"),  # alpha words < 80%
            (8, " ".join(["zebra"] * 60)),  # no stopwords
        ],
        "doc_id bigint, text string",
    )
    from hive_gateway_spark.operators.text import gopher_report

    res = {r["doc_id"]: r.asDict() for r in gopher_report(docs).collect()}
    assert res[1]["keep"]
    assert not res[2]["ok_word_count"] and res[2]["ok_stopwords"]
    assert not res[3]["ok_mean_word_len"]
    assert not res[4]["ok_symbol_ratio"]
    assert not res[5]["ok_bullet_lines"]
    assert not res[6]["ok_ellipsis_lines"]
    assert not res[7]["ok_alpha_words"]
    assert not res[8]["ok_stopwords"] and not res[8]["keep"]


def test_chunk_windows_boundary_geometry(spark):
    """Planted chunking edge cases: a doc shorter than the window is
    ONE full-copy chunk; an exact window-length doc is one chunk; a
    window+1 doc spills a second chunk whose overlap is window−stride;
    chunk counts follow ceil((n−W)/S)+1."""
    from hive_gateway_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_WIN,
        q_chunk_windows,
    )
    from hive_gateway_spark.operators import text as text_mod

    w, s = CHUNK_WIN, CHUNK_STRIDE
    mk = lambda n: " ".join(f"w{i}" for i in range(n))
    docs = spark.createDataFrame(
        [(1, mk(10)), (2, mk(w)), (3, mk(w + 1)), (4, mk(2 * s + w))],
        "doc_id bigint, text string",
    )
    orig = text_mod.load_tables
    try:
        text_mod.load_tables = lambda sp, d: {"documents": docs}
        rows = q_chunk_windows(spark, "planted").collect()
    finally:
        text_mod.load_tables = orig
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk"] == mk(10)
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == w
    assert len(by_doc[3]) == 2
    last = sorted(by_doc[3], key=lambda r: r["chunk_idx"])[-1]
    assert last["n_tokens"] == w + 1 - s
    assert len(by_doc[4]) == 3  # ceil((2s+w-w)/s)+1
    for r in sorted(by_doc[4], key=lambda r: r["chunk_idx"])[:-1]:
        assert r["n_tokens"] == w  # every non-final chunk is full


def test_compress_ratio_separates_repetition_from_noise(spark):
    """Property gate for the rows-only q_compress_ratio: a highly
    repetitive doc compresses far below a shuffled-vocabulary doc,
    ratios live in (0, ~1.1], and raw_bytes matches the UTF-8 length."""
    import random

    from hive_gateway_spark.operators import text as text_mod

    rng = random.Random(3)
    vocab = [f"tok{i}" for i in range(500)]
    noisy = " ".join(rng.choice(vocab) for _ in range(400))
    repetitive = " ".join(["spam ham"] * 200)
    docs = spark.createDataFrame(
        [(1, repetitive), (2, noisy)], "doc_id bigint, text string"
    )
    orig = text_mod.load_tables
    try:
        text_mod.load_tables = lambda sp, d: {"documents": docs}
        rows = {r["doc_id"]: r for r in text_mod.q_compress_ratio(spark, "p").collect()}
    finally:
        text_mod.load_tables = orig
    assert rows[1]["raw_bytes"] == len(repetitive.encode())
    for r in rows.values():
        assert 0 < r["compress_ratio"] <= 1.1
    assert rows[1]["compress_ratio"] < rows[2]["compress_ratio"] / 3


def test_curation_v4_funnel_trace_equality(spark, sf_dir):
    """VERDICT r9 task #5's equality pin: the funnel, the per-doc
    decision frame, and the manifest are three views of ONE staged
    stage-chain — their counts and id sets must agree exactly, every
    input doc must hold exactly one decision, and the planted evidence
    must exit at the stage it was built to prove non-vacuous."""
    from hive_gateway_spark.operators.corpus import _V4_PLANTED, _recipe
    from hive_gateway_spark.session import load_tables

    pipe = _recipe(spark, sf_dir, "v4")
    dec = {r["doc_id"]: r["decision"] for r in pipe.trace().collect()}
    manifest = pipe.run().collect()
    funnel = {
        r["decision"]: r["n_docs"]
        for r in __import__("hive_gateway_spark.registry", fromlist=["QUERIES"])
        .QUERIES["q_curation_v4_funnel"](spark, sf_dir)
        .collect()
    }
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    # exactly one decision per input doc (fixture + planted)
    assert len(dec) == n_docs + len(_V4_PLANTED)
    assert sum(funnel.values()) == len(dec)
    # funnel == decision-frame aggregation
    from collections import Counter

    assert funnel == dict(Counter(dec.values()))
    # manifest == the selected set
    sel_ids = {r["doc_id"] for r in manifest}
    assert sel_ids == {d for d, v in dec.items() if v == "selected"}
    assert funnel["selected"] == len(manifest)
    # planted evidence exits at its designed stage
    assert dec[9_800_007] == "benchmark"
    assert dec[9_800_008] == "contaminated"
    assert dec[9_800_106] == "norm_dup"
    # the norm-dup CANONICAL survives to the dedup stage or later
    assert dec[9_800_105] in ("selected", "not_selected", "span_dup")
    # every stage of the recipe is non-vacuous on the fixture
    for stage in (
        "gopher_fail",
        "benchmark",
        "contaminated",
        "ppl_tail",
        "norm_dup",
        "span_dup",
        "not_selected",
        "selected",
    ):
        assert funnel.get(stage, 0) > 0, f"vacuous stage {stage}"


def test_curation_v4_shingle_width_knob(spark, sf_dir):
    """VERDICT r10 task #5: decontamination shingle width is a knob.
    On THESE fixtures the n=8 flagged-contaminated count is lower than
    n=3's (distinct n-gram overlap counts are not monotone in n in
    general — low-period boilerplate can share more 8-grams than
    3-grams — so this pins fixture behavior, not an invariant), the
    PLANTED contamination pair (50 shared words ≫ 8) must still be
    caught, and the registered default path must be untouched (same
    funnel as the driver-verified oracle)."""
    from collections import Counter

    from hive_gateway_spark.operators.corpus import V4_RECIPE, _recipe, v4_corpus
    from hive_gateway_spark.pipeline import CurationPipeline
    from hive_gateway_spark.session import load_tables

    def decisions(pipe):
        return {r["doc_id"]: r["decision"] for r in pipe.trace().collect()}

    d3 = decisions(_recipe(spark, sf_dir, "v4"))
    width8 = [(s, {**kw, "shingle_n": 8} if s == "decontaminate" else kw) for s, kw in V4_RECIPE]
    corpus = v4_corpus(load_tables(spark, sf_dir)["documents"])
    d8 = decisions(CurationPipeline(spark).from_frame(corpus).apply(width8))
    c3 = Counter(d3.values())["contaminated"]
    c8 = Counter(d8.values())["contaminated"]
    assert c8 <= c3
    # planted evidence is width-independent at these widths
    assert d8[9_800_007] == "benchmark"
    assert d8[9_800_008] == "contaminated"
    # the two widths are run independently (no cross-pipeline bleed)
    assert decisions(_recipe(spark, sf_dir, "v4")) == d3


def test_pipeline_decontaminate_shingle_width(spark, sf_dir):
    """The facade knob: on THESE fixtures the n=8 survivor set is a
    superset of the n=3 survivors (random 3-gram collisions dominate,
    so widening unflags; not a universal invariant — see the width-knob
    test above)."""
    from hive_gateway_spark.pipeline import CurationPipeline
    from hive_gateway_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "text")
    run = lambda n: {  # noqa: E731
        r["doc_id"]
        for r in CurationPipeline(spark)
        .from_frame(docs)
        .decontaminate(shingle_n=n)
        .run()
        .collect()
    }
    s3, s8 = run(3), run(8)
    assert s3 <= s8


def test_curation_v4_manifest_exports_through_lakehouse(spark, sf_dir, tmp_path):
    """The manifest is the frame a training job consumes: it must
    round-trip through dataset_export (partitioned by split) with a
    verifying manifest — the v4 pipeline's lakehouse landing."""
    from hive_gateway_spark.registry import QUERIES
    from hive_gateway_spark.sources.dataset_export import (
        verify_dataset,
        write_dataset,
    )

    out = QUERIES["q_curation_v4"](spark, sf_dir)
    path = str(tmp_path / "corpus_v4")
    man = write_dataset(out, path, partition_by=["split"])
    assert man["n_rows"] == out.count() > 0
    assert verify_dataset(spark, path)["ok"]
    back = spark.read.parquet(path)
    assert {r["split"] for r in back.select("split").distinct().collect()} <= {
        "train",
        "val",
        "test",
    }


def test_curation_v5_funnel_manifest_equality(spark, sf_dir):
    """VERDICT r12 task #5's equality pin, v5 edition: the v5 funnel
    and the v5 manifest are two views of one gated chain — 'selected'
    counts the manifest exactly; 'quality_fail' + 'selected' equals
    v4's 'selected' (the gate only splits that bucket; every upstream
    attribution is v4's verbatim); totals still cover every input doc;
    and both buckets are non-vacuous on the fixture."""
    from hive_gateway_spark.registry import QUERIES

    f4 = {
        r["decision"]: r["n_docs"]
        for r in QUERIES["q_curation_v4_funnel"](spark, sf_dir).collect()
    }
    f5 = {
        r["decision"]: r["n_docs"]
        for r in QUERIES["q_curation_v5_funnel"](spark, sf_dir).collect()
    }
    v5_ids = {
        r["doc_id"] for r in QUERIES["q_curation_v5"](spark, sf_dir).collect()
    }
    assert f5["selected"] == len(v5_ids) > 0
    assert f5.get("quality_fail", 0) > 0, "vacuous classifier gate"
    assert f5["selected"] + f5["quality_fail"] == f4["selected"]
    for stage in set(f4) - {"selected"}:
        assert f5[stage] == f4[stage], stage
    assert sum(f5.values()) == sum(f4.values())


def test_curation_v5_manifest_exports_through_lakehouse(spark, sf_dir, tmp_path):
    """The v5 manifest lands through dataset_export exactly like v4's
    (partitioned by split, verifying manifest) — the facade-level
    export pin the flagship recipe ships with."""
    from hive_gateway_spark.registry import QUERIES
    from hive_gateway_spark.sources.dataset_export import (
        verify_dataset,
        write_dataset,
    )

    out = QUERIES["q_curation_v5"](spark, sf_dir)
    path = str(tmp_path / "corpus_v5")
    man = write_dataset(out, path, partition_by=["split"])
    assert man["n_rows"] == out.count() > 0
    assert verify_dataset(spark, path)["ok"]


def test_phrase_search_matches_substring_count(spark, sf_dir):
    """Tokenizer-independent cross-check: fixture text is single-space
    separated, so phrase hits equal whole-word substring occurrences of
    ' '.join(PHRASE_QUERY) counted directly on the raw strings."""
    from hive_gateway_spark.operators.text import PHRASE_QUERY
    from hive_gateway_spark.session import load_tables

    got = {
        r["doc_id"]: r
        for r in registry.QUERIES["q_phrase_search"](spark, sf_dir).collect()
    }
    phrase = " ".join(PHRASE_QUERY)
    expected: dict[int, int] = {}
    for r in load_tables(spark, sf_dir)["documents"].select("doc_id", "text").collect():
        words = r["text"].split(" ")
        n = sum(
            1
            for i in range(len(words) - len(PHRASE_QUERY) + 1)
            if words[i : i + len(PHRASE_QUERY)] == list(PHRASE_QUERY)
        )
        if n:
            expected[r["doc_id"]] = n
    assert {d: r["n_matches"] for d, r in got.items()} == expected
    for r in got.values():
        assert r["first_pos"] >= 1
    assert phrase == " ".join(PHRASE_QUERY)
