"""The curation engine: a fluent chain of document stages, and the
recipes the registered curation queries run.

    from hive_gateway_spark.pipeline import CurationPipeline

    pipe = (
        CurationPipeline(spark)
        .read_parquet("/data/corpus")       # or .from_frame(docs_df)
        .remove_boilerplate()
        .gate_tokens(5, 512)
        .dedup_exact()
        .drop_span_duplicates(0.6)
        .select_dsir(top=200)
    )
    selected = pipe.run()                   # → the surviving docs
    why = pipe.trace()                      # → (doc_id, lang, decision, detail)
    pipe.export("/data/corpus_v3", partition_by=["lang"])

Each stage is a docs-frame → docs-frame transform over the (doc_id,
lang, text) shape, built on the verified operators under operators/.
The registered curation queries ARE pipelines: q_curation_v3 and
q_curation_v4 run corpus.V3_RECIPE and corpus.V4_RECIPE, q_curation_v5
extends the v4 pipeline with gate_quality(0.0), and their trace and
funnel queries project or GROUP BY trace(). So the DuckDB oracles of
those queries pin the stages themselves (corpus._recipe).

run() folds the stages once, checkpointing each boundary; trace() reads
that same fold, so a chain executes once whichever is called first. A
stage that drops documents names its decision: a doc's decision is the
label of the first stage that dropped it (the stage's input anti-joined
with its output), or 'selected'. Rewrite stages (remove_boilerplate,
split_pack) keep every doc and name none.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from hive_gateway_spark.operators.corpus import (
    boilerplate_report,
    dsir_report,
    substring_report,
)

#: docs → survivors, or (survivors, evidence about the dropped docs).
Stage = Callable[[DataFrame], DataFrame | tuple[DataFrame, DataFrame]]
#: (dropped input rows, stage output, evidence) → (doc_id, decision, detail).
Why = Callable[[DataFrame, DataFrame, DataFrame | None], DataFrame]


def _no_detail() -> Column:
    return F.lit(None).cast("bigint").alias("detail")


def _dropped_as(decision: str | Callable[[], Column]) -> Why:
    """The Why of a stage whose drops carry no evidence: a fixed label,
    or a label column over the dropped input rows."""

    def why(dropped: DataFrame, out: DataFrame, evidence) -> DataFrame:
        label = F.lit(decision) if isinstance(decision, str) else decision()
        return dropped.select("doc_id", label.alias("decision"), _no_detail())

    return why


class CurationPipeline:
    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._source: DataFrame | None = None
        self._parent: CurationPipeline | None = None
        self._stages: list[tuple[str, Stage, Why | None]] = []
        #: run()'s fold, (input, output, evidence, why) per stage; kept
        #: until trace() has read it.
        self._fold: list[tuple] = []
        self._result: DataFrame | None = None
        self._trace: DataFrame | None = None
        #: a registered recipe's pipeline is shared by concurrent server
        #: requests: one fold, and no trace() releasing what another reads
        self._lock = threading.RLock()

    # ------------------------------------------------------------ sources

    def read_parquet(self, sf_dir: str) -> "CurationPipeline":
        """Load the documents table from an sf-dir layout."""
        from hive_gateway_spark.session import load_tables

        self._source = load_tables(self._spark, sf_dir)["documents"]
        return self

    def from_frame(self, docs: DataFrame) -> "CurationPipeline":
        """Start from any frame with (doc_id, lang, text)."""
        self._source = docs
        return self

    def extend(self) -> "CurationPipeline":
        """A pipeline over this one's result whose trace() continues
        this one's: a doc its own stages drop takes their decision, every
        other doc keeps the one this pipeline gave it."""
        child = CurationPipeline(self._spark)
        child._parent = self
        return child

    # ------------------------------------------------------------- stages

    def _add(self, name: str, fn: Stage, why: Why | None = None) -> "CurationPipeline":
        self.release()  # the previous run lacks this stage
        self._stages.append((name, fn, why))
        return self

    def apply(self, recipe) -> "CurationPipeline":
        """Append a recipe: (stage method name, keyword arguments) pairs."""
        for name, kwargs in recipe:
            getattr(self, name)(**kwargs)
        return self

    def remove_boilerplate(self) -> "CurationPipeline":
        """Cut recurring chunks and rebuild each doc
        (q_boilerplate_chunks' core)."""

        def stage(docs: DataFrame) -> DataFrame:
            rebuilt = boilerplate_report(docs).select("doc_id", "clean_text")
            return rebuilt.join(docs.select("doc_id", "lang"), "doc_id").select(
                "doc_id", "lang", F.col("clean_text").alias("text")
            )

        return self._add("remove_boilerplate", stage)

    def gate_tokens(self, lo: int, hi: int) -> "CurationPipeline":
        """Keep docs whose token count is within [lo, hi]; the rest are
        too_short / too_long."""

        def ntok() -> Column:
            return F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("bigint")

        def stage(docs: DataFrame) -> DataFrame:
            return docs.withColumn("n_tokens", ntok()).filter(
                F.col("n_tokens").between(lo, hi)
            )

        why = _dropped_as(lambda: F.when(ntok() < lo, "too_short").otherwise("too_long"))
        return self._add("gate_tokens", stage, why)

    def dedup_exact(self) -> "CurationPipeline":
        """Keep the lowest doc_id per exact text; the rest are exact_dup,
        citing that doc_id."""

        def stage(docs: DataFrame) -> DataFrame:
            keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
            return docs.join(keep, ["text", "doc_id"])

        def why(dropped: DataFrame, out: DataFrame, evidence) -> DataFrame:
            kept = out.select("text", F.col("doc_id").alias("detail"))
            return dropped.join(kept, "text").select(
                "doc_id", F.lit("exact_dup").alias("decision"), "detail"
            )

        return self._add("dedup_exact", stage, why)

    def drop_span_duplicates(self, max_ratio: float = 0.6) -> "CurationPipeline":
        """Drop docs whose cross-doc duplicated-span coverage reaches
        max_ratio (q_dedup_substring's core) as span_dup, citing their
        covered-token count. The predicate is the exact integer form of
        the decimal ratio: den·dup_tokens ≥ num·n_tokens."""
        ratio = Fraction(str(max_ratio))
        num, den = ratio.numerator, ratio.denominator

        def stage(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
            sub = substring_report(docs.select("doc_id", "text"))
            dropped = (
                sub.filter(den * F.col("dup_tokens") >= num * F.col("n_tokens"))
                .select("doc_id", "dup_tokens")
                .localCheckpoint()
            )
            return docs.join(dropped.select("doc_id"), "doc_id", "left_anti"), dropped

        def why(dropped: DataFrame, out: DataFrame, cover: DataFrame) -> DataFrame:
            return dropped.join(cover, "doc_id").select(
                "doc_id", F.lit("span_dup").alias("decision"), F.col("dup_tokens").alias("detail")
            )

        return self._add("drop_span_duplicates", stage, why)

    def select_dsir(self, top: int) -> "CurationPipeline":
        """Deterministic DSIR top-N selection (q_dsir_weights' core),
        retrained on whatever reaches this stage; the rest are
        not_selected. Adds DSIR's logw and its n_tokens (non-empty
        tokens scored), which replaces any earlier n_tokens."""

        def stage(docs: DataFrame) -> DataFrame:
            sel = dsir_report(docs, top=top).select("doc_id", "n_tokens", "logw")
            return docs.drop("n_tokens").join(sel, "doc_id")

        return self._add("select_dsir", stage, _dropped_as("not_selected"))

    # ------------------------------------------------- v4 recipe stages

    def gate_gopher(self, stops: tuple[str, ...] | None = None) -> "CurationPipeline":
        """Keep docs passing the full Gopher rule battery
        (q_gopher_rules' core; ``stops`` swaps the function-word
        lexicon per corpus/language); the rest are gopher_fail."""

        def stage(docs: DataFrame) -> DataFrame:
            from hive_gateway_spark.operators.text import (
                _GOPHER_STOPS,
                gopher_report,
            )

            keep = gopher_report(docs, stops=stops or _GOPHER_STOPS).filter(
                "keep"
            ).select("doc_id")
            return docs.join(keep, "doc_id")

        return self._add("gate_gopher", stage, _dropped_as("gopher_fail"))

    def gate_quality(self, min_score: float = 0.0) -> "CurationPipeline":
        """Keep docs whose hashed-linear classifier score clears
        ``min_score`` (q_quality_classifier's core — the
        fasttext-style quality filter of the published pretraining
        recipes). A TRUE zero-shuffle map gate: the score folds
        in-row via quality_exprs and the gate is one filter — no
        second corpus scan, no join (code-review r12: the first
        spelling scored into a keep-set and joined back). Documents
        with zero tokens are outside the classifier's domain and are
        dropped regardless of ``min_score`` — same contract as
        q_quality_classifier's output. Drops are quality_fail."""

        def stage(docs: DataFrame) -> DataFrame:
            from hive_gateway_spark.operators.text import quality_exprs

            n_tok, num = quality_exprs()
            score = num.cast("double") / (500.0 * n_tok)
            return docs.filter((n_tok > 0) & (score > min_score))

        return self._add("gate_quality", stage, _dropped_as("quality_fail"))

    def decontaminate(
        self,
        bench_corpus: DataFrame | None = None,
        shingle_n: int | None = None,
    ) -> "CurationPipeline":
        """Drop the benchmark slice (dedup.is_benchmark) as benchmark
        AND every training doc sharing >= CONTAM_MIN_SHARED
        word-shingles with it as contaminated — dedup.contamination_pairs,
        the meet q_contamination runs, so the facade cannot desync from
        the registered queries. The training side is hinted
        ``shuffle_hash``, so the meet on the 8-byte hash never
        broadcasts the benchmark side, whose size the eval suites set.

        ``bench_corpus``: the frame the BENCHMARK shingle set is built
        from. Benchmark suites exist independently of quality gates, so
        it defaults to the pipeline's source, not the current frame —
        a benchmark doc an earlier gate dropped still protects against
        its near-dups (q_curation_v4 relies on this).

        ``shingle_n``: word-shingle width; defaults to dedup.SHINGLE_N
        (the fixture/oracle width, 3). 3-grams of a small vocabulary
        are COMMON — the corpus scale family (SCALE_corpus_c4.json)
        flags a large share of its zipf corpus at n=3 — so production
        screens should pass the
        8–13 range SCALE.md documents (the width published
        decontamination setups use)."""
        from hive_gateway_spark.operators.dedup import (
            SHINGLE_N,
            contamination_pairs,
            is_benchmark,
            shingle_hashes,
        )

        n = SHINGLE_N if shingle_n is None else shingle_n

        def stage(docs: DataFrame) -> DataFrame:
            src = self._input() if bench_corpus is None else bench_corpus
            sh = shingle_hashes(docs, n)
            bench = sh if src is docs else shingle_hashes(src, n)
            contaminated = (
                contamination_pairs(sh.hint("shuffle_hash"), bench)
                .select(F.col("train_id").alias("doc_id"))
                .distinct()
            )
            return docs.filter(~is_benchmark()).join(contaminated, "doc_id", "left_anti")

        def benchmark() -> Column:
            return F.when(is_benchmark(), "benchmark").otherwise("contaminated")

        return self._add("decontaminate", stage, _dropped_as(benchmark))

    def cut_perplexity_tail(self, tiles: int = 3) -> "CurationPipeline":
        """CCNet cut: retrain the bigram LM on the current frame, rank
        per lang by mean_nll via the scalable exact NTILE, drop the
        last (least fluent) of ``tiles`` tiles as ppl_tail."""

        def stage(docs: DataFrame) -> DataFrame:
            from hive_gateway_spark.operators.corpus import perplexity_report
            from hive_gateway_spark.operators.ranking import exact_ntile
            from hive_gateway_spark.staging import stage as _stage

            ppl = perplexity_report(docs)
            # staged: exact_ntile re-reads its input per ranking pass
            ranked = exact_ntile(
                _stage(
                    ppl.join(docs.select("doc_id", "lang"), "doc_id").select(
                        "lang", "doc_id", "mean_nll"
                    ),
                    "pipeline.ntile_input",
                ),
                tiles,
                "mean_nll",
                "doc_id",
                partition_cols=["lang"],
                out_col="t",
                tie_subsplit=False,
            )
            tail = ranked.filter(F.col("t") == tiles).select("doc_id")
            return docs.join(tail, "doc_id", "left_anti")

        return self._add("cut_perplexity_tail", stage, _dropped_as("ppl_tail"))

    def dedup_normalized(self) -> "CurationPipeline":
        """Keep the lowest doc_id per NORMALIZED text (casefold +
        punctuation-strip + whitespace-collapse — q_dedup_normalized's
        canonical election); the rest are norm_dup."""

        def stage(docs: DataFrame) -> DataFrame:
            norm = F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.upper(F.col("text")), "[^A-Z0-9 ]", ""),
                    " +",
                    " ",
                )
            )
            nn = docs.withColumn("__norm", norm)
            keymin = nn.groupBy("__norm").agg(F.min("doc_id").alias("doc_id"))
            return nn.join(keymin, ["__norm", "doc_id"]).drop("__norm")

        return self._add("dedup_normalized", stage, _dropped_as("norm_dup"))

    def split_pack(self) -> "CurationPipeline":
        """Terminal manifest stage: deterministic 80/10/10 hash split,
        hash shard, and contiguous cumsum token bins per (split, lang,
        shard) — q_split_assign + q_pack_sequences composed."""

        def stage(docs: DataFrame) -> DataFrame:
            from pyspark.sql import Window

            from hive_gateway_spark.operators.sampling import (
                _PACK_BUDGET,
                _PACK_SHARDS,
                _TRAIN_LT,
                _VAL_LT,
                _h,
            )
            from hive_gateway_spark.operators.text import _BPE_RE

            bucket = _h(F.col("doc_id")) % 1000
            split = (
                F.when(bucket < _TRAIN_LT, "train")
                .when(bucket < _VAL_LT, "val")
                .otherwise("test")
            )
            sized = docs.select(
                "*",
                split.alias("split"),
                (_h(F.col("doc_id")) % _PACK_SHARDS).alias("shard"),
                F.regexp_count("text", F.lit(_BPE_RE))
                .cast("bigint")
                .alias("__n_tok"),
            )
            w = (
                Window.partitionBy("split", "lang", "shard")
                .orderBy(F.col("doc_id").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            return sized.withColumn(
                "bin",
                F.floor(
                    (
                        (F.sum("__n_tok").over(w) - F.col("__n_tok")).cast(
                            "double"
                        )
                    )
                    / F.lit(_PACK_BUDGET)
                ).cast("bigint"),
            ).drop("__n_tok")

        return self._add("split_pack", stage)

    # ---------------------------------------------------------- execution

    def run(self, materialize: bool = True) -> DataFrame:
        """Fold the stages over the source once. Later calls, export(),
        append_to() and trace() reuse that fold until a stage is added.

        ``materialize`` (default) localCheckpoints each stage boundary —
        the staging-table pattern every multi-stage corpus build uses:
        stages like cut_perplexity_tail make several passes over their
        input (LM aggregate + ranking), so an unmaterialized chain
        re-executes the whole upstream per pass (measured 5× wall on
        the v4 chain). Pass False for one lazy end-to-end plan when the
        chain is single-pass; a trace() of it re-executes the stages.

        Block hygiene: the boundaries stay pinned until trace() has
        materialized (it compares each with the next), then only the
        result stays; release() frees the rest."""
        with self._lock:
            if self._result is None:
                cur, fold = self._input(), []
                for _, fn, why in self._stages:
                    got = fn(cur)
                    out, evidence = got if isinstance(got, tuple) else (got, None)
                    if materialize:
                        out = out.localCheckpoint()
                    fold.append((cur, out, evidence, why))
                    cur = out
                self._fold, self._result = fold, cur
            return self._result

    def trace(self) -> DataFrame:
        """(doc_id, lang, decision, detail), one row per source document.
        ``decision`` is the label of the first stage that dropped the doc
        or 'selected'; ``detail`` is that stage's evidence (the surviving
        doc_id of an exact dup, the covered-token count of a span drop)
        or NULL. Built from run()'s fold and materialized once; the stage
        boundaries are released only after it is."""
        from hive_gateway_spark.staging import release

        with self._lock:
            if self._trace is None:
                self.run()
                if self._parent is not None:
                    base = self._parent.trace()
                else:
                    base = self._input().select(
                        "doc_id", "lang", F.lit("selected").alias("decision"), _no_detail()
                    )
                drops = [
                    why(cur.join(out.select("doc_id"), "doc_id", "left_anti"), out, evidence)
                    for cur, out, evidence, why in self._fold
                    if why is not None
                ]
                if drops:
                    dropped = reduce(DataFrame.unionByName, drops).select(
                        "doc_id", F.col("decision").alias("d"), F.col("detail").alias("e")
                    )
                    base = base.join(dropped, "doc_id", "left").select(
                        "doc_id",
                        "lang",
                        F.coalesce("d", "decision").alias("decision"),
                        F.coalesce("e", "detail").alias("detail"),
                    )
                self._trace = base.localCheckpoint()
                release([out for _, out, _, _ in self._fold[:-1]])
                release([evidence for _, _, evidence, _ in self._fold])
                self._fold = []
            return self._trace

    def release(self) -> None:
        """Free every checkpoint this pipeline pinned; the next run() or
        trace() folds again. A source or parent result is not its to free."""
        from hive_gateway_spark.staging import release

        with self._lock:
            release([(out, evidence) for _, out, evidence, _ in self._fold])
            if self._stages:
                release(self._result)
            release(self._trace)
            self._fold, self._result, self._trace = [], None, None

    def _input(self) -> DataFrame:
        if self._parent is not None:
            return self._parent.run()
        if self._source is None:
            raise ValueError("no source: call read_parquet() or from_frame()")
        return self._source

    def export(self, path: str, partition_by: list[str] | None = None) -> dict:
        """write_dataset the result (running the pipeline if needed) and
        return the self-certifying manifest."""
        from hive_gateway_spark.sources.dataset_export import write_dataset

        return write_dataset(self.run(), path, partition_by=partition_by)

    def append_to(self, path: str) -> dict:
        """Commit the result onto an EXISTING export as manifest version
        N+1 (the daily-batch form: curate today's crawl with the same
        stage chain, append_dataset it — O(batch), snapshot-versioned).
        """
        from hive_gateway_spark.sources.dataset_export import append_dataset

        return append_dataset(self.run(), path)

    @property
    def stages(self) -> list[str]:
        return [n for n, _, _ in self._stages]
