"""Resumable staged pipeline: stage-boundary materialization +
snapshot-watermark resume (SURVEY §4 item 6, §7.2 'streaming state').

Protocol per stage:
1. if lineage has status='committed' for the stage AND the stage
   output's `_SUCCESS` marker exists → SKIP: log a 'skipped' lineage
   row and return a reader of the committed parquet;
2. else compute the stage DataFrame, write parquet (overwrite — a
   half-written attempt from a crash is clobbered, never merged),
3. read back per-partition row counters from the committed files'
   footers and append 'committed' lineage rows.

Crash-safety argument: parquet's `_SUCCESS` is written only after all
task commits. The 'committed' lineage rows are appended strictly after
that, as ONE ledger part file that is written under a hidden
`.part-<uuid>.tmp` name and becomes visible only when it is renamed to
`part-<uuid>.parquet` (kgp.lineage). Ledger readers skip hidden names,
so a kill at ANY point leaves the stage either uncommitted (no
`_SUCCESS`, or no visible committed row — at worst an inert hidden
temp file ⇒ rerun overwrites) or fully committed (⇒ skip). Steps 1
and 3's ledger work is driver-only metadata I/O through the Hadoop
FileSystem — a few small-file reads, one small write and one rename
per stage, never a Spark job — so resume bookkeeping costs tens of
milliseconds per stage, not a job per call. The same two-phase marker maps to
an Iceberg snapshot-commit in a catalog deployment — this module is
the writer seam (SURVEY §1.3).

The full KG pipeline wired through the runner is build_kg_pipeline();
tests kill it between stages and assert the resumed run skips committed
stages and produces byte-identical final tables.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kgp import lineage as L


class StageRunner:
    """Executes named stages with skip-on-committed resume."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str | None = None,
    ) -> None:
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.executed: list[str] = []
        self.skipped: list[str] = []

    def stage_path(self, name: str) -> str:
        return f"{self.out_dir}/{name}"

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or skip) one stage; returns a reader of its output.
        ``partition_by`` hive-partitions the stage output (the lineage
        footer counters read one directory level down already)."""
        path = self.stage_path(name)
        t0 = L.now_s()
        if L.stage_committed(self.spark, self.out_dir, name):
            self.skipped.append(name)
            L.append_lineage(
                self.spark, self.out_dir, self.run_id, name,
                L.STATUS_SKIPPED, t0,
            )
            return self.spark.read.parquet(path)
        try:
            w = build().write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
        except Exception as e:  # record the failure, then surface it
            L.append_lineage(
                self.spark, self.out_dir, self.run_id, name,
                L.STATUS_FAILED, t0, error=str(e)[:500],
            )
            raise
        counts = L.per_partition_counts(self.spark, path)
        L.append_lineage(
            self.spark, self.out_dir, self.run_id, name,
            L.STATUS_COMMITTED, t0, counts=counts,
        )
        self.executed.append(name)
        return self.spark.read.parquet(path)


def build_kg_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_id: str | None = None,
    stop_after: str | None = None,
    repartition: int | None = None,
) -> StageRunner:
    """The flagship pipeline as resumable stages:

    pages → docs (S3/S4 byte-identical text) → mentions (F1/P3) →
    capped (A1/T4) → triples (J1/S6) + entities (S5).

    `stop_after` simulates a crash at a stage boundary (tests).
    Stage boundaries match SURVEY §3.1's Spark rebuild; intermediate
    materialization is the price of resume — at 100 TB you pay one
    extra parquet round-trip per stage and buy partition-level restart.
    """
    from kgp.operators.ner import gazetteer_df, mentions_relational
    from kgp.operators.segment import extract_docs
    from kgp.operators.triples import (
        build_entities,
        build_triples,
        cap_mentions,
    )
    from kgp.skew import repartition_by_url_hash

    runner = StageRunner(spark, out_dir, run_id)

    def _docs() -> DataFrame:
        pages = spark.read.parquet(pages_path)
        if repartition:
            pages = repartition_by_url_hash(pages, repartition)
        return extract_docs(pages)

    docs = runner.stage("docs", _docs)
    if stop_after == "docs":
        return runner

    mentions = runner.stage(
        "mentions",
        lambda: mentions_relational(docs, gazetteer_df(spark)),
    )
    if stop_after == "mentions":
        return runner

    capped = runner.stage("capped", lambda: cap_mentions(mentions))
    if stop_after == "capped":
        return runner

    runner.stage("triples", lambda: build_triples(capped))
    if stop_after == "triples":
        return runner

    runner.stage("entities", lambda: build_entities(capped))
    return runner


def build_training_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_id: str | None = None,
    min_quality_e4: int = 4000,
    keep_langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.85,
    repartition: int | None = None,
    stop_after: str | None = None,
    benchmark_path: str | None = None,
    max_dup_ratio_e4: int | None = None,
    max_per_domain: int | None = None,
    max_tokens_per_doc: int | None = None,
    span_dedup_tokens: int | None = None,
    span_hot_cap: int | None = None,
) -> StageRunner:
    """LLM training-data prep as resumable stages — the cleaning
    recipe every web-corpus pipeline runs (C4/Gopher/RefinedWeb
    lineage), composed from the first-class operators:

    pages → docs (S4 byte-identical text)
          → filtered   (lang-ID + quality-score gate, textstats;
                        with ``max_dup_ratio_e4`` also the Gopher
                        repetition rule — drop docs whose duplicate-
                        2-gram fraction exceeds the threshold)
          → deduped    (exact md5 keep-min, then MinHash-LSH near-dup
                        pruning with the xxhash64 production family —
                        candidates only, never all-pairs)
          → decontaminated (only when ``benchmark_path`` is given:
                        drop docs sharing any 3-token shingle with the
                        eval set — GPT-3 appendix-C policy; eval gram
                        set broadcast, kgp.operators.dedup
                        .ngram_contamination)
          → span_cleaned (only when ``span_dedup_tokens`` is given:
                        C4 §2.2 span-level dedup as a text rewrite —
                        duplicated k-token blocks removed corpus-wide,
                        first occurrence kept; docs losing no block
                        ride through byte-identical. Runs AFTER
                        doc-level dedup and decontamination so both
                        compare full documents (same rationale as
                        truncation); ``span_hot_cap`` opts into the
                        boilerplate-hot-span skew guard.
                        kgp.operators.dedup.span_cleaned_docs)
          → capped     (only when ``max_per_domain`` is given: keep
                        the ``max_per_domain`` highest-quality docs
                        per url domain — mega-domain quota, the
                        RefinedWeb-style mitigation for zipf-head
                        hosts dominating the training mix;
                        kgp.operators.sources.cap_per_key with a
                        (quality_e4 DESC, doc_id) total order)
          → truncated  (only when ``max_tokens_per_doc`` is given: cap
                        each doc at its first N whitespace tokens —
                        original whitespace preserved, at-or-under-cap
                        docs byte-identical; the P4-style length
                        policy as a pipeline stage,
                        kgp.operators.textstats.truncate_tokens. Runs
                        AFTER dedup/decontamination so those compare
                        full documents, not truncated prefixes)
          → split      (reproducible md5-bucket train/val/test,
                        hive-partitioned by split so a trainer reads
                        its split with partition pruning, no scan)

    Every stage commits through the lineage ledger (counters from
    parquet footers); rerunning with the same out_dir skips committed
    stages. Near-dup pruning keeps the lexicographically-smallest
    doc_id of each candidate pair that verifies above
    ``near_dup_threshold`` — the same keep-min policy as exact dedup,
    so the surviving set is deterministic regardless of partitioning.
    """
    from pyspark.sql import functions as F

    from kgp.operators.dedup import near_dup_pairs_minhash
    from kgp.operators.sampling import hash_split
    from kgp.operators.segment import extract_docs
    from kgp.operators.textstats import (
        dup_ratio_e4_sql,
        lang_best_col,
        quality_e4_sql,
    )
    from kgp.skew import repartition_by_url_hash

    runner = StageRunner(spark, out_dir, run_id)

    def _docs() -> DataFrame:
        pages = spark.read.parquet(pages_path)
        if repartition:
            pages = repartition_by_url_hash(pages, repartition)
        return extract_docs(pages)

    docs = runner.stage("docs", _docs)
    if stop_after == "docs":
        return runner

    def _filtered() -> DataFrame:
        # all cleaning rules are per-row expressions compiled from the
        # SAME definitions as the oracle-gated operators
        # (quality_e4_sql / lang_best_col / dup_ratio_e4_sql), appended
        # as projected columns — ZERO shuffles, no doc_id self-joins
        # (plan-asserted in test_plans.py); at corpus scale this stage
        # pipelines straight into the scan.
        out = docs.select(
            "*",
            F.expr(quality_e4_sql("extracted_text")).alias(
                "quality_e4"
            ),
            lang_best_col(F.col("extracted_text"))
            .getField("lang")
            .alias("pred_lang"),
        ).filter(
            (F.col("quality_e4") >= min_quality_e4)
            & F.col("pred_lang").isin(*keep_langs)
        )
        if max_dup_ratio_e4 is not None:
            out = out.filter(
                F.expr(dup_ratio_e4_sql("extracted_text"))
                <= max_dup_ratio_e4
            )
        return out

    filtered = runner.stage("filtered", _filtered)
    if stop_after == "filtered":
        return runner

    def _deduped() -> DataFrame:
        # exact: one row per md5(text), keeper = min doc_id (one
        # shuffle, map-side partial agg), re-joined to recover columns
        keep = (
            filtered.groupBy(
                F.md5(F.col("extracted_text")).alias("_h")
            )
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        exact = filtered.join(keep, "doc_id")
        # fuzzy: LSH candidates only; drop the larger id of each
        # verified pair (anti-join on the loser set)
        pairs = near_dup_pairs_minhash(
            exact,
            id_col="doc_id",
            text_col="extracted_text",
            threshold=near_dup_threshold,
            family="fast",
        )
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        return exact.join(losers, "doc_id", "left_anti")

    deduped = runner.stage("deduped", _deduped)
    if stop_after == "deduped":
        return runner

    final = deduped
    if benchmark_path is not None:
        from kgp.operators.dedup import ngram_contamination

        def _decontaminated() -> DataFrame:
            bench = spark.read.parquet(benchmark_path)
            bench_text = (
                "extracted_text"
                if "extracted_text" in bench.columns
                else "text"
            )
            flagged = ngram_contamination(
                deduped,
                bench,
                id_col="doc_id",
                text_col="extracted_text",
                bench_text_col=bench_text,
            )
            return deduped.join(
                flagged.select("doc_id"), "doc_id", "left_anti"
            )

        final = runner.stage("decontaminated", _decontaminated)
        if stop_after == "decontaminated":
            return runner

    if span_dedup_tokens is not None:
        from kgp.operators.dedup import span_cleaned_docs

        def _span_cleaned(src: DataFrame = final) -> DataFrame:
            return span_cleaned_docs(
                src,
                id_col="doc_id",
                text_col="extracted_text",
                k=span_dedup_tokens,
                hot_span_cap=span_hot_cap,
            )

        final = runner.stage("span_cleaned", _span_cleaned)
        if stop_after == "span_cleaned":
            return runner

    if max_per_domain is not None:
        from kgp.operators.sources import cap_per_key, domain_col

        def _capped(src: DataFrame = final) -> DataFrame:
            # quality_e4 was projected in the filter stage and rides
            # through both dedup joins, so the quota keeps the BEST
            # k docs of each domain, not an arbitrary k
            return cap_per_key(
                src.withColumn("_domain", domain_col("url")),
                F.col("_domain"),
                [F.desc("quality_e4"), F.asc("doc_id")],
                max_per_domain,
            ).drop("_domain", "rank")

        final = runner.stage("capped", _capped)
        if stop_after == "capped":
            return runner

    if max_tokens_per_doc is not None:
        from kgp.operators.textstats import truncate_tokens

        def _truncated(src: DataFrame = final) -> DataFrame:
            # narrow per-row projection — zero shuffle, pipelines into
            # the capped stage's scan
            return truncate_tokens(
                src, max_tokens_per_doc, text_col="extracted_text"
            )

        final = runner.stage("truncated", _truncated)
        if stop_after == "truncated":
            return runner

    runner.stage(
        "split",
        lambda: hash_split(final),
        partition_by=["split"],
    )
    return runner
