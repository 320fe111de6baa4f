"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line.

Methodology: every query runs three times — an untimed warmup (fills
Spark's whole-stage-codegen cache; Janino compilation of a fresh plan
shape costs seconds in this sandbox and is a one-time cost irrelevant
at 100 TB) and TWO timed steady-state runs, reporting the min.
`cold_sec` records the warmup pass for transparency. Min-of-2 exists
because this microVM's effective CPU swings ~3× with host neighbors
(see CLAUDE.md) — a single timed pass regularly lands in a slow
window and misreports a regression.

Headline set:
- kg_pipeline: pages → segments → in-row gazetteer mentions + cap →
  triples+entities (kgp.plans.pipeline, the plan every entry point
  runs) on the deterministic synthetic pages table at the sf-matched
  scale (BASELINE.json metric — docs/sec reported as kg_docs_per_sec)
- kg_pipeline_arrow: the same cap over the Arrow/model extractor seam
- a spread of oracle-gated relational queries at the driver sf
"""

from __future__ import annotations

import json
import os
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from kgp.session import get_spark

    spark = get_spark("kgp-bench", cores=cpus)
    spark.sparkContext.setLogLevel("WARN")

    from kgp.operators.segment import extract_docs
    from kgp.plans.pipeline import capped_mentions, outputs_from_capped
    from kgp.queries import queries as all_queries
    from kgp.synth import pages_scale_for_sf, synth_pages

    n_pages = pages_scale_for_sf(sf_dir)
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}

    def timed(name, fn, record=True):
        """Untimed warmup → min-of-2 timed runs. Returns (sec, result).
        record=False keeps a side metric out of the headline totals."""
        t0 = time.perf_counter()
        out = fn()
        if record:
            cold[name] = round(time.perf_counter() - t0, 3)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        if record:
            timings[name] = round(best, 3)
        return best, out

    from pyspark import StorageLevel

    def run_kg(pages_df):
        # triples AND entities fan out from the capped-mentions table;
        # persist the shared prefix so the scan + extraction + cap
        # executes once (kgp.checkpoint does the same via a
        # stage-boundary parquet)
        capped = capped_mentions(extract_docs(pages_df)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            t, e = outputs_from_capped(capped)
            return t.count(), e.count()
        finally:
            capped.unpersist()

    # materialize input once (generation is not part of the measured
    # op) — same versioned cache the oracle-gated queries read
    from kgp.synth import materialize_pages

    pages = spark.read.parquet(materialize_pages(spark, n_pages))

    kg_sec, (n_triples, n_entities) = timed(
        "kg_pipeline", lambda: run_kg(pages)
    )

    # Arrow mapInPandas extractor (the real-model UDF shape) → same cap
    from pyspark.sql import functions as F

    from kgp.operators.ner import mention_arrays_arrow
    from kgp.operators.triples import build_triples
    from kgp.plans.pipeline import cap_mention_array_col, explode_mentions

    def run_arrow(pages_df):
        arrays = mention_arrays_arrow(extract_docs(pages_df))
        capped = explode_mentions(
            arrays, cap_mention_array_col(F.col("mentions"))
        )
        return build_triples(capped).count()

    _, nt_a = timed("kg_pipeline_arrow", lambda: run_arrow(pages))
    assert nt_a == n_triples, "arrow extractor diverged"

    for name in [
        "kg_triples",
        "kg_entity_doc_counts",
        "tpch_pricing_summary",
        "top_customers_by_revenue",
        "events_monthly_by_type",
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_groups",
        "ann_topk_bruteforce",
        "text_quality_score",
        "kg_canonical_entities",
    ]:
        fn = all_queries()[name]
        timed(name, lambda fn=fn: fn(spark, sf_dir).count())

    # production minhash family (xxhash64) — side metric, NOT part of
    # the headline total so round-over-round totals stay comparable
    from kgp.operators.dedup import near_dup_pairs_minhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # Time CONSTRUCTION + execution: lsh_candidate_pairs eagerly
    # localCheckpoints the bands table at build time, so a
    # pre-constructed DataFrame would only re-read checkpoint blocks
    # and the metric would omit the dominant digest stage.
    best, _ = timed(
        "minhash_fast",
        lambda: near_dup_pairs_minhash(
            docs, threshold=0.5, family="fast"
        ).count(),
        record=False,
    )
    minhash_fast_sec = round(best, 3)

    # iterative graph kernel (integer PageRank, 3 iterations over the
    # entity co-occurrence graph) — side metric, keeps headline totals
    # round-comparable
    pr_fn = all_queries()["kg_pagerank"]
    best, _ = timed(
        "kg_pagerank",
        lambda: pr_fn(spark, sf_dir).count(),
        record=False,
    )
    pagerank_sec = round(best, 3)

    # C4 span-level dedup over the documents table (the heaviest new
    # training-data operator: corpus-wide span groupBy + count join +
    # per-doc reassembly) — side metric, keeps headline comparable
    from kgp.operators.dedup import span_dedup_stats

    best, _ = timed(
        "span_dedup",
        lambda: span_dedup_stats(docs).count(),
        record=False,
    )
    span_dedup_sec = round(best, 3)

    # per-doc keyword extraction (explode → tf/df rollups → windowed
    # top-k; corpus scanned once via the eager tf materialization) —
    # side metric. Construction included: tfidf_top_terms eagerly
    # localCheckpoints the tf table at build time.
    from kgp.operators.textstats import tfidf_top_terms

    best, _ = timed(
        "tfidf_top_terms",
        lambda: tfidf_top_terms(docs).count(),
        record=False,
    )
    tfidf_sec = round(best, 3)

    total = round(sum(timings.values()), 3)
    spark.stop()

    # substrate control LAST (idle box, no Spark contention): this
    # snapshot's slow-host correction factor. The microVM's effective
    # CPU swings ~3× with host neighbors; the round-4 driver snapshot
    # read every query 1.03-1.72× an idle-box re-run of identical code.
    # A reader normalizes any timing by (sec_per_proc_n of a reference
    # run / sec_per_proc_n here); ceiling is the N→4N per-core ratio at
    # the widths the control reports.
    from kgp.substrate import substrate_control

    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cold_sec": cold,
                "sf": sf_dir,
                "cpus": cpus,
                "minhash_fast_sec": minhash_fast_sec,
                "pagerank_sec": pagerank_sec,
                "span_dedup_sec": span_dedup_sec,
                "tfidf_sec": tfidf_sec,
                "kg_docs_per_sec": round(n_pages / kg_sec, 1),
                "kg_pages": n_pages,
                "kg_triples": n_triples,
                "kg_entities": n_entities,
                "substrate_control": substrate_control(repeats=3),
            }
        )
    )


if __name__ == "__main__":
    main()
