"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: every CPU this process may run on).
Prints ONE JSON line.

Methodology: every op runs three times — an untimed warmup (fills
Spark's whole-stage-codegen cache; Janino compilation of a fresh plan
shape costs seconds) and TWO timed steady-state runs,
reporting the min. `cold_sec` records the warmup pass. Min-of-2 exists
because this microVM's effective CPU swings ~3× with host neighbors.
Every DataFrame drains through Spark's `noop` sink, as perfbench does,
so an op is timed on every column it produces.

Each op is declared once in `ops`, as (key, thunk, headline):
- headline ops fill `queries`/`cold_sec` and sum to `value`:
  kg_pipeline (pages → docs → in-row gazetteer mentions + cap →
  triples + entities, kgp.plans.pipeline, the plan every entry point
  runs, over the synthetic pages table at the sf-matched scale; also
  reported as kg_docs_per_sec), kg_pipeline_arrow (the same cap over
  the Arrow/model extractor seam) and a spread of oracle-gated
  relational queries at $SPARK_GRAFT_SF_DIR;
- side ops report `<key>_sec` only, so headline totals stay
  comparable across rounds.
"""

from __future__ import annotations

import json
import os
import time

QUERIES = (
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
)


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure(thunk) -> tuple[float, float]:
    """One warmup run, then min-of-2 timed runs: (warmup s, best s)."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        thunk()
        runs.append(time.perf_counter() - t0)
    return round(runs[0], 3), round(min(runs[1:]), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(
        os.sched_getaffinity(0)
    )

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kgp.operators.dedup import near_dup_pairs_minhash, span_dedup_stats
    from kgp.operators.ner import mention_arrays_arrow
    from kgp.operators.segment import extract_docs
    from kgp.operators.textstats import tfidf_top_terms
    from kgp.operators.triples import build_triples
    from kgp.plans.pipeline import (
        cap_mention_array_col,
        capped_mentions,
        explode_mentions,
        outputs_from_capped,
    )
    from kgp.queries import queries as all_queries
    from kgp.session import get_spark
    from kgp.substrate import substrate_control
    from kgp.synth import materialize_pages, pages_scale_for_sf
    from perfbench.run import shutdown

    spark = get_spark("kgp-bench", cores=cpus)
    spark.sparkContext.setLogLevel("WARN")
    registry = all_queries()
    n_pages = pages_scale_for_sf(sf_dir)
    # materialized once: generation is not part of any measured op
    pages = spark.read.parquet(materialize_pages(spark, n_pages))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def run_kg(sink) -> list:
        # triples AND entities fan out from the capped-mentions table;
        # persist the shared prefix so scan + extraction + cap execute
        # once (kgp.checkpoint does the same with a stage-boundary write)
        capped = capped_mentions(extract_docs(pages)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            return [sink(df) for df in outputs_from_capped(capped)]
        finally:
            capped.unpersist()

    def arrow_triples():
        arrays = mention_arrays_arrow(extract_docs(pages))
        return build_triples(
            explode_mentions(arrays, cap_mention_array_col(F.col("mentions")))
        )

    def query(name):
        return lambda: drain(registry[name](spark, sf_dir))

    # lsh_candidate_pairs and tfidf_top_terms localCheckpoint eagerly at
    # build time, so every thunk builds its DataFrame as well as draining
    # it: a prebuilt one would only re-read checkpoint blocks
    ops = [
        ("kg_pipeline", lambda: run_kg(drain), True),
        ("kg_pipeline_arrow", lambda: drain(arrow_triples()), True),
        *((name, query(name), True) for name in QUERIES),
        # production minhash family (xxhash64)
        ("minhash_fast", lambda: drain(
            near_dup_pairs_minhash(docs, threshold=0.5, family="fast")
        ), False),
        # integer PageRank, 3 iterations over the entity co-occurrence graph
        ("pagerank", query("kg_pagerank"), False),
        # C4 span-level dedup: corpus-wide span groupBy + count join
        ("span_dedup", lambda: drain(span_dedup_stats(docs)), False),
        # per-doc keywords: explode → tf/df rollups → windowed top-k
        ("tfidf", lambda: drain(tfidf_top_terms(docs)), False),
    ]
    queries, cold, side = {}, {}, {}
    try:
        for key, thunk, headline in ops:
            c, best = measure(thunk)
            if headline:
                queries[key], cold[key] = best, c
            else:
                side[f"{key}_sec"] = best
        n_triples, n_entities = run_kg(lambda df: df.count())
        assert arrow_triples().count() == n_triples, "arrow extractor diverged"
    finally:
        # no JVM or Python worker may outlive Spark
        shutdown(spark)

    # substrate control LAST (idle box, no Spark contention): this
    # snapshot's slow-host correction factor. A reader normalizes any
    # timing by (sec_per_proc_n of a reference run / sec_per_proc_n
    # here); ceiling is the N→4N per-core ratio at the control's widths.
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": round(sum(queries.values()), 3),
                "unit": "sec",
                "queries": queries,
                "cold_sec": cold,
                "sf": sf_dir,
                "cpus": cpus,
                **side,
                "kg_docs_per_sec": round(n_pages / queries["kg_pipeline"], 1),
                "kg_pages": n_pages,
                "kg_triples": n_triples,
                "kg_entities": n_entities,
                "substrate_control": substrate_control(repeats=3),
            }
        )
    )


if __name__ == "__main__":
    main()
