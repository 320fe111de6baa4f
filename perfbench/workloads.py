"""The benchmark's workloads: what one pass runs and how its output is
checked.

Every workload is a closed loop of passes over one seeded input. The
warm-up pass is a clean run over the first input files; each timed pass
is a crash and a resume:
the pipeline stops at a stage boundary in a fresh directory, then the
same call runs again there and finishes from the committed stages. A
timed pass therefore still takes the input to every output committed,
and the resumed call alone gives ``resume_s``.

The crash comes right before the layer under test (after ``docs`` on
``kg_build``, after ``filtered`` on ``prep_dedup``), so the resumed call
runs relational ``ner`` or MinHash-LSH dedup and ``resume_s`` moves with
it, and so the crash point stays a stage when later stages are merged.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from typing import Callable

from perfbench import checks

SPAN_DEDUP_TOKENS = 10
MAX_PER_DOMAIN = 100
# 16 files at 4 MB scan splits: every scan runs four task waves on 4 cores
N_FILES = 16


@dataclass
class Workload:
    name: str
    why: str
    n_pages: int
    shared: bool  # banner and template slices (inputs.py)
    crash_after: str
    run: Callable  # (spark, pages_dir, out_dir, stop_after) -> StageRunner
    # (out_dir, pages_dir, expected, reference digest) -> (problems, digest)
    check: Callable
    expected: Callable = field(default=lambda pages_dir: None)


def _kg_run(spark, pages_dir, out_dir, stop_after=None):
    from kgp.checkpoint import build_kg_pipeline

    return build_kg_pipeline(spark, pages_dir, out_dir, stop_after=stop_after)


def _kg_check(out_dir, pages_dir, expected, ref):
    digest = {
        "triples": checks.table_digest(f"{out_dir}/triples", checks.TRIPLE_COLS),
        "entities": checks.table_digest(f"{out_dir}/entities", checks.ENTITY_COLS),
    }
    problems = [
        f"{table} differ from the DuckDB twin"
        for table in digest
        if digest[table] != expected[table]
    ]
    if checks.docs_law_violations(f"{out_dir}/docs", pages_dir):
        problems.append("docs break the extracted_text law")
    if ref is not None and digest != ref:
        problems.append("outputs differ from the first timed pass")
    return problems, digest


def _prep_run(spark, pages_dir, out_dir, stop_after=None):
    from kgp.checkpoint import build_training_pipeline

    return build_training_pipeline(
        spark,
        pages_dir,
        out_dir,
        span_dedup_tokens=SPAN_DEDUP_TOKENS,
        max_per_domain=MAX_PER_DOMAIN,
        stop_after=stop_after,
    )


def _prep_check(out_dir, pages_dir, expected, ref):
    digest = checks.split_digest(out_dir)
    problems = checks.prep_violations(out_dir, MAX_PER_DOMAIN)
    if digest[0] == 0:
        problems.append("split output is empty")
    if checks.docs_law_violations(f"{out_dir}/docs", pages_dir):
        problems.append("docs break the extracted_text law")
    if ref is not None and digest != ref:
        problems.append("split differs from the first timed pass")
    return problems, digest


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="kg_build",
            why=(
                "the shipped batch KG path: segment, relational ner, "
                "triples, checkpoint and lineage do the work; no dedup"
            ),
            n_pages=32000,
            shared=False,
            crash_after="docs",
            run=_kg_run,
            expected=checks.expected_kg,
            check=_kg_check,
        ),
        Workload(
            name="prep_dedup",
            why=(
                "training prep with 5% banner and 1% template pages: "
                "MinHash-LSH dedup with a hot bucket, span dedup and domain "
                "caps do the work; no KG extraction"
            ),
            n_pages=3000,
            shared=True,
            crash_after="filtered",
            run=_prep_run,
            check=_prep_check,
        ),
    ]
}


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# traced run only: the Arrow-UDF extractor lane and the streaming lane over
# the kg_build input, so their layers are measured on one workload
# ---------------------------------------------------------------------------

def udf_lane(spark, tracer, pages_dir: str) -> tuple[int, str]:
    """extract_docs -> mention_arrays_arrow -> cap_mention_array_col ->
    outputs_from_capped. The capped prefix is persisted once and both
    outputs drain through a noop sink. Returns the triples digest."""
    from pyspark.sql import functions as F

    from kgp.operators.ner import mention_arrays_arrow
    from kgp.operators.segment import extract_docs
    from kgp.plans.pipeline import cap_mention_array_col, outputs_from_capped

    docs = extract_docs(spark.read.parquet(pages_dir))
    capped = (
        mention_arrays_arrow(docs)
        .select("url", F.explode(cap_mention_array_col(F.col("mentions"))).alias("m"))
        .select("url", "m.surface", "m.label", "m.first_offset")
        .persist()
    )
    try:
        with tracer.span("ner.arrow_extract"):
            capped.count()
        triples, entities = outputs_from_capped(capped)
        with tracer.span("triples.outputs"):
            triples.write.format("noop").mode("overwrite").save()
            entities.write.format("noop").mode("overwrite").save()
        return checks.digest_rows(
            tuple(r) for r in triples.select(*checks.TRIPLE_COLS).collect()
        )
    finally:
        capped.unpersist()


STREAM_FILES = 8  # two micro-batches at the code's maxFilesPerTrigger=4
STREAM_ROWS = 500  # pages per streamed file, whatever the input size


def stream_lane(spark, tracer, pages_dir: str, work: str) -> dict:
    """availableNow drain of STREAM_FILES files, the first STREAM_ROWS
    pages of the first input files, into a fresh sink, then compaction.
    Returns progress counters, the sink digest and the digest the
    DuckDB twin expects for those files."""
    import glob
    import os

    import pyarrow.parquet as pq

    from kgp import streaming

    src, sink, ckpt = (fresh(f"{work}/{d}") for d in ("in", "sink", "ckpt"))
    os.makedirs(src)
    for f in sorted(glob.glob(f"{pages_dir}/*.parquet"))[:STREAM_FILES]:
        pq.write_table(pq.read_table(f).slice(0, STREAM_ROWS),
                       os.path.join(src, os.path.basename(f)))
    with tracer.span("streaming.drain"):
        query = streaming.start_kg_stream(spark, src, sink, ckpt)
        query.awaitTermination()
    progress = query.recentProgress
    sink_files = len(glob.glob(f"{sink}/*/*.parquet"))
    removed = streaming.compact_triples_sink(spark, sink)
    durations = [p["durationMs"] for p in progress if p["numInputRows"] > 0]
    return {
        "batches": len(durations),
        "trigger_s": [d.get("triggerExecution", 0) / 1000 for d in durations],
        "add_batch_s": sum(d.get("addBatch", 0) for d in durations) / 1000,
        "overhead_s": sum(
            d.get(k, 0)
            for d in durations
            for k in ("getBatch", "queryPlanning", "walCommit")
        ) / 1000,
        "sink_files": sink_files,
        "compact_removed": removed,
        "digest": checks.table_digest(sink, checks.TRIPLE_COLS),
        "expected": checks.expected_kg(src)["triples"],
    }
