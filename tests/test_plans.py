"""Physical-plan hygiene: pushdown, pruning, broadcast, shuffle count.

These assertions encode SURVEY §4's "free from Catalyst" claims — if a
refactor breaks pushdown or inflates shuffles, these fail before any
benchmark does.
"""

import pytest
from pyspark.sql import functions as F

from kgp.operators.segment import extract_docs
from kgp.plans.pipeline import capped_mentions
from kgp.synth import synth_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown_and_column_pruning(spark, tmp_path):
    p = str(tmp_path / "pages")
    synth_pages(spark, 50).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .filter(F.col("warc_ts") >= F.lit("2024-07-01"))
        .select("url", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(warc_ts)" in plan or \
           "GreaterThanOrEqual(warc_ts" in plan, plan
    # html (the fat binary column) must not be read
    scan_schema = plan[plan.index("ReadSchema"):].split("\n")[0]
    assert "html" not in scan_schema, scan_schema
    assert "url" in scan_schema and "lang" in scan_schema


def test_segmentation_is_shuffle_free(spark):
    """S3/S4 must be a narrow projection: no Exchange in the plan."""
    plan = _plan(extract_docs(synth_pages(spark, 20)))
    assert "Exchange" not in plan, plan


def test_capped_stage_is_narrow(spark, tmp_path):
    """The `capped` stage (extraction + per-doc cap over committed
    docs) is one narrow pass: no Exchange, no Window, no join."""
    p = str(tmp_path / "docs")
    extract_docs(synth_pages(spark, 20)).write.parquet(p)
    plan = _plan(capped_mentions(spark.read.parquet(p)))
    for op in ("Exchange", "Window", "Join"):
        assert op not in plan, plan


def test_dim_join_uses_broadcast_hash_join(spark):
    """top_customers: the customer dim is broadcast, orders never
    shuffles on the join key."""
    from kgp.queries import queries

    df = queries()["top_customers_by_revenue"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_temporal_search_topk_is_take_ordered(spark):
    """The final top-20 must plan as TakeOrderedAndProject (distributed
    per-partition top-k), never a row_number over a global Window
    (single-task sort of every deduped row)."""
    from kgp.queries import queries

    df = queries()["temporal_search_filtered"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_minhash_signature_stays_hash_aggregate(spark):
    """BIGINT signature chunks keep the K min-aggs in fixed-width
    hash-agg buffers; string mins would demote to SortAggregate (an
    extra per-partition sort on the widest stage of the LSH path)."""
    from kgp.operators.linking import minhash_signature, shingles_col

    docs = extract_docs(synth_pages(spark, 20))
    sets_df = docs.select(
        "url", shingles_col(F.col("extracted_text")).alias("_sh")
    )
    plan = _plan(minhash_signature(sets_df, "url", "_sh"))
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_repetition_stats_is_shuffle_free(spark, tmp_path):
    """Gopher repetition features are a per-row fold (sorted gram
    array), NOT an explode+groupBy — the plan must contain no Exchange
    at all, so the operator pipelines into the scan at any scale."""
    import pandas as pd

    from kgp.operators.textstats import repetition_stats

    p = str(tmp_path / "docs")
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b a b c", "x y"]}
    ).to_parquet(p + ".parquet")
    plan = _plan(repetition_stats(spark.read.parquet(p + ".parquet")))
    assert "Exchange" not in plan, plan


def test_triples_build_has_no_extra_shuffles(spark):
    """pages→triples: shuffles only where semantics require them — the
    edge dedup, exactly one hash exchange (the per-doc cap is
    in-row)."""
    from kgp.operators.triples import build_triples

    docs = extract_docs(synth_pages(spark, 20))
    plan = _plan(build_triples(capped_mentions(docs)))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} shuffles:\n{plan}"


def test_training_filter_stage_is_shuffle_free(spark):
    """The prep pipeline's cleaning stage (quality + lang + Gopher
    repetition rule) must be a pure projection over docs — no doc_id
    self-joins, no Exchange anywhere in the plan."""
    from pyspark.sql import functions as F

    from kgp.operators.textstats import (
        dup_ratio_e4_sql,
        lang_best_col,
        quality_e4_sql,
    )

    docs = extract_docs(synth_pages(spark, 20))
    out = docs.select(
        "*",
        F.expr(quality_e4_sql("extracted_text")).alias("quality_e4"),
        lang_best_col(F.col("extracted_text"))
        .getField("lang")
        .alias("pred_lang"),
    ).filter(
        (F.col("quality_e4") >= 3000)
        & F.col("pred_lang").isin("en")
        & (F.expr(dup_ratio_e4_sql("extracted_text")) <= 9000)
    )
    plan = _plan(out)
    assert "Exchange" not in plan, plan


def test_span_dedup_groupby_stays_hash_aggregate(spark, tmp_path):
    """No span aggregation sorts: since the round-4 window rewrite the
    span-key count/min run as ONE Window over the span key (its sort
    is the shuffle's, not an aggregate sort), and the per-doc
    reassembly stays ObjectHashAggregate (collect_list), also
    hash-based."""
    import pandas as pd

    from kgp.operators.dedup import span_dedup_stats

    p = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c d", "a b c d e"]}
    ).to_parquet(p)
    plan = _plan(span_dedup_stats(spark.read.parquet(p), k=2))
    assert "SortAggregate" not in plan, plan


def test_triangle_edges_materialized_once(spark):
    """triangle_counts references the edge table four times; the
    default materialize cuts its lineage so the (expensive) edge
    derivation is not replanned per reference — the executed plan must
    scan the checkpointed RDD, not replay upstream joins."""
    from kgp.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    ).join(  # give the edge table a non-trivial lineage
        spark.createDataFrame([("a",)], "src string").hint("broadcast"),
        "src",
        "left_semi",
    )
    plan = _plan(triangle_counts(edges))
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" not in plan.split("ExistingRDD")[0], plan


def test_domain_stats_prunes_html_from_scan(spark, tmp_path):
    """W1 reads url/text/lang only — the binary html column (the bulk
    of every page's bytes) must not appear in the scan's ReadSchema."""
    from kgp.operators.sources import domain_stats

    p = str(tmp_path / "pages")
    synth_pages(spark, 20).write.parquet(p)
    plan = _plan(domain_stats(spark.read.parquet(p)))
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "html" not in scan, scan
    assert "url" in scan and "text" in scan, scan


def test_tfidf_scans_corpus_once(spark, tmp_path):
    """The df rollup and the N count must feed from the materialized
    tf table (Catalyst does not reuse the exchange here) — exactly one
    parquet scan, pruned to (doc_id, text)."""
    from kgp.operators.textstats import tfidf_top_terms

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i % 3} common tail") for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(p)
    df = tfidf_top_terms(spark.read.parquet(p))
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 0, plan  # scan happened
    # inside the eager localCheckpoint; all consumers read its blocks
    assert "WindowGroupLimit" in plan, plan  # rank<=k pushed down


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _filters(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "Filter " in ln]


@pytest.mark.parametrize("family", ["fast", "oracle"])
def test_minhash_signature_splits_each_text_once(spark, family):
    """The shingle set is built once per row: its token array is bound
    as a lambda variable, so the optimized plan holds ONE split (a
    closed-over split is re-evaluated for every shingle), and no
    inferred Filter rebuilds the set below the explode."""
    from kgp.operators.linking import minhash_signature, shingles_col

    docs = extract_docs(synth_pages(spark, 20))
    sets_df = docs.select(
        "url", shingles_col(F.col("extracted_text")).alias("_sh")
    )
    plan = _optimized(minhash_signature(sets_df, "url", "_sh", family=family))
    assert plan.count("split(") == 1, plan
    assert not [f for f in _filters(plan) if "transform(" in f], plan


@pytest.mark.parametrize(
    "kernel",
    ["lang_best_col", "dup_ratio_e4_sql", "segment_pages",
     "char_shingles_col"],
)
def test_text_kernels_evaluate_per_row_input_once(spark, kernel):
    """Each text kernel evaluates its per-row input (the token split,
    the lowercased string) once: it appears once in the optimized
    plan, never once per closure reference, per language or in an
    inferred Filter."""
    from kgp.operators.linking import char_shingles_col
    from kgp.operators.segment import segment_pages
    from kgp.operators.textstats import dup_ratio_e4_sql, lang_best_col

    text = F.col("text")
    needle, build = {
        "lang_best_col": ("split(", lambda df: df.select(
            lang_best_col(text).alias("b"))),
        "dup_ratio_e4_sql": ("split(", lambda df: df.select(
            F.expr(dup_ratio_e4_sql("text")).alias("d"))),
        "segment_pages": ("split(", segment_pages),
        "char_shingles_col": ("lower(", lambda df: df.select(
            char_shingles_col(text).alias("c"))),
    }[kernel]
    plan = _optimized(build(synth_pages(spark, 5)))
    assert plan.count(needle) == 1, plan
    assert not [f for f in _filters(plan) if "transform(" in f], plan
