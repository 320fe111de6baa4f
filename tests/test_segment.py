"""Spark segmentation vs pure-Python oracle: byte identity (the judged
per-url invariant, BASELINE.json input_hint)."""

import pandas as pd

from kgp import oracle
from kgp.operators.segment import (
    extract_docs,
    segment_pages,
    segment_timed_entries,
    with_segments,
)
from kgp.synth import synth_pages

N = 300


def test_extracted_text_byte_identical(spark):
    pages = synth_pages(spark, N, partitions=7)
    got = {
        r["url"]: r["extracted_text"]
        for r in extract_docs(pages).collect()
    }
    src = {r["url"]: r["text"] for r in pages.collect()}
    assert len(got) == N
    for url, text in src.items():
        assert got[url] == oracle.extracted_text_for_page(text), url
        # leading-space quirk holds end-to-end
        assert got[url] == " " + text


def test_segments_match_oracle_exactly(spark):
    pages = synth_pages(spark, 100)
    rows = segment_pages(pages).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    src = {r["url"]: r["text"] for r in pages.collect()}
    for url, text in src.items():
        want = oracle.segment_entries(oracle.page_entries(text))
        got = sorted(by_url[url], key=lambda r: r["seg_idx"])
        assert len(got) == len(want), url
        for g, w in zip(got, want):
            assert g["text"] == w.text
            assert g["start_s"] == w.start
            assert g["end_s"] == w.end


def test_timed_entries_operator_matches_oracle(spark):
    # adversarial fixture: gaps > window, boundary-exact entries,
    # whitespace-laced text (FIXTURES.md §3)
    entries = [
        ("u1", 0.0, 10.0, "a  a"),
        ("u1", 10.0, 10.0, " b"),
        ("u1", 30.0, 5.0, "c"),   # exact boundary → new segment
        ("u1", 99.0, 2.0, "d "),  # gap > 30 → no empty segment
        ("u2", 45.0, 5.0, "only"),  # first entry past window
    ]
    df = spark.createDataFrame(
        pd.DataFrame(entries, columns=["url", "start", "duration", "text"])
    )
    got = {
        (r["url"], r["seg_idx"]): (r["start_s"], r["end_s"], r["text"])
        for r in segment_timed_entries(df).collect()
    }
    for url in ["u1", "u2"]:
        es = [oracle.Entry(s, d, t) for (u, s, d, t) in entries if u == url]
        for seg in oracle.segment_entries(es):
            assert got[(url, seg.seg_idx)] == (seg.start, seg.end, seg.text)
    assert len(got) == 4  # u1: 3 segments, u2: 1


def test_determinism_across_partitionings(spark):
    a = sorted(
        (r["url"], r["seg_idx"], r["text"])
        for r in segment_pages(synth_pages(spark, 150, partitions=1)).collect()
    )
    b = sorted(
        (r["url"], r["seg_idx"], r["text"])
        for r in segment_pages(synth_pages(spark, 150, partitions=13)).collect()
    )
    assert a == b


def test_no_shuffle_in_segment_plan(spark):
    plan = with_segments(synth_pages(spark, 10))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_extract_docs_edge_cases_equal_segment_join(spark):
    """extract_docs is a direct projection; on NULL, empty, blank,
    double-space and 60/61/120-token texts it equals what joining the
    built segments gives (``with_segments``): NULL text →
    extracted_text '' and n_segments NULL."""
    from pyspark.sql import functions as F

    texts = [
        None, "", " ", "a  b",
        " ".join(["w"] * 60), " ".join(["w"] * 61), " ".join(["w"] * 120),
    ]
    pages = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string"
    )
    want = {
        r["url"]: (r["extracted_text"], r["n_segments"])
        for r in with_segments(pages)
        .select("url", "extracted_text",
                F.size("segs").cast("int").alias("n_segments"))
        .collect()
    }
    got = {
        r["url"]: (r["extracted_text"], r["n_segments"])
        for r in extract_docs(pages).collect()
    }
    assert got == want
    assert got["u0"] == ("", None)
    assert [got[f"u{i}"][1] for i in range(1, 7)] == [1, 1, 1, 1, 2, 2]
