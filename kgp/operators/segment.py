"""S3/S4 — temporal segmentation + byte-identical extracted text.

Reference semantics: /root/reference/src/ingest/youtube.py:111-164
(windowing; all quirks documented in kgp.oracle) and :227 (full text =
``" ".join(segment texts)``).

Two implementations:

* ``segment_pages`` — the 100 TB hot path. Because page entries are
  derived with uniform timing (kgp.constants: 12 tokens/entry ×
  0.5 s/token ⇒ a 30 s window is exactly 60 tokens), the reference's
  sequential windowing reduces PROVABLY to fixed 60-token slices:
  entry i starts at 6.0·i, so the "new segment when start ≥ cur+30"
  rule fires exactly at entries 5, 10, 15… This makes segmentation a
  pure JVM expression over ``split(text, ' ', -1)`` — zero shuffle, no
  Python, whole-stage codegen. The leading-space quirk (segment 0 is
  built by ``"" + " " + text``) and end-time rules (closed segment ends
  at the triggering entry's start = 30·(k+1); final ends at
  last.start+duration = 0.5·n_tokens) are reproduced exactly.
  Byte-identity vs kgp.oracle (which runs the sequential algorithm) is
  asserted in tests/test_segment.py. The `docs` table
  (``extract_docs``) needs only the joined text, which is always
  ``' ' || text``, and the window count, so it is a direct projection
  that builds no segments.

* ``segment_timed_entries`` — the general operator for arbitrary timed
  transcript entries (variable durations, gaps > window). Grouped
  ``applyInPandas`` per document; state never crosses documents, so it
  scales horizontally with the number of documents.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.constants import (
    SECONDS_PER_TOKEN,
    SEGMENT_WINDOW_SECONDS,
    TOKENS_PER_ENTRY,
)
from kgp.operators import bind_once, explode_rows
from kgp.oracle import Entry, segment_entries

# tokens per 30 s window — integral by construction (60)
_TOKENS_PER_WINDOW = int(
    SEGMENT_WINDOW_SECONDS / SECONDS_PER_TOKEN
)  # 30 / 0.5 = 60
assert _TOKENS_PER_WINDOW % TOKENS_PER_ENTRY == 0


def _segs_array(text: Column) -> Column:
    """ARRAY<STRUCT<seg_idx,start_s,end_s,text>> for one page's text.

    All JVM higher-order functions — no UDF, no shuffle. The token
    array is bound once per row (``bind_once``): the per-segment
    lambda would otherwise re-split the whole text for every window.
    """

    def segs(toks: Column) -> Column:
        n = F.size(toks)
        n_segs = F.ceil(n / F.lit(_TOKENS_PER_WINDOW)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda k: F.struct(
                k.cast("int").alias("seg_idx"),
                (k * F.lit(SEGMENT_WINDOW_SECONDS)).alias("start_s"),
                F.when(
                    k < n_segs - 1, (k + 1) * F.lit(SEGMENT_WINDOW_SECONDS)
                )
                .otherwise(n.cast("double") * F.lit(SECONDS_PER_TOKEN))
                .alias("end_s"),
                F.concat(
                    # leading-space quirk: segment 0 starts with "" + " " + entry
                    F.when(k == 0, F.lit(" ")).otherwise(F.lit("")),
                    F.concat_ws(
                        " ",
                        F.slice(
                            toks,
                            k * _TOKENS_PER_WINDOW + 1,
                            F.lit(_TOKENS_PER_WINDOW),
                        ),
                    ),
                ).alias("text"),
            ),
        )

    return bind_once(F.split(text, " ", -1), segs)


def with_segments(pages: DataFrame) -> DataFrame:
    """pages + ``segs`` array + byte-identical ``extracted_text`` —
    single narrow projection, zero shuffle."""
    segs = _segs_array(F.col("text"))
    return pages.withColumn("segs", segs).withColumn(
        "extracted_text",
        F.concat_ws(" ", F.transform(F.col("segs"), lambda s: s["text"])),
    )


def segment_pages(pages: DataFrame) -> DataFrame:
    """`segments` table: url, seg_idx, start_s, end_s, text."""
    return (
        explode_rows(with_segments(pages), ["url"], "segs", "s")
        .select(
            "url",
            F.col("s.seg_idx").alias("seg_idx"),
            F.col("s.start_s").alias("start_s"),
            F.col("s.end_s").alias("end_s"),
            F.col("s.text").alias("text"),
        )
    )


def extract_docs(pages: DataFrame) -> DataFrame:
    """`docs` table with the judged byte-identical extracted_text.

    A direct projection — no segments are built. Joining the segment
    texts of ``with_segments`` with ``' '`` re-forms the token stream:
    each 60-token slice is its tokens joined by ``' '``, consecutive
    slices are joined by ``' '``, and segment 0 carries the one leading
    space, so ``extracted_text`` is always ``' ' || text`` (``''`` for
    NULL text, as ``concat_ws`` over a NULL segment array gives).
    ``n_segments`` is the number of 60-token windows,
    ``ceil(size(split(text, ' ', -1)) / 60)`` (NULL for NULL text).
    Building each segment string only to concatenate them again costs
    a slice, a join and a copy per window per row; the `segments`
    table (``segment_pages``) still builds them.
    """
    text = F.col("text")
    return pages.select(
        "url",
        F.concat(F.lit("page:"), F.col("url")).alias("doc_id"),
        F.coalesce(F.concat(F.lit(" "), text), F.lit("")).alias(
            "extracted_text"
        ),
        F.ceil(F.size(F.split(text, " ", -1)) / F.lit(_TOKENS_PER_WINDOW))
        .cast("int")
        .alias("n_segments"),
    )


# ---------------------------------------------------------------------------
# general timed-entry segmentation (gaps, variable durations)
# ---------------------------------------------------------------------------

def segment_timed_entries(
    entries_df: DataFrame,
    window: float = SEGMENT_WINDOW_SECONDS,
    key: str = "url",
) -> DataFrame:
    """Reference windowing over arbitrary (key, start, duration, text)
    rows. Grouped per key; the sequential state is per-document only, so
    this distributes over documents (applyInPandas, Arrow-batched).
    """
    out_schema = (
        f"{key} string, seg_idx int, start_s double, end_s double, "
        "text string"
    )

    def seg_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("start", kind="stable")
        entries = [
            Entry(float(s), float(d), str(t))
            for s, d, t in zip(pdf["start"], pdf["duration"], pdf["text"])
        ]
        segs = segment_entries(entries, window)
        kv = pdf[key].iloc[0]
        return pd.DataFrame(
            {
                key: [kv] * len(segs),
                "seg_idx": [s.seg_idx for s in segs],
                "start_s": [s.start for s in segs],
                "end_s": [s.end for s in segs],
                "text": [s.text for s in segs],
            }
        )

    return entries_df.groupBy(key).applyInPandas(seg_one, schema=out_schema)
