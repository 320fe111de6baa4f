"""F1/P3/A1 — batched entity-mention extraction.

Reference contract: ``extract_entities(text) -> List[str]`` keeping
labels {PERSON, ORG, GPE, PRODUCT}
(/root/reference/src/kg/entity_extraction.py:20-40). spaCy is optional
(the reference itself degrades to ``[]`` without the model,
entity_extraction.py:42-54), so extractors are pluggable.

Every extractor returns the same thing: one value per document, the
mention list ``array<struct<surface,label,first_offset>>``
(MENTION_ARRAY_TYPE), first_offset = 0-based char index of the
surface's first whole-space-token occurrence in the document text.
Keeping the list in-row is what lets the one cap
(kgp.plans.pipeline.cap_mention_array_col: label filter, pinned
first-occurrence order, cap 10 — gremlin_client.py:115) run with no
Window and no shuffle, whichever extractor produced the list:

* ``gazetteer_mentions_col`` — a JVM column: each gazetteer surface
  unrolls into the projection as ``locate`` on the space-padded text.
  100 % codegen, no join, no Python. This is the scale path AND the
  semantics shared with the DuckDB oracle (strpos on the same padding).

* ``mention_arrays_arrow`` — the model seam: an Arrow-batched
  ``mapInPandas`` returning the same array column (vectorized pandas
  ``str.find`` per surface across the whole batch — no per-row Python
  loop over texts). ``SpacyMentionExtractor`` plugs in here when the
  model is importable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.gazetteer import PAGES_SURFACES

MENTION_ARRAY_TYPE = (
    "array<struct<surface:string,label:string,first_offset:bigint>>"
)


def gazetteer_mentions_col(
    text: Column, gaz: list[tuple[str, str]] | None = None
) -> Column:
    """MENTION_ARRAY_TYPE of the ``gaz`` surfaces found in ``text``, in
    gazetteer order (the cap orders them).

    locate() is 1-based over the padded text ``' '||text||' '``; the
    0-based offset into the unpadded text is ``locate - 1`` (one for
    1-based; the added leading pad space is consumed by the
    ``' '+surface`` prefix). NULL text matches nothing.
    """
    gaz = PAGES_SURFACES if gaz is None else gaz
    if not gaz:
        # F.array() with zero elements has VOID element type and fails
        # analysis inside the cap's lambdas — return a typed empty
        return F.array().cast(MENTION_ARRAY_TYPE)
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("surface"),
                    F.lit(lab).alias("label"),
                    (F.locate(f" {s} ", padded) - 1)
                    .cast("long")
                    .alias("first_offset"),
                )
                for s, lab in gaz
            ]
        ),
        lambda m: m["first_offset"] >= 0,
    )


def mention_arrays_arrow(
    docs: DataFrame,
    gaz: list[tuple[str, str]] | None = None,
    id_col: str = "url",
    text_col: str = "extracted_text",
) -> DataFrame:
    """One row per doc: (``id_col``, mentions MENTION_ARRAY_TYPE) — the
    model-extractor UDF contract (/root/reference/src/kg/base.py:4-7
    returns the per-document mention list; here it lands as an Arrow
    struct array).

    Same matches as gazetteer_mentions_col, computed by a vectorized
    str.find batch loop; a real model (SpacyMentionExtractor.
    extract_batch) slots in by replacing the inner loop, returning the
    same list-of-(surface, label, offset) per document.
    """
    gaz = PAGES_SURFACES if gaz is None else gaz
    id_type = docs.schema[id_col].dataType.simpleString()

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL text ⇒ no match (parity with locate() on NULL);
            # without fillna the nullable-string dtype propagates pd.NA
            # through `pos >= 0`
            padded = " " + pdf[text_col].astype("string").fillna("") + " "
            per_doc: list[list[dict]] = [[] for _ in range(len(pdf))]
            for surface, label in gaz:
                pos = padded.str.find(" " + surface + " ")
                for i, p in enumerate(pos.to_numpy()):
                    if p >= 0:
                        per_doc[i].append(
                            {
                                "surface": surface,
                                "label": label,
                                "first_offset": int(p),
                            }
                        )
            yield pd.DataFrame({id_col: pdf[id_col], "mentions": per_doc})

    return docs.select(id_col, text_col).mapInPandas(
        extract, schema=f"`{id_col}` {id_type}, mentions {MENTION_ARRAY_TYPE}"
    )


class SpacyMentionExtractor:
    """Real-model plug-in, used when en_core_web_sm is importable.

    Lazy module-global load: one model per executor process (SURVEY §4
    'model-in-UDF lifecycle'), batches via nlp.pipe. Not available in
    this sandbox; covered by import-try.
    """

    _nlp = None

    @classmethod
    def available(cls) -> bool:
        try:
            import spacy  # noqa: F401

            return True
        except ImportError:
            return False

    @classmethod
    def nlp(cls):
        if cls._nlp is None:
            import spacy

            cls._nlp = spacy.load("en_core_web_sm")
        return cls._nlp

    @classmethod
    def extract_batch(cls, texts: pd.Series) -> list[list[tuple[str, str, int]]]:
        nlp = cls.nlp()
        out = []
        for doc in nlp.pipe(texts.tolist(), batch_size=64):
            out.append(
                [(e.text, e.label_, e.start_char) for e in doc.ents]
            )
        return out
