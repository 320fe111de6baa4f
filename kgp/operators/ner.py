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
Window and no shuffle, whichever extractor produced the list.

Both gazetteer extractors find candidates in ONE token pass instead
of one full-text scan per surface: the gazetteer is grouped by first
word (``_first_word_groups``), each document's space-split tokens are
probed against that set once, and only the surfaces whose first word
occurs are searched for (a hash probe per token, not a scan per
dictionary entry). This is exact: a surface ``s`` matches iff
``' '+s+' '`` occurs in ``' '+text+' '``, and any such occurrence puts
the first word of ``s`` — which holds no space — between two spaces or
pad boundaries, i.e. makes it one whole element of
``text.split(' ')``. So a surface whose first word is not a token can
never match, and the candidates' substring check is the per-surface
check itself.

* ``gazetteer_mentions_col`` — a JVM column: ``array_intersect`` of
  the split text with the first words, a constant map from first word
  to its surfaces, ``instr`` per candidate on the space-padded text.
  100 % codegen, no join, no Python. This is the scale path AND the
  semantics shared with the DuckDB oracle (strpos on the same padding).

* ``mention_arrays_arrow`` — the model seam: an Arrow-batched
  ``mapInPandas`` returning the same array column, in gazetteer order
  (the same first-word prefilter, then ``str.find`` per candidate).
  ``SpacyMentionExtractor`` plugs in here when the model is
  importable.
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


def _first_word_groups(gaz: list[tuple[str, str]]) -> dict[str, list[int]]:
    """First word (``surface.split(' ')[0]``) → indices of the
    gazetteer entries starting with it, in gazetteer order."""
    groups: dict[str, list[int]] = {}
    for i, (s, _) in enumerate(gaz):
        groups.setdefault(s.split(" ")[0], []).append(i)
    return groups


def gazetteer_mentions_col(
    text: Column, gaz: list[tuple[str, str]] | None = None
) -> Column:
    """MENTION_ARRAY_TYPE of the ``gaz`` surfaces found in ``text``, in
    no particular order (the cap orders them).

    A surface ``s`` matches iff ``' '+s+' '`` occurs in the padded
    text ``' '||text||' '``; ``first_offset`` is that occurrence's
    0-based index into the padded text, which is the surface's index
    in ``text`` (the added leading pad space is consumed by the
    ``' '+s`` prefix). ``instr`` is 1-based, hence ``instr - 1``.

    One token pass, then one ``instr`` per candidate:

    1. the gazetteer is grouped at plan build by first word
       (``s.split(' ')[0]``) into one constant map
       first word → ``array<struct<surface, label, pat>>``;
    2. per row, ``array_intersect(split(text, ' ', -1), first words)``
       probes a hash set once per token — the distinct first words
       present in the text;
    3. the hits' surface groups are flattened, and only those
       candidates are ``instr``-searched; a candidate not found
       (``first_offset < 0``) is dropped.

    Exact: if ``' '+s+' '`` occurs in ``' '+text+' '``, the first word
    ``w`` of ``s`` holds no space and is delimited on both sides by a
    space or a pad boundary there, so ``w`` is one whole element of
    ``split(text, ' ', -1)`` — also when ``w`` is empty (a surface
    with a leading space matches only across an empty token). So every
    matching surface is a candidate, and the ``instr`` check decides
    exactly as a scan per surface would. ``array_intersect`` yields
    each first word once, so a duplicate gazetteer entry yields one
    mention per entry. NULL text matches nothing.
    """
    gaz = PAGES_SURFACES if gaz is None else gaz
    # F.array() with zero elements has VOID element type and fails
    # analysis inside the cap's lambdas — return a typed empty
    empty = F.array().cast(MENTION_ARRAY_TYPE)
    if not gaz:
        return empty
    groups = _first_word_groups(gaz)
    candidates = F.create_map(
        *[
            c
            for w, idx in groups.items()
            for c in (
                F.lit(w),
                F.array(
                    *[
                        F.struct(
                            F.lit(gaz[i][0]).alias("surface"),
                            F.lit(gaz[i][1]).alias("label"),
                            F.lit(f" {gaz[i][0]} ").alias("pat"),
                        )
                        for i in idx
                    ]
                ),
            )
        ]
    )
    hits = F.array_intersect(
        F.split(text, " ", -1), F.array(*[F.lit(w) for w in groups])
    )
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    found = F.transform(
        F.flatten(F.transform(hits, lambda w: F.element_at(candidates, w))),
        lambda c: F.struct(
            c["surface"].alias("surface"),
            c["label"].alias("label"),
            (F.instr(padded, c["pat"]) - 1)
            .cast("long")
            .alias("first_offset"),
        ),
    )
    return F.coalesce(
        F.filter(found, lambda m: m["first_offset"] >= 0), empty
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

    Same matches as gazetteer_mentions_col, in gazetteer order: the
    same first-word prefilter (one ``split`` and one set intersection
    per text), then ``str.find`` for the candidates only. A real model
    (SpacyMentionExtractor.extract_batch) slots in by replacing the
    inner loop, returning the same list-of-(surface, label, offset)
    per document.
    """
    gaz = PAGES_SURFACES if gaz is None else gaz
    id_type = docs.schema[id_col].dataType.simpleString()
    groups = _first_word_groups(gaz)

    def mentions(text: str) -> list[dict]:
        padded = " " + text + " "
        out = []
        for i in sorted(
            i for w in groups.keys() & text.split(" ") for i in groups[w]
        ):
            surface, label = gaz[i]
            p = padded.find(" " + surface + " ")
            if p >= 0:
                out.append(
                    {"surface": surface, "label": label, "first_offset": p}
                )
        return out

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL text ⇒ no match, not even of an empty surface
            # (parity with the JVM column)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "mentions": [
                        [] if pd.isna(t) else mentions(t)
                        for t in pdf[text_col]
                    ],
                }
            )

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
