"""The one physical plan for the flagship KG pipeline.

Every Spark path that builds capped mentions — the checkpointed batch
pipeline, the streaming micro-batch, the oracle-gated queries, the
bench — runs the same two steps:

1. an extractor column yields each document's mention list
   ``array<struct<surface,label,first_offset>>``
   (kgp.operators.ner: the JVM ``gazetteer_mentions_col``, or the
   Arrow/model seam ``mention_arrays_arrow``);
2. ``cap_mention_array_col`` applies the A1/P3 cap to that array
   in-row, and ``explode_mentions`` turns it into
   ``(id, surface, label, first_offset)`` rows.

Both steps are narrow, so the only wide operations in pages→triples
are the output dedups of kgp.operators.triples:

    scan → [extract, filter/sort_array/slice in-row] → explode →
    distinct (triples) / groupBy (entities)

Semantics: label filter before cap (entity_extraction.py:30 then
gremlin_client.py:115), first-occurrence order with
(first_offset, surface) tie-break, cap MAX_ENTITIES_PER_DOC — pinned
against the DuckDB twins (row_number over the same order) and
kgp.oracle in tests/test_fused_plan.py and tests/test_ner_triples.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.constants import ENTITY_LABELS, MAX_ENTITIES_PER_DOC
from kgp.gazetteer import PAGES_SURFACES
from kgp.operators.ner import gazetteer_mentions_col
from kgp.operators.triples import build_entities, build_triples


def cap_mention_array_col(mentions: Column) -> Column:
    """The A1/P3 cap on a per-document mention array: label filter,
    pinned (first_offset, surface) first-occurrence order, cap at
    MAX_ENTITIES_PER_DOC — all in-row JVM higher-order functions, so
    the cap costs no Window and no shuffle regardless of where the
    mentions came from.

    Filter before cap (entity_extraction.py:30 then
    gremlin_client.py:102-135); sort_array on STRUCT orders by fields
    in declaration order, so the struct is re-laid-out as
    (first_offset, surface, label) for the pinned tie-break, sliced,
    then re-projected.
    """
    kept = F.filter(
        mentions, lambda m: m["label"].isin(list(ENTITY_LABELS))
    )
    ordered = F.transform(
        kept,
        lambda m: F.struct(
            m["first_offset"].alias("first_offset"),
            m["surface"].alias("surface"),
            m["label"].alias("label"),
        ),
    )
    return F.transform(
        F.slice(F.sort_array(ordered), 1, MAX_ENTITIES_PER_DOC),
        lambda m: F.struct(
            m["surface"].alias("surface"),
            m["label"].alias("label"),
            m["first_offset"].alias("first_offset"),
        ),
    )


def explode_mentions(
    df: DataFrame, mentions: Column, id_col: str = "url"
) -> DataFrame:
    """(``id_col``, surface, label, first_offset): one row per element
    of a per-document mention array column over ``df``."""
    return df.select(id_col, F.explode(mentions).alias("_m")).select(
        id_col, "_m.surface", "_m.label", "_m.first_offset"
    )


def capped_mentions(
    docs: DataFrame,
    gaz: list[tuple[str, str]] | None = None,
    id_col: str = "url",
    text_col: str = "extracted_text",
) -> DataFrame:
    """(``id_col``, surface, label, first_offset) — the capped mentions
    of ``docs`` from the JVM gazetteer extractor: one narrow pass.

    The label filter also folds into the gazetteer at plan build
    (decoy surfaces are never candidates); the cap's own filter keeps
    it exact for any array. Callers consuming triples AND entities should
    materialize this once (a stage boundary, as kgp.checkpoint does,
    or a persist) so the scan + extraction doesn't run per output.
    """
    gaz = PAGES_SURFACES if gaz is None else gaz
    kept = [(s, lab) for s, lab in gaz if lab in ENTITY_LABELS]
    return explode_mentions(
        docs,
        cap_mention_array_col(gazetteer_mentions_col(F.col(text_col), kept)),
        id_col,
    )


def outputs_from_capped(capped: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(triples, entities) from a capped-mentions table (possibly
    persisted / re-read from a stage boundary)."""
    return build_triples(capped), build_entities(capped)
