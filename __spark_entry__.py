"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full KG-construction pipeline (segment →
                 NER → triples) on the deterministic synthetic `pages`
                 table at sf0.001 scale; returns the triples DataFrame.
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB twins for every SQL-expressible query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """pages(sf0.001, 500 rows) → segments → capped mentions →
    triples."""
    from kgp.operators.segment import extract_docs
    from kgp.operators.triples import build_triples
    from kgp.plans.pipeline import capped_mentions
    from kgp.synth import synth_pages

    docs = extract_docs(synth_pages(spark, 500))
    return build_triples(capped_mentions(docs))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kgp.queries import queries as _q

    return _q()


def oracle_sql() -> dict[str, str]:
    from kgp.queries import oracle_sql as _o

    return _o()
