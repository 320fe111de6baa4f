"""JVM operators; shared higher-order-function helpers live here."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_once(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Spark evaluates a higher-order function's lambda interpretively
    (``ArrayTransform`` and ``ArraySort`` are CodegenFallback) and
    does no common-subexpression elimination inside it, so a per-row
    column a lambda closes over — ``split(text)``, a norm, a
    lowercased string — is evaluated again for every array element.
    ``element_at(transform(array(value), v -> body(v)), 1)`` binds it
    as a lambda variable instead; the result is the same value,
    including for a NULL ``value``.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def explode_rows(
    df: DataFrame, keep: list[str], array: str, alias: str
) -> DataFrame:
    """``df.select(*keep, explode(array).alias(alias))`` that builds
    ``array`` once per row.

    Over an attribute, ``explode`` lets the optimizer infer a
    ``size(array) > 0`` filter and push it below the projection that
    computes the array, so a higher-order-function array (a shingle
    set, a segment list) is built twice per row. ``posexplode_outer``
    infers no filter; keeping the rows whose position is not NULL has
    ``explode``'s semantics: a NULL or empty array gives no row, a
    NULL element gives one.
    """
    return (
        df.select(*keep, F.posexplode_outer(array).alias("_pos", alias))
        .filter(F.col("_pos").isNotNull())
        .select(*keep, alias)
    )
