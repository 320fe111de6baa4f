"""X6 — explicit skew handling: the hot-key split, salting, url-hash
repartitioning.

North-rule: "skew from head entities and mega-domains is handled
explicitly with salted aggregation keys, AQE skew-join hints, and
url-hash repartitioning". AQE conf lives in kgp.session.ENGINE_CONF
(adaptive.enabled + skewJoin.enabled); this module holds the
API-level techniques AQE cannot do for you:

* hot-key split — a window or self-join partitioned on a key puts all
  of one key's rows into one task, and a self-join inside one key
  emits a quadratic pair count that AQE's task split cannot shrink
  (DS2, ICDE 2021). split_hot_keys counts rows per key once (a
  groupBy: map-side partial aggregation, so no hot key lands in one
  task) and separates the few over-cap keys from the rows whose key
  is bounded. Both skew guards use it: lsh_candidate_pairs'
  ``max_bucket`` keeps only the cold rows, _span_annotated's
  ``hot_span_cap`` resolves hot spans from the broadcast count table.
* two-phase salted aggregation — a groupBy on a zipf-headed key (head
  entity, mega-domain) funnels the head key's rows into one reduce
  task. Phase 1 aggregates on (key, salt = pmod(xxhash64(carrier), S))
  spreading each hot key over S tasks; phase 2 re-aggregates the S
  partials. Costs one extra (tiny) shuffle of ≤ S·|keys| rows; bounds
  every reduce task at |rows|/S.
* url-hash repartition — before a per-row-expensive stage (NER UDF),
  repartition on pmod(xxhash64(url), P) so one mega-domain's pages
  spread evenly rather than arriving clustered from the scan order.

The synthetic pages table (kgp.synth) plants zipf-ranked domains and
entities precisely so tests can verify salted == plain results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.materialize import materialize


def split_hot_keys(
    df: DataFrame, keys: list[str], cap: int, *aggs: Column
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` on the row count of its ``keys``: ``(hot, cold)``.

    ``hot`` is the materialized table of keys with more than ``cap``
    rows, ``(keys…, _n, aggs…)`` with ``_n`` the exact row count and
    ``aggs`` evaluated over the key's rows in the same groupBy. It
    holds at most |rows| / (cap + 1) keys, so callers broadcast it.
    ``cold`` is the rows of ``df`` whose key has at most ``cap`` rows,
    found by a broadcast left-anti join: no shuffle of ``df``.

    The count is one groupBy with map-side partial aggregation, so a
    hot key never lands in one task; its cost is one shuffle of at
    most |keys| partial rows per map task plus a second pass over
    ``df``'s lineage. Rows with a NULL key never match the anti join
    and stay in ``cold``.
    """
    hot = materialize(
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"), *aggs)
        .filter(F.col("_n") > cap)
    )
    cold = df.join(F.broadcast(hot.select(*keys)), keys, "left_anti")
    return hot, cold


def salt_col(carrier: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): hash of a high-cardinality
    carrier column (NOT the group key — salting the key itself with
    rand() breaks determinism and resume)."""
    return F.pmod(F.xxhash64(carrier), F.lit(n_salts)).cast("int")


def salted_count_distinct(
    df: DataFrame,
    key: str,
    distinct_col: str,
    n_salts: int = 16,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Two-phase count(DISTINCT distinct_col) GROUP BY key, hot-key safe.

    Phase 1 dedups (key, salt, value) — the expensive shuffle, spread
    over n_salts tasks per key. Phase 2 merges partial distinct counts;
    correctness requires the salt to be a pure function of the DISTINCT
    column (same value ⇒ same salt ⇒ no double-count across salts).
    """
    phase1 = (
        df.select(
            key,
            F.col(distinct_col).alias("_v"),
            salt_col(F.col(distinct_col), n_salts).alias("_salt"),
        )
        .groupBy(key, "_salt")
        .agg(F.countDistinct("_v").alias("_partial"))
    )
    return phase1.groupBy(key).agg(F.sum("_partial").alias(out_col))


def repartition_by_url_hash(
    df: DataFrame, partitions: int, url_col: str = "url"
) -> DataFrame:
    """Spread mega-domains before expensive per-row stages: hash-
    partition on the full url — uniform regardless of domain skew
    (url is unique per row, unlike domain). NB: pass the column, not a
    pmod(...) of it — repartition hashes the expression value, so a
    pre-bucketed small-domain expression would collide partitions.
    """
    return df.repartition(partitions, F.col(url_col))
