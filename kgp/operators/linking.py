"""X2/X3/X4 — entity linking: alias dictionary, MinHash-LSH blocking,
vectorized similarity scoring.

North-rule requirement (BASELINE.json): "entity linking via a broadcast
alias dictionary + MinHash-LSH candidate blocking + vectorized
cosine/Jaccard scoring". The reference's only ancestor is the trivial
id normalization at /root/reference/src/kg/gremlin_client.py:116; these
operators extend it without perturbing the judged `contains_entity`
triple set (canonical ids are an additional column/table).

Design notes (100 TB scale):

* Alias linking (X2) is a broadcast hash join — the dictionary is tiny
  (≤ millions of rows); the mentions side never shuffles.
* MinHash (X3) uses an md5-based permutation family computed entirely
  JVM-side: hash_i(token) = md5(i || '|' || token), signature element i
  = lexicographic MIN over the document's distinct tokens. md5 is
  available bit-identically in DuckDB, so the whole LSH pipeline has an
  independent SQL oracle. One explode + one groupBy(id) shuffle;
  map-side partial min keeps shuffle volume at K small strings per doc.
* Banding: K=12 hashes → 6 bands × 2 rows (P[candidate] = 1-(1-s²)⁶;
  s=0.7 → 0.98). Candidate join shuffles on band key; AQE splits hot
  bands' tasks, and the opt-in ``max_bucket`` drops buckets of common
  boilerplate before the join (kgp.skew.split_hot_keys).
* Scoring (X4) is exact set Jaccard over distinct shingles via
  array_intersect/array_union — whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.operators import bind_once, explode_rows

MINHASH_K = 12
LSH_BANDS = 6
LSH_ROWS = MINHASH_K // LSH_BANDS
SHINGLE_N = 3


# ---------------------------------------------------------------------------
# X2 — broadcast alias-dictionary linking
# ---------------------------------------------------------------------------

def link_mentions(
    mentions: DataFrame,
    alias_df: DataFrame,
    surface_col: str = "surface",
) -> DataFrame:
    """Map mention surfaces to canonical ids via the (small) alias dict.

    Broadcast hash join: the big mentions side keeps its partitioning
    (no shuffle). Unmatched surfaces keep canonical_id = NULL so the
    LSH path (X3/X4) can pick them up.
    """
    return mentions.join(
        F.broadcast(alias_df.select(surface_col, "canonical_id")),
        on=surface_col,
        how="left",
    )


# ---------------------------------------------------------------------------
# tokenization / shingling (shared with dedup)
# ---------------------------------------------------------------------------

def tokens_col(text: Column) -> Column:
    """Distinct single-space tokens (lossless split, matches oracle)."""
    return F.array_distinct(F.split(text, " ", -1))


def char_shingles_col(s: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a (lowercased) string — the
    standard blocking key for entity NAMES, where token shingles are
    useless (names are 1-3 tokens). Strings shorter than n yield
    themselves. Pure JVM HOFs."""
    return bind_once(
        F.lower(s),
        lambda low: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(low) - (n - 1), F.lit(1))
                ),
                lambda i: F.substring(low, i, n),
            )
        ),
    )


def name_blocking_candidates(
    entities: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    threshold: float = 0.4,
) -> DataFrame:
    """X3 applied to entity linking proper: MinHash-LSH over character
    3-grams of entity names → candidate pairs → exact char-Jaccard ≥
    threshold. Output (id_a, id_b, jaccard) is the same-as candidate
    set that canonicalization (X5) consumes for surface variants the
    alias dictionary doesn't list ("Acme Corp" ↔ "Acme Corporation").
    """
    sets_df = entities.select(
        id_col, char_shingles_col(F.col(name_col)).alias("_cs")
    )
    sig = minhash_signature(sets_df, id_col, "_cs")
    cand = lsh_candidate_pairs(lsh_bands(sig, id_col), id_col)
    return score_candidates_jaccard(cand, sets_df, id_col, "_cs", threshold)


def shingles_col(text: Column, n: int = SHINGLE_N) -> Column:
    """Distinct n-token shingles as ARRAY<STRING> — pure JVM HOFs.

    w[i..i+n-1] joined by ' ' for i in 0..len-n; documents shorter than
    n tokens yield the whole text as one shingle (so they still hash).
    """
    return bind_once(
        F.split(text, " ", -1),
        lambda w: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ),
    )


# ---------------------------------------------------------------------------
# X3 — MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def minhash_signature(
    df: DataFrame,
    id_col: str,
    set_col: str,
    k: int = MINHASH_K,
    family: str = "oracle",
) -> DataFrame:
    """(id, h0..h{k-1}) signature; min-agg per id in BIGINT (K long
    min-buffers fit the fixed-width hash-agg row — HashAggregate; K
    string buffers would demote to SortAggregate).

    Two pinned hash families:

    * ``oracle`` — min over the i-th 8-hex chunk of sha256(e)||md5(e)
      (TWO digests = 96 hex = K=12 independent 32-bit chunks; same
      min-wise uniformity as K seeded hashes, Broder 1997). Both
      digests are byte-identical in DuckDB, so the driver's SQL twin
      replicates the family exactly — this is the VERIFIABLE family.
    * ``fast`` — h_i(e) = xxhash64(i, e): JVM-native, no hex-string
      digests, ~2× cheaper per shingle. Not expressible in DuckDB —
      the PRODUCTION family for the 100 TB hot path; recall parity vs
      the oracle family is asserted in tests.

    explode is narrow; the groupBy(id) min-agg partially aggregates
    map-side, so the shuffle carries K longs per id, not the exploded
    set. ``explode_rows`` keeps the optimizer from building a computed
    ``set_col`` (``shingles_col``) a second time for an inferred
    non-empty filter.
    """
    el = explode_rows(df, [id_col], set_col, "_e")
    if family == "fast":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("_e"))).alias(f"h{i}")
            for i in range(k)
        ]
        return el.groupBy(id_col).agg(*aggs)
    assert k * 8 <= 96, "k>12 needs a third digest"
    # digest materialized in its own projection so the K min-aggs
    # slice a bound column instead of re-evaluating the hashes K times;
    # min(BIGINT via conv base16→10) == min(fixed-width hex chunk).
    el = el.select(
        id_col,
        F.concat(F.sha2(F.col("_e"), 256), F.md5(F.col("_e"))).alias("_d"),
    )
    aggs = [
        F.min(
            F.conv(F.substring(F.col("_d"), i * 8 + 1, 8), 16, 10).cast(
                "long"
            )
        ).alias(f"h{i}")
        for i in range(k)
    ]
    return el.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig: DataFrame,
    id_col: str,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    render: str = "hex8",
) -> DataFrame:
    """(id, band_idx, band_key): band_key = md5 of the band's hashes.

    Signature elements are BIGINT in-flight (see minhash_signature).
    render='hex8' (oracle family) re-renders each element as its
    original lowercase 8-hex chunk so the md5 band key — and the
    DuckDB oracle — is unchanged; render='dec' (fast family) hashes
    the decimal rendering (band keys only need determinism, K values
    per doc, negligible cost either way).
    """

    def _el(c: str):
        if render == "hex8":
            return F.lower(F.lpad(F.hex(F.col(c)), 8, "0"))
        return F.col(c).cast("string")

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[_el(f"h{b * rows + r}") for r in range(rows)],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        id_col, F.explode(band_structs).alias("b")
    ).select(id_col, F.col("b.band_idx").alias("band_idx"),
             F.col("b.band_key").alias("band_key"))


def lsh_candidate_pairs(
    bands_df: DataFrame,
    id_col: str,
    materialize: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any (band_idx, band_key).

    Self-equi-join on the band key — shuffles once on (band_idx,
    band_key); AQE splits hot buckets. distinct() collapses pairs found
    in multiple bands before any downstream scoring.

    ``max_bucket`` is the hot-band guard for boilerplate-skewed
    corpora: a band key shared by B docs emits B·(B−1)/2 candidate
    pairs, so one boilerplate string in 20 % of a 100 TB corpus makes
    a single bucket quadratic — AQE's skew split rebalances the TASKS
    but cannot shrink the OUTPUT. When set, buckets with more than
    ``max_bucket`` members are dropped before the self-join: the
    cold side of kgp.skew.split_hot_keys (one map-side-partial count
    per bucket, then a broadcast left-anti join against the few
    over-cap buckets, so the bands side is not shuffled for it).
    Standard LSH-dedup practice: an over-cap bucket is near-certain
    boilerplate whose members exact-dedup (or a dedicated boilerplate
    pass) handles at O(B); pairs those docs form with DISTINCT
    documents through their other, unskewed bands are unaffected.
    Skew evidence: tests/test_resume_skew.py + PLANS.md.

    materialize=True (default) eagerly materializes the bands table
    first (kgp.materialize — localCheckpoint locally, conf-switchable
    to a reliable checkpoint or persist on clusters): the two join
    sides rename the id column differently, so their exchanges never
    canonicalize equal and Spark recomputes the ENTIRE upstream digest
    pipeline (sha256+md5 per shingle) for both sides — measured 1.8 s
    of the 5.3 s sf0.1 warm time. The bands table is tiny (bands ×
    ~50 B per doc), so materializing it once is the right trade at any
    scale.
    """
    if materialize:
        from kgp.materialize import materialize as _mat

        bands_df = _mat(bands_df)
    if max_bucket is not None:
        from kgp.skew import split_hot_keys

        _, bands_df = split_hot_keys(
            bands_df, ["band_idx", "band_key"], max_bucket
        )
    a = bands_df.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_key"
    )
    b = bands_df.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key"
    )
    return (
        a.join(b, on=["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# X4 — vectorized similarity scoring (JVM, no Python)
# ---------------------------------------------------------------------------

def jaccard_col(a: Column, b: Column) -> Column:
    """Exact set Jaccard of two distinct-element arrays (codegen'd)."""
    inter = F.size(F.array_intersect(a, b))
    uni = F.size(F.array_union(a, b))
    return inter.cast("double") / uni.cast("double")


def score_candidates_jaccard(
    pairs: DataFrame,
    sets_df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs scoring ≥ threshold.

    Two joins against the (id → set) table; the sets table is shuffled
    by id once and reused. jaccard ships as the exact double i/u —
    IEEE division of small ints is bit-identical across engines, while
    rounding is not (round-half rules differ at exact ties).
    """
    sa = sets_df.select(
        F.col(id_col).alias("id_a"), F.col(set_col).alias("_sa")
    )
    sb = sets_df.select(
        F.col(id_col).alias("id_b"), F.col(set_col).alias("_sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jaccard_col(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<numeric> columns — zip_with dot
    product + aggregate norms, all JVM higher-order functions.

    Accumulates in DOUBLE in array order, matching DuckDB's
    list_cosine_similarity term order so rounded values hash-match.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return dot / (na * nb)
