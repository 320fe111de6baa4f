"""Text-analysis operators for large-scale training-data pipelines.

Language-ID, quality scoring, token counting, and document
fingerprinting over a documents table — each pure JVM expression
(whole-stage codegen; no Python in the hot path) with a DuckDB-SQL
oracle twin in kgp.queries_ext.

Scale: all four are narrow per-row projections — zero shuffle; they
pipeline into whatever scan feeds them and prune to the text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.operators import bind_once

# stopword marker sets per language — pinned, shared with the SQL
# oracle (kgp.queries_ext renders them into the VALUES clause). Over
# the driver `documents` vocabulary these act as n-gram-frequency
# proxies; with real corpora you'd swap in real function-word lists —
# the operator shape (broadcast markers → hit-count → argmax) is
# identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "join", "scan"),
    "es": ("sort", "merge", "key", "row"),
    "de": ("hash", "batch", "table", "window"),
    "fr": ("filter", "group", "order", "stream"),
    "zh": ("spark", "agg", "dup", "part"),
}

ENGLISH_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "with", "is", "was", "are", "were",
)


def token_count_col(text: Column) -> Column:
    """Whitespace token count (lossless single-space split)."""
    return F.size(F.split(text, " ", -1)).cast("long")


def word_token_count_col(text: Column) -> Column:
    """BPE-ish subword proxy: count of `\\w+` word pieces — robust to
    punctuation/multi-space, the usual pre-tokenizer count."""
    return F.size(
        F.filter(
            F.split(text, "[^\\w]+", -1), lambda t: t != F.lit("")
        )
    ).cast("long")


# whitespace class for truncate_tokens_cols and its DuckDB twin —
# every \s member BOTH Java regex and RE2 agree on (Java adds \x0B,
# RE2 does not; see the docstring below)
TRUNC_WS_CLASS = r" \t\n\f\r"


def truncate_tokens_cols(
    text: Column, max_tokens: int
) -> tuple[Column, Column]:
    """(truncated_text, was_truncated) — cap ``text`` at its first
    ``max_tokens`` whitespace tokens, preserving the original
    leading/inter-token whitespace of the kept prefix.

    Docs at or under the cap pass through BYTE-IDENTICAL (the guard
    fires only when a ``max_tokens``-th token is followed by
    whitespace and another token), so the optional prep-pipeline
    truncation stage never perturbs compliant documents. Pure JVM
    regexp — zero shuffle, pipelines into the scan. The same two
    patterns run under DuckDB's RE2 for the oracle twin; RE2 caps
    bounded repetition at 1000, so oracle-gated uses keep
    ``max_tokens`` ≤ 1000 (Java regex in the production path has no
    such cap — a 10k-token training cut is fine). Whitespace is the
    explicit class ``TRUNC_WS_CLASS`` rather than ``\\s`` because the
    engines disagree on vertical tab: Java ``\\s`` matches \\x0B, RE2
    does not — with ``\\s`` a doc containing \\x0B tokenizes
    differently across the oracle pair. \\x0B is treated as a token
    character on both sides (the RE2 reading).
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    ws, tok = f"[{TRUNC_WS_CLASS}]", f"[^{TRUNC_WS_CLASS}]"
    over_pat = "^%s*(%s+%s+){%d}%s" % (ws, tok, ws, max_tokens, tok)
    keep_pat = "^(%s*%s+(%s+%s+){0,%d})" % (
        ws, tok, ws, tok, max_tokens - 1,
    )
    over = text.rlike(over_pat)
    return (
        F.when(over, F.regexp_extract(text, keep_pat, 1)).otherwise(
            text
        ),
        over.cast("int"),
    )


def truncate_tokens(
    docs: DataFrame, max_tokens: int, text_col: str = "text"
) -> DataFrame:
    """Replace ``text_col`` with its first ``max_tokens`` whitespace
    tokens (all other columns ride through untouched) — the
    --max-tokens-per-doc cleaning policy of the training-data prep
    pipeline (kgp.checkpoint.build_training_pipeline)."""
    trunc, _ = truncate_tokens_cols(F.col(text_col), max_tokens)
    return docs.withColumn(text_col, trunc)


def quality_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc quality features: length, token stats, stopword ratio —
    the standard web-corpus quality filters (C4/Gopher-style rules) as
    one narrow projection.

    Ratio features ship as exact ×10⁴ integers (integer division), not
    rounded doubles: round-half behavior differs across engines at
    exact 5-decimal ties, integer math never does. mean token length
    uses the closed form (n_chars − n_tokens + 1)/n_tokens — valid
    because the split is on single spaces (each separator is exactly
    one char).
    """
    t = F.col(text_col)
    toks = F.split(t, " ", -1)
    n_chars = F.length(t).cast("long")
    n_toks = F.size(toks).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*ENGLISH_STOPWORDS))
    ).cast("long")
    # ratios via the SQL `div` operator — TRUE integer division, same
    # value as DuckDB's `//`. (double division + cast can round up
    # across an integer boundary at scale; see CLAUDE.md hard rules)
    return docs.select(
        id_col,
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        stop_hits.alias("stop_hits"),
    ).select(
        id_col,
        "n_chars",
        "n_tokens",
        "stop_hits",
        F.expr("(n_chars - n_tokens + 1) * 10000 div n_tokens").alias(
            "mean_token_len_e4"
        ),
        F.expr("stop_hits * 10000 div n_tokens").alias(
            "stopword_ratio_e4"
        ),
    )


def quality_e4_sql(text_col: str) -> str:
    """The quality score as ONE SQL expression over a text column —
    the single definition both `quality_score` (oracle-gated) and the
    training pipeline's filter stage compile from, so a consumer that
    appends it as a projected column (zero shuffle, no doc_id join)
    cannot diverge from the gated semantics."""
    stoplist = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    w = f"split({text_col}, ' ', -1)"
    # BIGINT casts before the ×10⁴: a million-token doc would
    # overflow INT32 in `size(...) * 10000`
    return (
        f"100 * least(size({w}), 50)"
        f" + (5 * least(CAST(size(filter({w},"
        f" x -> lower(x) IN ({stoplist}))) AS BIGINT) * 10000"
        f" div size({w}), 2000)) div 2"
    )


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scalar quality score in [0,10⁴]: pinned heuristic blend.

    quality_e4 = 100·min(n_tokens,50) + (5·min(stop_ratio_e4,2000))÷2
    — i.e. 0.5·min(n_tokens/50,1) + 0.5·min(stopword_ratio/0.2,1) in
    exact integer arithmetic (both halves cap at 5000).
    """
    return docs.select(
        id_col, F.expr(quality_e4_sql(text_col)).alias("quality_e4")
    )


def dup_ratio_e4_sql(text_col: str) -> str:
    """Gopher duplicate-2-gram fraction (×10⁴ integer) as ONE SQL
    expression — the pipeline-filter twin of `repetition_stats`
    (parity-tested); docs with <2 tokens carry no gram and score 0.

    The token array ``w`` and the gram array ``g`` are each bound once
    per row as lambda variables (``kgp.operators.bind_once``); ``g``
    is bound inside the ELSE branch, so a 1-token doc never builds the
    descending ``sequence(1, 0)`` whose ``element_at(w, 0)`` raises."""
    g = (
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    return (
        f"element_at(transform(array(split({text_col}, ' ', -1)),"
        f" w -> CASE WHEN size(w) < 2 THEN 0L ELSE"
        f" element_at(transform(array({g}),"
        f" g -> CAST(size(g) - size(array_distinct(g)) AS BIGINT)"
        f" * 10000 div size(g)), 1) END), 1)"
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition features over word
    2-grams: gram count, distinct-gram count, duplicate-gram fraction
    (×10⁴ integer), and the multiplicity of the most repeated gram.

    The standard "repetition removal" quality rules (Rae et al.,
    Gopher §A1.1: drop docs whose duplicate-n-gram fraction exceeds a
    threshold) as ONE narrow zero-shuffle projection: grams are built
    per row with `transform(sequence(...))`, the top-gram multiplicity
    is the longest equal-run in the sorted gram array via an
    `aggregate` fold (O(L log L) per doc, no explode, no groupBy) —
    at 100 TB this pipelines into the scan with no exchange at all,
    unlike the canonical explode + two-level groupBy which shuffles
    every gram instance. Docs with fewer than 2 tokens carry no gram
    and are filtered (both engines).

    Ratio ships as ×10⁴ integer-division (`div` ≡ DuckDB `//`), never
    round() — see CLAUDE.md hard rules.
    """
    out = (
        docs.select(
            id_col, F.split(F.col(text_col), " ", -1).alias("_w")
        )
        .where(F.size("_w") >= 2)
        .select(
            id_col,
            F.expr(
                "transform(sequence(1, size(_w) - 1),"
                " i -> concat(element_at(_w, i), ' ',"
                " element_at(_w, i + 1)))"
            ).alias("_g"),
        )
    )
    run_best = (
        "aggregate(array_sort(_g),"
        " named_struct('prev', '', 'run', 0L, 'best', 0L),"
        " (a, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x = a.prev, a.run + 1L, 1L),"
        "   'best', greatest(a.best, IF(x = a.prev, a.run + 1L, 1L))),"
        " a -> a.best)"
    )
    return out.select(
        id_col,
        F.size("_g").cast("long").alias("n_grams2"),
        F.size(F.array_distinct("_g")).cast("long").alias("n_distinct2"),
        F.expr(run_best).alias("top_gram_count"),
    ).select(
        id_col,
        "n_grams2",
        "n_distinct2",
        F.expr(
            "(n_grams2 - n_distinct2) * 10000 div n_grams2"
        ).alias("dup_ratio_e4"),
        "top_gram_count",
    )


def lang_best_col(text: Column) -> Column:
    """STRUCT(hits, lang) of the winning language for one text column
    — the single argmax definition `lang_id` (oracle-gated) and the
    training pipeline's filter stage both compile from, usable as a
    projected column (zero shuffle, no doc_id join)."""
    def best(toks: Column) -> Column:
        scored = F.array(
            *[
                F.struct(
                    F.size(
                        F.array_intersect(
                            toks, F.array(*[F.lit(m) for m in markers])
                        )
                    ).alias("hits"),
                    F.lit(lang).alias("lang"),
                )
                for lang, markers in sorted(LANG_MARKERS.items())
            ]
        )
        # argmax with pinned tie-break: sort structs asc by (hits,
        # lang), take the last ⇒ max hits, lexicographically-last lang
        # on ties. The SQL oracle uses row_number() OVER (ORDER BY hits
        # DESC, lang DESC) — identical semantics.
        return F.element_at(F.reverse(F.array_sort(scored)), 1)

    # the token set is bound once per row: array_sort evaluates its
    # input interpretively, so a closed-over token set would be
    # rebuilt once per language
    return bind_once(F.array_distinct(F.split(text, " ", -1)), best)


def lang_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language ID: hit count per language over the token
    set, argmax with deterministic tie-break on language code.

    Pure JVM: one pass over tokens per language (markers are literals
    folded into codegen). Output: (id, pred_lang, hits).
    """
    best = lang_best_col(F.col(text_col))
    return docs.select(id_col, best.alias("_b")).select(
        id_col,
        F.col("_b.lang").alias("pred_lang"),
        F.col("_b.hits").cast("long").alias("hits"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: top-k terms ranked by an
    integer-exact tf·idf surrogate.

    Classic tf·idf weighs tf · ln(N/df); ln is transcendental and the
    cross-engine hash gate forbids floats whose last ULP can differ
    between libm implementations, so the score is the integer product
    tf · (N − df) — like tf·idf it rises with term frequency and falls
    with document frequency, and it is exactly reproducible in any
    engine. Total tiebreak (score DESC, df ASC, term ASC) makes the
    per-doc top-k deterministic ((doc, term) is unique after the tf
    aggregation, so the ordering is total).

    Physical shape at 100 TB: explode → groupBy (doc, term) with
    map-side partial aggregation; the tf table is materialized ONCE
    (kgp.materialize — measured: Catalyst does NOT reuse the
    exchange here, so without it the df rollup re-scans and
    re-explodes the whole corpus) and the document-frequency table is
    a partial-agg rollup of it; the tf ⋈ df join and the per-doc
    window each shuffle on their key, and the rank≤k filter pushes
    down as WindowGroupLimit. The df side is vocabulary-sized (not
    corpus-sized) and AQE picks broadcast when it fits. No driver
    collect: N rides in as a 1-row broadcast cross join, counted from
    the materialized tf table, not a third corpus scan. Cluster
    deployments switch the materialization primitive via the
    kgp.materialize session conf.
    """
    from kgp.materialize import materialize as _mat

    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ", -1)).alias("term")
    ).filter(F.col("term") != "")
    tf = _mat(
        toks.groupBy(id_col, "term").agg(
            F.count("*").cast("long").alias("tf")
        )
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # N = docs with ≥1 token (identical to corpus size unless a doc
    # has empty text; those docs carry no terms to rank anyway)
    ndocs = tf.agg(
        F.count_distinct(F.col(id_col)).cast("long").alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("score", F.col("tf") * (F.col("n_docs") - F.col("df")))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy(
            F.col("score").desc(), F.col("df").asc(), F.col("term").asc()
        )
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "term", "tf", "df", "score")
    )
