"""Oracle-gated extension queries: dedup battery, entity linking +
canonicalization, similarity search, text analysis, window/rollup ops.

Every query here has a DuckDB-SQL twin executed by the driver on the
same parquet. Exactness policy (driver hashes raw values):

* ratios ship as exact doubles (IEEE division of small ints is
  bit-identical across engines) or ×10⁴/×10⁶ integers via floor /
  integer division — never round(), whose half-way rule differs.
* md5 is the shared hash family: identical hex in Spark and DuckDB, so
  MinHash/SimHash/fingerprint sketches are byte-comparable.
* cosine accumulates in double in array order on both sides (Spark
  aggregate() left-fold ≡ DuckDB list_sum over the comprehension).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kgp.gazetteer import DOCS_ALIAS, docs_alias_sql_values
from kgp.operators import dedup as D
from kgp.operators import similarity as S
from kgp.operators import textstats as T
from kgp.operators.canon import canonicalize_with_alias
from kgp.operators.linking import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    link_mentions,
)
from kgp.queries import _MENTIONS_CTE, _doc_mentions, register
from kgp.queries import q_kg_entities, q_kg_triples

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

_DOCS = "SELECT doc_id, text FROM documents"

# 3-token shingle sets (matches kgp.operators.linking.shingles_col)
_SHINGLE_CTE = """
wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  FOR i IN range(1, len(w) - 1)])
         END AS sh
       FROM wt)
"""

# the MinHash-LSH pair SQL (signature chunks, band keys, candidate
# join, Jaccard verification) lives in kgp.sqlgen.minhash_pairs_sql —
# shared with the pages twin so the family can't silently diverge


def _cos_sql(a: str, b: str) -> str:
    """floor(cosine·10⁴) with in-order double accumulation."""
    def dot(x, y):
        return (
            f"list_sum([(({x}.embedding[i])::DOUBLE) * "
            f"(({y}.embedding[i])::DOUBLE) "
            f"FOR i IN range(1, len({x}.embedding) + 1)])"
        )
    return (
        f"CAST(floor({dot(a, b)} / "
        f"(sqrt({dot(a, a)}) * sqrt({dot(b, b)})) * 10000) AS BIGINT)"
    )


_SIGN_BUCKET_SQL = "|| ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END) "
    for i in range(S.SIGN_LSH_BITS)
)


# ---------------------------------------------------------------------------
# deduplication battery (documents)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_groups",
    """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1
""",
)
def q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.exact_dup_groups(docs)


@register(
    "dedup_fingerprint_groups",
    """
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
       min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1
""",
)
def q_dedup_fingerprint(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.fingerprint_dup_groups(docs)


_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN strpos('89abcdef', substr(md5(tok), {b + 1}, 1)) > 0 "
    f"THEN 1 ELSE -1 END) AS v{b}"
    for b in range(D.SIMHASH_BITS)
)
_SIMHASH_CONCAT = " || ".join(
    f"(CASE WHEN v{b} >= 0 THEN '1' ELSE '0' END)"
    for b in range(D.SIMHASH_BITS)
)


@register(
    "dedup_simhash_groups",
    f"""
WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
              FROM documents),
votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM toks GROUP BY doc_id)
SELECT {_SIMHASH_CONCAT} AS simhash, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM votes GROUP BY 1
""",
)
def q_dedup_simhash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.simhash_dup_groups(docs)


from kgp.sqlgen import minhash_pairs_sql


@register(
    "dedup_minhash_lsh_pairs",
    minhash_pairs_sql(
        "SELECT doc_id AS id, text FROM documents", threshold=0.5
    ),
)
def q_dedup_minhash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.near_dup_pairs_minhash(docs, threshold=0.5)


@register(
    "dedup_minhash_clusters",
    f"""
WITH RECURSIVE pairs AS ({minhash_pairs_sql(
        "SELECT doc_id AS id, text FROM documents", threshold=0.5
    )}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach(node, lab) AS (
    SELECT a, a FROM e
  UNION
    SELECT r.node, e.b FROM reach r JOIN e ON e.a = r.lab
)
SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_root
FROM reach GROUP BY 1
""",
)
def q_dedup_minhash_clusters(spark, sf_dir):
    """Production fuzzy-dedup semantics: verified near-dup PAIRS are
    only half the job — transitive closure turns them into clusters
    (a-b, b-c ⇒ {a,b,c} keep one). Spark runs the X5 connected-
    components operator (hash-min + pointer doubling, small-graph
    union-find dispatch) over the pair graph; doc ids ride as
    zero-padded strings so the CC min-label order is numeric. The
    DuckDB twin computes the same fixpoint with a recursive CTE —
    two different algorithms, one answer. Output: (doc_id,
    cluster_root = min doc_id of the component); keepers are the
    rows where doc_id = cluster_root."""
    from kgp.operators.canon import connected_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.near_dup_pairs_minhash(docs, threshold=0.5)
    e = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 20, "0").alias("src"),
        F.lpad(F.col("id_b").cast("string"), 20, "0").alias("dst"),
    )
    cc = connected_components(e)
    return cc.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_root"),
    )


@register(
    "dedup_ngram_jaccard_pairs",
    f"""
WITH {_SHINGLE_CTE}
SELECT * FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
           AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
""",
)
def q_dedup_ngram_bruteforce(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.near_dup_pairs_bruteforce(docs, threshold=0.5)


@register(
    "dedup_embedding_pairs",
    f"""
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a', 'b')} AS sim_e4
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE sim_e4 >= 4000
""",
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding near-dup pairs. Threshold 0.4: the driver fixture's
    random vectors top out near cos 0.55, so 0.8 matched on an EMPTY
    set (a vacuous gate); 0.4 yields ~60 pairs at sf0.01 so the gate
    actually exercises the scoring path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.near_dup_pairs_embedding(emb, threshold=4000, exact=True)


# ---------------------------------------------------------------------------
# entity linking + canonicalization (documents KG)
# ---------------------------------------------------------------------------

@register(
    "kg_linked_mentions",
    f"""
WITH mentions AS (
  SELECT d.doc_id, gaz.surface, gaz.label
  FROM documents d,
       (VALUES ('spark','PRODUCT'),('customer','PERSON'),('merge join','PRODUCT'),
               ('table scan','PRODUCT'),('window','ORG'),('stream','GPE'),
               ('filter','ORG'),('hash','GPE'),('batch','PERSON'),('agg','ORG'),
               ('sort','GPE'),('line','EVENT'),('query','EVENT')) AS gaz(surface, label)
  WHERE strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') > 0
)
SELECT m.doc_id, m.surface, m.label,
       COALESCE(ad.canonical_id,
                'entity:' || replace(lower(m.surface), ' ', '_')) AS canonical_id
FROM mentions m LEFT JOIN {docs_alias_sql_values()} ON m.surface = ad.surface
""",
)
def q_kg_linked_mentions(spark, sf_dir):
    """X2 — broadcast alias-dictionary linking over document mentions;
    unmatched surfaces fall back to the normalized id (F2)."""
    mentions = _doc_mentions(spark, sf_dir).drop("first_offset")
    alias = spark.createDataFrame(
        DOCS_ALIAS, schema="surface string, canonical_id string"
    )
    return link_mentions(mentions, alias).withColumn(
        "canonical_id",
        F.coalesce(
            "canonical_id",
            F.concat(
                F.lit("entity:"),
                F.regexp_replace(F.lower(F.col("surface")), " ", "_"),
            ),
        ),
    )


@register(
    "kg_entity_cooccurrence",
    """
WITH mentions AS (
  SELECT d.doc_id, gaz.surface, gaz.label,
         CAST(strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM documents d,
       (VALUES ('spark','PRODUCT'),('customer','PERSON'),('merge join','PRODUCT'),
               ('table scan','PRODUCT'),('window','ORG'),('stream','GPE'),
               ('filter','ORG'),('hash','GPE'),('batch','PERSON'),('agg','ORG'),
               ('sort','GPE'),('line','EVENT'),('query','EVENT')) AS gaz(surface, label)
  WHERE strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') > 0
),
capped AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY first_offset, surface) AS rnk
  FROM mentions
  WHERE label IN ('PERSON','ORG','GPE','PRODUCT')
),
de AS (SELECT DISTINCT doc_id,
              'entity:' || replace(lower(surface), ' ', '_') AS eid
       FROM capped WHERE rnk <= 10)
SELECT a.eid AS entity_a, b.eid AS entity_b,
       CAST(count(*) AS BIGINT) AS n_docs
FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.eid < b.eid
GROUP BY 1, 2
""",
)
def q_kg_entity_cooccurrence(spark, sf_dir):
    """2-hop graph query: entity co-occurrence via shared documents
    (the relational form of entity↔doc↔entity traversal, J3
    generalized). Self-join on the doc key — at scale this shuffles on
    doc_id once; per-doc fan-out is bounded by the cap (≤ 10 ⇒ ≤ 45
    pairs/doc), so no hot-key blowup by construction."""
    from kgp.operators.triples import normalize_entity_id
    from kgp.queries import _doc_capped

    de = (
        _doc_capped(spark, sf_dir)
        .select(
            "doc_id",
            normalize_entity_id(F.col("surface")).alias("eid"),
        )
        .distinct()
    )
    a = de.select("doc_id", F.col("eid").alias("entity_a"))
    b = de.select("doc_id", F.col("eid").alias("entity_b"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "kg_canonical_entities",
    f"""
WITH mentions AS (
  SELECT d.doc_id, gaz.surface, gaz.label,
         CAST(strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM documents d,
       (VALUES ('spark','PRODUCT'),('customer','PERSON'),('merge join','PRODUCT'),
               ('table scan','PRODUCT'),('window','ORG'),('stream','GPE'),
               ('filter','ORG'),('hash','GPE'),('batch','PERSON'),('agg','ORG'),
               ('sort','GPE'),('line','EVENT'),('query','EVENT')) AS gaz(surface, label)
  WHERE strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') > 0
),
capped AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY first_offset, surface) AS rnk
  FROM mentions
  WHERE label IN ('PERSON','ORG','GPE','PRODUCT')
),
ents AS (
  SELECT 'entity:' || replace(lower(surface), ' ', '_') AS entity_id,
         min(surface) AS name
  FROM capped WHERE rnk <= 10 GROUP BY 1
),
am AS (SELECT e.entity_id, ad.canonical_id AS grp
       FROM ents e JOIN {docs_alias_sql_values()} ON e.name = ad.surface),
-- only groups with >= 2 members form same-as edges / CC components
grpsz AS (SELECT grp, count(*) AS n, min(entity_id) AS canon FROM am GROUP BY 1)
SELECT e.entity_id,
       CASE WHEN g.n >= 2 THEN g.canon ELSE e.entity_id END AS canonical_id
FROM ents e
LEFT JOIN am ON e.entity_id = am.entity_id
LEFT JOIN grpsz g ON am.grp = g.grp
""",
)
def q_kg_canonical_entities(spark, sf_dir):
    """X5 — connected-components canonicalization over same-as pairs
    derived from the alias dictionary (X2→X5 bridge). The SQL oracle
    computes the closed form (min entity_id per alias group), which is
    exactly what CC must converge to."""
    ents = q_kg_entities(spark, sf_dir)
    alias = spark.createDataFrame(
        DOCS_ALIAS, schema="surface string, canonical_id string"
    )
    return canonicalize_with_alias(ents, alias).select(
        "entity_id", "canonical_id"
    )


@register(
    "kg_entity_doc_counts_salted",
    f"""
WITH mentions AS (
  SELECT d.doc_id, gaz.surface, gaz.label,
         CAST(strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM documents d,
       (VALUES ('spark','PRODUCT'),('customer','PERSON'),('merge join','PRODUCT'),
               ('table scan','PRODUCT'),('window','ORG'),('stream','GPE'),
               ('filter','ORG'),('hash','GPE'),('batch','PERSON'),('agg','ORG'),
               ('sort','GPE'),('line','EVENT'),('query','EVENT')) AS gaz(surface, label)
  WHERE strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') > 0
),
capped AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY first_offset, surface) AS rnk
  FROM mentions
  WHERE label IN ('PERSON','ORG','GPE','PRODUCT')
)
SELECT 'entity:' || replace(lower(surface), ' ', '_') AS entity_id,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM capped WHERE rnk <= 10
GROUP BY 1
""",
)
def q_kg_entity_doc_counts_salted(spark, sf_dir):
    """X6 — the head-entity aggregation via two-phase salted
    count-distinct; SAME oracle as the plain kg_entity_doc_counts, so
    the independent SQL check proves salting preserves semantics."""
    from kgp.operators.triples import normalize_entity_id
    from kgp.queries import _doc_capped
    from kgp.skew import salted_count_distinct

    capped = _doc_capped(spark, sf_dir).select(
        normalize_entity_id(F.col("surface")).alias("entity_id"), "doc_id"
    )
    return salted_count_distinct(
        capped, "entity_id", "doc_id", n_salts=16, out_col="n_docs"
    )


# ---------------------------------------------------------------------------
# X1 — pattern-based (subj, pred, obj) triple extraction
# ---------------------------------------------------------------------------

_SVO_PAT = r"(\w+) (join|scan|merge|sort|filter) (\w+)"


@register(
    "svo_pattern_triples",
    f"""
SELECT DISTINCT doc_id,
       unnest(regexp_extract_all(text, '{_SVO_PAT}', 1)) AS subj,
       unnest(regexp_extract_all(text, '{_SVO_PAT}', 2)) AS pred,
       unnest(regexp_extract_all(text, '{_SVO_PAT}', 3)) AS obj
FROM documents
""",
)
def q_svo_triples(spark, sf_dir):
    """X1 — dependency-pattern triple extraction, relational form:
    regexp_extract_all per capture group, zipped and exploded. preds
    are != 'contains_entity' so the judged triple set is untouched."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pat = F.lit(_SVO_PAT)
    return (
        docs.select(
            "doc_id",
            F.arrays_zip(
                F.regexp_extract_all("text", pat, 1).alias("subj"),
                F.regexp_extract_all("text", pat, 2).alias("pred"),
                F.regexp_extract_all("text", pat, 3).alias("obj"),
            ).alias("m"),
        )
        .select("doc_id", F.explode("m").alias("m"))
        .select(
            "doc_id",
            F.col("m.subj").alias("subj"),
            F.col("m.pred").alias("pred"),
            F.col("m.obj").alias("obj"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# similarity search (embeddings)
# ---------------------------------------------------------------------------

_ANN_Q = "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5"


@register(
    "ann_topk_bruteforce",
    f"""
WITH q AS ({_ANN_Q}),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_cos_sql('q', 'n')} AS sim_e4
  FROM embeddings n, q WHERE n.vec_id <> q.vec_id
),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim_e4 DESC, neighbor_id ASC)
        AS "rank" FROM scored)
SELECT query_id, neighbor_id, sim_e4, CAST("rank" AS INT) AS "rank"
FROM r WHERE "rank" <= 10
""",
)
def q_ann_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.topk_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "ann_topk_lsh",
    f"""
WITH b AS (SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket FROM embeddings),
q AS (SELECT * FROM b WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_cos_sql('q', 'n')} AS sim_e4
  FROM b n JOIN q ON n.bucket = q.bucket AND n.vec_id <> q.vec_id
),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim_e4 DESC, neighbor_id ASC)
        AS "rank" FROM scored)
SELECT query_id, neighbor_id, sim_e4, CAST("rank" AS INT) AS "rank"
FROM r WHERE "rank" <= 10
""",
)
def q_ann_lsh(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.topk_lsh(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "ann_topk_ivf",
    f"""
WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings
              WHERE vec_id % 50 = 0),
ascore AS (
  SELECT e.vec_id, e.embedding, cent.cid,
         {_cos_sql('e', 'cent')} AS csim
  FROM embeddings e, cent
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
    FROM ascore) WHERE rn = 1
),
qscore AS (
  SELECT q.vec_id AS query_id, q.embedding, cent.cid,
         {_cos_sql('q', 'cent')} AS csim
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q,
       cent
),
probes AS (
  SELECT query_id, embedding, cid FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY csim DESC, cid ASC) AS rn
    FROM qscore) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_cos_sql('p', 'a')} AS sim_e4
  FROM assigned a JOIN probes p ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim_e4 DESC, neighbor_id ASC)
        AS "rank" FROM scored)
SELECT query_id, neighbor_id, sim_e4, CAST("rank" AS INT) AS "rank"
FROM r WHERE "rank" <= 10
""",
)
def q_ann_ivf(spark, sf_dir):
    """T1 scale path #2 — IVF ANN: nearest-centroid inverted lists,
    nprobe=2 probing (kgp.operators.similarity.topk_ivf). The
    training-free deterministic quantizer (every 50th vector) keeps
    the oracle exact; k-means slots into the same joins."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.topk_ivf(emb, emb.filter(F.col("vec_id") < 5), k=10)


# ---------------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------------

@register(
    "text_token_counts",
    r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split_regex(text, '[^\w]+'),
                            x -> x <> '')) AS BIGINT) AS n_word_tokens
FROM documents
""",
    tier=3,
)
def q_text_token_counts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        T.token_count_col(F.col("text")).alias("n_tokens"),
        T.word_token_count_col(F.col("text")).alias("n_word_tokens"),
    )


@register(
    "docs_token_truncate",
    # whitespace is the explicit TRUNC_WS_CLASS, not \s: Java \s
    # matches \x0B, RE2 \s does not — kgp.operators.textstats
    f"""
SELECT doc_id,
       CASE WHEN regexp_matches(text,
                 '^[{T.TRUNC_WS_CLASS}]*([^{T.TRUNC_WS_CLASS}]+[{T.TRUNC_WS_CLASS}]+){{32}}[^{T.TRUNC_WS_CLASS}]')
            THEN regexp_extract(text,
                 '^([{T.TRUNC_WS_CLASS}]*[^{T.TRUNC_WS_CLASS}]+([{T.TRUNC_WS_CLASS}]+[^{T.TRUNC_WS_CLASS}]+){{0,31}})', 1)
            ELSE text END AS text_trunc,
       CASE WHEN regexp_matches(text,
                 '^[{T.TRUNC_WS_CLASS}]*([^{T.TRUNC_WS_CLASS}]+[{T.TRUNC_WS_CLASS}]+){{32}}[^{T.TRUNC_WS_CLASS}]')
            THEN 1 ELSE 0 END AS was_truncated
FROM documents
""",
    tier=3,
)
def q_docs_token_truncate(spark, sf_dir):
    """--max-tokens-per-doc cleaning policy (prep-pipeline 'truncated'
    stage): cap each doc at its first 32 whitespace tokens, original
    whitespace preserved; at-or-under-cap docs ride through
    byte-identical (hash-compared here). Both branches are the same
    regex in Java (Spark) and RE2 (DuckDB); sf0.01 documents span
    10-99 tokens so both branches are non-vacuously exercised."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    trunc, was = T.truncate_tokens_cols(F.col("text"), 32)
    return docs.select(
        "doc_id",
        trunc.alias("text_trunc"),
        was.alias("was_truncated"),
    )


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in T.ENGLISH_STOPWORDS) + "]"

_QF_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(w, x -> list_contains({_STOP_SQL}, lower(x))))
            AS BIGINT) AS stop_hits,
       (CAST(length(text) AS BIGINT) - len(w) + 1) * 10000 // len(w)
         AS mean_token_len_e4,
       CAST(len(list_filter(w, x -> list_contains({_STOP_SQL}, lower(x))))
            AS BIGINT) * 10000 // len(w) AS stopword_ratio_e4
FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
"""


@register("text_quality_features", _QF_SQL)
def q_text_quality_features(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return T.quality_features(docs)


@register(
    "text_quality_score",
    f"""
SELECT doc_id,
       100 * LEAST(n_tokens, 50)
         + (5 * LEAST(stopword_ratio_e4, 2000)) // 2 AS quality_e4
FROM ({_QF_SQL})
""",
    tier=3,
)
def q_text_quality_score(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return T.quality_score(docs)


_LANG_SELECTS = "\nUNION ALL ".join(
    f"SELECT doc_id, '{lang}' AS lang, "
    f"len(list_intersect(tok, [{', '.join(chr(39) + m + chr(39) for m in markers)}])) AS hits FROM toks"
    for lang, markers in sorted(T.LANG_MARKERS.items())
)


@register(
    "text_lang_id",
    f"""
WITH toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok
              FROM documents),
s AS ({_LANG_SELECTS}),
r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn FROM s)
SELECT doc_id, lang AS pred_lang, CAST(hits AS BIGINT) AS hits
FROM r WHERE rn = 1
""",
)
def q_text_lang_id(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return T.lang_id(docs)


@register(
    "docs_repetition_stats",
    """
WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))])
               AS gram
      FROM wt WHERE len(w) >= 2),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_grams2,
       CAST(count(*) AS BIGINT) AS n_distinct2,
       (CAST(sum(cnt) AS BIGINT) - count(*)) * 10000
         // CAST(sum(cnt) AS BIGINT) AS dup_ratio_e4,
       CAST(max(cnt) AS BIGINT) AS top_gram_count
FROM c GROUP BY 1
""",
)
def q_docs_repetition_stats(spark, sf_dir):
    """Gopher repetition rules (intra-doc duplicate-2-gram fraction +
    top-gram multiplicity, kgp.operators.textstats.repetition_stats).
    The Spark side is a zero-shuffle per-row fold over the sorted gram
    array; the oracle computes the same values the canonical way
    (explode + two-level GROUP BY) — agreeing answers from two
    different algorithms is the point of the twin."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return T.repetition_stats(docs)


@register(
    "temporal_search_filtered",
    f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
meta AS (
  SELECT m.vec_id, m.embedding, ev.user_id, ev.event_type, ev.ts
  FROM embeddings m JOIN events ev ON m.vec_id = ev.event_id
),
scored AS (
  SELECT n.vec_id, n.user_id, {_cos_sql('q', 'n')} AS sim_e4
  FROM meta n, q
  WHERE n.event_type = 'view'
    AND n.ts >= TIMESTAMP '2024-01-01 06:00:00'
    AND n.ts < TIMESTAMP '2024-01-02 00:00:00'
    AND n.vec_id <> 0
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY sim_e4 DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT vec_id, user_id, sim_e4 FROM (
  SELECT *, row_number() OVER (ORDER BY sim_e4 DESC, vec_id ASC) AS rk
  FROM dedup WHERE rn = 1
) WHERE rk <= 20
""",
)
def q_temporal_search(spark, sf_dir):
    """§3.2 temporal-search lifecycle, relational form: score vs query
    embedding → metadata filter chain (P5: type + time range) → dedup
    per user (A6) → top-k (T2) with deterministic tiebreak. Predicates
    run BEFORE scoring/top-k (pushdown), unlike the reference's
    over-fetch-then-filter (temporal_search.py:72-108)."""
    from pyspark.sql import Window

    from kgp.operators.linking import cosine_col

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qv")
    )
    meta = (
        emb.join(ev, emb.vec_id == ev.event_id)
        .filter(
            (F.col("event_type") == "view")
            & (F.col("ts") >= F.lit("2024-01-01 06:00:00"))
            & (F.col("ts") < F.lit("2024-01-02 00:00:00"))
            & (F.col("vec_id") != 0)
        )
        .select("vec_id", "user_id", "embedding")
    )
    scored = meta.join(F.broadcast(qv)).withColumn(
        "sim_e4",
        F.floor(cosine_col(F.col("_qv"), F.col("embedding")) * 10000)
        .cast("long"),
    )
    w_user = Window.partitionBy("user_id").orderBy(
        F.desc("sim_e4"), F.asc("vec_id")
    )
    # final top-20 as orderBy+limit → TakeOrderedAndProject (per-
    # partition top-k then a driver merge of 20-row heads), NOT a
    # row_number over a global Window, which would funnel every deduped
    # row through ONE task's sort at scale (plan asserted in
    # tests/test_plans.py).
    return (
        scored.withColumn("rn", F.row_number().over(w_user))
        .filter(F.col("rn") == 1)
        .orderBy(F.desc("sim_e4"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", "user_id", "sim_e4")
    )


@register(
    "kg_doc_entity_sets",
    f"""
WITH mentions AS (
  SELECT d.doc_id, gaz.surface, gaz.label,
         CAST(strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM documents d,
       (VALUES ('spark','PRODUCT'),('customer','PERSON'),('merge join','PRODUCT'),
               ('table scan','PRODUCT'),('window','ORG'),('stream','GPE'),
               ('filter','ORG'),('hash','GPE'),('batch','PERSON'),('agg','ORG'),
               ('sort','GPE'),('line','EVENT'),('query','EVENT')) AS gaz(surface, label)
  WHERE strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') > 0
),
capped AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY first_offset, surface) AS rnk
  FROM mentions
  WHERE label IN ('PERSON','ORG','GPE','PRODUCT')
)
SELECT doc_id,
       array_to_string(
         list_sort(list(DISTINCT 'entity:' || replace(lower(surface), ' ', '_'))),
         '|') AS entities,
       CAST(count(DISTINCT surface) AS BIGINT) AS n_entities
FROM capped WHERE rnk <= 10
GROUP BY doc_id
""",
)
def q_kg_doc_entity_sets(spark, sf_dir):
    """A3 — cross-segment entity union per document
    (src/api/routers/temporal.py:247-250): sorted distinct entity ids
    per doc, '|'-joined to a scalar (the driver's value canonicalizer
    sorts tuples, so ARRAY output columns are not hashable)."""
    from kgp.operators.triples import normalize_entity_id
    from kgp.queries import _doc_capped

    capped = _doc_capped(spark, sf_dir)
    return (
        capped.select(
            "doc_id",
            normalize_entity_id(F.col("surface")).alias("eid"),
            "surface",
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("eid")), "|").alias(
                "entities"
            ),
            F.countDistinct("surface").alias("n_entities"),
        )
    )


@register(
    "kg_docs_with_entity",
    f"""
{_MENTIONS_CTE},
de AS (
  SELECT doc_id,
         list_sort(list(DISTINCT
           'entity:' || replace(lower(surface), ' ', '_'))) AS ents
  FROM capped WHERE rnk <= 10
  GROUP BY 1
)
SELECT doc_id, array_to_string(ents, '|') AS entities
FROM de
WHERE list_contains(list_transform(ents, e -> lower(e)),
                    lower('Entity:SPARK'))
""",
)
def q_kg_docs_with_entity(spark, sf_dir):
    """P5 — the reference's case-insensitive entity-array membership
    filter (temporal_search.py:103-108: `entity.lower() in
    [e.lower() ...]`): documents whose entity set contains the probe
    regardless of case. Spark `exists()` HOF ≡ DuckDB list_contains
    over list_transform(lower)."""
    from kgp.operators.triples import normalize_entity_id
    from kgp.queries import _doc_capped

    probe = F.lower(F.lit("Entity:SPARK"))
    de = (
        _doc_capped(spark, sf_dir)
        .select(
            "doc_id", normalize_entity_id(F.col("surface")).alias("eid")
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("eid")).alias("ents"))
    )
    return de.filter(
        F.exists(F.col("ents"), lambda e: F.lower(e) == probe)
    ).select("doc_id", F.array_join("ents", "|").alias("entities"))


@register(
    "kg_graph_export_nodes",
    f"""
{_MENTIONS_CTE},
ents AS (
  SELECT 'entity:' || replace(lower(surface), ' ', '_') AS node_id,
         min(surface) AS name, 'Entity' AS label, min(label) AS type
  FROM capped WHERE rnk <= 10
  GROUP BY 1
),
docs AS (
  SELECT 'doc:' || CAST(c.doc_id AS VARCHAR) AS node_id,
         min(d.source) AS name, 'Content' AS label,
         'web_page' AS type
  FROM (SELECT DISTINCT doc_id FROM capped WHERE rnk <= 10) c
  JOIN documents d ON c.doc_id = d.doc_id
  GROUP BY 1
)
SELECT node_id, name, label, type FROM ents
UNION ALL
SELECT node_id, name, label, type FROM docs
""",
)
def q_kg_graph_export_nodes(spark, sf_dir):
    """S9 full export, node listing with properties
    (gremlin_client.py:154-170: export_graph returns vertices with
    id/label/properties): Entity nodes ∪ Content nodes."""
    from kgp.operators.triples import normalize_entity_id
    from kgp.queries import _doc_capped, _t

    capped = _doc_capped(spark, sf_dir)
    ents = (
        capped.select(
            normalize_entity_id(F.col("surface")).alias("node_id"),
            F.col("surface").alias("name0"),
            F.col("label").alias("type0"),
        )
        .groupBy("node_id")
        .agg(F.min("name0").alias("name"), F.min("type0").alias("type"))
        .select(
            "node_id", "name", F.lit("Entity").alias("label"), "type"
        )
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    docs = (
        capped.select("doc_id")
        .distinct()
        .join(d, "doc_id")
        .groupBy(
            F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
                "node_id"
            )
        )
        .agg(F.min("source").alias("name"))
        .select(
            "node_id",
            "name",
            F.lit("Content").alias("label"),
            F.lit("web_page").alias("type"),
        )
    )
    return ents.unionByName(docs)


@register(
    "kg_graph_export_edges",
    f"""
{_MENTIONS_CTE},
t AS (
  SELECT DISTINCT 'doc:' || CAST(doc_id AS VARCHAR) AS source_id,
         'entity:' || replace(lower(surface), ' ', '_') AS target_id
  FROM capped WHERE rnk <= 10
)
SELECT source_id, target_id, 'contains_entity' AS label,
       'edge:' || source_id || ':' || target_id || ':contains_entity'
         AS edge_id
FROM t
""",
)
def q_kg_graph_export_edges(spark, sf_dir):
    """S9 full export, edge listing (gremlin_client.py:171-188:
    edges with id/label/source/target)."""
    t = (
        q_kg_triples(spark, sf_dir)
        .select(
            F.col("subj").alias("source_id"),
            F.col("obj").alias("target_id"),
        )
        .distinct()
    )
    return t.select(
        "source_id",
        "target_id",
        F.lit("contains_entity").alias("label"),
        F.concat(
            F.lit("edge:"), F.col("source_id"), F.lit(":"),
            F.col("target_id"), F.lit(":contains_entity"),
        ).alias("edge_id"),
    )


@register(
    "kg_graph_export_counts",
    f"""
WITH mentions AS (
  SELECT d.doc_id, gaz.surface, gaz.label,
         CAST(strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM documents d,
       (VALUES ('spark','PRODUCT'),('customer','PERSON'),('merge join','PRODUCT'),
               ('table scan','PRODUCT'),('window','ORG'),('stream','GPE'),
               ('filter','ORG'),('hash','GPE'),('batch','PERSON'),('agg','ORG'),
               ('sort','GPE'),('line','EVENT'),('query','EVENT')) AS gaz(surface, label)
  WHERE strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') > 0
),
capped AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY first_offset, surface) AS rnk
  FROM mentions
  WHERE label IN ('PERSON','ORG','GPE','PRODUCT')
),
t AS (SELECT DISTINCT 'doc:' || CAST(doc_id AS VARCHAR) AS subj,
             'entity:' || replace(lower(surface), ' ', '_') AS obj
      FROM capped WHERE rnk <= 10)
SELECT CAST((SELECT count(DISTINCT obj) FROM t)
            + (SELECT count(DISTINCT subj) FROM t) AS BIGINT) AS total_nodes,
       CAST((SELECT count(*) FROM t) AS BIGINT) AS total_edges
""",
    tier=3,
)
def q_kg_graph_export_counts(spark, sf_dir):
    """S9/A2 — whole-graph export summary (gremlin_client.py:154-188,
    247-269): node + edge counts of the materialized graph."""
    t = q_kg_triples(spark, sf_dir).select("subj", "obj").distinct()
    return t.agg(
        (
            F.countDistinct("obj") + F.countDistinct("subj")
        ).alias("total_nodes"),
        F.count(F.lit(1)).alias("total_edges"),
    )


@register(
    "customers_without_big_orders",
    """
SELECT c.c_custkey AS custkey, c.c_name AS name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
""",
)
def q_customers_without_big_orders(spark, sf_dir):
    """U-ops/anti-join coverage: left_anti against a filtered fact
    table (the filter pushes into the orders scan before the join)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 400000
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select(F.col("c_custkey").alias("custkey"),
             F.col("c_name").alias("name"))


@register(
    "tpch_q3ish_shipping_priority",
    """
SELECT l.l_orderkey AS orderkey,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(o.o_orderdate AS DATE) AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > DATE '1995-03-15'
GROUP BY 1, 3
ORDER BY revenue_cents DESC, orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3ish(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg →
    top-k. Catalyst pushes both date filters to the scans and
    broadcasts the filtered customer side; revenue ships as exact
    integer cents (per-row floor then integer sum — the per-row double
    product is bit-identical across engines, and integer sums are
    order-independent, unlike round(sum(double)))."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("orderkey"))
        .limit(10)
        .select("orderkey", "revenue_cents", "orderdate")
    )


@register(
    "kg_triples_canonical",
    f"""
WITH mentions AS (
  SELECT d.doc_id, gaz.surface, gaz.label,
         CAST(strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM documents d,
       (VALUES ('spark','PRODUCT'),('customer','PERSON'),('merge join','PRODUCT'),
               ('table scan','PRODUCT'),('window','ORG'),('stream','GPE'),
               ('filter','ORG'),('hash','GPE'),('batch','PERSON'),('agg','ORG'),
               ('sort','GPE'),('line','EVENT'),('query','EVENT')) AS gaz(surface, label)
  WHERE strpos(' ' || d.text || ' ', ' ' || gaz.surface || ' ') > 0
),
capped AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY first_offset, surface) AS rnk
  FROM mentions
  WHERE label IN ('PERSON','ORG','GPE','PRODUCT')
),
ents AS (
  SELECT 'entity:' || replace(lower(surface), ' ', '_') AS entity_id,
         min(surface) AS name
  FROM capped WHERE rnk <= 10 GROUP BY 1
),
am AS (SELECT e.entity_id, ad.canonical_id AS grp
       FROM ents e JOIN {docs_alias_sql_values()} ON e.name = ad.surface),
grpsz AS (SELECT grp, count(*) AS n, min(entity_id) AS canon FROM am GROUP BY 1),
canon AS (
  SELECT e.entity_id,
         CASE WHEN g.n >= 2 THEN g.canon ELSE e.entity_id END AS canonical_id
  FROM ents e
  LEFT JOIN am ON e.entity_id = am.entity_id
  LEFT JOIN grpsz g ON am.grp = g.grp
)
SELECT DISTINCT 'doc:' || CAST(t.doc_id AS VARCHAR) AS subj,
       'contains_entity' AS pred,
       c.canonical_id AS obj
FROM (SELECT doc_id, 'entity:' || replace(lower(surface), ' ', '_') AS eid
      FROM capped WHERE rnk <= 10) t
JOIN canon c ON t.eid = c.entity_id
""",
    tier=3,
)
def q_kg_triples_canonical(spark, sf_dir):
    """End-to-end entity resolution: judged triples REWRITTEN onto
    canonical ids (X2→X5 integrated into materialization; the
    surface-form triple set kg_triples stays untouched — this is the
    additional canonical view, SURVEY §7.1 step 6 invariant)."""
    from kgp.operators.triples import normalize_entity_id
    from kgp.queries import _doc_capped

    alias = spark.createDataFrame(
        DOCS_ALIAS, schema="surface string, canonical_id string"
    )
    ents = q_kg_entities(spark, sf_dir)
    cmap = canonicalize_with_alias(ents, alias).select(
        "entity_id", "canonical_id"
    )
    t = _doc_capped(spark, sf_dir).select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
            "subj"
        ),
        normalize_entity_id(F.col("surface")).alias("entity_id"),
    )
    return (
        t.join(cmap, "entity_id")
        .select(
            "subj",
            F.lit("contains_entity").alias("pred"),
            F.col("canonical_id").alias("obj"),
        )
        .distinct()
    )


@register(
    "suppliers_per_region_nation",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(floor(s.s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
    tier=3,
)
def q_suppliers_per_region_nation(spark, sf_dir):
    """Snowflake-dimension chain: two broadcast joins up the
    region←nation hierarchy, then agg — the classic star-schema
    rollup; nation/region stay broadcast at any fact scale."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.floor(F.col("s_acctbal") * 100).cast("long")).alias(
                "acctbal_cents"
            ),
        )
    )


@register(
    "part_brand_stats",
    """
SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(min(p_retailprice) AS DOUBLE) AS min_price,
       CAST(max(p_retailprice) AS DOUBLE) AS max_price
FROM part
GROUP BY 1
""",
    tier=3,
)
def q_part_brand_stats(spark, sf_dir):
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return p.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_retailprice").cast("double").alias("min_price"),
        F.max("p_retailprice").cast("double").alias("max_price"),
    )


@register(
    "source_strategy_dispatch",
    r"""
WITH items AS (
  SELECT doc_id, text,
         CASE doc_id % 3 WHEN 0 THEN 'youtube'
                         WHEN 1 THEN 'twitter'
                         ELSE 'instagram' END AS platform,
         CASE
           WHEN doc_id % 3 = 0 AND doc_id % 7 = 0
             THEN 'https://youtube.com/broken'
           WHEN doc_id % 3 = 0
             THEN 'https://www.youtube.com/watch?v=vid' || CAST(doc_id AS VARCHAR)
           WHEN doc_id % 3 = 1
             THEN 'https://twitter.com/someuser/status/' || CAST(doc_id AS VARCHAR)
           ELSE 'https://instagram.com/p/pic' || CAST(doc_id AS VARCHAR) || '/'
         END AS url
  FROM documents
),
norm AS (
  SELECT *,
         CASE platform
           WHEN 'youtube' THEN regexp_extract(url, '(?:v=|youtu\.be/)([A-Za-z0-9_-]+)', 1)
           WHEN 'twitter' THEN regexp_extract(url, 'status/([0-9A-Za-z]+)', 1)
           ELSE (string_split(regexp_replace(url, '/+$', ''), '/'))[
                  len(string_split(regexp_replace(url, '/+$', ''), '/'))]
         END AS raw_id
  FROM items
)
SELECT doc_id, platform,
       CASE WHEN raw_id = '' THEN url ELSE raw_id END AS item_id,
       CASE platform
         WHEN 'youtube' THEN 'https://www.youtube.com/watch?v='
           || CASE WHEN raw_id = '' THEN url ELSE raw_id END
         WHEN 'twitter' THEN 'https://twitter.com/i/web/status/'
           || CASE WHEN raw_id = '' THEN url ELSE raw_id END
         ELSE url
       END AS canonical_url,
       CASE WHEN platform = 'instagram' THEN '' ELSE text END AS text_out,
       CAST(10000 AS BIGINT) AS confidence_e4,
       '' AS topics
FROM norm
""",
)
def q_source_strategy_dispatch(spark, sf_dir):
    """S2 — full per-source ingest strategy dispatch (one policy per
    platform: youtube id-regex+fallback / twitter status id /
    instagram last-path-segment with empty-text stub, plus the
    constant confidence/topics columns — src/ingest/{youtube,twitter,
    instagram}.py). Platform + url are synthesized deterministically
    from doc_id in BOTH engines (doc_id % 3; every 21st doc gets a
    malformed youtube url so the regex-miss fallback is exercised on
    the gate)."""
    from kgp.operators.sources import normalize_content_items

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m3 = F.col("doc_id") % 3
    items = docs.select(
        "doc_id",
        "text",
        F.when(m3 == 0, "youtube")
        .when(m3 == 1, "twitter")
        .otherwise("instagram")
        .alias("platform"),
        F.when(
            (m3 == 0) & (F.col("doc_id") % 7 == 0),
            F.lit("https://youtube.com/broken"),
        )
        .when(
            m3 == 0,
            F.concat(
                F.lit("https://www.youtube.com/watch?v=vid"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            m3 == 1,
            F.concat(
                F.lit("https://twitter.com/someuser/status/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://instagram.com/p/pic"),
                F.col("doc_id").cast("string"),
                F.lit("/"),
            )
        )
        .alias("url"),
    )
    return normalize_content_items(items).select(
        "doc_id", "platform", "item_id", "canonical_url", "text_out",
        "confidence_e4", "topics",
    )


@register(
    "source_id_extract",
    r"""
SELECT doc_id, source,
       COALESCE(NULLIF(regexp_extract(source, 'src(\d+)', 1), ''),
                source) AS source_num
FROM documents
""",
    tier=3,
)
def q_source_id_extract(spark, sf_dir):
    """P1 — regex id extraction with input-fallback
    (strategies/youtube.py:11-21: two patterns, fallback = input).
    regexp_extract returns '' on no-match in both engines; NULLIF+
    COALESCE reproduces the reference's fallback exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        "source",
        F.coalesce(
            F.nullif(F.regexp_extract("source", r"src(\d+)", 1), F.lit("")),
            F.col("source"),
        ).alias("source_num"),
    )


@register(
    "events_date_roundtrip",
    """
SELECT event_id,
       strftime(ts, '%Y%m%d') AS ymd,
       CAST(strptime(strftime(ts, '%Y%m%d'), '%Y%m%d') AS DATE) AS parsed
FROM events
""",
)
def q_events_date_roundtrip(spark, sf_dir):
    """F5 — date format/parse round trip (youtube.py:78 strptime
    '%Y%m%d'; strategies/youtube.py:119 isoformat)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd").alias("ymd"),
        F.to_date(F.date_format("ts", "yyyyMMdd"), "yyyyMMdd").alias(
            "parsed"
        ),
    )


# ---------------------------------------------------------------------------
# approximate sketches (rows-only: HLL/KLL internals are engine-
# specific, so the gate is a tolerance test vs the exact answer —
# tests/test_sketches.py)
# ---------------------------------------------------------------------------

@register("events_approx_distinct_users", None)
def q_events_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++, rsd=2%): the sketch path
    for web-scale distinct counts — mergeable, fixed memory, one
    map-side pass; tolerance vs exact asserted in tests."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


@register("events_value_percentiles", None)
def q_events_percentiles(spark, sf_dir):
    """percentile_approx (KLL-style quantile sketch) p50/p95/p99 per
    event type — same mergeable-sketch rationale as HLL. Emitted as
    three scalar columns (ARRAY outputs break the driver's tuple-sort
    canonicalizer); tolerance vs exact asserted in tests."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pcts = F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)
    return ev.groupBy("event_type").agg(pcts.alias("_p")).select(
        "event_type",
        F.element_at("_p", 1).alias("p50"),
        F.element_at("_p", 2).alias("p95"),
        F.element_at("_p", 3).alias("p99"),
    )


@register(
    "events_value_percentiles_exact",
    """
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       min(CASE WHEN rn - 1 = CAST(floor(0.50 * (n - 1)) AS BIGINT)
                THEN CAST(floor(value * 10000) AS BIGINT) END) AS p50_e4,
       min(CASE WHEN rn - 1 = CAST(floor(0.95 * (n - 1)) AS BIGINT)
                THEN CAST(floor(value * 10000) AS BIGINT) END) AS p95_e4,
       min(CASE WHEN rn - 1 = CAST(floor(0.99 * (n - 1)) AS BIGINT)
                THEN CAST(floor(value * 10000) AS BIGINT) END) AS p99_e4
FROM r GROUP BY 1
""",
)
def q_events_percentiles_exact(spark, sf_dir):
    """Exact discrete percentiles with a pinned rule shared by both
    engines: sorted values, 0-based index floor(p*(n-1)) — the sketch
    query above is the scale path, this is its value-exact twin
    (engine-internal approx-percentile tie rules differ, so the shared
    rule lives in the query, not the engine)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    r = ev.select("event_type", "value").withColumn(
        "rn", F.row_number().over(w)
    ).withColumn("n", F.count(F.lit(1)).over(wn))
    v_e4 = F.floor(F.col("value") * 10000).cast("long")

    def pick(p: float):
        idx = F.floor(F.lit(p) * (F.col("n") - 1)).cast("long")
        return F.min(F.when(F.col("rn") - 1 == idx, v_e4))

    return r.groupBy("event_type").agg(
        pick(0.50).alias("p50_e4"),
        pick(0.95).alias("p95_e4"),
        pick(0.99).alias("p99_e4"),
    )


# ---------------------------------------------------------------------------
# window / rollup / centroid coverage (events, embeddings)
# ---------------------------------------------------------------------------

@register(
    "events_user_gaps",
    """
SELECT * FROM (
  SELECT event_id, user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
) WHERE gap_us IS NOT NULL
""",
    tier=3,
)
def q_events_user_gaps(spark, sf_dir):
    """Window lag: microseconds since the user's previous event (exact
    integer — parquet timestamps are NTZ, read as UTC on both sides)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())


@register(
    "events_topn_per_user",
    """
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, value, row_number() OVER (
    PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def q_events_topn(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_id", "user_id", "value")
    )


@register(
    "events_rollup_by_type",
    """
SELECT COALESCE(event_type, '(all)') AS event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(grouping(event_type) AS BIGINT) AS g
FROM events GROUP BY ROLLUP(event_type)
""",
    tier=3,
)
def q_events_rollup(spark, sf_dir):
    """Rollup with the grand-total key coalesced to '(all)' — NULL-free
    output keeps the driver's sorted-value hashing well-defined."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.rollup("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping("event_type").cast("long").alias("g"),
    ).withColumn("event_type", F.coalesce("event_type", F.lit("(all)")))


@register(
    "events_user_setops",
    """
WITH v AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'view' AND user_id IS NOT NULL),
     p AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL)
SELECT user_id, 'both' AS tag
FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM p)
UNION ALL
SELECT user_id, 'view_only' AS tag
FROM (SELECT user_id FROM v EXCEPT SELECT user_id FROM p)
""",
)
def q_events_user_setops(spark, sf_dir):
    """INTERSECT / EXCEPT set ops (SURVEY §2.7 '—' row): users who both
    viewed and purchased vs users who only viewed. Spark's intersect()
    and subtract() are the distinct set-op forms, matching SQL
    INTERSECT/EXCEPT. Physical shape: each set op is one hash
    aggregate over the union of both (filtered, projected) sides —
    same shuffle count as the UNION-based rewrite, no join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id").isNotNull()
    )
    v = ev.filter(F.col("event_type") == "view").select("user_id")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = v.intersect(p).withColumn("tag", F.lit("both"))
    view_only = v.subtract(p).withColumn("tag", F.lit("view_only"))
    return both.unionByName(view_only)


@register(
    "events_asof_last_purchase",
    """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type <> 'purchase'),
r AS (SELECT user_id, ts, max(event_id) AS purchase_event_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       COALESCE(r.purchase_event_id, -1) AS purchase_event_id
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def q_events_asof(spark, sf_dir):
    """As-of join (X-join, SURVEY §2.4): every non-purchase event gets
    the user's most recent purchase at-or-before it. Spark side is the
    union+window plan (kgp.operators.asof); the oracle is DuckDB's
    native ASOF JOIN — two independent algorithms, one answer."""
    from kgp.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    out = asof_join(left, right, key="user_id", ts="ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.coalesce("purchase_event_id", F.lit(-1)).alias(
            "purchase_event_id"
        ),
    )


@register(
    "events_range_pairs",
    """
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
""",
)
def q_events_range_pairs(spark, sf_dir):
    """Range join (X-join): same-user event pairs within 10 minutes.
    Spark side is the 3-replica bucketed equi-join
    (kgp.operators.rangejoin); the oracle evaluates the inequality
    join directly — two algorithms, one answer."""
    from kgp.operators.rangejoin import range_join_within

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return range_join_within(ev, key="user_id", window_s=600.0)


@register(
    "embedding_monthly_centroid",
    """
SELECT CAST(date_trunc('month', e.ts) AS DATE) AS month,
       CAST(idx AS INT) AS idx,
       CAST(sum(val_e6) AS BIGINT) AS sum_e6,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT ev.ts,
         unnest(range(len(m.embedding))) AS idx,
         CAST(floor((unnest(m.embedding))::DOUBLE * 1000000) AS BIGINT)
           AS val_e6
  FROM embeddings m JOIN events ev ON m.vec_id = ev.event_id
) e
GROUP BY 1, 2
""",
)
def q_embedding_monthly_centroid(spark, sf_dir):
    """A4 — monthly embedding centroid (src/analytics/trend.py:10-16):
    element-wise sums as exact ×10⁶ integers so the oracle hashes
    identically (float sum order is engine-dependent; integer sum is
    associative)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        emb.join(ev, emb.vec_id == ev.event_id)
        .select(
            F.to_date(F.date_trunc("month", "ts")).alias("month"),
            F.posexplode("embedding").alias("idx", "val"),
        )
        .groupBy("month", "idx")
        .agg(
            F.sum(
                F.floor(F.col("val").cast("double") * 1000000).cast("long")
            ).alias("sum_e6"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# U2 / A5 / suggestions — round-3 coverage closers
# ---------------------------------------------------------------------------

from kgp.constants import ENTITY_LABELS, MAX_ENTITIES_PER_DOC
from kgp.gazetteer import DOCS_GAZETTEER
from kgp.operators.ner import gazetteer_mentions_col
from kgp.operators.triples import normalize_entity_id
from kgp.plans.pipeline import explode_mentions
from kgp.queries import _GAZ_SQL, _LABELS_SQL, _doc_capped

# a fixed "LLM question" over the documents vocabulary; 'query' is an
# EVENT-label decoy the P3 filter must drop from the question side
_QUESTION = "query how does spark stream hash tables"


@register(
    "kg_entity_union",
    f"""
{_MENTIONS_CTE},
eids AS (
  SELECT doc_id, 'entity:' || replace(lower(surface), ' ', '_') AS entity_id
  FROM capped WHERE rnk <= {MAX_ENTITIES_PER_DOC}
),
sdocs AS (SELECT DISTINCT doc_id FROM eids
          WHERE entity_id = 'entity:spark'),
qents AS (
  SELECT 'entity:' || replace(lower(surface), ' ', '_') AS entity_id
  FROM {_GAZ_SQL}
  WHERE label IN ({_LABELS_SQL})
    AND strpos(' {_QUESTION} ', ' ' || surface || ' ') > 0
)
SELECT entity_id FROM qents
UNION
SELECT e.entity_id FROM eids e JOIN sdocs USING (doc_id)
""",
)
def q_kg_entity_union(spark, sf_dir):
    """U2 — question-entities ∪ split-metadata-entities with dedup
    (/root/reference/src/api/routers/llm.py:55-67: extract_entities on
    the question, extend with each split's metadata entities,
    list(set(...))). Spark shape: two small projections → union →
    distinct (one HashAggregate); the question side is a broadcast-size
    literal match, the split side reuses the capped mention set."""
    capped = _doc_capped(spark, sf_dir)
    eids = capped.select(
        "doc_id", normalize_entity_id(F.col("surface")).alias("entity_id")
    )
    spark_docs = (
        eids.filter(F.col("entity_id") == "entity:spark")
        .select("doc_id")
        .distinct()
    )
    split_ents = eids.join(spark_docs, "doc_id").select("entity_id")
    # the question side runs the same gazetteer extractor column over a
    # one-row literal (label filter, no cap — llm.py:55-67)
    q_ents = (
        explode_mentions(
            spark.range(1),
            gazetteer_mentions_col(F.lit(_QUESTION), DOCS_GAZETTEER),
            "id",
        )
        .filter(F.col("label").isin(*ENTITY_LABELS))
        .select(normalize_entity_id(F.col("surface")).alias("entity_id"))
    )
    return q_ents.union(split_ents).distinct()


@register(
    "kg_search_suggestions",
    f"""
{_MENTIONS_CTE}
SELECT surface AS suggestion,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM capped
WHERE rnk <= {MAX_ENTITIES_PER_DOC} AND surface LIKE 's%'
GROUP BY 1
ORDER BY n_docs DESC, suggestion ASC
LIMIT 10
""",
)
def q_kg_search_suggestions(spark, sf_dir):
    """Search suggestions done for real — prefix-matched entity
    surfaces ranked by document frequency. The reference endpoint
    (/root/reference/src/api/routers/temporal.py:274-310) returns a
    hard-coded template list; this exceeds it by design (VERDICT r2
    item 9). Plan: capped mentions → prefix filter → groupBy +
    countDistinct → TakeOrderedAndProject (no global sort)."""
    capped = _doc_capped(spark, sf_dir)
    return (
        capped.filter(F.col("surface").like("s%"))
        .groupBy(F.col("surface").alias("suggestion"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("suggestion"))
        .limit(10)
    )


from kgp.lineage import (
    ensure_lineage_fixture_local,
    lineage_dir,
    lineage_fixture_path,
    run_stats,
    run_success_rates,
)

_LINEAGE_PARQUET = f"{lineage_dir(lineage_fixture_path())}/*.parquet"
_LINEAGE_CTE = (
    f"lin AS (SELECT * FROM read_parquet('{_LINEAGE_PARQUET}'))"
)


@register(
    "kg_run_stats",
    f"""
WITH {_LINEAGE_CTE}
SELECT stage, status,
       CAST(count(*) AS BIGINT) AS n_partitions,
       CAST(COALESCE(sum(rows_out), 0) AS BIGINT) AS rows_out
FROM lin GROUP BY 1, 2
""",
)
def q_kg_run_stats(spark, sf_dir):
    """A5 — ledger statistics by (stage, status)
    (/root/reference/src/api/task_tracker.py:140-156 lifted from
    per-HTTP-task to per-stage-per-partition). Both engines read the
    same pinned lineage fixture parquet (materialize-once pattern, as
    for pages); the real pipeline's ledger is produced by
    jobs/build_kg.py and has the identical schema."""
    return run_stats(spark, ensure_lineage_fixture_local()).select(
        "stage", "status", "n_partitions", "rows_out"
    )


@register(
    "kg_run_success_rate",
    f"""
WITH {_LINEAGE_CTE}
SELECT run_id,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE status = 'committed') AS BIGINT)
         AS n_committed,
       CAST(count(*) FILTER (WHERE status = 'committed') AS BIGINT)
         * 10000 // CAST(count(*) AS BIGINT) AS success_rate_e4
FROM lin GROUP BY 1
""",
)
def q_kg_run_success_rate(spark, sf_dir):
    """A5 — per-run success rate (task_tracker.py:150-156
    ``completed / total * 100``) as an exact ×10⁴ floor-integer
    (Spark SQL `div` ≡ DuckDB `//`; float division would differ in
    stringification, not value)."""
    return run_success_rates(spark, ensure_lineage_fixture_local())


@register(
    "kg_all_nodes",
    f"""
{_MENTIONS_CTE},
ents AS (
  SELECT 'entity:' || replace(lower(surface), ' ', '_') AS entity_id,
         min(surface) AS name,
         min(label) AS typ
  FROM capped WHERE rnk <= {MAX_ENTITIES_PER_DOC}
  GROUP BY 1
)
SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS entity_id,
       CAST(doc_id AS VARCHAR) AS name,
       'Content' AS label, 'web_page' AS type, '' AS canonical_id
FROM documents
UNION ALL
SELECT entity_id, name, 'Entity' AS label, typ AS type,
       '' AS canonical_id
FROM ents
""",
)
def q_kg_all_nodes(spark, sf_dir):
    """U1 — the batched node upsert: ``[content_node] + entity_nodes``
    in one writer call (gremlin_client.py:133; in_memory.py:65) as a
    unionByName of the Content-node and Entity-node DataFrames,
    deduplicated on the upsert key. The id namespaces ('doc:' /
    'entity:') are disjoint, so the dedup is a per-key no-op carried
    for upsert semantics; both legs partially aggregate before the
    union — no extra shuffle beyond the entity groupBy."""
    from kgp.operators.triples import build_content_nodes, build_entities

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        F.col("doc_id").cast("string").alias("url"),
    )
    content = build_content_nodes(docs)
    ents = build_entities(_doc_capped(spark, sf_dir))
    return (
        content.unionByName(ents)
        .dropDuplicates(["entity_id"])
        .withColumn("canonical_id", F.coalesce("canonical_id", F.lit("")))
    )


# ---------------------------------------------------------------------------
# round 3 late additions: graph analytics + training-data splitting +
# corpus boilerplate mining
# ---------------------------------------------------------------------------

from kgp.operators.graph import pagerank_sql

_DE_CTE = (
    _MENTIONS_CTE
    + f""",
de AS (SELECT DISTINCT doc_id,
              'entity:' || replace(lower(surface), ' ', '_') AS eid
       FROM capped WHERE rnk <= {MAX_ENTITIES_PER_DOC})"""
)


def _entity_incidence(spark, sf_dir):
    """Distinct doc→entity incidence `de(doc_id, eid)`, materialized
    once (kgp.materialize): every graph-analytics consumer fans out
    from it (edges AND nodes, actioned separately), and without the
    cut the scan→window→distinct prefix replays per action. At scale
    this is the natural stage boundary (the incidence table is the
    KG's smallest projection)."""
    from kgp.materialize import materialize as _mat
    from kgp.operators.triples import normalize_entity_id
    from kgp.queries import _doc_capped

    return _mat(
        _doc_capped(spark, sf_dir)
        .select(
            "doc_id", normalize_entity_id(F.col("surface")).alias("eid")
        )
        .distinct()
    )


def cooccurrence_graph(spark, sf_dir):
    """(edges, nodes) of the entity co-occurrence graph over the
    `documents` KG — distinct directed pairs both ways + all entities
    (isolated ones included)."""
    de = _entity_incidence(spark, sf_dir)
    a = de.select("doc_id", F.col("eid").alias("src"))
    b = de.select("doc_id", F.col("eid").alias("dst"))
    edges = (
        a.join(b, "doc_id")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    nodes = de.select(F.col("eid").alias("id")).distinct()
    return edges, nodes


@register("kg_pagerank", pagerank_sql(_DE_CTE, iters=3))
def q_kg_pagerank(spark, sf_dir):
    """Entity importance over the co-occurrence graph: deterministic
    integer PageRank, 3 iterations (kgp.operators.graph — iterative
    DataFrame joins, GraphFrames-style; the DuckDB twin unrolls the
    same recurrence). The reference holds its graph in Gremlin and
    ships no global analytics; this is the natural downstream query a
    KG consumer runs, implemented engine-side like the IVF ANN path."""
    from kgp.operators.graph import pagerank_int

    edges, nodes = cooccurrence_graph(spark, sf_dir)
    pr = pagerank_int(edges, nodes=nodes, iters=3)
    return pr.select(
        F.col("id").alias("entity_id"), F.col("rank").alias("pagerank")
    )


# min co-occurrence support for the triangle gate: the synthetic
# corpus's edge-weight histogram is trimodal (1 edge @2, ~18 @22-30,
# 36 @311+); 25 lands inside the middle band so the thresholded graph
# has VARIED degrees/triangle counts (the unthresholded graph is
# complete at sf0.01 — a gate any bug producing K_n would pass)
COOC_MIN_SUPPORT = 25


@register(
    "kg_triangle_counts",
    _DE_CTE
    + f""",
e AS (SELECT src, dst FROM (
        SELECT a.eid AS src, b.eid AS dst, count(*) AS w
        FROM de a JOIN de b ON a.doc_id = b.doc_id AND a.eid < b.eid
        GROUP BY 1, 2) WHERE w >= {COOC_MIN_SUPPORT}),
deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
        GROUP BY 1),
tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM e e1 JOIN e e2 ON e1.dst = e2.src
                  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
tn AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles
       FROM (SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY 1),
nodes AS (SELECT DISTINCT eid AS id FROM de)
SELECT n.id AS entity_id,
       CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles
FROM nodes n LEFT JOIN deg d ON d.id = n.id
             LEFT JOIN tn t ON t.id = n.id
""",
)
def q_kg_triangle_counts(spark, sf_dir):
    """Per-entity triangle participation + degree over the
    min-support-thresholded co-occurrence graph
    (kgp.operators.graph.triangle_counts — canonical a<b<c wedge-close
    self-joins; isolated entities kept with 0s). Graph analytics the
    reference's Gremlin store never runs globally; same
    exceeds-reference rationale as kg_pagerank."""
    from kgp.operators.graph import triangle_counts

    de = _entity_incidence(spark, sf_dir)
    a = de.select("doc_id", F.col("eid").alias("src"))
    b = de.select("doc_id", F.col("eid").alias("dst"))
    edges = (
        a.join(b, "doc_id")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= COOC_MIN_SUPPORT)
        .select("src", "dst")
    )
    nodes = de.select(F.col("eid").alias("id")).distinct()
    return triangle_counts(edges, nodes).select(
        F.col("id").alias("entity_id"), "degree", "triangles"
    )


@register(
    "docs_rolling_fingerprint",
    """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           [CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) % 1000000007
            FOR t IN string_split(text, ' ')]),
         (acc, h) -> (acc * 1000003 + h) % 1000000007) AS rolling_fp
FROM documents
""",
)
def q_docs_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive Rabin-Karp document fingerprint
    (kgp.operators.dedup.rolling_fingerprint_col): the rolling-hash
    member of the fingerprint family — zero-shuffle JVM fold, the
    DuckDB twin reduces the identical polynomial so the gate compares
    the exact BIGINT hash values."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from kgp.operators.dedup import rolling_fingerprint_col

    return docs.select(
        "doc_id", rolling_fingerprint_col(F.col("text")).alias("rolling_fp")
    )


@register(
    "docs_span_dedup",
    """
WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sp AS (SELECT doc_id, i - 1 AS pos,
              array_to_string(w[(i-1)*10+1 : (i-1)*10+10], ' ') AS span
       FROM wt,
            unnest(range(1, CAST(ceil(len(w)/10.0) AS BIGINT) + 1)) AS t(i)),
m AS (SELECT doc_id, pos, span,
             count(*) OVER (PARTITION BY span) AS cnt,
             row_number() OVER (
               PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM sp)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(*) FILTER (cnt > 1) AS BIGINT) AS n_dup_spans,
       CAST(count(*) FILTER (cnt > 1 AND rn > 1) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(span, ' ' ORDER BY pos)
                      FILTER (cnt = 1 OR rn = 1), '')) AS clean_md5
FROM m GROUP BY 1
""",
)
def q_docs_span_dedup(spark, sf_dir):
    """C4 span-level dedup (kgp.operators.dedup.span_dedup_stats):
    non-overlapping 10-token blocks occurring more than once in the
    corpus are removed keeping the globally-first occurrence; per-doc
    counts + the md5 of the cleaned text pin the rewrite end-to-end.
    The Spark side resolves (cnt, keeper) with one Window over the
    span key (count + min(struct(doc_id, pos))); the oracle ranks
    with row_number — two algorithms, one answer."""
    from kgp.operators.dedup import span_dedup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_dedup_stats(docs, k=10)


@register(
    "docs_span_cleaned",
    """
WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sp AS (SELECT doc_id, i - 1 AS pos,
              array_to_string(w[(i-1)*10+1 : (i-1)*10+10], ' ') AS span
       FROM wt,
            unnest(range(1, CAST(ceil(len(w)/10.0) AS BIGINT) + 1)) AS t(i)),
m AS (SELECT doc_id, pos, span,
             count(*) OVER (PARTITION BY span) AS cnt,
             row_number() OVER (
               PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM sp),
reb AS (SELECT doc_id,
               count(*) FILTER (cnt > 1 AND rn > 1) AS n_removed,
               coalesce(string_agg(span, ' ' ORDER BY pos)
                          FILTER (cnt = 1 OR rn = 1), '') AS clean
        FROM m GROUP BY 1)
SELECT d.doc_id,
       CASE WHEN r.n_removed > 0 THEN r.clean ELSE d.text END AS text
FROM documents d JOIN reb r USING (doc_id)
""",
)
def q_docs_span_cleaned(spark, sf_dir):
    """C4 span dedup as a text REWRITE (kgp.operators.dedup
    .span_cleaned_docs — the operator the prep pipeline materializes
    via --span-dedup-tokens): duplicated 10-token blocks removed
    keeping the globally-first occurrence; docs losing no block keep
    their ORIGINAL text byte-identically (the CASE in the twin), so
    the gate pins both the rewrite bytes and the pass-through bytes.
    Sibling of docs_span_dedup, which gates the digest/count view of
    the same law."""
    from kgp.operators.dedup import span_cleaned_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return span_cleaned_docs(docs, k=10)


from kgp.operators.sampling import hash_bucket_sql, hash_split


@register(
    "docs_train_split",
    f"""
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {hash_bucket_sql('doc_id')} AS bucket
      FROM documents) b
""",
)
def q_docs_train_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment keyed on
    md5(doc_id) (kgp.operators.sampling): the reproducible-split
    primitive every training-data pipeline needs — rand() cannot give
    stable assignment across re-runs/resumes. Pure stateless JVM
    projection, no shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    return hash_split(docs)


@register(
    "docs_boilerplate_ngrams",
    """
WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     FOR i IN range(1, len(w) - 1)]) AS gram
      FROM wt WHERE len(w) >= 3),
agg AS (SELECT gram,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM g GROUP BY 1)
SELECT gram, n_docs, n_occurrences
FROM agg WHERE n_docs >= 5
ORDER BY n_docs DESC, n_occurrences DESC, gram ASC
LIMIT 50
""",
)
def q_docs_boilerplate_ngrams(spark, sf_dir):
    """Corpus boilerplate mining: top-50 most document-frequent token
    3-grams (kgp.operators.dedup.frequent_ngrams — the C4
    repeated-line policy adapted to corpora without line structure).
    Total tiebreak (n_docs, n_occurrences, gram) keeps the capped
    top-k deterministic; plan is TakeOrderedAndProject, no global
    sort."""
    from kgp.operators.dedup import frequent_ngrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return frequent_ngrams(docs, n=3, min_docs=5, top=50)


@register(
    "docs_decontamination",
    f"""
WITH {_SHINGLE_CTE},
g AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM g JOIN bg USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY 1
""",
)
def q_docs_decontamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C policy): training
    docs sharing any 3-token shingle with the held-out eval slice
    (doc_id ≡ 0 mod 97 — deterministic synthetic benchmark), with the
    distinct-overlap count. Spark broadcasts the small eval gram set
    (kgp.operators.dedup.ngram_contamination); the oracle runs the
    same overlap as a plain SQL join."""
    from kgp.operators.dedup import ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_contamination(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


@register(
    "docs_tfidf_top_terms",
    """
WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tk AS (SELECT doc_id, unnest(w) AS term FROM wt),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tk WHERE term <> '' GROUP BY 1, 2),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             CAST(tf.tf * (n.n_docs - dfq.df) AS BIGINT) AS score,
             row_number() OVER (
                 PARTITION BY tf.doc_id
                 ORDER BY tf.tf * (n.n_docs - dfq.df) DESC,
                          dfq.df ASC, tf.term ASC) AS rnk
      FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df, score
FROM s WHERE rnk <= 3
""",
)
def q_docs_tfidf_top_terms(spark, sf_dir):
    """Per-doc keyword extraction: top-3 terms by the integer-exact
    tf·(N−df) surrogate for tf·idf (kgp.operators.textstats
    .tfidf_top_terms — ln-free so both engines rank on identical
    integers; total (score, df, term) tiebreak keeps the window
    deterministic)."""
    from kgp.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=3).withColumn(
        "rnk", F.col("rnk").cast("long")
    )
