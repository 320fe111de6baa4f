"""Flagship `pages` pipeline queries — oracle-gated.

The synthetic pages table (BASELINE.json input_hint shape) is
materialized ONCE per (version, n, seed) to parquet
(kgp.synth.materialize_pages); the Spark queries and their DuckDB
twins read the SAME files, so the driver's hard gate covers the whole
pipeline: byte-identical extraction (S4), 60-token segmentation (S3),
gazetteer NER (F1), cap/order (A1/T4), triples + edge ids (J1/F3),
entity nodes (S5), alias linking (X2), CC canonicalization (X5),
MinHash near-dup (X3/X4), and the multimodal metadata columns.

Oracle SQL is rendered for the DRIVER's compare scale (sf0.01 → 5000
pages); the Spark side adapts to whatever sf_dir it is given.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kgp.constants import ENTITY_LABELS, MAX_ENTITIES_PER_DOC
from kgp.gazetteer import ALIAS_DICT, PAGES_SURFACES
from kgp.operators.segment import extract_docs, segment_pages
from kgp.operators.triples import (
    build_entities,
    build_triples,
    truncate_content,
)
from kgp.plans.pipeline import capped_mentions
from kgp.queries import register
from kgp.synth import (
    materialize_pages,
    page_row,
    pages_parquet_path,
    pages_scale_for_sf,
)

# ---------------------------------------------------------------------------
# shared SQL fragments over the materialized pages parquet
# ---------------------------------------------------------------------------

# the driver compares at sf0.01 → 5000 pages; oracle SQL pins that scale
from kgp.queries import ORACLE_SF_DIR

_ORACLE_N = pages_scale_for_sf(ORACLE_SF_DIR)

_PAGES_CTE = (
    "pages AS (SELECT * FROM "
    f"read_parquet('{pages_parquet_path(_ORACLE_N)}/*.parquet'))"
)

# S4 byte-identity closed form: extracted_text == ' ' || text (the
# leading-space quirk of segment 0; segmentation is a lossless
# split/rejoin — asserted independently in tests/test_segment.py)
_DOCS_CTE = """
docs AS (
  SELECT url, 'page:' || url AS doc_id, ' ' || text AS extracted_text,
         CAST((len(string_split(text, ' ')) + 59) // 60 AS INT)
           AS n_segments
  FROM pages
)
"""

_GAZ_SQL = (
    "(VALUES "
    + ", ".join(f"('{s}', '{lab}')" for s, lab in PAGES_SURFACES)
    + ") AS gaz(surface, label)"
)
_ALIAS_SQL = (
    "(VALUES "
    + ", ".join(f"('{s}', '{c}')" for s, _, c in ALIAS_DICT)
    + ") AS al(surface, canonical_id)"
)
_LABELS_SQL = ", ".join(f"'{x}'" for x in ENTITY_LABELS)

# F1/P3/A1: whole-token gazetteer match over the extracted text with
# 0-based first offset; label filter BEFORE the per-doc cap.
_CAPPED_CTE = f"""
mentions AS (
  SELECT d.url, gaz.surface, gaz.label,
         CAST(strpos(' ' || d.extracted_text || ' ',
                     ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM docs d, {_GAZ_SQL}
  WHERE strpos(' ' || d.extracted_text || ' ',
               ' ' || gaz.surface || ' ') > 0
),
capped AS (
  SELECT *, row_number() OVER (
           PARTITION BY url ORDER BY first_offset, surface) AS rnk
  FROM mentions
  WHERE label IN ({_LABELS_SQL})
)
"""

# S3: fixed 60-token windows (kgp.operators.segment derivation) —
# slice k covers tokens [k*60+1, k*60+60] (1-based inclusive, clamped),
# start 30·k, end 30·(k+1) except the final segment ends at 0.5·n.
_SEG_CTE = """
wt AS (SELECT url, string_split(text, ' ') AS w FROM pages),
sg AS (SELECT url, w, len(w) AS n, (len(w) + 59) // 60 AS nseg FROM wt),
sgx AS (SELECT url, w, n, nseg, unnest(range(nseg)) AS k FROM sg),
seg AS (
  SELECT url,
         CAST(k AS INT) AS seg_idx,
         CAST(30.0 * k AS DOUBLE) AS start_s,
         CAST(CASE WHEN k < nseg - 1 THEN 30.0 * (k + 1)
                   ELSE 0.5 * n END AS DOUBLE) AS end_s,
         (CASE WHEN k = 0 THEN ' ' ELSE '' END)
           || array_to_string(list_slice(w, k * 60 + 1, k * 60 + 60), ' ')
           AS text
  FROM sgx
)
"""

# entity-node closed form shared by entities/canonicalization oracles
_ENTS_CTE = f"""
ents AS (
  SELECT 'entity:' || replace(lower(c.surface), ' ', '_') AS entity_id,
         min(c.surface) AS name,
         min(c.label) AS typ
  FROM capped c WHERE c.rnk <= {MAX_ENTITIES_PER_DOC}
  GROUP BY 1
)
"""


def _pages(spark, sf_dir):
    n = pages_scale_for_sf(sf_dir)
    # Every pages_* oracle twin pins the DuckDB side at _ORACLE_N
    # (rendered once at import). If the driver ever compares at a
    # different scale the whole flagship block would mismatch at once —
    # fail loudly HERE with the cause instead of letting the gate
    # report 12 inscrutable hash failures. Non-gate users (bench,
    # scaling) call the pipeline operators directly, not these
    # registry fns, so the guard only fires in compare contexts.
    if n != _ORACLE_N:
        raise RuntimeError(
            f"pages oracle SQL is rendered for n={_ORACLE_N} "
            f"(ORACLE_SF_DIR={ORACLE_SF_DIR!r}) but this query was "
            f"invoked with sf_dir={sf_dir!r} -> n={n}. The DuckDB twins "
            "are scale-pinned; re-render kgp.queries_pages with "
            "ORACLE_SF_DIR set to the driver's compare scale."
        )
    return spark.read.parquet(materialize_pages(spark, n))


# ---------------------------------------------------------------------------
# S3/S4 — extraction + segmentation
# ---------------------------------------------------------------------------

@register(
    "pages_extracted_docs",
    f"""
WITH {_PAGES_CTE}, {_DOCS_CTE}
SELECT url, doc_id, extracted_text, n_segments FROM docs
""",
    tier=1,
)
def q_pages_docs(spark, sf_dir):
    """S4 — the judged byte-identity invariant (youtube.py:148,227) on
    the hard gate: DuckDB computes ' ' || text, Spark rebuilds the text
    through the full segmentation path — both must agree byte-for-byte
    per url."""
    return extract_docs(_pages(spark, sf_dir))


@register(
    "pages_segments",
    f"""
WITH {_PAGES_CTE}, {_SEG_CTE}
SELECT url, seg_idx, start_s, end_s, text FROM seg
""",
    tier=1,
)
def q_pages_segments(spark, sf_dir):
    """S3 — 30 s temporal segmentation (youtube.py:111-164 reduced to
    60-token windows for uniformly-timed entries)."""
    return segment_pages(_pages(spark, sf_dir))


_URL0 = page_row(0)["url"]


@register(
    "pages_video_timeline",
    f"""
WITH {_PAGES_CTE}, {_SEG_CTE}
SELECT url, seg_idx, start_s, end_s, text FROM seg
WHERE url = '{_URL0}' ORDER BY start_s
""",
    tier=1,
)
def q_pages_video_timeline(spark, sf_dir):
    """T3 — per-video ordered timeline (temporal_search.py:192-239):
    one document's segments in start-time order. The url predicate
    prunes before the scan finishes (pushed filter)."""
    return (
        segment_pages(_pages(spark, sf_dir))
        .filter(F.col("url") == _URL0)
        .orderBy("start_s")
    )


@register(
    "pages_content_truncated",
    f"""
WITH {_PAGES_CTE}, {_DOCS_CTE}
SELECT doc_id, substr(extracted_text, 1, 500) AS content FROM docs
""",
    tier=1,
)
def q_pages_content_truncated(spark, sf_dir):
    """P4 — Content-node text property truncated to 500 chars
    (gremlin_client.py:108 ``content[:500]``). Spark substring and
    DuckDB substr are both character-based; identical on this ASCII
    corpus (documented deviation: Python slicing is by code point, so
    multi-byte text would need a pandas-UDF parity path like F2's)."""
    return truncate_content(extract_docs(_pages(spark, sf_dir)))


# ---------------------------------------------------------------------------
# F1/J1/F3/S5 — NER → triples → entity nodes
# ---------------------------------------------------------------------------

def pages_triples_sql(pages_glob: str | None = None) -> str:
    """The pages→triples oracle SQL over an ARBITRARY pages parquet
    glob (default: the driver fixture). The streaming e2e test renders
    it over ITS pages directory and runs it in DuckDB against the
    compacted stream sink's files — turning "stream ≡ batch" from a
    Spark-vs-Spark assertion into a cross-engine one (neither side of
    that compare is computed by Spark)."""
    pages_cte = (
        _PAGES_CTE
        if pages_glob is None
        # DISTINCT (url, text): a crawl directory may hold re-crawls of
        # the same page; duplicated rows would double every mention and
        # make the per-doc rank-10 cap cut at ~5 DISTINCT entities,
        # which is not the ingest semantic (a re-crawl of identical
        # content upserts nothing — the streaming sink's anti-join/
        # compaction behavior). The driver fixture has unique urls, so
        # the default branch needs no dedup.
        else (
            "pages AS (SELECT DISTINCT url, text FROM "
            f"read_parquet('{pages_glob}'))"
        )
    )
    return f"""
WITH {pages_cte}, {_DOCS_CTE}, {_CAPPED_CTE},
t AS (
  SELECT DISTINCT 'page:' || url AS subj,
         'contains_entity' AS pred,
         'entity:' || replace(lower(surface), ' ', '_') AS obj
  FROM capped WHERE rnk <= {MAX_ENTITIES_PER_DOC}
)
SELECT subj, pred, obj,
       'edge:' || subj || ':' || obj || ':contains_entity' AS edge_id
FROM t
"""


@register(
    "pages_triples",
    pages_triples_sql(),
    tier=1,
)
def q_pages_triples(spark, sf_dir):
    """The flagship output: (subj, pred, obj, edge_id) triples
    (gremlin_client.py:102-135) from the full pages pipeline."""
    docs = extract_docs(_pages(spark, sf_dir))
    return build_triples(capped_mentions(docs))


@register(
    "pages_entities",
    f"""
WITH {_PAGES_CTE}, {_DOCS_CTE}, {_CAPPED_CTE}, {_ENTS_CTE}
SELECT entity_id, name, 'Entity' AS label, typ AS type,
       '' AS canonical_id
FROM ents
""",
    tier=1,
)
def q_pages_entities(spark, sf_dir):
    """S5 — entity-node upsert (unique entity_id, deterministic min
    name/type; canonical_id coalesced to '' because the driver's
    canonicalizer cannot sort NULL against strings)."""
    docs = extract_docs(_pages(spark, sf_dir))
    return build_entities(capped_mentions(docs)).withColumn(
        "canonical_id", F.lit("")
    )


@register(
    "pages_segment_triples",
    f"""
WITH {_PAGES_CTE}, {_SEG_CTE},
segd AS (
  SELECT url || ':segment:' || CAST(seg_idx + 1 AS VARCHAR) AS seg_id,
         text
  FROM seg
),
m2 AS (
  SELECT s.seg_id, gaz.surface, gaz.label,
         CAST(strpos(' ' || s.text || ' ',
                     ' ' || gaz.surface || ' ') AS BIGINT) - 1
           AS first_offset
  FROM segd s, {_GAZ_SQL}
  WHERE strpos(' ' || s.text || ' ', ' ' || gaz.surface || ' ') > 0
),
c2 AS (
  SELECT *, row_number() OVER (
           PARTITION BY seg_id ORDER BY first_offset, surface) AS rnk
  FROM m2 WHERE label IN ({_LABELS_SQL})
),
t2 AS (
  SELECT DISTINCT 'page:' || seg_id AS subj,
         'contains_entity' AS pred,
         'entity:' || replace(lower(surface), ' ', '_') AS obj
  FROM c2 WHERE rnk <= {MAX_ENTITIES_PER_DOC}
)
SELECT subj, pred, obj,
       'edge:' || subj || ':' || obj || ':contains_entity' AS edge_id
FROM t2
""",
    tier=1,
)
def q_pages_segment_triples(spark, sf_dir):
    """Segment-level KG (strategies/youtube.py:177 store_segment_in_kg;
    F4 1-based namespacing `{doc_id}:segment:{i}`): gazetteer mentions
    per 30 s segment → triples whose subjects are segment ids."""
    segs = segment_pages(_pages(spark, sf_dir)).select(
        # build_triples prefixes "page:" itself (F4): seg_id is bare
        F.concat(
            F.col("url"), F.lit(":segment:"),
            (F.col("seg_idx") + 1).cast("string"),
        ).alias("seg_id"),
        F.col("text"),
    )
    capped = capped_mentions(segs, id_col="seg_id", text_col="text")
    return build_triples(capped, doc_col="seg_id")


# ---------------------------------------------------------------------------
# P2 — freshness filter (pushdown)
# ---------------------------------------------------------------------------

@register(
    "pages_fresh_filter",
    f"""
WITH {_PAGES_CTE}
SELECT url, epoch_us(warc_ts) AS ts_us, lang FROM pages
WHERE warc_ts >= TIMESTAMP '2024-07-01 00:00:00'
""",
    tier=1,
)
def q_pages_fresh(spark, sf_dir):
    """P2 freshness filter (src/ingest/youtube.py:31-33): pushdown-able
    timestamp predicate; html column never read (column pruning)."""
    return (
        _pages(spark, sf_dir)
        .filter(F.col("warc_ts") >= F.lit("2024-07-01"))
        .select(
            "url",
            F.unix_micros(F.col("warc_ts").cast("timestamp")).alias(
                "ts_us"
            ),
            "lang",
        )
    )


# ---------------------------------------------------------------------------
# per-domain web-pipeline policies (RefinedWeb/C4 stage-one shape)
# ---------------------------------------------------------------------------

# mirrors kgp.operators.sources.DOMAIN_PAT (no trailing '/', userinfo
# and port stripped — see the comment there); RE2 and java.util.regex
# agree on this pattern
_DOMAIN_SQL = (
    "regexp_extract(url, '^https?://(?:[^/?#@]*@)?([^/:?#]+)', 1)"
)
DOMAIN_CAP_K = 100  # caps the zipf head (top-9 domains at n=5000)


@register(
    "pages_domain_stats",
    f"""
WITH {_PAGES_CTE}
SELECT {_DOMAIN_SQL} AS domain,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM pages GROUP BY 1
""",
    tier=1,
)
def q_pages_domain_stats(spark, sf_dir):
    """Per-domain corpus profile (kgp.operators.sources.domain_stats):
    the grouping every per-site crawl policy starts from. One groupBy
    with map-side partials; html never read."""
    from kgp.operators.sources import domain_stats

    return domain_stats(_pages(spark, sf_dir))


@register(
    "pages_domain_capped",
    f"""
WITH {_PAGES_CTE},
d AS (SELECT url, epoch_us(warc_ts) AS ts_us,
             {_DOMAIN_SQL} AS domain
      FROM pages),
r AS (SELECT *, row_number() OVER (
        PARTITION BY domain ORDER BY ts_us DESC, url) AS rank FROM d)
SELECT domain, url, ts_us, rank FROM r WHERE rank <= {DOMAIN_CAP_K}
""",
    tier=1,
)
def q_pages_domain_capped(spark, sf_dir):
    """Mega-domain quota sampling (kgp.operators.sources.cap_per_key):
    keep the newest {K} pages per domain, url tiebreak making the rank
    a total order so both engines agree row-for-row. The synthetic
    zipf head (site000 = 30% of the crawl) is genuinely capped."""
    from kgp.operators.sources import cap_per_key, domain_col

    p = _pages(spark, sf_dir).select(
        "url",
        F.unix_micros(F.col("warc_ts").cast("timestamp")).alias(
            "ts_us"
        ),
        domain_col("url").alias("domain"),
    )
    return cap_per_key(
        p,
        F.col("domain"),
        [F.desc("ts_us"), F.asc("url")],
        DOMAIN_CAP_K,
    )


# ---------------------------------------------------------------------------
# X2/X5 — linking + canonicalization on the pages KG
# ---------------------------------------------------------------------------

@register(
    "pages_linked_entities",
    f"""
WITH {_PAGES_CTE}, {_DOCS_CTE}, {_CAPPED_CTE}
SELECT c.url, c.surface, c.label, c.first_offset, al.canonical_id
FROM capped c JOIN {_ALIAS_SQL} ON c.surface = al.surface
WHERE c.rnk <= {MAX_ENTITIES_PER_DOC}
""",
    tier=1,
)
def q_pages_linked(spark, sf_dir):
    """X2 — alias-dict linking of page entities (pages gazetteer has
    real alias groups: Ada Lovelace / A. Lovelace / Lovelace …)."""
    from kgp.operators.linking import link_mentions

    docs = extract_docs(_pages(spark, sf_dir))
    alias = spark.createDataFrame(
        [(s, c) for s, _, c in ALIAS_DICT],
        "surface string, canonical_id string",
    )
    # link_mentions is a LEFT join (unmatched surfaces keep NULL for
    # the LSH path); the oracle INNER-joins the alias dict. Filter the
    # NULLs so the twins match structurally, not by the data
    # coincidence that every gazetteer surface currently has an alias.
    return link_mentions(capped_mentions(docs), alias).filter(
        F.col("canonical_id").isNotNull()
    )


@register(
    "pages_canonical_entities",
    f"""
WITH {_PAGES_CTE}, {_DOCS_CTE}, {_CAPPED_CTE}, {_ENTS_CTE},
am AS (SELECT e.entity_id, al.canonical_id AS grp
       FROM ents e JOIN {_ALIAS_SQL} ON e.name = al.surface),
grpsz AS (SELECT grp, count(*) AS n, min(entity_id) AS canon
          FROM am GROUP BY 1)
SELECT e.entity_id, e.name, 'Entity' AS label, e.typ AS type,
       CASE WHEN g.n >= 2 THEN g.canon ELSE e.entity_id END
         AS canonical_id
FROM ents e
LEFT JOIN am ON e.entity_id = am.entity_id
LEFT JOIN grpsz g ON am.grp = g.grp
""",
    tier=1,
)
def q_pages_canonical(spark, sf_dir):
    """X5 — CC canonicalization of the pages entity table; the SQL
    oracle computes the closed form (min entity_id per ≥2-member alias
    group) that connected components must converge to."""
    from kgp.operators.canon import canonicalize_with_alias

    docs = extract_docs(_pages(spark, sf_dir))
    ents = build_entities(capped_mentions(docs))
    alias = spark.createDataFrame(
        [(s, c) for s, _, c in ALIAS_DICT],
        "surface string, canonical_id string",
    )
    return canonicalize_with_alias(ents, alias)


# ---------------------------------------------------------------------------
# X3/X4 — fuzzy dedup over extracted page text
# ---------------------------------------------------------------------------

from kgp.sqlgen import minhash_pairs_sql


@register(
    "pages_near_dup_pairs",
    minhash_pairs_sql(
        "SELECT url AS id, ' ' || text AS text FROM pages",
        threshold=0.5,
        prefix=f"{_PAGES_CTE},",
    ),
    tier=1,
)
def q_pages_near_dups(spark, sf_dir):
    """X3/X4 — MinHash-LSH fuzzy dedup over extracted page text. The
    synthetic corpus plants real near-duplicates (every 37th page is a
    ~9%-perturbed copy of its predecessor, kgp.synth), so this gate
    matches on a non-empty pair set."""
    from kgp.operators.dedup import near_dup_pairs_minhash

    docs = extract_docs(_pages(spark, sf_dir))
    return near_dup_pairs_minhash(
        docs, id_col="url", text_col="extracted_text", threshold=0.5
    )


# ---------------------------------------------------------------------------
# multimodal — binary columns with typed metadata
# ---------------------------------------------------------------------------

@register(
    "pages_html_media_features",
    f"""
WITH {_PAGES_CTE}
SELECT url, 0 AS media_idx, 'html' AS kind,
       CAST(octet_length(html) AS BIGINT) AS n_bytes,
       md5(decode(html)) AS payload_md5
FROM pages
""",
    tier=1,
)
def q_pages_media(spark, sf_dir):
    """Multimodal: typed metadata over the binary html column (size +
    digest — both engines hash the same payload bytes)."""
    from kgp.operators.multimodal import media_features

    return media_features(_pages(spark, sf_dir))


@register(
    "pages_frame_samples",
    f"""
WITH {_PAGES_CTE},
fr AS (SELECT url, len(string_split(text, ' ')) AS n FROM pages),
fx AS (SELECT url,
         unnest(range(greatest(
           CAST(ceil((0.5 * n) / 30.0) AS BIGINT), 1))) AS frame_idx
       FROM fr)
SELECT url, CAST(frame_idx AS INT) AS frame_idx,
       CAST(30.0 * frame_idx AS DOUBLE) AS frame_ts_s,
       md5(url || '|' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM fx
""",
    tier=1,
)
def q_pages_frames(spark, sf_dir):
    """Multimodal: deterministic frame sampling at the 30 s cadence."""
    from kgp.operators.multimodal import frame_sample_stub

    return frame_sample_stub(_pages(spark, sf_dir))


# ---------------------------------------------------------------------------
# per-video info + corpus stats (api/routers/temporal.py:222-265, 313-341
# — the reference's stats endpoint returns hardcoded zeros; this engine
# computes the real numbers)
# ---------------------------------------------------------------------------

@register(
    "pages_video_info",
    f"""
WITH {_PAGES_CTE}, {_DOCS_CTE}, {_CAPPED_CTE},
ne AS (SELECT url, CAST(count(DISTINCT surface) AS BIGINT) AS n_entities
       FROM capped WHERE rnk <= {MAX_ENTITIES_PER_DOC}
       GROUP BY 1)
SELECT d.url, d.n_segments,
       CAST(0.5 * len(string_split(p.text, ' ')) AS DOUBLE) AS duration_s,
       COALESCE(ne.n_entities, 0) AS n_entities
FROM docs d
JOIN pages p ON d.url = p.url
LEFT JOIN ne ON d.url = ne.url
""",
    tier=3,
)
def q_pages_video_info(spark, sf_dir):
    """Per-video summary (temporal.py:222-265 get_video_info):
    segment count, duration (0.5 s/token derivation), and the distinct
    entity count across the page's capped mentions."""
    docs = extract_docs(_pages(spark, sf_dir))
    ne = (
        capped_mentions(docs)
        .groupBy("url")
        .agg(F.countDistinct("surface").alias("n_entities"))
    )
    # token count from extracted_text (= ' '+text ⇒ one extra leading
    # empty token) — no second scan / self-join against pages
    dur = (
        (F.size(F.split(F.col("extracted_text"), " ", -1)) - 1).cast(
            "double"
        )
        * 0.5
    ).alias("duration_s")
    return (
        docs.select("url", "n_segments", dur)
        .join(ne, "url", "left")
        .withColumn("n_entities", F.coalesce("n_entities", F.lit(0)))
    )


@register(
    "pages_corpus_stats",
    f"""
WITH {_PAGES_CTE}, {_DOCS_CTE}, {_CAPPED_CTE}
SELECT CAST((SELECT count(*) FROM docs) AS BIGINT) AS total_pages,
       CAST((SELECT sum(n_segments) FROM docs) AS BIGINT)
         AS total_segments,
       CAST((SELECT count(DISTINCT
                 'entity:' || replace(lower(surface), ' ', '_'))
             FROM capped WHERE rnk <= {MAX_ENTITIES_PER_DOC}) AS BIGINT)
         AS total_entities,
       CAST((SELECT sum(n_segments) FROM docs) AS BIGINT) * 10000
         // CAST((SELECT count(*) FROM docs) AS BIGINT)
         AS avg_segments_per_page_e4
""",
    tier=3,
)
def q_pages_corpus_stats(spark, sf_dir):
    """Corpus-level stats (temporal.py:313-341 — the reference returns
    placeholder zeros; computed for real here): totals + avg segments
    per page as an exact ×10⁴ integer."""
    from kgp.operators.triples import normalize_entity_id

    pages = _pages(spark, sf_dir)
    docs = extract_docs(pages)
    ents = (
        capped_mentions(docs)
        .select(normalize_entity_id(F.col("surface")).alias("eid"))
        .agg(F.countDistinct("eid").alias("total_entities"))
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("total_pages"),
        F.sum("n_segments").alias("total_segments"),
    )
    return base.crossJoin(ents).select(
        "total_pages",
        "total_segments",
        "total_entities",
        # SQL `div` = true integer division, exactly DuckDB's `//`
        F.expr("total_segments * 10000 div total_pages").alias(
            "avg_segments_per_page_e4"
        ),
    )


# ---------------------------------------------------------------------------
# text analysis twins on pages (ops already gated on documents — tier 3)
# ---------------------------------------------------------------------------

def _pages_qf_sql() -> str:
    from kgp.operators.textstats import ENGLISH_STOPWORDS

    stop = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"
    return f"""
SELECT url,
       CAST(len(list_filter(w, x -> list_contains({stop}, lower(x))))
            AS BIGINT) * 10000 // len(w) AS stopword_ratio_e4,
       CAST(len(w) AS BIGINT) AS n_tokens
FROM (SELECT url, string_split(' ' || text, ' ') AS w FROM pages)
"""


@register(
    "pages_quality_scores",
    f"""
WITH {_PAGES_CTE},
qf AS ({_pages_qf_sql()})
SELECT url,
       100 * LEAST(n_tokens, 50)
         + (5 * LEAST(stopword_ratio_e4, 2000)) // 2 AS quality_e4
FROM qf
""",
    tier=3,
)
def q_pages_quality(spark, sf_dir):
    """Text-quality scoring over extracted page text."""
    from kgp.operators.textstats import quality_score

    docs = extract_docs(_pages(spark, sf_dir))
    return quality_score(docs, id_col="url", text_col="extracted_text")


def _pages_lang_sql() -> str:
    from kgp.operators.textstats import LANG_MARKERS

    selects = "\nUNION ALL ".join(
        f"SELECT url, '{lang}' AS lang, "
        f"len(list_intersect(tok, "
        f"[{', '.join(chr(39) + m + chr(39) for m in markers)}])) AS hits "
        "FROM toks"
        for lang, markers in sorted(LANG_MARKERS.items())
    )
    return f"""
toks AS (SELECT url, list_distinct(string_split(' ' || text, ' ')) AS tok
         FROM pages),
s AS ({selects}),
r AS (SELECT *, row_number() OVER (
        PARTITION BY url ORDER BY hits DESC, lang DESC) AS rn FROM s)
"""


@register(
    "pages_lang_id",
    f"""
WITH {_PAGES_CTE}, {_pages_lang_sql()}
SELECT url, lang AS pred_lang, CAST(hits AS BIGINT) AS hits
FROM r WHERE rn = 1
""",
    tier=3,
)
def q_pages_lang(spark, sf_dir):
    """Marker-based language ID over extracted page text."""
    from kgp.operators.textstats import lang_id

    docs = extract_docs(_pages(spark, sf_dir))
    return lang_id(docs, id_col="url", text_col="extracted_text")


# ---------------------------------------------------------------------------
# F9 — mock embeddings, on the hard gate: the numpy generator is not
# SQL-expressible, so the oracle reads a fixture parquet produced by
# the SAME generator code run locally (kgp.operators.embed.
# ensure_embeddings_parquet_local) — materialize-once, read-twice,
# exactly the pages-table pattern. Spark computes the embeddings LIVE
# through the distributed pandas UDF; DuckDB hashes the fixture's
# float32 bits. A match proves the Arrow UDF path reproduces the
# generator bit-for-bit on every partition.
# ---------------------------------------------------------------------------

from kgp.operators.embed import embeddings_parquet_path

_EMB_CTE = (
    "emb AS (SELECT * FROM "
    f"read_parquet('{embeddings_parquet_path(_ORACLE_N)}/*.parquet'))"
)


@register(
    "pages_embeddings",
    f"""
WITH {_EMB_CTE}
SELECT url,
       CAST(len(embedding) AS INT) AS dim,
       md5(array_to_string(
         [CAST(CAST(floor((x)::DOUBLE * 1000000) AS BIGINT) AS VARCHAR)
          FOR x IN embedding], ',')) AS embedding_md5,
       CAST(floor(sqrt(list_sum(
         [(x::DOUBLE) * (x::DOUBLE) FOR x IN embedding])) * 10000)
         AS BIGINT) AS l2_norm_e4
FROM emb
""",
    tier=1,
)
def q_pages_embeddings(spark, sf_dir):
    """F9 — deterministic mock embeddings over extracted page text
    (md5-seeded deviation from the reference's process-randomized
    hash(), /root/reference/src/rag/vector_store.py:21-39; SURVEY §2
    F9). The gated row emits scalar digest + norm per vector, not the
    raw ARRAY column — the driver's value canonicalizer cannot sort
    list cells (round-1 lesson); the ×10⁶ floor-int digest and ×10⁴
    floor-int norm are exact on both engines (IEEE double multiply +
    correctly-rounded sqrt of identical float32 inputs)."""
    from kgp.operators.embed import with_embedding

    docs = extract_docs(_pages(spark, sf_dir))
    emb = with_embedding(
        docs.select("url", "extracted_text"), text_col="extracted_text"
    )
    vec = F.col("embedding")
    return emb.select(
        "url",
        F.size(vec).alias("dim"),
        F.md5(
            F.array_join(
                F.transform(
                    vec,
                    lambda x: F.floor(x.cast("double") * 1000000).cast(
                        "long"
                    ).cast("string"),
                ),
                ",",
            )
        ).alias("embedding_md5"),
        F.floor(
            F.sqrt(
                F.aggregate(
                    vec,
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            )
            * 10000
        ).cast("long").alias("l2_norm_e4"),
    )


@register(
    "pages_blocklist_filtered",
    f"""
WITH {_PAGES_CTE},
d AS (SELECT url, text, {_DOMAIN_SQL} AS domain FROM pages),
bl AS (SELECT DISTINCT domain FROM d
       WHERE substr(md5(domain), 1, 1) IN ('0', '1', '2', '3')),
surv AS (SELECT * FROM d WHERE domain NOT IN (SELECT domain FROM bl))
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         AS total_tokens
FROM surv GROUP BY 1
""",
    tier=1,
)
def q_pages_blocklist_filtered(spark, sf_dir):
    """W3 stage-one URL filtering (kgp.operators.sources
    .blocklist_filter): survivors of a deterministic synthetic domain
    blocklist (domains whose md5 hex starts 0-3, ~25% of sites — md5
    is byte-identical in both engines so the blocklist itself is
    engine-exact), profiled per domain. The corpus side never
    shuffles for the filter: broadcast LEFT ANTI join."""
    from kgp.operators.sources import blocklist_filter, domain_col

    p = _pages(spark, sf_dir).select("url", "text")
    bl = (
        p.select(domain_col("url").alias("domain"))
        .distinct()
        .filter(
            F.substring(F.md5(F.col("domain")), 1, 1).isin(
                "0", "1", "2", "3"
            )
        )
    )
    surv = blocklist_filter(p, bl)
    return surv.groupBy(domain_col("url").alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum(F.size(F.split(F.col("text"), " ", -1)))
        .cast("long")
        .alias("total_tokens"),
    )
