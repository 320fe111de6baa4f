"""Output checks. Expected results come from the DuckDB twins in
``kgp.queries_pages`` (independent SQL, never computed by Spark) over
the same input parquet; actual results are read back from the files a
pass committed. A table is compared by its row count and an
order-insensitive digest of its rows.
"""

from __future__ import annotations

import glob
import hashlib
import os

TRIPLE_COLS = ("subj", "pred", "obj", "edge_id")
ENTITY_COLS = ("entity_id", "name", "label", "type")


def digest_rows(rows) -> tuple[int, str]:
    """(row count, md5 of the sorted, field-joined rows)."""
    lines = sorted("\x1f".join(map(str, r)) for r in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pages_cte(pages_dir: str) -> str:
    # same DISTINCT (url, text) form as kgp.queries_pages.pages_triples_sql
    return (
        "pages AS (SELECT DISTINCT url, text FROM "
        f"read_parquet('{pages_dir}/*.parquet'))"
    )


def expected_kg(pages_dir: str) -> dict:
    """Triples and entities digests from the DuckDB twins."""
    from kgp import queries_pages as qp

    ents_sql = f"""
WITH {_pages_cte(pages_dir)}, {qp._DOCS_CTE}, {qp._CAPPED_CTE},
{qp._ENTS_CTE}
SELECT entity_id, name, 'Entity' AS label, typ AS type FROM ents
"""
    con = _duck()
    try:
        triples = con.execute(
            qp.pages_triples_sql(f"{pages_dir}/*.parquet")
        ).fetchall()
        entities = con.execute(ents_sql).fetchall()
    finally:
        con.close()
    return {"triples": digest_rows(triples), "entities": digest_rows(entities)}


def table_digest(path: str, cols: tuple[str, ...]) -> tuple[int, str]:
    """Digest of a committed parquet directory (hive partitions read
    from the path)."""
    files = glob.glob(os.path.join(path, "*.parquet")) + glob.glob(
        os.path.join(path, "*", "*.parquet")
    )
    if not files:
        return 0, ""
    con = _duck()
    try:
        rows = con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet("
            f"{files!r}, hive_partitioning = true)"
        ).fetchall()
    finally:
        con.close()
    return digest_rows(rows)


def docs_law_violations(docs_path: str, pages_dir: str) -> int:
    """Rows breaking ``extracted_text == ' ' || text`` per url, plus
    urls present on one side only (the pages_extracted_docs law)."""
    con = _duck()
    try:
        return con.execute(
            f"""
WITH {_pages_cte(pages_dir)},
d AS (SELECT url, extracted_text
      FROM read_parquet('{docs_path}/*.parquet'))
SELECT count(*) FROM pages p FULL OUTER JOIN d ON p.url = d.url
WHERE p.url IS NULL OR d.url IS NULL
   OR d.extracted_text IS DISTINCT FROM ' ' || p.text
"""
        ).fetchone()[0]
    finally:
        con.close()


SPLIT_COLS = ("doc_id", "url", "split", "bucket", "quality_e4", "extracted_text")


def split_digest(out_dir: str) -> tuple[int, str]:
    return table_digest(f"{out_dir}/split", SPLIT_COLS)


def prep_violations(out_dir: str, max_per_domain: int) -> list[str]:
    """Independent checks of a training-prep output, each from the
    pass's own upstream stage, so a wrong stage is named:

    * ``deduped`` holds no two docs with the same text, and of the
      template pages that passed the filter (near-duplicates of each
      other) it keeps exactly one, the smallest doc_id;
    * ``split`` equals a DuckDB twin of the domain cap
      (``cap_per_key`` by quality desc, doc_id) and the md5-bucket
      split (``sampling.hash_split``) over ``span_cleaned``.
    """
    from kgp.operators.sampling import DEFAULT_FRACTIONS, hash_bucket_sql
    from kgp.queries_pages import _DOMAIN_SQL

    from perfbench.inputs import TEMPLATE

    split_case = "CASE " + " ".join(
        f"WHEN bucket < {ub} THEN '{name}'" for name, ub in DEFAULT_FRACTIONS
    ) + " END"
    con = _duck()
    problems = []
    try:
        dupes, kept, want = con.execute(f"""
WITH f AS (SELECT doc_id, extracted_text FROM
           read_parquet('{out_dir}/filtered/*.parquet')),
d AS (SELECT doc_id, extracted_text FROM
      read_parquet('{out_dir}/deduped/*.parquet')),
t AS (SELECT doc_id FROM f WHERE starts_with(ltrim(extracted_text), '{TEMPLATE} '))
SELECT (SELECT count(*) - count(DISTINCT md5(extracted_text)) FROM d),
       (SELECT list(doc_id ORDER BY doc_id) FROM d WHERE doc_id IN (SELECT doc_id FROM t)),
       (SELECT min(doc_id) FROM t)
""").fetchone()
        if dupes:
            problems.append(f"deduped keeps {dupes} exact duplicates")
        if list(kept or []) != ([] if want is None else [want]):
            problems.append("deduped does not keep exactly the smallest template doc")
        twin = con.execute(f"""
WITH s AS (SELECT doc_id, url, quality_e4, extracted_text,
                  row_number() OVER (PARTITION BY {_DOMAIN_SQL}
                                     ORDER BY quality_e4 DESC, doc_id) AS rnk
           FROM read_parquet('{out_dir}/span_cleaned/*.parquet')),
b AS (SELECT *, {hash_bucket_sql('doc_id')} AS bucket FROM s
      WHERE rnk <= {max_per_domain})
SELECT doc_id, url, {split_case} AS split, bucket, quality_e4, extracted_text
FROM b
""").fetchall()
    finally:
        con.close()
    if split_digest(out_dir) != digest_rows(twin):
        problems.append("split differs from the DuckDB cap-and-split twin")
    return problems
