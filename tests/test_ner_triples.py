"""Mentions + triples vs oracle: P/R target 1.0 (≥0.95 required)."""

from pyspark.sql import functions as F

from kgp import oracle
from kgp.gazetteer import PAGES_SURFACES
from kgp.operators.ner import gazetteer_mentions_col, mention_arrays_arrow
from kgp.operators.segment import extract_docs
from kgp.operators.triples import build_entities, build_triples
from kgp.plans.pipeline import (
    cap_mention_array_col,
    capped_mentions,
    explode_mentions,
)
from kgp.synth import synth_pages

N = 400


def _arrow_capped(docs):
    return explode_mentions(
        mention_arrays_arrow(docs), cap_mention_array_col(F.col("mentions"))
    )


# both extractors, through the one cap
EXTRACTORS = (capped_mentions, _arrow_capped)


def _gazetteer_mentions(docs):
    """Uncapped, unfiltered gazetteer mentions (url, surface, label,
    first_offset)."""
    return explode_mentions(
        docs, gazetteer_mentions_col(F.col("extracted_text"))
    )


def _oracle_triples(pages_rows):
    want = set()
    for r in pages_rows:
        for t in oracle.triples_for_page(r["url"], r["text"], PAGES_SURFACES):
            want.add((t[0], t[1], t[2]))
    return want


def _spark_triples(spark, capped_fn=capped_mentions):
    pages = synth_pages(spark, N, partitions=9)
    capped = capped_fn(extract_docs(pages))
    return pages, build_triples(capped), capped


def test_relational_mentions_match_oracle(spark):
    """The JVM gazetteer column (a pure relational expression) finds
    exactly the oracle's mentions, decoy labels included."""
    pages = synth_pages(spark, N)
    docs = extract_docs(pages)
    got = {tuple(r) for r in _gazetteer_mentions(docs).collect()}
    want = set()
    for r in pages.collect():
        text = oracle.extracted_text_for_page(r["text"])
        for s, lab, off in oracle.extract_mentions(text, PAGES_SURFACES):
            want.add((r["url"], s, lab, off))
    assert got == want
    assert len(want) > 100  # synthetic data actually exercises this


def test_arrow_mentions_equal_relational(spark):
    pages = synth_pages(spark, N)
    docs = extract_docs(pages)
    rel = {tuple(r) for r in _gazetteer_mentions(docs).collect()}
    arw = {
        tuple(r)
        for r in explode_mentions(
            mention_arrays_arrow(docs), F.col("mentions")
        ).collect()
    }
    assert rel == arw


def test_triples_pr_is_one(spark):
    for capped_fn in EXTRACTORS:
        pages, triples_df, _ = _spark_triples(spark, capped_fn)
        got = {(r["subj"], r["pred"], r["obj"]) for r in triples_df.collect()}
        want = _oracle_triples(pages.collect())
        tp = len(got & want)
        precision = tp / len(got) if got else 1.0
        recall = tp / len(want) if want else 1.0
        assert precision == 1.0 and recall == 1.0, (precision, recall)
        assert len(want) > 200


def test_cap_and_label_filter(spark):
    for capped_fn in EXTRACTORS:
        _, _, capped = _spark_triples(spark, capped_fn)
        per_doc = (
            capped.groupBy("url").count().agg(F.max("count")).first()[0]
        )
        assert per_doc <= 10
        labels = {
            r["label"] for r in capped.select("label").distinct().collect()
        }
        assert labels <= {"PERSON", "ORG", "GPE", "PRODUCT"}


def test_entities_unique_and_normalized(spark):
    _, _, capped = _spark_triples(spark)
    ents = build_entities(capped)
    assert ents.count() == ents.select("entity_id").distinct().count()
    bad = ents.filter(
        ~F.col("entity_id").rlike("^entity:[a-z0-9_.-]+$")
    ).count()
    assert bad == 0


def test_edge_ids_match_reference_format(spark):
    _, triples_df, _ = _spark_triples(spark)
    r = triples_df.first()
    assert r["edge_id"] == f"edge:{r['subj']}:{r['obj']}:contains_entity"


def test_normalize_entity_id_py_full_unicode_parity(spark):
    """F2 parity option: the pandas-UDF path must equal the
    reference's Python `entity.lower().replace(' ', '_')` on surfaces
    where JVM lower() and CPython str.lower() disagree."""
    from kgp.operators.triples import (
        normalize_entity_id,
        normalize_entity_id_py,
    )

    surfaces = [
        "İstanbul Technical University",   # dotted capital I (Turkish)
        "STRASSE",                         # no ß expansion either way
        "ĲSSELMEER",                       # ligature lowers to ĳ
        "Σίσυφος ΑΣ",                      # final-sigma contextual rule
        "Crème Brûlée Labs",
        "Acme Corp",                       # plain ASCII control
        "",                                # empty-string edge
    ]
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"surface": surfaces})
    ).withColumn("eid_py", normalize_entity_id_py(F.col("surface")))
    got = {r["surface"]: r["eid_py"] for r in df.collect()}
    want = {
        s: "entity:" + s.lower().replace(" ", "_") for s in surfaces
    }
    assert got == want
    # and the JVM default stays byte-identical on ASCII gazetteers
    ascii_df = spark.createDataFrame(
        pd.DataFrame({"surface": ["Acme Corp", "Pied Piper"]})
    ).select(
        normalize_entity_id(F.col("surface")).alias("a"),
        normalize_entity_id_py(F.col("surface")).alias("b"),
    )
    assert ascii_df.filter(F.col("a") != F.col("b")).count() == 0
    # NULL surface → NULL id on BOTH paths (JVM concat propagates
    # NULL; the pandas path must not coin a non-null 'entity:') — the
    # two paths stay row-for-row swappable for NULL-filtering callers
    null_df = spark.createDataFrame(
        [(None,), ("Acme Corp",)], "surface string"
    ).select(
        normalize_entity_id(F.col("surface")).alias("a"),
        normalize_entity_id_py(F.col("surface")).alias("b"),
    )
    rows = {(r["a"], r["b"]) for r in null_df.collect()}
    assert rows == {(None, None), ("entity:acme_corp", "entity:acme_corp")}
