"""The one KG plan: both extractors → the one in-row cap ≡ kgp.oracle,
with a single shuffle in pages→triples."""

from pyspark.sql import functions as F

from kgp import oracle
from kgp.constants import ENTITY_LABELS, MAX_ENTITIES_PER_DOC
from kgp.gazetteer import PAGES_SURFACES
from kgp.operators.ner import mention_arrays_arrow
from kgp.operators.segment import extract_docs
from kgp.plans.pipeline import (
    cap_mention_array_col,
    capped_mentions,
    explode_mentions,
    outputs_from_capped,
)
from kgp.synth import synth_pages


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _gazetteer_outputs(pages, gaz=None):
    return outputs_from_capped(capped_mentions(extract_docs(pages), gaz))


def _udf_capped(docs):
    """Model-UDF extraction path: per-doc mention arrays from the
    Arrow UDF, then the same in-row cap as the gazetteer path."""
    return explode_mentions(
        mention_arrays_arrow(docs),
        cap_mention_array_col(F.col("mentions")),
    )


def test_fused_equals_oracle(spark):
    """Both extractors → the one cap → outputs ≡ the pure-Python oracle
    (kgp.oracle: whole-token match, label filter, pinned order, cap)."""
    pages = synth_pages(spark, 400).cache()
    rows = pages.select("url", "text").collect()
    want_t = {
        t
        for r in rows
        for t in oracle.triples_for_page(r["url"], r["text"], PAGES_SURFACES)
    }
    # entity nodes: one per normalized id, min name/type
    want_e = {}
    for r in rows:
        text = oracle.extracted_text_for_page(r["text"])
        kept = [
            m
            for m in oracle.extract_mentions(text, PAGES_SURFACES)
            if m[1] in ENTITY_LABELS
        ]
        for s, lab, _ in kept[:MAX_ENTITIES_PER_DOC]:
            eid = oracle.normalize_entity_id(s)
            n, t = want_e.get(eid, (s, lab))
            want_e[eid] = (min(n, s), min(t, lab))
    assert len(want_e) > 10
    docs = extract_docs(pages)
    for capped in (capped_mentions(docs), _udf_capped(docs)):
        triples, entities = outputs_from_capped(capped)
        assert {tuple(r) for r in triples.collect()} == want_t
        got_e = {
            r["entity_id"]: (r["name"], r["type"])
            for r in entities.collect()
        }
        assert got_e == want_e
    pages.unpersist()


def test_fused_triples_single_shuffle(spark):
    """pages→triples: exactly one hash exchange (the edge dedup); no
    cap window, no extraction join."""
    triples, _ = _gazetteer_outputs(synth_pages(spark, 50))
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_fused_partition_invariance(spark):
    a = _gazetteer_outputs(synth_pages(spark, 200, partitions=1))[0]
    b = _gazetteer_outputs(synth_pages(spark, 200, partitions=11))[0]
    assert _rows(a) == _rows(b)


def test_udf_cap_equals_relational_path(spark):
    """Arrow-UDF mention arrays and the JVM gazetteer column (the pure
    relational-expression extractor), through the one cap, give the
    same capped mentions and the same triples/entities."""
    pages = synth_pages(spark, 400).cache()
    docs = extract_docs(pages)
    ref_capped = capped_mentions(docs)
    udf_capped = _udf_capped(docs)
    assert _rows(ref_capped) == _rows(udf_capped)
    t_ref, e_ref = outputs_from_capped(ref_capped)
    t_udf, e_udf = outputs_from_capped(udf_capped)
    assert _rows(t_ref) == _rows(t_udf)
    assert _rows(e_ref) == _rows(e_udf)
    pages.unpersist()


def test_udf_cap_no_shuffle_between_udf_and_cap(spark):
    """The capped-mentions table from the UDF path is a fully narrow
    plan: scan → MapInPandas → in-row filter/sort/slice → explode.
    No Window, no Exchange anywhere before the output dedups."""
    docs = extract_docs(synth_pages(spark, 50))
    plan = (
        _udf_capped(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan


def test_cap_mention_array_semantics(spark):
    """Filter-before-cap + pinned (first_offset, surface) order on a
    hand-built model output: 12 entity mentions + an early decoy label.
    The decoy must not consume a cap slot (gremlin_client.py:102-135:
    label filter precedes the cap), and the tie at offset 7 breaks by
    surface."""
    rows = [
        (
            "u1",
            # decoy label at offset 0 would win the sort if the filter
            # ran after the cap
            [{"surface": "noise", "label": "EVENT", "first_offset": 0}]
            + [
                {
                    "surface": f"e{i:02d}",
                    "label": "ORG",
                    "first_offset": 7 if i < 2 else 10 + i,
                }
                for i in range(12)
            ],
        )
    ]
    df = spark.createDataFrame(
        rows,
        "url string, mentions array<struct<"
        "surface:string,label:string,first_offset:bigint>>",
    )
    out = df.select(
        F.explode(cap_mention_array_col(F.col("mentions"))).alias("m")
    ).select("m.surface", "m.first_offset").collect()
    surfaces = [r["surface"] for r in out]
    assert len(surfaces) == 10  # capped, decoy excluded
    assert "noise" not in surfaces
    assert surfaces[:2] == ["e00", "e01"]  # offset-7 tie broken by surface
    assert surfaces == sorted(
        surfaces
    )  # here offset order == lexical order by construction


def test_fused_empty_gazetteer_yields_zero_mentions(spark):
    """Regression: an empty/all-filtered gazetteer must produce zero
    triples, not an analysis error (VOID array element type)."""
    pages = synth_pages(spark, 10)
    for gaz in ([("decoy", "EVENT")], []):
        t, e = _gazetteer_outputs(pages, gaz=gaz)
        assert t.count() == 0 and e.count() == 0


def test_capped_plan_searches_once_per_candidate_not_per_surface(spark):
    """Plan guard: the gazetteer extractor holds ONE substring search
    (inside the candidate lambda), whatever the gazetteer size — not
    one ``locate``/``instr`` per surface."""
    docs = extract_docs(synth_pages(spark, 10))

    def searches(gaz):
        plan = (
            capped_mentions(docs, gaz)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        return plan.count("locate(") + plan.count("instr(")

    small = [(f"w{i} x", "ORG") for i in range(4)]
    large = [(f"w{i} x", "ORG") for i in range(40)]
    assert searches(small) == searches(large) <= 1
    assert searches(small) == 1
