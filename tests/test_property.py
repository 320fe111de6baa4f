"""Property-based tests (hypothesis): Spark operators vs pure-Python
twins on adversarial inputs — whitespace-laced texts, boundary
timestamps. Each example batches many generated rows into ONE Spark
job (per-example Spark roundtrips are the cost driver, so examples
are few and wide: SURVEY §5.2 item 2)."""

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# words over a tiny alphabet + explicit empties (double-space generator)
_word = st.text(alphabet=string.ascii_lowercase, min_size=0, max_size=6)
_text = st.lists(_word, min_size=1, max_size=80).map(" ".join)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_text, min_size=1, max_size=40))
def test_segmentation_byte_identity_random_whitespace(spark, texts):
    """extract_docs must reproduce the vendored oracle byte-for-byte on
    arbitrary (incl. empty/multi-space) token streams."""
    from kgp.operators.segment import extract_docs
    from kgp.oracle import extracted_text_for_page

    rows = [(f"u{i}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {
        r["url"]: r["extracted_text"]
        for r in extract_docs(
            df.withColumn("warc_ts", F.current_timestamp())
            .withColumn("html", F.lit(b""))
            .withColumn("lang", F.lit("en"))
        ).collect()
    }
    for url, text in rows:
        assert got[url] == extracted_text_for_page(text), repr(text)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_text, min_size=2, max_size=30))
def test_jaccard_matches_python_sets(spark, texts):
    from kgp.operators.dedup import near_dup_pairs_bruteforce

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in near_dup_pairs_bruteforce(df, threshold=0.0).collect()
    }

    def shingles(t):
        w = t.split(" ")
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    for i, ta in rows:
        for j, tb in rows:
            if i < j:
                sa, sb = shingles(ta), shingles(tb)
                want = len(sa & sb) / len(sa | sb)
                assert got[(i, j)] == want, (ta, tb)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                       # key
            st.integers(0, 10_000),                  # seconds offset
        ),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_asof_matches_python(spark, rows):
    """asof_join vs a pure-Python per-key scan."""
    from datetime import datetime, timedelta

    from kgp.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    left = [(i, k, base + timedelta(seconds=s))
            for i, (k, s) in enumerate(rows)]
    right = [(k, base + timedelta(seconds=s * 2), 1000 + i)
             for i, (k, s) in enumerate(rows[: len(rows) // 2])]
    # unique (key, ts) on the right for a well-defined answer
    seen = {}
    for k, ts, v in right:
        seen[(k, ts)] = max(v, seen.get((k, ts), -1))
    right = [(k, ts, v) for (k, ts), v in seen.items()]

    ldf = spark.createDataFrame(
        left, "event_id long, k long, ts timestamp")
    rdf = spark.createDataFrame(right, "k long, ts timestamp, snap long")
    got = {r["event_id"]: r["snap"]
           for r in asof_join(ldf, rdf, key="k").collect()}

    for eid, k, ts in left:
        cands = [(rts, v) for rk, rts, v in right
                 if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[eid] == want, (eid, k, ts)


# gazetteer-extractor inputs: a tiny vocabulary (with punctuation) so
# surfaces hit often; empty words make leading/trailing/double spaces
_gaz_word = st.text(alphabet="ab.,", min_size=0, max_size=3)
_gaz_text = st.lists(_gaz_word, min_size=1, max_size=40).map(" ".join)
_surface = st.lists(_gaz_word, min_size=1, max_size=3).map(" ".join)
_label = st.sampled_from(["PERSON", "ORG", "GPE", "PRODUCT", "EVENT"])
# fixed adversarial core: shared first word, one surface a prefix of
# another, a duplicate surface with another label, an exact duplicate,
# surfaces with a leading / trailing space
_GAZ_CORE = [
    ("a", "ORG"), ("a b", "PERSON"), ("a b.", "GPE"), ("a", "PERSON"),
    ("a", "ORG"), (" a", "PRODUCT"), ("b ", "ORG"), ("ab", "GPE"),
]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(_gaz_text, min_size=1, max_size=40),
    st.lists(st.tuples(_surface, _label), max_size=12),
)
def test_gazetteer_extractors_match_oracle(spark, texts, extra):
    """The JVM gazetteer column and the Arrow extractor equal
    kgp.oracle.extract_mentions (one substring check per surface) on
    whitespace- and punctuation-laced texts and adversarial
    gazetteers — uncapped as a multiset, and through the one cap in
    its pinned (first_offset, surface, label) order."""
    from kgp.constants import ENTITY_LABELS, MAX_ENTITIES_PER_DOC
    from kgp.operators.ner import gazetteer_mentions_col, mention_arrays_arrow
    from kgp.oracle import extract_mentions
    from kgp.plans.pipeline import cap_mention_array_col

    gaz = _GAZ_CORE + extra
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    jvm = gazetteer_mentions_col(F.col("text"), gaz)
    got = {
        r["id"]: (r["m"], r["c"])
        for r in df.select(
            "id",
            jvm.alias("m"),
            cap_mention_array_col(jvm).alias("c"),
        ).collect()
    }
    arrow = {
        r["id"]: r["mentions"]
        for r in mention_arrays_arrow(df, gaz, id_col="id", text_col="text")
        .collect()
    }

    def triples(ms):
        return [(m["surface"], m["label"], m["first_offset"]) for m in ms]

    for i, text in enumerate(texts):
        want = extract_mentions(text, gaz)
        m, c = got[i]
        assert sorted(triples(m)) == sorted(want), (text, gaz)
        assert sorted(triples(arrow[i])) == sorted(want), (text, gaz)
        capped = sorted(
            (o, s, lab) for s, lab, o in want if lab in ENTITY_LABELS
        )[:MAX_ENTITIES_PER_DOC]
        assert triples(c) == [(s, lab, o) for o, s, lab in capped], text


# the shingle set and both signature families as written before the
# token array was bound once (a closure over split(t), explode over
# the set) — the reference the bound kernels must equal value for value
_CLOSURE_SHINGLES = (
    "array_distinct(transform(sequence(1,"
    " greatest(size(split(t, ' ', -1)) - 2, 1)),"
    " i -> concat_ws(' ', slice(split(t, ' ', -1), i, 3))))"
)
_SHINGLE_EDGES = [
    None, "", " ", "a", "a b", "a  b", "a b c", "  a b  ", "a b a b a b",
    "x y z x y z", "a  b  c  d",
]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_text, min_size=1, max_size=30))
def test_bound_shingles_and_signatures_equal_closure_form(spark, texts):
    """shingles_col and minhash_signature (both families) equal the
    closure-form shingle set and explode-based signatures on NULL,
    empty, 1-2-token, double-space and duplicate-shingle texts."""
    from kgp.operators.linking import MINHASH_K, minhash_signature, shingles_col

    rows = [(f"d{i}", t) for i, t in enumerate(_SHINGLE_EDGES + texts)]
    df = spark.createDataFrame(rows, "id string, t string")
    sets = df.select("id", shingles_col(F.col("t")).alias("sh"))
    ref = df.select("id", F.expr(_CLOSURE_SHINGLES).alias("sh"))
    assert sorted(map(tuple, sets.collect())) == sorted(
        map(tuple, ref.collect())
    )

    el = ref.select("id", F.explode("sh").alias("e"))
    digest = F.concat(F.sha2("e", 256), F.md5("e"))
    ref_sig = {
        "fast": el.groupBy("id").agg(*[
            F.min(F.xxhash64(F.lit(i), "e")).alias(f"h{i}")
            for i in range(MINHASH_K)
        ]),
        "oracle": el.groupBy("id").agg(*[
            F.min(
                F.conv(F.substring(digest, i * 8 + 1, 8), 16, 10)
                .cast("long")
            ).alias(f"h{i}")
            for i in range(MINHASH_K)
        ]),
    }
    for family, want in ref_sig.items():
        got = minhash_signature(sets, "id", "sh", family=family)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), family
