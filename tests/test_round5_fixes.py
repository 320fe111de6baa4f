"""Round-5 fixes: span hot-span guard parity, the span keeper law,
Spark-Connect-safe file-size probe, \\x0B whitespace-class parity,
triangle materialize-flag threading, substrate control smoke."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from kgp.operators.dedup import (
    _file_sizes,
    near_dup_pairs_minhash,
    span_cleaned_docs,
    span_dedup_stats,
)


def _hot_corpus():
    """10 docs sharing one boilerplate span + unique tails: the span
    'b b b' is hot (cnt=10) under cap=3, everything else cold."""
    rng = random.Random(5)
    vocab = ["p", "q", "r", "s", "t", "u"]
    docs = []
    for i in range(10):
        tail = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 9)))
        docs.append((i, f"b b b {tail}"))
    docs.append((99, "z z z"))
    return docs


def test_span_hot_cap_parity(spark):
    """hot_span_cap is a physical-plan choice, not a semantics change:
    guarded output == unguarded output on a corpus with a hot span."""
    df = spark.createDataFrame(_hot_corpus(), "doc_id long, text string")

    def key(rows):
        return sorted(tuple(r) for r in rows)

    base = key(span_dedup_stats(df, k=3).collect())
    for cap in (1, 3, 100):
        assert key(
            span_dedup_stats(df, k=3, hot_span_cap=cap).collect()
        ) == base


def test_span_hot_cap_parity_string_ids(spark):
    """The struct-keeper (non-integral id) path under the guard."""
    docs = [(f"page:{i}", t) for i, t in _hot_corpus()]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    base = sorted(map(tuple, span_dedup_stats(df, k=3).collect()))
    got = sorted(
        map(tuple, span_dedup_stats(df, k=3, hot_span_cap=2).collect())
    )
    assert got == base


def test_span_keeper_is_first_occurrence(spark):
    """The keeper of a duplicated block is its lowest (id, pos)
    occurrence, in the audit view and in the text rewrite alike."""
    df = spark.createDataFrame(
        [(1, "x y z a b c"), (2, "x y z q"), (3, "a b c")],
        "doc_id long, text string",
    )
    stats = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["n_removed"],
                      r["clean_md5"])
        for r in span_dedup_stats(df, k=3).collect()
    }

    def md5(t):
        return hashlib.md5(t.encode()).hexdigest()

    assert stats == {
        1: (2, 2, 0, md5("x y z a b c")),  # keeps both: lowest (id, pos)
        2: (2, 1, 1, md5("q")),  # loses "x y z" to doc 1, "q" unique
        3: (1, 1, 1, md5("")),  # loses "a b c" to doc 1 pos 1
    }
    cleaned = {
        r["doc_id"]: r["text"] for r in span_cleaned_docs(df, k=3).collect()
    }
    assert cleaned == {1: "x y z a b c", 2: "q", 3: ""}


def test_span_cleaned_docs_digest_and_byte_identity(spark):
    """span_cleaned_docs == span_dedup_stats' law, as text: rewritten
    docs hash to clean_md5; docs losing no block keep their ORIGINAL
    bytes (even with irregular whitespace the digest normalizes)."""
    rows = _hot_corpus() + [(50, "m  n o p q")]  # double space, unique
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {
        r["doc_id"]: (r["n_removed"], r["clean_md5"])
        for r in span_dedup_stats(df, k=3).collect()
    }
    got = {
        r["doc_id"]: r["text"]
        for r in span_cleaned_docs(df, k=3).collect()
    }
    orig = dict(rows)
    assert set(got) == set(orig)
    n_rewritten = 0
    for did, (n_removed, md5hex) in stats.items():
        if n_removed == 0:
            assert got[did] == orig[did], did
        else:
            n_rewritten += 1
            assert got[did] != orig[did]
            assert (
                hashlib.md5(got[did].encode()).hexdigest() == md5hex
            ), did
    # the hot span 'b b b' is block 0 of ten docs: at least nine
    # rewrites (tail-block collisions in the 6-word vocab may add more)
    assert n_rewritten >= 9
    assert got[50] == "m  n o p q"  # untouched ⇒ bytes preserved


def test_span_cleaned_docs_hot_cap_parity(spark):
    df = spark.createDataFrame(_hot_corpus(), "doc_id long, text string")
    base = sorted(map(tuple, span_cleaned_docs(df, k=3).collect()))
    for cap in (1, 3):
        assert (
            sorted(
                map(
                    tuple,
                    span_cleaned_docs(
                        df, k=3, hot_span_cap=cap
                    ).collect(),
                )
            )
            == base
        )


class _ConnectLikeSession:
    """Duck-typed session with no usable _jvm (Spark Connect shape)."""

    _jvm = None  # attribute exists but .org access raises

    @property
    def _jsc(self):
        raise AttributeError("no _jsc under Spark Connect")


def test_file_sizes_python_fallback(tmp_path):
    p = tmp_path / "x.bin"
    p.write_bytes(b"0" * 1234)
    got = _file_sizes(_ConnectLikeSession(), [f"file:{p}"])
    assert got == [1234]
    # bare paths (no scheme) stat too
    assert _file_sizes(_ConnectLikeSession(), [str(p)]) == [1234]


def test_file_sizes_remote_scheme_skips():
    assert (
        _file_sizes(_ConnectLikeSession(), ["s3a://bucket/part-0.parquet"])
        is None
    )


def test_minhash_runs_without_jvm_access(spark, tmp_path, monkeypatch):
    """End-to-end: the widening probe must not require spark._jvm
    (ADVICE r4 — breaks under Spark Connect). With _jvm monkeypatched
    away, the pure-Python stat fallback drives the same widening
    decision and the operator's answer is unchanged."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (f"d{i}", " ".join(rng.choice(vocab) for _ in range(25)))
        for i in range(80)
    ]
    # plant one near-dup pair so the output is non-vacuous
    rows.append(("dup_a", rows[0][1]))
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id string, text string").coalesce(
        1
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    assert 0 < len(docs.inputFiles()) < spark.sparkContext.defaultParallelism

    want = sorted(
        map(tuple, near_dup_pairs_minhash(docs, threshold=0.9).collect())
    )

    # simulate Spark Connect at the seam: the JVM stat path raises
    # (nulling spark._jvm itself would break classic PySpark's own
    # internals session-wide)
    import kgp.operators.dedup as D

    def _no_jvm(spark_, files_):
        raise AttributeError("no _jvm under Spark Connect")

    monkeypatch.setattr(D, "_jvm_file_sizes", _no_jvm)
    got = sorted(
        map(
            tuple,
            near_dup_pairs_minhash(
                spark.read.parquet(path), threshold=0.9
            ).collect(),
        )
    )
    assert got == want and len(got) >= 1


def test_truncate_vertical_tab_cross_engine(spark):
    """Java \\s matches \\x0B, RE2 (DuckDB) \\s does not — the explicit
    TRUNC_WS_CLASS makes both engines tokenize a \\x0B doc identically
    (ADVICE r4 latent driver-gate break)."""
    import duckdb

    from kgp.operators.textstats import TRUNC_WS_CLASS, truncate_tokens_cols

    texts = [
        "a\x0bb c d e",      # \x0B inside what is now ONE token
        "a \x0b b c d e",    # \x0B as its own pseudo-token
        "one two",           # under cap: byte-identical pass-through
        " lead two three four",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    trunc, was = truncate_tokens_cols(F.col("text"), 2)
    got = [
        (r["t"], r["w"])
        for r in df.select(
            trunc.alias("t"), was.alias("w")
        ).collect()
    ]

    ws = TRUNC_WS_CLASS
    over = f"^[{ws}]*([^{ws}]+[{ws}]+){{2}}[^{ws}]"
    keep = f"^([{ws}]*[^{ws}]+([{ws}]+[^{ws}]+){{0,1}})"
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT CASE WHEN regexp_matches(?, ?) "
            "THEN regexp_extract(?, ?, 1) ELSE ? END, "
            "CASE WHEN regexp_matches(?, ?) THEN 1 ELSE 0 END",
            [t, over, t, keep, t, t, over],
        ).fetchone()
        for t in texts
    ]
    assert got == [tuple(w) for w in want]
    # the \x0B-in-token doc keeps it: 'a\x0Bb' is one token
    assert got[0] == ("a\x0bb c", 1)


def test_triangle_materialize_flag_threads_into_degree_path(spark, tmp_path):
    """materialize=False must reach the degree-oriented edge table too
    (ADVICE r4: it unconditionally localCheckpointed)."""
    from kgp.operators.graph import triangle_counts

    # parquet-backed input: createDataFrame is itself an ExistingRDD
    # scan, which would false-positive the plan assertion below
    path = str(tmp_path / "edges")
    spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], "src long, dst long"
    ).write.parquet(path)
    edges = spark.read.parquet(path)
    lazy = triangle_counts(edges, materialize=False, orient="degree")
    eager = triangle_counts(edges, materialize=True, orient="degree")
    # localCheckpoint surfaces as an ExistingRDD scan in the plan
    assert "ExistingRDD" not in lazy._jdf.queryExecution().toString()
    assert "ExistingRDD" in eager._jdf.queryExecution().toString()
    assert sorted(map(tuple, lazy.collect())) == sorted(
        map(tuple, eager.collect())
    )


def test_substrate_control_smoke():
    from kgp.substrate import substrate_control

    out = substrate_control(repeats=1, loop_iters=200_000)
    assert set(out) == {
        "widths", "sec_per_proc_n", "sec_per_proc_4n", "ceiling", "repeats"
    }
    assert 0 < out["ceiling"] <= 1.0
    assert len(out["repeats"]) == 1

