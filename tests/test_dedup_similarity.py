"""Dedup battery + similarity search: semantics not covered by the SQL
oracle (recall of ANN vs brute force, dedup keep-semantics)."""

from pyspark.sql import functions as F

from kgp.operators.dedup import (
    dedup_exact,
    exact_dup_groups,
    fingerprint_dup_groups,
    simhash_dup_groups,
)
from kgp.operators.similarity import topk_bruteforce, topk_lsh


def test_parse_bytes_handles_spark_suffix_forms():
    """'128m' misread as 128 bytes would silently disable the
    narrow-input widening (est_tasks explodes past defaultParallelism
    immediately) on any cluster using suffixed config values."""
    from kgp.operators.dedup import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 * 2**20
    assert _parse_bytes("128M") == 128 * 2**20
    assert _parse_bytes("1g") == 2**30
    assert _parse_bytes("64k") == 64 * 2**10
    assert _parse_bytes("garbage") == 128 * 2**20  # safe default


def test_dedup_exact_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(3, "a b c"), (1, "a b c"), (2, "x y"), (9, "x y"), (5, "solo")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 2, 5]
    groups = {r["keep_id"]: r["n_dups"]
              for r in exact_dup_groups(docs).collect()}
    assert groups == {1: 2, 2: 2, 5: 1}


def test_fingerprint_catches_token_permutation(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b d")],
        "doc_id long, text string",
    )
    groups = {r["keep_id"]: r["n_dups"]
              for r in fingerprint_dup_groups(docs).collect()}
    assert groups == {1: 2, 3: 1}


def test_simhash_identical_and_disjoint(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"),
         (3, "q w e r t y u i o p")],
        "doc_id long, text string",
    )
    rows = simhash_dup_groups(docs).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in rows}
    # token-set-identical docs share the sketch exactly
    assert by_keep.get(1) == 2
    assert by_keep.get(3) == 1
    assert all(len(r["simhash"]) == 32 and set(r["simhash"]) <= {"0", "1"}
               for r in rows)


def test_ann_lsh_results_subset_of_bucket_and_ranked(spark):
    """topk_lsh returns correctly ranked true-cosine results within the
    query's bucket; every (query, neighbor) it returns must appear in
    the brute-force ranking with the same sim_e4."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    bf = {(r["query_id"], r["neighbor_id"]): r["sim_e4"]
          for r in topk_bruteforce(emb, q, k=400).collect()}
    lsh_rows = topk_lsh(emb, q, k=10).collect()
    assert lsh_rows, "buckets should be non-empty at 500 vectors"
    for r in lsh_rows:
        assert bf[(r["query_id"], r["neighbor_id"])] == r["sim_e4"]
    # ranks are 1..n contiguous per query
    by_q = {}
    for r in lsh_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_bruteforce_topk_is_true_topk(spark):
    """Driver-independent check: top-1 neighbor by brute force equals
    numpy argmax of cosine on the same data."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.orderBy("vec_id").toPandas()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn[0]
    sims[0] = -2  # exclude self
    expect = ids[int(np.argmax(sims))]
    got = (
        topk_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=1)
        .collect()[0]
    )
    assert got["neighbor_id"] == expect
    assert abs(got["sim_e4"] / 10000 - float(np.max(sims))) < 2e-4


def test_minhash_fast_family_matches_oracle_family(spark):
    """The production xxhash64 family must find the same verified pair
    set as the DuckDB-replicable sha/md5 family (both feed the same
    exact-Jaccard verification; only candidate recall could differ)."""
    from kgp.operators.dedup import near_dup_pairs_minhash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    oracle = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in near_dup_pairs_minhash(
            docs, threshold=0.5, family="oracle"
        ).collect()
    }
    fast = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in near_dup_pairs_minhash(
            docs, threshold=0.5, family="fast"
        ).collect()
    }
    assert oracle and fast == oracle


def test_ivf_topk_recall_vs_bruteforce(spark):
    """nprobe=2 IVF must recover a solid fraction of the exact top-10
    (random 64-d vectors are a worst case for coarse quantization; the
    assertion pins the contract that the probe path returns real
    neighbors, not garbage)."""
    from kgp.operators.similarity import topk_bruteforce, topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    from pyspark.sql import functions as F

    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(emb, q, k=10).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(emb, q, k=10).collect()
    }
    assert len(ivf) > 0
    # every IVF hit must carry the exact similarity (scores are exact;
    # only the candidate set is approximate)
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.2, recall


def test_ivf_gemm_assignment_matches_exact(spark):
    """The GEMM (pandas/numpy) assignment path must agree with the
    exact JVM assignment almost everywhere — matmul reassociates the
    float sum, so agreement is asserted on the resulting top-k SETS
    (≥90% overlap), not bitwise."""
    from pyspark.sql import functions as F

    from kgp.operators.similarity import topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(emb, q, k=10, assign="exact").collect()
    }
    gemm = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(emb, q, k=10, assign="gemm").collect()
    }
    assert exact and gemm
    overlap = len(exact & gemm) / len(exact)
    assert overlap >= 0.9, overlap


def test_ivf_centroid_cache_skips_recollect(spark):
    """centroid_cache_key memoizes the collected centroid matrix: the
    second probe with the same key must not hit the driver again, and
    cached results stay identical to uncached ones."""
    from kgp.operators import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    q = emb.limit(3)
    key = "test-ivf-cache-v1"
    S._CENTROID_CACHE.pop(key, None)

    uncached = sorted(
        map(tuple, S.topk_ivf(emb, q, k=5, assign="gemm").collect())
    )
    first = sorted(
        map(
            tuple,
            S.topk_ivf(
                emb, q, k=5, assign="gemm", centroid_cache_key=key
            ).collect(),
        )
    )
    assert key in S._CENTROID_CACHE
    cached_mat = S._CENTROID_CACHE[key][1]

    # poison collect: a re-collect would now blow up
    import pytest

    class _Boom:
        def __getattr__(self, name):
            raise AssertionError("centroids re-collected despite cache")

    orig = S.collect_centroid_matrix

    def guarded(cents, cache_key=None):
        assert cache_key == key
        assert cache_key in S._CENTROID_CACHE
        return S._CENTROID_CACHE[cache_key][1]

    S.collect_centroid_matrix = guarded
    try:
        second = sorted(
            map(
                tuple,
                S.topk_ivf(
                    emb, q, k=5, assign="gemm", centroid_cache_key=key
                ).collect(),
            )
        )
    finally:
        S.collect_centroid_matrix = orig
        S._CENTROID_CACHE.pop(key, None)
    assert uncached == first == second
    assert cached_mat[0].shape[0] > 0


def test_kmeans_trained_centroids_slot_into_ivf(spark):
    """train_centroids_kmeans produces a (cid, _cv) table that drops
    into topk_ivf unchanged; training must not hurt recall vs the
    untrained every-Nth quantizer and must reduce assignment cost
    (inertia) over iterations."""
    import numpy as np

    from kgp.operators.similarity import (
        topk_bruteforce,
        topk_ivf,
        train_centroids_kmeans,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    q = emb.limit(5)

    def inertia(cents_df):
        rows = sorted(cents_df.collect(), key=lambda r: r["cid"])
        C = np.array([r["_cv"] for r in rows], dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        V = np.stack(
            [r["embedding"] for r in emb.select("embedding").collect()]
        ).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        return float((1.0 - (Vn @ Cn.T).max(axis=1)).sum())

    c1 = train_centroids_kmeans(emb, k_centroids=8, iters=1)
    c3 = train_centroids_kmeans(emb, k_centroids=8, iters=3)
    i1, i3 = inertia(c1), inertia(c3)
    assert i3 <= i1 + 1e-9, (i1, i3)

    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_bruteforce(emb, q, k=5).collect()
    }
    got = topk_ivf(
        emb, q, k=5, nprobe=3, assign="gemm", cents_df=c3
    ).collect()
    assert got, "trained-centroid IVF returned nothing"
    hits = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in got
    }
    overlap = len(set(exact.items()) & set(hits.items())) / len(exact)
    assert overlap >= 0.3, overlap  # recall<1 by construction (nprobe)


def test_centroid_cache_invalidates_on_different_centroids(spark):
    """Reusing a cache_key with a DIFFERENT centroid DataFrame must
    re-collect (semanticHash guard), never serve stale centroids."""
    from kgp.operators import similarity as S

    key = "test-ivf-stale-v1"
    S._CENTROID_CACHE.pop(key, None)
    c1 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, _cv array<double>"
    )
    c2 = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0]), (2, [1.0, 1.0])],
        "cid long, _cv array<double>",
    )
    try:
        cids1, _ = S.collect_centroid_matrix(c1, cache_key=key)
        cids2, _ = S.collect_centroid_matrix(c2, cache_key=key)
        assert len(cids1) == 2 and len(cids2) == 3
        # same plan again → served from cache without growing it
        assert len(S._CENTROID_CACHE) <= S._CENTROID_CACHE_MAX
        cids2b, _ = S.collect_centroid_matrix(c2, cache_key=key)
        assert list(cids2b) == list(cids2)
    finally:
        S._CENTROID_CACHE.pop(key, None)


def test_kmeans_zero_vector_does_not_poison_centroids(spark):
    """A zero vector (empty-text embedding) in the input — even in
    the init rows — must not produce NaN centroids or collapse
    training to one cluster."""
    import numpy as np

    from kgp.operators.similarity import train_centroids_kmeans

    rng = np.random.default_rng(7)
    rows = [(0, [0.0] * 8)] + [
        (i, rng.normal(size=8).tolist()) for i in range(1, 40)
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    cents = train_centroids_kmeans(emb, k_centroids=4, iters=2)
    C = np.array(
        [r["_cv"] for r in cents.collect()], dtype=np.float64
    )
    assert np.isfinite(C).all(), "NaN/inf leaked into centroids"
    assert C.shape[0] == 4

    import pytest

    empty = emb.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        train_centroids_kmeans(empty, k_centroids=4, iters=1)


def test_compact_refuses_while_stream_active(spark, tmp_path):
    """compact_triples_sink must refuse to swap directories while any
    streaming query is active in the session (a concurrent append
    during the two-rename swap can lose committed rows)."""
    import pytest

    from kgp.streaming import compact_triples_sink

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("noop")
        .start()
    )
    try:
        with pytest.raises(RuntimeError, match="streaming queries"):
            compact_triples_sink(spark, str(tmp_path / "sink"))
    finally:
        q.stop()


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition features against hand-computed values:
    'a b a b a' → grams [a b, b a, a b, b a]: 4 grams, 2 distinct,
    dup ratio 0.5 → 5000, top multiplicity 2. A no-repeat doc scores
    0; a single-token doc carries no gram and is dropped."""
    from kgp.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "p q r s"), (3, "solo"),
         (4, "x x x x")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict()
            for r in repetition_stats(docs).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1] == {"doc_id": 1, "n_grams2": 4, "n_distinct2": 2,
                       "dup_ratio_e4": 5000, "top_gram_count": 2}
    assert rows[2]["dup_ratio_e4"] == 0
    assert rows[2]["top_gram_count"] == 1
    # 'x x x x' → [x x, x x, x x]: all duplicates, run of 3
    assert rows[4] == {"doc_id": 4, "n_grams2": 3, "n_distinct2": 1,
                       "dup_ratio_e4": 6666, "top_gram_count": 3}


def test_ngram_contamination_semantics(spark):
    """Decontamination flags exactly the training docs sharing a
    3-token shingle with the benchmark, counting distinct overlaps;
    clean docs are absent."""
    from kgp.operators.dedup import ngram_contamination

    train = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w"), (3, "c d e f g")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "b c d e")], "doc_id long, text string",
    )
    # bench grams: {b c d, c d e}; doc1 hits {b c d}, doc3 hits
    # {c d e}; doc2 disjoint
    hits = {r["doc_id"]: r["n_hits"]
            for r in ngram_contamination(train, bench).collect()}
    assert hits == {1: 1, 3: 1}


def test_ngram_contamination_broadcasts_bench_side(spark):
    """The eval gram set must broadcast — the training stream never
    shuffles for the overlap join (100 TB shape)."""
    from kgp.operators.dedup import ngram_contamination

    train = spark.range(0, 50).selectExpr(
        "id AS doc_id", "concat('tok', id, ' a b c d e') AS text"
    )
    bench = spark.range(0, 2).selectExpr(
        "id AS doc_id", "'a b c' AS text"
    )
    plan = (
        ngram_contamination(train, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_dup_ratio_sql_matches_repetition_stats(spark):
    """dup_ratio_e4_sql (the pipeline-filter expression) and
    repetition_stats (the gated operator) are two compilations of one
    rule — equal on every doc, including short docs (SQL scores them
    0; the operator drops them)."""
    from kgp.operators.textstats import (
        dup_ratio_e4_sql,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "p q r s"), (3, "solo"),
         (4, "x x x x"), (5, "m n m n m n m")],
        "doc_id long, text string",
    )
    via_sql = {
        r["doc_id"]: r["d"]
        for r in docs.selectExpr(
            "doc_id", f"{dup_ratio_e4_sql('text')} AS d"
        ).collect()
    }
    via_op = {
        r["doc_id"]: r["dup_ratio_e4"]
        for r in repetition_stats(docs).collect()
    }
    assert via_sql[3] == 0  # <2 tokens: no gram, scored clean
    for k, v in via_op.items():
        assert via_sql[k] == v, (k, via_sql[k], v)


def _py_span_dedup(docs, k):
    """Pure-Python C4 span-removal reference: global first occurrence
    by (doc_id, pos) wins; returns {doc_id: (n_spans, n_dup, n_removed,
    clean_text)}."""
    spans = []  # (doc_id, pos, span)
    for did, text in docs:
        w = text.split(" ")
        for pos in range(-(-len(w) // k)):
            spans.append((did, pos, " ".join(w[pos * k: pos * k + k])))
    cnt: dict = {}
    for _, _, s in spans:
        cnt[s] = cnt.get(s, 0) + 1
    keeper = {}
    for did, pos, s in sorted(spans):
        keeper.setdefault(s, (did, pos))
    out = {}
    for did, _ in docs:
        mine = sorted(
            (p, s) for d, p, s in spans if d == did
        )
        kept = [
            s for p, s in mine
            if cnt[s] == 1 or keeper[s] == (did, p)
        ]
        out[did] = (
            len(mine),
            sum(1 for _, s in mine if cnt[s] > 1),
            len(mine) - len(kept),
            " ".join(kept),
        )
    return out


def test_span_dedup_hand_computed(spark):
    import hashlib

    from kgp.operators.dedup import span_dedup_stats

    docs = [
        (1, "x y z a b c"),   # both spans duplicated elsewhere; first
        (2, "x y z q"),       # loses "x y z" to doc 1
        (3, "a b c"),         # loses "a b c" to doc 1 pos 1
        (4, "r s t r s t"),   # intra-doc repeat: keeps one copy
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_spans"], r["n_dup_spans"], r["n_removed"],
            r["clean_md5"],
        )
        for r in span_dedup_stats(df, k=3).collect()
    }
    want = {
        d: (n, du, rm, hashlib.md5(t.encode()).hexdigest())
        for d, (n, du, rm, t) in _py_span_dedup(docs, 3).items()
    }
    assert got == want
    assert got[1][3] == hashlib.md5(b"x y z a b c").hexdigest()
    assert got[3] == (1, 1, 1, hashlib.md5(b"").hexdigest())


def test_span_dedup_randomized_vs_python(spark):
    import hashlib
    import random

    from kgp.operators.dedup import span_dedup_stats

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 17))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_spans"], r["n_dup_spans"], r["n_removed"],
            r["clean_md5"],
        )
        for r in span_dedup_stats(df, k=4).collect()
    }
    want = {
        d: (n, du, rm, hashlib.md5(t.encode()).hexdigest())
        for d, (n, du, rm, t) in _py_span_dedup(docs, 4).items()
    }
    assert got == want


def test_span_dedup_string_ids_struct_fallback(spark):
    """String ids: keeper = lexicographic (id, pos) min, the same law
    as the Python reference."""
    import hashlib

    from kgp.operators.dedup import span_dedup_stats

    docs = [
        ("page:a", "x y z a b c"),
        ("page:b", "x y z q"),
        ("page:c", "a b c"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (
            r["n_spans"], r["n_dup_spans"], r["n_removed"],
            r["clean_md5"],
        )
        for r in span_dedup_stats(df, k=3).collect()
    }
    want = {
        d: (n, du, rm, hashlib.md5(t.encode()).hexdigest())
        for d, (n, du, rm, t) in _py_span_dedup(docs, 3).items()
    }
    assert got == want


def test_span_dedup_accepts_any_integral_ids(spark):
    """The keeper key is struct(id, pos) for every id type, so integral
    ids carry no range limit: huge, negative and zero ids resolve the
    first occurrence like the Python reference, with and without the
    hot-span guard."""
    import hashlib

    from kgp.operators.dedup import span_dedup_stats

    docs = [
        (1 << 50, "a b c x y z"),
        (-1, "x y z q r s"),
        (0, "a b c"),
        (1, "q r s a b c m n o"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        d: (n, du, rm, hashlib.md5(t.encode()).hexdigest())
        for d, (n, du, rm, t) in _py_span_dedup(docs, 3).items()
    }
    # -1 keeps "x y z" and "q r s"; 0 keeps "a b c"; 2^50 loses both
    assert want[1 << 50][2] == 2 and want[-1][2] == 0
    for cap in (None, 1):
        got = {
            r["doc_id"]: (
                r["n_spans"], r["n_dup_spans"], r["n_removed"],
                r["clean_md5"],
            )
            for r in span_dedup_stats(df, k=3, hot_span_cap=cap).collect()
        }
        assert got == want, cap


def test_rolling_fingerprint_matches_python_and_is_order_sensitive(spark):
    import hashlib

    from kgp.operators.dedup import (
        RH_BASE,
        RH_MOD,
        rolling_fingerprint_col,
    )

    def py_rh(text):
        acc = 0
        for t in text.split(" "):
            h = int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % RH_MOD
            acc = (acc * RH_BASE + h) % RH_MOD
        return acc

    docs = [(1, "a b c"), (2, "c b a"), (3, "a b c"), (4, "x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", rolling_fingerprint_col(F.col("text")).alias("fp")
        ).collect()
    }
    assert got == {d: py_rh(t) for d, t in docs}
    # order-sensitive (unlike the sorted-token fingerprint) …
    assert got[1] != got[2]
    # … but equal content in equal order collides, as a fingerprint must
    assert got[1] == got[3]


def test_rolling_fingerprint_is_shuffle_free(spark, tmp_path):
    import pandas as pd

    from kgp.operators.dedup import rolling_fingerprint_col

    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": [1], "text": ["a b"]}).to_parquet(p)
    df = spark.read.parquet(p).select(
        "doc_id", rolling_fingerprint_col(F.col("text")).alias("fp")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_tfidf_top_terms_known_corpus(spark):
    """Hand-checked scores on a 3-doc corpus: score = tf * (N - df),
    ties broken (df ASC, term ASC)."""
    from kgp.operators.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana banana common common"),
            (3, "cherry common"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rnk"]): (r["term"], r["score"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    # N=3; df: apple 1, banana 2, cherry 1, common 3
    # doc1: apple 2*(3-1)=4 > banana 1*(3-2)=1 > common 0
    assert got[(1, 1)] == ("apple", 4)
    assert got[(1, 2)] == ("banana", 1)
    # doc2: banana 2*1=2 > common 2*0=0
    assert got[(2, 1)] == ("banana", 2)
    assert got[(2, 2)] == ("common", 0)
    # doc3: cherry 1*2=2 > common 0
    assert got[(3, 1)] == ("cherry", 2)
