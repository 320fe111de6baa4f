"""max_bucket LSH hot-bucket guard at scale (round-4 verdict #5).

The unit test (tests/test_resume_skew.py) proves the guard's
SEMANTICS at 602 docs; this probe measures what it is FOR: a
boilerplate-contaminated corpus at 2M docs, where one shared string
makes LSH buckets quadratic — AQE's skew split rebalances the tasks
but cannot shrink the candidate-pair OUTPUT, and the verify join then
carries two shingle arrays per candidate pair.

Corpus: the scaling harness's 2M synthetic pages with a fixed
20-token boilerplate sentence appended to a deterministic 5 % slice
(pmod(xxhash64(url), 20) == 0) — the "legal banner on every page of
one site" shape.

Measured (local[32], one JVM, noop-free counts — the candidate table
is (id_a, id_b) strings, so count() IS the honest drain here):
  * candidate-pair count + wall, uncapped vs max_bucket=100, at 2M
  * full near_dup_pairs_minhash wall, capped, at 2M
  * full operator wall capped vs UNCAPPED at 200k docs (the uncapped
    full verify at 2M is deliberately not run: its join output is
    candidate_pairs × ~2 shingle arrays — the probe prints the
    projected shuffle bytes from the measured count instead)

Second regime — TEMPLATE pages (the worst case): the same 5 % slice
REPLACED by a fixed 68-token banner plus one doc-unique token
(near-identical docs: ~66 shared shingles and 1 unique one, pairwise
shingle Jaccard ≈ 0.97 — exact dedup would NOT remove them). Nearly
all of each planted doc's shingles are shared, so most of its 6 band
keys collapse onto one global value per band: hot buckets of
~0.97 × 100k members. The uncapped candidate join in this regime is
~6 × C(97k, 2) ≈ 2.8e10 pre-distinct pairs — several hundred GB
through the distinct's shuffle, more than this box's disk and tmpfs
combined — so it is never executed; the probe records the EXACT
analytic volume instead (sum over buckets of C(B,2), one aggregation
over the bands table, no join) as `template_analytic_2m.all_pairs`,
which is the figure to cite over the estimate above, next to the
capped full operator completing at clean-corpus speed. That a single
planted template makes the uncapped job un-runnable on a whole box is
precisely the failure mode max_bucket exists to prevent.

Usage: SPARK_GRAFT_DRIVER_MEM=48g python BENCH/lsh_hot_probe.py [n_pages]
Prints one JSON line; numbers go into PLANS.md §Round 5.
"""

from __future__ import annotations

import json
import os
import sys
import time

BOILER = (
    "all rights reserved terms of service privacy policy cookie "
    "notice do not sell my personal information site map contact "
    "careers press"
)  # 20 tokens

BOILER_TEMPLATE = (
    "This website uses cookies to ensure you get the best experience "
    "on our website by continuing to browse the site you are agreeing "
    "to our use of cookies as described in the cookie policy and the "
    "terms of service please review the privacy policy effective as "
    "of january first two thousand twenty four all rights reserved "
    "unauthorized reproduction is strictly prohibited contact the "
    "site administrator for licensing questions"
)  # ~60 tokens — the whole-page template regime


def hot_corpus(spark, pages_path: str, n: int | None = None):
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_path)
    if n is not None:
        pages = pages.filter(
            F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") < n
        )
    hot = F.pmod(F.xxhash64("url"), F.lit(20)) == 0
    return pages.select(
        F.col("url").alias("doc_id"),
        F.when(
            hot, F.concat_ws(" ", F.col("text"), F.lit(BOILER))
        ).otherwise(F.col("text")).alias("text"),
    )


def template_corpus(spark, pages_path: str):
    """5 % of docs REPLACED by the template banner + one unique token
    (near-identical, Jaccard ≈ 0.97 pairwise — survives exact dedup)."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_path)
    hot = F.pmod(F.xxhash64("url"), F.lit(20)) == 0
    return pages.select(
        F.col("url").alias("doc_id"),
        F.when(
            hot,
            F.concat(F.lit(BOILER_TEMPLATE), F.lit(" "),
                     F.regexp_extract("url", r"/p/(\d+)$", 1)),
        ).otherwise(F.col("text")).alias("text"),
    )


def analytic_volumes(docs, max_bucket: int) -> dict:
    """Exact pre-distinct candidate row count = sum over (band_idx,
    band_key) buckets of C(B,2) — one aggregation over the bands
    table; the quadratic join itself is never executed."""
    from pyspark.sql import functions as F

    from kgp.operators.linking import (
        lsh_bands,
        minhash_signature,
        shingles_col,
    )

    bands = lsh_bands(
        minhash_signature(
            docs.select(
                "doc_id", shingles_col(F.col("text")).alias("shingles")
            ),
            "doc_id", "shingles", family="fast",
        ),
        "doc_id", render="dec",
    )
    sizes = bands.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    row = sizes.agg(
        F.sum(F.expr("n * (n - 1) div 2")).alias("all_pairs"),
        F.sum(
            F.when(F.col("n") <= max_bucket, F.expr("n * (n - 1) div 2"))
            .otherwise(F.lit(0))
        ).alias("capped_pairs"),
        F.max("n").alias("max_bucket_size"),
        F.sum(
            F.when(F.col("n") > max_bucket, F.lit(1)).otherwise(F.lit(0))
        ).alias("buckets_dropped"),
    ).collect()[0]
    return {
        "all_pairs": row["all_pairs"],
        "capped_pairs": row["capped_pairs"],
        "max_bucket_size": row["max_bucket_size"],
        "buckets_dropped": row["buckets_dropped"],
    }


def candidates(docs, max_bucket):
    from pyspark.sql import functions as F

    from kgp.operators.linking import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
        shingles_col,
    )

    sets_df = docs.select(
        "doc_id", shingles_col(F.col("text")).alias("shingles")
    )
    sig = minhash_signature(sets_df, "doc_id", "shingles", family="fast")
    return lsh_candidate_pairs(
        lsh_bands(sig, "doc_id", render="dec"),
        "doc_id",
        max_bucket=max_bucket,
    )


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    pages_path = f"/tmp/kgp_scaling_pages_{n_pages}"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        raise SystemExit(
            f"{pages_path} missing — run BENCH/scaling_ops.py (or its "
            "ensure_inputs) first so both harnesses share one input"
        )

    from kgp.operators.dedup import near_dup_pairs_minhash
    from kgp.session import get_spark

    spark = get_spark(
        "kgp-lsh-hot-probe", cores=32,
        extra_conf={
            "spark.sql.shuffle.partitions": "128",
            "spark.ui.enabled": "false",
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "524288",
            "spark.local.dir": "/dev/shm/kgp_lsh_hot_probe",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = {"metric": "lsh_hot_bucket_guard", "n_pages": n_pages,
           "hot_fraction": 0.05, "boiler_tokens": 20}

    def timed(label, fn):
        t0 = time.perf_counter()
        v = fn()
        out[label] = {"sec": round(time.perf_counter() - t0, 2),
                      "rows": v}
        print(f"  {label}: {out[label]}", file=sys.stderr)

    docs = hot_corpus(spark, pages_path)
    # candidate stage only, both settings, full 2M
    timed("cand_uncapped_2m", lambda: candidates(docs, None).count())
    timed("cand_capped_2m", lambda: candidates(docs, 100).count())
    # full operator (verify included), capped, full 2M
    timed(
        "full_capped_2m",
        lambda: near_dup_pairs_minhash(
            docs, family="fast", max_bucket=100
        ).count(),
    )
    # projected uncapped verify cost at 2M from the measured counts:
    # each candidate row joins two ~(n_tokens-2)-element shingle arrays
    avg_shingle_bytes = 108 * 24  # ~90+20 tokens → ~108 shingles × ~24 B
    out["uncapped_2m_verify_join_bytes_est"] = int(
        out["cand_uncapped_2m"]["rows"] * 2 * avg_shingle_bytes
    )
    # empirical capped-vs-uncapped FULL wall at 200k (tractable)
    small = hot_corpus(spark, pages_path, n=200_000)
    timed(
        "full_uncapped_200k",
        lambda: near_dup_pairs_minhash(docs=small, family="fast").count(),
    )
    timed(
        "full_capped_200k",
        lambda: near_dup_pairs_minhash(
            small, family="fast", max_bucket=100
        ).count(),
    )
    # TEMPLATE regime at full 2M: exact analytic volume (uncapped
    # join would be ~2.8e10 pre-distinct pairs — never executed; see
    # module docstring) next to the capped operator completing
    tmpl = template_corpus(spark, pages_path)
    t0 = time.perf_counter()
    out["template_analytic_2m"] = analytic_volumes(tmpl, 100)
    out["template_analytic_2m"]["sec"] = round(
        time.perf_counter() - t0, 2
    )
    print(f"  template_analytic_2m: {out['template_analytic_2m']}",
          file=sys.stderr)
    timed(
        "template_full_capped_2m",
        lambda: near_dup_pairs_minhash(
            tmpl, family="fast", max_bucket=100
        ).count(),
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
