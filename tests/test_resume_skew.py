"""Resumability (lineage + checkpoint skip) and skew handling (X6)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgp import lineage as L
from kgp.checkpoint import build_kg_pipeline
from kgp.skew import (
    repartition_by_url_hash,
    salted_count_distinct,
    salted_sum,
)
from kgp.synth import synth_pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    synth_pages(spark, 300).write.parquet(p)
    return p


def test_kill_and_resume_identical_output(spark, pages_path, tmp_path):
    out_resumed = str(tmp_path / "resumed")
    out_fresh = str(tmp_path / "fresh")

    # run 1: "crashes" after the mentions stage commit
    r1 = build_kg_pipeline(spark, pages_path, out_resumed,
                           stop_after="mentions")
    assert r1.executed == ["docs", "mentions"]

    # run 2: resumes — committed stages skipped, remainder executed
    r2 = build_kg_pipeline(spark, pages_path, out_resumed)
    assert r2.skipped == ["docs", "mentions"]
    assert r2.executed == ["capped", "triples", "entities"]

    # uncrashed reference run
    build_kg_pipeline(spark, pages_path, out_fresh)

    for table in ["triples", "entities"]:
        a = sorted(map(tuple,
                   spark.read.parquet(f"{out_resumed}/{table}").collect()))
        b = sorted(map(tuple,
                   spark.read.parquet(f"{out_fresh}/{table}").collect()))
        assert a == b, table


def test_lineage_counters_match_output(spark, pages_path, tmp_path):
    out = str(tmp_path / "o")
    build_kg_pipeline(spark, pages_path, out)
    lin = L.read_lineage(spark, out)
    committed = lin.filter(F.col("status") == L.STATUS_COMMITTED)
    triple_rows = (
        committed.filter(F.col("stage") == "triples")
        .agg(F.sum("rows_out"))
        .collect()[0][0]
    )
    assert triple_rows == spark.read.parquet(f"{out}/triples").count()
    # every stage committed exactly once; per-partition rows present
    stages = {r["stage"] for r in committed.select("stage").collect()}
    assert stages == {"docs", "mentions", "capped", "triples", "entities"}
    assert L.run_stats(spark, out).count() >= 5


def test_half_written_stage_is_overwritten(spark, pages_path, tmp_path):
    """No _SUCCESS / no committed lineage row ⇒ the stage reruns and
    clobbers a partial attempt (crash between task and job commit)."""
    out = str(tmp_path / "o")
    r1 = build_kg_pipeline(spark, pages_path, out, stop_after="docs")
    # simulate a crashed second stage: directory exists, no _SUCCESS
    mpath = f"{out}/mentions"
    spark.read.parquet(f"{out}/docs").limit(3).write.parquet(mpath)
    import os
    os.remove(f"{mpath}/_SUCCESS")
    r2 = build_kg_pipeline(spark, pages_path, out)
    assert "mentions" in r2.executed
    assert spark.read.parquet(mpath).count() > 3


# ---------------------------------------------------------------------------
# the lineage ledger: driver-only metadata I/O, hidden-temp-then-rename
# publish, and ledgers left by Spark's own parquet writer
# ---------------------------------------------------------------------------


def test_ledger_calls_launch_no_spark_job(spark, pages_path, tmp_path):
    """Footer counts, the append and the committed check — the ledger
    work of every stage — run no Spark job."""
    out = str(tmp_path / "o")
    build_kg_pipeline(spark, pages_path, out, stop_after="docs")
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def jobs_in_group(group, work):
        sc.setJobGroup(group, group)
        try:
            res = work()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty(30_000)  # job-start events arrive async
        return res, list(sc.statusTracker().getJobIdsForGroup(group))

    # control: the probe does see a job launched inside its group
    _, control = jobs_in_group("ledger-control",
                               lambda: spark.range(3).count())
    assert control

    def ledger_work():
        counts = L.per_partition_counts(spark, f"{out}/docs")
        L.append_lineage(spark, out, "r-nojob", "docs",
                         L.STATUS_COMMITTED, L.now_s(), counts=counts)
        return (counts, L.stage_committed(spark, out, "docs"),
                L.stage_committed(spark, out, "mentions"))

    (counts, docs_ok, mentions_ok), jobs = jobs_in_group(
        "ledger-work", ledger_work
    )
    assert jobs == []
    assert docs_ok and not mentions_ok
    assert sum(c for _, c in counts) == spark.read.parquet(
        f"{out}/docs"
    ).count()


def test_stage_committed_on_fresh_out_dir(spark, tmp_path):
    out = str(tmp_path / "never_run")
    assert not L.stage_committed(spark, out, "docs")
    assert not os.path.exists(L.lineage_dir(out))


def test_ledger_reads_back_as_lineage_schema(spark, tmp_path):
    from datetime import datetime, timezone

    out = str(tmp_path / "o")
    t0 = datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc)
    L.append_lineage(spark, out, "r1", "docs", L.STATUS_COMMITTED,
                     t0.timestamp(), counts=[(0, 3), (1, 4)])
    L.append_lineage(spark, out, "r1", "mentions", L.STATUS_FAILED,
                     t0.timestamp(), error="boom")
    lin = L.read_lineage(spark, out)
    expected = spark.createDataFrame([], L.LINEAGE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in expected
    ]
    rows = {(r["stage"], r["partition_id"]): r for r in lin.collect()}
    assert rows[("docs", 1)]["rows_out"] == 4
    assert rows[("mentions", None)]["error"] == "boom"
    assert rows[("mentions", None)]["rows_out"] is None
    # the instant survives the round trip (PySpark hands timestamps
    # back as naive local time)
    assert rows[("docs", 0)]["started_at"] == datetime.fromtimestamp(
        t0.timestamp()
    )


def test_spark_written_ledger_still_resumes(spark, pages_path, tmp_path):
    """An out_dir whose committed rows were written by Spark's parquet
    writer (INT96 timestamps, .crc sidecars, _SUCCESS) resumes, and the
    aggregating reads see the mixed ledger."""
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    out = str(tmp_path / "o")
    build_kg_pipeline(spark, pages_path, out, stop_after="mentions")
    ledger = L.lineage_dir(out)
    shutil.rmtree(ledger)
    t = datetime.now(timezone.utc)
    spark.createDataFrame(
        [("old-run", s, 0, 1, L.STATUS_COMMITTED, t, t, None)
         for s in ("docs", "mentions")],
        L.LINEAGE_SCHEMA,
    ).write.parquet(ledger)
    old = [n for n in os.listdir(ledger) if n.endswith(".parquet")]
    assert os.path.exists(f"{ledger}/_SUCCESS") and old
    assert pq.ParquetFile(f"{ledger}/{old[0]}").schema.column(
        5
    ).physical_type == "INT96"

    r = build_kg_pipeline(spark, pages_path, out)
    assert r.skipped == ["docs", "mentions"]
    assert r.executed == ["capped", "triples", "entities"]
    stats = {
        (x["stage"], x["status"]): x["n_partitions"]
        for x in L.run_stats(spark, out).collect()
    }
    assert stats[("docs", L.STATUS_COMMITTED)] == 1
    assert stats[("docs", L.STATUS_SKIPPED)] == 1
    assert stats[("mentions", L.STATUS_SKIPPED)] == 1
    assert ("entities", L.STATUS_COMMITTED) in stats


def test_hidden_temp_from_crashed_append_is_ignored(
    spark, pages_path, tmp_path, monkeypatch
):
    """A kill between writing the ledger's hidden temp file and its
    rename leaves the stage uncommitted, even with _SUCCESS present."""
    from kgp import fsutil

    out = str(tmp_path / "o")
    build_kg_pipeline(spark, pages_path, out, stop_after="docs")
    spark.read.parquet(f"{out}/docs").write.parquet(f"{out}/mentions")

    def killed(*a, **kw):
        raise RuntimeError("killed before the rename")

    monkeypatch.setattr(fsutil, "rename", killed)
    with pytest.raises(RuntimeError):
        L.append_lineage(spark, out, "r-crash", "mentions",
                         L.STATUS_COMMITTED, L.now_s(), counts=[(0, 3)])
    monkeypatch.undo()
    assert any(
        n.startswith(".part-") and n.endswith(".tmp")
        for n in os.listdir(L.lineage_dir(out))
    )
    assert os.path.exists(f"{out}/mentions/_SUCCESS")
    assert not L.stage_committed(spark, out, "mentions")
    assert L.read_lineage(spark, out).filter(
        F.col("stage") == "mentions"
    ).count() == 0
    r = build_kg_pipeline(spark, pages_path, out)
    assert r.skipped == ["docs"]
    assert "mentions" in r.executed


def test_salted_count_distinct_equals_plain(spark, pages_path):
    from kgp.operators.ner import gazetteer_df, mentions_relational
    from kgp.operators.segment import extract_docs
    from kgp.operators.triples import cap_mentions, normalize_entity_id

    pages = spark.read.parquet(pages_path)
    capped = cap_mentions(
        mentions_relational(extract_docs(pages), gazetteer_df(spark))
    ).select(normalize_entity_id(F.col("surface")).alias("e"), "url")
    plain = {
        r["e"]: r["n"]
        for r in capped.groupBy("e")
        .agg(F.countDistinct("url").alias("n"))
        .collect()
    }
    salted = {
        r["e"]: r["n_distinct"]
        for r in salted_count_distinct(capped, "e", "url").collect()
    }
    assert plain == salted and plain


def test_salted_sum_equals_plain(spark):
    df = spark.createDataFrame(
        [("k1", i % 7, f"c{i}") for i in range(1000)]
        + [("k2", 1, "x")],
        "key string, v int, carrier string",
    )
    plain = {r["key"]: r["t"] for r in
             df.groupBy("key").agg(F.sum("v").alias("t")).collect()}
    salted = {r["key"]: r["total"] for r in
              salted_sum(df, "key", "v", "carrier").collect()}
    assert plain == salted


def test_url_hash_repartition_balances_mega_domains(spark, pages_path):
    """Zipf-headed domains must spread ~uniformly over partitions."""
    pages = spark.read.parquet(pages_path)
    P = 8
    sizes = (
        repartition_by_url_hash(pages, P)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == P
    assert max(counts) / (sum(counts) / len(counts)) < 1.6


# ---------------------------------------------------------------------------
# operator-level skew evidence (round-3 verdict #4): the hot LSH band
# and the head-entity hub, with measured bounds (numbers → PLANS.md)
# ---------------------------------------------------------------------------


def test_minhash_hot_band_bucket_cap(spark):
    """One boilerplate string in 20 % of docs puts B=120 docs into the
    SAME (band_idx, band_key) bucket in every band — B·(B−1)/2 = 7 140
    candidate pairs from one string, quadratic at corpus scale and
    beyond what AQE's task-split can fix (it rebalances rows, not the
    pair count). max_bucket drops the hot buckets before the
    self-join; genuinely-near-dup pairs in unskewed buckets survive."""
    from kgp.operators.dedup import near_dup_pairs_minhash
    from kgp.operators.linking import (
        lsh_bands,
        minhash_signature,
        shingles_col,
    )

    boiler = " ".join(f"terms of service clause {i % 7}" for i in range(20))
    rows = []
    for i in range(600):
        if i % 5 == 0:
            rows.append((f"d{i:04d}", boiler))
        else:
            rows.append(
                (f"d{i:04d}",
                 " ".join(f"tok{i}x{j} body{j * i % 97}" for j in range(20)))
            )
    # planted near-dup pair in the unskewed tail (one token swapped)
    base = " ".join(f"planted near dup token{j}" for j in range(20))
    rows.append(("p0001", base))
    rows.append(("p0002", base.replace("token7", "tokenX", 1)))
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    sig = minhash_signature(
        docs.select("doc_id", shingles_col(F.col("text")).alias("s")),
        "doc_id", "s", family="fast",
    )
    sizes = (
        lsh_bands(sig, "doc_id", render="dec")
        .groupBy("band_idx", "band_key").count()
    )
    max_bucket_size = sizes.agg(F.max("count")).first()[0]
    assert max_bucket_size == 120  # the boilerplate bucket, every band

    capped = near_dup_pairs_minhash(
        docs, family="fast", threshold=0.5, max_bucket=100
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert ("p0001", "p0002") in got  # unskewed pairs survive the cap
    boiler_ids = {f"d{i:04d}" for i in range(0, 600, 5)}
    assert not any(
        a in boiler_ids and b in boiler_ids for a, b in got
    )  # every hot-bucket pair is gone — the join never saw the bucket


def test_triangle_degree_orientation_parity_and_hub_bound(spark):
    """orient='degree' returns IDENTICAL counts to the oracle-gated
    id-orientation, while bounding the wedge work at a hub: on a
    200-spoke star the id order pivots C(200,2)=19 900 wedges at the
    hub; degree orientation points every hub edge INTO the hub, so the
    hub pivots zero and total wedges collapse to the spokes' O(1)
    out-degrees."""
    from kgp.operators.graph import triangle_counts

    hub = "a_hub"  # lexicographically smallest → worst case for id order
    edges = [(hub, f"s{i:03d}") for i in range(200)]
    edges += [(f"s{i:03d}", f"s{i + 1:03d}") for i in range(50)]
    e = spark.createDataFrame(edges, "src string, dst string")

    by_id = {
        (r["id"]): (r["degree"], r["triangles"])
        for r in triangle_counts(e, orient="id").collect()
    }
    by_deg = {
        (r["id"]): (r["degree"], r["triangles"])
        for r in triangle_counts(e, orient="degree").collect()
    }
    assert by_id == by_deg
    assert by_id[hub] == (200, 50)  # 50 hub triangles exist

    # measured wedge bound: sum over pivots of C(outdeg, 2)
    def pivot_wedges(oriented):
        out = oriented.groupBy("u").count()
        return (
            out.select(
                F.sum(F.col("count") * (F.col("count") - 1) / 2)
            ).first()[0]
        )

    canon = e.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).dropDuplicates(["src", "dst"])
    id_wedges = pivot_wedges(canon.select(F.col("src").alias("u")))
    deg = (
        canon.select(F.col("src").alias("id"))
        .unionAll(canon.select(F.col("dst").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    )
    from kgp.operators.graph import _tri_degree_oriented  # noqa: F401

    ds = deg.select(F.col("id").alias("src"), F.col("degree").alias("dsrc"))
    dd = deg.select(F.col("id").alias("dst"), F.col("degree").alias("ddst"))
    ed = canon.join(ds, "src").join(dd, "dst")
    fwd = F.col("dsrc") <= F.col("ddst")
    oriented = ed.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u")
    )
    deg_wedges = pivot_wedges(oriented)
    assert id_wedges >= 19900  # hub-quadratic under id order
    assert deg_wedges <= 300  # hub pivots nothing under degree order
