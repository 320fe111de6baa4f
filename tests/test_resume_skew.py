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
    split_hot_keys,
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

    # run 1: "crashes" after the capped stage commit
    r1 = build_kg_pipeline(spark, pages_path, out_resumed,
                           stop_after="capped")
    assert r1.executed == ["docs", "capped"]

    # run 2: resumes — committed stages skipped, remainder executed
    r2 = build_kg_pipeline(spark, pages_path, out_resumed)
    assert r2.skipped == ["docs", "capped"]
    assert r2.executed == ["triples", "entities"]

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
    assert stages == {"docs", "capped", "triples", "entities"}
    assert L.run_stats(spark, out).count() >= 4


def test_half_written_stage_is_overwritten(spark, pages_path, tmp_path):
    """No _SUCCESS / no committed lineage row ⇒ the stage reruns and
    clobbers a partial attempt (crash between task and job commit)."""
    out = str(tmp_path / "o")
    r1 = build_kg_pipeline(spark, pages_path, out, stop_after="docs")
    # simulate a crashed second stage: directory exists, no _SUCCESS
    mpath = f"{out}/capped"
    spark.read.parquet(f"{out}/docs").limit(3).write.parquet(mpath)
    import os
    os.remove(f"{mpath}/_SUCCESS")
    r2 = build_kg_pipeline(spark, pages_path, out)
    assert "capped" in r2.executed
    assert spark.read.parquet(mpath).count() > 3


# ---------------------------------------------------------------------------
# the lineage ledger: driver-only metadata I/O, hidden-temp-then-rename
# publish, and ledgers left by Spark's own parquet writer
# ---------------------------------------------------------------------------


def _jobs_in_group(spark, group, work):
    """(work(), ids of the Spark jobs it launched) — the job-group
    probe."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = work()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events arrive async
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return res, list(sc.statusTracker().getJobIdsForGroup(group))


def test_ledger_calls_launch_no_spark_job(spark, pages_path, tmp_path):
    """Footer counts, the append and the committed check — the ledger
    work of every stage — run no Spark job."""
    out = str(tmp_path / "o")
    build_kg_pipeline(spark, pages_path, out, stop_after="docs")

    # control: the probe does see a job launched inside its group
    _, control = _jobs_in_group(spark, "ledger-control",
                                lambda: spark.range(3).count())
    assert control

    def ledger_work():
        counts = L.per_partition_counts(spark, f"{out}/docs")
        L.append_lineage(spark, out, "r-nojob", "docs",
                         L.STATUS_COMMITTED, L.now_s(), counts=counts)
        return (counts, L.stage_committed(spark, out, "docs"),
                L.stage_committed(spark, out, "mentions"))

    (counts, docs_ok, mentions_ok), jobs = _jobs_in_group(
        spark, "ledger-work", ledger_work
    )
    assert jobs == []
    assert docs_ok and not mentions_ok
    assert sum(c for _, c in counts) == spark.read.parquet(
        f"{out}/docs"
    ).count()


def test_footer_counts_on_uri_out_dir_launch_no_spark_job(
    spark, pages_path, tmp_path, monkeypatch
):
    """A pipeline run into a file:// out_dir counts every stage from
    its parquet footers — no Spark job inside per_partition_counts —
    and the counts equal the data-scan fallback's."""
    out = f"file://{tmp_path}/o"
    real = L.per_partition_counts
    calls = []

    def probed(spark_, path):
        counts, jobs = _jobs_in_group(
            spark_, f"counts-{len(calls)}", lambda: real(spark_, path)
        )
        calls.append((path, counts, jobs))
        return counts

    monkeypatch.setattr(L, "per_partition_counts", probed)
    build_kg_pipeline(spark, pages_path, out)
    monkeypatch.undo()
    assert [p.rsplit("/", 1)[1] for p, _, _ in calls] == [
        "docs", "capped", "triples", "entities"
    ]
    for path, counts, jobs in calls:
        assert jobs == [], path
        assert counts == L._scan_counts(spark, path), path


@pytest.mark.parametrize("partitioned", [False, True])
def test_executed_stage_reader_needs_no_schema_job(
    spark, pages_path, tmp_path, partitioned
):
    """An executed stage launches the jobs of its write and no more:
    its reader takes the written DataFrame's schema instead of
    inferring it with a job. The schema equals the inferred one, also
    for a hive-partitioned stage whose partition column is not last in
    the written DataFrame (the training pipeline's `split`)."""
    from kgp.checkpoint import StageRunner
    from kgp.operators.sampling import hash_split
    from kgp.operators.segment import extract_docs

    pages = spark.read.parquet(pages_path)
    if partitioned:
        name, partition_by = "split", ["split"]

        def build():
            out = hash_split(extract_docs(pages))
            return out.select("split", *out.columns[:-1])
    else:
        name, partition_by = "docs", None

        def build():
            return extract_docs(pages)

    def write_only():
        w = build().write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(tmp_path / "plain"))

    _, write_jobs = _jobs_in_group(spark, f"write-{name}", write_only)
    runner = StageRunner(spark, str(tmp_path / "o"))
    reader, stage_jobs = _jobs_in_group(
        spark, f"stage-{name}", lambda: runner.stage(name, build, partition_by)
    )
    assert runner.executed == [name]
    assert len(stage_jobs) == len(write_jobs) >= 1
    inferred = spark.read.parquet(runner.stage_path(name))
    assert reader.schema == inferred.schema
    assert sorted(map(tuple, reader.collect())) == sorted(
        map(tuple, inferred.collect())
    )


@pytest.mark.parametrize("partitioned", [False, True])
def test_skipped_stage_reader_needs_no_schema_job(
    spark, pages_path, tmp_path, partitioned
):
    """A skipped unpartitioned stage takes its reader's schema from one
    part file's footer, read on the driver: skipping it launches no
    Spark job. A hive-partitioned stage still infers its schema. Both
    readers equal `spark.read.parquet`'s, schema and rows."""
    from kgp.checkpoint import StageRunner
    from kgp.operators.sampling import hash_split
    from kgp.operators.segment import extract_docs

    pages = spark.read.parquet(pages_path)
    if partitioned:
        name, partition_by = "split", ["split"]

        def build():
            return hash_split(extract_docs(pages))
    else:
        name, partition_by = "docs", None

        def build():
            return extract_docs(pages)

    out = str(tmp_path / "o")
    StageRunner(spark, out).stage(name, build, partition_by)
    runner = StageRunner(spark, out)
    reader, jobs = _jobs_in_group(
        spark, f"skip-{name}", lambda: runner.stage(name, build, partition_by)
    )
    assert runner.skipped == [name]
    if not partitioned:
        assert jobs == []
    inferred = spark.read.parquet(runner.stage_path(name))
    assert reader.schema == inferred.schema
    assert sorted(map(tuple, reader.collect())) == sorted(
        map(tuple, inferred.collect())
    )


def test_skipped_stage_without_spark_footer_schema_infers(
    spark, tmp_path
):
    """A committed stage whose part files carry no Spark schema key
    (written by another parquet writer) is read with inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgp.checkpoint import StageRunner

    out = str(tmp_path / "o")
    os.makedirs(f"{out}/docs")
    pq.write_table(
        pa.table({"doc_id": ["a", "b"], "n": [1, 2]}),
        f"{out}/docs/part-00000.parquet",
    )
    open(f"{out}/docs/_SUCCESS", "w").close()
    L.append_lineage(spark, out, "r0", "docs", L.STATUS_COMMITTED,
                     L.now_s(), counts=[(0, 2)])
    assert L.footer_schema(spark, f"{out}/docs") is None
    runner = StageRunner(spark, out)
    reader = runner.stage("docs", lambda: None)
    assert runner.skipped == ["docs"]
    assert sorted(map(tuple, reader.collect())) == [("a", 1), ("b", 2)]


def test_lineage_fixture_reads_back_as_lineage_schema(spark):
    """The pinned oracle ledger has the same column types as a real
    ledger (UTC `timestamp`, not `timestamp_ntz`)."""
    lin = L.read_lineage(spark, L.ensure_lineage_fixture_local())
    expected = spark.createDataFrame([], L.LINEAGE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in expected
    ]


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
    aggregating reads see the mixed ledger. The out_dir has the older
    five-stage layout — `docs` and `mentions` committed, `capped`
    missing — so the resume rebuilds `capped` from `docs`, ignores
    `mentions/`, and ends with a clean run's outputs."""
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    from kgp.operators.ner import gazetteer_mentions_col
    from kgp.plans.pipeline import explode_mentions

    out = str(tmp_path / "o")
    build_kg_pipeline(spark, pages_path, out, stop_after="docs")
    docs = spark.read.parquet(f"{out}/docs")
    explode_mentions(
        docs, gazetteer_mentions_col(F.col("extracted_text"))
    ).write.parquet(f"{out}/mentions")
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
    assert r.skipped == ["docs"]
    assert r.executed == ["capped", "triples", "entities"]
    stats = {
        (x["stage"], x["status"]): x["n_partitions"]
        for x in L.run_stats(spark, out).collect()
    }
    assert stats[("docs", L.STATUS_COMMITTED)] == 1
    assert stats[("docs", L.STATUS_SKIPPED)] == 1
    assert stats[("mentions", L.STATUS_COMMITTED)] == 1
    assert ("entities", L.STATUS_COMMITTED) in stats
    clean = str(tmp_path / "clean")
    build_kg_pipeline(spark, pages_path, clean)
    for table in ["triples", "entities"]:
        a = sorted(map(tuple, spark.read.parquet(f"{out}/{table}").collect()))
        b = sorted(
            map(tuple, spark.read.parquet(f"{clean}/{table}").collect())
        )
        assert a == b, table


def test_hidden_temp_from_crashed_append_is_ignored(
    spark, pages_path, tmp_path, monkeypatch
):
    """A kill between writing the ledger's hidden temp file and its
    rename leaves the stage uncommitted, even with _SUCCESS present."""
    from kgp import fsutil

    out = str(tmp_path / "o")
    build_kg_pipeline(spark, pages_path, out, stop_after="docs")
    spark.read.parquet(f"{out}/docs").write.parquet(f"{out}/capped")

    def killed(*a, **kw):
        raise RuntimeError("killed before the rename")

    monkeypatch.setattr(fsutil, "rename", killed)
    with pytest.raises(RuntimeError):
        L.append_lineage(spark, out, "r-crash", "capped",
                         L.STATUS_COMMITTED, L.now_s(), counts=[(0, 3)])
    monkeypatch.undo()
    assert any(
        n.startswith(".part-") and n.endswith(".tmp")
        for n in os.listdir(L.lineage_dir(out))
    )
    assert os.path.exists(f"{out}/capped/_SUCCESS")
    assert not L.stage_committed(spark, out, "capped")
    assert L.read_lineage(spark, out).filter(
        F.col("stage") == "capped"
    ).count() == 0
    r = build_kg_pipeline(spark, pages_path, out)
    assert r.skipped == ["docs"]
    assert "capped" in r.executed


def test_salted_count_distinct_equals_plain(spark, pages_path):
    from kgp.operators.segment import extract_docs
    from kgp.operators.triples import normalize_entity_id
    from kgp.plans.pipeline import capped_mentions

    pages = spark.read.parquet(pages_path)
    capped = capped_mentions(extract_docs(pages)).select(
        normalize_entity_id(F.col("surface")).alias("e"), "url"
    )
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


def test_split_hot_keys_partitions_rows(spark):
    """One key with 120 rows over a cap of 10, the rest at or under
    it: cold holds exactly the bounded keys' rows, hot counts the
    over-cap key exactly, and cold is a broadcast left-anti join that
    does not shuffle the input."""
    cap = 10
    rows = [("hot", i) for i in range(120)]
    rows += [(f"k{j}", i) for j in range(30) for i in range(j % cap + 1)]
    df = spark.createDataFrame(rows, "key string, v int")

    hot, cold = split_hot_keys(df, ["key"], cap, F.max("v").alias("mx"))
    assert [tuple(r) for r in hot.collect()] == [("hot", 120, 119)]
    n_cold = cold.count()
    n_hot = hot.agg(F.sum("_n")).first()[0]
    assert n_cold + n_hot == df.count()
    assert cold.groupBy("key").count().agg(F.max("count")).first()[0] <= cap
    assert cold.filter(F.col("key") == "hot").count() == 0

    plan = cold._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert not [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ], plan


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


def test_minhash_pair_volume_on_template_pages(spark):
    """Σ C(B,2) over the (band_idx, band_key) buckets — one aggregation
    over the bands table, no join — is the exact pre-distinct candidate
    volume. On the prep_dedup benchmark input (perfbench.inputs: 1 %
    template pages, near-duplicates of each other) banding puts most
    template pages into ONE bucket per band: the hot bucket that makes
    that workload a skew workload. max_bucket below its size cuts
    pairs."""
    from kgp.operators.linking import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
        shingles_col,
    )
    from perfbench.inputs import pages_frame, template_hit

    pdf = pages_frame(3000, 7, shared=True)
    template = [u for u in pdf["url"] if template_hit(u)]
    docs = spark.createDataFrame(
        pdf[["url", "text"]].rename(columns={"url": "doc_id"})
    )
    sig = minhash_signature(
        docs.select("doc_id", shingles_col(F.col("text")).alias("s")),
        "doc_id", "s", family="fast",
    )
    bands = lsh_bands(sig, "doc_id", render="dec").persist()
    try:
        all_pairs = (
            bands.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.expr("n * (n - 1) div 2")))
            .first()[0]
        )
        a = bands.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
        b = bands.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key")
        joined = (
            a.join(b, ["band_idx", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .count()
        )
        assert all_pairs == joined
        distinct = lsh_candidate_pairs(bands, "doc_id").count()
        assert all_pairs >= distinct

        hot = (
            bands.filter(F.col("doc_id").isin(template))
            .groupBy("band_idx", "band_key").count()
            .groupBy("band_idx").agg(F.max("count").alias("hot"))
            .collect()
        )
        n_bands = bands.select("band_idx").distinct().count()
        assert len(hot) == n_bands
        assert all(2 * r["hot"] >= len(template) for r in hot)

        cap = min(r["hot"] for r in hot) - 1
        capped = {
            (r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(
                bands, "doc_id", max_bucket=cap
            ).collect()
        }
        assert len(capped) < distinct
        # reference: the bucket filter as a count, an inner join back
        # and the self-join, with no hot/cold split
        small = (
            bands.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= cap)
            .select("band_idx", "band_key")
        )
        kept = bands.join(small, ["band_idx", "band_key"])
        ka = kept.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
        kb = kept.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key")
        want = {
            (r["id_a"], r["id_b"])
            for r in ka.join(kb, ["band_idx", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .collect()
        }
        assert capped == want
    finally:
        bands.unpersist()


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
