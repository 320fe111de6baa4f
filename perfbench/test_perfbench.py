"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases run ``perfbench/run.py`` at a tiny input size, so
they start Spark a few times (about five minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench.inputs import ensure_input  # noqa: E402
from perfbench.run import END_TO_END, Tally, per_layer_units  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

TINY = 160


def _bench(workload: str, seed: int, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--pages", str(TINY)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    digest = re.search(r"digest ([0-9a-f]{64})", proc.stderr)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), (
        digest.group(1) if digest else None
    )


@pytest.fixture(scope="module")
def runs():
    return {
        (w, seed, trace): _bench(w, seed, trace)
        for w in sorted(WORKLOADS)
        for seed, trace in ((5, 0), (5, 1))
    } | {("kg_build", 6, 0): _bench("kg_build", 6, 0)}


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(runs, workload, trace):
    rc, result, _ = runs[(workload, 5, trace)]
    assert rc == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = per_layer_units() if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert result["metrics"]["success_frac"]["value"] == 1.0
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_seed_changes_the_input_digest_but_no_metric_name(runs):
    _, a, digest_a = runs[("kg_build", 5, 0)]
    _, b, digest_b = runs[("kg_build", 6, 0)]
    assert digest_a and digest_b and digest_a != digest_b
    assert set(a["metrics"]) == set(b["metrics"])


def test_inputs_are_a_function_of_the_seed(tmp_path):
    one = ensure_input(str(tmp_path / "a"), "prep_dedup", 3, 400, 4, True)
    again = ensure_input(str(tmp_path / "b"), "prep_dedup", 3, 400, 4, True)
    other = ensure_input(str(tmp_path / "c"), "prep_dedup", 4, 400, 4, True)
    assert one["digest"] == again["digest"] != other["digest"]
    assert one["banner_pages"] > 0 and one["template_pages"] > 0
    assert len(os.listdir(one["pages"])) == 4


def _write(con, sql: str, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


def test_a_corrupted_output_drops_success_frac(tmp_path):
    """Outputs built by the DuckDB twins pass the kg_build check; one
    changed triple fails it, and the failed pass lowers success_frac."""
    from kgp import queries_pages as qp

    m = ensure_input(str(tmp_path / "in"), "kg_build", 7, 300, 2, False)
    pages = m["pages"]
    expected = checks.expected_kg(pages)
    con = checks._duck()
    out = str(tmp_path / "out")
    cte = checks._pages_cte(pages)
    _write(con, f"WITH {cte}, {qp._DOCS_CTE} SELECT url, extracted_text FROM docs",
           f"{out}/docs")
    _write(con, qp.pages_triples_sql(f"{pages}/*.parquet"), f"{out}/triples")
    _write(con, f"""WITH {cte}, {qp._DOCS_CTE}, {qp._CAPPED_CTE}, {qp._ENTS_CTE}
        SELECT entity_id, name, 'Entity' AS label, typ AS type FROM ents""",
           f"{out}/entities")
    check = WORKLOADS["kg_build"].check
    problems, clean = check(out, pages, expected, None)
    assert problems == []

    bad = str(tmp_path / "bad")
    shutil.copytree(out, bad)
    _write(con, f"""SELECT subj, pred,
        CASE WHEN row_number() OVER () = 1 THEN obj || 'x' ELSE obj END AS obj,
        edge_id FROM read_parquet('{out}/triples/*.parquet')""", f"{bad}/triples")
    con.close()
    tally = Tally()
    tally.record("good pass", check(out, pages, expected, clean)[0])
    tally.record("corrupted pass", check(bad, pages, expected, clean)[0])
    assert (tally.attempted, tally.failed) == (2, 1)
    assert (tally.attempted - tally.failed) / tally.attempted < 1


def test_a_wrong_prep_stage_fails_its_independent_check(tmp_path):
    """Stage outputs built by DuckDB to the prep rules pass
    prep_violations; a split that ignores the domain cap, and a dedup
    that keeps two template pages, each fail it."""
    from kgp.operators.sampling import hash_bucket_sql
    from kgp.queries_pages import _DOMAIN_SQL

    from perfbench.inputs import TEMPLATE

    cap = 2
    con = checks._duck()
    out = str(tmp_path / "out")
    con.execute(f"""CREATE TABLE f AS SELECT
        i AS doc_id, 'https://site' || (i % 3) || '.example/p/' || i AS url,
        (i * 37) % 1000 AS quality_e4,
        CASE WHEN i % 5 = 0 THEN ' {TEMPLATE} ' || i
             ELSE ' page text ' || i END AS extracted_text
        FROM range(30) t(i)""")
    _write(con, "SELECT * FROM f", f"{out}/filtered")
    deduped = "SELECT * FROM f WHERE doc_id % 5 <> 0 OR doc_id = 0"
    _write(con, deduped, f"{out}/deduped")
    _write(con, deduped, f"{out}/span_cleaned")

    def split(k: int) -> str:
        return f"""SELECT doc_id, url, CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split, bucket,
            quality_e4, extracted_text FROM (
              SELECT *, {hash_bucket_sql('doc_id')} AS bucket,
                row_number() OVER (PARTITION BY {_DOMAIN_SQL}
                                   ORDER BY quality_e4 DESC, doc_id) AS rnk
              FROM read_parquet('{out}/span_cleaned/*.parquet'))
            WHERE rnk <= {k}"""

    _write(con, split(cap), f"{out}/split")
    assert checks.prep_violations(out, cap) == []

    uncapped = str(tmp_path / "uncapped")
    shutil.copytree(out, uncapped)
    shutil.rmtree(f"{uncapped}/split")
    _write(con, split(cap + 1), f"{uncapped}/split")
    assert checks.prep_violations(uncapped, cap) == [
        "split differs from the DuckDB cap-and-split twin"
    ]

    two_templates = str(tmp_path / "two")
    shutil.copytree(out, two_templates)
    shutil.rmtree(f"{two_templates}/deduped")
    _write(con, "SELECT * FROM f WHERE doc_id % 5 <> 0 OR doc_id <= 5",
           f"{two_templates}/deduped")
    con.close()
    assert checks.prep_violations(two_templates, cap) == [
        "deduped does not keep exactly the smallest template doc"
    ]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, result, _ = _bench("kg_build", 1, 0, cwd=str(tmp_path))
    assert rc != 0 and result is None
