"""N→4N scaling of the KG build on this box: local[N] vs local[4N].

N = max(1, cpus // 4) over the CPUs this process may run on
(``os.sched_getaffinity``, the rule of ``kgp.substrate``): local[1] vs
local[4] on a 4-vCPU box. The input is the ``kg_build`` benchmark input
(``perfbench.inputs.ensure_input``: seeded pages, ``N_FILES`` files,
four task waves at 4 cores), written under the system temp dir. Each
leg is a fresh JVM, ``spark-submit --master local[k] --py-files
kgp.zip leg.py`` from a scratch directory, so the package ships through
--py-files as it would to a cluster. A leg runs an untimed warm-up (a
clean pass over the input's warm files), then three timed clean
``kgp.checkpoint.build_kg_pipeline`` passes into a fresh out dir, the
call the benchmark's ``kg_build`` times, and keeps the fastest.

The two legs run back to back in each of ROUNDS rounds and the
efficiency, (T_N / T_4N) / 4, is computed within a round: the host's
effective CPU swings with its neighbours over minutes, so pairing legs
across rounds mixes fast and slow windows. The reported round is the
one with the fewest combined core-seconds. ``substrate_control`` gives
the host's pure-CPU ceiling at the same widths; raw efficiency divided
by it is the substrate-normalized reading.

Usage: python BENCH/scaling.py [n_pages]   (default 32000)
Rewrites BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 1
ROUNDS = 3

LEG = r"""
import json, shutil, sys, time
cores, pages, warm, out, conf = (int(sys.argv[1]), sys.argv[2], sys.argv[3],
                                 sys.argv[4], json.loads(sys.argv[5]))
from kgp.checkpoint import build_kg_pipeline
from kgp.session import get_spark

spark = get_spark("kgp-scaling", cores=cores, extra_conf=conf)
spark.sparkContext.setLogLevel("ERROR")

def clean_pass(src):
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    build_kg_pipeline(spark, src, out)
    return time.perf_counter() - t0

clean_pass(warm)  # untimed: codegen and JIT
sec = min(clean_pass(pages) for _ in range(3))
rows = {t: spark.read.parquet(f"{out}/{t}").count()
        for t in ("triples", "entities")}
print(json.dumps({"cores": cores, "sec": sec, **rows}))
spark.stop()
"""


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``. A Python worker daemon moves to
    its own process group but stays in the session of its leg."""
    found = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getsid(int(d)) == sid:
                    found.append(int(d))
            except OSError:
                pass
    return found


def run_leg(cmd: list[str], cwd: str) -> dict:
    """Run one leg in its own session and wait until every process it
    started (JVM, Python workers) is gone; kill what outlives 30 s."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    stdout, _ = proc.communicate()
    deadline = time.monotonic() + 30
    while (left := session_members(proc.pid)):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.2)
    if proc.returncode:
        raise SystemExit(f"leg {cmd[2]} exited {proc.returncode}")
    return json.loads(
        [ln for ln in stdout.splitlines() if ln.startswith("{")][-1]
    )


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 32000
    sys.path.insert(0, REPO)
    from kgp.substrate import substrate_control
    from perfbench.inputs import ensure_input
    from perfbench.run import SCAN_SPLIT, SHUFFLE_PARTITIONS
    from perfbench.workloads import N_FILES

    manifest = ensure_input(
        os.path.join(tempfile.gettempdir(), "kgp_scaling_inputs"),
        "kg_build", SEED, n_pages, N_FILES, False,
    )
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        raise SystemExit("spark-submit is not on PATH")
    cpus = len(os.sched_getaffinity(0))
    n = max(1, cpus // 4)
    n4 = 4 * n

    work = tempfile.mkdtemp(prefix="kgp_scaling_")
    try:
        zip_path = shutil.make_archive(
            os.path.join(work, "kgp"), "zip", root_dir=REPO, base_dir="kgp"
        )
        leg_path = os.path.join(work, "leg.py")
        with open(leg_path, "w") as f:
            f.write(LEG)
        conf = json.dumps({
            "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
            "spark.sql.files.maxPartitionBytes": SCAN_SPLIT,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })

        def leg(cores: int) -> dict:
            return run_leg([
                spark_submit, "--master", f"local[{cores}]",
                "--driver-memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
                "--py-files", zip_path, leg_path, str(cores),
                manifest["pages"], manifest["warm"],
                os.path.join(work, "out"), conf,
            ], work)

        rounds = [{k: leg(k) for k in (n, n4)} for _ in range(ROUNDS)]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = {(r[k]["triples"], r[k]["entities"]) for r in rounds for k in r}
    if len(rows) != 1:
        raise SystemExit(f"legs disagree on (triples, entities): {rows}")
    control = substrate_control(repeats=3)

    def eff(r: dict) -> float:
        return r[n]["sec"] / r[n4]["sec"] / (n4 / n)

    best = min(rounds, key=lambda r: r[n]["sec"] * n + r[n4]["sec"] * n4)
    t_n, t_4n = best[n]["sec"], best[n4]["sec"]
    raw, ceiling = eff(best), control["ceiling"]
    normalized = raw / ceiling if ceiling else None
    (triples, entities), = rows
    summary = {
        "metric": "kg_build_scaling_efficiency",
        "value": round(raw, 3),
        "unit": "fraction",
        "cpus": cpus,
        "widths": [n, n4],
        "n_pages": n_pages,
        "n_files": N_FILES,
        "sec_n": round(t_n, 3),
        "sec_4n": round(t_4n, 3),
        "docs_per_sec_n": round(n_pages / t_n, 1),
        "docs_per_sec_4n": round(n_pages / t_4n, 1),
        "normalized_efficiency": None if normalized is None
        else round(normalized, 3),
        "per_round": [round(eff(r), 3) for r in rounds],
        "triples": triples,
        "entities": entities,
        "substrate_control": control,
    }
    print(json.dumps(summary))
    write_baseline(summary)


def write_baseline(s: dict) -> None:
    n, n4 = s["widths"]
    docs_n, docs_4n = s["docs_per_sec_n"], s["docs_per_sec_4n"]
    norm = s["normalized_efficiency"]
    c = s["substrate_control"]
    md = f"""# BENCH/BASELINE.md — N→4N scaling of the KG build

Contract: throughput scaling efficiency ≥ 0.8 from N to 4N executors,
run through `spark-submit --py-files`. Measured on a {s['cpus']}-vCPU box:
`local[{n}]` (N) vs `local[{n4}]` (4N), each leg a fresh JVM
(`spark-submit --master local[k] --py-files kgp.zip`).

Job: one clean `kgp.checkpoint.build_kg_pipeline` pass (docs → capped →
triples → entities, every stage written and committed to the lineage
ledger) over the `kg_build` benchmark input (perfbench.inputs):
{s['n_pages']:,} pages, seed {SEED}, {s['n_files']} files; every leg wrote
{s['triples']:,} triples and {s['entities']:,} entities. Per leg: an untimed warm-up pass over the warm files, then
the fastest of three timed passes. Legs run back to back in each of
{ROUNDS} rounds; efficiency = (T_N / T_4N) / 4 within a round, and the
round with the fewest combined core-seconds is reported. Per-round
efficiencies: {s['per_round']}.

| N → 4N | T_N | T_4N | docs/s at N | docs/s at 4N | speedup | efficiency |
|---|---|---|---|---|---|---|
| {n} → {n4} | {s['sec_n']:.2f} s | {s['sec_4n']:.2f} s | {docs_n:,.0f} | {docs_4n:,.0f} | {s['sec_n'] / s['sec_4n']:.2f}× | **{s['value']:.3f}** |

Substrate control (`kgp.substrate.substrate_control(repeats=3)`, pure
CPU, no Spark) at widths {c['widths']}: ceiling **{c['ceiling']}**
(repeats {c['repeats']}). Substrate-normalized efficiency (raw /
ceiling): **{norm if norm is not None else 'n/a'}**.

**Scaling efficiency {s['value']:.3f}: threshold ≥ 0.8
{"MET" if s['value'] >= 0.8 else "NOT met"}.**

Reproduce: `python BENCH/scaling.py {s['n_pages']}`.
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
