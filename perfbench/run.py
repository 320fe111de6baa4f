"""kgp benchmark: one closed-loop workload, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run it from the root of a kgp checkout. It builds the seeded input
under ``.perfbench_work/`` (outside every timing), starts Spark at
``local[nproc]`` through ``kgp.session.get_spark``, sets up three
times, runs one cold clean pass over a quarter of the input, then runs
timed passes for ``--seconds`` (at least ``MIN_TIMED_PASSES``). Every
pass's output is checked; a failed check counts against ``success_frac`` and the run
goes on. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
per-layer run: span shims around ``kgp`` calls, Spark task metrics from
the event log, and the tracing overhead (timed passes alternate traced
and untraced). See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_CYCLES = 3
MIN_TIMED_PASSES = 2
# traced run: passes go untraced, traced, untraced, so a linear warm-up
# drift falls equally on both sides of the overhead figure
TRACE_ORDER = (False, True, False)
SHUFFLE_PARTITIONS = 8
SCAN_SPLIT = "4m"

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "resume_s": "s",
    "success_frac": "ratio",
}

STAGES = (
    "docs", "mentions", "capped", "triples", "entities",
    "filtered", "deduped", "span_cleaned", "split",
)
SPARK_METRICS = {
    "executor_run_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "tasks": "count",
    "task_skew": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"checkpoint.stage_s.{s}": "s" for s in STAGES}
    units.update({f"rows_out.{s}": "count" for s in STAGES})
    units.update({
        "checkpoint.skipped_stage_s": "s",
        "checkpoint.stages_executed": "count",
        "checkpoint.stages_skipped": "count",
        "lineage.counts_s": "s",
        "lineage.append_s": "s",
        "lineage.committed_check_s": "s",
        "lineage.ledger_rows": "count",
        "ner.arrow_extract_s": "s",
        "triples.outputs_s": "s",
        "proc.python_worker_cpu_s": "s",
        "proc.jvm_cpu_s": "s",
        "proc.peak_rss_mb": "MB",
        "proc.peak_python_workers_mb": "MB",
        "linking.lsh_s": "s",
        "linking.candidate_pairs": "count",
        "dedup.near_dup_s": "s",
        "dedup.verified_pairs": "count",
        "dedup.verified_per_candidate": "ratio",
        "streaming.batches": "count",
        "streaming.batch_p50_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.batch_overhead_s": "s",
        "streaming.sink_files": "count",
        "streaming.compact_s": "s",
        "streaming.compact_removed": "count",
        "session.start_s": "s",  # first set-up, with JVM launch
        "setup.warmup_s": "s",
        "trace.docs_per_s_traced": "docs/s",
        "trace.docs_per_s_untraced": "docs/s",
        "trace.overhead_frac": "ratio",
    })
    for s in STAGES:
        units.update({f"spark.{m}.{s}": u for m, u in SPARK_METRICS.items()})
    return units


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers unpickle kgp functions, so they import it too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def other_spark_jvms() -> list[int]:
    me, found = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == me:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(int(d))
    return found


def wait_for_quiet_host(limit_s: float = 60.0) -> bool:
    """False if another Spark JVM is still running after ``limit_s``:
    two Spark jobs on one 4-core host make every timing meaningless."""
    deadline = time.monotonic() + limit_s
    while other_spark_jvms():
        if time.monotonic() > deadline:
            return False
        time.sleep(1.0)
    return True


def start_session(trace_dir: str | None):
    from kgp.session import get_spark

    # the driver heap stays kgp's own (kgp.session.ENGINE_CONF)
    conf = {
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.files.maxPartitionBytes": SCAN_SPLIT,
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(WORK, "tmp"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + trace_dir
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        "perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spawn_workers(spark) -> None:
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x + 1).collect()


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            for pid in process_tree(os.getpid()):
                if pid != os.getpid():
                    try:
                        os.kill(pid, 9)
                    except OSError:
                        pass
            time.sleep(1.0)
            break
        time.sleep(0.2)


class Tally:
    """Attempted and failed passes; a failure never aborts the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[perfbench] {what}: {'; '.join(problems)}", file=sys.stderr)
        return not problems

    def guard(self, what: str, fn, *a, **kw):
        """Run ``fn``; an exception counts as one failed attempt."""
        try:
            return fn(*a, **kw)
        except Exception:
            traceback.print_exc()
            self.record(what, ["raised"])
            return None


def crash_resume(spark, w, pages: str, out: str):
    """One pass: stop after ``w.crash_after`` in a fresh directory, then
    the same call again. Returns (pass s, resume s, crashed runner,
    resumed runner, output dir)."""
    from perfbench.workloads import fresh

    fresh(out)
    t0 = time.perf_counter()
    crashed = w.run(spark, pages, out, w.crash_after)
    t1 = time.perf_counter()
    resumed = w.run(spark, pages, out)
    t2 = time.perf_counter()
    return t2 - t0, t2 - t1, crashed, resumed, out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def run(args) -> tuple[dict, dict]:
    from perfbench.inputs import ensure_input
    from perfbench.workloads import N_FILES, WORKLOADS, fresh

    w = WORKLOADS[args.workload]
    n_pages = args.pages or w.n_pages
    t0 = time.perf_counter()
    manifest = ensure_input(
        os.path.join(WORK, "inputs"), w.name, args.seed, n_pages, N_FILES,
        w.shared,
    )
    pages, warm = manifest["pages"], manifest["warm"]
    expected, expected_warm = w.expected(pages), w.expected(warm)
    input_s = time.perf_counter() - t0
    check_s = 0.0
    passes_dir = os.path.join(WORK, "passes")
    trace_dir = fresh(os.path.join(WORK, "eventlog")) if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)

    from perfbench.trace import RssSampler, Tracer, install_kgp_shims

    tally = Tally()
    spark = None
    metrics, layer, n_traced = {}, {}, 0
    with RssSampler() as rss:
        try:
            # -- set-up, three times: session start through
            # kgp.session.get_spark and Python-worker spawn; the first
            # also launches the JVM. No workload pass runs before the
            # last restart, so no restart penalty reaches the timings.
            setup = []
            for _ in range(SETUP_CYCLES):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = start_session(trace_dir)
                spawn_workers(spark)
                setup.append(time.perf_counter() - t0)
            # -- warm-up: one clean pass over the warm files, the cold one
            out = fresh(os.path.join(passes_dir, "clean"))
            t_warm = time.perf_counter()
            cleaned = tally.guard("clean pass", w.run, spark, warm, out)
            warmup_s = time.perf_counter() - t_warm
            if cleaned is not None:
                t0 = time.perf_counter()
                problems, _ = w.check(out, warm, expected_warm, None)
                check_s += time.perf_counter() - t0
                tally.record("clean pass", problems)

            tracer = Tracer(spark, run_id=f"{w.name}-s{args.seed}")
            if args.trace:
                install_kgp_shims(tracer)
            from perfbench.trace import jvm_and_python_cpu
            from pyspark import SparkContext

            jvm_pid = SparkContext._gateway.proc.pid
            cpu0 = jvm_and_python_cpu(jvm_pid)

            # -- timed passes: crash at a stage boundary, then resume
            pass_s, resume_s, traced_s, untraced_s = [], [], [], []
            executed, skipped = [], []
            first = None
            min_passes = len(TRACE_ORDER) if args.trace else MIN_TIMED_PASSES
            t_loop = time.perf_counter()
            i = 0
            while (
                i < min_passes
                or time.perf_counter() - t_loop < args.seconds
            ):
                traced = bool(args.trace) and TRACE_ORDER[i % len(TRACE_ORDER)]
                n_traced += traced
                tracer.active = traced
                got = tally.guard("timed pass", crash_resume, spark, w, pages,
                                  os.path.join(passes_dir, f"pass-{i % 2}"))
                tracer.active = False
                i += 1
                if got is None:
                    continue
                total, resumed_s, crashed, resumed, out = got
                t0 = time.perf_counter()
                # every pass's output must equal the first checked one's
                problems, digest = w.check(out, pages, expected, first)
                check_s += time.perf_counter() - t0
                if not tally.record(f"timed pass {i}", problems):
                    continue
                if first is None:
                    first = digest
                pass_s.append(total)
                resume_s.append(resumed_s)
                (traced_s if traced else untraced_s).append(total)
                executed.append(len(crashed.executed) + len(resumed.executed))
                skipped.append(len(resumed.skipped))
            n_traced = max(1, n_traced)
            print(
                f"[perfbench] input+expected {input_s:.2f} "
                f"checks {check_s:.2f} "
                f"setup {[round(x, 2) for x in setup]} "
                f"warm-up {warmup_s:.2f} "
                f"passes {[round(x, 2) for x in pass_s]} "
                f"resume {[round(x, 2) for x in resume_s]}",
                file=sys.stderr,
            )
            cpu1 = jvm_and_python_cpu(jvm_pid)

            metrics.update({
                "docs_per_s": median(n_pages / s for s in pass_s),
                "setup_s": median(setup),
                "resume_s": median(resume_s),
            })
            if args.trace:
                layer = per_layer(
                    spark, tracer, w, pages, out, expected, tally,
                    n_pages, n_traced, traced_s, untraced_s,
                    executed, skipped,
                    (cpu1[0] - cpu0[0]) / i,
                    (cpu1[1] - cpu0[1]) / i,
                )
                layer["session.start_s"] = setup[0]
                layer["setup.warmup_s"] = warmup_s
                tracer.uninstall()
                tracer.dump(os.path.join(WORK, "spans.json"))
        finally:
            shutdown(spark)
    layer["proc.peak_rss_mb"] = rss.peak_kb / 1024
    layer["proc.peak_python_workers_mb"] = rss.peak_workers_kb / 1024
    metrics["success_frac"] = (
        (tally.attempted - tally.failed) / tally.attempted
        if tally.attempted
        else 0.0
    )
    if args.trace:
        from perfbench.trace import task_metrics_by_group

        by_group = task_metrics_by_group(trace_dir)
        for s in STAGES:
            g = by_group.get(f"stage.{s}", {})
            for m in SPARK_METRICS:
                v = g.get(m, 0.0)
                layer[f"spark.{m}.{s}"] = v if m == "task_skew" else v / n_traced
        units = per_layer_units()
        report = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                  for k, u in units.items()}
    else:
        report = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                  for k, u in END_TO_END.items()}
    return {
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": report,
    }, manifest


def per_layer(spark, tracer, w, pages, out, expected, tally, n_pages,
              n_traced, traced_s, untraced_s, executed, skipped, jvm_cpu,
              py_cpu):
    """Per-layer metrics of a traced run, per traced timed pass."""
    from pyspark.sql import functions as F

    from kgp.lineage import read_lineage
    from perfbench import workloads

    layer = {}
    # lanes that only the traced run drives (see workloads.py)
    if w.name == "kg_build":
        tracer.active = True
        udf = tally.guard("udf lane", workloads.udf_lane, spark, tracer, pages)
        if udf is not None:
            tally.record("udf lane", [] if udf == expected["triples"]
                         else ["udf triples differ from kg_build's"])
        stream = tally.guard(
            "stream lane", workloads.stream_lane, spark, tracer, pages,
            os.path.join(WORK, "stream"),
        )
        tracer.active = False
        if stream is not None:
            tally.record("stream lane", [] if stream["digest"] == stream["expected"]
                         else ["compacted stream triples differ from kg_build's"])
            layer.update({
                "streaming.batches": stream["batches"],
                "streaming.batch_p50_s": median(stream["trigger_s"]),
                "streaming.add_batch_s": stream["add_batch_s"],
                "streaming.batch_overhead_s": stream["overhead_s"],
                "streaming.sink_files": stream["sink_files"],
                "streaming.compact_removed": stream["compact_removed"],
            })
    self_s = tracer.self_times()
    totals: dict[str, list[float]] = {}
    for sp in tracer.spans:
        totals.setdefault(sp["name"], []).append(sp["end"] - sp["start"])
    for s in STAGES:
        layer[f"checkpoint.stage_s.{s}"] = self_s.get(f"stage.{s}", 0.0) / n_traced
    layer["checkpoint.skipped_stage_s"] = median(totals.get("stage.skipped", []))
    layer["checkpoint.stages_executed"] = median(executed)
    layer["checkpoint.stages_skipped"] = median(skipped)
    for key, span in (
        ("lineage.counts_s", "lineage.counts"),
        ("lineage.append_s", "lineage.append"),
        ("lineage.committed_check_s", "lineage.committed_check"),
        ("linking.lsh_s", "linking.lsh"),
        ("dedup.near_dup_s", "dedup.near_dup"),
    ):
        layer[key] = self_s.get(span, 0.0) / n_traced
    for key, span in (
        ("ner.arrow_extract_s", "ner.arrow_extract"),
        ("triples.outputs_s", "triples.outputs"),
        ("streaming.compact_s", "streaming.compact"),
    ):
        layer[key] = sum(totals.get(span, []))
    counts = tracer.counters
    cand = median(counts.get("linking.candidate_pairs", []))
    verified = median(counts.get("dedup.verified_pairs", []))
    layer["linking.candidate_pairs"] = cand
    layer["dedup.verified_pairs"] = verified
    layer["dedup.verified_per_candidate"] = verified / cand if cand else 0.0
    ledger = read_lineage(spark, out)
    layer["lineage.ledger_rows"] = ledger.count()
    for r in (
        ledger.filter(F.col("status") == "committed")
        .groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
    ):
        layer[f"rows_out.{r['stage']}"] = r["n"] or 0
    layer["proc.jvm_cpu_s"] = jvm_cpu
    layer["proc.python_worker_cpu_s"] = py_cpu
    traced = median(n_pages / s for s in traced_s)
    untraced = median(n_pages / s for s in untraced_s)
    layer["trace.docs_per_s_traced"] = traced
    layer["trace.docs_per_s_untraced"] = untraced
    layer["trace.overhead_frac"] = 1 - traced / untraced if untraced else 0.0
    return layer


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=0,
                    help="input size override (tests only)")
    args = ap.parse_args(argv)
    if not wait_for_quiet_host():
        print("[perfbench] another Spark JVM is running; refusing to "
              "measure", file=sys.stderr)
        return 3
    result, manifest = run(args)
    print(f"[perfbench] input {manifest['key']} digest {manifest['digest']}",
          file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "kgp", "__init__.py")):
        print(f"[perfbench] no kgp package under {ROOT}; run from a kgp "
              "checkout", file=sys.stderr)
        sys.exit(2)
    prepare_env()
    sys.exit(main())
