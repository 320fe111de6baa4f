"""Tracing for the per-layer run, recorded from the benchmark's side.

``install_kgp_shims`` wraps public ``kgp`` functions with span shims. A
span records name, start, end, parent and run id, and tags the Spark
jobs it launches with a job group named after it, so task metrics from
the event log can be attributed to layers. Spans stay in memory until
the run ends. A layer's self time is its span time minus the time its
child spans cover.

Also here: the process-tree sampler behind ``proc.peak_rss_mb`` and
the ``/proc`` CPU counters, and the event-log reader.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") / 1024
_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                pname = self.spans[parent]["name"]
                sc.setJobGroup(pname, pname)

    def wrap(self, owner, attr: str, name: str,
             count_as: str | None = None) -> None:
        """Replace ``owner.attr`` with a span shim. ``count_as`` also
        counts the returned DataFrame's rows under that name: an extra
        action, run in a span of its own so that no layer's self time
        includes it."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def shim(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
            if count_as and self.active:
                with self.span(f"{count_as}.count"):
                    self.count(count_as, out.count())
            return out

        setattr(owner, attr, shim)
        self._undo.append((owner, attr, fn))

    def count(self, name: str, value: float) -> None:
        if self.active:
            self.counters[name].append(value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        covered = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - covered[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


def install_kgp_shims(tracer: Tracer) -> None:
    """The layer boundaries the per-layer metrics are read from."""
    from kgp import checkpoint, lineage, streaming
    from kgp.operators import dedup

    stage = checkpoint.StageRunner.stage

    @functools.wraps(stage)
    def stage_shim(runner, name, *a, **kw):
        n_skipped = len(runner.skipped)
        with tracer.span(f"stage.{name}"):
            out = stage(runner, name, *a, **kw)
        if tracer.active and len(runner.skipped) > n_skipped:
            # a skipped stage's span is renamed so it is reported apart
            last = [s for s in tracer.spans if s["name"] == f"stage.{name}"][-1]
            last["name"] = "stage.skipped"
        return out

    checkpoint.StageRunner.stage = stage_shim
    tracer._undo.append((checkpoint.StageRunner, "stage", stage))
    tracer.wrap(lineage, "per_partition_counts", "lineage.counts")
    tracer.wrap(lineage, "append_lineage", "lineage.append")
    tracer.wrap(lineage, "stage_committed", "lineage.committed_check")
    # near_dup_pairs_minhash is imported inside build_training_pipeline
    # at call time, so patching the module attribute reaches it; it
    # calls lsh_candidate_pairs through dedup's own module namespace
    tracer.wrap(dedup, "near_dup_pairs_minhash", "dedup.near_dup",
                count_as="dedup.verified_pairs")
    tracer.wrap(dedup, "lsh_candidate_pairs", "linking.lsh",
                count_as="linking.candidate_pairs")
    tracer.wrap(streaming, "start_kg_stream", "streaming.start")
    tracer.wrap(streaming, "compact_triples_sink", "streaming.compact")


# ---------------------------------------------------------------------------
# /proc: process tree, resident memory, CPU time
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def process_tree(root: int) -> dict[int, list[str]]:
    """{pid: stat fields} for ``root`` and all its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
    children = defaultdict(list)
    for pid, st in stats.items():
        children[int(st[2])].append(pid)  # st[2] = ppid
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children[pid])
    return tree


def cpu_seconds(tree: dict[int, list[str]], pid: int, reaped: bool) -> float:
    st = tree.get(pid)
    if st is None:
        return 0.0
    # utime, stime (+ cutime, cstime of reaped children)
    ticks = int(st[12]) + int(st[13])
    if reaped:
        ticks += int(st[14]) + int(st[15])
    return ticks / _TICK


def jvm_and_python_cpu(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU s, CPU s of the Python workers under the JVM)."""
    tree = process_tree(jvm_pid)
    jvm = cpu_seconds(tree, jvm_pid, reaped=False)
    py = sum(
        cpu_seconds(tree, pid, reaped=True)
        for pid, st in tree.items()
        if pid != jvm_pid and st[0].startswith("python")
    )
    return jvm, py


def _resident_kb(pid: int, comm: str) -> float:
    """Resident KB of one process. Python workers are forked from one
    daemon and share most pages with it, so their proportional share
    (Pss) is used; summing their Rss would count the shared pages once
    per worker. Reading Pss costs a page-table walk, too slow for the
    JVM's multi-GB heap, whose pages are not shared anyway."""
    try:
        if comm.startswith("python"):
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return float(line.split()[1])
            return 0.0
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0.0


def _counted(tree: dict[int, list[str]], pid: int) -> bool:
    """Python processes, and JVMs not forked by a JVM. The JVM forks
    helpers (``chmod`` for local file permissions); until their exec
    such a child is a copy-on-write image of the whole JVM, and its Rss
    would count the heap twice."""
    comm = tree[pid][0]
    if comm.startswith("python"):
        return True
    parent = tree.get(int(tree[pid][2]))
    return comm == "java" and (parent is None or parent[0] != "java")


class RssSampler:
    """Peak resident memory of the processes Spark runs in: the JVM and
    its Python workers (this process's descendants), sampled on a
    background thread. This process is left out: it holds the
    benchmark's DuckDB check results, not kgp's work."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0.0
        self.peak_workers_kb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        tree = process_tree(me)
        kb = workers_kb = 0.0
        for pid, st in tree.items():
            if pid != me and _counted(tree, pid):
                rss = _resident_kb(pid, st[0])
                kb += rss
                if st[0].startswith("python"):
                    workers_kb += rss
        self.peak_kb = max(self.peak_kb, kb)
        self.peak_workers_kb = max(self.peak_workers_kb, workers_kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ---------------------------------------------------------------------------
# Spark task metrics from the event log, per job group
# ---------------------------------------------------------------------------

def task_metrics_by_group(event_dir: str) -> dict[str, dict[str, float]]:
    """Sum of task metrics per job group over every application's
    finished event log under ``event_dir`` (stage ids restart with
    each SparkContext, so each log is mapped on its own)."""
    tasks = defaultdict(list)  # (group, app, stage) -> [run ms]
    agg = defaultdict(lambda: defaultdict(float))
    for app in glob.glob(os.path.join(event_dir, "*")):
        files = (
            sorted(glob.glob(os.path.join(app, "events_*")))
            if os.path.isdir(app)
            else [app]
        )
        stage_group: dict[int, str] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"
                        )
                        if group:
                            for sid in ev.get("Stage IDs", []):
                                stage_group.setdefault(sid, group)
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics")
                        if group is None or not m:
                            continue
                        _add_task(agg[group], m)
                        tasks[(group, app, ev["Stage ID"])].append(
                            m.get("Executor Run Time", 0)
                        )
    for group, a in agg.items():
        # skew of the group's heaviest Spark stage: max / median task time
        heaviest = max(
            (v for (g, _, _), v in tasks.items() if g == group),
            key=sum,
            default=[],
        )
        med = statistics.median(heaviest) if heaviest else 0
        a["task_skew"] = max(heaviest) / med if med else 1.0
    return {g: dict(a) for g, a in agg.items()}


def _add_task(a: dict, m: dict) -> None:
    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
    a["gc_s"] += m.get("JVM GC Time", 0) / 1000
    sw = m.get("Shuffle Write Metrics") or {}
    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    sr = m.get("Shuffle Read Metrics") or {}
    a["shuffle_read_mb"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / 2**20
    a["spill_mb"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / 2**20
    a["tasks"] += 1
