"""Per-stage / per-partition lineage ledger (north rule: "every stage
writes per-partition lineage rows and counters so the job resumes from
the last committed snapshot checkpoint").

Reference ancestor: the per-task status ledger TaskInfo at
/root/reference/src/api/task_tracker.py:12-29 (status ∈ pending/
running/completed/failed/cancelled + timestamps), lifted from
per-HTTP-task to per-stage-per-partition (SURVEY §1.3 `lineage` table).

The ledger is an append-only directory of parquet part files next to
the pipeline output (`<out_dir>/_lineage`). Counters come from the
committed output files themselves (one row per output file = one
write partition) — honest numbers read back from the sink, not an
in-flight estimate, and free of a second pass over the input. In an
Iceberg deployment this maps to the snapshot summary + a lineage
table; the writer seam is this module.

Driver-only metadata I/O. The ledger holds a few rows per stage, so
the three calls every stage makes — `stage_committed`,
`per_partition_counts`, `append_lineage` — launch no Spark job: a
Spark write or read of a handful of rows is pure fixed job overhead
(scheduling, a parquet commit of one file per task, schema inference)
that used to cost more per pipeline run than any one stage's work.
The ledger rows are built as one pyarrow table on the driver and all
file access goes through the Hadoop FileSystem (`kgp.fsutil`), so
hdfs:// and s3a:// outputs work exactly like local disk.

Publish step (the crash-safety half owned here; the ordering against
the stage output's `_SUCCESS` is in kgp.checkpoint):
1. each append is ONE parquet file, written under a hidden name
   `.part-<uuid>.tmp`;
2. it becomes visible only by a rename to `part-<uuid>.parquet`.
Every reader — `stage_committed` here and Spark's `read_lineage` —
skips names that start with `.` or `_`, so a kill mid-append leaves at
most an inert hidden temp file and a row is seen all-or-nothing.

Timestamps are written as UTC-adjusted INT64 micros, which Spark reads
back as `timestamp` (not `timestamp_ntz`), so `read_lineage` returns
exactly LINEAGE_SCHEMA. Ledgers written by Spark's own parquet writer
(INT96 timestamps, `.crc` sidecars, `_SUCCESS`) read the same way, so
an out_dir left by an older writer resumes, and mixed ledgers
aggregate. The aggregating reads (`read_lineage`, `run_stats`,
`run_success_rates`) stay Spark.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp import fsutil

LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_id int, rows_out bigint, "
    "status string, started_at timestamp, finished_at timestamp, "
    "error string"
)

# LINEAGE_SCHEMA as written by append_lineage
_ARROW_SCHEMA = pa.schema([
    ("run_id", pa.string()),
    ("stage", pa.string()),
    ("partition_id", pa.int32()),
    ("rows_out", pa.int64()),
    ("status", pa.string()),
    ("started_at", pa.timestamp("us", tz="UTC")),
    ("finished_at", pa.timestamp("us", tz="UTC")),
    ("error", pa.string()),
])

STATUS_COMMITTED = "committed"
STATUS_SKIPPED = "skipped"
STATUS_FAILED = "failed"


def lineage_dir(out_dir: str) -> str:
    return f"{out_dir}/_lineage"


def per_partition_counts(
    spark: SparkSession, stage_path: str
) -> list[tuple[int, int]]:
    """(partition_id, rows_out) from the committed parquet FOOTERS:
    one output file ≡ one write partition.

    Footer metadata is a few KB per file, so counting costs one
    metadata read per file instead of a second full pass over the
    stage's data (at a 100 TB stage the data re-scan would double the
    stage's read volume; in an Iceberg deployment the snapshot summary
    supplies these numbers outright). Falls back to a data scan only
    when footers aren't reachable from the driver (remote FS without a
    pyarrow filesystem)."""
    try:
        files = sorted(
            glob.glob(os.path.join(stage_path, "*.parquet"))
            + glob.glob(os.path.join(stage_path, "*", "*.parquet"))
        )
        if files:
            counts = [pq.ParquetFile(f).metadata.num_rows for f in files]
            # skip empty part files: the scan fallback (input_file_name
            # groupBy) never sees them, so both paths report the same
            # partition set
            rows = [
                (i, c)
                for i, c in enumerate(c for c in counts if c > 0)
            ]
            return rows or [(0, 0)]
    except (OSError, ValueError):
        # ValueError covers pyarrow.lib.ArrowInvalid (corrupt footer) —
        # fall through to the authoritative data scan
        pass
    df = spark.read.parquet(stage_path)
    by_file = (
        df.groupBy(F.input_file_name().alias("_f"))
        .count()
        .orderBy("_f")
        .collect()
    )
    return [(i, r["count"]) for i, r in enumerate(by_file)] or [(0, 0)]


def append_lineage(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    stage: str,
    status: str,
    started_at: float,
    counts: list[tuple[int, int]] | None = None,
    error: str | None = None,
) -> None:
    """Append one row per (partition_id, rows_out) in ``counts`` (one
    all-NULL-counter row without) as one part file: hidden temp name,
    then rename (see the module docstring)."""
    now = datetime.now(timezone.utc)
    t0 = datetime.fromtimestamp(started_at, tz=timezone.utc)
    rows = counts if counts is not None else [(None, None)]
    n = len(rows)
    table = pa.table(
        {
            "run_id": [run_id] * n,
            "stage": [stage] * n,
            "partition_id": [p for p, _ in rows],
            "rows_out": [c for _, c in rows],
            "status": [status] * n,
            "started_at": [t0] * n,
            "finished_at": [now] * n,
            "error": [error] * n,
        },
        schema=_ARROW_SCHEMA,
    )
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    ledger = lineage_dir(out_dir)
    name = f"part-{uuid.uuid4().hex}"
    tmp = f"{ledger}/.{name}.tmp"
    fsutil.write_bytes(spark, tmp, buf.getvalue().to_pybytes())
    fsutil.rename(spark, tmp, f"{ledger}/{name}.parquet")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(lineage_dir(out_dir))


def stage_committed(spark: SparkSession, out_dir: str, stage: str) -> bool:
    """A stage is resumable-from iff a committed lineage row exists AND
    the output's _SUCCESS marker survives (both written post-commit;
    either alone is insufficient — see kgp.checkpoint). Reads only the
    `stage` and `status` columns of the visible part files; a missing
    ledger is simply "not committed"."""
    if not fsutil.exists(spark, f"{out_dir}/{stage}/_SUCCESS"):
        return False
    ledger = lineage_dir(out_dir)
    for name in fsutil.list_names(spark, ledger):
        if name.startswith((".", "_")):
            continue  # temp files, checksums, _SUCCESS — as Spark does
        part = pq.read_table(
            pa.BufferReader(fsutil.read_bytes(spark, f"{ledger}/{name}")),
            columns=["stage", "status"],
        )
        if (stage, STATUS_COMMITTED) in zip(
            part["stage"].to_pylist(), part["status"].to_pylist()
        ):
            return True
    return False


def run_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """A5 — ledger statistics (task_tracker.py:140-156): counts by
    (stage, status). rows_out coalesces to 0 for all-NULL groups
    (failed/skipped partitions record no counts)."""
    return (
        read_lineage(spark, out_dir)
        .groupBy("stage", "status")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.coalesce(F.sum("rows_out"), F.lit(0)).alias("rows_out"),
        )
    )


def run_success_rates(spark: SparkSession, out_dir: str) -> DataFrame:
    """A5 — per-run success rate (task_tracker.py:150-156
    ``success_rate = completed / total * 100``), as the exact integer
    ×10⁴ fraction (floor) so both engines agree without float division:
    (run_id, n_total, n_committed, success_rate_e4)."""
    return (
        read_lineage(spark, out_dir)
        .groupBy("run_id")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("status") == STATUS_COMMITTED, 1).otherwise(0)
            ).alias("n_committed"),
        )
        .select(
            "run_id",
            "n_total",
            "n_committed",
            F.expr("n_committed * 10000 div n_total").alias(
                "success_rate_e4"
            ),
        )
    )


# ---------------------------------------------------------------------------
# deterministic ledger fixture (driver gate for A5 — both engines read
# the same local parquet, like kgp.synth.materialize_pages for pages)
# ---------------------------------------------------------------------------

LINEAGE_FIXTURE_VERSION = "v1"
_LINEAGE_FIXTURE_DIR = "/tmp/kgp_lineage"

# (run_id, stage, n_partitions, status, rows_base) — rows_out for
# partition p is rows_base + 37 * p; failed/skipped partitions record
# NULL rows_out (the writer never counted them). Two runs: a clean one
# and a crashed-then-resumed one, mirroring the resume ledger shapes
# jobs/build_kg.py produces.
_FIXTURE_SPEC = [
    ("run-a", "ingest", 4, STATUS_COMMITTED, 1000),
    ("run-a", "segment", 4, STATUS_COMMITTED, 2500),
    ("run-a", "triples", 4, STATUS_COMMITTED, 900),
    ("run-a", "entities", 1, STATUS_COMMITTED, 38),
    ("run-b", "ingest", 4, STATUS_COMMITTED, 1000),
    ("run-b", "segment", 2, STATUS_FAILED, None),
    ("run-b", "triples", 4, STATUS_SKIPPED, None),
]


def lineage_fixture_path(version: str = LINEAGE_FIXTURE_VERSION) -> str:
    return f"{_LINEAGE_FIXTURE_DIR}/{version}"


def ensure_lineage_fixture_local(
    version: str = LINEAGE_FIXTURE_VERSION,
) -> str:
    """Materialize the pinned lineage ledger once (pyarrow, no Spark):
    <path>/_lineage/*.parquet, published atomically. Returns the
    out_dir whose _lineage subdir read_lineage/run_stats consume."""
    out_dir = lineage_fixture_path(version)
    ledger = lineage_dir(out_dir)
    marker = os.path.join(ledger, "_SUCCESS")
    if not os.path.exists(marker):
        import pandas as pd

        from kgp.synth import publish_fixture_parquet

        t0 = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc).replace(
            tzinfo=None
        )
        rows = []
        for run_id, stage, n_parts, status, base in _FIXTURE_SPEC:
            for p in range(n_parts):
                rows.append(
                    {
                        "run_id": run_id,
                        "stage": stage,
                        "partition_id": p,
                        "rows_out": (
                            base + 37 * p if base is not None else None
                        ),
                        "status": status,
                        "started_at": t0,
                        "finished_at": t0,
                        "error": (
                            "executor lost: exit 137"
                            if status == STATUS_FAILED
                            else None
                        ),
                    }
                )
        pdf = pd.DataFrame(rows)
        pdf["partition_id"] = pdf["partition_id"].astype("int32")
        pdf["rows_out"] = pdf["rows_out"].astype("Int64")
        pdf["started_at"] = pdf["started_at"].astype("datetime64[us]")
        pdf["finished_at"] = pdf["finished_at"].astype("datetime64[us]")
        publish_fixture_parquet(
            ledger, pa.Table.from_pandas(pdf, preserve_index=False)
        )
    return out_dir


def now_s() -> float:
    return time.time()
