"""Checkpointed, resumable extraction job with per-partition lineage.

North-rule requirement: the 10^12-doc job must restart from checkpoint,
reprocessing only incomplete partitions, with lineage + metrics per
partition.  Reference analogs: manual range sharding
(``scripts/process_pubmed.py:1392-1393``), progress counters (1396-1404)
and the OOM skip-list (``scripts/process_fintabnet.py:1086-1087``) —
all hand-operated there; automated here.

Design:

* documents are bucketed by a deterministic hash of ``doc_id``
  (``pmod(xxhash64(doc_id), n_buckets)``) — the explicit partitioning
  axis.  Skewed multi-table docs spread across buckets by construction
  since bucketing ignores content; *within* a bucket, AQE handles
  residual skew.
* buckets are processed in groups; each group is ONE Spark job writing
  ``spans/grp=<...>/bucket=<b>/``.  Its per-bucket metrics come from
  that same job: an ``Observation`` on the written rows counts, per
  bucket, the spans and the rows with ``offset == 0``.  The latter is
  the doc count because ``assemble_spans`` numbers each doc's spans
  from 0, so every written doc has exactly one offset-0 row.  The
  observe node sits in the write's result stage, whose task
  accumulator updates Spark applies once per partition, so a retried
  task does not count twice.
* after the group directory is written, the driver appends one status
  row per bucket to the status table (parquet-backed here; it stands in
  for the ``extraction_status`` table of FIXTURES.md §6) as one Arrow
  file, written under a hidden ``.part-*`` name and renamed into view.
  Spark and pyarrow readers skip ``.``/``_`` files, so a crash
  mid-append leaves nothing a reader sees; on a lakehouse this is the
  table format's append of the same Arrow table.
* on restart, completed buckets for the same corpus are skipped — only
  incomplete buckets re-run.  Output writes are idempotent (each group
  overwrites its own directory).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import extract

# one row per bucket; the column types Spark infers for these rows, so
# status tables written by either (older runs used Spark) read as one
STATUS_SCHEMA = pa.schema([
    ("bucket", pa.int64()),
    ("state", pa.string()),
    ("n_docs", pa.int64()),
    ("n_spans", pa.int64()),
    ("run_id", pa.string()),
    ("wall_sec", pa.float64()),
    ("updated_at", pa.string()),
])


def _group_name(group: list[int]) -> str:
    return "-".join(str(b) for b in group)


def _reconcile(spans_dir: str, done: set[int]) -> None:
    """Delete group directories containing any not-yet-committed bucket
    (a crash between data write and status write leaves such orphans;
    their buckets are still in *todo* and would otherwise be written
    twice).  Local-FS implementation; on a real lakehouse this is the
    table format's transaction rollback."""
    if not os.path.isdir(spans_dir):
        return
    for name in os.listdir(spans_dir):
        if not name.startswith("grp="):
            continue
        buckets = {int(x) for x in name[len("grp="):].split("-")}
        if not buckets <= done:
            shutil.rmtree(os.path.join(spans_dir, name),
                          ignore_errors=True)


def _bucket_of(n_buckets: int) -> Column:
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def bucketed(documents: DataFrame, n_buckets: int) -> DataFrame:
    return documents.withColumn("bucket", _bucket_of(n_buckets))


def completed_buckets(status_dir: str) -> set[int]:
    """Buckets with a committed ``done`` status row (local FS, like
    :func:`_reconcile`; hidden, not-yet-renamed appends are skipped)."""
    if not os.path.isdir(status_dir):
        return set()
    status = pq.read_table(status_dir, columns=["bucket", "state"],
                           schema=STATUS_SCHEMA)
    return {b for b, state in zip(status["bucket"].to_pylist(),
                                  status["state"].to_pylist())
            if state == "done"}


def _append_status(status_dir: str, name: str, rows: pa.Table) -> None:
    os.makedirs(status_dir, exist_ok=True)
    hidden = os.path.join(status_dir, f".{name}")
    pq.write_table(rows, hidden)
    os.replace(hidden, os.path.join(status_dir, name))


def run_checkpointed_extraction(spark: SparkSession,
                                documents: DataFrame,
                                media: DataFrame,
                                out_dir: str,
                                n_buckets: int = 8,
                                buckets_per_job: int = 4,
                                mode: str = "clean",
                                run_id: str | None = None,
                                fail_after_jobs: int | None = None) -> dict:
    """Run (or resume) the extraction job.  Returns a summary dict.

    ``fail_after_jobs`` injects a crash after N job groups — used by the
    kill-and-resume test.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    status_dir = f"{out_dir}/status"
    spans_dir = f"{out_dir}/spans"

    done = completed_buckets(status_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    docs_b = bucketed(documents, n_buckets)
    _reconcile(spans_dir, done)

    jobs_run = 0
    for i in range(0, len(todo), buckets_per_job):
        group = todo[i:i + buckets_per_job]
        t0 = time.perf_counter()
        group_docs = (docs_b.filter(F.col("bucket").isin(group))
                      .select("doc_id", "spans"))
        # bucket is a pure function of doc_id — recompute instead of
        # joining back against the documents lineage
        spans = (extract(group_docs, media, mode=mode)
                 .withColumn("bucket", _bucket_of(n_buckets)))
        counts = Observation()
        metrics = []
        for b in group:
            in_b = F.col("bucket") == b
            metrics += [
                F.count_if(in_b).alias(f"n_spans_{b}"),
                F.count_if(in_b & (F.col("offset") == 0))
                .alias(f"n_docs_{b}")]

        # ONE write job per group into its own grp=<...> directory
        # (static overwrite — dynamic partition overwrite pays a
        # driver-serial commit).  Crash-safety: status rows land only
        # after the group directory is fully written; _reconcile
        # removed any partial directory from a crashed run before we
        # started.
        (spans.observe(counts, *metrics)
         .write.partitionBy("bucket").mode("overwrite")
         .parquet(f"{spans_dir}/grp={_group_name(group)}"))
        observed = counts.get

        wall = round(time.perf_counter() - t0, 3)
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        status = pa.table({
            "bucket": group,
            "state": ["done"] * len(group),
            "n_docs": [observed[f"n_docs_{b}"] for b in group],
            "n_spans": [observed[f"n_spans_{b}"] for b in group],
            "run_id": [run_id] * len(group),
            "wall_sec": [wall] * len(group),
            "updated_at": [now] * len(group),
        }, schema=STATUS_SCHEMA)
        _append_status(status_dir,
                       f"part-{run_id}-{_group_name(group)}.parquet",
                       status)

        jobs_run += 1
        if fail_after_jobs is not None and jobs_run >= fail_after_jobs:
            raise RuntimeError(
                f"injected failure after {jobs_run} job group(s)")

    return {"run_id": run_id, "buckets_done_before": sorted(done),
            "buckets_processed": todo, "jobs_run": jobs_run,
            "spans_dir": spans_dir, "status_dir": status_dir}
