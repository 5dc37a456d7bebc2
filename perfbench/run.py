#!/usr/bin/env python3
"""Repository benchmark: seeded workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Closed loop, one client: a single driver process submits each pass's
Spark jobs one after another on ``local[nproc]``.  A run starts Spark,
writes the seeded inputs, warms up, then repeats passes of the
workload until ``--seconds`` have elapsed (at least one pass), checks
every output outside the timed region and prints one JSON line.

``--trace 0`` reports the end-to-end metrics (medians over the run's
passes).  ``--trace 1`` runs every layer once with spans around the
calls into it and reports the per-layer metrics; see WORKLOADS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the program under test: importing it first makes a checkout without
# it fail fast, before any process is started
import table_transformer_spark  # noqa: E402,F401

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from perfbench import inputs, kernels  # noqa: E402
from perfbench.checks import (  # noqa: E402
    SPAN_COLUMNS,
    oracle_rows,
    spans_match,
    spark_rows,
)
from perfbench.observe import (  # noqa: E402
    PeakMemory,
    ProcTree,
    Tracer,
    shuffle_write_bytes,
)
from table_transformer_spark.pipeline.checkpoint import (  # noqa: E402
    run_checkpointed_extraction,
)
from table_transformer_spark.pipeline.extract import (  # noqa: E402
    assemble_spans,
    extract,
    media_spans,
    run_cells,
)
from table_transformer_spark.pipeline.session import get_spark  # noqa: E402

WORKLOADS = ("extract", "corpus_dedup")

# catalog queries → the per-layer metric they feed.  A corpus_dedup
# pass runs DEDUP_OPS; the others run only in the traced run, because
# each query's fixed Spark job cost would make every run too long for
# the benchmark's time budget (see WORKLOADS.md).
DEDUP_OPS = {
    "exact_dedup": "dedup.exact_s",
    "minhash_band_buckets": "dedup.minhash_s",
    "ngram_jaccard_pairs": "dedup.ngram_jaccard_s",
    "simhash_neardup_pairs": "dedup.simhash_s",
    "neardup_clusters": "dedup.clusters_s",
}
TRACED_ONLY_OPS = {
    "dedup_keep_canonical": "dedup.clusters_s",
    "dedup_survivors": "dedup.clusters_s",
    "cosine_topk_lsh": "similarity.cosine_lsh_s",
    "ivf_topk": "similarity.ivf_topk_s",
    "embedding_neardup": "similarity.embedding_neardup_s",
    "tfidf_top_terms": "text_analysis.tfidf_s",
    "repetition_filters": "text_analysis.repetition_s",
}
CC_OPS = ("neardup_clusters", "dedup_keep_canonical", "dedup_survivors")

N_BUCKETS, BUCKETS_PER_JOB = 8, 4
PROBE_PAGES = 150
WARM_DOCS = 100  # the warm-up extracts the corpus' first docs


def host_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


class Ops:
    """Attempted/failed tally.  An operation fails if it raises or if
    its output fails its check."""

    def __init__(self):
        self.attempted = self.failed = 0

    def run(self, name, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {name} raised", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, name, ok: bool):
        if not ok:
            self.failed += 1
            print(f"[perfbench] {name}: output check failed",
                  file=sys.stderr)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.t0 = time.perf_counter()
        self.ops = Ops()
        self.setup: dict[str, float] = {}
        self.ckpt_dirs: list[str] = []
        self.clean_outputs: list[list] = []  # collected clean spans
        self.results: list[tuple[str, object]] = []  # (query, rows)
        self.corpus = bool(args.trace) or args.workload == "extract"

    def log(self, msg: str):
        print(f"[perfbench] {time.perf_counter() - self.t0:7.1f}s {msg}",
              file=sys.stderr, flush=True)

    # -- set-up ---------------------------------------------------------
    def start(self):
        self.cores = len(os.sched_getaffinity(0))
        self.memory_mb = max(1024, min(host_memory_mb() // 8, 2048))
        tmp = os.path.join(self.work, "tmp")
        conf = {"spark.driver.memory": f"{self.memory_mb}m",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{self.event_dir}",
                         "spark.eventLog.compress": "false"})
        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores,
                               extra_conf=conf)
        self.setup["spark_start_s"] = time.perf_counter() - t
        self.gateway = SparkContext._gateway
        self.tree = ProcTree(self.gateway.proc.pid)
        heap = (self.gateway.jvm.java.lang.management.ManagementFactory
                .getMemoryMXBean())
        self.heap_used = lambda: heap.getHeapMemoryUsage().getUsed()

    def make_inputs(self):
        t = time.perf_counter()
        self.sf_dir = os.path.join(self.work, "sf")
        inputs.write_catalog_tables(self.args.seed, self.sf_dir)
        if self.corpus:
            self.ids, self.docs, self.media = inputs.write_corpus(
                self.spark, self.args.seed, os.path.join(self.work, "corpus"))
        self.setup["inputs_s"] = time.perf_counter() - t

    def warm_up(self):
        """One untimed run of the pass's first operation (the clean
        extraction over the corpus' first docs, or the first dedup
        query), so the first timed pass is not the one that starts the
        Python worker pool, imports the kernels and compiles the plans."""
        t = time.perf_counter()
        if self.corpus:
            first = self.docs.where(F.col("doc_id").isin(
                self.ids[:WARM_DOCS]))
            self.ops.run("warm_up", lambda: noop(
                extract(first, self.media, mode="clean")))
        else:
            self.query(next(iter(DEDUP_OPS)))
        self.setup["warmup_s"] = time.perf_counter() - t

    # -- operations -----------------------------------------------------
    def extract_clean(self):
        """The clean extraction, collected so that every pass's output
        is checked."""
        self.clean_outputs.append(
            extract(self.docs, self.media, mode="clean")
            .select(*SPAN_COLUMNS).collect())

    def checkpointed(self):
        out = os.path.join(self.work, "ckpt", str(len(self.ckpt_dirs)))
        run_checkpointed_extraction(
            self.spark, self.docs, self.media, out, n_buckets=N_BUCKETS,
            buckets_per_job=BUCKETS_PER_JOB, mode="noisy")
        self.ckpt_dirs.append(out)

    def query(self, name):
        def run():
            df = queries()[name](self.spark, self.sf_dir)
            return df.columns, df.collect()

        out = self.ops.run(name, run)
        if out is not None:
            self.results.append((name, out))

    # -- untraced passes ------------------------------------------------
    def timed_passes(self) -> dict:
        extract_wl = self.args.workload == "extract"
        walls, cleans, cpus, workers = [], [], [], []
        t_end = time.perf_counter() + self.args.seconds
        while not walls or time.perf_counter() < t_end:
            cpu0 = self.tree.cpu_seconds() + _own_cpu()
            with PeakMemory(self.tree) as mem:
                t0 = time.perf_counter()
                if extract_wl:
                    self.ops.run("extract_clean", self.extract_clean)
                    cleans.append(time.perf_counter() - t0)
                    self.ops.run("checkpointed_noisy", self.checkpointed)
                else:
                    for name in DEDUP_OPS:
                        self.query(name)
                walls.append(time.perf_counter() - t0)
            cpus.append(self.tree.cpu_seconds() + _own_cpu() - cpu0)
            workers.append(mem.worker_rss / 2**20)
        # extract: documents per second of the clean extraction job;
        # corpus_dedup: sample documents per second of the whole pass
        rates = ([len(self.ids) / c for c in cleans] if extract_wl else
                 [inputs.N_CATALOG_DOCS / w for w in walls])
        return {"wall_s": _metric(walls, "s"),
                "docs_per_s": _metric(rates, "docs/s"),
                "cpu_s": _metric(cpus, "s"),
                "worker_rss_mb": _metric(workers, "MB")}

    # -- traced run -----------------------------------------------------
    def traced(self) -> dict:
        tr = self.tracer = Tracer(self.spark)
        docs, media = self.docs, self.media
        with PeakMemory(self.tree, self.heap_used) as mem:
            with tr.span("extract.pass"):
                with tr.span("extract.join", group="extract.join"):
                    self.ops.run("extract.join", lambda: noop(
                        media_spans(docs).join(
                            media.select("media_ref", "payload"),
                            "media_ref")))
                cells = run_cells(docs, media, mode="clean").persist()
                with tr.span("extract.cells", group="extract.cells"):
                    self.ops.run("extract.cells", lambda: noop(cells))
                with tr.span("extract.assemble", group="extract.assemble"):
                    self.ops.run("extract.assemble", lambda: noop(
                        assemble_spans(docs, cells)))
                cells.unpersist()

            with tr.span("checkpoint.run", group="checkpoint"):
                self.ops.run("checkpointed_noisy", self.checkpointed)
            for name in list(DEDUP_OPS) + list(TRACED_ONLY_OPS):
                with tr.span(name, group=name):
                    self.query(name)

        m = {"session.jvm_rss_mb": mem.jvm_rss / 2**20,
             "session.jvm_heap_mb": mem.jvm_heap / 2**20,
             "session.worker_rss_mb": mem.worker_rss / 2**20,
             "session.workers": mem.workers}
        for layer in ("join", "cells", "assemble"):
            m[f"extract.{layer}_s"] = tr.seconds(f"extract.{layer}")[0]
        stats = tr.job_stats(tr.groups("extract."))
        m["extract.tasks"] = stats["tasks"]
        # a failed task is a failed operation, even when its retry
        # succeeded
        self.ops.check("extract.tasks", stats["failed_tasks"] == 0)

        ckpt = self.ckpt_dirs[-1]
        m["checkpoint.run_s"] = tr.seconds("checkpoint.run")[0]
        # one status row per bucket, each carrying its group's wall
        status = pq.read_table(f"{ckpt}/status").to_pylist()
        groups = {(r["run_id"], r["updated_at"], r["wall_sec"])
                  for r in status}
        m["checkpoint.group_wall_s"] = sum(g[2] for g in groups)
        m["checkpoint.spark_jobs"] = tr.job_stats(["checkpoint"])["jobs"]
        m["checkpoint.bytes_written"] = _du(ckpt)

        for name, metric in {**DEDUP_OPS, **TRACED_ONLY_OPS}.items():
            m[metric] = m.get(metric, 0.0) + tr.seconds(name)[0]
        m["dedup.clusters_spark_jobs"] = tr.job_stats(CC_OPS)["jobs"]

        m.update(kernels.probe(kernels.page_sample(self.ids, PROBE_PAGES)))
        m["trace.overhead_s"] = tr.overhead_seconds()
        return m

    # -- checks (outside every timed region) ----------------------------
    def check(self):
        for rows in self.clean_outputs:
            self.ops.check("extract_clean", spans_match(rows, self.ids))
        for out in self.ckpt_dirs:
            try:
                rows = (self.spark.read.parquet(f"{out}/spans")
                        .select(*SPAN_COLUMNS).collect())
            except Exception:
                traceback.print_exc()
                rows = None
            self.ops.check("checkpointed_noisy",
                           rows is not None and spans_match(rows, self.ids))

        oracles = oracle_sql()
        with duckdb.connect() as con:
            for table in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{table}.parquet')")
            expected = {}
            for name, (columns, rows) in self.results:
                if name not in expected:
                    expected[name] = oracle_rows(con, oracles[name])
                self.ops.check(name,
                               spark_rows(rows, columns) == expected[name])

    # -- teardown -------------------------------------------------------
    def stop(self):
        """Stop Spark, the JVM and its Python workers, and wait for each."""
        pids = self.tree.pids()
        self.spark.stop()
        self.gateway.shutdown()
        proc = self.gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}"):
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                    break
                time.sleep(0.05)


def _own_cpu() -> float:
    t = os.times()
    return t.user + t.system


def _metric(values, unit):
    return {"value": statistics.median(values), "unit": unit}


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of this process, the JVM and the Python
    # workers stays inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    bench = Bench(args, work)
    try:
        bench.start()
        try:
            bench.log("spark started")
            bench.make_inputs()
            bench.log("inputs written")
            bench.warm_up()
            bench.log("warmed up")
            if args.trace:
                metrics = {f"setup.{k}": v for k, v in bench.setup.items()}
                metrics.update(bench.traced())
            else:
                metrics = bench.timed_passes()
                metrics["setup_s"] = {"value": sum(bench.setup.values()),
                                      "unit": "s"}
            bench.log("measured")
            bench.check()
            bench.log("checked")
        finally:
            bench.stop()
            bench.log("stopped")
        if args.trace:
            by_group = shuffle_write_bytes(bench.event_dir)
            metrics["extract.shuffle_write_bytes"] = sum(
                n for g, n in by_group.items()
                if g and g.startswith("extract."))
            metrics = {k: {"value": v, "unit": _unit(k)}
                       for k, v in sorted(metrics.items())}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-"
                                   f"seed{args.seed}.json"), "w") as f:
                json.dump({"spans": bench.tracer.spans,
                           "metrics": metrics}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"host": {"cores": bench.cores,
                               "driver_memory_mb": bench.memory_mb,
                               "physical_memory_mb": host_memory_mb()},
                      "setup": bench.setup}))
    print(json.dumps({"correct": bench.ops.failed == 0,
                      "attempted": bench.ops.attempted,
                      "failed": bench.ops.failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_bytes", "bytes"),
                         ("bytes_written", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
