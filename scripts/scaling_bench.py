#!/usr/bin/env python3
"""Cluster-size scaling proxy: the identical spark-submit job at
local[N] and local[4N] on identical input (the sandbox stand-in for N
vs 4N executors mandated by the driver).

Packages the library as a zip, submits ``scripts/run_extraction.py``
via ``spark-submit --py-files`` at both parallelism levels (N =
``SCALING_N``, high level = ``SCALING_N_HIGH``, default 4N), and
reports throughput at each plus scaling efficiency
    eff = (throughput_high / throughput_low) / (N_high / N_low).

Writes BENCH_SCALING.json at the repo root and prints it.

``SCALING_PROBE_GATE=1`` reruns the recorded measurement protocol
(BASELINE.md): every spark-submit sample is bracketed by single-core
probes (scripts/probe_gate.py) and samples landing in co-tenant
degradation windows are discarded and retried; probe telemetry is
recorded under ``probe_gate`` in the output JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from probe_gate import ProbeGate  # noqa: E402 (needs the path insert)
from table_transformer_spark.pipeline.session import (  # noqa: E402
    host_defaults,
)

# Big enough that per-job fixed costs (~25s: scan setup, spans write,
# status job, AQE planning) amortize against the kernel work at the LOW
# level: with the round-3 kernel (~2.4ms/page), 96k docs ≈ 8min at
# local[2]/task.cpus=2 vs ~25s fixed — a structural ceiling ≈0.87.
# Smaller corpora understate the job's true scalability (at 48k the
# ceiling is ~0.78-0.82), exactly like benchmarking a 100TB pipeline
# on 100GB.
DOCS = int(os.environ.get("SCALING_DOCS", "96000"))
# N=4 vs 4N=16 by default: with local[8] vs local[32] on a 32-core
# host, the 4N run saturates the machine and competes with JVM/OS
# threads — a proxy artifact a real N- vs 4N-executor cluster does
# not have.  Both levels must leave headroom for the comparison to
# measure the JOB's scalability rather than the host's ceiling.
N_LOW = int(os.environ.get("SCALING_N", "4"))
N_HIGH = int(os.environ.get("SCALING_N_HIGH", str(4 * N_LOW)))
# the runs dict is keyed by core count — identical levels would
# silently collapse to one shared sample list and report a vacuous
# efficiency of 1.0, so fail loudly instead
assert N_LOW != N_HIGH, (
    f"SCALING_N / SCALING_N_HIGH must differ (both {N_LOW})")


def build_zip(tmp: str) -> str:
    zpath = os.path.join(tmp, "ttspark.zip")
    pkg = os.path.join(REPO, "table_transformer_spark")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zpath


def materialize_corpus(tmp: str) -> str:
    """Generate the corpus parquet ONCE (untimed, full parallelism):
    the measured job *reads* its corpus, as the production job would."""
    corpus_dir = os.path.join(tmp, "corpus")
    from table_transformer_spark.fixtures.spark_io import write_corpus
    from table_transformer_spark.pipeline.session import get_spark

    spark = get_spark(app_name="ttspark-corpus-gen")
    spark.sparkContext.setLogLevel("ERROR")
    write_corpus(spark, DOCS, corpus_dir)
    spark.stop()
    return corpus_dir


def submit(cores: int, zpath: str, out_dir: str, corpus_dir: str) -> dict:
    # SPARK_GRAFT_DRIVER_MEM, else half of physical memory (capped):
    # the rule get_spark sizes its own driver heap by
    _cpus, driver_mem = host_defaults(
        os.environ, len(os.sched_getaffinity(0)),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--driver-memory", driver_mem,
        # honest resource accounting: each task of the Arrow-batched
        # kernel stage occupies ~2 cores (the Python worker plus its JVM
        # Arrow-serde/shuffle companion thread).  Declaring task.cpus=2
        # keeps "N cores" ≈ N busy threads at BOTH levels, so the N vs
        # 4N comparison measures job scalability, not silent 2× host
        # oversubscription that a real cluster's resource manager would
        # never grant.
        "--conf", "spark.task.cpus=2",
        "--py-files", zpath,
        os.path.join(REPO, "scripts", "run_extraction.py"),
        "--corpus-dir", corpus_dir,
        "--out", out_dir,
        "--buckets", "8",
        "--buckets-per-job", "8",
        "--shuffle-partitions", str(max(cores, 8)),
    ]
    print("[scaling]", " ".join(cmd), file=sys.stderr)
    res = subprocess.run(cmd, capture_output=True, text=True, check=False)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=sys.stderr)
        print(res.stderr[-4000:], file=sys.stderr)
        raise SystemExit(f"spark-submit local[{cores}] failed")
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    tmp = tempfile.mkdtemp(prefix="ttspark_scaling_")
    try:
        zpath = build_zip(tmp)
        corpus_dir = materialize_corpus(tmp)
        # best-of-N per level, with the two levels' repetitions
        # INTERLEAVED (L,H,L,H,…) rather than all-low-then-all-high:
        # co-tenant noise on this shared host only ever *slows* a run,
        # and its degradation windows last minutes — running one level's
        # reps back-to-back lets a single window contaminate every
        # sample of that level while the other level measures clean,
        # which biases the ratio in either direction.  Interleaving
        # spreads both levels across the same time windows.
        reps = int(os.environ.get("SCALING_REPS", "2"))

        # SCALING_PROBE_GATE=1 reruns the recorded measurement protocol
        # (BASELINE.md): every submit is bracketed by single-core
        # probes; a sample whose window shows host degradation is
        # discarded and retried.  No-op when the flag is unset.
        gate = ProbeGate()
        ungated = 0
        runs = {N_LOW: [], N_HIGH: []}
        for i in range(reps):
            for cores, tag in ((N_LOW, f"lo{N_LOW}"), (N_HIGH, f"hi{N_HIGH}")):
                res, ok = gate.run(
                    lambda att, c=cores, t=tag, j=i: submit(
                        c, zpath,
                        os.path.join(tmp, f"out{t}_{j}_a{att}"), corpus_dir),
                    label=f"local[{cores}] rep {i}",
                    # the job's own loadavg contribution: its worker
                    # threads plus a couple of JVM service threads —
                    # excess above this mid-run is co-tenant noise
                    expected_load=cores + 2)
                runs[cores].append(res)
                ungated += 0 if ok else 1
        for cores in (N_LOW, N_HIGH):
            print(f"[scaling] local[{cores}] walls: "
                  f"{[r['wall_sec'] for r in runs[cores]]}", file=sys.stderr)
        low = min(runs[N_LOW], key=lambda r: r["wall_sec"])
        high = min(runs[N_HIGH], key=lambda r: r["wall_sec"])
        # determinism under parallelism: identical content hash, not
        # just identical row counts
        assert low["n_spans"] == high["n_spans"], \
            "outputs differ across parallelism levels"
        assert low["output_hash"] == high["output_hash"], \
            "output content hash differs across parallelism levels"
        eff = (high["docs_per_sec"] / low["docs_per_sec"]) / (N_HIGH / N_LOW)
        result = {
            "metric": "scaling_efficiency",
            "docs": DOCS,
            "low": {"cores": N_LOW, "wall_sec": low["wall_sec"],
                    "docs_per_sec": low["docs_per_sec"]},
            "high": {"cores": N_HIGH, "wall_sec": high["wall_sec"],
                     "docs_per_sec": high["docs_per_sec"]},
            "speedup": round(high["docs_per_sec"] / low["docs_per_sec"], 3),
            "efficiency": round(eff, 3),
            "n_spans": low["n_spans"],
            "probe_gate": {**gate.telemetry(), "ungated_samples": ungated},
        }
        with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
            f.write(json.dumps(result) + "\n")
        print(json.dumps(result))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
