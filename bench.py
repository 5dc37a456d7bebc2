#!/usr/bin/env python3
"""Benchmark runner: headline operator queries at $SPARK_GRAFT_SF_DIR
plus the flagship extraction job, on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "extraction_docs_per_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir          (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] core count    (default 32)
  BENCH_EXTRACT_DOCS   corpus size for the extraction throughput measure
                       (default 400)
  BENCH_REPS           repetitions per query, best wall kept (default 2)
  SCALING_PROBE_GATE   probe-gate the extraction reps (scripts/
                       probe_gate.py): samples taken in host-degradation
                       windows are rejected and retried, telemetry lands
                       in the output JSON under "probe_gate" with a
                       headline_ungated marker.  DEFAULT ON (=1) for
                       bench.py; set 0 to opt out

Each query runs BENCH_REPS times and the best wall is recorded — the
same protocol the scaling bench has used since round 1: co-tenant
noise on this shared VM only ever *slows* a run (thread-dump evidence:
during slow windows executor threads sit parked / crawl through native
calls at a fraction of normal speed), so the fastest repetition is the
closest observable to the machine's true cost, and single-shot walls
wander by up to 10x in bad windows.
"""

from __future__ import annotations

import json
import os
import sys
import time

# importable regardless of the caller's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))

from probe_gate import ProbeGate  # noqa: E402 (needs the path insert)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EXTRACT_DOCS = int(os.environ.get("BENCH_EXTRACT_DOCS", "8000"))
REPS = max(1, int(os.environ.get("BENCH_REPS", "2")))

# headline operator queries (subset of the full catalog: one per family)
BENCH_QUERIES = [
    "lineitem_pricing_rollup",
    "revenue_by_nation",
    "iob_containment_join",
    "argmax_slot_assignment",
    "top1_per_group",
    "cumsum_renumber",
    "header_prefix_run",
    "grid_pivot_export",
    "multiset_intersection_fscore",
    "windowed_event_counts",
    "sessionize_events",
    "exact_dedup",
    "minhash_band_buckets",
    "ngram_jaccard_pairs",
    "simhash_neardup_pairs",
    "neardup_clusters",
    "dedup_keep_canonical",
    "dedup_survivors",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "token_count",
    "tfidf_top_terms",
    "quality_features",
    "doc_fingerprints",
    "locate_table_cells",
    "pdf_text_fixpoint",
    "random_shuffle_cap",
    "repetition_filters",
    "ivf_topk",
    "ivf_topk_nprobe2",
    "ivf_train_codebook",
    "embedding_neardup",
    "salted_join_agg",
    "dedup_event_stream",
    "dedup_event_stream_watermark",
    "grits_summary_noisy_vs_clean",
    "canonicalize_tables",
]


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warmup(spark, sf_dir: str, cpus: int) -> float:
    """Warm the Python worker pool + JIT before anything is timed: one
    tiny mapInPandas job (worker interpreter startup) and one tiny
    scan→agg→sort (parquet reader + codegen + shuffle machinery), so
    neither cold start is billed to the first measured query.  Returns
    the warmup's own wall in seconds."""
    from pyspark.sql import functions as F

    from table_transformer_spark.fixtures.spark_io import documents_df

    t0 = time.perf_counter()
    _run(documents_df(spark, 2 * cpus))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _run(li.limit(2048).groupBy("l_returnflag")
         .agg(F.sum("l_quantity").alias("s")).orderBy("l_returnflag"))
    return time.perf_counter() - t0


def main() -> None:
    # the entry-point catalog, not driver_queries.QUERIES directly: it
    # adds the composite queries (grits_summary_noisy_vs_clean, the
    # extraction twins) that only exist at the entry-point layer
    from __spark_entry__ import queries as entry_queries
    from table_transformer_spark.pipeline.extract import extract
    from table_transformer_spark.pipeline.session import get_spark

    QUERIES = entry_queries()

    spark = get_spark(app_name="ttspark-bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    print(f"[bench] warmup: {warmup(spark, SF_DIR, CPUS):.1f}s",
          file=sys.stderr)

    # flagship extraction corpus is materialized to parquet first
    # (untimed) so the measured job READS its input, as the production
    # job would read Iceberg
    import shutil
    import tempfile

    from table_transformer_spark.fixtures.spark_io import (
        read_corpus,
        write_corpus,
    )

    corpus_dir = tempfile.mkdtemp(prefix="ttspark_bench_corpus_")

    # best wall per query across REPS full passes (not back-to-back
    # retries): the host's degradation windows last minutes, so a
    # query's repetitions are spread a full pass (~minutes) apart to
    # maximize the chance one lands in a healthy window.  The
    # extraction measure runs once per pass INSIDE the loop for the
    # same reason — its reps are spread exactly like every other
    # query's, so one bad window cannot contaminate all its samples.
    # The probe gate (scripts/probe_gate.py) brackets the headline
    # extraction reps and is ON BY DEFAULT here (opt out with
    # SCALING_PROBE_GATE=0): every unattended bench record on this
    # co-tenant-noisy host should carry probe telemetry and the
    # headline_ungated marker rather than silently publishing a
    # degraded-window number.  Worst-case overhead: ~2.5s per probe
    # plus bounded retry waits.
    gate = ProbeGate(
        enabled=os.environ.get("SCALING_PROBE_GATE", "1") == "1")

    def _timed_extract(_attempt: int) -> float:
        t0 = time.perf_counter()
        _run(extract(docs, media, mode="clean"))
        return time.perf_counter() - t0

    timings: dict[str, float] = {}
    extract_sec = float("inf")
    extract_any_gated = False
    try:
        write_corpus(spark, EXTRACT_DOCS, corpus_dir)
        docs, media = read_corpus(spark, corpus_dir)
        for pass_no in range(REPS):
            for name in BENCH_QUERIES:
                fn = QUERIES[name]
                t0 = time.perf_counter()
                _run(fn(spark, SF_DIR))
                wall = time.perf_counter() - t0
                prev = timings.get(name, float("inf"))
                timings[name] = round(min(prev, wall), 3)
                print(f"[bench] {name}: {wall:.3f}s (pass {pass_no + 1}, "
                      f"best {timings[name]}s)", file=sys.stderr)
            # expected_load: the extraction job's own fair share (its
            # cores + a couple of JVM helpers).  At the default 8000
            # docs the run is shorter than the monitor's warmup, so
            # brackets carry the verdict; at campaign sizes
            # (BENCH_EXTRACT_DOCS ≥ ~50k) the mid-run monitor engages.
            wall, ok = gate.run(_timed_extract, label="extract",
                                expected_load=CPUS + 2)
            extract_any_gated = extract_any_gated or ok
            extract_sec = min(extract_sec, wall)
            print(f"[bench] extract_spans_clean: {wall:.3f}s "
                  f"(pass {pass_no + 1}, best {extract_sec:.3f}s)",
                  file=sys.stderr)
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    timings["extract_spans_clean"] = round(extract_sec, 3)
    docs_per_sec = round(EXTRACT_DOCS / extract_sec, 3)
    print(f"[bench] extraction: {EXTRACT_DOCS} docs in "
          f"{extract_sec:.1f}s → {docs_per_sec} docs/s", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "extraction_docs_per_sec",
        "value": docs_per_sec,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "extract_docs": EXTRACT_DOCS,
    }
    if gate.enabled:
        # headline_ungated=true means EVERY extraction rep exhausted its
        # probe retries — the published docs/s was measured in degraded
        # windows and must not be read as a gated number.
        # headline_sample/-_from_gated attribute the published wall to
        # the specific sample it came from (telemetry carries one
        # record per sample), so a mixed gated/ungated run is
        # machine-checkable without the stderr tail.
        telemetry = gate.telemetry()
        headline = sorted(
            (i for i, s in enumerate(telemetry["samples"])
             if s["label"] == "extract"
             and s["wall"] == round(extract_sec, 3)),
            key=lambda i: not telemetry["samples"][i]["accepted"])
        result["probe_gate"] = {
            **telemetry,
            "headline_ungated": not extract_any_gated,
            "headline_sample": headline[0] if headline else None,
            "headline_from_gated_sample": bool(
                headline
                and telemetry["samples"][headline[0]]["accepted"])}
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
