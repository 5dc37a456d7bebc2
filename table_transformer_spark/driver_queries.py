"""Driver-contract query catalog: Spark implementation + DuckDB oracle
for every SQL-expressible operator (SURVEY.md §2, FIXTURES.md §7).

Each entry pairs a ``(spark, sf_dir) -> DataFrame`` callable with an
ANSI-SQL oracle string run by DuckDB over the same parquet tables.
Conventions that keep the driver's order-insensitive value-hash stable:

* every computed column is aliased identically on both sides;
* comparisons/metrics stay in exact integer arithmetic wherever the
  semantics allow (containment tests as ``2*overlap >= span`` etc.);
* unavoidable doubles are ``round(x, 2..6)`` on both sides.

Geometric queries derive deterministic bboxes from TPC-H-ish integer
columns — same formulas in Spark and SQL — so the spatial operator
algebra (iob theta-join, argmax slotting, prefix runs, midpoint
dilation, cumsum renumbering, pivot export, DAR multiset intersection)
is oracle-checked end-to-end without external fixture files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational core (scan/agg/join — the Catalyst-optimized baseline shapes)
# ---------------------------------------------------------------------------

def q_lineitem_pricing_rollup(spark, sf_dir):
    """TPC-H-Q1-shaped scan→agg→sort (reference analog: corpus-level
    metric rollups, src/eval.py:394-423)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


ORACLE_LINEITEM_PRICING_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                            AS sum_qty,
       round(sum(l_extendedprice), 2)                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       round(avg(l_quantity), 6)                            AS avg_qty,
       count(*)                                             AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    """3-way join with small-dim broadcast (customer→nation dims)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    # r6 note: force-broadcasting projected orders (so lineitem never
    # shuffles) was built and benched — no win at sf0.1 OR sf1.0 (the
    # per-execution hash-relation build of ~1.5M keys costs what the
    # shuffle saves at these sizes) and it pins driver memory if the
    # driver escalates the scale factor, so the planner keeps the call.
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("n_name"))


ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# geometric-relational operators (§2.2-§2.3) on derived integer boxes
#
# containers: 8 vertical strips  [cid*125, 0, cid*125+125, 1000]
# packages:   lineitem-derived   [px, py, px+10, py+10]
#             px = (l_partkey*7) % 990, py = (l_orderkey*13) % 990
# ---------------------------------------------------------------------------

_PKG = ("SELECT l_orderkey, l_linenumber, "
        "(l_partkey*7) % 990 AS px, (l_orderkey*13) % 990 AS py "
        "FROM lineitem")


def _packages(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        ((F.col("l_partkey") * 7) % 990).alias("px"),
        ((F.col("l_orderkey") * 13) % 990).alias("py"))


def _containers(spark):
    return (spark.range(8)
            .select(F.col("id").cast("int").alias("cid"),
                    (F.col("id") * 125).alias("cx0"),
                    (F.col("id") * 125 + 125).alias("cx1")))


def q_class_threshold_filter(spark, sf_dir):
    """Per-class score thresholds as a broadcast join + filter
    (apply_class_thresholds, src/postprocess.py:16-31)."""
    events = load(spark, sf_dir, "events")
    thresholds = spark.createDataFrame(
        [("click", 10.0), ("view", 5.0), ("purchase", 20.0),
         ("error", 50.0), ("signup", 1.0)],
        ["event_type", "tau"])
    return (events.join(F.broadcast(thresholds), "event_type")
            .filter(F.col("value") >= F.col("tau"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .orderBy("event_type"))


ORACLE_CLASS_THRESHOLD_FILTER = """
WITH thresholds(event_type, tau) AS (
  VALUES ('click', 10.0), ('view', 5.0), ('purchase', 20.0),
         ('error', 50.0), ('signup', 1.0)
)
SELECT e.event_type, count(*) AS n_kept, round(sum(e.value), 2) AS sum_value
FROM events e JOIN thresholds t ON e.event_type = t.event_type
WHERE e.value >= t.tau
GROUP BY e.event_type
ORDER BY e.event_type
"""


def q_iob_containment_join(spark, sf_dir):
    """Token→container containment theta-join: ≥50% of the package's
    x-extent inside the strip (iob join, src/inference.py:270,307-308).
    Integer arithmetic: overlap*2 >= width(=10)."""
    pkg = _packages(spark, sf_dir)
    con = _containers(spark)
    ov = (F.least(F.col("px") + 10, F.col("cx1"))
          - F.greatest(F.col("px"), F.col("cx0")))
    return (pkg.join(F.broadcast(con), ov * 2 >= 10)
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n_tokens"))
            .orderBy("cid"))


ORACLE_IOB_CONTAINMENT_JOIN = f"""
WITH pkg AS ({_PKG}),
con AS (SELECT cid, cid*125 AS cx0, cid*125+125 AS cx1
        FROM (SELECT unnest(range(8))::int AS cid))
SELECT cid, count(*) AS n_tokens
FROM pkg JOIN con
  ON (least(px + 10, cx1) - greatest(px, cx0)) * 2 >= 10
GROUP BY cid
ORDER BY cid
"""


def q_argmax_slot_assignment(spark, sf_dir):
    """slot_into_containers as an argmax window: each package goes to the
    container holding its largest fraction, ties to the lower container
    id (src/postprocess.py:208-248).

    r6 note: an equi-join rewrite (arithmetic candidate strips +
    max-of-struct aggregation, no sort) was built and A/B-measured
    against this formulation — the window version won (1.9s vs 2.0-2.2s
    at sf1.0; Spark 4's WindowGroupLimit already pre-prunes rn=1 before
    the full sort), so the simpler plan stays."""
    pkg = _packages(spark, sf_dir)
    con = _containers(spark)
    ov = (F.least(F.col("px") + 10, F.col("cx1"))
          - F.greatest(F.col("px"), F.col("cx0")))
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        F.col("overlap").desc(), F.col("cid").asc())
    return (pkg.join(F.broadcast(con), ov > 0)
            .withColumn("overlap", ov)
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("overlap") * 2 >= 10))
            .select("l_orderkey", "l_linenumber", "cid", "overlap"))


ORACLE_ARGMAX_SLOT_ASSIGNMENT = f"""
WITH pkg AS ({_PKG}),
con AS (SELECT cid, cid*125 AS cx0, cid*125+125 AS cx1
        FROM (SELECT unnest(range(8))::int AS cid)),
scored AS (
  SELECT l_orderkey, l_linenumber, cid,
         least(px + 10, cx1) - greatest(px, cx0) AS overlap,
         row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                            ORDER BY (least(px + 10, cx1) - greatest(px, cx0)) DESC,
                                     cid ASC) AS rn
  FROM pkg JOIN con ON least(px + 10, cx1) - greatest(px, cx0) > 0
)
SELECT l_orderkey, l_linenumber, cid, overlap
FROM scored WHERE rn = 1 AND overlap * 2 >= 10
"""


def q_top1_per_group(spark, sf_dir):
    """Top-score object per group (top-1 table select,
    src/eval.py:65-71)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(),
                                              F.col("event_id").asc())
    return (events.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "value"))


ORACLE_TOP1_PER_GROUP = """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_cumsum_renumber(spark, sf_dir):
    """Empty-row removal + dense renumbering of survivors
    (clean_xml_annotation, scripts/process_pubmed.py:711-765 semantics —
    drop 'empty' lines (l_quantity < 3), renumber the rest densely in
    line order).  The testdata has duplicate (orderkey, linenumber)
    pairs, so renumbering is expressed as a row_number over survivors:
    tied keys swap freely but the output *multiset* is engine-stable."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (li.filter(F.col("l_quantity") >= 3)
            .select("l_orderkey", "l_linenumber")
            .withColumn("new_num",
                        (F.row_number().over(w) - 1).cast("long")))


ORACLE_CUMSUM_RENUMBER = """
SELECT l_orderkey, l_linenumber,
       row_number() OVER (PARTITION BY l_orderkey
                          ORDER BY l_linenumber) - 1 AS new_num
FROM lineitem WHERE l_quantity >= 3
"""


def q_header_prefix_run(spark, sf_dir):
    """Maximal prefix run detection (align_headers header-row run,
    src/postprocess.py:519-530): per order, length of the leading run of
    'flagged' lines (l_returnflag = 'N') in line order."""
    li = load(spark, sf_dir, "lineitem")
    flagged = F.when(F.col("l_returnflag") == "N", 1).otherwise(0)
    first_gap = F.min(
        F.when(F.col("flag") == 0, F.col("rn"))).alias("first_gap")
    # duplicate (orderkey, linenumber) keys exist in the testdata: break
    # ties on the flag itself so the prefix run is engine-deterministic
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber",
                                                 F.col("flag").desc())
    return (li.select("l_orderkey", "l_linenumber", flagged.alias("flag"))
            .withColumn("rn", F.row_number().over(w))
            .groupBy("l_orderkey")
            .agg(first_gap, F.count(F.lit(1)).alias("n_lines"))
            .select("l_orderkey",
                    F.coalesce(F.col("first_gap") - 1, F.col("n_lines"))
                    .cast("long").alias("prefix_len")))


ORACLE_HEADER_PREFIX_RUN = """
SELECT l_orderkey,
       coalesce(min(CASE WHEN flag = 0 THEN rn END) - 1, count(*)) AS prefix_len
FROM (
  SELECT l_orderkey,
         CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS flag,
         row_number() OVER (
             PARTITION BY l_orderkey
             ORDER BY l_linenumber,
                      CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END DESC
         ) AS rn
  FROM lineitem
)
GROUP BY l_orderkey
"""


def q_midpoint_dilation(spark, sf_dir):
    """Neighbor-midpoint boundary dilation (row/col dilation,
    scripts/process_pubmed.py:1762-1789): midpoint between consecutive
    per-user event values in time order."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return (events.select("user_id", "event_id", "value",
                          F.round((F.col("value") + prev) / 2, 6)
                          .alias("boundary_mid"))
            .filter(F.col("boundary_mid").isNotNull()))


ORACLE_MIDPOINT_DILATION = """
SELECT user_id, event_id, value, boundary_mid FROM (
  SELECT user_id, event_id, value,
         round((value + lag(value) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) / 2, 6)
         AS boundary_mid
  FROM events
) WHERE boundary_mid IS NOT NULL
"""


def q_grid_pivot_export(spark, sf_dir):
    """Grid→table pivot (cells_to_csv, src/inference.py:512-538): order
    lines pivoted to columns via conditional aggregation."""
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.max(F.when(F.col("l_linenumber") == i,
                         F.col("l_quantity"))).alias(f"line{i}")
            for i in range(1, 8)]
    return (li.groupBy("l_orderkey").agg(*aggs).orderBy("l_orderkey"))


ORACLE_GRID_PIVOT_EXPORT = """
SELECT l_orderkey,
       max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS line1,
       max(CASE WHEN l_linenumber = 2 THEN l_quantity END) AS line2,
       max(CASE WHEN l_linenumber = 3 THEN l_quantity END) AS line3,
       max(CASE WHEN l_linenumber = 4 THEN l_quantity END) AS line4,
       max(CASE WHEN l_linenumber = 5 THEN l_quantity END) AS line5,
       max(CASE WHEN l_linenumber = 6 THEN l_quantity END) AS line6,
       max(CASE WHEN l_linenumber = 7 THEN l_quantity END) AS line7
FROM lineitem
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


def q_multiset_intersection_fscore(spark, sf_dir):
    """DAR multiset-intersection F-score (dar_con, src/eval.py:225-243):
    'true' = even event ids, 'pred' = odd; tp = Σ least(n_true, n_pred)
    per (event_type, value-bucket) key."""
    events = load(spark, sf_dir, "events")
    keyed = events.select(
        "event_type",
        F.floor(F.col("value") / 10).cast("long").alias("bucket"),
        (F.col("event_id") % 2 == 0).alias("is_true"))
    counts = (keyed.groupBy("event_type", "bucket")
              .agg(F.sum(F.col("is_true").cast("long")).alias("n_true"),
                   F.sum((~F.col("is_true")).cast("long")).alias("n_pred")))
    return counts.agg(
        F.sum(F.least("n_true", "n_pred")).alias("tp"),
        F.sum("n_true").alias("n_true_total"),
        F.sum("n_pred").alias("n_pred_total"))


ORACLE_MULTISET_INTERSECTION_FSCORE = """
-- CAST to BIGINT: DuckDB integer sum() yields HUGEINT, which the driver's
-- value hasher distinguishes from Spark's BIGINT even when values match.
SELECT CAST(sum(least(n_true, n_pred)) AS BIGINT) AS tp,
       CAST(sum(n_true) AS BIGINT) AS n_true_total,
       CAST(sum(n_pred) AS BIGINT) AS n_pred_total
FROM (
  SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred
  FROM events
  GROUP BY event_type, CAST(floor(value / 10) AS BIGINT)
)
"""


def q_metrics_summary_rollup(spark, sf_dir):
    """simple/complex/all metric rollup (compute_metrics_summary,
    src/eval.py:394-423)."""
    li = load(spark, sf_dir, "lineitem")
    sliced = li.select(
        F.when(F.col("l_quantity") <= 25, "simple").otherwise("complex")
        .alias("slice"),
        "l_extendedprice")
    per_slice = (sliced.groupBy("slice")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.round(F.avg("l_extendedprice"), 2).alias("avg_price")))
    overall = (sliced.groupBy(F.lit("all").alias("slice"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.avg("l_extendedprice"), 2).alias("avg_price")))
    return per_slice.unionByName(overall).orderBy("slice")


ORACLE_METRICS_SUMMARY_ROLLUP = """
WITH sliced AS (
  SELECT CASE WHEN l_quantity <= 25 THEN 'simple' ELSE 'complex' END AS slice,
         l_extendedprice
  FROM lineitem
)
SELECT slice, count(*) AS n, round(avg(l_extendedprice), 2) AS avg_price
FROM sliced GROUP BY slice
UNION ALL
SELECT 'all' AS slice, count(*) AS n, round(avg(l_extendedprice), 2) AS avg_price
FROM sliced
ORDER BY slice
"""


# ---------------------------------------------------------------------------
# event-stream analytics (batch form of the streaming operators)
# ---------------------------------------------------------------------------

def q_windowed_event_counts(spark, sf_dir):
    """Tumbling 5-minute windowed aggregation (batch oracle of the
    Structured-Streaming path)."""
    events = load(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 300).cast("long")
    return (events.groupBy(bucket.alias("win5m"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .orderBy("win5m", "event_type"))


ORACLE_WINDOWED_EVENT_COUNTS = """
SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS win5m, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win5m, event_type
"""


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (Window lag + cumsum): sessions split at
    >30-minute gaps; one row per user with session count."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (events.withColumn("new_s", new_session)
            .groupBy("user_id")
            .agg(F.sum("new_s").cast("long").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


ORACLE_SESSIONIZE_EVENTS = """
SELECT user_id,
       -- CAST: DuckDB integer sum() is HUGEINT; Spark emits BIGINT
       CAST(sum(new_s) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM (
  SELECT user_id,
         -- floor(epoch) matches Spark's whole-second unix_timestamp
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# dedup / similarity / text-analysis (training-data pipeline operators)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    from .operators.dedup import exact_dedup_groups
    return exact_dedup_groups(load(spark, sf_dir, "documents"),
                              "doc_id", "text")


ORACLE_EXACT_DEDUP = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       count(*) AS n_docs, min(doc_id) AS canonical_id
FROM documents GROUP BY 1
"""


def q_minhash_band_buckets(spark, sf_dir):
    from .operators.dedup import minhash_band_buckets
    return minhash_band_buckets(load(spark, sf_dir, "documents"),
                                "doc_id", "text")


ORACLE_MINHASH_BAND_BUCKETS = """
WITH toks AS (
  SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
sigs AS (
  SELECT doc,
         min(md5('mh0:' || tok)) AS mh0, min(md5('mh1:' || tok)) AS mh1,
         min(md5('mh2:' || tok)) AS mh2, min(md5('mh3:' || tok)) AS mh3,
         min(md5('mh4:' || tok)) AS mh4, min(md5('mh5:' || tok)) AS mh5,
         min(md5('mh6:' || tok)) AS mh6, min(md5('mh7:' || tok)) AS mh7
  FROM toks GROUP BY doc
),
banded AS (
  SELECT doc, CAST(0 AS INT) AS band_idx,
         mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS band_key
  FROM sigs
  UNION ALL
  SELECT doc, CAST(1 AS INT) AS band_idx,
         mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 AS band_key
  FROM sigs
)
SELECT band_idx, band_key, count(*) AS n_docs, min(doc) AS canonical_id
FROM banded GROUP BY band_idx, band_key
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"),
                               "doc_id", "text", "source",
                               n=2, min_intersection=3, max_df=50)


ORACLE_NGRAM_JACCARD_PAIRS = """
WITH shingled AS (
  SELECT doc_id AS doc, source AS block,
         list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS grams
  FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS w
        FROM documents)
  WHERE len(w) >= 2
),
sizes AS (SELECT doc, len(grams) AS n_grams FROM shingled),
exploded AS (SELECT doc, block, unnest(grams) AS gram FROM shingled),
-- df-cap: drop grams shared by > 50 docs in a block before the
-- self-join (mirrors the Spark operator's max_df)
gram_df AS (
  SELECT block, gram, count(*) AS gram_docs
  FROM exploded GROUP BY block, gram
),
kept AS (
  SELECT e.doc, e.block, e.gram
  FROM exploded e JOIN gram_df g ON g.block = e.block AND g.gram = e.gram
  WHERE g.gram_docs <= 50
),
pairs AS (
  SELECT a.doc AS doc1, b.doc AS doc2, count(*) AS n_common
  FROM kept a JOIN kept b
    ON a.block = b.block AND a.gram = b.gram AND a.doc < b.doc
  GROUP BY a.doc, b.doc
  HAVING count(*) >= 3
)
SELECT doc1, doc2, n_common,
       s1.n_grams + s2.n_grams - n_common AS n_union,
       CAST(n_common * 2 >= s1.n_grams + s2.n_grams - n_common AS INT)
         AS is_neardup
FROM pairs
JOIN sizes s1 ON s1.doc = doc1
JOIN sizes s2 ON s2.doc = doc2
"""


# ---------------------------------------------------------------------------
# planted near-duplicate slices.  The synthetic corpus is near-dup-free
# (documents are independent samples; embeddings near-orthogonal), so
# without these the near-dup oracles agree on the EMPTY pair set —
# proof of no false positives only (the round-3 verdict's "vacuous
# 0-row" finding).  Each slice is deterministic, carries NEGATIVE ids
# (real rows are >= 0, so no collision), and is unioned into BOTH the
# Spark input and the oracle's relation, making the driver gate
# exercise the non-empty recall path too.
# ---------------------------------------------------------------------------

def _planted_nd_doc_rows():
    """10 planted doc pairs + a 4-doc chain, all in one block.

    Pairs 0-5 are identical twins (Hamming 0 — guaranteed recall);
    pairs 6-9 differ in their final token (small nonzero Hamming,
    included iff <= max_hamming — both engines decide identically from
    the same signatures).

    The chain (ids -21..-24) exists for the clustering oracles: four
    docs where each differs from the next by one substituted token,
    chosen offline (md5-simhash search) so ADJACENT signatures sit at
    Hamming 2 while every SKIP distance is 4 — under the k=3 radius
    the pair graph contains exactly the path edges, so connected
    components must join a component 3 hops deep (a single-join
    "clustering" would split it).  Verified to share no <=3 edge with
    the twin docs above."""
    rows = []
    for p in range(10):
        base = (f"planted near duplicate corpus entry {p} alpha bravo "
                "charlie delta echo foxtrot golf hotel india juliet")
        twin = base if p < 6 else base[: -len("juliet")] + "kilo"
        rows.append((-(2 * p + 1), base, "planted_nd"))
        rows.append((-(2 * p + 2), twin, "planted_nd"))
    chain = ("planted chain corpus entry alpha bravo charlie delta "
             "echo foxtrot golf hotel india juliet kilo lima").split()
    for i, sub in enumerate((None, "flint", "tango", "papa")):
        if sub is not None:
            chain[-i] = sub  # i=1 → last token, i=2 → second-last, …
        rows.append((-(21 + i), " ".join(chain), "planted_nd"))
    return rows


_ND_PLANT_PATH: str | None = None


def _planted_nd_docs_parquet() -> str:
    """Materialize the planted near-dup slice as a parquet file ONCE
    per process and return its path.

    A round-5 interleaved A/B (probes healthy on both brackets,
    BASELINE.md) attributed ~0.6s of the simhash wall to unioning a
    driver-local relation into the parquet scan: the union of a
    LocalTableScan with a file scan costs an extra stage every run.
    Reading the plant as a SECOND PATH of the same parquet scan keeps
    the plan a single FileScan — the plant costs one tiny parquet write
    per process instead of a per-run union.  Columns mirror the
    documents table so the multi-path read needs no schema merging."""
    global _ND_PLANT_PATH
    if _ND_PLANT_PATH is None:
        import os
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = _planted_nd_doc_rows()
        d = tempfile.mkdtemp(prefix="ttspark_nd_plant_")
        path = os.path.join(d, "plant.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([None] * len(rows), pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }), path)
        _ND_PLANT_PATH = path
    return _ND_PLANT_PATH


def q_simhash_neardup_pairs(spark, sf_dir):
    """SimHash near-dup pairs — pandas-UDF md5-based signature,
    pigeonhole-banded candidate join, exact Hamming post-filter.
    k=3 is the classic near-dup radius (4 bands × 16 bits).  Input is
    documents ∪ the planted near-dup slice (see above), read as one
    multi-path parquet scan so the plant adds no union stage."""
    from .operators.dedup import simhash_neardup_pairs
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet",
                               _planted_nd_docs_parquet())
            .select("doc_id", "text", "source"))
    return simhash_neardup_pairs(docs, "doc_id", "text", "source",
                                 max_hamming=3)


_ND_DOC_VALUES = ",\n    ".join(
    f"(CAST({i} AS BIGINT), '{t}', '{s}')"
    for i, t, s in _planted_nd_doc_rows())


# The oracle computes the *naive* semantic definition (per-bit votes →
# sign bits → all-pairs Hamming within a block); the Spark plan's
# banding is an exact optimization, so results must match bit-for-bit.
# Signature hash = first 8 bytes of md5(token), big-endian — portable.
ORACLE_SIMHASH_NEARDUP_PAIRS = rf"""
WITH docs AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {_ND_DOC_VALUES}) v(doc_id, text, source)
),
toks AS (
  SELECT doc, block, tok FROM (
    SELECT doc_id AS doc, source AS block,
           unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM docs
  ) WHERE tok <> ''
),
hashed AS (
  SELECT doc, block, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM toks
),
votes AS (
  SELECT doc, block, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashed CROSS JOIN (SELECT unnest(range(64)) AS b)
  GROUP BY doc, block, b
),
usigs AS (
  SELECT doc,
         bit_or(CASE WHEN vote > 0 THEN (1::UBIGINT << CAST(b AS INTEGER))
                     ELSE 0::UBIGINT END) AS usig
  FROM votes GROUP BY doc
),
sigs AS (
  -- empty docs (no tokens) get signature 0; UBIGINT → two's-complement
  -- BIGINT to match Spark's LongType
  SELECT d.doc_id AS doc, d.source AS block,
         COALESCE(CAST(CAST(u.usig AS HUGEINT)
           - CASE WHEN u.usig >= 9223372036854775808::UBIGINT
                  THEN 18446744073709551616::HUGEINT
                  ELSE 0::HUGEINT END AS BIGINT), 0) AS sig
  FROM docs d LEFT JOIN usigs u ON u.doc = d.doc_id
)
SELECT a.doc AS doc1, b.doc AS doc2,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.block = b.block AND a.doc < b.doc
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def q_neardup_clusters(spark, sf_dir):
    """Near-dup cluster assignment: simhash pairs → connected
    components (large-star/small-star over DataFrame joins).  The
    planted chain (-21..-24, path edges only) is a component 3 hops
    deep, so the oracle is non-vacuous for the multi-round path, not
    just isolated pair edges."""
    from .operators.dedup import connected_components
    cc = connected_components(q_simhash_neardup_pairs(spark, sf_dir))
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


# min-reachable-id per node via a recursive CTE — an independent
# declarative definition of the component label (DuckDB enumerates
# reachable labels; the GROUP BY min collapses them to the component
# representative)
ORACLE_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({ORACLE_SIMHASH_NEARDUP_PAIRS}),
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION
  SELECT doc2 AS a, doc1 AS b FROM pairs
),
walk(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b
)
SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
"""


def q_dedup_keep_canonical(spark, sf_dir):
    """The actionable end of the dedup pipeline: pairs → clusters →
    one keeper per cluster (max n_chars, ties to the smallest id).
    Input docs are the same multi-path scan the pair query reads, so
    every clustered id resolves."""
    from .operators.dedup import connected_components, keep_canonical
    cc = connected_components(q_simhash_neardup_pairs(spark, sf_dir))
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet",
                               _planted_nd_docs_parquet())
            .select("doc_id", "n_chars"))
    return keep_canonical(docs, cc, "doc_id", "n_chars")


ORACLE_DEDUP_KEEP_CANONICAL = f"""
WITH RECURSIVE pairs AS ({ORACLE_SIMHASH_NEARDUP_PAIRS}),
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION
  SELECT doc2 AS a, doc1 AS b FROM pairs
),
walk(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b
),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
all_docs AS (
  SELECT doc_id, n_chars FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {{ND_NCHARS}}) v(doc_id, n_chars)
),
ranked AS (
  SELECT cc.cluster_id, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM cc JOIN all_docs d ON d.doc_id = cc.node
)
SELECT cluster_id,
       max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
       count(*) AS n_members
FROM ranked GROUP BY cluster_id
""".replace("{ND_NCHARS}", ",\n    ".join(
    f"(CAST({i} AS BIGINT), CAST({len(t)} AS BIGINT))"
    for i, t, _s in _planted_nd_doc_rows()))


def q_dedup_survivors(spark, sf_dir):
    """The dedup pipeline's end product: the corpus anti-joined
    against the drop-list (clustered nodes minus their cluster's
    keeper).  Covers the full chain pairs → components → keepers →
    survivors in one plan; the planted twins/chain guarantee the
    drop-list is non-empty so the anti-join is exercised, not
    vacuously passed through."""
    from .operators.dedup import (
        connected_components,
        dedup_survivors,
        keep_canonical,
    )
    cc = connected_components(q_simhash_neardup_pairs(spark, sf_dir))
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet",
                               _planted_nd_docs_parquet())
            .select("doc_id", "source", "n_chars"))
    keepers = keep_canonical(docs, cc, "doc_id", "n_chars")
    return (dedup_survivors(docs, cc, keepers, "doc_id")
            .select("doc_id", "source"))


ORACLE_DEDUP_SURVIVORS = f"""
WITH RECURSIVE pairs AS ({ORACLE_SIMHASH_NEARDUP_PAIRS}),
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION
  SELECT doc2 AS a, doc1 AS b FROM pairs
),
walk(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b
),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
all_docs AS (
  SELECT doc_id, source, n_chars FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {{ND_ROWS}}) v(doc_id, source, n_chars)
),
ranked AS (
  SELECT cc.cluster_id, d.doc_id,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM cc JOIN all_docs d ON d.doc_id = cc.node
)
SELECT doc_id, source FROM all_docs
WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
""".replace("{ND_ROWS}", ",\n    ".join(
    f"(CAST({i} AS BIGINT), '{s}', CAST({len(t)} AS BIGINT))"
    for i, t, s in _planted_nd_doc_rows()))


def q_cosine_topk_bruteforce(spark, sf_dir):
    from .operators.similarity import brute_force_topk
    return brute_force_topk(load(spark, sf_dir, "embeddings"),
                            "vec_id", "embedding", k=3)


ORACLE_COSINE_TOPK_BRUTEFORCE = """
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
              * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
         AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 3
"""


def q_cosine_topk_lsh(spark, sf_dir):
    from .operators.similarity import lsh_bucketed_topk
    return lsh_bucketed_topk(load(spark, sf_dir, "embeddings"),
                             "vec_id", "embedding", k=1)


def _lsh_keyed_sql(rel: str = "embeddings") -> str:
    """``keyed`` CTE over *rel*: the SQL twin of the operator's sign-bit
    band keys, generated from the SAME band dims the Spark plan uses
    (``DEFAULT_SIGN_BANDS``) so the two can never drift apart."""
    from .operators.similarity import DEFAULT_SIGN_BANDS
    band_exprs = []
    for ki, dims in enumerate(DEFAULT_SIGN_BANDS):
        bits = " ||\n         ".join(
            f"(CASE WHEN embedding[{d + 1}] >= 0 THEN '1' ELSE '0' END)"
            for d in dims)
        band_exprs.append(f"{bits} AS k{ki}")
    cols = ",\n         ".join(band_exprs)
    return (f"keyed AS (\n  SELECT vec_id, embedding,\n"
            f"         {cols}\n  FROM {rel}\n)")


_LSH_KEYED = _lsh_keyed_sql()

ORACLE_COSINE_TOPK_LSH = f"""
WITH {_LSH_KEYED},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
  FROM keyed a JOIN keyed b
    ON (a.k0 = b.k0 OR a.k1 = b.k1) AND a.vec_id <> b.vec_id
),
pairs AS (
  SELECT c.vec_id, c.neighbor_id,
         list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
         / sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])
              * list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))
         AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.neighbor_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 1
"""


def _planted_dup_vec_rows():
    """10 planted jittered-duplicate vector pairs.  Twin b adds a
    ±2⁻⁷ jitter to twin a's components, far below the 0.5 minimum
    magnitude, so every sign bit — hence every LSH band key — is
    shared and cosine ≈ 0.9998 (well above any sane threshold).  All
    components are dyadic rationals (multiples of 2⁻⁷, magnitude < 1),
    exactly representable in float32, so the Spark ``array<float>``
    column and the oracle's DOUBLE formula agree bit-for-bit after
    widening."""
    rows = []
    for p in range(10):
        for twin in range(2):
            vec = []
            for j in range(64):
                sign = -1.0 if (j * 31 + p * 7) % 3 == 0 else 1.0
                mag = 0.5 + ((j + p) % 4) * 0.0625
                if twin:
                    mag += -0.0078125 if j % 2 == 0 else 0.0078125
                vec.append(sign * mag)
            rows.append((-(2 * p + twin + 1), vec))
    return rows


# the same construction as a DuckDB expression — formula-twinned, not
# literal-dumped, so a drift in either side fails the gate loudly
_PLANTED_VEC_SQL = """
planted AS (
  SELECT CAST(-(2*p + twin + 1) AS BIGINT) AS vec_id,
         list_transform(range(64), j ->
           (CASE WHEN (j*31 + p*7) % 3 = 0 THEN -1 ELSE 1 END) *
           (0.5 + ((j + p) % 4) * 0.0625
            + twin * (CASE WHEN j % 2 = 0
                      THEN -0.0078125 ELSE 0.0078125 END))
         ) AS embedding
  FROM range(10) tp(p) CROSS JOIN range(2) tt(twin)
),
emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id, embedding FROM planted
)"""


_DUP_VEC_PLANT_PATH: str | None = None


def _planted_dup_vecs_parquet() -> str:
    """The planted vector slice as a once-per-process parquet file —
    same rationale as :func:`_planted_nd_docs_parquet`: a second path
    on the existing parquet scan costs nothing per run, where a
    LocalTableScan union costs an extra stage every run.  float32
    round-trip is exact (all components are dyadic multiples of 2⁻⁷)."""
    global _DUP_VEC_PLANT_PATH
    if _DUP_VEC_PLANT_PATH is None:
        import os
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = _planted_dup_vec_rows()
        d = tempfile.mkdtemp(prefix="ttspark_vec_plant_")
        path = os.path.join(d, "plant.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows],
                                  pa.list_(pa.float32())),
            "label": pa.array([None] * len(rows), pa.int32()),
        }), path)
        _DUP_VEC_PLANT_PATH = path
    return _DUP_VEC_PLANT_PATH


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate candidates (dedup family): pairs
    sharing any sign-bit band key with cosine above threshold.  Input
    is embeddings ∪ the planted jittered-duplicate slice (one
    multi-path parquet scan — no union stage): the synthetic
    embeddings are near-orthogonal (max pairwise cos ≈ 0.51, no shared
    band), so without the plant both engines would agree on the empty
    set — the threshold stays low so real-vector candidates (if any
    band collides) are exercised too."""
    from .operators.similarity import embedding_neardup_pairs

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet",
                              _planted_dup_vecs_parquet())
           .select("vec_id", "embedding"))
    return embedding_neardup_pairs(emb, "vec_id", "embedding",
                                   threshold=0.35)


ORACLE_EMBEDDING_NEARDUP = f"""
WITH {_PLANTED_VEC_SQL.strip()},
{_lsh_keyed_sql("emb")},
cand AS (
  SELECT DISTINCT a.vec_id AS doc1, b.vec_id AS doc2
  FROM keyed a JOIN keyed b
    ON (a.k0 = b.k0 OR a.k1 = b.k1) AND a.vec_id < b.vec_id
)
SELECT doc1, doc2,
       round(list_dot_product(ea.embedding, eb.embedding)
       / sqrt(list_dot_product(ea.embedding, ea.embedding)
            * list_dot_product(eb.embedding, eb.embedding)),
             6) AS cos
FROM cand
JOIN emb ea ON ea.vec_id = doc1
JOIN emb eb ON eb.vec_id = doc2
WHERE list_dot_product(ea.embedding, eb.embedding)
      / sqrt(list_dot_product(ea.embedding, ea.embedding)
           * list_dot_product(eb.embedding, eb.embedding))
      >= 0.35
"""


def q_token_count(spark, sf_dir):
    from .operators.text_analysis import token_count_expr
    docs = load(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").alias("doc"),
                       token_count_expr(F.col("text")).cast("long")
                       .alias("n_tokens"))


ORACLE_TOKEN_COUNT = """
SELECT doc_id AS doc,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS n_tokens
FROM documents
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smoothed idf, ties to the
    lexicographically first term).  The idf log runs on identical
    integer (tf, df, N) inputs in both engines, so the doubles match
    bit-for-bit and the 1e-6 rounding is belt-and-braces."""
    from .operators.text_analysis import tfidf_top_terms
    return tfidf_top_terms(load(spark, sf_dir, "documents"),
                           "doc_id", "text", k=3)


ORACLE_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc, tf.term,
         tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc, term, score,
         row_number() OVER (PARTITION BY doc
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc, term, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= 3
"""


def q_quality_features(spark, sf_dir):
    from .operators.text_analysis import quality_features
    docs = load(spark, sf_dir, "documents").filter(
        F.size(F.split(F.trim("text"), r"\s+")) > 0)
    return quality_features(docs, "doc_id", "text")


ORACLE_QUALITY_FEATURES = r"""
SELECT doc_id AS doc,
       len(string_split_regex(trim(text), '\s+')) AS n_words,
       length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
       CAST(floor(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 100
            / len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS mean_wlen_x100,
       CAST(len(string_split_regex(trim(text), '\s+')) < 20 AS INT) AS is_short
FROM documents
WHERE len(string_split_regex(trim(text), '\s+')) > 0
"""


def q_lang_signal(spark, sf_dir):
    from .operators.text_analysis import lang_signal
    docs = load(spark, sf_dir, "documents").filter(
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")) > 0)
    return lang_signal(docs, "doc_id", "text")


ORACLE_LANG_SIGNAL = """
WITH feats AS (
  SELECT doc_id AS doc,
         length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS n_vowel,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
  FROM documents
)
SELECT doc,
       CAST(floor(n_vowel * 1000 / n_alpha) AS BIGINT) AS vowel_permille,
       CASE WHEN floor(n_vowel * 1000 / n_alpha) >= 380 THEN 'vowel-heavy'
            WHEN floor(n_vowel * 1000 / n_alpha) >= 300 THEN 'latin-like'
            ELSE 'consonant-heavy' END AS lang_class
FROM feats WHERE n_alpha > 0
"""


def q_doc_fingerprints(spark, sf_dir):
    from .operators.text_analysis import fingerprints
    return fingerprints(load(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_DOC_FINGERPRINTS = r"""
SELECT doc_id AS doc,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_chars_norm
FROM documents
"""


def q_page_location_fast(spark, sf_dir):
    """Two-phase table→page location, phase 1 (word-set intersection
    scoring with the ≥max/2 keep rule, scripts/process_pubmed.py:432-487).
    'Tables' are derived snippets (first 6 words of every 25th doc);
    'pages' are the documents."""
    from .operators.page_location import candidate_pages_fast

    docs = load(spark, sf_dir, "documents")
    pages = docs.select(F.col("doc_id").alias("page_id"), "text")
    tables = (docs.filter(F.col("doc_id") % 25 == 0)
              .select(F.col("doc_id").alias("table_id"),
                      F.array_join(F.slice(F.split("text", " "), 1, 6), " ")
                      .alias("text")))
    return candidate_pages_fast(pages, tables)


ORACLE_PAGE_LOCATION_FAST = """
WITH pages AS (SELECT doc_id AS page_id, text FROM documents),
tables_ AS (
  SELECT doc_id AS table_id,
         array_to_string(string_split(text, ' ')[1:6], ' ') AS text
  FROM documents WHERE doc_id % 25 = 0
),
pw AS (SELECT DISTINCT page_id, unnest(string_split(lower(text), ' ')) AS word
       FROM pages),
tw AS (SELECT DISTINCT table_id, unnest(string_split(lower(text), ' ')) AS word
       FROM tables_),
scores AS (
  SELECT table_id, page_id, count(*) AS n_common
  FROM pw JOIN tw USING (word)
  GROUP BY table_id, page_id
)
SELECT table_id, page_id, n_common, max_common FROM (
  SELECT *, max(n_common) OVER (PARTITION BY table_id) AS max_common
  FROM scores
) WHERE n_common * 2 >= max_common
"""


def q_header_flag_semijoin(spark, sf_dir):
    """Header-flag row annotation as a left-semi theta-join
    (row.header = ∃ header with iob ≥ 0.5, src/postprocess.py:105-109):
    packages flagged when any container strip holds ≥50% of them."""
    pkg = _packages(spark, sf_dir)
    con = _containers(spark)
    ov = (F.least(F.col("px") + 10, F.col("cx1"))
          - F.greatest(F.col("px"), F.col("cx0")))
    flagged = pkg.join(F.broadcast(con), ov * 2 >= 10, "left_semi")
    return (flagged.groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n_flagged")))


ORACLE_HEADER_FLAG_SEMIJOIN = f"""
WITH pkg AS ({_PKG}),
con AS (SELECT cid, cid*125 AS cx0, cid*125+125 AS cx1
        FROM (SELECT unnest(range(8))::int AS cid))
SELECT l_orderkey, count(*) AS n_flagged
FROM pkg p
WHERE EXISTS (
  SELECT 1 FROM con c
  WHERE (least(p.px + 10, c.cx1) - greatest(p.px, c.cx0)) * 2 >= 10)
GROUP BY l_orderkey
"""


def q_dataset_intersect_scan(spark, sf_dir):
    """Filelist-intersect dataset scan (page ids = xml ids ∩ image ids,
    sorted, capped; src/table_datasets.py:518-539): part keys ∩ lineitem
    part keys, ordered, limit 100."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey")).distinct()
    return (part.join(li, "p_partkey", "left_semi")
            .orderBy("p_partkey").limit(100))


ORACLE_DATASET_INTERSECT_SCAN = """
SELECT p_partkey FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
ORDER BY p_partkey LIMIT 100
"""


def q_group_cv_stats(spark, sf_dir):
    """Coefficient-of-variation rollup (compute_statistics CV of row
    heights / column widths, src/eval.py:334-357): per order, counts and
    cv of line quantities (0 with <2 samples, reference convention)."""
    li = load(spark, sf_dir, "lineitem")
    cv = F.when(F.count("l_quantity") >= 2,
                F.round(F.stddev_samp("l_quantity")
                        / F.avg("l_quantity"), 6)).otherwise(F.lit(0.0))
    return (li.groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 cv.alias("qty_cv")))


ORACLE_GROUP_CV_STATS = """
SELECT l_orderkey, count(*) AS n_lines,
       CASE WHEN count(l_quantity) >= 2
            THEN round(stddev_samp(l_quantity) / avg(l_quantity), 6)
            ELSE 0.0 END AS qty_cv
FROM lineitem GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# PDF-coordinate locate family (planted-page fixtures)
#
# Pages are planted deterministically from the documents table: word i
# sits on a 10-words-per-line grid (offset keeps every coordinate > 0,
# clear of the reference's falsy-0.0 aggregation quirk).  The Spark
# query runs the REAL char-DP alignment (locate_table/locate_caption);
# the oracle computes the expected hulls directly from the planted
# geometry — they agree iff the alignment anchors exactly the planted
# words.
# ---------------------------------------------------------------------------

_PLANT_FILTER = "doc_id % 20 = 0 AND len(string_split(text, ' ')) >= 29"


def _planted_words(toks):
    return F.transform(toks, lambda x, i: F.struct(
        x.alias("text"),
        (F.lit(10.0) + (i % 10).cast("double") * 50.0).alias("x0"),
        (F.lit(20.0) + F.floor(i / 10).cast("double") * 12.0).alias("y0"),
        (F.lit(55.0) + (i % 10).cast("double") * 50.0).alias("x1"),
        (F.lit(30.0) + F.floor(i / 10).cast("double") * 12.0).alias("y1")))


def _planted_docs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.filter((F.col("doc_id") % 20 == 0)
                       & (F.size(toks) >= 29))


def q_locate_table_cells(spark, sf_dir):
    """Full locate_table fan-out (char-DP alignment → per-cell word
    votes → cell hulls; scripts/process_pubmed.py:490-569) over planted
    3×4 tables (two words per cell, words 5..28 of each page)."""
    from .operators.locate_df import locate_cells_df

    toks = F.split("text", " ")
    cells = F.array(*[
        F.struct(
            F.concat_ws(" ", F.element_at(toks, 6 + 2 * k),
                        F.element_at(toks, 7 + 2 * k)).alias("text"),
            F.array(F.lit(k // 4)).alias("row_nums"),
            F.array(F.lit(k % 4)).alias("column_nums"))
        for k in range(12)])
    tables = (_planted_docs(spark, sf_dir)
              .select("doc_id", F.lit(0).alias("table_num"),
                      _planted_words(toks).alias("words"),
                      cells.alias("cells")))
    return locate_cells_df(tables)


ORACLE_LOCATE_TABLE_CELLS = f"""
WITH sel AS (
  SELECT doc_id FROM documents WHERE {_PLANT_FILTER}
),
ks AS (SELECT unnest(range(12)) AS k),
geo AS (
  SELECT doc_id, k, 5 + 2*k AS a, 6 + 2*k AS b FROM sel CROSS JOIN ks
)
SELECT doc_id, CAST(0 AS INT) AS table_num, CAST(k AS INT) AS cell_num,
       CAST(k // 4 AS INT) AS row_lo, CAST(k // 4 AS INT) AS row_hi,
       CAST(k % 4 AS INT) AS col_lo, CAST(k % 4 AS INT) AS col_hi,
       CAST(10.0 + least(a % 10, b % 10) * 50.0 AS DOUBLE) AS x0,
       CAST(20.0 + (a // 10) * 12.0 AS DOUBLE) AS y0,
       CAST(55.0 + greatest(a % 10, b % 10) * 50.0 AS DOUBLE) AS x1,
       CAST(30.0 + (b // 10) * 12.0 AS DOUBLE) AS y1
FROM geo
"""


def q_locate_caption_hull(spark, sf_dir):
    """locate_caption (scripts/process_pubmed.py:572-620): hull of the
    page words matching the caption (planted as words 8..12)."""
    from .operators.locate_df import locate_caption_df

    toks = F.split("text", " ")
    pages = (_planted_docs(spark, sf_dir)
             .select("doc_id", _planted_words(toks).alias("words"),
                     F.concat_ws(" ", F.slice(toks, 9, 5)).alias("caption")))
    return locate_caption_df(pages)


ORACLE_LOCATE_CAPTION_HULL = f"""
-- words 8..12: 8,9 end line 0; 10,11,12 start line 1
SELECT doc_id, CAST(5 AS INT) AS n_inliers,
       10.0::DOUBLE AS x0, 20.0::DOUBLE AS y0,
       505.0::DOUBLE AS x1, 42.0::DOUBLE AS y1
FROM documents WHERE {_PLANT_FILTER}
"""


def q_aggregate_cell_boundaries(spark, sf_dir):
    """aggregate_cell_bboxes (scripts/process_pubmed.py:890-1018) as
    column algebra over the located cell hulls: per-row/per-column
    boundary boxes snapped to the table extent."""
    from .operators.locate_df import aggregate_boundaries_df

    return aggregate_boundaries_df(q_locate_table_cells(spark, sf_dir))


ORACLE_AGGREGATE_CELL_BOUNDARIES = f"""
WITH sel AS (
  SELECT doc_id FROM documents WHERE {_PLANT_FILTER}
),
ks AS (SELECT unnest(range(12)) AS k),
hull AS (
  SELECT doc_id, k, CAST(k // 4 AS INT) AS r, CAST(k % 4 AS INT) AS c,
         CAST(10.0 + least((5+2*k) % 10, (6+2*k) % 10) * 50.0 AS DOUBLE) AS x0,
         CAST(20.0 + ((5+2*k) // 10) * 12.0 AS DOUBLE) AS y0,
         CAST(55.0 + greatest((5+2*k) % 10, (6+2*k) % 10) * 50.0 AS DOUBLE) AS x1,
         CAST(30.0 + ((6+2*k) // 10) * 12.0 AS DOUBLE) AS y1
  FROM sel CROSS JOIN ks
),
tb AS (
  SELECT doc_id, min(x0) AS tx0, min(y0) AS ty0,
         max(x1) AS tx1, max(y1) AS ty1
  FROM hull GROUP BY doc_id
)
SELECT h.doc_id, CAST(0 AS INT) AS table_num, 'row' AS kind, r AS idx,
       tx0 AS x0, min(h.y0) AS y0, tx1 AS x1, max(h.y1) AS y1
FROM hull h JOIN tb ON tb.doc_id = h.doc_id
GROUP BY h.doc_id, r, tx0, tx1
UNION ALL
SELECT h.doc_id, CAST(0 AS INT) AS table_num, 'col' AS kind, c AS idx,
       min(h.x0) AS x0, ty0 AS y0, max(h.x1) AS x1, ty1 AS y1
FROM hull h JOIN tb ON tb.doc_id = h.doc_id
GROUP BY h.doc_id, c, ty0, ty1
"""


def q_standardize_xml_annotation(spark, sf_dir):
    """standardize_and_fix_xml_annotation
    (scripts/process_pubmed.py:768-887) over planted 4×3 tables: row-0
    colspan forces the header, the header ends at the first supercell-
    free row, and the body PRH row's blank cells are absorbed into its
    first cell."""
    from .operators.canonicalize_df import standardize_tables_df

    toks = F.split("text", " ")

    def cell(text_col, rows, cols, y_row):
        x0 = 10.0 + 100.0 * min(cols)
        x1 = 10.0 + 100.0 * max(cols) + 90.0
        y0 = 10.0 + 20.0 * y_row
        return F.struct(
            text_col.alias("text"),
            F.array(*[F.lit(r) for r in rows]).alias("row_nums"),
            F.array(*[F.lit(c) for c in cols]).alias("column_nums"),
            F.lit(False).alias("is_column_header"),
            F.lit(x0).alias("x0"), F.lit(y0).alias("y0"),
            F.lit(x1).alias("x1"), F.lit(y0 + 15.0).alias("y1"))

    w = [F.element_at(toks, i) for i in range(6, 15)]  # words 5..13
    cells = F.array(
        cell(w[0], [0], [0, 1], 0), cell(w[1], [0], [2], 0),
        cell(w[2], [1], [0], 1), cell(w[3], [1], [1], 1),
        cell(w[4], [1], [2], 1),
        cell(w[5], [2], [0], 2), cell(F.lit(""), [2], [1], 2),
        cell(F.lit(""), [2], [2], 2),
        cell(w[6], [3], [0], 3), cell(w[7], [3], [1], 3),
        cell(w[8], [3], [2], 3))
    tables = (_planted_docs(spark, sf_dir)
              .select("doc_id", cells.alias("cells")))
    return standardize_tables_df(tables)


ORACLE_STANDARDIZE_XML_ANNOTATION = f"""
-- expected output of the standardize chain on the planted 4×3 shape:
-- row-0 colspan → rows 0-1 header; row 2 blanks absorbed into its
-- first cell which becomes a full-width projected row header.
WITH sel AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE {_PLANT_FILTER}
),
cells(cell_num, row_nums, column_nums, widx, hdr, prh, x0, y0, x1, y1) AS (
  VALUES
    (0, '0', '0,1', 6,  true,  false, 10.0, 10.0, 200.0, 25.0),
    (1, '0', '2',   7,  true,  false, 210.0, 10.0, 300.0, 25.0),
    (2, '1', '0',   8,  true,  false, 10.0, 30.0, 100.0, 45.0),
    (3, '1', '1',   9,  true,  false, 110.0, 30.0, 200.0, 45.0),
    (4, '1', '2',   10, true,  false, 210.0, 30.0, 300.0, 45.0),
    (5, '2', '0,1,2', 11, false, true, 10.0, 50.0, 300.0, 65.0),
    (6, '3', '0',   12, false, false, 10.0, 70.0, 100.0, 85.0),
    (7, '3', '1',   13, false, false, 110.0, 70.0, 200.0, 85.0),
    (8, '3', '2',   14, false, false, 210.0, 70.0, 300.0, 85.0)
)
SELECT doc_id, CAST(cell_num AS INT) AS cell_num, row_nums, column_nums,
       w[widx] AS cell_text, hdr AS is_column_header,
       prh AS is_projected_row_header,
       x0::DOUBLE AS x0, y0::DOUBLE AS y0,
       x1::DOUBLE AS x1, y1::DOUBLE AS y1
FROM sel CROSS JOIN cells
"""


def q_pdf_text_fixpoint(spark, sf_dir):
    """extract_pdf_text fixpoint (``scripts/process_fintabnet.py:
    800-838`` + loop ``1241-1249``): iterate complete_table_grid ↔
    extract_pdf_text until tight bboxes stop moving.  Planted 3×4
    tables (cell (r,c) = page words 10r+2c+1..+2, tight bboxes shrunk
    2pt) converge in exactly 2 iterations: pass 1 re-extracts the words
    and restores the full hulls, pass 2 confirms the fixpoint."""
    from pyspark.sql import types as T

    from .geometry import Box
    from .kernels.canonicalize import extract_pdf_text_fixpoint
    from .partitioning import map_rows, widen_for_cpu

    # sanitized tokens: no '.'/',' so the dot-leader repair and
    # punctuation re-spacing are no-ops on both sides
    clean = F.transform(
        F.split("text", " "),
        lambda x: F.regexp_replace(x, "[^a-zA-Z0-9]", "x"))
    words = _planted_words(clean)
    cells = F.array(*[
        F.struct(F.lit(10 * r + 2 * c + 1).alias("a"),
                 F.lit(r).alias("r"), F.lit(c).alias("c"))
        for r in range(3) for c in range(4)])
    tables = (_planted_docs(spark, sf_dir)
              .select("doc_id", words.alias("words"),
                      cells.alias("cells")))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("cell_num", T.IntegerType()),
        T.StructField("pdf_text", T.StringType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("iterations", T.IntegerType()),
    ])

    def fixpoint(rec):
        page_words = [{"text": w["text"],
                       "bbox": [w["x0"], w["y0"], w["x1"], w["y1"]]}
                      for w in rec.words]
        tcells = []
        for cell in rec.cells:
            a = int(cell["a"])
            hull = Box(page_words[a]["bbox"]).include_rect(
                page_words[a + 1]["bbox"]).tolist()
            tcells.append({
                "text": "", "row_nums": [int(cell["r"])],
                "column_nums": [int(cell["c"])],
                # shrink: the fixpoint must grow it back
                "bbox": [hull[0] + 2, hull[1] + 2,
                         hull[2] - 2, hull[3] - 2]})
        table = {"cells": tcells,
                 "rows": {r: {} for r in range(3)},
                 "columns": {c: {} for c in range(4)},
                 "reject": [], "fix": []}
        iters = extract_pdf_text_fixpoint(table, page_words)
        return [{"doc_id": rec.doc_id, "cell_num": i,
                 "pdf_text": cell["pdf_text_content"],
                 "x0": cell["bbox"][0], "y0": cell["bbox"][1],
                 "x1": cell["bbox"][2], "y1": cell["bbox"][3],
                 "iterations": iters}
                for i, cell in enumerate(table["cells"])]

    # CPU-heavy Arrow kernel over few rows — keep it wide
    return map_rows(widen_for_cpu(tables, "doc_id"), fixpoint, schema)


ORACLE_PDF_TEXT_FIXPOINT = f"""
WITH sel AS (
  SELECT doc_id,
         [regexp_replace(t, '[^a-zA-Z0-9]', 'x', 'g')
          for t in string_split(text, ' ')] AS w
  FROM documents WHERE {_PLANT_FILTER}
),
ks AS (SELECT r, c FROM (SELECT unnest(range(3)) AS r)
       CROSS JOIN (SELECT unnest(range(4)) AS c))
SELECT doc_id, CAST(r * 4 + c AS INT) AS cell_num,
       w[10*r + 2*c + 2] || ' ' || w[10*r + 2*c + 3] AS pdf_text,
       CAST(10.0 + (2*c + 1) * 50.0 AS DOUBLE) AS x0,
       CAST(20.0 + r * 12.0 AS DOUBLE) AS y0,
       CAST(55.0 + (2*c + 2) * 50.0 AS DOUBLE) AS x1,
       CAST(30.0 + r * 12.0 AS DOUBLE) AS y1,
       CAST(2 AS INT) AS iterations
FROM sel CROSS JOIN ks
"""


def q_create_table_dict_checks(spark, sf_dir):
    """create_table_dict validity checks (``scripts/
    process_fintabnet.py:118-162``): planted FinTabNet-style HTML +
    pdf-cell annotations with deterministic defects — doc_id%60==0
    drops a pdf cell ("annotation mismatch"), doc_id%60==20 drops a
    grid slot ("HTML missing grid cells"), doc_id%60==40 is clean."""
    from pyspark.sql import types as T

    from .operators.fintabnet import create_table_dict
    from .partitioning import map_rows

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_cells", T.IntegerType()),
        T.StructField("n_rows", T.IntegerType()),
        T.StructField("n_cols", T.IntegerType()),
        T.StructField("rejects", T.StringType()),
    ])

    full = ("<table><tr><td>A</td><td>B</td></tr>"
            "<tr><td>C</td><td>D</td></tr></table>")
    missing = ("<table><tr><td>A</td><td>B</td></tr>"
               "<tr><td>C</td></tr></table>")

    def checks(rec):
        variant = rec.doc_id % 60
        if variant == 20:
            html, n_pdf = missing, 3
        elif variant == 0:
            html, n_pdf = full, 3  # one annotation short
        else:
            html, n_pdf = full, 4
        pdf_cells = [{"tokens": [f"t{i}"],
                      "bbox": [float(i), 0.0, float(i) + 1, 1.0]}
                     for i in range(n_pdf)]
        table = create_table_dict(html, pdf_cells)
        return [{"doc_id": rec.doc_id,
                 "n_cells": len(table["cells"]),
                 "n_rows": len(table["rows"]),
                 "n_cols": len(table["columns"]),
                 "rejects": ",".join(table["reject"])}]

    return map_rows(_planted_docs(spark, sf_dir).select("doc_id"),
                    checks, schema)


ORACLE_CREATE_TABLE_DICT_CHECKS = f"""
SELECT doc_id,
       CASE WHEN doc_id % 60 = 20 THEN 3 ELSE 4 END::INT AS n_cells,
       CAST(2 AS INT) AS n_rows, CAST(2 AS INT) AS n_cols,
       CASE WHEN doc_id % 60 = 0  THEN 'annotation mismatch'
            WHEN doc_id % 60 = 20 THEN 'HTML missing grid cells'
            ELSE '' END AS rejects
FROM documents WHERE {_PLANT_FILTER}
"""


def q_random_shuffle_cap(spark, sf_dir):
    """Seeded shuffle + cap (``src/table_datasets.py:535-537``).  The
    reference shuffles in-memory with a seeded RNG; the distributed,
    engine-portable equivalent orders by a seeded hash of the key —
    reproducible on any cluster size and in any SQL engine (Spark's
    rand(seed) is per-partition-seeded and not portable)."""
    part = load(spark, sf_dir, "part")
    key = F.md5(F.concat(F.lit("shuffle42:"),
                         F.col("p_partkey").cast("string")))
    return (part.select("p_partkey", key.alias("shuffle_key"))
            .orderBy("shuffle_key").limit(100))


ORACLE_RANDOM_SHUFFLE_CAP = """
SELECT p_partkey, md5('shuffle42:' || CAST(p_partkey AS VARCHAR))
         AS shuffle_key
FROM part
ORDER BY shuffle_key LIMIT 100
"""


def q_sessionize_stream_stateful(spark, sf_dir):
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (EventTimeTimeout) run to completion with
    an availableNow trigger.  Emits every CLOSED session — closed by an
    over-gap successor event, or flushed by the event-time timeout once
    the final watermark (max ts − 10 min) passes session_end + gap.
    Both close paths are deterministic on a static input, so the batch
    SQL twin below reproduces the stream's output exactly."""
    import uuid

    from .pipeline.streaming import sessionize_stream

    schema = load(spark, sf_dir, "events").schema
    name = f"sess_state_{uuid.uuid4().hex[:12]}"
    q = (sessionize_stream(spark, sf_dir, schema, glob="events.parquet")
         .writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(600)
    return spark.table(name)


ORACLE_SESSIONIZE_STREAM_STATEFUL = """
WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events),
marked AS (
  SELECT user_id, t,
         CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
),
sess AS (
  SELECT user_id, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid, min(t) AS session_start, max(t) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
),
mx AS (SELECT max(t) AS max_t FROM e),
lastsid AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id)
SELECT a.user_id, session_start, session_end, n_events
FROM agg a JOIN lastsid l ON l.user_id = a.user_id, mx
WHERE sid < last_sid              -- closed by an over-gap successor
   OR session_end + 1800 < max_t - 600  -- flushed by event-time timeout
"""


def q_dedup_event_stream(spark, sf_dir):
    """Streaming ingest dedup (global-DISTINCT regime): first
    occurrence per (user_id, event_type), run to completion with an
    availableNow trigger.  The key set is deterministic (which
    physical row survives is not — only keys are emitted), so the
    batch twin is plain SELECT DISTINCT.  The bounded-state
    within-watermark regime is pytest-covered
    (test_streaming_and_scans.py: eviction + re-emission)."""
    import uuid

    from .pipeline.streaming import dedup_event_stream

    schema = load(spark, sf_dir, "events").schema
    name = f"dedup_stream_{uuid.uuid4().hex[:12]}"
    q = (dedup_event_stream(spark, sf_dir, schema, glob="events.parquet")
         .writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "dedup_event_stream did not drain within 600s — refusing to "
            "compare a partial memory table against the oracle")
    return spark.table(name)


ORACLE_DEDUP_EVENT_STREAM = """
SELECT DISTINCT user_id, event_type FROM events
"""


# ---------------------------------------------------------------------------
# Watermark-bounded streaming dedup: deterministic file-per-trigger
# replay.  The designed event set (formula-twinned into the oracle's
# VALUES, never literal-dumped from the engine) has, per (user_id,
# event_type) key, AT MOST TWO arrivals — which closes the semantics in
# plain SQL: the first arrival always emits; the second emits iff the
# key's state was evicted by some batch-cleanup before its batch, i.e.
# iff  max(ts over earlier batches) - delay  >  first_ts + delay
# (watermark is a running max, so the last cleanup before batch b2
# dominates; a dropped duplicate refreshes expiry, but with two
# arrivals the only refresher IS the second arrival — pinned by
# tests/test_streaming_and_scans.py::
# test_dedup_event_stream_watermark_evicts_and_reemits).
#
# Cleanup timing, measured on this engine (a 4×600s-span draft of this
# replay produced ZERO re-emissions): state cleanup at the end of batch
# j uses the OPERATIVE watermark of batch j — max event time over
# batches BEFORE j, minus delay — not the post-batch-j update.  The
# 1800s batch spans below give every eviction ≥580s of slack under
# either plausible cleanup model (operative-wm at end of batch j, or
# one batch later), so the oracle is robust to that implementation
# detail rather than tuned to it.
# ---------------------------------------------------------------------------

_DEDUP_WM_BASE = 1_700_000_000  # fixed epoch base; batches span 1800s
_DEDUP_WM_DELAY = 600           # = the "10 minutes" passed to the op


def _dedup_wm_replay_events():
    """(user_id, event_type, ts_epoch, batch) rows; batch b covers
    [base + 1800b, base + 1800b + 1799] so event time NEVER regresses
    across batches and the watermark advances deterministically.

    * keys 1000+b: one per-batch watermark driver at the batch's end
      (unique keys — no eviction-equality edge cases);
    * keys 0-39: first arrival in batch 0;
    * keys 0-9 re-arrive in batch 1 — no cleanup can have run with a
      watermark above their expiry (wm(1) applies only at batch 1's
      END, after the dedup check) → DROPPED;
    * keys 10-19 re-arrive in batch 3 — evicted by the cleanup after
      batch 1 (wm base+1199 > expiry base+k+600; after batch 2 under
      the laggier model, still before batch 3) → RE-EMITTED (the
      at-least-once-across-windows trade, now oracled).
    """
    rows = []
    for b in range(4):
        rows.append((1000 + b, "wm", _DEDUP_WM_BASE + 1800 * b + 1799, b))
    for k in range(40):
        rows.append((k, "ev", _DEDUP_WM_BASE + k, 0))
    for k in range(10):
        rows.append((k, "ev", _DEDUP_WM_BASE + 1800 + k, 1))
    for k in range(10, 20):
        rows.append((k, "ev", _DEDUP_WM_BASE + 5400 + k, 3))
    return rows


def q_dedup_event_stream_watermark(spark, sf_dir):
    """Streaming ingest dedup, bounded-state regime
    (``dropDuplicatesWithinWatermark``): THE 10^12-doc ingest pattern —
    state bounded by the delay window, exactly-once within it,
    at-least-once across (re-emission after eviction is part of the
    contract and part of the oracle).  Input is a deterministic
    file-per-trigger replay (one parquet file per micro-batch, mtimes
    pinning the order) of the designed event set above; ``sf_dir`` is
    unused — determinism requires owning the batch boundaries."""
    import os
    import shutil
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .pipeline.streaming import dedup_event_stream

    events = _dedup_wm_replay_events()
    replay = tempfile.mkdtemp(prefix="ttspark_wm_replay_")
    try:
        for b in range(4):
            batch = [e for e in events if e[3] == b]
            tbl = pa.table({
                "user_id": pa.array([e[0] for e in batch], pa.int64()),
                "event_type": pa.array([e[1] for e in batch], pa.string()),
                "ts": pa.array([e[2] * 1_000_000 for e in batch],
                               pa.timestamp("us")),
            })
            path = os.path.join(replay, f"b{b}.parquet")
            pq.write_table(tbl, path)
            # FileStreamSource takes oldest-modification-time first:
            # explicit, strictly increasing mtimes pin batch order
            os.utime(path, (1_000_000 + b, 1_000_000 + b))
        name = f"dedup_wm_{uuid.uuid4().hex[:12]}"
        # Streaming state partitioning is pinned at query start (the
        # offset log records numShufflePartitions) — AQE can never
        # coalesce it — so size it to the replay's key throughput
        # instead of inheriting the batch-oriented session default:
        # each micro-batch otherwise schedules a full session-width
        # wave of state-store tasks (commit + maintenance per
        # partition per trigger) to dedup a handful of keys.  The key
        # SET emitted is partitioning-independent; a production ingest
        # sizes this to load the same way.
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (dedup_event_stream(
                    spark, replay,
                    "user_id long, event_type string, ts timestamp",
                    watermark="10 minutes", max_files_per_trigger=1)
                 .writeStream.outputMode("append").format("memory")
                 .queryName(name).trigger(availableNow=True).start())
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError(
                    "dedup_event_stream_watermark did not drain within "
                    "600s — refusing to compare a partial memory table")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        return spark.table(name)
    finally:
        # the memory sink holds results driver-side; the replay files
        # are not re-read after the stream drains
        shutil.rmtree(replay, ignore_errors=True)


_WM_VALUES = ",\n    ".join(
    f"({u}, '{e}', {ts}, {b})" for u, e, ts, b in _dedup_wm_replay_events())

ORACLE_DEDUP_EVENT_STREAM_WATERMARK = f"""
WITH e AS (
  SELECT * FROM (VALUES
    {_WM_VALUES}) v(user_id, event_type, ts, batch)
),
-- operative watermark of batch b = running max event time over the
-- batches BEFORE b, minus the delay; the last state cleanup that can
-- precede batch b2's dedup check is the one at the end of batch b2-1,
-- which uses wm(b2-1) (measured engine behavior — see the comment
-- above _dedup_wm_replay_events)
wm AS (
  SELECT b.batch, max(p.ts) - {_DEDUP_WM_DELAY} AS wm
  FROM (SELECT DISTINCT batch FROM e) b
  JOIN e p ON p.batch < b.batch
  GROUP BY b.batch
),
ranked AS (
  SELECT user_id, event_type, ts, batch,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts) AS rn,
         min(ts) OVER (PARTITION BY user_id, event_type) AS first_ts
  FROM e
)
SELECT CAST(r.user_id AS BIGINT) AS user_id, r.event_type
FROM ranked r LEFT JOIN wm ON wm.batch = r.batch - 1
WHERE r.rn = 1
   OR (r.rn = 2 AND wm.wm > r.first_ts + {_DEDUP_WM_DELAY})
"""


def q_repetition_filters(spark, sf_dir):
    from .operators.text_analysis import repetition_filters
    return repetition_filters(load(spark, sf_dir, "documents"),
                              "doc_id", "text")


ORACLE_REPETITION_FILTERS = """
WITH base AS (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS w FROM documents
),
stats AS (
  SELECT doc, len(w) AS n_words, len(list_distinct(w)) AS n_distinct,
         [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bigrams
  FROM base WHERE len(w) >= 2
),
bg AS (SELECT doc, n_words, n_distinct, unnest(bigrams) AS bigram
       FROM stats),
per_bigram AS (
  SELECT doc, n_words, n_distinct, bigram, count(*) AS c
  FROM bg GROUP BY doc, n_words, n_distinct, bigram
),
per_doc AS (
  SELECT doc, n_words, n_distinct, max(c) AS topc,
         CAST(sum(c) AS BIGINT) AS nbg
  FROM per_bigram GROUP BY doc, n_words, n_distinct
),
vals AS (
  SELECT doc, CAST(n_words AS BIGINT) AS n_words,
         CAST(floor((n_words - n_distinct) * 1000 / n_words) AS BIGINT)
           AS dup_word_permille,
         CAST(floor(topc * 1000 / nbg) AS BIGINT) AS top_bigram_permille
  FROM per_doc
)
SELECT doc, n_words, dup_word_permille, top_bigram_permille,
       CAST(dup_word_permille <= 300 AND top_bigram_permille <= 180
            AS INT) AS keep
FROM vals
UNION ALL
-- sub-bigram docs: explicit zeros + keep (the operator returns a
-- verdict for every document)
SELECT doc_id AS doc,
       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
       CAST(0 AS BIGINT) AS dup_word_permille,
       CAST(0 AS BIGINT) AS top_bigram_permille,
       CAST(1 AS INT) AS keep
FROM documents WHERE len(string_split(lower(text), ' ')) < 2
"""


def q_ivf_topk(spark, sf_dir):
    from .operators.similarity import ivf_topk
    return ivf_topk(load(spark, sf_dir, "embeddings"),
                    "vec_id", "embedding", k=1, n_cells=16)


_IVF_COS = ("list_dot_product({a}.embedding::DOUBLE[], {b}::DOUBLE[])"
            " / sqrt(list_dot_product({a}.embedding::DOUBLE[],"
            " {a}.embedding::DOUBLE[])"
            " * list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))")

ORACLE_IVF_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_IVF_COS.format(a='e', b='c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         {_IVF_COS.format(a='a', b='b.embedding')} AS cos
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 1
"""


def q_ivf_topk_nprobe2(spark, sf_dir):
    """IVF top-k with the recall knob open one notch: each query probes
    its 2 nearest-centroid cells (home + one) instead of home only.
    Neighbors indexed in a different home cell become reachable; cost
    grows linearly in nprobe (query rows replicated into the cell
    shuffle), never quadratically."""
    from .operators.similarity import ivf_topk
    return ivf_topk(load(spark, sf_dir, "embeddings"),
                    "vec_id", "embedding", k=1, n_cells=16, nprobe=2)


ORACLE_IVF_TOPK_NPROBE2 = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_IVF_COS.format(a='e', b='c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
ranked_cells AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cid ASC) AS rn
  FROM scored
),
homes AS (
  SELECT vec_id, embedding, cid AS cell FROM ranked_cells WHERE rn = 1
),
probes AS (
  SELECT vec_id, embedding, cid AS cell FROM ranked_cells WHERE rn <= 2
),
pairs AS (
  SELECT q.vec_id AS vec_id, h.vec_id AS neighbor_id,
         {_IVF_COS.format(a='q', b='h.embedding')} AS cos
  FROM probes q JOIN homes h
    ON q.cell = h.cell AND q.vec_id <> h.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 1
"""


def q_ivf_cell_stats(spark, sf_dir):
    """IVF cell-size telemetry (the skew guard run before ivf_topk:
    a hot cell re-quadratics the per-cell matmul)."""
    from .operators.similarity import ivf_cell_stats
    return ivf_cell_stats(load(spark, sf_dir, "embeddings"),
                          "vec_id", "embedding", n_cells=16)


ORACLE_IVF_CELL_STATS = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
),
scored AS (
  SELECT e.vec_id, c.cid,
         {_IVF_COS.format(a='e', b='c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY cell
"""


def q_ivf_train_codebook(spark, sf_dir):
    """Distributed spherical k-means codebook training (2 Lloyd's
    iterations, 8 cells) + a final membership pass — the "trained
    offline" IVF step as a Spark job.  Output is the trained codebook
    with per-cell member counts, one ``(cid, n_members, pos, val)`` row
    per centroid component (scalar columns, so every row hashes);
    components rounded to 1e-6 in BOTH engines so the driver's
    value-hash tolerates the engines' differing float-summation orders
    (ulp-level) without weakening the parity (any assignment or update
    divergence shifts components by far more than 1e-6)."""
    from .operators.similarity import ivf_cell_stats, train_ivf_codebook
    emb = load(spark, sf_dir, "embeddings")
    cb = train_ivf_codebook(emb, "vec_id", "embedding",
                            n_cells=8, n_iter=2)
    stats = ivf_cell_stats(emb, "vec_id", "embedding",
                           n_cells=8, codebook=cb)
    return (cb.join(stats, cb.cid == stats.cell, "left")
            .select("cid",
                    F.coalesce("n_vecs", F.lit(0)).cast("long")
                    .alias("n_members"),
                    F.posexplode(F.expr("transform(cvec, x -> round(x, 6))"))
                    .alias("pos", "val")))


_KM_ASSIGN = """
  SELECT vec_id, u, cid AS cell FROM (
    SELECT uv.vec_id, uv.u, c.cid,
           row_number() OVER (PARTITION BY uv.vec_id
                              ORDER BY list_dot_product(uv.u, c.cv)
                                       DESC, c.cid ASC) AS rn
    FROM uv CROSS JOIN {cents} c) WHERE rn = 1
"""

_KM_UPDATE = """
m{i} AS (
  SELECT cell, pos, avg(val) AS mv FROM (
    SELECT cell, unnest(u) AS val, generate_subscripts(u, 1) AS pos
    FROM a{i})
  GROUP BY cell, pos
),
l{i} AS (SELECT cell, list(mv ORDER BY pos) AS lv FROM m{i}
         GROUP BY cell),
c{i} AS (
  SELECT p.cid,
         CASE WHEN l{i}.lv IS NULL THEN p.cv
              ELSE list_transform(
                  l{i}.lv,
                  x -> x / sqrt(list_dot_product(l{i}.lv, l{i}.lv)))
         END AS cv
  FROM c{prev} p LEFT JOIN l{i} ON l{i}.cell = p.cid
)
"""

ORACLE_IVF_TRAIN_CODEBOOK = f"""
WITH uv AS (
  SELECT vec_id,
         list_transform(
             embedding::DOUBLE[],
             x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))) AS u
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid, u AS cv FROM uv ORDER BY vec_id LIMIT 8
),
a1 AS ({_KM_ASSIGN.format(cents='c0')}),
{_KM_UPDATE.format(i=1, prev=0)},
a2 AS ({_KM_ASSIGN.format(cents='c1')}),
{_KM_UPDATE.format(i=2, prev=1)},
a3 AS ({_KM_ASSIGN.format(cents='c2')}),
members AS (SELECT cell, count(*) AS n_members FROM a3 GROUP BY cell)
SELECT c2.cid,
       COALESCE(members.n_members, 0) AS n_members,
       CAST(generate_subscripts(c2.cv, 1) - 1 AS INT) AS pos,
       round(unnest(c2.cv), 6) AS val
FROM c2 LEFT JOIN members ON members.cell = c2.cid
"""


def q_salted_join_agg(spark, sf_dir):
    """Explicit hot-key salting: events (5 event types → every key is
    hot) salted-joined to a per-type dimension, then aggregated.
    Results are provably identical to the unsalted join (the oracle
    does the plain join); the plan difference is that no single task
    owns a whole event_type."""
    from .operators.skew import salted_join

    events = load(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 2.0), ("purchase", 3.0),
         ("error", 4.0), ("signup", 5.0)],
        ["event_type", "weight"])
    joined = salted_join(events, dim, "event_type",
                         n_salts=16, salt_from="event_id")
    return (joined.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value") * F.col("weight")), 2)
                 .alias("weighted_sum")))


ORACLE_SALTED_JOIN_AGG = """
WITH dim(event_type, weight) AS (
  VALUES ('click', 1.0), ('view', 2.0), ('purchase', 3.0),
         ('error', 4.0), ('signup', 5.0)
)
SELECT e.event_type, count(*) AS n,
       round(sum(e.value * d.weight), 2) AS weighted_sum
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


# ---------------------------------------------------------------------------
# canonicalization chain + GriTS over planted tables
#
# Same planting discipline as the locate family: the Spark side runs the
# REAL kernels (canonicalize_cells_df chain / grits_table_metrics DP)
# over table shapes designed so the expected output is hand-derivable;
# the oracle enumerates that expected output directly — the two agree
# iff every kernel rule fires exactly as the reference specifies.
# ---------------------------------------------------------------------------


def _planted_cell(rows, cols, text, hdr=False):
    """One canonicalize-input cell struct (planted shape)."""
    txt = text if not isinstance(text, str) else F.lit(text)
    return F.struct(
        F.array(*[F.lit(r) for r in rows]).alias("row_nums"),
        F.array(*[F.lit(c) for c in cols]).alias("column_nums"),
        txt.alias("cell_text"),
        F.lit(hdr).alias("is_column_header"),
        F.lit(False).alias("is_projected_row_header"),
        F.array().cast("array<double>").alias("bbox"))


def q_canonicalize_tables(spark, sf_dir):
    """FinTabNet canonicalization chain (annotate PRH → remove empty
    rows/cols → merge spanned rows/cols → header rules → blank
    absorption; ``scripts/process_fintabnet.py:1241-1249`` order) over
    six planted table shapes, each exercising a distinct rule:

    * T0 — PRH expansion + blank absorption: blank row removed, blank
      spanning header split then re-absorbed, vertical header chains
      merged, a body row collapsed to a full-width projected row header;
    * T1 — empty-column removal + first-column blank-run merge;
    * T2 — two-column 'ambiguous header' reject;
    * T3 — two-column numeric keep fix;
    * T4 — rows spanned together in every column merged;
    * T5 — columns spanned together in every row merged.
    """
    from .operators.canonicalize_df import canonicalize_cells_df

    docs = _planted_docs(spark, sf_dir)
    toks = F.split("text", " ")

    def w(i):
        return F.element_at(toks, i)

    c = _planted_cell
    variants = {
        0: (  # 6 rows × 5 cols
            [c([0], [0, 1], w(6), True), c([0], [2, 3], "", True),
             c([0], [4], w(7), True)]
            + [c([1], [0], w(8), True), c([1], [1], w(9), True),
               c([1], [2], w(10), True), c([1], [3], "", True),
               c([1], [4], w(11), True)]
            + [c([2], [k], "") for k in range(5)]
            + [c([3], [0], w(12))] + [c([3], [k], "") for k in range(1, 5)]
            + [c([4], [0], w(13)), c([4], [1], w(14)), c([4], [2], w(15)),
               c([4], [3], ""), c([4], [4], w(16))]
            + [c([5], [0], w(17)), c([5], [1], w(18)), c([5], [2], w(19)),
               c([5], [3], ""), c([5], [4], w(20))]),
        1: (  # 4 rows × 4 cols, col 2 fully blank
            [c([0], [0], w(6), True), c([0], [1], w(7), True),
             c([0], [2], "", True), c([0], [3], w(8), True),
             c([1], [0], w(9)), c([1], [1], w(10)), c([1], [2], ""),
             c([1], [3], w(11)),
             c([2], [0], ""), c([2], [1], w(12)), c([2], [2], ""),
             c([2], [3], w(13)),
             c([3], [0], w(14)), c([3], [1], w(15)), c([3], [2], ""),
             c([3], [3], w(16))]),
        2: [c([0], [0], "alpha"), c([0], [1], "beta"),
            c([1], [0], "gamma"), c([1], [1], "delta")],
        3: [c([0], [0], "alpha"), c([0], [1], "1,234"),
            c([1], [0], "beta"), c([1], [1], "5")],
        4: ([c([0], [k], w(6 + k), True) for k in range(3)]
            + [c([1, 2], [k], w(9 + k)) for k in range(3)]
            + [c([3], [k], w(12 + k)) for k in range(3)]),
        5: [c([0], [0], w(6), True), c([0], [1, 2], w(7), True),
            c([1], [0], w(8)), c([1], [1, 2], w(9)),
            c([2], [0], w(10)), c([2], [1, 2], w(11))],
    }

    # all six variants ride one scan: one table row per (doc, variant)
    # from a single generate
    tables = [F.struct(F.lit(tnum).alias("table_num"),
                       F.array(*cells).alias("cells"))
              for tnum, cells in variants.items()]
    inp = (docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       F.explode(F.array(*tables)).alias("t"))
           .select("doc_id", F.lit("planted://canon").alias("media_ref"),
                   "t.table_num", "t.cells"))
    out = canonicalize_cells_df(inp)
    # array columns serialized for the driver's pandas value hasher
    return out.select(
        "doc_id", "media_ref", "table_num", "cell_num",
        F.concat_ws(",", "row_nums").alias("row_nums"),
        F.concat_ws(",", "column_nums").alias("column_nums"),
        "cell_text", "is_column_header", "is_projected_row_header",
        F.concat_ws("|", "reject").alias("reject"),
        F.concat_ws("|", "fix").alias("fix"))


_MPH = "merged projected row header"
_RER = "removed empty row"
_REC = "removed empty column"
_MOS = "merged oversegmented spanning cell"

ORACLE_CANONICALIZE_TABLES = f"""
-- hand-derived expected output of the canonicalize chain per planted
-- variant (wa/wb = 1-based word indices into the doc text; lit = fixed
-- literal text; blank cells carry lit = '').
WITH sel AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS w
  FROM documents WHERE {_PLANT_FILTER}
),
tprov(table_num, reject, fix) AS (VALUES
  (0, '', '{_MPH}|{_MPH}|{_MPH}|{_MPH}|{_RER}|{_RER}|{_RER}|{_RER}|{_RER}|{_MOS}|{_MOS}|{_MOS}'),
  (1, '', '{_REC}|{_REC}|{_REC}|{_REC}|{_MOS}'),
  (2, 'ambiguous header', ''),
  (3, '', 'two column no header: numeric'),
  (4, '', 'merged rows spanned together in every column'),
  (5, '', 'merged columns spanned together in every row')
),
cells(table_num, cell_num, row_nums, column_nums, wa, wb, lit, hdr, prh) AS (VALUES
  (0, 0,  '0',   '0,1', 6,  NULL, NULL, true,  false),
  (0, 1,  '0,1', '2',   10, NULL, NULL, true,  false),
  (0, 2,  '0,1', '3',   NULL, NULL, '', true,  false),
  (0, 3,  '0,1', '4',   7,  11,   NULL, true,  false),
  (0, 4,  '1',   '0',   8,  NULL, NULL, true,  false),
  (0, 5,  '1',   '1',   9,  NULL, NULL, true,  false),
  (0, 6,  '2',   '0,1,2,3,4', 12, NULL, NULL, false, true),
  (0, 7,  '3',   '0',   13, NULL, NULL, false, false),
  (0, 8,  '3',   '1',   14, NULL, NULL, false, false),
  (0, 9,  '3',   '2',   15, NULL, NULL, false, false),
  (0, 10, '3',   '3',   NULL, NULL, '', false, false),
  (0, 11, '3',   '4',   16, NULL, NULL, false, false),
  (0, 12, '4',   '0',   17, NULL, NULL, false, false),
  (0, 13, '4',   '1',   18, NULL, NULL, false, false),
  (0, 14, '4',   '2',   19, NULL, NULL, false, false),
  (0, 15, '4',   '3',   NULL, NULL, '', false, false),
  (0, 16, '4',   '4',   20, NULL, NULL, false, false),
  (1, 0,  '0',   '0',   6,  NULL, NULL, true,  false),
  (1, 1,  '0',   '1',   7,  NULL, NULL, true,  false),
  (1, 2,  '0',   '2',   8,  NULL, NULL, true,  false),
  (1, 3,  '1,2', '0',   9,  NULL, NULL, false, false),
  (1, 4,  '1',   '1',   10, NULL, NULL, false, false),
  (1, 5,  '1',   '2',   11, NULL, NULL, false, false),
  (1, 6,  '2',   '1',   12, NULL, NULL, false, false),
  (1, 7,  '2',   '2',   13, NULL, NULL, false, false),
  (1, 8,  '3',   '0',   14, NULL, NULL, false, false),
  (1, 9,  '3',   '1',   15, NULL, NULL, false, false),
  (1, 10, '3',   '2',   16, NULL, NULL, false, false),
  (2, 0,  '0',   '0',   NULL, NULL, 'alpha', false, false),
  (2, 1,  '0',   '1',   NULL, NULL, 'beta',  false, false),
  (2, 2,  '1',   '0',   NULL, NULL, 'gamma', false, false),
  (2, 3,  '1',   '1',   NULL, NULL, 'delta', false, false),
  (3, 0,  '0',   '0',   NULL, NULL, 'alpha', false, false),
  (3, 1,  '0',   '1',   NULL, NULL, '1,234', false, false),
  (3, 2,  '1',   '0',   NULL, NULL, 'beta',  false, false),
  (3, 3,  '1',   '1',   NULL, NULL, '5',     false, false),
  (4, 0,  '0',   '0',   6,  NULL, NULL, true,  false),
  (4, 1,  '0',   '1',   7,  NULL, NULL, true,  false),
  (4, 2,  '0',   '2',   8,  NULL, NULL, true,  false),
  (4, 3,  '1',   '0',   9,  NULL, NULL, false, false),
  (4, 4,  '1',   '1',   10, NULL, NULL, false, false),
  (4, 5,  '1',   '2',   11, NULL, NULL, false, false),
  (4, 6,  '2',   '0',   12, NULL, NULL, false, false),
  (4, 7,  '2',   '1',   13, NULL, NULL, false, false),
  (4, 8,  '2',   '2',   14, NULL, NULL, false, false),
  (5, 0,  '0',   '0',   6,  NULL, NULL, true,  false),
  (5, 1,  '0',   '1',   7,  NULL, NULL, true,  false),
  (5, 2,  '1',   '0',   8,  NULL, NULL, false, false),
  (5, 3,  '1',   '1',   9,  NULL, NULL, false, false),
  (5, 4,  '2',   '0',   10, NULL, NULL, false, false),
  (5, 5,  '2',   '1',   11, NULL, NULL, false, false)
)
SELECT s.doc_id, 'planted://canon' AS media_ref,
       CAST(c.table_num AS INT) AS table_num,
       CAST(c.cell_num AS INT) AS cell_num,
       c.row_nums, c.column_nums,
       COALESCE(c.lit, CASE WHEN c.wb IS NULL THEN s.w[c.wa]
                            ELSE s.w[c.wa] || ' ' || s.w[c.wb] END)
           AS cell_text,
       c.hdr AS is_column_header, c.prh AS is_projected_row_header,
       t.reject AS reject, t.fix AS fix
FROM sel s CROSS JOIN cells c JOIN tprov t ON t.table_num = c.table_num
"""


def q_cells_html_export(spark, sf_dir):
    """``cells_to_html`` (src/inference.py:540-568) over a planted
    table exercising its quirks: every header row opens its own
    ``<thead>``, colspan/rowspan attributes from grid coverage, and
    (min row, min col) ordering via two stable sorts.  The oracle
    assembles the identical HTML by string concatenation."""
    from .operators.export import export_tables

    docs = _planted_docs(spark, sf_dir)
    toks = F.split("text", " ")

    def w(i):
        return F.element_at(toks, i)

    def cell(rows, cols, text, hdr=False):
        return F.struct(
            F.array(*[F.lit(r) for r in rows]).alias("row_nums"),
            F.array(*[F.lit(c) for c in cols]).alias("column_nums"),
            F.lit(hdr).alias("is_column_header"),
            text.alias("cell_text"))

    cells = F.array(
        cell([0], [0, 1], w(6), True), cell([0], [2], w(7), True),
        cell([1, 2], [0], w(8)), cell([1], [1], w(9)),
        cell([1], [2], w(10)),
        cell([2], [1], w(11)), cell([2], [2], w(12)))
    inp = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      F.lit("planted://html").alias("media_ref"),
                      F.lit(0).alias("table_num"), cells.alias("cells"))
    return export_tables(inp).select("doc_id", "html")


ORACLE_CELLS_HTML_EXPORT = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '<table><thead><th colspan="2">' || w[6] || '</th><th>' || w[7]
       || '</th></thead><tr><td rowspan="2">' || w[8] || '</td><td>'
       || w[9] || '</td><td>' || w[10] || '</td></tr><tr><td>' || w[11]
       || '</td><td>' || w[12] || '</td></tr></table>' AS html
FROM (SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE {_PLANT_FILTER})
"""


def q_binary_metadata(spark, sf_dir):
    """Multimodal metadata path (operators/multimodal.media_metadata):
    byte length + SHA-256 digest over an opaque binary column, pure
    column algebra — here fed with the documents text as the binary
    payload so DuckDB can verify the digests."""
    from .operators.multimodal import media_metadata

    docs = load(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"),
                 F.col("doc_id").cast("string")).alias("media_ref"),
        F.col("text").cast("binary").alias("payload"))
    return media_metadata(docs)


ORACLE_BINARY_METADATA = """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS media_ref,
       CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
       sha256(text) AS digest
FROM documents
"""


def q_grits_planted_perturbation(spark, sf_dir):
    """GriTS/DAR metric kernel (factored 2D-MSS + adjacency multiset,
    ``src/grits.py:166-214`` / ``src/eval.py:83-243``) over one planted
    controlled perturbation: table 0 is an identical 2×2 true/pred pair
    (every metric exactly 1); table 1 perturbs one cell text 'dd'→'dx'
    (LCS sim 0.5), giving hand-computable exact-dyadic values:
    GriTS-Con = 2·(1+1+1+0.5)/8 = 0.875, DAR = F(2 of 4 relations) =
    0.5, GriTS-Top/Loc = 1 (topology and geometry untouched)."""
    from .eval.grits_distributed import grits_table_metrics

    docs = _planted_docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"))

    def grid(texts):
        cells = []
        for k, t in enumerate(texts):
            r, q = k // 2, k % 2
            cells.append(F.struct(
                F.array(F.lit(100.0 * q), F.lit(20.0 * r),
                        F.lit(100.0 * q + 90.0), F.lit(20.0 * r + 15.0))
                .alias("bbox"),
                F.array(F.lit(r)).alias("row_nums"),
                F.array(F.lit(q)).alias("column_nums"),
                F.lit(t).alias("cell_text")))
        return F.array(*cells)

    def side(perturbed):
        parts = None
        for tnum, texts in ((0, ["aa", "bb", "cc", "dd"]),
                            (1, ["aa", "bb", "cc",
                                 "dx" if perturbed else "dd"])):
            part = docs.select(
                "doc_id", F.lit("planted://grits").alias("media_ref"),
                F.lit(tnum).alias("table_num"),
                grid(texts).alias("cells"))
            parts = part if parts is None else parts.unionByName(part)
        return parts

    return grits_table_metrics(side(False), side(True))


ORACLE_GRITS_PLANTED_PERTURBATION = f"""
-- hand-computed: identical pair → all 1; 'dd'→'dx' pair → con =
-- 2*(3+0.5)/(4+4) = 0.875, adjacency tp = 2 of 4 → dar = 0.5,
-- top/loc = 1 (relspan and bbox grids unchanged).  All values are
-- exact dyadic rationals, so the float compare is exact.
WITH sel AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id
  FROM documents WHERE {_PLANT_FILTER}
),
m(table_num, grits_top, grits_top_upper_bound, grits_loc, grits_con,
  acc_con, dar_con_original, dar_con) AS (VALUES
  (0, 1.0, 1.0, 1.0, 1.0,   1, 1.0, 1.0),
  (1, 1.0, 1.0, 1.0, 0.875, 0, 0.5, 0.5)
)
SELECT doc_id, 'planted://grits' AS media_ref,
       CAST(table_num AS INT) AS table_num,
       grits_top::DOUBLE AS grits_top,
       grits_top_upper_bound::DOUBLE AS grits_top_upper_bound,
       grits_loc::DOUBLE AS grits_loc,
       grits_con::DOUBLE AS grits_con,
       CAST(acc_con AS INT) AS acc_con,
       dar_con_original::DOUBLE AS dar_con_original,
       dar_con::DOUBLE AS dar_con,
       CAST(4 AS INT) AS num_true_cells,
       CAST(4 AS INT) AS num_pred_cells,
       CAST(0 AS INT) AS num_spanning_true
FROM sel CROSS JOIN m
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "lineitem_pricing_rollup": q_lineitem_pricing_rollup,
    "revenue_by_nation": q_revenue_by_nation,
    "class_threshold_filter": q_class_threshold_filter,
    "iob_containment_join": q_iob_containment_join,
    "argmax_slot_assignment": q_argmax_slot_assignment,
    "top1_per_group": q_top1_per_group,
    "cumsum_renumber": q_cumsum_renumber,
    "header_prefix_run": q_header_prefix_run,
    "midpoint_dilation": q_midpoint_dilation,
    "grid_pivot_export": q_grid_pivot_export,
    "multiset_intersection_fscore": q_multiset_intersection_fscore,
    "metrics_summary_rollup": q_metrics_summary_rollup,
    "windowed_event_counts": q_windowed_event_counts,
    "sessionize_events": q_sessionize_events,
    "exact_dedup": q_exact_dedup,
    "minhash_band_buckets": q_minhash_band_buckets,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "simhash_neardup_pairs": q_simhash_neardup_pairs,
    "neardup_clusters": q_neardup_clusters,
    "dedup_keep_canonical": q_dedup_keep_canonical,
    "dedup_survivors": q_dedup_survivors,
    "cosine_topk_bruteforce": q_cosine_topk_bruteforce,
    "cosine_topk_lsh": q_cosine_topk_lsh,
    "embedding_neardup": q_embedding_neardup,
    "token_count": q_token_count,
    "tfidf_top_terms": q_tfidf_top_terms,
    "quality_features": q_quality_features,
    "lang_signal": q_lang_signal,
    "doc_fingerprints": q_doc_fingerprints,
    "page_location_fast": q_page_location_fast,
    "group_cv_stats": q_group_cv_stats,
    "header_flag_semijoin": q_header_flag_semijoin,
    "dataset_intersect_scan": q_dataset_intersect_scan,
    "locate_table_cells": q_locate_table_cells,
    "locate_caption_hull": q_locate_caption_hull,
    "aggregate_cell_boundaries": q_aggregate_cell_boundaries,
    "standardize_xml_annotation": q_standardize_xml_annotation,
    "pdf_text_fixpoint": q_pdf_text_fixpoint,
    "create_table_dict_checks": q_create_table_dict_checks,
    "random_shuffle_cap": q_random_shuffle_cap,
    "sessionize_stream_stateful": q_sessionize_stream_stateful,
    "dedup_event_stream": q_dedup_event_stream,
    "dedup_event_stream_watermark": q_dedup_event_stream_watermark,
    "repetition_filters": q_repetition_filters,
    "ivf_topk": q_ivf_topk,
    "ivf_topk_nprobe2": q_ivf_topk_nprobe2,
    "ivf_cell_stats": q_ivf_cell_stats,
    "ivf_train_codebook": q_ivf_train_codebook,
    "salted_join_agg": q_salted_join_agg,
    "canonicalize_tables": q_canonicalize_tables,
    "grits_planted_perturbation": q_grits_planted_perturbation,
    "cells_html_export": q_cells_html_export,
    "binary_metadata": q_binary_metadata,
}

ORACLES = {
    "lineitem_pricing_rollup": ORACLE_LINEITEM_PRICING_ROLLUP,
    "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
    "class_threshold_filter": ORACLE_CLASS_THRESHOLD_FILTER,
    "iob_containment_join": ORACLE_IOB_CONTAINMENT_JOIN,
    "argmax_slot_assignment": ORACLE_ARGMAX_SLOT_ASSIGNMENT,
    "top1_per_group": ORACLE_TOP1_PER_GROUP,
    "cumsum_renumber": ORACLE_CUMSUM_RENUMBER,
    "header_prefix_run": ORACLE_HEADER_PREFIX_RUN,
    "midpoint_dilation": ORACLE_MIDPOINT_DILATION,
    "grid_pivot_export": ORACLE_GRID_PIVOT_EXPORT,
    "multiset_intersection_fscore": ORACLE_MULTISET_INTERSECTION_FSCORE,
    "metrics_summary_rollup": ORACLE_METRICS_SUMMARY_ROLLUP,
    "windowed_event_counts": ORACLE_WINDOWED_EVENT_COUNTS,
    "sessionize_events": ORACLE_SESSIONIZE_EVENTS,
    "exact_dedup": ORACLE_EXACT_DEDUP,
    "minhash_band_buckets": ORACLE_MINHASH_BAND_BUCKETS,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD_PAIRS,
    "simhash_neardup_pairs": ORACLE_SIMHASH_NEARDUP_PAIRS,
    "neardup_clusters": ORACLE_NEARDUP_CLUSTERS,
    "dedup_keep_canonical": ORACLE_DEDUP_KEEP_CANONICAL,
    "dedup_survivors": ORACLE_DEDUP_SURVIVORS,
    "cosine_topk_bruteforce": ORACLE_COSINE_TOPK_BRUTEFORCE,
    "cosine_topk_lsh": ORACLE_COSINE_TOPK_LSH,
    "embedding_neardup": ORACLE_EMBEDDING_NEARDUP,
    "token_count": ORACLE_TOKEN_COUNT,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "quality_features": ORACLE_QUALITY_FEATURES,
    "lang_signal": ORACLE_LANG_SIGNAL,
    "doc_fingerprints": ORACLE_DOC_FINGERPRINTS,
    "page_location_fast": ORACLE_PAGE_LOCATION_FAST,
    "group_cv_stats": ORACLE_GROUP_CV_STATS,
    "header_flag_semijoin": ORACLE_HEADER_FLAG_SEMIJOIN,
    "dataset_intersect_scan": ORACLE_DATASET_INTERSECT_SCAN,
    "locate_table_cells": ORACLE_LOCATE_TABLE_CELLS,
    "locate_caption_hull": ORACLE_LOCATE_CAPTION_HULL,
    "aggregate_cell_boundaries": ORACLE_AGGREGATE_CELL_BOUNDARIES,
    "standardize_xml_annotation": ORACLE_STANDARDIZE_XML_ANNOTATION,
    "pdf_text_fixpoint": ORACLE_PDF_TEXT_FIXPOINT,
    "create_table_dict_checks": ORACLE_CREATE_TABLE_DICT_CHECKS,
    "random_shuffle_cap": ORACLE_RANDOM_SHUFFLE_CAP,
    "sessionize_stream_stateful": ORACLE_SESSIONIZE_STREAM_STATEFUL,
    "dedup_event_stream": ORACLE_DEDUP_EVENT_STREAM,
    "dedup_event_stream_watermark": ORACLE_DEDUP_EVENT_STREAM_WATERMARK,
    "repetition_filters": ORACLE_REPETITION_FILTERS,
    "ivf_topk": ORACLE_IVF_TOPK,
    "ivf_topk_nprobe2": ORACLE_IVF_TOPK_NPROBE2,
    "ivf_cell_stats": ORACLE_IVF_CELL_STATS,
    "ivf_train_codebook": ORACLE_IVF_TRAIN_CODEBOOK,
    "salted_join_agg": ORACLE_SALTED_JOIN_AGG,
    "canonicalize_tables": ORACLE_CANONICALIZE_TABLES,
    "grits_planted_perturbation": ORACLE_GRITS_PLANTED_PERTURBATION,
    "cells_html_export": ORACLE_CELLS_HTML_EXPORT,
    "binary_metadata": ORACLE_BINARY_METADATA,
}
