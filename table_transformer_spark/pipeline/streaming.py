"""Incremental ingestion: Structured Streaming front-end for the
extraction pipeline.

The reference is a pure batch job; its incremental story is manual
range sharding.  Here, new document files are discovered by a streaming
source and each micro-batch runs the *same* batch extraction via
``foreachBatch``.  ``foreachBatch`` is at-least-once — a crash between
the sink write and the checkpoint commit replays the batch — so the
sink write is made idempotent: each micro-batch lands in its own
``epoch=<id>`` directory with overwrite, and a replayed batch replaces
its own previous partial output instead of appending a duplicate.
This composes with (does not replace) the bucket-level status table of
:mod:`.checkpoint`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .extract import extract


SESSION_OUTPUT_SCHEMA = ("user_id long, session_start long, "
                         "session_end long, n_events long")
SESSION_STATE_SCHEMA = "session_start long, last_ts long, n_events long"


def sessionize_state_fn(key, pdfs, state, gap_sec: int = 1800):
    """Per-user gap sessionization with explicit state — the
    ``applyInPandasWithState`` kernel (streaming twin of the batch
    ``sessionize_events`` window query).

    State = (session_start, last_ts, n_events) in epoch seconds.  A
    new event more than *gap_sec* after ``last_ts`` CLOSES the running
    session (emitted immediately — append mode) and opens a new one;
    an event-time timeout (watermark passing ``last_ts + gap_sec``)
    flushes the final open session and clears the state.  Duck-typed
    on the GroupState surface so the logic is unit-testable without a
    streaming harness.
    """
    import pandas as pd

    def emit(rows):
        return pd.DataFrame(
            rows, columns=["user_id", "session_start", "session_end",
                           "n_events"])

    if state.hasTimedOut:
        ss, lt, n = state.get
        state.remove()
        yield emit([(key[0], ss, lt, n)])
        return

    batches = [pdf for pdf in pdfs if len(pdf)]
    events = (pd.concat(batches).sort_values("ts")
              if batches else pd.DataFrame(columns=["ts"]))
    ss = lt = None
    n = 0
    if state.exists:
        ss, lt, n = state.get
    closed = []
    far = None  # running group of far-late events (start, last, n)
    for ts in events["ts"]:
        t = int(pd.Timestamp(ts).timestamp())
        if ss is None:
            ss, lt, n = t, t, 1
        elif t < ss - gap_sec:
            # late (within-watermark) events more than a gap BEFORE the
            # carried session: they can't belong to it (their true
            # neighbors may already have been emitted; an online
            # sessionizer can't re-open them), but consecutive far-late
            # events within a gap of EACH OTHER form one session, same
            # rule as everywhere else.  Sorted ascending, they are a
            # prefix: the carried ss only decreases via the widening
            # branch, which requires t ≥ ss - gap.
            if far is not None and t - far[1] <= gap_sec:
                far = (far[0], t, far[2] + 1)
            else:
                if far is not None:
                    closed.append((key[0], *far))
                far = (t, t, 1)
        elif t - lt > gap_sec:
            closed.append((key[0], ss, lt, n))
            ss, lt, n = t, t, 1
        else:
            # a late event within a gap of the carried session widens
            # its window instead of moving the end backwards
            ss, lt, n = min(ss, t), max(lt, t), n + 1
    if far is not None:
        closed.append((key[0], *far))
    if ss is not None:
        state.update((ss, lt, n))
        # flush the open session once event time passes last + gap
        state.setTimeoutTimestamp((lt + gap_sec) * 1000)
    if closed:
        yield emit(closed)


def sessionize_stream(spark: SparkSession, events_dir: str, event_schema,
                      gap_sec: int = 1800, watermark: str = "10 minutes",
                      max_files_per_trigger: int = 1,
                      glob: str | None = None):
    """Streaming gap-based sessionization: one output row per CLOSED
    session (sessions close on an over-gap successor event or on
    event-time timeout once the watermark passes).  State lives per
    user_id; scale-out is the state-store shuffle on user_id, exactly
    the keyed-state pattern a 100 TB clickstream job would run.

    With the default ``watermark`` (10 min) < ``gap_sec`` (30 min) a
    within-watermark event can never be far-late (more than a gap
    before the carried session start); configuring watermark > gap
    makes that branch reachable, where far-late runs are sessionized
    among themselves by the same gap rule."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    reader = (spark.readStream.schema(event_schema)
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = reader.parquet(events_dir)

    def fn(key, pdfs, state):  # bind gap_sec for the executors
        yield from sessionize_state_fn(key, pdfs, state, gap_sec=gap_sec)

    return (stream
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType=SESSION_OUTPUT_SCHEMA,
                stateStructType=SESSION_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def stream_extract(spark: SparkSession, documents_dir: str,
                   media: DataFrame, out_dir: str,
                   checkpoint_dir: str, mode: str = "clean"):
    """Watch ``documents_dir`` for new parquet files; extract each
    micro-batch and append the ordered spans to ``out_dir``.

    Returns the started StreamingQuery (caller controls lifecycle:
    ``processAllAvailable()`` for tests, ``awaitTermination()`` in a
    job).
    """
    stream = (spark.readStream
              .schema(schemas.DOCUMENTS_SCHEMA)
              .option("maxFilesPerTrigger", 8)
              .parquet(documents_dir))

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # epoch-keyed overwrite = idempotent under foreachBatch replay
        (extract(batch_df, media, mode=mode)
         .write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}"))

    return (stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def dedup_event_stream(spark: SparkSession, events_dir: str, event_schema,
                       keys=("user_id", "event_type"),
                       watermark: str | None = None,
                       max_files_per_trigger: int = 1,
                       glob: str | None = None):
    """Streaming ingest dedup: emit only the first occurrence of each
    key combination.

    Two state regimes, picked by ``watermark``:

    * ``None`` → global ``dropDuplicates``: exact streaming DISTINCT.
      State grows with the number of distinct keys — right when keys
      are drawn from a bounded catalog (content fingerprints of a
      fixed corpus, (user, event_type) pairs), and the batch twin is
      plain ``SELECT DISTINCT``.
    * ``"10 minutes"``-style delay → ``dropDuplicatesWithinWatermark``:
      state is bounded by the delay window — THE scale pattern for
      10^12-doc ingest dedup, where the same document re-arrives in
      bursts (crawler re-fetches, retried uploads) and an occurrence
      separated by more than the delay may re-emit after its state is
      evicted.  Exactly-once within the window, at-least-once across
      windows; downstream exact dedup (``exact_dedup_groups``) stays
      the batch backstop.

    Output is the key columns only: WHICH physical row survives is
    arrival-order-dependent, the key set itself is deterministic.
    """
    from pyspark.sql import functions as F

    reader = (spark.readStream.schema(event_schema)
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = (reader.parquet(events_dir)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    key_cols = list(keys)
    if watermark is None:
        deduped = stream.dropDuplicates(key_cols)
    else:
        deduped = (stream.withWatermark("ts", watermark)
                   # unlike watermarked dropDuplicates, the event-time
                   # column stays OUT of the key set here — the API
                   # exists precisely so state can expire by watermark
                   # while dedup is on the business keys alone
                   .dropDuplicatesWithinWatermark(key_cols))
    return deduped.select(*key_cols)
