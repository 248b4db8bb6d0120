"""Structured Streaming variants (SURVEY 2.H mapping).

The reference's hand-rolled polling loop maps onto real streaming
primitives: checkpointed offsets replace the KV watermark,
``withWatermark`` replaces the clamp guards for late data,
``Trigger.AvailableNow`` replaces the bounded backfill run, and the
idempotent upsert sink becomes ``foreachBatch`` + last-wins dedup.

These run against the parquet fixtures via ``readStream`` with a fixed
schema; ``maxFilesPerTrigger`` is the input-rate cap (H4 analog).
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# State-store partition count for the stateful queries below.  Sized to
# the STATE, not the corpus: stateful-operator state is bounded by
# (arrival rate x watermark horizon) — tens of thousands of rows here —
# and every state partition pays per-batch store open/commit I/O (4
# stores per stream-stream join), so partitions beyond the state volume
# are pure overhead: 32 -> 8 cut the interval join from ~8 s to ~3 s at
# sf0.1 with identical results.  The count is FROZEN into the
# checkpoint at first batch (Spark refuses to change it on restart), so
# a deployment sizes it from the horizon SLA up front; the non-state
# shuffles of the surrounding plan keep the session-wide parallelism.
STATE_PARTITIONS = 8


@contextmanager
def _state_partitions(spark: SparkSession, n: int = STATE_PARTITIONS):
    """Pin spark.sql.shuffle.partitions (which seeds the state-store
    partition count at a streaming query's FIRST batch) for the
    duration of one query run, restoring the session value after."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drive(writer, query_name: str,
           checkpoint_dir: str | None = None) -> None:
    """Start *writer* under ``Trigger.AvailableNow`` (honors source rate
    limits like maxFilesPerTrigger, so batch layout matches a paced
    replay, and self-terminates the way a scheduled production replay
    would) on a fresh checkpoint unless one is passed (a reused
    checkpoint replays no data), drive it to completion over the
    bounded fixture and stop it.  processAllAvailable is the backstop
    that bounds the run even if the trigger did not."""
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{query_name}_")
    q = (writer.trigger(availableNow=True)
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _run_to_memory(spark: SparkSession, df: DataFrame, query_name: str,
                   output_mode: str = "append",
                   checkpoint_dir: str | None = None) -> DataFrame:
    """THE drive-to-completion harness for every memory-sink streaming
    row: state-partition pin for the query's first batch, bounded
    :func:`_drive`, then the memory table read back as a DataFrame."""
    with _state_partitions(spark):
        _drive(df.writeStream.outputMode(output_mode)
               .format("memory").queryName(query_name),
               query_name, checkpoint_dir)
    return spark.sql(f"SELECT * FROM {query_name}")


def foreach_file_batch(spark: SparkSession, source_dir: str, schema, fn,
                       query_name: str) -> None:
    """Stream the parquet directory *source_dir* one file per trigger
    (maxFilesPerTrigger=1; the file source takes the oldest first) and
    call ``fn(batch, batch_id)`` on every non-empty micro-batch — the
    harness of the rows that prove a maintenance verb batch-split
    invariant by feeding it a file stream.  *query_name* names the
    checkpoint directory."""
    def each(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            fn(batch, batch_id)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(source_dir))
    _drive(stream.writeStream.foreachBatch(each), query_name)


# streaming-source schema: a file stream needs its schema up front.
# events.ts has shipped both as TIMESTAMP(MICROS) (reads natively) and
# TIMESTAMP(NANOS) (read as a nanosecond long under
# spark.sql.legacy.parquet.nanosAsLong and converted below) — the batch
# reader (sources.readers.read_table) resolves which form this fixture
# uses, and the stream mirrors its resolved schema.


def read_event_stream(spark: SparkSession, sf_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events fixture (H1: source offsets
    are the watermark; H4: maxFilesPerTrigger is the backfill cap).

    The source path is a GLOB (``[e]vents.parquet``): FileStreamSource
    rejects a bare file path ("basePath must be a directory") but
    accepts a glob, whose parent directory becomes the base.

    Single-form assumption: the stream schema is inferred from ONE
    batch footer read, so every parquet file matched by the glob must
    share one physical ts form (all micros or all nanos).  Holds for
    the single-file fixtures; a mixed-form directory would need
    per-file resolution before the union.
    """
    from ..sources import readers

    # one driver-side footer read (via the batch reader, which pins the
    # nanos-as-long and NTZ-as-LTZ confs) decides the ts form
    batch_schema = readers.read_table(spark, sf_dir, "events").schema
    nanos = "_ts_nanos" in batch_schema.names
    if nanos:
        source_schema = T.StructType([
            T.StructField(f.name, T.LongType() if f.name == "ts"
                          else f.dataType, f.nullable)
            for f in batch_schema if f.name != "_ts_nanos"])
    else:
        source_schema = batch_schema
    reader = (spark.readStream.schema(source_schema)
              .format("parquet"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(f"{sf_dir}/[e]vents.parquet")
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tumbling_event_counts(events: DataFrame,
                          window: str = "1 hour",
                          late: str = "2 hours",
                          round_digits: int | None = 6) -> DataFrame:
    """Event-time tumbling-window aggregation with late-data watermark
    (H2): counts and value sums per (window, event_type).  The batch
    twin of this query is ``tumbling_window_agg`` in __spark_entry__.
    ``round_digits=None`` leaves the sum raw so a caller can apply its
    own oracle-grid rounding without double-rounding artifacts."""
    s = F.sum("value")
    if round_digits is not None:
        s = F.round(s, round_digits)
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), s.alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "sum_value")
    )


def sliding_event_counts(events: DataFrame,
                         window: str = "1 hour",
                         slide: str = "30 minutes",
                         late: str = "2 hours",
                         round_digits: int | None = None) -> DataFrame:
    """Event-time SLIDING window (overlapping: each event lands in
    window/slide windows — 2 here), the smoothing form tumbling can't
    express; state holds window/slide concurrent open windows per key,
    still bounded by the watermark horizon."""
    s = F.sum("value")
    if round_digits is not None:
        s = F.round(s, round_digits)
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), s.alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "sum_value")
    )


def stream_interval_join(spark: SparkSession, sf_dir: str,
                         query_name: str,
                         join_window: str = "1 hour",
                         late: str = "2 hours") -> DataFrame:
    """Stream-STREAM inner join with an event-time interval condition —
    the hardest Structured Streaming shape: click events join purchase
    events of the same user landing within *join_window* after the
    click.  Both sides carry watermarks and the join condition bounds
    event time in both directions, so each side's buffered state is
    evictable the moment the other side's watermark passes the
    interval — state is O(watermark horizon x arrival rate), never
    O(stream).  Inner-join results emit as soon as both rows have
    arrived (append mode needs no window finalization for inner
    joins), so the availableNow replay of a bounded fixture equals the
    batch interval join exactly — which is the oracle.
    """
    def leg(etype: str, id_alias: str, ts_alias: str,
            user_alias: str) -> DataFrame:
        return (read_event_stream(spark, sf_dir)
                .filter(F.col("event_type") == etype)
                .select(F.col("event_id").alias(id_alias),
                        F.col("user_id").alias(user_alias),
                        F.col("ts").alias(ts_alias))
                .withWatermark(ts_alias, late))

    clicks = leg("click", "click_id", "click_ts", "user_id")
    purchases = leg("purchase", "purchase_id", "purchase_ts", "p_user")
    joined = (clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr(f"INTERVAL {join_window}")),
        "inner")
        .select("click_id", "purchase_id", "user_id",
                (F.unix_timestamp("purchase_ts")
                 - F.unix_timestamp("click_ts")).alias("delay_s")))
    return _run_to_memory(spark, joined, query_name)


def run_stream_once(spark: SparkSession, sf_dir: str,
                    query_name: str = "tumbling_counts",
                    output_mode: str = "append",
                    checkpoint_dir: str | None = None,
                    round_digits: int | None = 6,
                    agg_fn=None) -> DataFrame:
    """Drive the streaming query to completion over the current fixture
    contents (``Trigger.AvailableNow`` + memory sink) and return the
    result as a DataFrame — the local smoke-test harness for the
    streaming path, and the engine behind the
    ``streaming_tumbling_availablenow`` contract query.

    ``append`` (production mode) emits only windows finalized by the
    watermark — the trailing ``late`` interval stays in state;
    ``complete`` emits everything and matches the batch twin exactly.
    A fresh checkpoint dir is created per run unless one is passed
    (a reused checkpoint replays no data and yields an empty table).
    """
    events = read_event_stream(spark, sf_dir)
    agg = (agg_fn(events) if agg_fn is not None
           else tumbling_event_counts(events, round_digits=round_digits))
    return _run_to_memory(spark, agg, query_name,
                          output_mode=output_mode,
                          checkpoint_dir=checkpoint_dir)


def run_stream_dedup(spark: SparkSession, sf_dir: str,
                     query_name: str = "stream_dedup",
                     late: str = "2 hours") -> DataFrame:
    """Streaming dedup-on-ingest (H5): ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` on the message key — the streaming
    twin of the batch last-writer-wins upsert
    (operators.dedup.dedup_last_wins).

    ``dropDuplicatesWithinWatermark`` is the form whose state IS evicted
    past the watermark horizon: it timestamps each key's state row and
    drops it once the event-time watermark passes, so state size is
    bounded by the late window, not the corpus — the property that makes
    exactly-once-ish ingest viable at 100 TB.  (Plain
    ``dropDuplicates(["mid"])`` on a key-only subset keeps one state row
    per distinct key FOREVER — watermark cleanup only applies when the
    event-time column is part of the dedup subset.)  Duplicate keys are
    synthesized (event_id div 2 — every key arrives ~twice) since the
    fixture's ids are unique."""
    events = read_event_stream(spark, sf_dir)
    dedup = (events.withColumn("mid", F.expr("event_id div 2"))
             .withWatermark("ts", late)
             .dropDuplicatesWithinWatermark(["mid"]))
    return _run_to_memory(spark, dedup, query_name)


# ---------------------------------------------------------------------------
# Custom stateful operator: gap-based sessionization via
# applyInPandasWithState (SURVEY 2.H extension; the batch twin is the
# `sessionize` contract query).
# ---------------------------------------------------------------------------

SESSION_OUT_SCHEMA = ("user_id bigint, session_start timestamp, "
                      "session_end timestamp, n_events bigint")
SESSION_STATE_SCHEMA = "start timestamp, last timestamp, n bigint"


def _sessionize_group(ts_list, open_session, gap):
    """One user's micro-batch fold — the PURE core of
    :func:`stateful_sessionize`, extracted so the cross-batch
    recurrence is directly testable against the batch reference
    (r14 review: the late-event fix deserves randomized validation,
    which driving real streaming queries per example cannot afford).

    *ts_list*: the batch's timestamps sorted ascending;
    *open_session*: ``(start, last, n)`` or None — the state;
    *gap*: the session gap (a Timedelta or any subtractable scalar).
    Returns ``(closed, new_state)`` where *closed* is a list of
    ``(start, end, n)`` sessions this batch closed, in emission order.

    Semantics (matching the batch twin over the union of batches,
    given the open session is the LATEST thing known): events more
    than one gap before the open session's start sessionize among
    themselves and close immediately; an event within the gap extends
    the session backwards; events from start onward fold/close
    forward.  Only sessions emitted in PRIOR batches are immutable.
    """
    if open_session is not None:
        start, last, n = open_session
    else:
        start = last = None
        n = 0
    closed = []
    if start is not None and ts_list and ts_list[0] < start:
        pre = [t for t in ts_list if t < start]
        ts_list = [t for t in ts_list if t >= start]
        ps = pe = pre[0]
        pc = 1
        for t in pre[1:]:
            if t - pe > gap:
                closed.append((ps, pe, pc))
                ps = pe = t
                pc = 1
            else:
                pe, pc = t, pc + 1
        if start - pe <= gap:
            start, n = ps, n + pc
        else:
            closed.append((ps, pe, pc))
    for ts in ts_list:
        if start is None:
            start, last, n = ts, ts, 1
        elif ts - last > gap:
            closed.append((start, last, n))
            start, last, n = ts, ts, 1
        else:
            # max(): an event inside the open span (start <= ts <=
            # last, e.g. delivered by a prior chunk boundary) folds
            # in without moving the end backwards
            last, n = max(last, ts), n + 1
    new_state = None if start is None else (start, last, n)
    return closed, new_state


def stateful_sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based session assembly as a custom stateful operator.

    Per user: events within *gap_minutes* of the previous event extend
    the current session; a larger gap CLOSES it (emitted downstream) and
    opens a new one.  The open session per user persists in the state
    store across micro-batches — the semantics ``groupBy(window)`` can't
    express (session length is data-dependent, not fixed).

    Scale: state is one row per user (start, last, n); the shuffle key
    is user_id.  A production deployment adds a state timeout to evict
    idle users instead of keeping them forever.

    Late data: an event arriving WITHIN the gap before the open
    session's start extends it backwards; one arriving MORE than a gap
    before forms (and immediately closes) its own earlier session —
    both matching the batch twin over the union of all batches.  Only
    sessions already emitted in prior micro-batches are immutable
    (append mode); bound that lateness with an upstream watermark.
    """
    import pandas as pd  # local import: only the streaming path needs it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = pd.Timedelta(minutes=gap_minutes)

    def assemble(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            start, last, n = state.get
            open_session = (pd.Timestamp(start), pd.Timestamp(last),
                            int(n))
        else:
            open_session = None
        # the iterator delivers the group in ARROW-CHUNK order (shuffle
        # read order, not time order) — a group larger than one Arrow
        # batch would otherwise be gap-scanned per chunk, regressing
        # session_end backwards whenever a later chunk starts earlier.
        # Concatenate then sort ONCE; memory is bounded by the user's
        # rows in the micro-batch, the same bound any per-group sort
        # implies.
        chunks = [pdf["ts"] for pdf in pdf_iter]
        all_ts = (pd.concat(chunks).sort_values() if chunks
                  else pd.Series([], dtype="datetime64[ns]"))
        ts_list = [pd.Timestamp(t) for t in all_ts]
        closed, new_state = _sessionize_group(ts_list, open_session, gap)
        if new_state is not None:
            s, e, cnt = new_state
            state.update((s.to_pydatetime(), e.to_pydatetime(), int(cnt)))
        if closed:
            yield pd.DataFrame(
                [(user_id, s, e, cnt) for s, e, cnt in closed],
                columns=["user_id", "session_start", "session_end",
                         "n_events"])

    return (events.select("user_id", "ts")
            .groupBy("user_id")
            .applyInPandasWithState(
                assemble, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


BUDGET_OUT_SCHEMA = ("doc_id bigint, source string, n_tokens bigint, "
                     "cum_tokens bigint")
BUDGET_STATE_SCHEMA = "consumed bigint, closed boolean"


def read_document_stream(spark: SparkSession, sf_dir: str,
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    """File-source stream over the documents fixture (same glob trick
    as :func:`read_event_stream`; no timestamp-form branching — the
    documents table has no ts column)."""
    from ..sources import readers

    schema = readers.read_table(spark, sf_dir, "documents").schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    return reader.load(f"{sf_dir}/[d]ocuments.parquet")


def stateful_budget_admit(docs: DataFrame, budgets: dict) -> DataFrame:
    """Streaming token-budget admission — the stateful twin of
    corpus.mix_token_budget: per source, admit arriving documents (in
    (micro-batch, doc_id) order) until the source's token budget
    fills, then CLOSE the source for the rest of the stream.  State is
    two scalars per source (consumed tokens, closed flag), so the
    state store is bounded by the number of sources regardless of
    stream length — the continuous-crawl form of the batch mixing
    job, where the budget must be enforced as data ARRIVES rather
    than re-derived per run.

    Because admitted-token totals are monotone, the FCFS stop rule
    emits exactly the prefix whose running total (over ALL arrived
    docs of the source) stays <= budget — which is the batch
    operator's filter semantics, so a single-micro-batch run over a
    static fixture equals a plain window cumsum in doc_id order (the
    oracle of the streaming_budget_admit row)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def admit(key, pdf_iter, state: GroupState):
        (source,) = key
        budget = budgets.get(source)
        if state.exists:
            consumed, closed = state.get
        else:
            consumed, closed = 0, False
        chunks = list(pdf_iter)
        out = []
        if chunks and budget is not None and not closed:
            pdf = pd.concat(chunks).sort_values("doc_id")
            for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
                if consumed + int(n) > budget:
                    closed = True
                    break
                consumed += int(n)
                out.append((int(doc_id), source, int(n), consumed))
        state.update((int(consumed), bool(closed)))
        if out:
            yield pd.DataFrame(out, columns=[
                "doc_id", "source", "n_tokens", "cum_tokens"])

    return (docs.groupBy("source")
            .applyInPandasWithState(
                admit, BUDGET_OUT_SCHEMA, BUDGET_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


def run_stateful_budget_admit(spark: SparkSession, sf_dir: str,
                              budgets: dict,
                              query_name: str = "budget_admit"
                              ) -> DataFrame:
    """Drive the streaming budget gate over the fixture to completion
    (AvailableNow + memory sink).  Token counting happens in the
    STREAM plan (the shared whitespace_token_count expression) so the
    stateful kernel only cumsums — one token rule, both engines."""
    from ..functions import analysis

    docs = (read_document_stream(spark, sf_dir)
            .select("doc_id", "source",
                    analysis.whitespace_token_count(F.col("text"))
                    .cast("long").alias("n_tokens")))
    admitted = stateful_budget_admit(docs, budgets)
    return _run_to_memory(spark, admitted, query_name)


def run_stateful_sessions(spark: SparkSession, sf_dir: str,
                          gap_minutes: int = 30,
                          query_name: str = "stateful_sessions") -> DataFrame:
    """Drive the stateful sessionizer over the fixture stream to
    completion; returns the CLOSED sessions (each user's trailing open
    session stays in state, as it must)."""
    sessions = stateful_sessionize(read_event_stream(spark, sf_dir),
                                   gap_minutes=gap_minutes)
    return _run_to_memory(spark, sessions, query_name)


def stream_upsert(spark: SparkSession, sf_dir: str, store_path: str,
                  query_name: str = "stream_upsert") -> None:
    """H5 end-to-end: stream the source into the idempotent upsert sink
    via foreachBatch — each micro-batch merges last-writer-wins on
    event_id, so replays/retries never duplicate (the streaming twin of
    sinks.upsert_parquet + the reference's INSERT OR REPLACE)."""
    from ..sources import sinks

    events = read_event_stream(spark, sf_dir)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        sinks.upsert_parquet(batch_df.sparkSession, batch_df, store_path,
                             key="event_id", order_col="ts",
                             layout="range")

    _drive(events.writeStream.foreachBatch(upsert_batch), query_name)


def stream_upsert_ttl(spark: SparkSession, sf_dir: str, store_path: str,
                      cutoff, query_name: str = "stream_upsert_ttl",
                      ) -> None:
    """H5 + lifecycle: the TTL twin of :func:`stream_upsert` — each
    micro-batch merges last-writer-wins into the range-layout store
    and then runs ``sinks.retention_sweep`` with the SAME cutoff, so
    the retention window is enforced at ingest cadence instead of by
    a scheduled job (the shape a compliance window actually runs in:
    data expires as data arrives).  Batch-split invariant: upsert
    then sweep per batch converges on exactly the live-window rows
    whatever the batch boundaries, because the sweep is idempotent
    and an already-expired arrival is dropped by the first sweep
    after it lands.  Per-batch sweep cost is the footer probe +
    boundary rewrite — O(dirs touched), not O(store)."""
    from ..sources import sinks

    events = read_event_stream(spark, sf_dir)

    def upsert_then_sweep(batch_df: DataFrame, batch_id: int) -> None:
        sinks.upsert_parquet(batch_df.sparkSession, batch_df, store_path,
                             key="event_id", order_col="ts",
                             layout="range")
        sinks.retention_sweep(batch_df.sparkSession, store_path, cutoff)

    _drive(events.writeStream.foreachBatch(upsert_then_sweep), query_name)


def stream_index_upsert(spark: SparkSession, index_path: str,
                        source_dir: str, schema,
                        maintain_every: int | None = None,
                        rebuild_growth: float | None = None,
                        rebuild_skew: float | None = None,
                        query_name: str = "stream_index_upsert"
                        ) -> list[dict]:
    """Continuous vector ingestion into a persisted ANN index with the
    maintenance loop closed IN-STREAM (VERDICT r12 item 6): each
    micro-batch of new vectors folds into the index via
    ann_index.upsert_index (centroids deliberately frozen — cell
    balance drifts, exactly the decay the policy watches), and every
    *maintain_every* non-empty micro-batches the shared policy
    (ann_index.maintain_index) evaluates growth/skew and stages a
    whole-dir-swap rebuild when an armed threshold trips — the
    observe -> decide -> act loop the batch facade runs
    (Engine.maintain_index), now evaluated at ingest cadence instead
    of waiting for a scheduled job.  A rebuild resets the growth
    baseline (fresh meta n_rows), so steady streaming trips it once
    per threshold's worth of growth, not once per batch.

    ``maintain_every=None`` is plain streaming upsert (the
    pre-r13 behavior, bit-identical index state).  Returns the
    maintenance decisions in evaluation order (empty when the policy
    never ran); the index state itself is batch-split invariant
    regardless."""
    from ..operators import ann_index

    log: list[dict] = []
    seen = {"batches": 0}

    def fold(bdf: DataFrame, batch_id: int) -> None:
        ann_index.upsert_index(bdf.sparkSession, index_path, bdf)
        seen["batches"] += 1
        if maintain_every and seen["batches"] % maintain_every == 0:
            log.append(ann_index.maintain_index(
                bdf.sparkSession, index_path,
                rebuild_growth=rebuild_growth,
                rebuild_skew=rebuild_skew))

    foreach_file_batch(spark, source_dir, schema, fold, query_name)
    return log
