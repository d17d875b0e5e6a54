"""Structured Streaming analytics over the events stream: watermarked
tumbling-window aggregation and custom stateful sessionization
(applyInPandasWithState).

Both have exact batch twins (operators/temporal.tumbling_window_counts,
operators/analytics.user_sessions) and the tests assert stream == batch
on the same data — the streaming layer adds incremental/stateful
execution, not new semantics.

Scale notes: the windowed agg is the canonical shuffle-once streaming
plan (partial aggregation per input partition, final agg per
(window, type) key); the watermark bounds state to windows younger than
the lateness budget, so state size is O(types × windows-in-horizon),
independent of stream length. Sessionization state is one small tuple
per active user key, dropped as sessions close; with event-time timeouts
it stays bounded at any user cardinality because Spark shards the state
store by key hash.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..session import source_rows

SESSION_GAP_S = 1800  # same 30-min gap as the batch sessionizer

EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


# Spark's default JSON timestamp pattern truncates to milliseconds;
# full microsecond precision must survive the dump -> stream round-trip
# or sessions drift from the batch/oracle by sub-ms amounts.
JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


# State-store shard count for the bounded replays: every stateful
# operator commits one state-store delta PER shuffle partition PER
# micro-batch, so at replay scale (10^4-10^5 keys) 32 shards are pure
# commit overhead — measured 11.8 s -> 2.7 s on the stream-stream join
# wrapper. This is the streaming analogue of sizing
# spark.sql.shuffle.partitions to data volume: a production deployment
# sizes shards to keys-in-horizon / executor count, and the number is
# fixed at first checkpoint (changing it needs a new checkpoint dir,
# which these throwaway replays always have).
REPLAY_STATE_PARTITIONS = 8

# Tiered: the sf10 profile (tools/sessionize_profile.py, SCALING_r11)
# attributed stream_sessionize_closed's decade factor — state commits
# are FLAT (1.1-1.6 s at every decade) and plan overhead
# is <1 s; the cost is the Arrow fold's task time (25.7 / 82.5 / 718 s
# at 10^5/10^6/10^7 events, linear in rows) running on only 8 of 32
# cores. So the governor shrinks the shard count ONLY while the replay
# is small enough for commit overhead to matter; past REPLAY_WIDE_ROWS
# the session's full shuffle width stands (shard count does not affect
# results — state is per-key — so oracles are untouched).
REPLAY_WIDE_ROWS = 1_000_000

# Micro-batch budget for the bounded replays (see
# sessionize_closed_batch): per-group fold overhead is paid once per
# (user, batch), so a replay's batch count must not grow with corpus
# size. Two batches keep the cross-batch state-carry path exercised.
REPLAY_MAX_BATCHES = 2


class _replay_shuffle_parts:
    """Temporarily pin spark.sql.shuffle.partitions for a bounded
    streaming replay of ``n_rows`` input rows (``source_rows`` of the
    replayed frame), restoring the session value on exit: small replays
    (commit-bound) shrink to ``REPLAY_STATE_PARTITIONS`` shards,
    replays of ≥ ``REPLAY_WIDE_ROWS`` rows (compute-bound — the fold
    dwarfs the per-shard commit) keep the session width."""

    def __init__(self, spark: SparkSession, n_rows: int):
        self.spark = spark
        self.wide = n_rows >= REPLAY_WIDE_ROWS

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        if not self.wide:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(REPLAY_STATE_PARTITIONS)
            )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def events_file_stream(spark: SparkSession, json_dir: str, max_files: int = 10) -> DataFrame:
    """File-based stream of event JSON (testable stand-in for Kafka;
    swap in streaming/ingest.kafka_stream_source for a broker)."""
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .option("timestampFormat", JSON_TS_FMT)
        .json(json_dir)
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """STREAM-STATIC enrichment: the event stream joined to a static
    (batch) dimension on event_type — the lookup-table pattern every
    production stream runs (carrier metadata, type→SLA maps, feature
    registries). The static side is broadcast, so the join is
    stateless and map-side: no watermark, no join state, every
    micro-batch re-reads the dim snapshot (which is exactly the
    stream-static contract — a dim update is picked up on the next
    trigger without restarting the query). Left join keeps events
    whose type has no dim row (enrichment must never drop facts).

    The same call works in a pure-batch plan — the stream==batch
    equality test feeds both legs through this one function."""
    d = F.broadcast(
        dim.select(
            F.col("event_type"),
            F.col("category"),
            F.col("sla_minutes"),
        )
    )
    return events.join(d, "event_type", "left").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.coalesce(F.col("category"), F.lit("unknown")).alias("category"),
        F.col("sla_minutes"),
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival of each
    key and drops re-deliveries inside the lateness budget — the step
    that turns at-least-once transport (broker redelivery, producer
    retry) into effectively-once ingest. Unlike ``dropDuplicates`` on a
    stream, state holds only keys younger than the watermark, so it is
    O(keys-in-horizon) and survives unbounded streams; the batch twin
    is plain ``dropDuplicates`` (test asserts stream == batch on
    identical duplicated input, where first-wins is value-neutral)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def windowed_counts(
    events: DataFrame, minutes: int = 60, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window per-type counts/sums — identical
    aggregation expressions to the batch twin; the watermark lets Spark
    finalize and evict windows older than the lateness budget."""
    win = F.window("ts", f"{minutes} minutes")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hopping_windowed_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked HOPPING-window (10 min width / 5 min slide) per-type
    counts/sums — streaming twin of temporal.hopping_window_counts;
    identical aggregation expressions, each event contributing to the
    same two overlapping windows, state evicted past the watermark."""
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# state: open session for the user (epoch micros to stay timezone-proof;
# value total in integer cents so accumulation is exact and matches a
# DECIMAL(18,2)-sum oracle bit-for-bit regardless of arrival order)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)

_US = 1_000_000

# Session ENTRY CAP (VERDICT r9 #4): a pathological key that never goes
# idle (a bot clicking every 29 minutes forever) would otherwise grow
# one session without bound — n_events/total_cents are O(1) in state,
# but the SESSION itself (and the eventual output row's time span)
# becomes unbounded, and a deployment can never emit it. Close-on-
# overflow: when event cap+1 of a gap-island arrives, the full block is
# emitted and a new block opens at that event — so every emitted
# session carries ≤ cap events, state stays one bounded tuple per user,
# and the islands oracle mirrors the split exactly (chunks of cap in
# (ts, event_id) order). 512 never triggers at committed SFs (max
# observed island is 4 events), so the registered oracle values are
# unchanged; the capped regime's cross-engine parity is pinned in
# tests/test_streaming_windowed.py with a cap of 2.
SESSION_MAX_EVENTS = 512


def _sessionize_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    max_events: int = SESSION_MAX_EVENTS,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's events (sorted by event time) into the
    user's open session; emit every session closed by a >30 min gap or
    by the entry cap overflowing, keep the still-open one in state.

    FULLY VECTORIZED (VERDICT r10 #4): the sf10 profile measured the
    previous per-row Python loop at ~170 µs/event — 1,680 task-seconds
    for 10M events, 99% of the replay's decade factor (state commits
    were flat at 1-2 s). The same recurrence in closed form: gap
    islands are ``diff(t) > gap`` boundaries, capped blocks are
    ``position-within-island // max_events`` (close-on-overflow means
    blocks are exact chunks of ``max_events`` in (ts, event_id) order —
    the identical chunking the islands oracle performs), and per-block
    (start, end, n, cents) reduce via ``np.add.reduceat``. Every block
    but the last is closed; the last merges with (or replaces) the
    carried open-session tuple in state."""
    (user_id,) = key
    if state.exists:
        start_us, last_us, n_ev, cents = state.get
    else:
        start_us = last_us = -1
        n_ev, cents = 0, 0

    # Materialize the group's chunks and sort ONCE with the event_id
    # tiebreak (ADVICE r10): the entry-cap split makes intra-island
    # order semantically significant, and the oracle chunks by
    # (ts, event_id) — a ts-only unstable sort (or per-chunk sorting
    # when Arrow splits the group) can put duplicate-timestamp events
    # into different capped blocks and diverge n_events/total_value.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        state.update((start_us, last_us, n_ev, cents))
        return
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    order = np.lexsort(
        (pdf["event_id"].to_numpy(), pdf["ts"].to_numpy("datetime64[ns]"))
    )
    ts_ns = pdf["ts"].to_numpy("datetime64[ns]")[order]
    vals = pdf["value"].to_numpy(dtype="float64")[order]
    # Non-null contract (ADVICE r11 #2): the old per-row
    # ``int(round(float(value)))`` loop raised on None/NaN; the
    # vectorized casts would instead turn NaN into INT64_MIN garbage
    # cents and NaT into a bogus epoch, silently corrupting session
    # totals. Fail as loudly as the loop did.
    if np.isnat(ts_ns).any():
        raise ValueError(f"sessionize: NULL ts for user_id={user_id}")
    if np.isnan(vals).any():
        raise ValueError(f"sessionize: NULL/NaN value for user_id={user_id}")
    t_us = ts_ns.astype("int64") // 1000
    # 2dp values -> exact cents (np.rint is round-half-even, matching
    # the Python round() the row loop used)
    c = np.rint(vals * 100.0).astype("int64")
    n = len(t_us)
    gap_us = SESSION_GAP_S * _US

    # Does the batch's first event continue the carried open session?
    cont = start_us >= 0 and (int(t_us[0]) - last_us) <= gap_us
    # a carried session that closes standalone (by gap, or because its
    # block is already full — it stays open until the NEXT arrival)
    emit_carried = start_us >= 0 and (not cont or n_ev >= max_events)

    new_isl = np.empty(n, dtype=bool)
    new_isl[0] = True
    new_isl[1:] = (t_us[1:] - t_us[:-1]) > gap_us
    isl_first = np.flatnonzero(new_isl)  # first row index of each island
    isl = np.cumsum(new_isl) - 1  # 0-based island id per row
    pos = np.arange(n) - isl_first[isl]  # 0-based position within island
    carried_merges = cont and n_ev < max_events
    if cont:
        # island 0 continues the carried block: offset its positions by
        # the carried count (a full carried block pushes row 0 into
        # block 1, closing the carried block standalone above).
        pos[isl == 0] += n_ev
    blk = pos // max_events
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = new_isl[1:] | (blk[1:] != blk[:-1])
    starts = np.flatnonzero(new_grp)
    g_start = t_us[starts]
    g_end = t_us[np.append(starts[1:] - 1, n - 1)]
    g_n = np.append(starts[1:], n) - starts
    g_cents = np.add.reduceat(c, starts)
    if carried_merges:
        g_start[0] = start_us
        g_n[0] += n_ev
        g_cents[0] += cents
    state.update(
        (int(g_start[-1]), int(g_end[-1]), int(g_n[-1]), int(g_cents[-1]))
    )
    if emit_carried or len(starts) > 1:
        # all blocks but the last close; array-sliced, no per-row Python
        o_start, o_end = g_start[:-1], g_end[:-1]
        o_n, o_cents = g_n[:-1], g_cents[:-1]
        if emit_carried:
            o_start = np.concatenate(([start_us], o_start))
            o_end = np.concatenate(([last_us], o_end))
            o_n = np.concatenate(([n_ev], o_n))
            o_cents = np.concatenate(([cents], o_cents))
        yield pd.DataFrame(
            {
                "user_id": np.full(len(o_start), user_id, dtype="int64"),
                "session_start": o_start.astype("datetime64[us]"),
                "session_end": o_end.astype("datetime64[us]"),
                "n_events": o_n.astype("int64"),
                "total_value": o_cents / 100.0,
            }
        )


def sessionize_stream(
    events: DataFrame, max_events: int = SESSION_MAX_EVENTS
) -> DataFrame:
    """Custom stateful operator: per-user sessionization with a 30-min
    inactivity gap and a ``max_events`` entry cap (close-on-overflow —
    see SESSION_MAX_EVENTS), emitting sessions as they close. State is
    one bounded open-session tuple per user, checkpointed with the
    query (restart-safe — tested)."""

    def fold(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, max_events=max_events)

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@contextmanager
def _scratch_dir(prefix: str) -> Iterator[str]:
    """Temp work dir (JSON replay dump + checkpoint) for the
    stream-batch wrappers, removed when the drain finishes. The memory
    sink holds the drained rows in driver memory, so nothing outlives
    the dir; without this the registry/bench invocations of the five
    stream_* keys each leaked a full events dump per call (ADVICE r6)."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_to_memory(
    df: DataFrame, name: str, output_mode: str, checkpoint_dir: str
) -> Any:
    """Drain the stream into an in-memory table with availableNow (the
    bounded-run mode, §2.9) and block until done."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def sessionize_closed_batch(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Driver-checkable wrapper: round-trip the events table through the
    real streaming sessionizer (JSON dump → file stream →
    applyInPandasWithState → availableNow drain) and return the closed
    sessions as a static DataFrame. The DuckDB oracle is the equivalent
    islands SQL minus each user's final (still-open) session.

    Batch-count governor (VERDICT r10 #4): every micro-batch re-invokes
    the Arrow fold once PER USER PRESENT (the applyInPandasWithState
    per-group machinery costs ~1.5 ms/group — at 150k users × 4 batches
    that was over half the sf10 drain), so the bounded replay sizes
    ``maxFilesPerTrigger`` to drain in ≤ ``REPLAY_MAX_BATCHES``
    micro-batches. Results are batch-layout-invariant (the fold carries
    state across any boundary — pinned by the stream==batch and
    restart tests); committed SFs dump ≤ 10 files and keep today's
    single-batch layout."""
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    n_rows = source_rows(events)  # sizes the shard tier
    with _scratch_dir("sessionize_") as work:
        src = f"{work}/src"
        events.select("event_id", "ts", "user_id", "event_type", "value").write.mode(
            "overwrite"
        ).option("timestampFormat", JSON_TS_FMT).json(src)
        n_files = sum(1 for f in os.listdir(src) if f.endswith(".json"))
        max_files = max(10, -(-n_files // REPLAY_MAX_BATCHES))
        with _replay_shuffle_parts(spark, n_rows=n_rows):
            run_to_memory(
                sessionize_stream(
                    events_file_stream(spark, src, max_files=max_files)
                ),
                name,
                "append",
                f"{work}/ckpt",
            )
    return spark.table(name).orderBy("user_id", "session_start")


def sessionize_closed_sql(max_events: int = SESSION_MAX_EVENTS) -> str:
    """Islands oracle with the entry-cap split mirrored exactly: each
    gap-island is chunked into blocks of ``max_events`` in (ts,
    event_id) order (close-on-overflow means a block only closes when a
    later event exists), and the still-open session — now the LAST
    (sid, block) per user, not just the last sid — is excluded."""
    return f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(new_session)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
  FROM tagged
),
capped AS (
  SELECT *, CAST((ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                     ORDER BY ts, event_id) - 1)
                 // {max_events} AS BIGINT) AS blk
  FROM sess
),
agg AS (
  SELECT user_id, sid, blk,
         MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM capped GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY sid DESC, blk DESC) AS rn_last
  FROM agg
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM ranked
WHERE rn_last > 1
ORDER BY user_id, session_start
""".strip()


SESSIONIZE_CLOSED_SQL = sessionize_closed_sql()


# --- stream-stream interval join -------------------------------------------

ATTRIBUTION_MINUTES = 30  # same lookback as the batch twin
ATTRIBUTION_WATERMARK = "2 hours"


def click_attribution_pairs_stream(events: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: each purchase paired with the
    same user's clicks from the preceding 30 minutes (exclusive start,
    inclusive purchase instant) — the streaming twin of
    operators/temporal.purchase_click_attribution (its bucketed batch
    formulation); the test asserts pair-for-pair equality.

    Both sides are watermarked so Spark can bound join state: a
    buffered click is dropped once the watermark passes c_ts + 30 min
    (no future purchase can reach back to it), and purchases age out
    symmetrically. State is O(events within the lateness horizon),
    independent of stream length. Inner join: zero-click purchases are
    the batch twin's left-join tail; a streaming left-outer would hold
    their null rows until the watermark advances past the bound, which
    a finite replay never reaches.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", ATTRIBUTION_WATERMARK)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", ATTRIBUTION_WATERMARK)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts > p_ts - INTERVAL {ATTRIBUTION_MINUTES} MINUTES"
            " AND c_ts <= p_ts"
        ),
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "click_id",
        "c_ts",
    )


def click_attribution_stream_batch(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Driver-checkable wrapper for the STREAM-STREAM interval join
    (§2.9): round-trip the events table through the real streaming
    graph (JSON dump → file stream → watermarked purchase×click
    interval self-join → availableNow drain) and return the attribution
    pairs. Both join inputs are unbounded streams — unlike the
    stream-static enrich leg, Spark must buffer BOTH sides in state and
    needs the two watermarks plus the time bound in the join condition
    to evict: a click is dropped once the watermark passes
    c_ts + 30 min, so state is O(horizon), not O(stream).

    Oracle: the equivalent batch range join on the raw table — same
    user, click in the half-open 30-minute window ending at the
    purchase instant."""
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    # replay only the two joined topics (production subscribes the join
    # to the purchase/click topics, not the whole firehose) and size the
    # shard tier to them
    topics = events.filter(F.col("event_type").isin("purchase", "click"))
    n_rows = source_rows(topics)
    with _scratch_dir("ssjoin_") as work:
        src = f"{work}/src"
        # 8 files / 2 micro-batches — join state still carries across a
        # batch boundary, at half the per-batch state-store commit
        # overhead
        topics.select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).coalesce(8).write.mode("overwrite").option(
            "timestampFormat", JSON_TS_FMT
        ).json(src)
        with _replay_shuffle_parts(spark, n_rows=n_rows):
            run_to_memory(
                click_attribution_pairs_stream(
                    events_file_stream(spark, src, max_files=4)
                ),
                name,
                "append",
                f"{work}/ckpt",
            )
    return spark.table(name).orderBy("purchase_id", "click_id")


def enrich_counts_stream_batch(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Driver-checkable wrapper for STREAM-STATIC enrichment (§2.9):
    a deterministic SLA dimension is derived from the data itself
    (per-type category + 30/35/40… SLA by alphabetical rank, with the
    alphabetically-LAST type deliberately left out so the left-join
    'unknown' fallback is exercised, not just declared), the events
    round-trip through the real streaming graph (JSON dump → file
    stream → broadcast dim join per micro-batch → availableNow drain),
    and the enriched stream rolls up per (type, category, sla). The
    join is stateless/map-side — no watermark, no state store — which
    is exactly what distinguishes this leg from the stream-stream and
    dedup wrappers.

    Oracle: the identical derivation + left join in plain SQL."""
    from pyspark.sql import Window

    types = events.select("event_type").distinct()
    ranked = types.select(
        "event_type",
        (
            F.lit(30)
            + F.lit(5)
            * (F.row_number().over(Window.orderBy("event_type")) - F.lit(1))
        ).cast("bigint").alias("sla_minutes"),
    )
    last = types.agg(F.max("event_type").alias("mx"))
    dim = (
        ranked.crossJoin(F.broadcast(last))
        .filter(F.col("event_type") < F.col("mx"))
        .select(
            "event_type",
            F.concat(F.lit("cat_"), F.substring("event_type", 1, 2)).alias(
                "category"
            ),
            "sla_minutes",
        )
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    n_rows = source_rows(events)  # sizes the shard tier
    with _scratch_dir("enrich_") as work:
        src = f"{work}/src"
        events.select("event_id", "ts", "user_id", "event_type", "value").write.mode(
            "overwrite"
        ).option("timestampFormat", JSON_TS_FMT).json(src)
        with _replay_shuffle_parts(spark, n_rows=n_rows):
            run_to_memory(
                enrich_stream(events_file_stream(spark, src, max_files=4), dim),
                name,
                "append",
                f"{work}/ckpt",
            )
    return (
        spark.table(name)
        .groupBy("event_type", "category", "sla_minutes")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .orderBy("event_type")
    )


ENRICH_STREAM_SQL = """
WITH types AS (SELECT DISTINCT event_type FROM events),
ranked AS (
  SELECT event_type,
         CAST(30 + 5 * (ROW_NUMBER() OVER (ORDER BY event_type) - 1) AS BIGINT)
           AS sla_minutes
  FROM types
),
dim AS (
  SELECT event_type, 'cat_' || substr(event_type, 1, 2) AS category,
         sla_minutes
  FROM ranked
  WHERE event_type < (SELECT MAX(event_type) FROM types)
)
SELECT e.event_type,
       COALESCE(d.category, 'unknown') AS category,
       d.sla_minutes,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e LEFT JOIN dim d ON e.event_type = d.event_type
GROUP BY 1, 2, 3
ORDER BY 1
""".strip()


CLICK_ATTRIBUTION_STREAM_SQL = f"""
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       p.ts AS p_ts,
       c.event_id AS click_id,
       c.ts AS c_ts
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts > p.ts - INTERVAL {ATTRIBUTION_MINUTES} MINUTE
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY purchase_id, click_id
""".strip()


def hopping_counts_stream_batch(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Driver-checkable wrapper for the watermarked hopping-window agg:
    round-trip the events table through the real streaming graph (JSON
    dump → file stream → 10/5-min hopping window state → availableNow
    drain, complete output so every window state row is emitted and the
    result is bit-equal to the batch twin — append-mode finalization
    semantics are pinned separately in the windowed streaming tests).
    The DuckDB oracle is the same hopping expansion the batch
    ``events_hopping_windows`` key proves."""
    name = f"hopping_{uuid.uuid4().hex[:8]}"
    n_rows = source_rows(events)  # sizes the shard tier
    with _scratch_dir("hopping_") as work:
        src = f"{work}/src"
        events.select("event_id", "ts", "user_id", "event_type", "value").write.mode(
            "overwrite"
        ).option("timestampFormat", JSON_TS_FMT).json(src)
        with _replay_shuffle_parts(spark, n_rows=n_rows):
            run_to_memory(
                hopping_windowed_counts(events_file_stream(spark, src)),
                name,
                "complete",
                f"{work}/ckpt",
            )
    return spark.table(name).orderBy("window_start", "event_type")


# Replay horizon must exceed the events table's ~30-day span so the
# watermark never passes any record during the bounded replay: dedup is
# then exact (no state eviction, no late-drop) and stream == batch
# bit-for-bit. Production tightens this to the transport's real
# redelivery horizon (minutes-hours), which bounds state at any scale.
DEDUP_STREAM_WATERMARK = "45 days"


def dedup_counts_stream_batch(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Driver-checkable wrapper for watermarked streaming dedup
    (§2.9; reference consumer `src/stream/consumer_to_minio.py` relies
    on at-least-once MinIO writes, and the warehouse NOT-IN insert
    `src/warehouse/_init_duckdb.py:53` re-dedups downstream — this key
    moves that guarantee into the stream itself): every event whose
    event_id ≡ 0 (mod 10) is re-delivered (producer-retry simulation),
    the doubled stream runs through the REAL graph (JSON dump → file
    stream → withWatermark → dropDuplicatesWithinWatermark →
    availableNow drain), and the deduped sink is rolled up per type.
    First-wins is value-neutral here because redeliveries are exact
    copies. State is O(keys-in-horizon), not O(stream length) — the
    shape that survives an unbounded 100 TB/day stream.

    Oracle: the same per-type rollup over the original (undoubled)
    events table, which is what exact dedup must reproduce."""
    name = f"streamdedup_{uuid.uuid4().hex[:8]}"
    # the replay input is the DOUBLED stream; its state is one row per
    # distinct event_id in the horizon, so size the tier to that
    n_rows = source_rows(events)
    with _scratch_dir("streamdedup_") as work:
        src = f"{work}/src"
        cols = ["event_id", "ts", "user_id", "event_type", "value"]
        doubled = events.select(*cols).unionByName(
            events.filter(F.col("event_id") % 10 == 0).select(*cols)
        )
        doubled.write.mode("overwrite").option("timestampFormat", JSON_TS_FMT).json(
            src
        )
        with _replay_shuffle_parts(spark, n_rows=n_rows):
            run_to_memory(
                dedup_stream(events_file_stream(spark, src), DEDUP_STREAM_WATERMARK),
                name,
                "append",
                f"{work}/ckpt",
            )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


DEDUP_STREAM_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY 1
ORDER BY 1
""".strip()


HOPPING_STREAM_SQL = """
WITH hopped AS (
  SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) - j) * 300 * 1000000)
           AS window_start,
         event_type, value
  FROM events, (SELECT unnest(range(0, 2)) AS j)
)
SELECT window_start,
       window_start + INTERVAL 10 MINUTE AS window_end,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM hopped
GROUP BY 1, 2, 3
ORDER BY 1, 3
""".strip()
