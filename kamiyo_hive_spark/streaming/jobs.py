"""Structured Streaming operators (SURVEY §2.9, ST1-ST8).

Each job is a real `readStream → transform → writeStream` pipeline,
driven to completion over the bounded events table (file source +
memory sink + `processAllAvailable`) so the driver can call it like any
batch query and hash-check the final state against a batch SQL oracle.
In production the same pipelines run unbounded on Kafka/file streams —
nothing below is test-only except the sink.

- ST1 tumbling-window aggregation with watermark (per-epoch signal
  aggregator, kamiyo-hive `swarm-types.ts:147-158`).
- ST4 stateful running tallies in update mode (on-chain vote counters,
  `lib.rs:115-120`).
- ST7 streaming dedup by key (nullifier uniqueness, `lib.rs:276-286`).
- ST2/ST8 deadline + quorum/threshold triggers are the tally queries'
  WHERE clauses over the windowed state.

Scale notes: state is keyed by (window, type) / user — bounded by
watermark eviction, never by stream length. `complete` output mode is
used only with the in-memory test sink; production sinks use
append/update so state and output stay incremental.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kamiyo_hive_spark.functions.money import money_sum_col
from kamiyo_hive_spark.plans.registry import register


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a genuine multi-micro-batch stream: staged
    once per sf_dir as 4 time-ranged files, delivered one file per
    trigger — so every streaming job's state (windows, dedup sets,
    tallies) must survive micro-batch boundaries, exactly as on an
    unbounded Kafka/file source. Event time arrives in watermark-safe
    ascending ranges (the staging is range-partitioned on ts)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = _multibatch_events_dir(spark, sf_dir)
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _empty_batch_emitter(result: DataFrame, mode: str) -> str | None:
    """The operator of `result`'s plan that emits rows or fires timers
    only in a no-data micro-batch when run in `mode`, or None: an
    append-mode watermarked aggregation (a window is emitted once the
    watermark passes it), an outer stream-stream join (unmatched rows
    are emitted on eviction), or a stateful operator with a timeout
    (timers fire as the watermark or clock advances)."""
    stack = [result._jdf.queryExecution().analyzed()]
    watermarked = aggregated = False
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "EventTimeWatermark":
            watermarked = True
        elif name == "Aggregate" and node.isStreaming():
            aggregated = True
        elif (
            name == "Join"
            and node.left().isStreaming()
            and node.right().isStreaming()
            and "Outer" in node.joinType().toString()
        ):
            return f"{node.joinType().toString()} stream-stream join"
        elif name in ("FlatMapGroupsWithState", "FlatMapGroupsInPandasWithState"):
            timeout = node.timeout().toString()
            if timeout != "NoTimeout":
                return f"{name} with {timeout}"
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if mode == "append" and watermarked and aggregated:
        return "append-mode watermarked aggregation"
    return None


@contextlib.contextmanager
def streaming_run(
    result: DataFrame,
    mode: str,
    partitions: int = 4,
    *,
    no_data_batches: bool = True,
) -> Iterator[DataStreamWriter]:
    """Session confs for one streaming run; yields `result.writeStream`
    in output mode `mode`. Every streaming query the package starts
    goes through here. Each conf is restored on exit to its previous
    value, or unset if it had none.

    - `spark.sql.shuffle.partitions`: the state store creates one
      instance per shuffle partition for the life of the query; a host
      session left at the 200 default burns ~200 empty state tasks per
      micro-batch. The right value splits by where the work runs: JVM
      state stores are commit-overhead-bound at these key counts (4
      measured ~20% faster than 8 at sf0.1), while Python-stateful
      operators (applyInPandasWithState / TWS) are per-key CPU-bound in
      the Python workers and WANT parallelism (16 measured fastest) —
      those call sites override `partitions`.
    - `spark.sql.streaming.checkpointFileManagerClass`: the FileSystem
      checkpoint manager (`CHECKPOINT_FILE_MANAGER`) for the offset and
      commit logs and the state store. The default FileContext manager,
      without the native Hadoop library, forks `readlink` twice per
      checkpoint rename. Every checkpoint these runs write is on the
      driver's local disk (Spark's temp dir or the package's
      `SCRATCH`), where that rename is check-then-rename too: Hadoop's
      `AbstractFileSystem.renameInternal` looks the destination up
      first, and those lookups are the forks. So no atomicity is lost:
      a second `createAtomic(p, overwriteIfPossible=false)` still fails
      with `FileAlreadyExistsException` (tests/test_streaming_run.py).
      Files still go through the checksummed LocalFileSystem, so CRCs
      are written and verified. (RawLocalFileSystem would also skip
      the forks, but drops checksum verification.)
    - `no_data_batches=False` turns the engine's empty no-data batch
      OFF (r11, guide §1.2 "don't compute things you throw away"). It
      exists to advance the watermark and evict/emit state on an IDLE
      UNBOUNDED stream; a drained bounded replay never needs it, and it
      costs a full trigger cycle (queryPlanning + walCommit + a
      state-store commit per partition — streaming_profile measured the
      interval join paying a 5th batch at its full ~1 s marginal cost).
      It cannot change a result unless the plan emits in that batch:
      complete mode re-emits unchanged state, dedup/append emissions
      happen in their data batch, eviction from an INNER stream-stream
      join emits nothing, and NoTimeout stateful operators have no
      timers to fire. `_empty_batch_emitter` finds the plans this does
      not cover, and such a run raises ValueError here rather than
      losing rows. Production unbounded jobs and append-mode live feeds
      keep the engine default: closed-window emission on a live bus
      flushes via no-data batches (tests/test_streaming_live.py pins
      that behavior).
    """
    if not no_data_batches:
        emitter = _empty_batch_emitter(result, mode)
        if emitter is not None:
            raise ValueError(
                f"no-data batches off, but the plan's {emitter} "
                "emits only in an empty micro-batch"
            )
    spark = result.sparkSession
    confs = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
    }
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    prev = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield result.writeStream.outputMode(mode)
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        # NOT here: StateStore.stop() between bounded runs (unloading
        # the stopped query's providers instead of waiting for the 60 s
        # maintenance tick) — A/B'd NEGATIVE/NEUTRAL r11: 3 alternating
        # same-session passes of the 11-query streaming list measured
        # 23.7/21.4/21.6 s without vs 21.9/21.9/21.7 s with, per-query
        # ratios mixed ±9%. Dead providers at these state sizes cost
        # nothing measurable; the unload stayed out (recorded in
        # OPTIMIZATION_r11.md so the next round re-checks instead of
        # re-arguing).


def drain(query: StreamingQuery) -> None:
    """Process everything the query's source has, then stop it."""
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def _run_to_completion(
    result: DataFrame, name: str, mode: str, partitions: int = 4
) -> None:
    """A bounded replay into the memory sink `name`, no-data batches off."""
    with streaming_run(result, mode, partitions, no_data_batches=False) as writer:
        drain(writer.format("memory").queryName(name).start())


def window_agg_transform(stream: DataFrame) -> DataFrame:
    """ST1's transformation, factored out of the source: tumbling
    1-hour event-time windows with a 10-minute watermark. Takes ANY
    events-shaped streaming frame (file replay, socket feed, Kafka) —
    the source-agnosticism the reference's live WS surface implies
    (`hooks/useAgentStream.ts:39-53`); `tests/test_streaming_live.py`
    drives it from a real TCP socket and pins the result to the
    file-source run."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            money_sum_col("value").alias("total_value"),
        )
    )


def _window_agg_present(spark: SparkSession, sink: str) -> DataFrame:
    return spark.table(sink).select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "streaming_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    tags=("ST1", "streaming"),
)
def streaming_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1: tumbling 1-hour event-time windows with a 10-minute
    watermark, aggregated incrementally in the state store. Final state
    must equal the batch aggregation — the exactly-once guarantee the
    whole streaming layer rests on."""
    stream = _events_stream(spark, sf_dir)
    agg = window_agg_transform(stream)
    _run_to_completion(agg, "stream_window_agg_out", "complete")
    return _window_agg_present(spark, "stream_window_agg_out")


@register(
    "streaming_window_agg_live",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    tags=("ST1", "ST5", "streaming", "live-source"),
)
def streaming_window_agg_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 over a LIVE source: the identical `window_agg_transform`
    consumes a genuine TCP byte stream (Spark socket source fed by an
    in-process server replaying the first week of events as JSON
    lines) instead of staged files — proving the job builders are
    source-agnostic, the last sim-vs-real gap VERDICT r4 named (the
    reference's live surface is a WS feed, `useAgentStream.ts:39-53`).
    Completion is an offset high-watermark (total numInputRows == rows
    served), the bus-world analogue of "caught up to the head"; the
    oracle is the batch aggregation of the same slice, so a dropped,
    duplicated, or mis-parsed wire row is a driver-visible hash
    mismatch. Production swap: `format("kafka")` + the same from_json
    — zero operator changes (see streaming/live.py docstring)."""
    from kamiyo_hive_spark.streaming.live import (
        events_as_jsonl,
        run_live_to_completion,
        serve_events_tcp,
        socket_events_stream,
    )

    lines = events_as_jsonl(spark, sf_dir, "2024-01-08 00:00:00")
    with serve_events_tcp(lines) as srv:
        stream = socket_events_stream(spark, srv.host, srv.port)
        agg = window_agg_transform(stream)
        run_live_to_completion(
            agg,
            "stream_window_agg_live_out",
            "complete",
            expected_rows=len(lines),
            no_data_batches=False,  # bounded complete-mode feed
        )
    return _window_agg_present(spark, "stream_window_agg_live_out")


@register(
    "streaming_window_agg_live_bus",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    tags=("ST1", "ST5", "streaming", "live-source", "bus"),
)
def streaming_window_agg_live_bus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 over a PARTITIONED, OUT-OF-ORDER live bus (VERDICT r5 task
    5): three independent TCP servers each own one hash partition of
    the event slice (a Kafka key-partitioner stand-in), every
    partition's delivery is deterministically scrambled inside
    5-minute event-time buckets (under the transform's 10-minute
    watermark delay), and the SAME `window_agg_transform` consumes the
    unionByName of the three socket streams. This runs in COMPLETE
    mode, which neither evicts state nor drops late rows — so what the
    oracle (the batch aggregation of the same slice) pins here is
    union correctness + out-of-order aggregation end-state: one row
    lost to cross-partition races or disorder is a driver-visible hash
    mismatch. The WATERMARK claims are load-bearing in append mode,
    in tests/test_streaming_live.py: absorption (scrambled
    within-delay bus rows all present in each closed window's single
    emission) and rejection (a staged later-than-delay row dropped).
    Production swap: `format("kafka")` with one source per
    topic-partition and the identical transform."""
    from kamiyo_hive_spark.streaming.live import (
        events_as_jsonl,
        partition_lines,
        run_live_to_completion,
        scramble_within,
        serve_events_bus,
        socket_events_union,
    )

    lines = events_as_jsonl(spark, sf_dir, "2024-01-08 00:00:00")
    parts = [
        scramble_within(p, span_us=5 * 60 * 1_000_000)
        for p in partition_lines(lines, 3)
    ]
    with serve_events_bus(parts) as bus:
        stream = socket_events_union(spark, bus.endpoints)
        agg = window_agg_transform(stream)
        run_live_to_completion(
            agg,
            "stream_window_agg_live_bus_out",
            "complete",
            expected_rows=len(lines),
            no_data_batches=False,  # bounded complete-mode feed
        )
    return _window_agg_present(spark, "stream_window_agg_live_bus_out")


@register(
    "streaming_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
    """,
    tags=("ST7", "J5", "streaming"),
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7: streaming dedup — the nullifier-uniqueness barrier. First
    occurrence of each key passes; replays are dropped from the stream.
    Output projected to the key set so the result is order-independent."""
    stream = _events_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    _run_to_completion(deduped, "stream_dedup_out", "append")
    return spark.table("stream_dedup_out")


@register(
    "streaming_running_tally",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS votes_for,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS votes_against,
           count(*) AS vote_count,
           (count(*) >= 2 AND
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
              >= CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)) AS passed
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("ST4", "ST2", "ST8", "A1", "streaming"),
)
def streaming_running_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4+ST2+ST8: per-key running tallies (votes_for/against/count)
    maintained in update-mode streaming state, with the deadline cutoff
    (event-time filter — late votes rejected) and the quorum>=2 +
    majority decision applied to the final state (`lib.rs:93-156`)."""
    stream = _events_stream(spark, sf_dir)
    tally = running_tally_transform(stream)
    _run_to_completion(tally, "stream_tally_out", "complete")
    return _tally_present(spark, "stream_tally_out")


def running_tally_transform(stream: DataFrame) -> DataFrame:
    """ST4+ST2+ST8's transformation, factored out of the source (see
    `window_agg_transform`): deadline filter + per-key running tallies
    in update-mode state."""
    return (
        stream.filter(F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "votes_for"
            ),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "votes_against"
            ),
            F.count("*").alias("vote_count"),
        )
    )


def _tally_present(spark: SparkSession, sink: str) -> DataFrame:
    return spark.table(sink).withColumn(
        "passed",
        (F.col("vote_count") >= 2) & (F.col("votes_for") >= F.col("votes_against")),
    )


@register(
    "streaming_replay_then_live",
    oracle="""
    WITH replay AS (
        SELECT user_id, count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS v
        FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00' GROUP BY 1
    ),
    live AS (
        SELECT user_id, count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS v
        FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' GROUP BY 1
    ),
    keys AS (SELECT user_id FROM replay UNION SELECT user_id FROM live)
    SELECT k.user_id,
           coalesce(r.n, 0) + coalesce(l.n, 0) AS n_events,
           round(coalesce(r.v, 0.0) + coalesce(l.v, 0.0), 2) AS total_value
    FROM keys k
    LEFT JOIN replay r USING (user_id)
    LEFT JOIN live l USING (user_id)
    ORDER BY user_id
    """,
    tags=("ST5", "streaming"),
)
def streaming_replay_then_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: replay-snapshot bootstrap + live incremental tail
    (`useAgentStream.ts:42-48` semantics). The historical slice is
    aggregated once as a batch (the replay), the tail runs through the
    streaming state store (the live phase), and the final view merges
    the two — the Delta-CDF bootstrap pattern. Merged totals must equal
    a single batch aggregation over everything."""
    cutover = F.lit("2024-01-20 00:00:00").cast("timestamp")
    from kamiyo_hive_spark.catalog import table as batch_table

    replay = (
        batch_table(spark, sf_dir, "events")
        .filter(F.col("ts") < cutover)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), money_sum_col("value").alias("v"))
    )
    live_stream = _events_stream(spark, sf_dir).filter(F.col("ts") >= cutover)
    live_agg = live_stream.groupBy("user_id").agg(
        F.count("*").alias("n"), money_sum_col("value").alias("v")
    )
    _run_to_completion(live_agg, "stream_live_out", "complete")
    live = spark.table("stream_live_out")
    r = replay.select(F.col("user_id"), F.col("n").alias("rn"), F.col("v").alias("rv"))
    l = live.select(F.col("user_id"), F.col("n").alias("ln"), F.col("v").alias("lv"))
    return (
        r.join(l, "user_id", "full_outer")
        .select(
            "user_id",
            (F.coalesce(F.col("rn"), F.lit(0)) + F.coalesce(F.col("ln"), F.lit(0))).alias("n_events"),
            F.round(
                F.coalesce(F.col("rv"), F.lit(0.0)) + F.coalesce(F.col("lv"), F.lit(0.0)), 2
            ).alias("total_value"),
        )
    )


@register(
    "streaming_retention_prune",
    oracle="""
    SELECT user_id, count(*) AS n_retained,
           min(ts) AS oldest_retained
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-31 00:00:00' - INTERVAL 7 DAY
    GROUP BY 1
    ORDER BY user_id
    """,
    tags=("ST6", "streaming"),
)
def streaming_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: bounded retention / TTL (`message-store.ts:47-64` prune).
    In the streaming engine, retention is watermark state eviction: rows
    older than `now - TTL` never enter (or are evicted from) state. The
    batch-equivalent check: only the retained window survives."""
    ttl_start = F.lit("2024-01-24 00:00:00").cast("timestamp")
    stream = _events_stream(spark, sf_dir).filter(F.col("ts") >= ttl_start)
    retained = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_retained"), F.min("ts").alias("oldest_retained"))
    )
    _run_to_completion(retained, "stream_retention_out", "complete")
    return spark.table("stream_retention_out")


def _multibatch_events_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stage the events table as n time-ranged files so the file stream
    source (maxFilesPerTrigger=1) delivers a genuine multi-micro-batch
    stream — state must survive across batches, not just within one."""
    import glob
    import os
    import time

    from kamiyo_hive_spark.sources.sinks import ensure_staging

    out = f"/root/repo/.scratch/events_stream_{os.path.basename(sf_dir)}"
    # Staging is cached, but ONLY for the exact source file: the driver
    # regenerates testdata between rounds, and a stale staging would
    # make every streaming query diverge from its batch oracle.
    source = os.path.join(sf_dir, "events.parquet")
    from kamiyo_hive_spark.catalog import table as batch_table

    def build(tmp: str) -> None:
        batch_table(spark, sf_dir, "events").repartitionByRange(
            n_files, "ts"
        ).write.mode("overwrite").parquet(tmp)
        # The file source orders micro-batches by modification time; one
        # write job gives every part file the same mtime, leaving batch
        # order unstable (a later time-range can arrive first, and its
        # rows then look late to watermark-eviction operators like the
        # stream-stream interval join). Pin mtimes so arrival order ==
        # event-time order, the posture of a real tailing source.
        # (The atomic rename into place preserves these mtimes.)
        base = time.time() - 3600
        for i, path in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
            os.utime(path, (base + i, base + i))

    return ensure_staging(out, source, build)


from kamiyo_hive_spark.operators.stateful import QUORUM, T1, T2  # noqa: E402


@register(
    "streaming_commit_reveal_stateful",
    oracle=f"""
    WITH commits AS (
        SELECT user_id, count(*) AS n_commits FROM events
        WHERE ts < TIMESTAMP '{T1}' GROUP BY 1
    ),
    reveals AS (
        SELECT user_id,
               max(value) AS winning_bid,
               min(event_id) FILTER (WHERE value = max_val) AS winner_event_id
        FROM (
            SELECT *, max(value) OVER (PARTITION BY user_id) AS max_val
            FROM events
            WHERE ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
              AND event_type = 'purchase'
        )
        GROUP BY 1
    ),
    keys AS (SELECT DISTINCT user_id FROM events)
    SELECT k.user_id,
           coalesce(c.n_commits, 0) AS n_commits,
           r.winning_bid,
           r.winner_event_id,
           CASE WHEN coalesce(c.n_commits, 0) >= {QUORUM}
                     AND r.winner_event_id IS NOT NULL
                THEN 'Passed' ELSE 'Failed' END AS result
    FROM keys k
    LEFT JOIN commits c USING (user_id)
    LEFT JOIN reveals r USING (user_id)
    ORDER BY user_id
    """,
    tags=("ST3", "ST4", "W4", "applyInPandasWithState", "streaming"),
)
def streaming_commit_reveal_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 as TRUE streaming state: the commit-reveal session machine in
    `applyInPandasWithState`, fed 4 time-ranged micro-batches
    (maxFilesPerTrigger=1). Per-key state (commit count, best bid with
    tie-break) merges associatively across batches; the final update per
    key must equal the batch resolution — same `lib.rs:93-156` semantics
    as `commit_reveal_sessions`, now surviving micro-batch boundaries."""
    import pandas as pd


    src = _multibatch_events_dir(spark, sf_dir)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )

    out_schema = (
        "user_id long, n_commits long, winning_bid double, "
        "winner_event_id long, result string, n_updates long"
    )
    state_schema = "n_commits long, winning_bid double, winner_event_id long, n_updates long"

    t1 = pd.Timestamp(T1).to_datetime64()
    t2 = pd.Timestamp(T2).to_datetime64()

    def update(key, pdfs, state):
        # Called once per key per micro-batch (keys × batches calls):
        # the body works on numpy arrays — mask-sum for the commit
        # count, max/min for the per-batch best reveal — instead of
        # the boolean-filter + sort_values + iterrows chain, whose
        # per-call pandas overhead dominated at entity-scale key
        # counts (guide §4.2; r10 A/B in OPTIMIZATION_r10.md). The
        # per-batch best (max value, min event_id among maxima) is
        # exactly what the sorted head(1) produced.
        if state.exists:
            n_commits, winning_bid, winner, n_updates = state.get
        else:
            n_commits, winning_bid, winner, n_updates = 0, None, None, 0
        for pdf in pdfs:
            ts = pdf["ts"].to_numpy()
            n_commits += int((ts < t1).sum())
            m = (ts >= t1) & (ts < t2) & (
                pdf["event_type"].to_numpy() == "purchase"
            )
            if m.any():
                vals = pdf["value"].to_numpy()[m]
                bid = float(vals.max())
                eid = int(pdf["event_id"].to_numpy()[m][vals == vals.max()].min())
                if (
                    winning_bid is None
                    or bid > winning_bid
                    or (bid == winning_bid and eid < winner)
                ):
                    winning_bid, winner = bid, eid
        n_updates += 1
        state.update((n_commits, winning_bid, winner, n_updates))
        passed = n_commits >= QUORUM and winner is not None
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_commits": n_commits,
                    "winning_bid": winning_bid,
                    "winner_event_id": winner,
                    "result": "Passed" if passed else "Failed",
                    "n_updates": n_updates,
                }
            ]
        )

    sessions = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )
    _run_to_completion(sessions, "stream_cr_out", "update", partitions=16)

    from pyspark.sql import Window

    updates = spark.table("stream_cr_out")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_updates"))
    return (
        updates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_commits", "winning_bid", "winner_event_id", "result")
    )


from pyspark.sql.streaming.stateful_processor import StatefulProcessor  # noqa: E402

# transformWithStateInPandas speaks a protobuf protocol between the JVM
# and its Python state workers; without the protobuf wheel the query
# crashes at init. Gate registration so the declared-query manifest only
# claims what the running environment can actually execute —
# `streaming_commit_reveal_stateful` (applyInPandasWithState) is the
# always-available stateful path with identical semantics.
try:  # pragma: no cover - environment probe
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_TWS_RUNTIME = True
except Exception:  # ModuleNotFoundError in slim containers
    HAS_TWS_RUNTIME = False


def _register_if_tws(name: str, **kwargs):
    """register() when the TWS runtime exists, else leave unregistered."""
    if HAS_TWS_RUNTIME:
        return register(name, **kwargs)
    return lambda fn: fn


class _CommitRevealProcessor(StatefulProcessor):
    """StatefulProcessor for the commit-reveal session machine (ST3).

    transformWithStateInPandas is the Spark 4 successor to
    applyInPandasWithState: typed per-key state handles (ValueState here;
    ListState/MapState/timers available), RocksDB-backed so state scales
    past executor memory — the production shape for unbounded streams.
    Same `lib.rs:93-156` semantics as `commit_reveal_sessions`.
    """

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "session",
            "n_commits long, winning_bid double, winner_event_id long, n_updates long",
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        t1, t2 = pd.Timestamp(T1), pd.Timestamp(T2)
        got = self._state.get() if self._state.exists() else None
        if got is not None:
            n_commits, winning_bid, winner, n_updates = got
        else:
            n_commits, winning_bid, winner, n_updates = 0, None, None, 0
        for pdf in rows:
            n_commits += int((pdf["ts"] < t1).sum())
            reveals = pdf[
                (pdf["ts"] >= t1) & (pdf["ts"] < t2) & (pdf["event_type"] == "purchase")
            ]
            if len(reveals):
                best = reveals.sort_values(
                    ["value", "event_id"], ascending=[False, True]
                ).iloc[0]
                bid, eid = float(best["value"]), int(best["event_id"])
                if (
                    winning_bid is None
                    or bid > winning_bid
                    or (bid == winning_bid and eid < winner)
                ):
                    winning_bid, winner = bid, eid
        n_updates += 1
        self._state.update((n_commits, winning_bid, winner, n_updates))
        passed = n_commits >= QUORUM and winner is not None
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_commits": n_commits,
                    "winning_bid": winning_bid,
                    "winner_event_id": winner,
                    "result": "Passed" if passed else "Failed",
                    "n_updates": n_updates,
                }
            ]
        )

    def close(self) -> None:
        pass


@_register_if_tws(
    "streaming_commit_reveal_tws",
    oracle=f"""
    WITH commits AS (
        SELECT user_id, count(*) AS n_commits FROM events
        WHERE ts < TIMESTAMP '{T1}' GROUP BY 1
    ),
    reveals AS (
        SELECT user_id,
               max(value) AS winning_bid,
               min(event_id) FILTER (WHERE value = max_val) AS winner_event_id
        FROM (
            SELECT *, max(value) OVER (PARTITION BY user_id) AS max_val
            FROM events
            WHERE ts >= TIMESTAMP '{T1}' AND ts < TIMESTAMP '{T2}'
              AND event_type = 'purchase'
        )
        GROUP BY 1
    ),
    keys AS (SELECT DISTINCT user_id FROM events)
    SELECT k.user_id,
           coalesce(c.n_commits, 0) AS n_commits,
           r.winning_bid,
           r.winner_event_id,
           CASE WHEN coalesce(c.n_commits, 0) >= {QUORUM}
                     AND r.winner_event_id IS NOT NULL
                THEN 'Passed' ELSE 'Failed' END AS result
    FROM keys k
    LEFT JOIN commits c USING (user_id)
    LEFT JOIN reveals r USING (user_id)
    ORDER BY user_id
    """,
    tags=("ST3", "ST4", "W4", "transformWithStateInPandas", "streaming"),
)
def streaming_commit_reveal_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 on the Spark 4 stateful API: transformWithStateInPandas with
    a RocksDB-backed ValueState per action key, fed 4 time-ranged
    micro-batches. The final per-key update must equal the batch
    resolution — the unbounded-stream production form of
    `commit_reveal_sessions` (state scales past memory, supports
    timers/TTL for deadline-close triggers at cluster scale)."""
    src = _multibatch_events_dir(spark, sf_dir)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .select("user_id", "event_id", "ts", "event_type", "value")
        )
        out_schema = (
            "user_id long, n_commits long, winning_bid double, "
            "winner_event_id long, result string, n_updates long"
        )
        sessions = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_CommitRevealProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        _run_to_completion(sessions, "stream_cr_tws_out", "update", partitions=16)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev_provider)

    from pyspark.sql import Window

    updates = spark.table("stream_cr_tws_out")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_updates"))
    return (
        updates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_commits", "winning_bid", "winner_event_id", "result")
    )


@register(
    "streaming_session_window",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN ts - lag(ts) OVER w >= INTERVAL 60 MINUTE THEN 1
                    ELSE 0 END AS new_session
        FROM events
        WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    tags=("ST1", "session-window", "streaming"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization: `session_window(ts, gap)` merges
    events within a 60-minute silence into one stateful session — the
    engine-managed version of the gaps-and-islands pattern, checked
    against the batch window reconstruction."""
    stream = _events_stream(spark, sf_dir).filter(F.col("user_id") < 20)
    # No watermark: in complete mode a watermark EVICTS finalized
    # sessions from state between micro-batches, so sessions closed
    # before the last batch would vanish from the result table.
    # Unbounded production runs use update mode + watermark instead.
    sessions = (
        stream.groupBy(F.session_window("ts", "60 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    _run_to_completion(sessions, "stream_session_out", "complete")
    return (
        spark.table("stream_session_out")
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )


@register(
    "streaming_dim_enrich",
    oracle="""
    SELECT CASE WHEN c.c_acctbal >= 5000 THEN 'gold'
                WHEN c.c_acctbal >= 0 THEN 'silver'
                ELSE 'bronze' END AS tier,
           e.event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    ORDER BY tier, event_type
    """,
    tags=("streaming", "stream-static-join", "ST1", "J2"),
)
def streaming_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream is
    enriched against the static customer dimension (broadcast per
    batch — the streaming twin of J2's lookup join), then aggregated by
    the derived tier in update-mode state. The dimension is re-read
    per micro-batch, so a dimension update between batches is picked up
    — the streaming SCD-1 read posture. Final state must equal the
    batch join+aggregate."""
    from kamiyo_hive_spark.catalog import table as batch_table

    stream = _events_stream(spark, sf_dir)
    dim = batch_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") >= 5000, "gold")
        .when(F.col("c_acctbal") >= 0, "silver")
        .otherwise("bronze")
        .alias("tier"),
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    )
    agg = enriched.groupBy("tier", "event_type").agg(
        F.count("*").alias("n_events"),
        money_sum_col("value").alias("total_value"),
    )
    _run_to_completion(agg, "stream_dim_enrich_out", "complete")
    return spark.table("stream_dim_enrich_out")


@register(
    "streaming_interval_join",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           v.event_id AS view_id
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND v.event_type = 'view'
     AND v.ts <= p.ts
     AND v.ts > p.ts - INTERVAL 30 MINUTE
    WHERE p.user_id < 40
    ORDER BY p.user_id, purchase_id, view_id
    """,
    tags=("streaming", "stream-stream-join", "interval-join", "J8", "ST2"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same
    user's views in the preceding 30 minutes, both sides watermarked so
    the view-side buffer state is bounded by the interval + watermark,
    never stream length — the attribution-join shape at 100 TB.
    Append-mode pairs; the join condition's time bounds tell the state
    store exactly when a buffered view can never match again and is
    evicted."""
    stream = _events_stream(spark, sf_dir).filter(F.col("user_id") < 40)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    pairs = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("user_id", "purchase_id", "view_id")
    _run_to_completion(pairs, "stream_interval_join_out", "append")
    return spark.table("stream_interval_join_out")


def _idempotent_sink_run(spark: SparkSession, sf_dir: str, reset: bool) -> DataFrame:
    """Run the foreachBatch exactly-once sink job; with reset=False the
    query restarts from the existing checkpoint (replay/restart path)."""
    import os
    import shutil

    from kamiyo_hive_spark.sources.sinks import _staging_lock

    tag = os.path.basename(sf_dir)
    sink = f"/root/repo/.scratch/idempotent_sink_{tag}"
    ckpt = f"/root/repo/.scratch/idempotent_ckpt_{tag}"
    # A checkpointed streaming run mutates sink+ckpt incrementally, so
    # (unlike the batch stagings) it can't build-then-rename; hold the
    # cross-process staging lock for the run instead so two sessions
    # never interleave on the same checkpoint.
    with contextlib.ExitStack() as stack:
        stack.enter_context(_staging_lock(sink))
        return _idempotent_sink_run_locked(spark, sf_dir, reset, sink, ckpt)


def _idempotent_sink_run_locked(
    spark: SparkSession, sf_dir: str, reset: bool, sink: str, ckpt: str
) -> DataFrame:
    import shutil

    if reset:
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        money_sum_col("value").alias("total_value"),
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent by construction: a retried/replayed micro-batch
        # overwrites ITS OWN batch directory, never appends — the
        # standard foreachBatch exactly-once recipe for non-
        # transactional sinks.
        batch_df.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

    with streaming_run(agg, "update") as writer:
        drain(
            writer.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    from pyspark.sql import Window

    sunk = spark.read.option("basePath", sink).parquet(sink)
    latest = Window.partitionBy("event_type").orderBy(F.desc("batch_id"))
    return (
        sunk.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .select("event_type", "n_events", "total_value")
        # materialize before the caller's lock releases: a concurrent
        # session's reset=True run rmtree's this sink the moment it
        # takes the lock, and a lazy return would read deleted files
        # (caught by the two-session concurrent drive)
        .localCheckpoint()
    )


@register(
    "streaming_idempotent_sink",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    ORDER BY event_type
    """,
    tags=("streaming", "foreachBatch", "exactly-once", "S3"),
)
def streaming_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink via foreachBatch: the update-mode
    aggregation writes each micro-batch's changed keys to a
    batch_id-keyed parquet partition (overwrite = idempotent under
    retry/replay), and readers resolve the latest value per key — the
    upsert-sink pattern for non-transactional stores. The final
    resolved state must equal the batch aggregation of the whole event
    log; `tests/test_stateful.py` additionally restarts the query on
    the same checkpoint and asserts the sink is byte-stable (no
    reprocessing, no duplicates)."""
    return _idempotent_sink_run(spark, sf_dir, reset=True)


@register(
    "streaming_trending_topk",
    oracle="""
    WITH counts AS (
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT window_start, event_type, n_events,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY n_events DESC, event_type) AS rk
        FROM counts
    )
    SELECT window_start, event_type, n_events, CAST(rk AS INTEGER) AS rk
    FROM ranked
    WHERE rk <= 3
    ORDER BY window_start, rk
    """,
    tags=("streaming", "trending", "topk"),
)
def streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: per-hour top-3 event types. The streaming
    layer maintains ONLY the windowed counts (incremental state-store
    aggregation — ranking is not an incremental streaming operator and
    doesn't need to be); the rank runs at SERVE time over the compacted
    window×type aggregate, which is orders of magnitude smaller than
    the stream. This aggregate-in-stream / rank-at-read split is the
    standard production trending architecture: the expensive part is
    incremental, the non-streamable part runs on metadata-sized state.

    Correctness bar: after 4 genuine micro-batches the final ranked
    state must equal the batch recompute (the oracle ranks from
    scratch).

    Output mode: COMPLETE, deliberately and without a watermark — in
    complete mode a watermark neither evicts state nor drops late rows
    (declaring one would falsely imply bounded state; ADVICE r2).
    Complete mode is required here because the memory-sink parity check
    reads the ENTIRE final window×type state in one table scan. The
    production variant of this job is update mode + `withWatermark` so
    closed windows age out of the state store; state then stays bounded
    at (watermark horizon / window size) × |event_type|."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    _run_to_completion(agg, "stream_trending_out", "complete")
    from pyspark.sql import Window

    counts = spark.table("stream_trending_out").select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )
    rk = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .orderBy("window_start", "rk")
    )
