"""Structured Streaming equivalents for the events table.

The reference is strictly batch/synchronous (SURVEY §2.2: no streaming),
so this module is extension surface: the same event-analytics operators in
both batch form (oracle-checkable) and streaming form (watermark + windowed
state), sharing one aggregation definition so batch results certify the
streaming logic.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import scoped_confs


def _source_bytes(path: str) -> int:
    """Total bytes under a stream source (file or directory of files)."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


# one state/shuffle partition per this many source bytes (the AQE
# advisory-partition-size analogue, applied where AQE cannot reach:
# stateful streaming fixes its partition count into the checkpoint at the
# first trigger and never coalesces). Overridable per deployment.
_STREAM_BYTES_PER_PARTITION = 32 * 1024 * 1024
_STREAM_MAX_PARTITIONS = 4096

# floor sizing for applyInPandasWithState runners: one Python state
# worker per this many source bytes, capped at the core count. The floor
# exists because the per-key Python compute serializes at 1 partition
# (measured 2.4× slower), but r12 floored it at the bare core count and
# 32 Python state workers over a 2 MB fixture ran 0.61× at the driver's
# local[32] (verdict item 1c) — so the floor is data-derived too.
_PY_STATE_BYTES_PER_PARTITION = 256 * 1024


def _python_state_floor(spark: SparkSession, *source_paths: str) -> int:
    """Partition floor for a Python-stateful runner: enough workers to
    parallelize the per-key compute, derived from source bytes, never
    the bare core count (a 2 MB fixture gets ~8 workers; a real source
    saturates the cores)."""
    total = sum(_source_bytes(p) for p in source_paths)
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(cores, -(-total // _PY_STATE_BYTES_PER_PARTITION)))


@contextlib.contextmanager
def _sized_state_shuffle(
    spark: SparkSession, *source_paths: str, min_partitions: int = 1
):
    """Scale-adaptive shuffle sizing for a streaming query (opt guide §2.2:
    fewer, larger partitions — sized from the data, not a constant).

    A stateful streaming query materializes one state store per shuffle
    partition per stateful operator and pays commit/maintenance I/O for
    each on EVERY micro-batch, and the partition count is frozen into the
    checkpoint at the first trigger — AQE never coalesces it. So size it
    from the source like AQE sizes a batch shuffle: one partition per
    ~32 MB of input, at least 1, capped at 4096. A 2 MB local fixture gets
    1 partition (vs 32 session default: 4 state stores instead of 128 per
    trigger for a stream-stream join); a 100 TB/day source gets the cap.
    ``SPARK_GRAFT_STREAM_SHUFFLE`` pins an explicit count for deployments
    whose state volume is not proportional to a bench-style bounded
    source. Resumed checkpoints are unaffected (Spark reuses the
    partition count recorded in the offset log).

    ``min_partitions`` floors the count for queries whose per-trigger
    work is Python-side compute rather than state I/O: a per-key
    ``applyInPandasWithState`` operator serializes its whole keyspace
    through however many Python workers there are partitions, so those
    runners floor at the session's core count (measured: the pattern
    matcher at 1 partition ran 2.4× slower than at 32 — the opposite
    trade of the JVM-stateful join, which got 3× faster). Sharded
    sketches floor at their shard count instead (partitions beyond the
    group count are pure state-store overhead).

    Results are partitioning-independent by construction: every certified
    streaming aggregate uses exact types (counts, decimal sums, integer
    epochs), so re-keying the same rows across a different partition
    count is value-identical.
    """
    import math
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        n = max(1, int(env))
    else:
        total = sum(_source_bytes(p) for p in source_paths)
        n = min(
            _STREAM_MAX_PARTITIONS,
            max(
                1,
                min(min_partitions, _STREAM_MAX_PARTITIONS),
                math.ceil(total / _STREAM_BYTES_PER_PARTITION),
            ),
        )
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": str(n)}):
        yield


def _drain(
    spark: SparkSession,
    writer,
    source_paths,
    progress_out: list | None = None,
    min_partitions: int = 1,
):
    """Start a bounded streaming query under :func:`_sized_state_shuffle`,
    drain every available trigger, and stop it — the shared epilogue of
    the ``run_stream_*`` runners. (``start()`` clones the session state,
    so the sized conf only needs to hold across the ``start`` call.)"""
    with _sized_state_shuffle(spark, *source_paths, min_partitions=min_partitions):
        q = writer.start()
    try:
        q.processAllAvailable()
        if progress_out is not None:
            progress_out.extend(q.recentProgress)
    finally:
        q.stop()
    return q

__all__ = [
    "hourly_rollup",
    "hopping_rollup",
    "run_stream_hopping_rollup",
    "sessionize",
    "session_rollup",
    "enrich_user_ltv",
    "run_stream_hourly_rollup",
    "run_stream_sessionize",
    "run_stream_session_rollup",
    "run_stream_enrich",
    "run_stream_dedup",
    "run_stream_near_dedup",
    "run_stream_funnel",
    "run_stream_pairs",
    "run_stream_heavy_hitters",
    "distinct_user_actions",
    "stream_into_store",
    "run_stream_rollup_append",
    "run_stream_hopping_append",
    "run_stream_transitions",
    "run_stream_pattern",
    "run_stream_bottomk",
    "conversion_pairs",
    "run_stream_stream_join",
]


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour counts/sums per event_type. Batch form; the window
    start is emitted as epoch seconds so the oracle compare is
    timezone-proof."""
    from ..functions import dsum

    return (
        events.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization, batch form: lag + cumulative-sum-of-breaks
    — the standard Spark window composition. Output: one row per session."""
    from pyspark.sql import Window as W

    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lit(gap_minutes * 60)
    with_break = events.withColumn(
        "is_break",
        (
            F.coalesce(
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user)),
                F.lit(None).cast("long"),
            )
            > gap
        ).cast("int"),
    ).withColumn("session_i", F.sum(F.coalesce(F.col("is_break"), F.lit(1))).over(w_user))
    return with_break.groupBy("user_id", "session_i").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("start_epoch"),
        F.unix_timestamp(F.max("ts")).alias("end_epoch"),
    )


def session_rollup(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap sessionization via Spark's NATIVE ``session_window`` (batch
    form) — the engine-managed alternative to the lag+cumsum composition
    (:func:`sessionize`) and the custom stateful operator. Boundary
    semantics are Spark's: a gap of EXACTLY ``gap_minutes`` starts a new
    session (merge iff diff < gap), which is why this and :func:`sessionize`
    (break iff diff > gap) are separate operators with separate oracles.

    Output: one row per (user, session): n_events + start/end epochs."""
    return (
        events.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), f"{gap_minutes} minutes")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("start_epoch"),
            F.unix_timestamp(F.max("ts")).alias("end_epoch"),
        )
        .select("user_id", "n_events", "start_epoch", "end_epoch")
    )


def run_stream_session_rollup(
    spark: SparkSession,
    events_parquet_dir: str,
    gap_minutes: int = 30,
    query_name: str = "native_sessions",
) -> DataFrame:
    """Streaming twin of :func:`session_rollup`: the same native
    ``session_window`` aggregation under a watermark (engine-managed
    session state — merge/expiry handled by Spark, vs the hand-rolled
    GroupState of :func:`run_stream_sessionize`). Complete mode, memory
    sink (session windows reject update mode; append would withhold the
    sessions still inside the watermark horizon); the batch form is the
    exact oracle."""
    stream = _file_stream(spark, events_parquet_dir).withWatermark("ts", "1 hour")
    agg = session_rollup(stream, gap_minutes)
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(query_name),
        [events_parquet_dir],
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def enrich_user_ltv(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Batch form of the stream-static enrichment: each event joined to the
    user's (static) order profile — order count + lifetime value. Left join
    so users without orders keep their events (zeros, not nulls)."""
    from ..functions import dsum

    totals = orders.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "user_ltv")
    )
    return (
        events.join(totals, "user_id", "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("user_ltv"), F.lit(0.0)).alias("user_ltv"),
        )
    )


def run_stream_enrich(
    spark: SparkSession,
    events_parquet_dir: str,
    orders: DataFrame,
    query_name: str = "enriched",
) -> DataFrame:
    """Stream-static join: the streaming events enrich against a static
    per-user dimension built once from orders. At scale the static side
    is broadcast per micro-batch (or re-read per trigger if it changes);
    no watermark is needed — stream-static joins are stateless. Append
    mode, memory sink; the batch twin (:func:`enrich_user_ltv`) is the
    exact oracle."""
    stream = _file_stream(spark, events_parquet_dir)
    enriched = enrich_user_ltv(stream, orders)
    _drain(
        spark,
        enriched.writeStream.outputMode("append").format("memory").queryName(query_name),
        [events_parquet_dir],
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def distinct_user_actions(events: DataFrame) -> DataFrame:
    """Batch twin of the streaming dedup: the distinct (user, event_type)
    key set."""
    return events.select("user_id", "event_type").distinct()


def run_stream_dedup(
    spark: SparkSession,
    events_parquet_dir: str,
    query_name: str = "deduped",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming exact dedup: first event per (user, event_type) key
    survives, duplicates are dropped in-flight — the streaming half of the
    corpus dedup family (exact dedup over an unbounded source).

    Default form is engine-managed full-history ``dropDuplicates`` whose
    emitted key set EXACTLY equals the batch ``SELECT DISTINCT`` twin
    (:func:`distinct_user_actions`) — that equality is the oracle. Its
    state grows with the distinct-key count, which is the inherent price
    of exact dedup over an unbounded stream; ``within_watermark=True``
    switches to ``dropDuplicatesWithinWatermark``, the bounded-state scale
    path that only guarantees dedup among events inside the watermark
    horizon (so it is NOT batch-equal on late duplicates — kept behind a
    flag, not silently substituted).
    """
    stream = _file_stream(spark, events_parquet_dir)
    if within_watermark:
        deduped = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
    else:
        # NO watermark on the exact path: a watermark on a stateful dedup
        # makes Spark DROP input rows older than the horizon before they
        # reach the dedup (ts rides in the child output) while full-history
        # state still never evicts — a late never-seen key would silently
        # vanish from the output the batch DISTINCT twin includes, i.e.
        # the worst of both worlds (r7 streaming review)
        deduped = (
            stream.select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )
    _drain(
        spark,
        deduped.writeStream.outputMode("append").format("memory").queryName(query_name),
        [events_parquet_dir],
    )
    # no defensive DISTINCT here: the sink contents ARE the dedup output,
    # and the batch-equality oracle should see them unlaundered
    return spark.sql(f"SELECT user_id, event_type FROM {query_name}")


def run_stream_pairs(
    spark: SparkSession,
    events_parquet_dir: str,
    window_s: int = 60,
    query_name: str = "stream_pairs",
) -> DataFrame:
    """STREAM-STREAM self-join: same-user event pairs within ``window_s``
    seconds, computed as the events arrive — the last Structured Streaming
    join kind the engine exposes (stream-static is ``run_stream_enrich``;
    this is the stateful two-stream form).

    Both sides carry a watermark and the join condition includes an
    event-time range, so Spark buffers each side's rows ONLY within the
    watermark + range horizon and evicts older state — bounded state by
    construction, the requirement for an unbounded 100 TB/day stream. The
    interval bound is padded by 1 s and the exact predicate re-checks
    floored epoch seconds, keeping the emitted pair set IDENTICAL to the
    batch twin (``joins.range_pairs_within`` flooring semantics, query
    ``events_pairs_60s``) — that batch equality is the oracle.

    ``id_a < id_b`` inside the join condition orients each unordered pair
    exactly once, so append mode needs no post-hoc distinct.
    """
    a = (
        _file_stream(spark, events_parquet_dir)
        .select(
            F.col("user_id").alias("u_a"),
            F.col("event_id").alias("id_a"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "1 hour")
    )
    b = (
        _file_stream(spark, events_parquet_dir)
        .select(
            F.col("user_id").alias("u_b"),
            F.col("event_id").alias("id_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "1 hour")
    )
    pairs = a.join(
        b,
        F.expr(
            f"""u_a = u_b AND id_a < id_b
            AND ts_b BETWEEN ts_a - INTERVAL {window_s + 1} SECONDS
                         AND ts_a + INTERVAL {window_s + 1} SECONDS
            AND abs(unix_timestamp(ts_a) - unix_timestamp(ts_b)) <= {window_s}"""
        ),
        "inner",
    ).select(F.col("u_a").alias("user_id"), "id_a", "id_b")
    _drain(
        spark,
        pairs.writeStream.outputMode("append").format("memory").queryName(query_name),
        [events_parquet_dir, events_parquet_dir],
    )
    return spark.sql(f"SELECT user_id, id_a, id_b FROM {query_name}")


_NULL_ES = -(2**62)  # NULL-ts sort key used across the amend family


def _parse_ttl_ms(ttl: str) -> int:
    """Parse a Spark-interval-style TTL string ('90 seconds', '2 hours')
    into milliseconds for ``GroupState.setTimeoutTimestamp``."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", ttl)
    if not m:
        raise ValueError(
            f"unsupported state_ttl {ttl!r}; use 'N seconds/minutes/hours/days'"
        )
    mult = {
        "second": 1_000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[m.group(2)]
    return int(m.group(1)) * mult


def _amend_ver(evs, prev_ver: int, ttl_ms: int | None, state=None) -> int:
    """Per-user emission version for the amend family (returns the NEW
    version given the previous one from state).

    Default (unbounded-state) path: the plain trigger counter — strictly
    increasing because state never disappears. Under a ``state_ttl``,
    state CAN expire and a returning user's counter restarts at 1, which
    would lose the max(ver) race against the user's stale pre-expiry sink
    rows — so the TTL path derives ver from time:
    max(max-event-epoch-ms, current-watermark-ms) · 10⁶ +
    min(events_seen, 10⁶−1), floored at prev_ver + 1 (the floor keeps
    users whose state holds no timestamped events strictly increasing
    too; such users never arm a timer, so their counter never resets).

    The WATERMARK term is the cross-expiry monotone floor (r8 ADVICE):
    expiry only fires once the watermark strictly passed the expired
    state's last event + ttl — and the watermark at that state's last
    emission — so any post-expiry emission, INCLUDING one whose first
    batch carries only NULL-ts events (which pass Spark's late filter
    and used to restart at ver ≈ count), carries a strictly larger base
    than every pre-expiry sink row and wins the max(ver) read. Monotone
    within a run too: event max, watermark, and count only grow, and the
    prev_ver + 1 floor backstops all paths."""
    if ttl_ms is None:
        return prev_ver + 1
    wm_ms = 0
    if state is not None:
        try:  # TTL mode always has a watermark; guard for direct unit calls
            wm_ms = max(0, state.getCurrentWatermarkMs())
        except Exception:
            pass
    mx = max((e[0] for e in evs if e[0] != _NULL_ES), default=None)
    mx_ms = 0 if mx is None else mx // 1000
    return max(max(mx_ms, wm_ms) * 1_000_000 + min(len(evs), 999_999), prev_ver + 1)


def _arm_state_ttl(state, evs, ttl_ms: int | None) -> None:
    """Arm the event-time timeout at last-event + ttl (clamped above the
    current watermark, which Spark requires). A user with only NULL-ts
    events gets no timer — the watermark can never pass them."""
    if ttl_ms is None:
        return
    mx = max((e[0] for e in evs if e[0] != _NULL_ES), default=None)
    if mx is not None:
        state.setTimeoutTimestamp(
            max(mx // 1000 + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )


def run_stream_sessionize(
    spark: SparkSession,
    events_parquet_dir: str,
    gap_minutes: int = 30,
    query_name: str = "sessions",
    max_files_per_trigger: int | None = None,
    state_ttl: str | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: gap sessionization via
    ``applyInPandasWithState`` (per-user GroupState).

    State holds the user's FULL (micro-epoch, event_id) list and every
    trigger RE-DERIVES all sessions from the sorted list — the amend
    pattern of ``run_stream_transitions``. The r6 shape kept only
    per-session aggregates and merged each new event into the most
    recent session, which silently corrupted sessions when a later
    trigger delivered an out-of-order event (an 08:00 arrival after a
    12:00 session satisfied ``es − last_end ≤ gap`` and merged forward,
    and ``start_epoch`` could never move down); it also returned the
    raw memory sink, so multi-trigger runs surfaced stale rows next to
    their amendments. Both fixed: full re-derivation makes the output a
    pure function of the events seen so far (matching the batch
    ``sessionize`` twin on ANY trigger split), and each emission carries
    a per-user version the final read filters to max(ver). Ordering
    mirrors the batch twin exactly: sort by (micro-epoch, event_id),
    gap compare on SECOND-floored epochs (``unix_timestamp`` semantics).
    State is the user's event history — the open-tail trade documented
    on the funnel/pattern operators. ``state_ttl`` (default OFF — the
    batch-equal certified form) is the bounded-state knob for real
    deployments: a watermark with that horizon plus an event-time
    timeout that REMOVES a user's state once the watermark passes their
    last event + ttl (``numRowsRemoved`` in the state metrics — pass
    ``progress_out`` to capture). The price is exactness on stragglers:
    events later than the horizon are dropped by the watermark, and a
    user returning after expiry re-derives sessions from post-expiry
    events only (their emission version is event-time-derived so the
    fresh rows still win the max(ver) read — see ``_amend_ver``).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    opts = (
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger
        else None
    )
    stream = _file_stream(spark, events_parquet_dir, options=opts)
    ttl_ms = _parse_ttl_ms(state_ttl) if state_ttl else None
    if state_ttl:
        stream = stream.withWatermark("ts", state_ttl)
    # the watermark attribute (ts) must reach the stateful operator's
    # input or Spark rejects EventTimeTimeout — pass it through under TTL
    cols = ["user_id", "event_id", F.unix_micros(F.col("ts")).alias("es")]
    ev = stream.select(*cols, *(["ts"] if state_ttl else []))

    gap_s = gap_minutes * 60
    out_schema = (
        "user_id long, ver long, session_i long, n_events long,"
        " start_epoch long, end_epoch long"
    )
    state_schema = "evs array<struct<es:long,eid:long>>, ver long"

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (user_id,) = key
        evs, ver = (
            ([list(e) for e in state.get[0]], int(state.get[1]))
            if state.exists
            else ([], 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        for es, eid in zip(rows["es"], rows["event_id"]):
            es_key = _NULL_ES if pd.isna(es) else int(es)
            evs.append([es_key, int(eid)])
        ver = _amend_ver(evs, ver, ttl_ms, state)
        state.update(([tuple(e) for e in evs], ver))
        _arm_state_ttl(state, evs, ttl_ms)
        evs.sort(key=lambda r: (r[0], r[1]))
        sessions = []  # [session_i, n, start_s, end_s]
        for es_us, _ in evs:
            if es_us == -(2**62):
                # NULL ts (sorts first, batch NULLS FIRST): the batch
                # twin's lag-diff is NULL → break, so every NULL-ts
                # event is its OWN session with NULL epochs
                sessions.append([len(sessions) + 1, 1, None, None])
                continue
            s = es_us // 1_000_000  # batch twin compares unix_timestamp
            if (
                sessions
                and sessions[-1][3] is not None
                and s - sessions[-1][3] <= gap_s
            ):
                cur = sessions[-1]
                cur[1] += 1
                cur[3] = max(cur[3], s)
            else:
                sessions.append([len(sessions) + 1, 1, s, s])
        yield pd.DataFrame(
            {
                "user_id": pd.array([user_id] * len(sessions), dtype="Int64"),
                "ver": pd.array([ver] * len(sessions), dtype="Int64"),
                "session_i": [s[0] for s in sessions],
                "n_events": [s[1] for s in sessions],
                "start_epoch": pd.array([s[2] for s in sessions], dtype="Int64"),
                "end_epoch": pd.array([s[3] for s in sessions], dtype="Int64"),
            }
        )

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.EventTimeTimeout if state_ttl else GroupStateTimeout.NoTimeout,
    )
    _drain(
        spark,
        sessions.writeStream.outputMode("update").format("memory").queryName(query_name),
        [events_parquet_dir],
        progress_out,
        min_partitions=_python_state_floor(spark, events_parquet_dir),
    )
    return spark.sql(
        f"""
        WITH latest AS (
          SELECT user_id, max(ver) AS mv FROM {query_name} GROUP BY 1
        )
        SELECT s.user_id, s.session_i, s.n_events, s.start_epoch, s.end_epoch
        FROM {query_name} s JOIN latest l
          ON s.user_id = l.user_id AND s.ver = l.mv"""
    )


def run_stream_funnel(
    spark: SparkSession,
    events_parquet_dir: str,
    steps: tuple = ("view", "click", "purchase"),
    query_name: str = "funnel_stream",
    max_files_per_trigger: int | None = None,
    state_ttl: str | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """Custom stateful streaming operator #2: per-user FUNNEL state machine
    via ``applyInPandasWithState`` — the streaming twin of
    ``operators.events.funnel_reach`` (same output schema, certified equal
    on the fixture by pytest and by reusing the batch SQL oracle).

    State holds the user's step-relevant event times in MICROsecond
    epochs — the chain comparison (t_i = earliest step-i time at-or-after
    t_{i-1}) must run at the batch twin's full timestamp precision (the
    r6 shape compared second-floored epochs, so two same-second events in
    the wrong sub-second order satisfied the chain the batch twin
    rejects); only the EMITTED epochs floor to seconds, mirroring the
    twin's ``unix_timestamp`` output. The chain is NOT monotone under new
    data — an earlier step-0 arrival can re-open earlier step-1
    candidates — so per-type times cannot be pruned below the current
    chain; the state bound is the user's step-type event count — the
    ``state_ttl`` knob (default OFF, the batch-equal certified form)
    bounds it with a watermark + event-time timeout exactly as on the
    sessionize operator: expired users' state is REMOVED
    (``numRowsRemoved`` via ``progress_out``), stragglers beyond the
    horizon are dropped, and post-expiry re-derivations use the
    event-time-derived version so they win the max(ver) read. Each
    trigger re-derives the chain and emits the user's amended row
    stamped with a per-user VERSION; the final read keeps only each
    user's latest version (the memory sink appends every update batch —
    the r6 shape returned the raw sink, so multi-trigger runs surfaced
    stale rows).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    opts = (
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger
        else None
    )
    stream = _file_stream(spark, events_parquet_dir, options=opts)
    ttl_ms = _parse_ttl_ms(state_ttl) if state_ttl else None
    if state_ttl:
        stream = stream.withWatermark("ts", state_ttl)
    step_ix = {s: i for i, s in enumerate(steps)}
    # ts passthrough under TTL: see run_stream_sessionize
    ev = stream.select(
        "user_id",
        F.col("event_type"),
        F.unix_micros(F.col("ts")).alias("es"),
        *(["ts"] if state_ttl else []),
    )

    n_steps = len(steps)
    out_schema = "user_id long, ver long, reached long, " + ", ".join(
        f"t{i}_epoch long" for i in range(n_steps)
    )
    state_schema = "evs array<struct<si:int,es:long>>, ver long"

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (user_id,) = key
        evs, ver = (
            ([list(e) for e in state.get[0]], int(state.get[1]))
            if state.exists
            else ([], 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        for et, es in zip(rows["event_type"], rows["es"]):
            si = step_ix.get(et)
            if si is not None and not pd.isna(es):
                evs.append([int(si), int(es)])
        # funnel state rows are (step_i, es) — es sits at index 1, so the
        # shared ver/ttl helpers (which read index 0) get an es-first view
        es_first = [[es, si] for si, es in evs]
        ver = _amend_ver(es_first, ver, ttl_ms, state)
        state.update(([tuple(e) for e in evs], ver))
        _arm_state_ttl(state, es_first, ttl_ms)
        ts, prev = [], None
        for i in range(n_steps):
            cand = [
                es
                for si, es in evs
                if si == i and (i == 0 or (prev is not None and es >= prev))
            ]
            prev = min(cand) if cand else None
            ts.append(prev)
        reached = 0
        for t in ts:
            if t is None:
                break
            reached += 1
        out = {"user_id": pd.array([user_id], dtype="Int64"),
               "ver": pd.array([ver], dtype="Int64"),
               "reached": pd.array([reached], dtype="Int64")}
        for i, t in enumerate(ts):
            # emitted epochs floor to seconds (the twin's unix_timestamp)
            out[f"t{i}_epoch"] = pd.array(
                [None if t is None else t // 1_000_000], dtype="Int64"
            )
        yield pd.DataFrame(out)

    funnel = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.EventTimeTimeout if state_ttl else GroupStateTimeout.NoTimeout,
    )
    _drain(
        spark,
        funnel.writeStream.outputMode("update").format("memory").queryName(query_name),
        [events_parquet_dir],
        progress_out,
        min_partitions=_python_state_floor(spark, events_parquet_dir),
    )
    tcols = ", ".join(f"s.t{i}_epoch" for i in range(n_steps))
    return spark.sql(
        f"""
        WITH latest AS (
          SELECT user_id, max(ver) AS mv FROM {query_name} GROUP BY 1
        )
        SELECT s.user_id, s.reached, {tcols}
        FROM {query_name} s JOIN latest l
          ON s.user_id = l.user_id AND s.ver = l.mv"""
    )


def _file_stream(
    spark: SparkSession,
    source_parquet: str,
    want_event_ts: bool = True,
    link_dir: str | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Shared file-source preamble: the stream source needs a directory
    (single files are exposed via a symlinked dir — pass a stable
    ``link_dir`` when a durable checkpoint must find the same source path
    across restarts), the schema comes from a batch read, and a long nanos
    ``ts`` is normalized to a microsecond timestamp when the consumer
    wants one."""
    import os
    import tempfile

    from ..sources import normalize_event_ts

    if os.path.isfile(source_parquet):
        d = link_dir or tempfile.mkdtemp(prefix="stream_src_")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(source_parquet))
        # lexists, not exists: exists() follows the symlink, so a BROKEN
        # link (source deleted/recreated elsewhere) would look absent and
        # os.symlink would raise FileExistsError; and a live link to a
        # DIFFERENT old target would silently stream stale data — re-link
        # whenever the target moved. Compare canonical paths: a relative
        # vs absolute spelling of the SAME file must not look like a move
        # (retargeting a link a running query reads through swaps its
        # source mid-stream)
        if os.path.lexists(link):
            if os.path.islink(link) and os.path.realpath(link) != os.path.realpath(
                source_parquet
            ):
                os.unlink(link)
                os.symlink(source_parquet, link)
        else:
            os.symlink(source_parquet, link)
        source_parquet = d
    schema = spark.read.parquet(source_parquet).schema
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(source_parquet)
    if want_event_ts:
        stream = normalize_event_ts(stream)
    return stream


def stream_into_store(
    spark: SparkSession,
    source_parquet: str,
    store,
    matview=None,
    options: dict | None = None,
    merge_on: int | str | None = None,
    vector_index=None,
    vector_index_refresh_every: int = 1,
) -> int:
    """Continuous ingestion: a file stream lands in a Store via
    ``foreachBatch`` — each micro-batch becomes one Store commit (dense
    rowids, index maintenance, atomic manifest flip).

    Effectively-once: the streaming checkpoint lives under the store path
    (a restart resumes from committed offsets instead of re-reading the
    source), and the last committed epoch is recorded as a manifest
    property — written in the SAME atomic manifest commit as the batch's
    data, so a crash can never land data without its epoch marker (or
    vice versa); a replayed ``foreachBatch`` epoch is skipped rather than
    re-inserted. Returns rows ingested this run.

    ``matview``: an optional :class:`~..matview.MatView` over this store —
    refreshed once per committed micro-batch, so the aggregate view
    trails the stream by exactly one CDC delta (the continuously-
    maintained-dashboard shape; each refresh is itself one atomic merge
    commit on the view's own Store). A replayed epoch skips the insert
    and the refresh no-ops on the unchanged base version — the
    effectively-once contract extends to the view. ``options`` passes
    stream reader options through (e.g. ``maxFilesPerTrigger`` to pace
    epochs).

    ``merge_on``: streaming UPSERT — each micro-batch lands via
    :meth:`Store.merge` on this key instead of a plain append, so a row
    re-keyed in a later batch REPLACES its predecessor (the CDC-mirror /
    dimension-table ingestion shape). The merge's tombstones and inserts
    share one atomic manifest commit carrying the epoch marker, so
    effectively-once holds exactly as in append mode; per-batch cost is
    ∝ victims + batch (one indexed probe per key group), never a table
    rewrite.

    ``vector_index``: an optional
    :class:`~..operators.vector_index.VectorIndex` over this store —
    ``refresh()``ed once per committed micro-batch (the continuously-
    maintained-ANN shape: new embeddings are probe-visible one CDC delta
    behind the stream; each refresh is broadcast-assign + encode over
    exactly the batch, Lloyd never re-runs). A replayed epoch skips the
    insert and the refresh no-ops on the unchanged base version, and
    refresh itself is replay-idempotent (inserts are removed-then-added)
    — effectively-once extends to the index like it does to the view.

    ``vector_index_refresh_every``: refresh the index every Nth committed
    micro-batch instead of every one (default 1). Each refresh pays a
    fixed commit floor (two Store commits: rows merge + meta) regardless
    of delta size — measured, that floor dominates per-trigger cost at
    small batch sizes (docs/SCALE.md r10) — so a high-frequency stream
    can amortize it N× at the price of the index trailing by up to N
    deltas. Replay-safe at any N: refresh consumes the corpus CDC delta
    since its own source_version, so skipped epochs are simply folded
    into the next refresh, and a final catch-up refresh runs when the
    stream drains — the index never ENDS behind the store."""
    import os

    from pyspark.sql import types as T

    # align the batch shape with the store's declared schema: only
    # normalize a long nanos ts when the store actually expects a timestamp
    want_ts = "ts" in store.colnames and isinstance(
        store.schema["ts"].dataType, T.TimestampType
    )
    state_dir = os.path.join(store.path, "_streaming")
    os.makedirs(state_dir, exist_ok=True)
    stream = _file_stream(
        spark,
        source_parquet,
        want_event_ts=want_ts,
        link_dir=os.path.join(state_dir, "src"),
        options=options,
    )
    last_epoch = int(store.manifest.props.get("stream_epoch", -1))

    ingested = [0]
    commits = [0]
    every = max(1, int(vector_index_refresh_every))

    def sink(batch_df: DataFrame, epoch: int) -> None:
        if epoch <= last_epoch:
            return  # replayed micro-batch: already committed
        # stage the marker BEFORE insert: insert's manifest commit persists
        # data + epoch atomically. An empty batch commits nothing — its
        # replay is a harmless no-op, and the next non-empty commit carries
        # the latest epoch forward.
        store.manifest.props["stream_epoch"] = epoch
        if merge_on is not None:
            inserted, _replaced = store.merge(batch_df, on=merge_on)
            ingested[0] += inserted
        else:
            ingested[0] += store.insert(batch_df)
        if matview is not None:
            matview.refresh()  # exactly this batch's CDC delta
        commits[0] += 1
        if vector_index is not None and commits[0] % every == 0:
            # the CDC delta since the index's own source_version — folds
            # any epochs skipped by the cadence; same no-op on replay
            vector_index.refresh(store)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(state_dir, "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if vector_index is not None and commits[0] % every != 0:
        # catch-up: the index never ends behind the drained stream
        vector_index.refresh(store)
    return ingested[0]


def hopping_rollup(
    events: DataFrame, width_s: int = 3600, hop_s: int = 900
) -> DataFrame:
    """HOPPING (sliding) window counts/sums per event_type: each event
    lands in ``width_s / hop_s`` overlapping windows (hourly windows every
    15 minutes by default) — the smooth-trend twin of the tumbling
    ``hourly_rollup``. Spark's native ``window(ts, width, hop)`` replicates
    the row per hop JVM-side; work scales by the overlap factor, not by a
    self-join. Window starts are epoch-aligned (Spark aligns to epoch 0),
    emitted as epoch seconds so the oracle compare is timezone-proof."""
    from ..functions import dsum

    assert width_s % hop_s == 0, "width must be a multiple of hop"
    return (
        events.groupBy(
            F.window("ts", f"{width_s} seconds", f"{hop_s} seconds"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hop_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_hopping_rollup(
    spark: SparkSession,
    events_parquet_dir: str,
    query_name: str = "hopping",
    width_s: int = 3600,
    hop_s: int = 900,
) -> DataFrame:
    """The same hopping rollup as a real Structured Streaming query
    (file source → watermark → sliding windowed agg → memory sink).

    NOTE: under ``outputMode("complete")`` Spark keeps ALL window state
    and the watermark does NOT evict or drop anything — right for oracle
    certification on a bounded fixture, but it exercises no late-data
    semantics. :func:`run_stream_hopping_append` is this family's
    production-shaped twin: append mode + file sink, where the watermark
    actually finalizes each hop and evicts its state."""
    stream = _file_stream(spark, events_parquet_dir).withWatermark("ts", "1 hour")
    agg = hopping_rollup(stream, width_s, hop_s)
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(query_name),
        [events_parquet_dir],
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_rollup_append(
    spark: SparkSession,
    events_parquet_dir: str,
    out_dir: str | None = None,
    delay: str = "1 hour",
    progress_out: list | None = None,
) -> DataFrame:
    """The hourly rollup run the way production runs it: ``outputMode
    ("append")`` to a parquet FILE sink with watermark-driven
    finalization — the complete-mode memory-sink drivers certify values
    but never evict state; this one does both.

    Append-mode contract: a window is emitted to the sink exactly once,
    when the watermark (max event time seen − ``delay``) passes the
    window's end; Spark then REMOVES the window's rows from the state
    store (visible as ``numRowsRemoved`` in the state-operator progress
    metrics — pass ``progress_out`` to capture them). Windows the
    watermark has not passed stay open in state and are intentionally
    absent from the sink, so the batch/SQL oracle applies the same
    cutoff: ``window_end <= max(ts) − delay``.

    The finalizing batch is Spark's no-data micro-batch (fires after the
    data batch advances the watermark); ``processAllAvailable`` waits
    for it, so a bounded fixture still yields every closable window.
    """
    import os
    import tempfile

    from ..functions import dsum

    out_dir = out_dir or tempfile.mkdtemp(prefix="rollup_append_sink_")
    # checkpoint co-located with the sink (the near-dedup convention): a
    # fresh mkdtemp checkpoint per call would re-read the WHOLE source on
    # the next call and append every already-finalized window to the same
    # sink again — silent double counts for any caller passing a stable
    # out_dir (r7 streaming review)
    cp_dir = os.path.join(out_dir, "_checkpoint")
    # link_dir co-located too: for a single-FILE source, a fresh mkdtemp
    # symlink dir per call would hand the resumed checkpoint a DIFFERENT
    # source path — the seen-files log never matches, the whole source is
    # re-read, and every finalized window double-appends (the very bug the
    # stable checkpoint exists to stop); stable sink ⇒ stable source path
    stream = _file_stream(
        spark, events_parquet_dir, link_dir=os.path.join(out_dir, "_src")
    ).withWatermark("ts", delay)
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _drain(
        spark,
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir),
        [events_parquet_dir],
        progress_out,
    )
    return spark.read.schema(agg.schema).parquet(out_dir)


def run_stream_near_dedup(
    spark: SparkSession,
    docs_parquet: str,
    query_name: str = "near_dedup",
    within_watermark: bool = False,
    ts_col: str = "ts",
    delay: str = "1 hour",
    state_dir: str | None = None,
) -> DataFrame:
    """Streaming NEAR-dedup over a document stream: every arriving
    document gets its SimHash fingerprint in the map stage (pure array
    expressions — the same ``dedup.simhash`` the batch path uses).

    Default form maintains a running groupBy on the fingerprint — each
    family's deterministic survivor (min id) and size. State is one row
    per distinct fingerprint, and the output is the fingerprint-family
    table a downstream keep/drop join consumes. Certified by the
    identical batch grouping oracle. The inherent price: that state
    never expires, so over an unbounded stream the family table grows
    with the distinct-fingerprint count.

    ``within_watermark=True`` is the bounded-state scale path (mirrors
    :func:`run_stream_dedup`): ``dropDuplicatesWithinWatermark`` on the
    fingerprint keyed by the document's event-time column ``ts_col`` —
    fingerprint state older than the watermark horizon is evicted
    instead of held forever. The price is exactness on LATE duplicates:
    once the watermark has passed, a straggling duplicate is no longer
    matched against its (expired) family, so the output is NOT
    batch-equal on late data (kept behind the flag, not silently
    substituted; the pinned behavior is in
    ``test_stream_near_dedup_within_watermark_bounded_state``). Output
    is the surviving (doc_id, simhash) rows, append mode to a parquet
    sink under ``state_dir`` — a file sink + checkpoint so state and
    offsets persist across restarts (run it again after new files land
    and only the new files are processed against the retained state).
    """
    from ..operators.dedup import simhash

    if within_watermark:
        import os
        import tempfile

        state_dir = state_dir or tempfile.mkdtemp(prefix="near_dedup_state_")
        out_dir = os.path.join(state_dir, "out")
        stream = _file_stream(
            spark, docs_parquet, want_event_ts=True,
            link_dir=os.path.join(state_dir, "src"),
        )
        if ts_col not in stream.columns:
            raise ValueError(
                f"within_watermark near-dedup needs an event-time column {ts_col!r}"
            )
        fp = simhash(stream, "doc_id", "text", keep=(ts_col,))
        survivors = fp.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["simhash"]
        ).select("doc_id", "simhash")
        _drain(
            spark,
            survivors.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(state_dir, "checkpoint")),
            [docs_parquet],
        )
        return spark.read.schema(survivors.schema).parquet(out_dir)

    stream = _file_stream(spark, docs_parquet, want_event_ts=False)
    fp = simhash(stream, "doc_id", "text")
    agg = fp.groupBy("simhash").agg(
        F.min("doc_id").alias("keeper"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(query_name),
        [docs_parquet],
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_hourly_rollup(spark: SparkSession, events_parquet_dir: str, query_name: str = "hourly") -> DataFrame:
    """Drive the same rollup as a real streaming query over the parquet
    events (file source, memory sink, processAllAvailable) — smoke-proof
    that the aggregation is streamable with a watermark. Returns the
    materialized result."""
    stream = _file_stream(spark, events_parquet_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
        )
    )
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(query_name),
        [events_parquet_dir],
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_heavy_hitters(
    spark: SparkSession,
    events_parquet_dir: str,
    col: str = "user_id",
    support: float = 0.001,
    capacity: int = 4096,
    n_shards: int = 8,
    query_name: str = "stream_hh",
) -> DataFrame:
    """Streaming frequency heavy hitters with BOUNDED state: sharded
    space-saving summaries via ``applyInPandasWithState`` — the streaming
    twin of ``sketch.heavy_hitters`` (same output schema: value, cnt,
    frac).

    Each value hashes to one of ``n_shards`` shard keys; per-shard
    GroupState holds a space-saving summary of at most ``capacity``
    counters (hit → increment; miss with room → insert; miss when full →
    evict the min counter, inherit its count as the new counter's error
    bound). State is ≤ ``n_shards × capacity`` counters TOTAL however
    large the stream — the bounded-state property exact streaming counts
    cannot give. Space-saving guarantees every value with true frequency
    > shard_n/capacity is present, with count overestimated by ≤ its
    recorded error.

    Each trigger re-emits the shard's current summary stamped with the
    shard's running total (update mode); the final read keeps each
    shard's latest snapshot (rows carrying that shard's max total),
    merges shards, and applies the support threshold.

    At ``capacity`` ≥ per-shard NDV no eviction ever happens, errors stay
    0 and the result is EXACT — equal to the batch ``sketch.heavy_hitters``
    — which is what lets the driver oracle certify this operator
    bit-for-bit (default capacity is sized for the fixture's NDV); the
    eviction path is pinned separately by a small-capacity property test
    (guarantee above, not batch equality).
    """
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _file_stream(spark, events_parquet_dir, want_event_ts=False).select(
        F.pmod(F.xxhash64(F.col(col)), F.lit(n_shards)).cast("int").alias("__shard"),
        F.col(col).cast("string").alias("value"),
    )
    out_schema = "shard int, value string, cnt long, err long, shard_total long"
    state_schema = "vals array<string>, cnts array<long>, errs array<long>, n_seen long"

    def fn(key, pdfs, state: GroupState):
        (shard,) = key
        if state.exists:
            vals, cnts, errs, n = state.get
            summ = {v: [int(c), int(e)] for v, c, e in zip(vals, cnts, errs)}
            n = int(n)
        else:
            summ, n = {}, 0
        for pdf in pdfs:
            for v in pdf["value"]:
                n += 1
                hit = summ.get(v)
                if hit is not None:
                    hit[0] += 1
                elif len(summ) < capacity:
                    summ[v] = [1, 0]
                else:
                    # deterministic eviction: min count, ties by value —
                    # NULL keys sort first ((False, "") < (True, "")), and
                    # never TypeError against str keys
                    mv = min(
                        summ, key=lambda k: (summ[k][0], k is not None, k or "")
                    )
                    mc = summ[mv][0]
                    del summ[mv]
                    summ[v] = [mc + 1, mc]
        state.update(
            (
                list(summ.keys()),
                [c for c, _ in summ.values()],
                [e for _, e in summ.values()],
                n,
            )
        )
        yield pd.DataFrame(
            {
                "shard": [int(shard)] * len(summ),
                "value": list(summ.keys()),
                "cnt": [c for c, _ in summ.values()],
                "err": [e for _, e in summ.values()],
                "shard_total": [n] * len(summ),
            }
        )

    res = stream.groupBy("__shard").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    _drain(
        spark,
        res.writeStream.outputMode("update").format("memory").queryName(query_name),
        [events_parquet_dir],
        min_partitions=n_shards,
    )
    snap = spark.sql(f"SELECT * FROM {query_name}")
    # latest snapshot per shard: only rows stamped with that shard's max
    # running total survive (earlier triggers' rows — including values
    # since evicted — carry a smaller one)
    latest = snap.withColumn(
        "__mx", F.max("shard_total").over(W.partitionBy("shard"))
    ).filter(F.col("shard_total") == F.col("__mx"))
    total = (
        latest.select("shard", "shard_total")
        .distinct()
        .agg(F.sum("shard_total").alias("__total"))
    )
    return (
        latest.groupBy("value")
        .agg(F.sum("cnt").alias("cnt"), F.sum("err").alias("err"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.col("__total") * F.lit(support))
        .select(
            "value",
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 8).alias("frac"),
            "err",
        )
    )


def run_stream_hopping_append(
    spark: SparkSession,
    events_parquet_dir: str,
    out_dir: str | None = None,
    width_s: int = 3600,
    hop_s: int = 900,
    delay: str = "1 hour",
    progress_out: list | None = None,
) -> DataFrame:
    """The HOPPING rollup in production shape: ``outputMode("append")`` +
    parquet file sink + watermark finalization — the sliding-window twin
    of :func:`run_stream_rollup_append`, closing the same gap for this
    family (the complete-mode driver certifies values but never evicts
    state). A sliding window finalizes when the watermark passes its END
    (start + width), and every hop an event belongs to finalizes
    independently — so the sink holds exactly the hops with
    ``hop_epoch + width_s <= max(ts) − delay``, the cutoff the batch
    oracle applies. State rows for closed windows are EVICTED
    (``numRowsRemoved`` via ``progress_out``)."""
    import os
    import tempfile

    out_dir = out_dir or tempfile.mkdtemp(prefix="hopping_append_sink_")
    cp_dir = os.path.join(out_dir, "_checkpoint")  # stable: see rollup_append
    stream = _file_stream(  # stable link_dir too: see rollup_append
        spark, events_parquet_dir, link_dir=os.path.join(out_dir, "_src")
    ).withWatermark("ts", delay)
    agg = hopping_rollup(stream, width_s, hop_s)
    _drain(
        spark,
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir),
        [events_parquet_dir],
        progress_out,
    )
    return spark.read.schema(agg.schema).parquet(out_dir)


def run_stream_transitions(
    spark: SparkSession,
    events_parquet_dir: str,
    query_name: str = "transitions_stream",
    max_files_per_trigger: int | None = None,
    state_ttl: str | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: INCREMENTAL user-path
    transition counts via ``applyInPandasWithState`` — the streaming twin
    of ``operators.events.transition_counts`` (the behavioral Markov
    matrix, certified against the same batch SQL).

    A transition is not an append-only fact: a late event lands BETWEEN
    two already-paired events and rewrites both adjacent transitions, so
    per-user state keeps the (es_micros, event_id, type) list and each
    trigger re-derives the user's full pair multiset, emitting amended
    (user, prev, next, n) rows in update mode. The state bound is the
    user's event count — the same open-tail trade documented for the
    funnel and sessionize operators; ``state_ttl`` (default OFF, the
    batch-equal certified form) is the watermark + event-time-timeout
    expiry knob shared with them (state REMOVED once the watermark
    passes last event + ttl; stragglers beyond the horizon dropped;
    event-time-derived versions keep post-expiry amendments winning the
    max(ver) read). Ordering uses MICROsecond epochs + event_id, the
    exact (ts, event_id) total order the batch oracle sorts by.

    Each emission carries a per-user VERSION; the batch read of the sink
    keeps only each user's latest version before summing, so amended rows
    from earlier triggers never double-count (the memory sink appends
    every update batch)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    opts = (
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger
        else None
    )
    stream = _file_stream(spark, events_parquet_dir, options=opts)
    ttl_ms = _parse_ttl_ms(state_ttl) if state_ttl else None
    if state_ttl:
        stream = stream.withWatermark("ts", state_ttl)
    # ts passthrough under TTL: see run_stream_sessionize
    ev = stream.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("es"),
        "event_id",
        "event_type",
        *(["ts"] if state_ttl else []),
    )
    out_schema = (
        "user_id long, ver long, prev_type string, next_type string, n long"
    )
    state_schema = "evs array<struct<es:long,eid:long,et:string>>, ver long"

    def fn(key, pdfs, state: GroupState):
        from collections import Counter

        if state.hasTimedOut:
            state.remove()
            return
        (user_id,) = key
        evs, ver = (
            ([list(e) for e in state.get[0]], int(state.get[1]))
            if state.exists
            else ([], 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        for es, eid, et in zip(rows["es"], rows["event_id"], rows["event_type"]):
            # null ts sorts FIRST (Spark window NULLS FIRST order); null
            # event_type stays None — the batch twin keeps (A, NULL)
            # pairs and drops NULL-prev ones, so must we
            es_key = _NULL_ES if pd.isna(es) else int(es)
            evs.append([es_key, int(eid), None if et is None else str(et)])
        ver = _amend_ver(evs, ver, ttl_ms, state)
        state.update(([tuple(e) for e in evs], ver))
        _arm_state_ttl(state, evs, ttl_ms)
        evs.sort(key=lambda r: (r[0], r[1]))
        pairs = Counter(
            (a[2], b[2]) for a, b in zip(evs, evs[1:]) if a[2] is not None
        )
        if not pairs:
            return
        items = sorted(pairs.items(), key=lambda kv: (kv[0][0], kv[0][1] or ""))
        yield pd.DataFrame(
            {
                "user_id": pd.array([user_id] * len(items), dtype="Int64"),
                "ver": pd.array([ver] * len(items), dtype="Int64"),
                "prev_type": [p for (p, _), _ in items],
                "next_type": [nx for (_, nx), _ in items],
                "n": pd.array([c for _, c in items], dtype="Int64"),
            }
        )

    trans = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.EventTimeTimeout if state_ttl else GroupStateTimeout.NoTimeout,
    )
    _drain(
        spark,
        trans.writeStream.outputMode("update").format("memory").queryName(query_name),
        [events_parquet_dir],
        progress_out,
        min_partitions=_python_state_floor(spark, events_parquet_dir),
    )
    return spark.sql(
        f"""
        WITH latest AS (
          SELECT user_id, max(ver) AS mv FROM {query_name} GROUP BY 1
        )
        SELECT prev_type, next_type, CAST(sum(n) AS BIGINT) AS n_transitions
        FROM {query_name} s JOIN latest l
          ON s.user_id = l.user_id AND s.ver = l.mv
        GROUP BY 1, 2"""
    )


def run_stream_pattern(
    spark: SparkSession,
    events_parquet_dir: str,
    step_a: str = "view",
    step_b: str = "purchase",
    without: str = "error",
    query_name: str = "pattern_stream",
    max_files_per_trigger: int | None = None,
    state_ttl: str | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """Streaming sequence-pattern counts — the stateful twin of
    ``operators.events.sequence_match`` ("B preceded by an A with no C
    between"), with the same late-event honesty as the transitions
    operator: a late A or C lands BETWEEN already-seen events and flips
    earlier B verdicts, so per-user state keeps the (es_micros, event_id,
    type) list and each trigger re-derives the user's verdict set,
    emitting a VERSIONED (user, n_b, n_matched) amendment in update mode;
    the batch read keeps only each user's latest version. State bound is
    the user's event count; ``state_ttl`` (default OFF, the batch-equal
    certified form) is the shared watermark + event-time-timeout expiry
    knob — see ``run_stream_sessionize``. Ordering is the exact
    (ts, event_id) total order the batch operator ranks by."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    opts = (
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger
        else None
    )
    stream = _file_stream(spark, events_parquet_dir, options=opts)
    ttl_ms = _parse_ttl_ms(state_ttl) if state_ttl else None
    if state_ttl:
        stream = stream.withWatermark("ts", state_ttl)
    # ts passthrough under TTL: see run_stream_sessionize
    ev = stream.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("es"),
        "event_id",
        "event_type",
        *(["ts"] if state_ttl else []),
    )
    out_schema = "user_id long, ver long, n_b long, n_matched long"
    state_schema = "evs array<struct<es:long,eid:long,et:string>>, ver long"

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (user_id,) = key
        evs, ver = (
            ([list(e) for e in state.get[0]], int(state.get[1]))
            if state.exists
            else ([], 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        for es, eid, et in zip(rows["es"], rows["event_id"], rows["event_type"]):
            es_key = _NULL_ES if pd.isna(es) else int(es)
            evs.append([es_key, int(eid), None if et is None else str(et)])
        ver = _amend_ver(evs, ver, ttl_ms, state)
        state.update(([tuple(e) for e in evs], ver))
        _arm_state_ttl(state, evs, ttl_ms)
        evs.sort(key=lambda r: (r[0], r[1]))
        last_a = last_c = 0  # 1-based seq of most recent prior A / C
        n_b = n_matched = 0
        for pos, (_es, _eid, et) in enumerate(evs, start=1):
            if et == step_b:
                n_b += 1
                if last_a > last_c:
                    n_matched += 1
            if et == step_a:
                last_a = pos
            elif et == without:
                last_c = pos
        if n_b == 0:
            return
        yield pd.DataFrame(
            {
                "user_id": pd.array([user_id], dtype="Int64"),
                "ver": pd.array([ver], dtype="Int64"),
                "n_b": pd.array([n_b], dtype="Int64"),
                "n_matched": pd.array([n_matched], dtype="Int64"),
            }
        )

    pat = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.EventTimeTimeout if state_ttl else GroupStateTimeout.NoTimeout,
    )
    _drain(
        spark,
        pat.writeStream.outputMode("update").format("memory").queryName(query_name),
        [events_parquet_dir],
        progress_out,
        min_partitions=_python_state_floor(spark, events_parquet_dir),
    )
    return spark.sql(
        f"""
        WITH latest AS (
          SELECT user_id, max(ver) AS mv FROM {query_name} GROUP BY 1
        )
        SELECT s.user_id, s.n_b, s.n_matched
        FROM {query_name} s JOIN latest l
          ON s.user_id = l.user_id AND s.ver = l.mv"""
    )


def run_stream_bottomk(
    spark: SparkSession,
    events_parquet_dir: str,
    col: str = "user_id",
    k: int = 256,
    n_shards: int = 8,
    query_name: str = "stream_kmv",
) -> DataFrame:
    """Streaming KMV (bottom-k) distinct sketch with BOUNDED state: the
    k smallest md5 hash ranks of the distinct values seen — the
    mergeable distinct-count sketch (Bar-Yossef et al. 2002) whose
    estimator is (k−1)·2³² / rank_k, plus a uniform distinct-value
    SAMPLE for free (the bottom-k values are a hash-uniform sample).

    Sharded ``applyInPandasWithState``: per-shard state is the shard's
    bottom-k (value, rank) pairs — ≤ n_shards·k entries TOTAL however
    large the stream — and bottom-k summaries MERGE exactly, so taking
    the k global smallest over the shards' latest snapshots equals the
    batch sketch over all data: that exact-merge property is what lets
    the driver oracle certify a streaming sketch bit-for-bit. Ranks are
    md5-derived (``functions.hash32`` convention, seed 'kmv'), so the
    DuckDB twin rebuilds the identical sketch.

    Output: (pos 1..k, value, rank_h, est_ndv) — est_ndv is the KMV
    estimate when the sketch is full, the exact distinct count when the
    stream held fewer than k distinct values.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _file_stream(spark, events_parquet_dir, want_event_ts=False).select(
        F.pmod(F.xxhash64(F.col(col)), F.lit(n_shards)).cast("int").alias("__shard"),
        F.col(col).cast("string").alias("value"),
    )
    out_schema = "shard int, value string, rank_h long, n_seen long"
    state_schema = "vals array<string>, ranks array<long>, n_seen long"

    def fn(key, pdfs, state: GroupState):
        (shard,) = key
        if state.exists:
            vals, ranks, n = state.get
            bk = dict(zip(vals, (int(r) for r in ranks)))
            n = int(n)
        else:
            bk, n = {}, 0
        for pdf in pdfs:
            for v in pdf["value"]:
                if v is None:
                    # the batch hash32 twin yields NULL rank for NULL
                    # input (concat with null is null) and excludes it —
                    # hashing the literal string 'None' would count NULL
                    # as a real distinct value and shift rank_k
                    continue
                n += 1
                if v not in bk:
                    bk[v] = int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:8], 16)
        if len(bk) > k:
            keep = sorted(bk.items(), key=lambda kv: (kv[1], kv[0]))[:k]
            bk = dict(keep)
        state.update((list(bk.keys()), list(bk.values()), n))
        yield pd.DataFrame(
            {
                "shard": [int(shard)] * len(bk),
                "value": list(bk.keys()),
                "rank_h": list(bk.values()),
                "n_seen": [n] * len(bk),
            }
        )

    res = stream.groupBy("__shard").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    _drain(
        spark,
        res.writeStream.outputMode("update").format("memory").queryName(query_name),
        [events_parquet_dir],
        min_partitions=n_shards,
    )
    snap = spark.sql(f"SELECT * FROM {query_name}")
    latest = snap.withColumn(
        "__mx", F.max("n_seen").over(W.partitionBy("shard"))
    ).filter(F.col("n_seen") == F.col("__mx"))
    merged = (
        latest.select("value", "rank_h")
        .distinct()
        .withColumn(
            "pos",
            F.row_number()
            .over(W.orderBy("rank_h", "value"))
            .cast("long"),
        )
        .filter(F.col("pos") <= k)
    )
    st = merged.agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        F.max("rank_h").cast("long").alias("__rk"),
    )
    est = F.when(
        F.col("__m") >= k,
        F.lit(float((k - 1) * 2**32)) / F.col("__rk"),
    ).otherwise(F.col("__m").cast("double"))
    return (
        merged.crossJoin(F.broadcast(st))
        .select("pos", "value", "rank_h", F.round(est, 6).alias("est_ndv"))
    )


def conversion_pairs(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within_minutes: int = 60,
) -> DataFrame:
    """Batch form of the stream-stream conversion join: every
    (``left_type``, ``right_type``) event pair of the SAME user where the
    right event lands in ``[left.ts, left.ts + within_minutes]`` — the
    attribution primitive (view→purchase within the window). Equi-join on
    user plus an event-time range; at scale the equi key carries the
    shuffle and the range is a residual, so no interval blow-up.

    Output: (user_id, left/right event ids + epoch seconds, lag_s)."""
    lhs = events.filter(F.col("event_type") == left_type).select(
        F.col("user_id"),
        F.col("event_id").alias("left_event_id"),
        F.col("ts").alias("left_ts"),
    )
    rhs = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("right_event_id"),
        F.col("ts").alias("right_ts"),
    )
    bound = F.expr(f"left_ts + INTERVAL {int(within_minutes)} MINUTES")
    return (
        lhs.join(
            rhs,
            (F.col("user_id") == F.col("r_user_id"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts") <= bound),
            "inner",
        )
        .select(
            "user_id",
            "left_event_id",
            "right_event_id",
            F.unix_timestamp("left_ts").alias("left_epoch"),
            F.unix_timestamp("right_ts").alias("right_epoch"),
            (F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")).alias(
                "lag_s"
            ),
        )
    )


def run_stream_stream_join(
    spark: SparkSession,
    events_parquet_dir: str,
    left_type: str = "view",
    right_type: str = "purchase",
    within_minutes: int = 60,
    query_name: str = "stream_join",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAM-STREAM inner join — two independent file streams over the
    events source, joined on user plus an event-time range under
    watermarks on BOTH sides. The time-range condition plus the
    watermarks lets Spark bound join state: a buffered left row is
    droppable once the right watermark passes ``left.ts +
    within_minutes`` (state eviction, not output gating — inner-join
    matches emit as found, so append mode returns the complete result
    and the batch twin :func:`conversion_pairs` is the exact oracle).

    100 TB story: join state is the watermark horizon's worth of events
    per side, partitioned by user — NOT the whole stream. Without the
    time bound Spark would buffer both streams forever; this operator is
    the pattern that makes stream-stream joins bounded."""
    opts = (
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger
        else None
    )
    lhs = (
        _file_stream(spark, events_parquet_dir, options=opts)
        .withWatermark("ts", "2 hours")
    )
    rhs = (
        _file_stream(spark, events_parquet_dir, options=opts)
        .withWatermark("ts", "2 hours")
    )
    # Same select/join/condition shapes as :func:`conversion_pairs`, but
    # each side filters its OWN stream source (the batch helper carves
    # both sides out of one relation; streams need two).
    lhs_f = lhs.filter(F.col("event_type") == left_type).select(
        F.col("user_id"),
        F.col("event_id").alias("left_event_id"),
        F.col("ts").alias("left_ts"),
    )
    rhs_f = rhs.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("right_event_id"),
        F.col("ts").alias("right_ts"),
    )
    bound = F.expr(f"left_ts + INTERVAL {int(within_minutes)} MINUTES")
    joined = (
        lhs_f.join(
            rhs_f,
            (F.col("user_id") == F.col("r_user_id"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts") <= bound),
            "inner",
        )
        .select(
            "user_id",
            "left_event_id",
            "right_event_id",
            F.unix_timestamp("left_ts").alias("left_epoch"),
            F.unix_timestamp("right_ts").alias("right_epoch"),
            (F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")).alias(
                "lag_s"
            ),
        )
    )
    _drain(
        spark,
        joined.writeStream.outputMode("append").format("memory").queryName(query_name),
        [events_parquet_dir, events_parquet_dir],
    )
    return spark.sql(f"SELECT * FROM {query_name}")
