"""Stream-stream joins with watermark-bounded state.

The last Structured Streaming shape in the engine's surface: joining two
UNBOUNDED inputs. Unlike a stream-static join (file_stream tables ⋈
dimension), both sides buffer state; the join is only feasible because
watermarks + a time-range predicate bound how long either side must be
retained (Spark evicts buffered rows once they can no longer match).

Scale posture: state size = input rate × the join window, independent of
stream lifetime. The equality key partitions state across executors like
any shuffle; the time-range predicate is what lets the state store
evict — a stream-stream join WITHOUT a time bound grows state forever
and is a deployment bug, so this module's API makes the tolerance
mandatory.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance: str,
    on: list[str],
    watermark: str = "0 seconds",
    how: str = "inner",
) -> DataFrame:
    """Join two streams on equality keys + ``|l.ts − r.ts| ≤ tolerance``.

    The streaming face of operators/interval.interval_join (the batch
    operator bucketizes to an equi-join; streams instead give Spark the
    raw range predicate, which is exactly what its state eviction
    reasons over). Both sides get ``watermark`` on their own event-time
    column — zero lateness matches the reference's strictly-ordered
    hourly feed (reference README.md:373); raise it for out-of-order
    sources and state retention stretches accordingly.

    ``how`` is ``'inner'`` or ``'left_outer'``. The outer face comes
    with an explicit SETTLEDNESS contract: a left row's NULL-extended
    result can only be emitted once BOTH watermarks pass the end of its
    match window (``left_ts + tolerance``) — before that, a matching
    right row could still arrive, so Spark holds the row in state. Row
    content therefore couples to watermark progress, never to wall-clock
    trigger timing: results are FINAL for any event-time older than the
    current watermark, and a bounded replay that must settle its tail
    advances the watermark past the last real event (e.g. one sentinel
    row per side dated beyond ``max(ts) + tolerance`` — the pattern
    q166 replays under its CPython oracle). Right-outer is the mirror
    (swap the call); full-outer composes both caveats and stays out of
    the API surface deliberately.

    State bound is unchanged by the outer face: rate × (tolerance +
    watermark) per side — eviction reasons over the same mandatory
    range predicate.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(
            "interval_stream_join supports how='inner' or 'left_outer'"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    conds = [lw[c] == rw[c] for c in on]
    conds.append(
        lw[left_ts].between(
            rw[right_ts] - F.expr(sqltext.interval(tolerance)),
            rw[right_ts] + F.expr(sqltext.interval(tolerance)),
        )
    )
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    joined = lw.join(rw, cond, how)
    # De-duplicate the equality keys (both sides carry them; on
    # left_outer the right copies are NULL for unmatched rows anyway).
    return joined.drop(*[rw[c] for c in on])


def asof_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance: str,
    on: list[str],
    left_id: str,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming ASOF JOIN with a mandatory staleness bound: each left
    event pairs with the LATEST right event satisfying
    ``left.ts - tolerance <= right.ts <= left.ts`` on matching keys.

    QuestDB's ``ASOF JOIN … TOLERANCE`` (batch face:
    operators/asof.asof_join) over two unbounded streams. An unbounded
    as-of cannot stream — "the latest earlier row" is never settled and
    state never evicts — but the TOLERANCE variant can: the range
    predicate bounds both join state AND the answer, because a right row
    older than ``tolerance`` can no longer be anyone's match.

    Two chained stateful operators (Spark 3.5+/4.x multi-stateful
    support), both watermark-evicted:

    1. stream-stream inner join on (keys, backward time range) — state
       per side ≈ rate × (tolerance + watermark);
    2. per-left-event ``max_by(payload, right_ts)`` aggregation keyed on
       (``left_id``, event-time) that reduces candidate matches to the
       as-of winner; rows emit once the watermark passes their left ts
       (append mode).

    Inner semantics: left events with NO right row inside the tolerance
    window drop (the streaming outer variant would couple NULL emission
    to trigger timing).

    ``left_id`` must uniquely identify left rows: it IS the aggregation
    state key — grouping is by ``(left_id, left_ts)``, and the remaining
    left columns ride along as deterministic ``max`` aggregates (exact
    when the contract holds, since they're then constant per group).
    With duplicate ids the duplicates collapse into one output row whose
    left payload is the per-column max — deterministic, but not the
    batch ``asof_join`` answer; give every left row a real id. Keying
    state on (id, ts) rather than every left column also keeps the state
    store's key width fixed no matter how wide the left schema is.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (rw[right_ts] <= lw[left_ts]) & (
        rw[right_ts] >= lw[left_ts] - F.expr(sqltext.interval(tolerance))
    )
    for c in on:
        cond = cond & (lw[c] == rw[c])
    joined = lw.join(rw, cond, "inner").drop(*[rw[c] for c in on])

    payload_cols = [c for c in right.columns if c not in on]
    payload = F.struct(*[F.col(c) for c in payload_cols])
    other_left = [c for c in left.columns if c not in (left_id, left_ts)]
    agg = joined.groupBy(F.col(left_id), F.col(left_ts)).agg(
        *[F.max(c).alias(c) for c in other_left],
        F.max_by(payload, F.col(right_ts)).alias("__m"),
    )
    return agg.select(
        left_ts,
        *[c for c in left.columns if c != left_ts],
        *[F.col(f"__m.{c}").alias(c) for c in payload_cols],
    )


def replay_settled(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    timeout_sec: float = 300.0,
    passes: int = 2,
) -> None:
    """Drain a BOUNDED replay of a watermarked streaming DataFrame to a
    parquet sink until its event-time tail is settled.

    The eviction-timing idiom the left-outer interval join needs, owned
    here so callers don't rediscover it (round-9 verdict task #6): an
    ``availableNow`` pass computes its final watermark at the END of its
    last micro-batch, and state eviction — which is what EMITS a
    left-outer NULL row or a closing aggregate — only acts on that
    watermark in the NEXT planned micro-batch. A single pass therefore
    leaves the final watermark's evictions sitting in the state store;
    re-running on the SAME checkpoint plans one more (possibly empty)
    batch whose eviction step flushes them. Two passes settle any
    single-stage stateful plan; deeper chains (e.g. join → windowed agg,
    each holding back one watermark's worth) need one pass per held-back
    stage — ``passes=3`` settles the two-stage chain, test-verified
    against an oracle-known answer in tests/test_streaming.py
    (test_replay_settled_passes3_drains_chained_stateful_plan).

    Callers still own INPUT settledness: the watermark only crosses the
    last real event if something later arrives, so bounded replays
    append a sentinel row per side dated beyond ``max(ts) + tolerance``
    (filter it from the output). This helper owns the drain; the
    sentinel stays with input construction, which knows the schema.
    Filter sentinels AFTER reading the sink, never inside the streaming
    plan: a deterministic filter there is pushed by Catalyst past the
    EventTimeWatermark node into the source scan, so the watermark
    tracker never observes the sentinel's event time and the tail never
    settles (test-demonstrated in the chained-plan drain test).

    Raises ``TimeoutError`` if any pass outlives ``timeout_sec`` —
    a hung replay must fail loudly, not return a half-drained result
    that reads as wrong data downstream.
    """
    if passes < 1:
        raise ValueError("passes must be >= 1")
    for i in range(passes):
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"replay_settled pass {i + 1}/{passes} exceeded "
                f"{timeout_sec}s"
            )
