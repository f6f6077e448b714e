"""Ordered-funnel progression over an event stream.

The classic product-analytics question — "of the users who did step 1,
how many then did step 2, and then step 3, *in that order*?" — is not a
plain conditional aggregation: step k's qualifying timestamp depends on
the timestamp chosen for step k-1, so a naive ``min(CASE WHEN ...)`` per
step over-counts out-of-order users. Engines ship this as a dedicated
operator (ClickHouse ``windowFunnel``, Snowplow/BigQuery funnel SQL
recipes); the reference ETL (cloud_function.py) has no analytics-side
counterpart, so this sits in the beyond-reference analytics family next
to sessionization (q38) and cohort retention (q76).

Spark-first shape — ONE keyed shuffle, zero UDFs:

1. map each event to its 1-based stage index (``CASE`` over the step
   list) and drop non-funnel events *before* the shuffle — the ``IN``
   predicate reaches the parquet scan, so at 100 TB only the funnel's
   event types are ever exchanged;
2. ``collect_list(struct(ts, stage))`` per user — the only hash
   exchange, partitioned on ``user_col``;
3. ``array_sort`` + ``aggregate`` fold walk the user's events in time
   order, advancing a stage counter only when the *next* step appears —
   pure Catalyst higher-order functions, whole-stage codegen, no Python.

Tie rule: at equal timestamps the struct sort orders by stage index, so
a step-2 event at the exact microsecond of the user's first step-1 event
still converts (matches a ``>=`` cascade oracle).

Scale posture: the per-user array holds only that user's funnel-step
events — bounded by per-entity activity, the same envelope every
sessionizer assumes; a pathological single user is one wide row, not a
cross product. The stage fold is O(events-per-user). Funnel counts
aggregate to a single row via a partial+final global agg (no second
keyed exchange).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext


def funnel_stages(
    df: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    step_col: str = "event_type",
) -> DataFrame:
    """Per-user max funnel stage reached, walking ``steps`` in order.

    Returns ``(user_col, max_stage int)`` where ``max_stage`` is the
    number of consecutive funnel steps completed in timestamp order
    (0 = user never did ``steps[0]``). Only users with at least one
    funnel-step event appear.
    """
    if not steps:
        raise ValueError("steps must be a non-empty ordered list")

    stage: Column = F.lit(None)
    # Build the CASE from the last step backwards so the first step wins
    # on (impossible, but defensive) duplicate step names.
    for idx in range(len(steps) - 1, -1, -1):
        stage = F.when(F.col(step_col) == steps[idx], F.lit(idx + 1)).otherwise(
            stage
        )

    events = (
        df.where(F.col(step_col).isin(list(steps)))
        .where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col),
            F.struct(F.col(ts_col).alias("ts"), stage.alias("stage")).alias(
                "ev"
            ),
        )
    )

    walked = events.groupBy(user_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list("ev")),
            F.lit(0),
            lambda acc, ev: F.when(ev["stage"] == acc + 1, acc + 1).otherwise(
                acc
            ),
        ).alias("max_stage")
    )
    return walked


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    step_col: str = "event_type",
) -> DataFrame:
    """Funnel summary: one row per step with the count of users whose
    ordered progression reached at least that step.

    Output ``(stage int, step string, n_users bigint)`` ordered by stage.
    """
    walked = funnel_stages(
        df, steps, user_col=user_col, ts_col=ts_col, step_col=step_col
    )
    row = walked.agg(
        *[
            F.sum((F.col("max_stage") >= k).cast("long")).alias(f"_s{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    return row.selectExpr(_stack_sql(steps)).orderBy("stage")


def _stack_sql(steps: list[str]) -> str:
    """``stack`` of (stage, step, n_users) rows over the per-stage sums
    ``_s<k>``."""
    rows = ", ".join(
        f"{sqltext.literal(k)}, {sqltext.literal(step)}, coalesce(_s{k}, 0L)"
        for k, step in enumerate(steps, start=1)
    )
    return (
        f"stack({sqltext.literal(len(steps))}, {rows}) "
        "AS (stage, step, n_users)"
    )
