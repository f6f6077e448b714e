"""Interval (range) join: pairs within a time tolerance.

Part of the QuestDB time-series query surface over designated-timestamp
tables (reference README.md:70-71). A naive theta join
(``|l.ts - r.ts| <= tol``) is a cross product; at 100 TB it's a non-plan.
This operator makes it an EQUI-join by bucketizing time:

    bucket = floor(epoch / tol)
    left row → candidate buckets {b-1, b, b+1}   (3-row explode)
    equi-join on (keys…, bucket)                 (hash shuffle, AQE-managed)
    exact range refine                           (cheap filter)

Any right match lies within ±tol of the left ts, hence in one of the three
neighboring buckets, and each (left, right) pair meets at exactly one
bucket (the right row's own) — no duplicate pairs, no dedup pass.
Cost: one shuffle over 3× the left side; candidate set per bucket is
bounded by data density, not table size.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext

_BUCKET = "__iv_bucket"


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance: str | _dt.timedelta,
    on: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join rows with ``|left.left_ts - right.right_ts| <= tolerance``,
    optionally also matching equality on ``on`` key columns.

    ``tolerance`` is an ``"<n> <unit>"`` interval string (``"1 hour"``,
    see :func:`sqltext.interval_us`) or a timedelta.
    Column-name collisions between the two inputs must be resolved by the
    caller (rename before joining); ``left_ts``/``right_ts`` may differ.
    """
    if how != "inner":
        raise ValueError("interval_join supports how='inner'")
    if isinstance(tolerance, str):
        tol_us = sqltext.interval_us(tolerance)
    else:
        tol_us = int(tolerance.total_seconds() * 1_000_000)
    if tol_us <= 0:
        raise ValueError("tolerance must be positive")
    on = list(on or [])

    # Integer division — float division of µs epochs loses exactness near
    # bucket boundaries. (DIV truncates toward zero: fine post-1970.)
    lb = F.expr(
        f"unix_micros({sqltext.ident(left_ts)}) DIV {sqltext.literal(tol_us)}"
    )
    rb = F.expr(
        f"unix_micros({sqltext.ident(right_ts)}) DIV {sqltext.literal(tol_us)}"
    )
    left_exploded = left.withColumn(
        _BUCKET, F.explode(F.array(lb - 1, lb, lb + 1))
    )
    right_bucketed = right.withColumn(_BUCKET, rb)

    joined = left_exploded.join(right_bucketed, on=on + [_BUCKET], how="inner")
    refined = joined.filter(
        F.abs(F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col(right_ts)))
        <= F.lit(tol_us)
    )
    return refined.drop(_BUCKET)
