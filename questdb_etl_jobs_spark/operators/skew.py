"""Salted join: explicit skew spreading for hot join keys.

Spark's AQE skew handling (`spark.sql.adaptive.skewJoin`) splits
oversized SORT-MERGE partitions whose stats it can see. It does NOT help
when (a) the engine picked a shuffled-hash join (the deployment posture —
`session.py` sets ``preferSortMergeJoin=false``), where one hot key still
lands its entire build/probe set in one task, or (b) the skew is inside a
single key, which no partition split can separate. Salting fixes both
mechanically: the fact side scatters each row of a hot key across ``S``
salt buckets, the dimension side replicates each row ``S`` times (one per
bucket), and the join key becomes ``(key, salt)`` — a hot key's probe
work now spreads over ``S`` tasks, at the cost of shuffling ``S×`` the
dimension. Use when the dim is too big to broadcast and a few keys
dominate the fact table; ``S`` ≈ (hot-key rows / rows-per-task).

Correctness: every fact row meets exactly the dim rows of its key (each
dim row appears once per salt bucket; the fact row sits in one bucket),
so the salted join is row-for-row equal to the plain join — asserted by
the q121 oracle differential and `tests/test_scd.py` plan checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext

_SALT = "__salt"


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    salts: int = 8,
    how: str = "inner",
    salt_by: str | None = None,
) -> DataFrame:
    """Equi-join ``facts ⋈ dim`` on ``on`` with an ``S``-way salted key.

    ``salt_by`` picks the fact column hashed into the salt; by default
    the salt is a hash of EVERY fact column. Both forms are pure
    functions of row content — essential correctness property: the salt
    participates in the shuffle join key, and a nondeterministic salt
    (``rand()``, partition-id tricks) re-assigns rows when a failed or
    speculative task recomputes a map partition, silently dropping or
    duplicating join rows downstream. The only caveat of the content
    default: fully identical fact rows share a salt bucket, so a hot key
    made of *identical* rows doesn't spread — pass ``salt_by`` naming a
    distinct-ish column for that shape. ``how`` supports ``inner`` and
    ``left`` (dim replicated either way).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    if salts < 1:
        raise ValueError("salts must be >= 1")
    salt_cols = (
        [F.col(salt_by)]
        if salt_by is not None
        else [F.col(c) for c in facts.columns]
    )
    fact_salt = F.pmod(F.xxhash64(*salt_cols), F.lit(salts))
    facts_s = facts.withColumn(_SALT, fact_salt.cast("int"))
    dim_s = dim.withColumn(
        _SALT, F.explode(F.expr(sqltext.literal(list(range(salts)))))
    )
    return facts_s.join(dim_s, on=[on, _SALT], how=how).drop(_SALT)
