"""Declared queries: warehouse/ETL profiling + sketch extensions (round 6).

q113 SCD2 build      — run-length collapse of an attribute change stream
                       into ``[valid_from, valid_to)`` dimension versions
                       (gaps-and-islands; `operators/scd.py`). The
                       warehouse follow-on to the reference's append-only
                       designated-timestamp load (`create-table.sql:1`).
q114 column profiler — deequ-style one-pass table profile (rows, nulls,
                       distinct, min/max) in canonical tall form; the
                       data-quality step a production ETL runs before
                       trusting an extract (reference gates per-record at
                       `cloud_function.py:29-50`; this is the table-level
                       complement).
q115 char entropy    — Shannon character entropy per document: the
                       C4/Gopher-family gibberish/boilerplate signal.
                       Arrow-batched pandas UDF (per-doc O(len) with no
                       row explosion) vs an unnest-per-char SQL oracle.
q116 skew-safe distinct — exact COUNT(DISTINCT) via dedup-then-count:
                       two bounded-width shuffles instead of one giant
                       per-group value set; the 100 TB-safe spelling.
q117 mergeable HLL   — per-day Datasketches HLL partials unioned to a
                       global estimate (the pre-aggregated rollup pattern:
                       store sketch bytes per partition, merge at query
                       time), accuracy-asserted against the exact count.
q118 PIT enrichment  — facts enriched with the SCD2 version current at
                       fact time via as-of join (no range explosion), then
                       rolled up per regime.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from questdb_etl_jobs_spark import sqltext
from questdb_etl_jobs_spark.operators.scd import pit_join, scd2_intervals
from questdb_etl_jobs_spark.queries import dq
from questdb_etl_jobs_spark.queries._protocol import avg4, sum4
from questdb_etl_jobs_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# q113 — SCD2 validity intervals from the event stream
# ---------------------------------------------------------------------------
#
# Dimension: per user, runs of consecutive equal event_type values become
# versions. One shuffle on user_id (both windows and the groupBy reuse the
# same hash partitioning). Output keyed (user_id, version) — total order.

_Q113_ORACLE = """
WITH t AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CASE WHEN lag(event_id)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
                OR lag(event_type)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
), r AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM t
), v AS (
  SELECT user_id, CAST(version AS BIGINT) AS version,
         MIN(event_type) AS event_type,
         MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM r GROUP BY user_id, version
)
SELECT user_id, event_type, version,
       CAST(epoch_us(valid_from) AS BIGINT) AS valid_from_us,
       CAST(epoch_us(lead(valid_from)
                     OVER (PARTITION BY user_id ORDER BY version))
            AS BIGINT) AS valid_to_us,
       n_rows
FROM v ORDER BY user_id, version
"""


@dq("q113_scd2_intervals", oracle=_Q113_ORACLE, covers="W1,W2,A1,F5,EXT")
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dim = scd2_intervals(
        events, key="user_id", attr="event_type", ts="ts", order=["event_id"]
    )
    return dim.select(
        "user_id",
        "event_type",
        "version",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "n_rows",
    ).orderBy("user_id", "version")


# ---------------------------------------------------------------------------
# q114 — one-pass column profiler (tall canonical form)
# ---------------------------------------------------------------------------
#
# All metrics for all columns come from ONE aggregate over orders — a
# single scan feeding a single (Expand-widened, for the exact distincts)
# aggregation; min/max canonicalize per type so the tall VARCHAR column is
# deterministic across engines: integers via BIGINT, doubles via
# DECIMAL(28,4) (fixed 4-decimal print), timestamps via epoch µs. At
# 100 TB swap the exact distincts for approx_count_distinct — same plan
# minus the Expand; the exact form is kept here for the oracle gate.

_Q114_COLS: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "varchar"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "varchar"),
)


def _duck_repr(col: str, kind: str, agg: str) -> str:
    if kind == "bigint":
        return f"CAST(CAST({agg}({col}) AS BIGINT) AS VARCHAR)"
    if kind == "double":
        return (
            f"CAST(CAST(ROUND({agg}({col}), 4) AS DECIMAL(28,4)) AS VARCHAR)"
        )
    if kind == "timestamp":
        return (
            f"CAST(CAST(epoch_us(CAST({agg}({col}) AS TIMESTAMP)) AS BIGINT)"
            f" AS VARCHAR)"
        )
    return f"{agg}({col})"


def _q114_oracle() -> str:
    metrics = ["CAST(COUNT(*) AS BIGINT) AS n_rows"]
    for c, kind in _Q114_COLS:
        metrics.append(f"CAST(COUNT({c}) AS BIGINT) AS nn_{c}")
        metrics.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}")
        metrics.append(f"{_duck_repr(c, kind, 'MIN')} AS mn_{c}")
        metrics.append(f"{_duck_repr(c, kind, 'MAX')} AS mx_{c}")
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct, mn_{c} AS min_repr, mx_{c} AS max_repr FROM a"
        for c, _ in _Q114_COLS
    )
    return (
        "WITH a AS (SELECT "
        + ", ".join(metrics)
        + " FROM orders) "
        + arms
        + " ORDER BY column_name"
    )


def _spark_repr(col: str, kind: str, agg) -> F.Column:
    if kind == "bigint":
        return agg(col).cast("long").cast("string")
    if kind == "double":
        return F.round(agg(col), 4).cast("decimal(28,4)").cast("string")
    if kind == "timestamp":
        return F.unix_micros(agg(col)).cast("string")
    return agg(col)


#: pure-SQL generator — valid at any scale factor (verify_local sf0.1 pass)
_q114_oracle.sf_invariant = True  # type: ignore[attr-defined]


@dq("q114_profile_columns", oracle=_q114_oracle, covers="A1,A2,F10,EXT")
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _Q114_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"nd_{c}"))
        aggs.append(_spark_repr(c, kind, F.min).alias(f"mn_{c}"))
        aggs.append(_spark_repr(c, kind, F.max).alias(f"mx_{c}"))
    wide = orders.agg(*aggs)
    tall = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col("n_rows").alias("n_rows"),
                        (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                        F.col(f"nd_{c}").alias("n_distinct"),
                        F.col(f"mn_{c}").alias("min_repr"),
                        F.col(f"mx_{c}").alias("max_repr"),
                    )
                    for c, _ in _Q114_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")
    return tall.orderBy("column_name")


# ---------------------------------------------------------------------------
# q115 — Shannon character entropy per document
# ---------------------------------------------------------------------------
#
# The Spark face is an Arrow-batched pandas UDF: per document O(len)
# counting with no per-char row explosion (the SQL spelling below unnests
# one row PER CHARACTER — ~n_chars × n_docs rows through a shuffle, which
# at 100 TB is the difference between a map-only pass and a corpus-sized
# exchange). Formula kept summation-order-stable on both engines:
# H = ln(N) - (Σ c·ln c)/N over per-char counts, rounded to 3 decimals.

_Q115_ORACLE = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), freq AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
), ent AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_chars_text,
         CAST(COUNT(*) AS BIGINT) AS n_unique_chars,
         ROUND(ln(CAST(SUM(c) AS DOUBLE))
               - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                 / CAST(SUM(c) AS DOUBLE), 3) AS entropy3
  FROM freq GROUP BY doc_id
)
SELECT doc_id, n_chars_text, n_unique_chars, entropy3
FROM ent ORDER BY doc_id
"""

_Q115_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_chars_text", T.LongType()),
        T.StructField("n_unique_chars", T.LongType()),
        T.StructField("entropy3", T.DoubleType()),
    ]
)


def _entropy_batches(batches):
    import math
    from collections import Counter

    for pdf in batches:
        out = {
            "doc_id": [],
            "n_chars_text": [],
            "n_unique_chars": [],
            "entropy3": [],
        }
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            counts = Counter(text or "")
            n = sum(counts.values())
            # Same term structure as the SQL oracle: ln N - Σ c·ln c / N.
            ent = (
                math.log(n) - sum(c * math.log(c) for c in counts.values()) / n
                if n
                else None
            )
            out["doc_id"].append(doc_id)
            out["n_chars_text"].append(n)
            out["n_unique_chars"].append(len(counts))
            out["entropy3"].append(round(ent, 3) if ent is not None else None)
        yield pd.DataFrame(out)


@dq("q115_char_entropy", oracle=_Q115_ORACLE, covers="U2,F6,EXT")
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ent = docs.mapInPandas(_entropy_batches, schema=_Q115_SCHEMA)
    return ent.orderBy("doc_id")


# ---------------------------------------------------------------------------
# q116 — skew-safe exact COUNT(DISTINCT): dedup-then-count
# ---------------------------------------------------------------------------
#
# COUNT(DISTINCT k) per group is the classic skew cliff: one reducer per
# group must hold the group's whole value set. The dedup-then-count
# spelling bounds every task instead: stage 1 groups by (group, value)
# — partial aggregation collapses duplicates map-side, and the shuffle key
# carries the value, so a hot GROUP fans out over the cluster; stage 2
# counts rows per group (tiny). Also yields per-value frequencies for
# free. Same answer as COUNT(DISTINCT), shuffle width O(distinct pairs).

_Q116_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(per_user) AS BIGINT) AS max_events_one_user
FROM (
  SELECT event_type, user_id,
         COUNT(*) OVER (PARTITION BY event_type, user_id) AS per_user
  FROM events
)
GROUP BY event_type ORDER BY event_type
"""


@dq("q116_skew_safe_distinct", oracle=_Q116_ORACLE, covers="A1,A2,EXT")
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pairs = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("per_user")
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("per_user").alias("n_events"),
            F.max("per_user").alias("max_events_one_user"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q117 — mergeable HLL sketches: per-day partials → global union
# ---------------------------------------------------------------------------
#
# The 100 TB rollup pattern: materialize one small sketch per (group,
# partition) — here per (event_type, day) — and answer global distincts by
# UNIONING sketch bytes, never rescanning raw data. Datasketches HLL
# (lgConfigK=14, RSE ≈ 0.6%) keeps each partial ≤ ~16 KB regardless of
# row count. The oracle asserts the estimate lands within 5% (≈ 8σ) of
# the exact count and emits the exact count itself, so the row only
# hash-matches when the sketch path is actually accurate.

_Q117_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type ORDER BY event_type
"""


@dq("q117_hll_mergeable", oracle=_Q117_ORACLE, covers="A3,A2,EXT")
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q118 — point-in-time enrichment: purchases under the current SCD2 regime
# ---------------------------------------------------------------------------
#
# Build the dimension from the NON-purchase event stream (a user's latest
# activity regime), then enrich each purchase with the regime current at
# purchase time — as-of join, one shuffle, no BETWEEN explosion — and roll
# up revenue per regime. Purchases before a user's first regime fall into
# the NULL bucket (canonicalized to '(none)').

_Q118_ORACLE = """
WITH src AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
  FROM events
), t AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_id)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
                OR lag(event_type)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM src WHERE event_type <> 'purchase'
), r AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM t
), v AS (
  SELECT user_id, version, MIN(event_type) AS regime,
         MIN(ts) AS valid_from
  FROM r GROUP BY user_id, version
), iv AS (
  SELECT user_id, regime, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to
  FROM v
), p AS (
  SELECT f.user_id, f.value, i.regime
  FROM (SELECT * FROM src WHERE event_type = 'purchase') f
  LEFT JOIN iv i
    ON f.user_id = i.user_id
   AND f.ts >= i.valid_from
   AND (i.valid_to IS NULL OR f.ts < i.valid_to)
)
SELECT COALESCE(regime, '(none)') AS regime,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       {total}
FROM p GROUP BY COALESCE(regime, '(none)') ORDER BY regime
""".format(total=sum4("value", "total_value"))


@dq("q118_pit_enrichment", oracle=_Q118_ORACLE, covers="J7,W2,A1,EXT")
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dim = scd2_intervals(
        events.filter(F.col("event_type") != "purchase"),
        key="user_id",
        attr="event_type",
        ts="ts",
        order=["event_id"],
    ).select(
        "user_id",
        F.col("event_type").alias("regime"),
        "version",
        "valid_from",
        "valid_to",
    )
    # Drop empty [t, t) intervals (same-µs run boundaries) so valid_from
    # is unique per key and the as-of match is deterministic; an empty
    # interval can never contain a fact timestamp anyway.
    dim = dim.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
    ).drop("version")
    facts = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    enriched = pit_join(facts, dim, key="user_id", ts="ts", how="left")
    return (
        enriched.groupBy(
            F.coalesce("regime", F.lit("(none)")).alias("regime")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.round("value", 4).cast("decimal(28,4)")).cast(
                    "double"
                ),
                4,
            ).alias("total_value"),
        )
        .orderBy("regime")
    )


# ---------------------------------------------------------------------------
# q119 — two-level rollup merge: daily partials → monthly final
# ---------------------------------------------------------------------------
#
# The pre-aggregation pattern behind every 100 TB dashboard: materialize
# small per-partition partials of ALGEBRAIC aggregates (count, exact
# decimal sum, min, max — avg derived from sum/count at read time), and
# answer coarser rollups by merging partials, never rescanning raw rows.
# The oracle computes the monthly answer directly from raw events; the
# engine path goes through the daily partial layer, so a hash-match
# proves the merge is lossless. Decimal sums make the two-level path
# bit-identical to the one-level path (double accumulation would not be).

_Q119_ORACLE = """
SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {total},
       {avg}
FROM events
GROUP BY month, event_type ORDER BY month, event_type
""".format(
    total=sum4("value", "total_value"), avg=avg4("value", "avg_value")
)


@dq("q119_rollup_merge", oracle=_Q119_ORACLE, covers="A1,F5,EXT")
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("value", 4).cast("decimal(28,4)")).alias("sdec"),
    )
    return (
        daily.groupBy(
            F.trunc("day", "month").alias("month"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sdec").cast("double"), 4).alias("total_value"),
            (F.sum("sdec").cast("double") / F.sum("n")).alias("avg_value"),
        )
        .orderBy("month", "event_type")
    )


# ---------------------------------------------------------------------------
# q120 — approx_percentile with a verified rank-error bound
# ---------------------------------------------------------------------------
#
# Spark's approx_percentile is Greenwald-Khanna with guaranteed rank
# error n/accuracy — the sketch a 100 TB deployment uses instead of an
# exact global percentile sort. The query verifies the guarantee IN the
# gated row: it ranks the approximate median against the actual data
# (one extra aggregate over a broadcast of 3 group stats) and emits
# within_bound, which the oracle pins to TRUE; the exact median travels
# alongside via the q24-calibrated cross-engine percentile spelling.

_Q120_ORACLE = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_median,
       TRUE AS within_bound
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@dq("q120_approx_percentile_bound", oracle=_Q120_ORACLE, covers="A3,A5,EXT")
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    acc = 1000
    stats = orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("exact_median"),
        F.expr(
            f"approx_percentile(o_totalprice, 0.5, {acc})"
        ).alias("ap"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        orders.join(F.broadcast(stats), "o_orderstatus")
        .groupBy("o_orderstatus", "exact_median", "ap", "n")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") < F.col("ap"), 1).otherwise(0)
            ).alias("rank_lo"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("ap"), 1).otherwise(0)
            ).alias("rank_hi"),
        )
    )
    err = F.col("n") / acc + F.lit(1)
    return ranked.select(
        "o_orderstatus",
        "exact_median",
        (
            (F.col("rank_lo") <= F.col("n") / 2 + err)
            & (F.col("rank_hi") >= F.col("n") / 2 - err)
        ).alias("within_bound"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# q121 — salted join: skew-spread equi-join, oracle-equal to the plain join
# ---------------------------------------------------------------------------
#
# operators/skew.py replicates the dimension 8× and scatters each fact
# row into one of 8 salt buckets keyed by a hash of its unique id, so a
# hot user's events probe in 8 tasks instead of 1. The oracle is the
# PLAIN join — hash-matching it proves salting changes the physical
# distribution only, never the result.

_Q121_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {total}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
""".format(total=sum4("e.value", "total_value"))


@dq("q121_salted_join", oracle=_Q121_ORACLE, covers="J1,A1,EXT")
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.skew import salted_join

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(events, dim, on="user_id", salts=8, salt_by="event_id")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.round("value", 4).cast("decimal(28,4)")).cast(
                    "double"
                ),
                4,
            ).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q122 — CCNet-style unigram log-prob quality score per document
# ---------------------------------------------------------------------------
#
# The language-model-lite quality signal (CCNet/Wenzek et al. 2020 use a
# 5-gram KenLM; the unigram variant keeps the same shape): score each
# document by the mean negative log-probability of its tokens under the
# corpus unigram distribution — high NLL = tokens the corpus finds rare =
# gibberish candidate; low NLL = boilerplate candidate. Plan: one explode
# → one groupBy(word) for the model (vocabulary-sized, broadcast back) →
# one groupBy(doc) — no UDF, all codegen. Cross-engine float protocol:
# per-token ln(count) is rounded to 6 decimals and summed as
# DECIMAL(28,6) (order-free), the corpus constant ln(N) likewise, final
# score rounded to 3.

_Q122_ORACLE = """
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
), toks AS (
  SELECT doc_id, word FROM words WHERE length(word) > 0
), model AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY word
), corpus AS (
  SELECT CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)), 6) AS DOUBLE) AS ln_n
  FROM toks
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(
         (SELECT ln_n FROM corpus)
         - CAST(SUM(CAST(ROUND(ln(CAST(m.c AS DOUBLE)), 6)
                         AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*),
         3) AS nll3
FROM toks t JOIN model m ON t.word = m.word
GROUP BY t.doc_id ORDER BY t.doc_id
"""


@dq("q122_unigram_logprob", oracle=_Q122_ORACLE, covers="F6,A1,J2,EXT")
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
    )
    model = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    corpus = toks.agg(
        F.round(F.log(F.count(F.lit(1)).cast("double")), 6).alias("ln_n")
    )
    scored = (
        toks.join(F.broadcast(model), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.round(F.log(F.col("c").cast("double")), 6).cast(
                    "decimal(28,6)"
                )
            ).alias("s"),
        )
        .crossJoin(F.broadcast(corpus))
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("ln_n") - F.col("s").cast("double") / F.col("n_tokens"), 3
        ).alias("nll3"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q123 — cumulative unique users per day (running distinct)
# ---------------------------------------------------------------------------
#
# The growth-metric classic. A naive per-day COUNT(DISTINCT user WHERE
# ts <= day) rescans the fact table once per day; the scalable shape is
# first-seen attribution: one groupBy(user) finds each user's first day,
# one tiny per-day count, and the running sum is a window over the DAILY
# table (bounded by calendar days, not data size).

_Q123_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS first_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY first_day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM daily ORDER BY day
"""


@dq("q123_cumulative_uniques", oracle=_Q123_ORACLE, covers="A1,A2,W3,F5,EXT")
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("day")
    )
    daily = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# q124 — weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------
#
# Corpus curation's "sample proportional to length/quality" primitive,
# deterministic: u from the repo-standard Knuth content hash, priority
# -ln(u)/weight, keep the global k smallest — the exponential race that
# makes P(include) ∝ weight, reproducible across engines and reruns.
# The Spark face is functions/sampling.weighted_sample_topk (TakeOrdered:
# per-partition heaps, no global sort); the oracle replays the identical
# arithmetic in SQL.

_Q124_K = 40

_Q124_ORACLE = f"""
WITH pri AS (
  SELECT doc_id, lang, n_chars,
         -ln((((doc_id * 2654435761) % 10000) + 1) / 10000.0)
           / CAST(n_chars AS DOUBLE) AS p
  FROM documents
), kept AS (
  SELECT doc_id, lang, n_chars
  FROM pri ORDER BY p, doc_id LIMIT {_Q124_K}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY lang ORDER BY lang
"""


@dq("q124_weighted_sample", oracle=_Q124_ORACLE, covers="O2,A1,EXT")
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    kept = weighted_sample_topk(docs, "doc_id", "n_chars", k=_Q124_K)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q174 — per-stratum weighted sampling (grouped A-ES exponential race)
# ---------------------------------------------------------------------------
#
# q124's race run independently inside every language cell — the
# curation contract "sample k docs per domain, biased by length/quality"
# rather than k per corpus. The Spark face is
# functions/sampling.weighted_sample_per_key, which routes the
# per-stratum k-smallest-priority through the grouped threshold prune
# (operators/topk.topk_per_key): the stratum exchange carries only rows
# at or above each cell's certified bound, never the corpus. The oracle
# replays the identical priority arithmetic in a windowed rank; IEEE
# negation makes the two orderings bit-identical.

_Q174_ORACLE = """
SELECT lang, doc_id, n_chars, rn
FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY -ln((((doc_id * 2654435761) % 10000) + 1) / 10000.0)
                      / CAST(n_chars AS DOUBLE),
                    doc_id) AS rn
  FROM documents
)
WHERE rn <= 3
ORDER BY lang, rn
"""


@dq("q174_weighted_sample_per_lang", oracle=_Q174_ORACLE, covers="O2,W1,EXT")
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.sampling import (
        weighted_sample_per_key,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    kept = weighted_sample_per_key(
        docs, ["lang"], "doc_id", "n_chars", k=3, rank_col="rn"
    )
    return kept.select(
        "lang", "doc_id", "n_chars", F.col("rn").cast("long").alias("rn")
    ).orderBy("lang", "rn")


# ---------------------------------------------------------------------------
# q125 — incremental LATEST ON maintenance: snapshot + delta merge
# ---------------------------------------------------------------------------
#
# The materialized-view move for QuestDB's LATEST ON surface: keep a
# compact per-key snapshot (one row per user), and on each new batch
# merge ONLY (snapshot ∪ delta) — the full history is never rescanned.
# merged = latest(delta) ∪ (snapshot ⟍ keys(latest(delta))), which is
# provably LATEST ON over the whole table because every snapshot row
# predates every delta row. The oracle computes LATEST ON directly over
# all events, so the hash-match proves the incremental path lossless.
# Cost: one window shuffle over the delta + one anti-join against the
# key-sized snapshot — O(delta + keys), not O(history).

_Q125_CUTOFF = "2024-01-20 00:00:00"

_Q125_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       ROUND(value, 4) AS value4
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


@dq("q125_incremental_latest", oracle=_Q125_ORACLE, covers="W4,T1,J4,EXT")
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.latest import latest_on

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    cutoff = F.lit(_Q125_CUTOFF).cast("timestamp")
    snapshot = latest_on(
        events.filter(F.col("ts") < cutoff),
        "ts",
        ["user_id"],
        tiebreak=["event_id"],
    )
    delta = events.filter(F.col("ts") >= cutoff)
    delta_latest = latest_on(delta, "ts", ["user_id"], tiebreak=["event_id"])
    carried = snapshot.join(
        delta_latest.select("user_id"), "user_id", "left_anti"
    )
    merged = delta_latest.unionByName(carried)
    return merged.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 4).alias("value4"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q126 — exact quantile via two-phase histogram (no per-group value sort)
# ---------------------------------------------------------------------------
#
# operators/quantile.py: exact percentile_cont semantics with bounded
# task memory — histogram pass (state O(groups × buckets)) + driver walk
# + a targeted rank of only the median-holding buckets (~n/B rows). The
# oracle is DuckDB's exact quantile_cont; the interpolated rational can
# land on .xxxx5 reprs, so the oracle replays Spark's repr-rounding via
# the spark_round4 shim.

from questdb_etl_jobs_spark.queries._protocol import spark_round4 as _sr4

_Q126_ORACLE = f"""
SELECT l_returnflag,
       CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
       {_sr4("quantile_cont(l_extendedprice, 0.5)", "median4")}
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@dq("q126_exact_quantile_histogram", oracle=_Q126_ORACLE, covers="A5,A1,EXT")
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.quantile import exact_quantile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # broadcast_targets: l_returnflag has 3 values — the ≤2-rows-per-group
    # targets side is trivially broadcastable, keeping the r18 plan shape
    # (no full-data exchange under the refine join) now that the operator
    # default is the safe opt-out (r19, round-18 ADVICE).
    med = exact_quantile(
        li, "l_extendedprice", "l_returnflag", q=0.5, broadcast_targets=True
    )
    return med.select(
        "l_returnflag",
        "n",
        F.round("quantile", 4).alias("median4"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q127 — multi-granularity time rollup in ONE pass (GROUPING SETS over
#         day/week/month buckets)
# ---------------------------------------------------------------------------
#
# The dashboard-warmup query: daily, ISO-weekly and monthly aggregates of
# the event stream from a single scan — Spark's Expand node (one row per
# grouping set) feeding one partial+final aggregate, instead of three
# separate scans+shuffles. Granularity is disambiguated via grouping()
# flags; buckets coalesce into one date column so the tall output is
# self-describing.

_Q127_ORACLE = """
WITH src AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
         CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
         value
  FROM events
)
SELECT CASE WHEN GROUPING(day) = 0 THEN 'day'
            WHEN GROUPING(week) = 0 THEN 'week'
            ELSE 'month' END AS granularity,
       COALESCE(day, week, month) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       {total}
FROM src
GROUP BY GROUPING SETS ((day), (week), (month))
ORDER BY granularity, bucket
""".format(total=sum4("value", "total_value"))


@dq("q127_time_grouping_sets", oracle=_Q127_ORACLE, covers="A4,A7,F5,EXT")
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    src = events.select(
        F.to_date("ts").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.date_trunc("month", "ts").cast("date").alias("month"),
        "value",
    )
    gs = src.groupingSets(
        [["day"], ["week"], ["month"]], "day", "week", "month"
    ).agg(
        # grouping() flags are aggregate-scope expressions — compute the
        # granularity label inside the agg, not on the result.
        F.when(F.grouping("day") == 0, "day")
        .when(F.grouping("week") == 0, "week")
        .otherwise("month")
        .alias("granularity"),
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round("value", 4).cast("decimal(28,4)")).cast("double"), 4
        ).alias("total_value"),
    )
    return gs.select(
        "granularity",
        F.coalesce("day", "week", "month").alias("bucket"),
        "n",
        "total_value",
    ).orderBy("granularity", "bucket")


# ---------------------------------------------------------------------------
# q128 — CDC changelog apply (MERGE semantics without a MERGE sink)
# ---------------------------------------------------------------------------
#
# The load-side dual of q125: given an ordered change stream with
# upsert/delete ops, materialize the final table state — per key, the
# LATEST op wins; a terminal delete removes the key. This is exactly how
# a designated-ts QuestDB table with DEDUP UPSERT KEYS converges
# (plans/designated.py renders that DDL), computed engine-side: one
# window shuffle on the key, no per-op row loop. Ops are derived
# deterministically from the event stream (purchase ⇒ delete marker,
# everything else upsert) so both engines see the same changelog.

_Q128_ORACLE = """
WITH log AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
         value
  FROM events
), ranked AS (
  SELECT user_id, ts, event_id, op, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
)
SELECT user_id,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       ROUND(value, 4) AS value4
FROM ranked WHERE rn = 1 AND op = 'U'
ORDER BY user_id
"""


@dq("q128_cdc_apply", oracle=_Q128_ORACLE, covers="W4,F10,EXT")
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.latest import latest_on

    events = load_table(spark, sf_dir, "events")
    log = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", "D")
        .otherwise("U")
        .alias("op"),
        "value",
    )
    final = latest_on(log, "ts", ["user_id"], tiebreak=["event_id"]).filter(
        F.col("op") == "U"
    )
    return final.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 4).alias("value4"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q129 — snapshot diff: keyed added/removed/changed report between two
#         table versions
# ---------------------------------------------------------------------------
#
# The data-ops regression check: diff two versions of a keyed table
# (here: per-user aggregate state before/after a cutoff week) and report
# added / removed / changed / unchanged keys. One full-outer join on the
# key — never a row-by-row compare — with null-safe change detection, so
# it scales as a single co-partitioned shuffle at 100 TB.

_Q129_CUTOFF = "2024-01-01 04:00:00"

_Q129_ORACLE = f"""
WITH v1 AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{_Q129_CUTOFF}'
  GROUP BY user_id
), v2 AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
), d AS (
  SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
         CASE WHEN v1.user_id IS NULL THEN 'added'
              WHEN v2.user_id IS NULL THEN 'removed'
              WHEN v1.n IS DISTINCT FROM v2.n THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MIN(user_id) AS BIGINT) AS min_key,
       CAST(MAX(user_id) AS BIGINT) AS max_key
FROM d GROUP BY status ORDER BY status
"""


@dq("q129_snapshot_diff", oracle=_Q129_ORACLE, covers="J3,F10,A1,EXT")
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_Q129_CUTOFF).cast("timestamp")
    v1 = (
        events.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    v2 = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    j = v1.withColumnRenamed("user_id", "k1").withColumnRenamed(
        "n", "n1"
    ).join(
        v2.withColumnRenamed("user_id", "k2").withColumnRenamed("n", "n2"),
        F.col("k1") == F.col("k2"),
        "full_outer",
    )
    d = j.select(
        F.coalesce("k1", "k2").alias("user_id"),
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(~F.col("n1").eqNullSafe(F.col("n2")), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        d.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("user_id").alias("min_key"),
            F.max("user_id").alias("max_key"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# q130 — rolling 7-day distinct users from mergeable daily HLL partials
# ---------------------------------------------------------------------------
#
# The rolling-MAU query, sketch-style: ONE HLL partial per day (built
# once, ~16 KB each), every 7-day window answered by unioning 7 sketch
# bytes — at 100 TB the raw-data pass happens once and every window
# after that is arithmetic over kilobytes. The exact rolling distinct
# rides along via bounded window-explode of the distinct (user, day)
# pairs (≤7× a key-sized table, never the raw events), and the gated row
# asserts the sketch lands within 5% of it (q117/q120/q27 pattern).

_Q130_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), win AS (
  SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS wday
  FROM ud, LATERAL UNNEST(range(0, 7)) AS t(i)
), days AS (SELECT DISTINCT day FROM ud)
SELECT d.day,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS exact_users_7d,
       TRUE AS within_5pct
FROM days d JOIN win w ON w.wday = d.day
GROUP BY d.day ORDER BY d.day
"""


@dq("q130_rolling_distinct_hll", oracle=_Q130_ORACLE, covers="A3,A7,F5,EXT")
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    offsets = F.expr(sqltext.literal(list(range(7))))
    # Sketch path: one partial per day, window = union of 7 partials.
    daily_sk = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    windowed_sk = (
        daily_sk.withColumn("wday", F.explode(offsets))
        .select(F.date_add("day", F.col("wday")).alias("day"), "sk")
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    # Exact path over the key-sized distinct (user, day) table.
    ud = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    exact = (
        ud.withColumn("i", F.explode(offsets))
        .select("user_id", F.date_add("day", F.col("i")).alias("day"))
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("exact_users_7d"))
    )
    days = ud.select("day").distinct()
    return (
        days.join(exact, "day")
        .join(windowed_sk, "day")
        .select(
            "day",
            "exact_users_7d",
            (
                F.abs(F.col("est") - F.col("exact_users_7d"))
                <= 0.05 * F.col("exact_users_7d")
            ).alias("within_5pct"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q131 — winsorization: clip a metric at exact P01/P99 (dataset cleaning)
# ---------------------------------------------------------------------------
#
# Curation primitive: cap outliers at percentile bounds before they skew
# downstream statistics. Per-group exact bounds come from ONE aggregate
# (Spark `percentile` = percentile_cont semantics), broadcast back as a
# 3-row join — the clip itself is pure codegen. Output is the per-group
# post-clip profile, decimal-summed for the cross-engine gate.

_Q131_ORACLE = """
WITH b AS (
  SELECT o_orderstatus,
         quantile_cont(o_totalprice, 0.01) AS lo,
         quantile_cont(o_totalprice, 0.99) AS hi
  FROM orders GROUP BY o_orderstatus
), c AS (
  SELECT o.o_orderstatus,
         LEAST(GREATEST(o.o_totalprice, b.lo), b.hi) AS v,
         CASE WHEN o.o_totalprice < b.lo OR o.o_totalprice > b.hi
              THEN 1 ELSE 0 END AS clipped
  FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       {total}
FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus
""".format(total=sum4("v", "total_clipped"))


@dq("q131_winsorize", oracle=_Q131_ORACLE, covers="A5,J2,F7,EXT")
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.01).alias("lo"),
        F.percentile("o_totalprice", 0.99).alias("hi"),
    )
    clipped = orders.join(F.broadcast(bounds), "o_orderstatus").select(
        "o_orderstatus",
        F.least(F.greatest("o_totalprice", F.col("lo")), F.col("hi")).alias(
            "v"
        ),
        (
            (F.col("o_totalprice") < F.col("lo"))
            | (F.col("o_totalprice") > F.col("hi"))
        )
        .cast("long")
        .alias("clipped"),
    )
    return (
        clipped.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("clipped").alias("n_clipped"),
            F.round(
                F.sum(F.round("v", 4).cast("decimal(28,4)")).cast("double"), 4
            ).alias("total_clipped"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q132 — temporal train/test split with an embargo gap
# ---------------------------------------------------------------------------
#
# Time-series ML hygiene: train on everything before T_train, test on
# everything after T_test = T_train + embargo, DROP the embargo band so
# leakage through time-adjacent correlation can't cross the split. Pure
# scan-stage predicates (pushdown-friendly); output is the per-split
# profile including boundary timestamps, so the gated row PROVES train
# max < test min with the full embargo between them.

_Q132_TRAIN_END = "2024-01-20 00:00:00"
_Q132_TEST_START = "2024-01-23 00:00:00"  # 3-day embargo

_Q132_ORACLE = f"""
WITH s AS (
  SELECT CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_Q132_TRAIN_END}'
              THEN 'train'
              WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_Q132_TEST_START}'
              THEN 'test' ELSE 'embargo' END AS split,
         CAST(ts AS TIMESTAMP) AS ts, user_id
  FROM events
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(epoch_us(MIN(ts)) AS BIGINT) AS min_ts_us,
       CAST(epoch_us(MAX(ts)) AS BIGINT) AS max_ts_us
FROM s WHERE split <> 'embargo'
GROUP BY split ORDER BY split
"""


@dq("q132_temporal_split_embargo", oracle=_Q132_ORACLE, covers="P2,A1,F5,EXT")
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    train_end = F.lit(_Q132_TRAIN_END).cast("timestamp")
    test_start = F.lit(_Q132_TEST_START).cast("timestamp")
    s = events.select(
        F.when(F.col("ts") < train_end, "train")
        .when(F.col("ts") >= test_start, "test")
        .otherwise("embargo")
        .alias("split"),
        "ts",
        "user_id",
    ).filter(F.col("split") != "embargo")
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.unix_micros(F.min("ts")).alias("min_ts_us"),
            F.unix_micros(F.max("ts")).alias("max_ts_us"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# q133 — group-aware k-fold assignment (all of a user's rows share a fold)
# ---------------------------------------------------------------------------
#
# Cross-validation hygiene for grouped data: folds are assigned per
# GROUP (user), never per row, so no user straddles train and
# validation. The fold is the content-keyed hash of the group id —
# deterministic, engine-independent, no shuffle to assign (pure codegen
# on the scan; the only exchange is the report aggregation). The gated
# row carries per-fold row/user counts plus a cross-fold leakage count
# pinned to zero by construction.

_Q133_K = 5

_Q133_ORACLE = f"""
WITH f AS (
  SELECT user_id, event_id,
         ((user_id * 2654435761) % 10000) % {_Q133_K} AS fold
  FROM events
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM f GROUP BY fold ORDER BY fold
"""


@dq("q133_group_kfold", oracle=_Q133_ORACLE, covers="F7,A1,A2,EXT")
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.sampling import sample_bucket

    events = load_table(spark, sf_dir, "events")
    folded = events.select(
        "user_id",
        F.pmod(sample_bucket("user_id"), F.lit(_Q133_K)).alias("fold"),
    )
    return (
        folded.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# q134 — JSONL ingest: the reference pipeline over an alternate wire format
# ---------------------------------------------------------------------------
#
# sources/json_source.py reads JSON-Lines purchase exports into the SAME
# raw all-string shape as the CSV scan, so anonymize/cast/quarantine run
# unchanged — format parity for the ingest path (S2's JSONL sibling).
# Oracle: hashlib-SHA-1 VALUES computed from the fixture in CPython
# (DuckDB has no sha1), the q02 pattern.

def _q134_oracle() -> str:
    import hashlib as _hashlib
    import json as _json
    from datetime import datetime as _dt

    from questdb_etl_jobs_spark.queries._protocol import FIXTURE_DIR

    rows = []
    with open(FIXTURE_DIR / "purchases_small.jsonl") as fh:
        for line in fh:
            rec = _json.loads(line)
            digest = _hashlib.sha1(rec["email"].encode()).hexdigest()
            iso = _dt.strptime(
                rec["purchase_date"], "%Y-%m-%dT%H:%M:%S"
            ).strftime("%Y-%m-%d %H:%M:%S")
            rows.append(
                f"('{digest}', {int(rec['item_id'])}, "
                f"{int(rec['quantity'])}, {int(rec['price'])}, "
                f"TIMESTAMP '{iso}')"
            )
    values = ",\n      ".join(rows)
    return f"""
    SELECT * FROM (VALUES
      {values}
    ) AS t(buyer, item_id, quantity, price, purchase_date)
    ORDER BY buyer, purchase_date, item_id, quantity, price
    """


# Fixture-bound (purchases_small.jsonl): identical at every sf.
_q134_oracle.sf_invariant = True


@dq("q134_jsonl_ingest", oracle=_q134_oracle, covers="S2,F1,P3,F3,F4,EXT")
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.pipeline import (
        anonymize_and_cast,
        split_quarantine,
    )
    from questdb_etl_jobs_spark.queries._protocol import FIXTURE_DIR
    from questdb_etl_jobs_spark.sources.json_source import (
        read_purchases_jsonl,
    )

    raw = read_purchases_jsonl(
        spark, str(FIXTURE_DIR / "purchases_small.jsonl")
    )
    good, _bad = split_quarantine(anonymize_and_cast(raw))
    return good.orderBy(
        "buyer", "purchase_date", "item_id", "quantity", "price"
    )


# ---------------------------------------------------------------------------
# q135/q136 — the QuestDB dialect front-end, oracle-gated
# ---------------------------------------------------------------------------
#
# sql/dialect.py runs QuestDB query strings verbatim, lowering LATEST ON
# / SAMPLE BY / ASOF JOIN / interval search onto the library operators.
# These two queries feed actual dialect strings through that front-end
# and gate the result against DuckDB — so the translator itself is under
# the differential oracle, not just unit tests.

_Q135_SQL = (
    "SELECT * FROM events WHERE ts IN '2024-01-15' "
    "LATEST ON ts PARTITION BY user_id"
)

_Q135_ORACLE = """
WITH day AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
  FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-16 00:00:00'
), ranked AS (
  SELECT user_id, event_type, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM day
)
SELECT user_id, event_type,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       ROUND(value, 4) AS value4
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


@dq("q135_dialect_latest_on", oracle=_Q135_ORACLE, covers="W4,O1,F5,EXT")
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    out = questdb_sql(spark, _Q135_SQL, {"events": "ts"})
    return out.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 4).alias("value4"),
    ).orderBy("user_id")


_Q136_SQL = (
    "SELECT ts, event_type, first(value) open, last(value) close, "
    "count(*) n FROM events WHERE ts IN '2024-01-10' SAMPLE BY 1h"
)

_Q136_ORACLE = """
WITH day AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-11 00:00:00'
)
SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bucket_us,
       event_type,
       ROUND(arg_min(value, ts), 4) AS open4,
       ROUND(arg_max(value, ts), 4) AS close4,
       CAST(COUNT(*) AS BIGINT) AS n
FROM day GROUP BY bucket_us, event_type
ORDER BY bucket_us, event_type
"""


@dq("q136_dialect_sample_by", oracle=_Q136_ORACLE, covers="A7,F5,A1,EXT")
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    out = questdb_sql(spark, _Q136_SQL, {"events": "ts"})
    return out.select(
        F.unix_micros("ts").alias("bucket_us"),
        "event_type",
        F.round("open", 4).alias("open4"),
        F.round("close", 4).alias("close4"),
        "n",
    ).orderBy("bucket_us", "event_type")


# ---------------------------------------------------------------------------
# q137 — dialect LATEST ON with a value filter (QuestDB filter order)
# ---------------------------------------------------------------------------
#
# QuestDB applies designated-ts/partition-key filters BEFORE latest-row
# resolution and every other filter AFTER it (sql/dialect.py round-7
# split). This query gates that order under the differential oracle: the
# value predicate must remove users whose LATEST row fails it — NOT
# reselect each user's latest-among-passing rows (the two differ
# whenever a user's latest Jan-15 event has value >= 100).

_Q137_SQL = (
    "SELECT * FROM events WHERE value < 100 AND ts IN '2024-01-15' "
    "LATEST ON ts PARTITION BY user_id"
)

_Q137_ORACLE = """
WITH day AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
  FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-16 00:00:00'
), ranked AS (
  SELECT user_id, event_type, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM day
)
SELECT user_id, event_type,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       ROUND(value, 4) AS value4
FROM ranked WHERE rn = 1 AND value < 100 ORDER BY user_id
"""


@dq("q137_dialect_latest_on_filtered", oracle=_Q137_ORACLE, covers="W4,P2,EXT")
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    out = questdb_sql(spark, _Q137_SQL, {"events": "ts"})
    return out.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 4).alias("value4"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q138 — exponential moving average per user (sequential recurrence)
# ---------------------------------------------------------------------------
#
# operators/ema.py: the order-dependent recurrence Spark's expression
# surface cannot spell (and whose window-sum closed form overflows —
# see the operator docstring), run as a grouped-map Pandas recurrence.
# alpha = 0.25 so both alpha and 1-alpha are EXACT doubles: the Spark
# UDF computes literally `0.25*x + 0.75*y` and the oracle's recursive
# CTE computes the same IEEE expression, term for term — bit-identical
# trajectories, gated at 4 decimals through the repr-rounding shim.

_Q138_ORACLE = f"""
WITH RECURSIVE src AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ) AS rn
  FROM events
), rec AS (
  SELECT user_id, event_id, ts, rn, value AS ema FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.ts, s.rn,
         CAST(0.25 AS DOUBLE) * s.value + CAST(0.75 AS DOUBLE) * r.ema
  FROM src s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       {_sr4("ema", "ema4")}
FROM rec ORDER BY user_id, ts_us, event_id
"""


@dq("q138_ema_per_user", oracle=_Q138_ORACLE, covers="U2,W2,EXT")
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.ema import ema

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    out = ema(ev, key="user_id", ts="ts", value="value", alpha=0.25,
              order=["event_id"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("ema", 4).alias("ema4"),
    ).orderBy("user_id", "ts_us", "event_id")


# ---------------------------------------------------------------------------
# q139 — designated-ts layout roundtrip through the dialect
# ---------------------------------------------------------------------------
#
# The full QuestDB storage convention end-to-end under the oracle:
# events land via plans/designated.write_designated_ts (date-partitioned,
# time-sorted), the table registers with register_designated_table, and a
# dialect SAMPLE BY + interval query runs WITHOUT any designated-ts
# plumbing — the timestamp is inferred from the <col>_pdate layout and
# the interval search prunes partition directories statically.

_Q139_ORACLE = """
WITH day AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, value
  FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05 00:00:00'
    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-06 00:00:00'
)
SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bucket_us,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MAX(value), 4) AS mx4
FROM day GROUP BY bucket_us ORDER BY bucket_us
"""


@dq("q139_dialect_designated_roundtrip", oracle=_Q139_ORACLE,
    covers="S6,A7,F5,EXT")
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql import questdb_sql

    # Deterministic scratch location; overwrite keeps reruns idempotent.
    path = "/tmp/spark_graft_q139_saved"
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-08")
    )
    write_designated_ts(ev, path, "ts", mode="overwrite")
    register_designated_table(spark, "ev_saved_q139", path)
    out = questdb_sql(
        spark,
        "SELECT ts, count(*) n, max(value) mx FROM ev_saved_q139 "
        "WHERE ts IN '2024-01-05' SAMPLE BY 1h",
    )
    return out.select(
        F.unix_micros("ts").alias("bucket_us"),
        "n",
        F.round("mx", 4).alias("mx4"),
    ).orderBy("bucket_us")


# ---------------------------------------------------------------------------
# q140 — counter increase with reset handling (operators/counter.py)
# ---------------------------------------------------------------------------
#
# PromQL-style monotonic-counter semantics over the event stream: a
# deterministic synthetic counter (per-user running cents total mod
# 100,000 — integer arithmetic, bit-exact in both engines, wraps every
# ~4 samples) exercises the reset branch (drop -> increase = new value)
# and the first-sample NULL under the differential oracle.

_Q140_ORACLE = """
WITH src AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), c AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) % 100000 AS counter
  FROM src
), inc AS (
  SELECT event_type, counter,
         LAG(counter) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM c
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(prev) AS BIGINT) AS n_with_prev,
       CAST(SUM(CASE WHEN prev IS NULL THEN NULL
                     WHEN counter - prev < 0 THEN counter
                     ELSE counter - prev END) AS BIGINT) AS total_increase
FROM inc GROUP BY event_type ORDER BY event_type
"""


@dq("q140_counter_rate", oracle=_Q140_ORACLE, covers="W2,W3,A1,EXT")
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from questdb_etl_jobs_spark.operators.counter import counter_increase

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counters = ev.withColumn(
        "counter", F.sum("cents").over(w) % F.lit(100000)
    )
    inc = counter_increase(
        counters, key="user_id", ts="ts", value="counter",
        order=["event_id"],
    )
    return (
        inc.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("increase").alias("n_with_prev"),
            F.sum("increase").alias("total_increase"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q141 — hourly counter rate (PromQL rate() over SAMPLE BY buckets)
# ---------------------------------------------------------------------------
#
# The operational composition the counter operator exists for: per-series
# increases (reset-corrected, q140's synthetic counter) rolled into
# hourly buckets per event_type as events/sec. Integer increase sums
# stay exact; the final /3600 division is one IEEE op on identical
# operands in both engines, gated through the repr-rounding shim.

_Q141_ORACLE = f"""
WITH src AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), c AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) % 100000 AS counter
  FROM src
), inc AS (
  SELECT event_type, ts, counter,
         LAG(counter) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM c
), per_bucket AS (
  SELECT date_trunc('hour', ts) AS bucket,
         event_type,
         SUM(CASE WHEN prev IS NULL THEN NULL
                  WHEN counter - prev < 0 THEN counter
                  ELSE counter - prev END) AS total_increase
  FROM inc GROUP BY bucket, event_type
)
SELECT CAST(epoch_us(bucket) AS BIGINT) AS bucket_us,
       event_type,
       CAST(total_increase AS BIGINT) AS total_increase,
       {_sr4("CAST(total_increase AS DOUBLE) / 3600.0", "rate4")}
FROM per_bucket
WHERE total_increase IS NOT NULL
ORDER BY bucket_us, event_type
"""


@dq("q141_counter_rate_hourly", oracle=_Q141_ORACLE, covers="W2,A7,F5,EXT")
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from questdb_etl_jobs_spark.operators.counter import counter_increase

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counters = ev.withColumn(
        "counter", F.sum("cents").over(w) % F.lit(100000)
    )
    inc = counter_increase(
        counters, key="user_id", ts="ts", value="counter",
        order=["event_id"],
    )
    per_bucket = (
        inc.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        )
        .agg(F.sum("increase").alias("total_increase"))
        .filter(F.col("total_increase").isNotNull())
    )
    return per_bucket.select(
        F.unix_micros("bucket").alias("bucket_us"),
        "event_type",
        "total_increase",
        F.round(F.col("total_increase").cast("double") / 3600.0, 4).alias(
            "rate4"
        ),
    ).orderBy("bucket_us", "event_type")


# ---------------------------------------------------------------------------
# q142 — SPLICE JOIN through the dialect (full-outer as-of, QuestDB shape)
# ---------------------------------------------------------------------------
#
# `SELECT * FROM a SPLICE JOIN b ON k` lowered onto
# operators/asof.splice_join with the side marker dropped (QuestDB's
# SELECT * shape: left columns then clash-suffixed right columns).
# Oracle: union of the two directional DuckDB ASOF joins — the
# definition — with the same column shape.

_Q142_ORACLE = """
WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase' AND event_id % 3 = 0),
     s AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'signup'),
lface AS (
  SELECT p.user_id, p.event_id, p.ts,
         s.event_id AS event_id_right, s.ts AS ts_right
  FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
),
rface AS (
  SELECT s.user_id, p.event_id, p.ts,
         s.event_id AS event_id_right, s.ts AS ts_right
  FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts >= p.ts
)
SELECT user_id,
       event_id,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       event_id_right,
       CAST(epoch_us(ts_right) AS BIGINT) AS ts_right_us
FROM (SELECT * FROM lface UNION ALL SELECT * FROM rface)
ORDER BY user_id, ts_us NULLS FIRST, event_id NULLS FIRST,
         ts_right_us NULLS FIRST, event_id_right NULLS FIRST
"""


@dq("q142_dialect_splice_join", oracle=_Q142_ORACLE, covers="J7,T1,EXT")
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    events = load_table(spark, sf_dir, "events")
    events.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 3 == 0)
    ).select("user_id", "event_id", "ts").createOrReplaceTempView(
        "ev_purch_q142"
    )
    events.filter(F.col("event_type") == "signup").select(
        "user_id", "event_id", "ts"
    ).createOrReplaceTempView("ev_sig_q142")
    out = questdb_sql(
        spark,
        "SELECT * FROM ev_purch_q142 SPLICE JOIN ev_sig_q142 ON user_id",
        {"ev_purch_q142": "ts", "ev_sig_q142": "ts"},
    )
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id_right",
        F.unix_micros("ts_right").alias("ts_right_us"),
    ).orderBy(
        "user_id",
        F.col("ts_us").asc_nulls_first(),
        F.col("event_id").asc_nulls_first(),
        F.col("ts_right_us").asc_nulls_first(),
        F.col("event_id_right").asc_nulls_first(),
    )


# ---------------------------------------------------------------------------
# q143 — mergeable histogram quantile rollup (the quantile face of q117)
# ---------------------------------------------------------------------------
#
# Per-(flag, ship-year) fixed-domain histogram partials merged at query
# time into a bucket-midpoint median estimate — quantiles over any
# partition subset without rescanning raw rows, the 100 TB rollup
# pattern. The oracle row carries the exact count and asserts the
# estimate lands within one bucket width (~29.3 on a [0, 120k]/4096
# domain) of the true median, so the row only hash-matches when the
# merge-and-walk path is actually accurate.

_Q143_LO, _Q143_HI, _Q143_BUCKETS = 0.0, 120_000.0, 4096

_Q143_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
       TRUE AS within_bucket
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@dq("q143_histogram_quantile_rollup", oracle=_Q143_ORACLE, covers="A5,A7,EXT")
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.quantile import (
        histogram_partials,
        quantile_from_partials,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.year("l_shipdate").alias("ship_year"),
        "l_extendedprice",
    )
    partials = histogram_partials(
        li, ["l_returnflag", "ship_year"], "l_extendedprice",
        lo=_Q143_LO, hi=_Q143_HI, buckets=_Q143_BUCKETS,
    )
    est = quantile_from_partials(
        partials, ["l_returnflag"], q=0.5,
        lo=_Q143_LO, hi=_Q143_HI, buckets=_Q143_BUCKETS,
    )
    exact = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("__exact"),
        F.count("l_extendedprice").alias("n"),
    )
    est = est.select("l_returnflag", "est")
    width = (_Q143_HI - _Q143_LO) / _Q143_BUCKETS
    return (
        exact.join(est, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            (F.abs(F.col("est") - F.col("__exact")) <= F.lit(width)).alias(
                "within_bucket"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q144 — Johnson-Lindenstrauss sign projection (embedding dim reduction)
# ---------------------------------------------------------------------------
#
# functions/vectors.sign_project: 64-dim embeddings down to 16 dims via
# a seeded ±1 matrix (Achlioptas) — the dimension-reduction step ahead
# of ANN indexing / semantic dedup. The oracle replays the IDENTICAL
# matrix (same seeded CPython PRNG) as an inline VALUES table and the
# identical left-to-right signed-add chain, so every projected
# coordinate is gated value-for-value, not just by a distance bound.

_Q144_SEED, _Q144_IN, _Q144_OUT = 7, 64, 16


def _q144_oracle() -> str:
    from questdb_etl_jobs_spark.functions.vectors import projection_signs

    signs = projection_signs(_Q144_IN, _Q144_OUT, _Q144_SEED)
    rows = ", ".join(f"({j}, {signs[j]})" for j in range(_Q144_OUT))
    expr = (
        "0.25 * list_sum(list_transform(range(1, 65), "
        "i -> CAST(m.r[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
    )
    return f"""
    WITH m(j, r) AS (VALUES {rows})
    SELECT e.vec_id, CAST(m.j AS INT) AS dim, {_sr4(expr, "val4")}
    FROM embeddings e CROSS JOIN m
    ORDER BY e.vec_id, dim
    """


_q144_oracle.sf_invariant = True


@dq("q144_random_projection", oracle=_q144_oracle, covers="F8,EXT")
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.vectors import (
        projection_signs,
        sign_project,
    )

    signs = projection_signs(_Q144_IN, _Q144_OUT, _Q144_SEED)
    emb = load_table(spark, sf_dir, "embeddings")
    projected = emb.select(
        "vec_id", sign_project("embedding", signs).alias("__p")
    )
    return projected.select(
        "vec_id", F.posexplode("__p").alias("dim", "__v")
    ).select(
        "vec_id", "dim", F.round("__v", 4).alias("val4")
    ).orderBy("vec_id", "dim")


# ---------------------------------------------------------------------------
# q146 — materialized SAMPLE BY view: three refreshes == direct query
# ---------------------------------------------------------------------------
#
# QuestDB's materialized-view parity (operators/matview.py): the event
# history lands in three chronological refreshes (the reference's
# hourly-append model, README.md:373); the maintained view must then
# answer the daily OHLC/stats SAMPLE BY bit-for-bit identically to a
# direct query over the full history — possible because every stored
# partial is algebraic and the sums ride the DECIMAL(28,4) protocol.

_Q146_ORACLE = """
SELECT CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)
         AS bucket_us,
       event_type,
       CAST(COUNT(value) AS BIGINT) AS n,
       {total},
       ROUND(MIN(value), 4) AS vmin4,
       ROUND(MAX(value), 4) AS vmax4,
       ROUND(arg_min(value, CAST(ts AS TIMESTAMP)), 4) AS first4,
       ROUND(arg_max(value, CAST(ts AS TIMESTAMP)), 4) AS last4
FROM events
GROUP BY bucket_us, event_type ORDER BY bucket_us, event_type
""".format(total=sum4("value", "total4"))


@dq("q146_matview_sample_by", oracle=_Q146_ORACLE, covers="A7,A1,S6,EXT")
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from questdb_etl_jobs_spark.operators.matview import (
        read_sample_by_view,
        refresh_sample_by_view,
    )

    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    path = "/tmp/spark_graft_q146_view"
    shutil.rmtree(path, ignore_errors=True)
    cuts = ("2024-01-11", "2024-01-21")
    batches = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    for b in batches:
        refresh_sample_by_view(
            spark, b, path, ts="ts", bucket="day", value="value",
            keys=["event_type"],
        )
    view = read_sample_by_view(spark, path)
    return view.select(
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "event_type",
        "n",
        F.round("total", 4).alias("total4"),
        F.round("vmin", 4).alias("vmin4"),
        F.round("vmax", 4).alias("vmax4"),
        F.round("first_val", 4).alias("first4"),
        F.round("last_val", 4).alias("last4"),
    ).orderBy("bucket_us", "event_type")


# ---------------------------------------------------------------------------
# q147 — exact top-k heavy hitters via Misra-Gries candidates
# ---------------------------------------------------------------------------
#
# operators/heavyhitters.py: per-partition MG summaries bound the
# candidate set, a broadcast-semi-join confirm pass gets exact counts
# for candidates only — top-k token statistics whose shuffles carry
# candidate keys, not the whole vocabulary. Gated against the direct
# exact top-20 (count desc, token asc) over the corpus tokens; the
# `guaranteed` flag is TRUE for every row here (counts far exceed
# N/counters), which the oracle pins.

_Q147_K = 20


_Q147_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counted AS (
  SELECT token, COUNT(*) AS cnt FROM toks
  WHERE token IS NOT NULL AND token <> ''
  GROUP BY token
)
SELECT token, CAST(cnt AS BIGINT) AS cnt, TRUE AS guaranteed
FROM counted ORDER BY cnt DESC, token LIMIT {_Q147_K}
"""


@dq("q147_heavy_hitters", oracle=_Q147_ORACLE, covers="A1,U2,O2,EXT")
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.heavyhitters import (
        heavy_hitters_topk,
    )

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    return heavy_hitters_topk(toks, "token", k=_Q147_K, counters=1024)


# ---------------------------------------------------------------------------
# q148 — rolling z-score anomaly detection (trailing-window monitoring)
# ---------------------------------------------------------------------------
#
# The metric-monitoring classic over a designated-timestamp stream: each
# event scored against its user's trailing 20-event mean/stddev, flagged
# at |z| > 3. Pure keyed-window codegen — one shuffle on the series key,
# two frame aggregates, no state beyond the frame. Warm-up events
# (fewer than 10 prior samples) are excluded from evaluation, matching
# the oracle exactly.

_Q148_ORACLE = """
WITH scored AS (
  SELECT user_id, event_type, value,
         AVG(value) OVER w AS mu,
         STDDEV_SAMP(value) OVER w AS sd,
         COUNT(value) OVER w AS m
  FROM (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
               event_id, value FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN ABS((value - mu) / sd) > 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies
FROM scored
WHERE m >= 10 AND sd > 0
GROUP BY event_type ORDER BY event_type
"""


@dq("q148_rolling_zscore", oracle=_Q148_ORACLE, covers="W3,A5,A1,EXT")
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    scored = ev.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("value").over(w).alias("m"),
    ).filter((F.col("m") >= 10) & (F.col("sd") > 0))
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(F.when(F.abs(z) > 3, 1).otherwise(0)).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q151 — exactly-once materialized view: redelivery + compaction == direct
# ---------------------------------------------------------------------------
#
# operators/matview.py refresh_sample_by_view_exactly_once under the
# oracle: the event history lands in three staged refreshes, the SECOND
# is deliberately redelivered (same batch_id — the crash-replay window a
# checkpointed foreachBatch produces), and the staged history is
# compacted mid-sequence before a final late batch. The finalized view
# must still answer the daily SAMPLE BY bit-for-bit identically to a
# direct query over the full history — the q146 contract, now under
# at-least-once delivery.

_Q151_ORACLE = """
SELECT CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)
         AS bucket_us,
       event_type,
       CAST(COUNT(value) AS BIGINT) AS n,
       {total},
       ROUND(MIN(value), 4) AS vmin4,
       ROUND(MAX(value), 4) AS vmax4,
       ROUND(arg_min(value, CAST(ts AS TIMESTAMP)), 4) AS first4,
       ROUND(arg_max(value, CAST(ts AS TIMESTAMP)), 4) AS last4
FROM events
GROUP BY bucket_us, event_type ORDER BY bucket_us, event_type
""".format(total=sum4("value", "total4"))


@dq("q151_matview_exactly_once", oracle=_Q151_ORACLE, covers="A7,R6,S6,EXT")
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from questdb_etl_jobs_spark.operators.matview import (
        compact_staged_batches,
        read_sample_by_view,
        refresh_sample_by_view_exactly_once,
    )

    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    path = "/tmp/spark_graft_q151_view"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + "__batches", ignore_errors=True)
    cuts = ("2024-01-11", "2024-01-21")
    batches = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]

    def refresh(i: int) -> None:
        refresh_sample_by_view_exactly_once(
            spark, batches[i], path, i, ts="ts", bucket="day",
            value="value", keys=["event_type"],
        )

    refresh(0)
    refresh(1)
    refresh(1)  # redelivered micro-batch: same id, same rows
    compact_staged_batches(spark, path)
    refresh(2)  # late batch lands on the compacted base
    view = read_sample_by_view(spark, path)
    return view.select(
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "event_type",
        "n",
        F.round("total", 4).alias("total4"),
        F.round("vmin", 4).alias("vmin4"),
        F.round("vmax", 4).alias("vmax4"),
        F.round("first_val", 4).alias("first4"),
        F.round("last_val", 4).alias("last4"),
    ).orderBy("bucket_us", "event_type")


# ---------------------------------------------------------------------------
# q152 — dialect SAMPLE BY FROM-TO: anchored origin + range prefill
# ---------------------------------------------------------------------------
#
# sql/dialect.py + operators/sample_by.sample_by_from_to under the
# oracle: QuestDB 8's explicit-range sampling. The FROM timestamp is
# deliberately half-past-aligned so the test proves the origin actually
# moved off the calendar grid (a date_trunc bug would shift every bucket
# 30 minutes and hash-mismatch), the range bounds the rows [from, to),
# and FILL(PREV, PREV, 0) prefills all 30 two-hour buckets per key —
# including empty edge buckets a data-derived grid could never emit.

_Q152_SQL = (
    "SELECT ts, event_type, min(value) lo, max(value) hi, count(*) n "
    "FROM events SAMPLE BY 2h "
    "FROM '2024-01-10T01:30:00' TO '2024-01-12T13:30:00' "
    "FILL(PREV, PREV, 0)"
)

_Q152_ORACLE = """
WITH rng AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 01:30:00'
    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-12 13:30:00'
), agg AS (
  SELECT CAST(
           (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-10 01:30:00'))
           // 7200000000 AS BIGINT) AS idx,
         event_type, MIN(value) AS lo, MAX(value) AS hi,
         COUNT(*) AS n
  FROM rng GROUP BY idx, event_type
), grid AS (
  SELECT gs.idx, t.event_type
  FROM generate_series(0, 29) AS gs(idx)
  CROSS JOIN (SELECT DISTINCT event_type FROM rng) AS t
), joined AS (
  SELECT g.idx, g.event_type, a.lo, a.hi, a.n
  FROM grid g LEFT JOIN agg a USING (idx, event_type)
)
SELECT CAST(epoch_us(TIMESTAMP '2024-01-10 01:30:00')
            + idx * 7200000000 AS BIGINT) AS bucket_us,
       event_type,
       ROUND(last_value(lo IGNORE NULLS) OVER w, 4) AS lo4,
       ROUND(last_value(hi IGNORE NULLS) OVER w, 4) AS hi4,
       COALESCE(n, 0) AS n
FROM joined
WINDOW w AS (PARTITION BY event_type ORDER BY idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY bucket_us, event_type
"""


@dq("q152_dialect_sample_by_from_to", oracle=_Q152_ORACLE, covers="A7,F5,EXT")
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    out = questdb_sql(spark, _Q152_SQL, {"events": "ts"})
    return out.select(
        F.unix_micros("ts").alias("bucket_us"),
        "event_type",
        F.round("lo", 4).alias("lo4"),
        F.round("hi", 4).alias("hi4"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("bucket_us", "event_type")


# ---------------------------------------------------------------------------
# q153 — haversine_dist_deg: per-key great-circle track mileage
# ---------------------------------------------------------------------------
#
# functions/geo.py under the oracle: QuestDB's haversine aggregate (the
# fleet-mileage query from its public function reference) over a
# deterministic synthetic track — lat/lon derived from event_id by exact
# integer arithmetic, identical in both faces, so the differential
# exercises the trig/window/aggregate path, not a data generator. Both
# engines evaluate the IDENTICAL IEEE expression chain (explicit
# deg→rad constant — see geo.DEG_TO_RAD for why not radians()); the
# segment sum routes through the 4-decimal DECIMAL protocol.

_Q153_LAT = "((event_id * 7919) % 17000) / 100.0 - 85.0"
_Q153_LON = "((event_id * 104729) % 36000) / 100.0 - 180.0"

_Q153_ORACLE = f"""
WITH pts AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         {_Q153_LAT} AS lat,
         {_Q153_LON} AS lon
  FROM events
), hav AS (
  SELECT user_id,
           sin((lat - lag(lat) OVER w) * 0.017453292519943295 / 2)
         * sin((lat - lag(lat) OVER w) * 0.017453292519943295 / 2)
         + cos(lag(lat) OVER w * 0.017453292519943295)
         * cos(lat * 0.017453292519943295)
         * sin((lon - lag(lon) OVER w) * 0.017453292519943295 / 2)
         * sin((lon - lag(lon) OVER w) * 0.017453292519943295 / 2) AS h
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  -- CASE, not least(h, 1.0): least ignores NULLs in both engines, and
  -- the lag-window first row must stay NULL (see functions/geo.py).
  SELECT user_id,
         2 * 6371.0088 * asin(sqrt(
           CASE WHEN h > 1.0 THEN 1.0 ELSE h END)) AS d
  FROM hav
)
SELECT user_id, {sum4("d", "distance_km4")},
       CAST(COUNT(d) AS BIGINT) AS n_segments
FROM seg GROUP BY user_id ORDER BY user_id
"""


@dq("q153_haversine_track", oracle=_Q153_ORACLE, covers="W2,A1,F7,EXT")
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.geo import haversine_segments

    pts = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr(_Q153_LAT).alias("lat"),
        F.expr(_Q153_LON).alias("lon"),
    )
    segs = haversine_segments(
        pts, "lat", "lon", "ts", keys=["user_id"], tiebreak=["event_id"]
    )
    return (
        segs.groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.expr("CAST(ROUND(segment_km, 4) AS DECIMAL(28,4))")
                ).cast("double"),
                4,
            ).alias("distance_km4"),
            F.count("segment_km").alias("n_segments"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q154 — dialect row generators: long_sequence + timestamp_sequence
# ---------------------------------------------------------------------------
#
# QuestDB's demo-data idiom (its docs build every tutorial table from
# SELECT ... FROM long_sequence(n) with timestamp_sequence timestamps)
# lowered onto spark.range — the distributed generator — with the
# timestamp series as integer-µs codegen. The oracle is DuckDB
# generate_series doing the same arithmetic; a WHERE over the generated
# column proves the output is a real table expression, not a special
# case.

_Q154_SQL = (
    "SELECT x, timestamp_sequence('2024-03-01T00:00:00', 300000000) ts, "
    "x * x total FROM long_sequence(5000) WHERE x % 7 = 0"
)

_Q154_ORACLE = """
SELECT CAST(x AS BIGINT) AS x,
       CAST(1709251200000000 + (x - 1) * 300000000 AS BIGINT) AS ts_us,
       CAST(x * x AS BIGINT) AS total
FROM generate_series(1, 5000) AS t(x)
WHERE x % 7 = 0
ORDER BY x
"""


@dq("q154_dialect_long_sequence", oracle=_Q154_ORACLE, covers="F5,F7,EXT")
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    out = questdb_sql(spark, _Q154_SQL, {})
    return out.select(
        "x",
        F.unix_micros("ts").alias("ts_us"),
        "total",
    ).orderBy("x")


# ---------------------------------------------------------------------------
# q155 — geohash spatial bucketing (QuestDB geohash type, encode + agg)
# ---------------------------------------------------------------------------
#
# functions/geo.geohash_encode under the oracle: QuestDB stores geohash
# columns and groups by prefixes for spatial rollups; here the encode is
# a closed-form codegen expression (scale-floor + fixed bit interleave +
# base-32 lookup — no UDF, no loop in the plan) and the oracle is the
# generated SQL mirror of the SAME arithmetic, so every character of
# every hash is differentially verified. Points derive from event_id by
# exact integer arithmetic (the q153 track), aggregation is a plain
# spatial rollup per 2-char cell (~1250 km, 1024 cells — real
# aggregation at every sf): the mobility-analytics shape.

def _q155_oracle() -> str:
    from questdb_etl_jobs_spark.functions.geo import geohash_sql
    from questdb_etl_jobs_spark.queries._protocol import sum4

    gh = geohash_sql(
        "(((event_id * 7919) % 17000) / 100.0 - 85.0)",
        "(((event_id * 104729) % 36000) / 100.0 - 180.0)",
        2,
    )
    return f"""
    SELECT {gh} AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sum4("value", "total4")}
    FROM events
    GROUP BY cell ORDER BY cell
    """


# Pure SQL generator over the registered `events` view: valid at
# every sf.
_q155_oracle.sf_invariant = True


@dq("q155_geohash_cells", oracle=_q155_oracle, covers="F7,F6,A1,EXT")
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.geo import geohash_encode

    pts = load_table(spark, sf_dir, "events").select(
        "value",
        F.expr(_Q153_LAT).alias("lat"),
        F.expr(_Q153_LON).alias("lon"),
    )
    return (
        pts.select(
            geohash_encode(F.col("lat"), F.col("lon"), 2).alias("cell"),
            "value",
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(
                    F.expr("CAST(ROUND(value, 4) AS DECIMAL(28,4))")
                ).cast("double"),
                4,
            ).alias("total4"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# q156 — QuestDB extended interval search: duration + repeating periods
# ---------------------------------------------------------------------------
#
# The full interval-expression syntax from QuestDB's interval-search
# docs: '<prefix>;<duration>;<period>;<count>'. Here: the 08:00 hour of
# Jan 5 extended by 2h (a 3-hour maintenance window), repeated weekly
# for 3 weeks — lowered to an OR of three pushdown-able half-open
# ranges. The oracle spells the same three ranges explicitly.

_Q156_SQL = (
    "SELECT event_type, count(*) n, min(value) lo, max(value) hi "
    "FROM events WHERE ts IN '2024-01-05T08;2h;1w;3' "
    "GROUP BY event_type ORDER BY event_type"
)

_Q156_ORACLE = """
WITH rng AS (
  SELECT event_type, value FROM events
  WHERE (CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05 08:00:00'
         AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-05 11:00:00')
     OR (CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-12 08:00:00'
         AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-12 11:00:00')
     OR (CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-19 08:00:00'
         AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-19 11:00:00')
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 4) AS lo4, ROUND(MAX(value), 4) AS hi4
FROM rng GROUP BY event_type ORDER BY event_type
"""


@dq("q156_interval_repeat", oracle=_Q156_ORACLE, covers="P1,F5,A1,EXT")
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    out = questdb_sql(spark, _Q156_SQL, {"events": "ts"})
    return out.select(
        "event_type",
        "n",
        F.round("lo", 4).alias("lo4"),
        F.round("hi", 4).alias("hi4"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q157 — t-digest mergeable quantiles with a verified rank-error bound
# ---------------------------------------------------------------------------
#
# operators/tdigest.py under the oracle, q120's verification pattern:
# the digest's p50/p95 estimates are RANKED against the actual rows
# (broadcast of 3 sketch rows back over the table) and the gated rows
# carry within_bound booleans the oracle pins TRUE, alongside the exact
# percentiles via the q24-calibrated quantile_cont spelling. Bound used:
# rank error ≤ 4·n·q(1−q)/δ + 1 — the k₁ scale function's centroid-
# weight ceiling (Dunning & Ertl), ~4× looser than observed so the gate
# is stable yet still ~10× tighter than a naive histogram at the tail.

_Q157_ORACLE = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
       ROUND(quantile_cont(o_totalprice, 0.95), 4) AS exact_p95,
       TRUE AS p50_within_bound,
       TRUE AS p95_within_bound
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@dq("q157_tdigest_quantiles", oracle=_Q157_ORACLE, covers="A3,A5,U2,EXT")
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.tdigest import (
        DEFAULT_DELTA,
        tdigest_quantiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    digest = tdigest_quantiles(
        orders, "o_totalprice", ["o_orderstatus"], [0.5, 0.95]
    )
    ranked = (
        orders.join(F.broadcast(digest), "o_orderstatus")
        .groupBy("o_orderstatus", "n", "q_50", "q_95")
        .agg(
            # ONE percentile buffer for both quantiles (r18, guide §1.2
            # per-task work): the array form sorts the group's values
            # once and interpolates both targets — measured 2× over two
            # independent percentile aggregates, bitwise-same values.
            F.percentile(
                "o_totalprice", F.lit([0.5, 0.95])
            ).alias("__ps"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("q_50"), 1).otherwise(0)
            ).alias("rank50_lo"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("q_50"), 1).otherwise(0)
            ).alias("rank50_hi"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("q_95"), 1).otherwise(0)
            ).alias("rank95_lo"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("q_95"), 1).otherwise(0)
            ).alias("rank95_hi"),
        )
    )

    def bound(q: float):
        return F.col("n") * F.lit(4.0 * q * (1 - q) / DEFAULT_DELTA) + 1

    def within(q: float, lo: str, hi: str):
        target = F.col("n") * F.lit(q)
        return (F.col(lo) <= target + bound(q)) & (
            F.col(hi) >= target - bound(q)
        )

    return ranked.select(
        "o_orderstatus",
        F.round(F.col("__ps")[0], 4).alias("exact_p50"),
        F.round(F.col("__ps")[1], 4).alias("exact_p95"),
        within(0.5, "rank50_lo", "rank50_hi").alias("p50_within_bound"),
        within(0.95, "rank95_lo", "rank95_hi").alias("p95_within_bound"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# q158 — SAMPLE BY ALIGN TO CALENDAR WITH OFFSET (shifted business day)
# ---------------------------------------------------------------------------
#
# The QuestDB offset-alignment clause: daily buckets rolling at 02:30
# instead of midnight (ledger/business-day boundaries). Buckets are
# integer-µs floors against the shifted origin; the oracle replicates
# the identical arithmetic. 02:30 = 9000000000 µs past midnight UTC;
# width 86400000000.

_Q158_SQL = (
    "SELECT ts, event_type, count(*) n, min(value) lo, max(value) hi "
    "FROM events SAMPLE BY 1d ALIGN TO CALENDAR WITH OFFSET '02:30'"
)

_Q158_ORACLE = """
SELECT CAST(9000000000 + (epoch_us(CAST(ts AS TIMESTAMP)) - 9000000000)
            // 86400000000 * 86400000000 AS BIGINT) AS bucket_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 4) AS lo4,
       ROUND(MAX(value), 4) AS hi4
FROM events
GROUP BY bucket_us, event_type ORDER BY bucket_us, event_type
"""


@dq("q158_sample_by_offset", oracle=_Q158_ORACLE, covers="A7,F5,EXT")
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    out = questdb_sql(spark, _Q158_SQL, {"events": "ts"})
    return out.select(
        F.unix_micros("ts").alias("bucket_us"),
        "event_type",
        "n",
        F.round("lo", 4).alias("lo4"),
        F.round("hi", 4).alias("hi4"),
    ).orderBy("bucket_us", "event_type")


# ---------------------------------------------------------------------------
# q163 — distributed purchase generator (reference entry point 2)
# ---------------------------------------------------------------------------
#
# sources/generator.py under the oracle: the reference's random CSV
# generator (data_generator.py:39-78) re-expressed as a deterministic
# spark.range derivation (chained xxhash64 streams, pure codegen) so it
# distributes AND verifies. The generated rows run through the same
# anonymize/cast pipeline the ETL uses, then roll up per item; the
# oracle regenerates every row in the CPython mirror and aggregates the
# same way — generator arithmetic, the consistent item→price mapping,
# SHA-1 anonymization, and the hour's timestamp layout all gate at
# once.

_Q163_N = 4000
_Q163_HOUR = "2021-03-21T11:00:00"


def _q163_oracle() -> str:
    import hashlib
    from collections import defaultdict

    from questdb_etl_jobs_spark.sources.generator import mirror_purchases

    per_item: dict[int, list] = defaultdict(lambda: [0, 0, 0, set()])
    for email, item_id, qty, price, _ts in mirror_purchases(
        _Q163_N, _Q163_HOUR
    ):
        slot = per_item[item_id]
        slot[0] += 1
        slot[1] += qty
        slot[2] = price
        slot[3].add(hashlib.sha1(email.encode()).hexdigest())
    values = ",\n      ".join(
        f"({item}, {n}, {qty}, {price}, {len(buyers)})"
        for item, (n, qty, price, buyers) in sorted(per_item.items())
    )
    return f"""
    SELECT CAST(item_id AS INTEGER) AS item_id,
           CAST(n AS BIGINT) AS n,
           CAST(qty_total AS BIGINT) AS qty_total,
           CAST(price AS INTEGER) AS price,
           CAST(n_buyers AS BIGINT) AS n_buyers
    FROM (VALUES
      {values}
    ) AS t(item_id, n, qty_total, price, n_buyers)
    ORDER BY item_id
    """


# Generator-bound: both faces replay mirror_purchases(_Q163_N), no sf
# table is read — identical at every sf.
_q163_oracle.sf_invariant = True


@dq("q163_purchase_generator", oracle=_q163_oracle, covers="S2,F1,F7,EXT")
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.hashing import anonymize_sha1
    from questdb_etl_jobs_spark.sources.generator import generate_purchases

    rows = generate_purchases(spark, _Q163_N, _Q163_HOUR)
    return (
        rows.select(
            "item_id",
            "quantity",
            "price",
            anonymize_sha1(F.col("email")).alias("buyer"),
        )
        .groupBy("item_id", "price")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("quantity").alias("qty_total"),
            F.countDistinct("buyer").alias("n_buyers"),
        )
        .select("item_id", "n", "qty_total", "price", "n_buyers")
        .orderBy("item_id")
    )


# ---------------------------------------------------------------------------
# q164 — CUSUM drift monitor (Page's test, closed-form codegen)
# ---------------------------------------------------------------------------
#
# operators/cusum.py under the oracle — and deliberately NOT the same
# arithmetic: the Spark face computes the closed form
# S_i = P_i − min(0, running_min(P)), the oracle walks the textbook
# recurrence max(0, S_{i−1} + d_i) in a recursive CTE. Bit-agreement of
# the two (modulo round4) is a proof of the closed form on real data,
# not just a transcription check. Per-user drift of `value` against a
# fixed target; row identity via event_id tiebreak.

_Q164_TARGET = 50.0
_Q164_SLACK = 2.0

_Q164_ORACLE = f"""
WITH RECURSIVE ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS rn
  FROM events
), walk AS (
  SELECT user_id, event_id, rn,
         CASE WHEN value - {_Q164_TARGET!r} - {_Q164_SLACK!r} > 0
              THEN value - {_Q164_TARGET!r} - {_Q164_SLACK!r}
              ELSE 0 END AS s_pos,
         CASE WHEN {_Q164_TARGET!r} - {_Q164_SLACK!r} - value > 0
              THEN {_Q164_TARGET!r} - {_Q164_SLACK!r} - value
              ELSE 0 END AS s_neg
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.rn,
         CASE WHEN w.s_pos + o.value - {_Q164_TARGET!r} - {_Q164_SLACK!r} > 0
              THEN w.s_pos + o.value - {_Q164_TARGET!r} - {_Q164_SLACK!r}
              ELSE 0 END,
         CASE WHEN w.s_neg + {_Q164_TARGET!r} - {_Q164_SLACK!r} - o.value > 0
              THEN w.s_neg + {_Q164_TARGET!r} - {_Q164_SLACK!r} - o.value
              ELSE 0 END
  FROM ordered o JOIN walk w
    ON o.user_id = w.user_id AND o.rn = w.rn + 1
)
SELECT user_id, event_id,
       ROUND(s_pos, 4) AS cusum_pos4,
       ROUND(s_neg, 4) AS cusum_neg4
FROM walk ORDER BY user_id, event_id
"""


@dq("q164_cusum_drift", oracle=_Q164_ORACLE, covers="W3,W2,F7,EXT")
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.operators.cusum import cusum

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    out = cusum(
        events, "value", "ts", keys=["user_id"],
        target=_Q164_TARGET, slack=_Q164_SLACK, tiebreak=["event_id"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.round("cusum_pos", 4).alias("cusum_pos4"),
        F.round("cusum_neg", 4).alias("cusum_neg4"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# q168 — retention: DROP PARTITION WHERE / LIST + TTL on a designated table
# ---------------------------------------------------------------------------
#
# QuestDB's data-lifecycle face (``ALTER TABLE … DROP PARTITION WHERE
# timestamp < …`` / ``LIST '…'`` / ``SET TTL``, the table family of
# reference sql/create-table.sql:1) as the storage-convention twin
# (plans/designated.py:drop_partitions): retention deletes whole date
# partition DIRECTORIES through the Hadoop FS — no scan, no rewrite of
# survivors. The replay drops everything whole-day-older than a MID-DAY
# cutoff (partition granularity must keep the partially-covered day
# 01-11) plus one explicit LIST date, then aggregates what survived; the
# oracle recomputes the surviving set relationally. A wrong granularity
# (dropping 01-11) or a leaked/lost directory shifts whole day-rows.

_Q168_ORACLE = """
WITH kept AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value
  FROM events
  WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-11'
    AND CAST(CAST(ts AS TIMESTAMP) AS DATE) <> DATE '2024-01-20'
)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM kept GROUP BY day ORDER BY day
"""


@dq("q168_retention_drop_partition", oracle=_Q168_ORACLE,
    covers="S6,O1,A1,A2,EXT")
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from questdb_etl_jobs_spark.plans.designated import (
        drop_partitions,
        write_designated_ts,
    )

    path = "/tmp/spark_graft_q168_retention"
    _shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    write_designated_ts(ev, path, "ts", mode="overwrite")
    # WHERE-form: whole days strictly before the cutoff; 01-11 survives.
    drop_partitions(spark, path, "ts", older_than="2024-01-11 12:00:00")
    # LIST-form on top (idempotent; missing dirs are no-ops).
    drop_partitions(spark, path, "ts", partition_list=["2024-01-20"])
    kept = spark.read.parquet(path)
    return (
        kept.groupBy(
            F.date_format(F.col("ts_pdate"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q169 — retention DDL via the QuestDB dialect (DROP PARTITION WHERE /
#        LIST + SET TTL as SQL strings)
# ---------------------------------------------------------------------------
#
# Round-9 verdict task #7: q168 proved the retention OPERATOR
# (plans/designated.py:drop_partitions/enforce_ttl); this query proves
# the QuestDB-native SPELLING (``ALTER TABLE … DROP PARTITION WHERE
# timestamp < '…'`` / ``DROP PARTITION LIST '…'`` / ``SET TTL n DAYS``,
# the lifecycle DDL of the reference's table family,
# sql/create-table.sql:1) lowers onto it through sql/dialect.questdb_ddl.
# Each statement's return (the dates it dropped) is cross-checked inside
# the callable against a relational expectation computed from the data
# itself — a mis-parsed cutoff, a TTL anchored at the wrong as_of, or a
# LIST that deletes a survivor raises before the differential even runs;
# the oracle then recomputes the surviving aggregate relationally.
# SET TTL enforces against the table's newest partition date (QuestDB
# evaluates TTL against the most recent timestamp): 22 days back from
# 2024-01-30 keeps days >= 01-08.

_Q169_ORACLE = """
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
),
mx AS (SELECT MAX(CAST(ts AS DATE)) AS md FROM e),
kept AS (
  SELECT e.ts, e.user_id, e.value FROM e, mx
  WHERE CAST(e.ts AS DATE) >= DATE '2024-01-05'
    AND CAST(e.ts AS DATE) <> DATE '2024-01-20'
    AND CAST(e.ts AS DATE) >= mx.md - 22
)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM kept GROUP BY day ORDER BY day
"""


@dq("q169_retention_dialect_ddl", oracle=_Q169_ORACLE,
    covers="S6,O1,A1,A2,EXT")
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt
    import shutil as _shutil

    from questdb_etl_jobs_spark.plans.designated import write_designated_ts
    from questdb_etl_jobs_spark.sql.dialect import questdb_ddl

    path = "/tmp/spark_graft_q169_retention_sql"
    _shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    write_designated_ts(ev, path, "ts", mode="overwrite")
    tables = {"retained_events": path}

    # In-query cross-checks raise explicitly (not bare `assert`) so
    # they fire before the differential even under `python -O`.
    def _check(cond: bool, detail: object) -> None:
        if not cond:
            raise AssertionError(f"q169 retention cross-check: {detail!r}")

    days = sorted(
        r[0].isoformat()
        for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    d1 = questdb_ddl(
        spark,
        "ALTER TABLE retained_events DROP PARTITION "
        "WHERE ts < '2024-01-05T06:00:00';",
        tables,
    )
    _check(d1 == [d for d in days if d < "2024-01-05"], d1)
    d2 = questdb_ddl(
        spark,
        "ALTER TABLE retained_events DROP PARTITION LIST '2024-01-20'",
        tables,
    )
    _check(d2 == [d for d in days if d == "2024-01-20"], d2)
    d3 = questdb_ddl(
        spark, "ALTER TABLE retained_events SET TTL 22 DAYS", tables
    )
    ttl_cut = (
        _dt.date.fromisoformat(days[-1]) - _dt.timedelta(days=22)
    ).isoformat()
    _check(
        d3 == [d for d in days if "2024-01-05" <= d < ttl_cut],
        (d3, ttl_cut),
    )

    kept = spark.read.parquet(path)
    return (
        kept.groupBy(
            F.date_format(F.col("ts_pdate"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q170 — TTL on the INGEST path: rows age out across successive ingests
# ---------------------------------------------------------------------------
#
# QuestDB evaluates ``SET TTL`` against the table's most recent timestamp
# ON INGEST — retention is a property of the write path, not a one-shot
# DDL statement. q169 exercised the DDL spelling (statement-time
# enforcement); this closes the lifecycle gap the round-10 verdict named:
# ``write_designated_ts(..., ttl_days=10)`` enforces post-commit on every
# ingest, so the horizon ADVANCES as data lands. The replay ingests the
# events history in two chronological ingests under TTL 10 DAYS and
# snapshots the table after each: after ingest 1 (days ≤ 01-15) the
# newest partition is 01-15 and days < 01-05 are already gone; ingest 2
# (days ≥ 01-16) moves the newest partition to the history's last day,
# aging out days 01-05..01-15 *that ingest 1 had retained*. The oracle
# recomputes both snapshots relationally; phase 1 rows prove the early
# days were present before ingest 2 expired them — a statement-time-only
# implementation cannot produce this pair from the same table.

_Q170_ORACLE = """
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
mx AS (SELECT CAST(MAX(ts) AS DATE) AS last_day FROM e),
p1 AS (
  SELECT CAST(1 AS INT) AS phase,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM e
  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-15'
  GROUP BY 2
),
p2 AS (
  SELECT CAST(2 AS INT) AS phase,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM e, mx
  WHERE CAST(ts AS DATE) >= mx.last_day - 10
  GROUP BY 2
)
SELECT * FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
ORDER BY phase, day
"""


@dq("q170_ttl_on_ingest", oracle=_Q170_ORACLE, covers="S6,O1,A1,EXT")
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt
    import shutil as _shutil

    from questdb_etl_jobs_spark.plans.designated import (
        list_partitions,
        write_designated_ts,
    )

    def _check(cond: bool, detail: object) -> None:
        if not cond:
            raise AssertionError(f"q170 TTL-on-ingest cross-check: {detail!r}")

    path = "/tmp/spark_graft_q170_ttl_ingest"
    _shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "value")

    def snapshot(phase: int) -> list:
        kept = spark.read.parquet(path)
        return [
            (phase, r["day"], r["n"], r["cents"])
            for r in kept.groupBy(
                F.date_format(F.col("ts_pdate"), "yyyy-MM-dd").alias("day")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("cents"),
            )
            .collect()
        ]

    # Ingest 1: history through 01-15 under TTL 10 DAYS — enforcement
    # runs post-commit against the newest partition (01-15), so days
    # before 01-05 never survive the first ingest.
    write_designated_ts(
        ev.filter(F.col("ts") < F.lit("2024-01-16 00:00:00")),
        path, "ts", mode="overwrite", ttl_days=10,
    )
    parts1 = list_partitions(spark, path, "ts")
    _check(parts1 and parts1[0] == "2024-01-05" and parts1[-1] == "2024-01-15",
           parts1)
    rows = snapshot(1)

    # Ingest 2: the rest of the history lands; the newest partition
    # advances to the history's last day and enforcement ages out the
    # days ingest 1 retained — continuous lifecycle, same table.
    write_designated_ts(
        ev.filter(F.col("ts") >= F.lit("2024-01-16 00:00:00")),
        path, "ts", mode="append", ttl_days=10,
    )
    parts2 = list_partitions(spark, path, "ts")
    ttl_floor = (
        _dt.date.fromisoformat(parts2[-1]) - _dt.timedelta(days=10)
    ).isoformat()
    _check(parts2 and parts2[0] == ttl_floor, (parts2, ttl_floor))
    rows += snapshot(2)

    out = spark.createDataFrame(
        rows, "phase int, day string, n long, cents long"
    )
    return out.orderBy("phase", "day")


# ---------------------------------------------------------------------------
# q178 — SHOW PARTITIONS: the retention family's catalog face
# ---------------------------------------------------------------------------
#
# q168-q170 mutate partitions; this is how an operator INSPECTS them
# (QuestDB `SHOW PARTITIONS FROM t`). The dialect statement lowers onto
# plans/designated.show_partitions: a two-column pruned scan whose
# per-day aggregate partial-combines map-side, then a row_number over
# the day DIRECTORY (one row per partition, never the data). The oracle
# recomputes the listing relationally from the same events; agreement
# proves the written partition layout (directory names, per-day bounds,
# row counts) matches the designated-ts contract exactly. QuestDB's
# storage-only columns (diskSize, readOnly, ...) are catalog attributes,
# not query results, and stay out of both faces (documented in the
# operator docstring); `attached` joined the face in round 14's second
# wave when DETACH PARTITION made the state data-derivable — a freshly
# written table is all-attached, which the constant TRUE restates.

_Q178_ORACLE = """
WITH d AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         MIN(CAST(ts AS TIMESTAMP)) AS min_ts,
         MAX(CAST(ts AS TIMESTAMP)) AS max_ts,
         COUNT(*) AS num_rows
  FROM events GROUP BY day
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS INT) AS part_index,
       'DAY' AS partition_by,
       CAST(day AS VARCHAR) AS name,
       min_ts, max_ts,
       CAST(num_rows AS BIGINT) AS num_rows,
       TRUE AS attached
FROM d ORDER BY part_index
"""


@dq("q178_show_partitions", oracle=_Q178_ORACLE, covers="S6,A1,W1,EXT")
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from questdb_etl_jobs_spark.plans.designated import write_designated_ts
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    path = "/tmp/spark_graft_q178_show_partitions"
    _shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    write_designated_ts(ev, path, "ts", mode="overwrite")
    return questdb_show(
        spark, "SHOW PARTITIONS FROM shown_events;", {"shown_events": path}
    )


# ---------------------------------------------------------------------------
# q182 — SHOW COLUMNS: the catalog family's schema face
# ---------------------------------------------------------------------------
#
# QuestDB `SHOW COLUMNS FROM t` reports ITS type names and marks the
# designated timestamp; plans/designated.show_columns maps Spark types
# into the QuestDB name space (STRING/INT/LONG/DOUBLE/TIMESTAMP/...),
# recovers the designated flag from the <col>_pdate storage convention,
# and keeps the bookkeeping partition column out of the listing (it is
# layout, not schema). Schema-only — parquet footers, zero data scan.
# The expected listing is a schema fact independent of sf, so the
# oracle is a plain VALUES table and this face verifies at every scale.

_Q182_ORACLE = """
SELECT column_name, column_type, designated
FROM (VALUES
  ('ts', 'TIMESTAMP', TRUE),
  ('user_id', 'LONG', FALSE),
  ('event_type', 'STRING', FALSE),
  ('value', 'DOUBLE', FALSE)
) AS t(column_name, column_type, designated)
ORDER BY column_name
"""


@dq("q182_show_columns", oracle=_Q182_ORACLE, covers="S6,EXT")
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from questdb_etl_jobs_spark.plans.designated import write_designated_ts
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    path = "/tmp/spark_graft_q182_show_columns"
    _shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "value"
    )
    write_designated_ts(ev, path, "ts", mode="overwrite")
    listing = questdb_show(
        spark, "SHOW COLUMNS FROM typed_events", {"typed_events": path}
    )
    return listing.orderBy("column_name")


# ---------------------------------------------------------------------------
# q185 — SHOW TABLES: the catalog family's listing face (round 12)
# ---------------------------------------------------------------------------
#
# QuestDB `SHOW TABLES` lists the catalog; this engine's catalog is the
# caller's table→path mapping, filtered to names whose storage exists
# (a fully-dropped table still lists as an empty TABLE — only a missing
# path means no table; exercised by the dropped/missing unit test).
# Pure metadata — existence probes only, zero data scan. The expected
# listing is a catalog fact independent of sf, so the oracle is a plain
# VALUES table and this face verifies at every scale.

_Q185_ORACLE = """
SELECT table_name
FROM (VALUES
  ('shown_a'), ('shown_b'), ('shown_c')
) AS t(table_name)
ORDER BY table_name
"""


@dq("q185_show_tables", oracle=_Q185_ORACLE, covers="S6,EXT")
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from questdb_etl_jobs_spark.plans.designated import write_designated_ts
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    base = "/tmp/spark_graft_q185_show_tables"
    _shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "value").limit(10)
    tables = {}
    for name in ("shown_a", "shown_b", "shown_c"):
        path = f"{base}/{name}"
        write_designated_ts(ev, path, "ts", mode="overwrite")
        tables[name] = path
    tables["never_written"] = f"{base}/never_written"
    return questdb_show(spark, "SHOW TABLES;", tables)


# ---------------------------------------------------------------------------
# q186 — QuestDB time scalars through the dialect (round 12 wave 3)
# ---------------------------------------------------------------------------
#
# The console spellings a QuestDB user actually types — dateadd,
# datediff, timestamp_floor, to_timezone — run verbatim through
# questdb_sql: sql/dialect.rewrite_questdb_scalars lowers them onto
# Spark SQL (timestampadd/timestampdiff/integer-µs stride floor/
# from_utc_timestamp) BEFORE path selection, so they work on the
# passthrough path (this query: standard GROUP BY) and inside dialect
# clauses alike. The oracle recomputes every face in DuckDB's own
# vocabulary: epoch-µs stride arithmetic for the floor, interval
# arithmetic for dateadd/to_timezone (Europe/Berlin = CET in January),
# exact aligned-quotient hours for the datediff composition.

_Q186_SQL = """
SELECT timestamp_floor('15m', ts) AS bucket_ts,
       count(*) AS n,
       to_timezone(min(ts), 'Europe/Berlin') AS local_first,
       dateadd('h', 2, min(ts)) AS first_plus_2h,
       datediff('h', timestamp_floor('d', min(ts)),
                timestamp_floor('h', max(ts))) AS span_h
FROM __q186_events
WHERE event_type = 'click'
GROUP BY 1
ORDER BY 1
"""

_Q186_ORACLE = """
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'
), g AS (
  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000)
           AS bucket_ts,
         COUNT(*) AS n,
         MIN(ts) AS mn,
         MAX(ts) AS mx
  FROM e GROUP BY 1
)
SELECT bucket_ts,
       n,
       mn + INTERVAL 1 HOUR AS local_first,
       mn + INTERVAL 2 HOUR AS first_plus_2h,
       (epoch_us(make_timestamp((epoch_us(mx) // 3600000000)
                                * 3600000000))
        - epoch_us(make_timestamp((epoch_us(mn) // 86400000000)
                                  * 86400000000))) // 3600000000
         AS span_h
FROM g
ORDER BY bucket_ts
"""


@dq("q186_dialect_time_scalars", oracle=_Q186_ORACLE, covers="F5,F7,A1,EXT")
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q186_events"
    )
    return questdb_sql(spark, _Q186_SQL)


# ---------------------------------------------------------------------------
# q187 — sub-second SAMPLE BY (QuestDB T/U strides, round 12 wave 3)
# ---------------------------------------------------------------------------
#
# QuestDB's tick-data idiom: `SAMPLE BY 250T` (milliseconds; U =
# microseconds). The engine lowers sub-second strides onto the same
# integer-µs epoch floor the second/minute paths use (operators/
# sample_by._FIXED_WIDTH_US — pure codegen, no calendar logic, no
# window state). events.ts is second-granular, so the face first
# derives deterministic µs jitter (event_id % 997000 µs) to make the
# stride meaningful, registers the tick view, and runs the QuestDB
# text verbatim. Exact outputs only (count/min/max — no float-sum
# protocol needed); the oracle mirrors the jitter and the 250 ms floor
# in DuckDB epoch-µs arithmetic.

_Q187_SQL = (
    "SELECT ts, count() n, min(value) vmin, max(value) vmax "
    "FROM __q187_ticks WHERE ts IN '2024-01-10' SAMPLE BY 250T"
)

_Q187_ORACLE = """
WITH t AS (
  SELECT make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
                        + event_id % 997000) AS ts,
         value
  FROM events
), d AS (
  SELECT * FROM t
  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts < TIMESTAMP '2024-01-11 00:00:00'
)
SELECT make_timestamp((epoch_us(ts) // 250000) * 250000) AS ts,
       COUNT(*) AS n,
       ROUND(MIN(value), 4) AS vmin,
       ROUND(MAX(value), 4) AS vmax
FROM d
GROUP BY 1
ORDER BY 1
"""


@dq("q187_subsecond_sample_by", oracle=_Q187_ORACLE, covers="A7,F5,F7,EXT")
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    ticks = load_table(spark, sf_dir, "events").select(
        F.timestamp_micros(
            F.unix_micros("ts") + F.col("event_id") % 997_000
        ).alias("ts"),
        "value",
    )
    ticks.createOrReplaceTempView("__q187_ticks")
    out = questdb_sql(spark, _Q187_SQL, {"__q187_ticks": "ts"})
    return out.select(
        "ts",
        "n",
        F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"),
    ).orderBy("ts")


# ---------------------------------------------------------------------------
# q188 — QuestDB compensated sums (ksum / nsum, round 13)
# ---------------------------------------------------------------------------
#
# QuestDB ships Kahan (`ksum`) and Neumaier (`nsum`) compensated double
# sums because a plain parallel SUM(double) accumulates order-dependent
# error — yet the compensated forms are STILL order-dependent in the
# last ulps across parallel runs. The dialect lowers both onto this
# engine's exact-decimal float-sum protocol (sql/dialect._agg_column):
# error-free on the 4-decimal quantized grid and order-independent by
# construction — the property the compensation is reaching for, made
# exact — so the same query text is reproducible run-to-run AND
# cross-engine. The oracle runs the identical protocol in DuckDB.

_Q188_SQL = (
    "SELECT l_returnflag, ksum(l_extendedprice) AS ks, "
    "nsum(l_discount) AS ns, count() AS n "
    "FROM __q188_lineitem GROUP BY l_returnflag"
)

_Q188_ORACLE = """
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice, 4) AS DECIMAL(28,4)))
                  AS DOUBLE), 4) AS ks,
       ROUND(CAST(SUM(CAST(ROUND(l_discount, 4) AS DECIMAL(28,4)))
                  AS DOUBLE), 4) AS ns,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@dq("q188_dialect_ksum_nsum", oracle=_Q188_ORACLE, covers="A1,F7,EXT")
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__q188_lineitem"
    )
    return questdb_sql(spark, _Q188_SQL).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q189 — QuestDB vwap aggregate (round 13)
# ---------------------------------------------------------------------------
#
# QuestDB's `vwap(price, qty)` = sum(price*qty)/sum(qty) — the
# volume-weighted average price every market dashboard leans on (the
# engine's q72 computes the same quantity longhand; this is the
# function-spelling face). Both sums route through the decimal
# protocol AND are gated on the (price, qty) pair being non-null —
# QuestDB skips the pair when either argument is null (round-14
# ADVICE); the quotient stays un-rounded (one IEEE division of
# identical operands is bit-identical cross-engine — the avg4
# rationale in queries/_protocol.py).

_Q189_SQL = (
    "SELECT l_returnflag, vwap(l_extendedprice, l_quantity) AS vw, "
    "count() AS n FROM __q189_lineitem GROUP BY l_returnflag"
)

_Q189_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_extendedprice IS NOT NULL
                      AND l_quantity IS NOT NULL
                     THEN CAST(ROUND(l_extendedprice * l_quantity, 4)
                               AS DECIMAL(28,4)) END) AS DOUBLE)
       / CAST(SUM(CASE WHEN l_extendedprice IS NOT NULL
                        AND l_quantity IS NOT NULL
                       THEN CAST(ROUND(l_quantity, 4)
                                 AS DECIMAL(28,4)) END) AS DOUBLE) AS vw,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@dq("q189_dialect_vwap", oracle=_Q189_ORACLE, covers="A1,F7,EXT")
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__q189_lineitem"
    )
    return questdb_sql(spark, _Q189_SQL).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q190 — QuestDB regex-match operators, SYMBOL casts, to_str (round 13)
# ---------------------------------------------------------------------------
#
# The symbol-column idioms QuestDB consoles lean on: `col ~ 'regex'` /
# `col !~ 'regex'` (Spark parses a bare ~ as bitwise NOT, so the
# dialect rewrites them to regexp_like before any path sees the text),
# `CAST(x AS SYMBOL)` (SYMBOL is an interned string; lowered to
# STRING), and `to_str(ts, 'yyyy-MM-dd')` (Java-style pattern —
# date_format's own language). The rewrites are literal-aware; the
# oracle spells the same predicates in DuckDB's dialect
# (regexp_matches / strftime).

_Q190_SQL = (
    "SELECT CAST(event_type AS SYMBOL) AS etype, "
    "to_str(ts, 'yyyy-MM-dd') AS day, COUNT(*) AS n, "
    "ROUND(MIN(value), 4) AS vmin, ROUND(MAX(value), 4) AS vmax, "
    "CAST(MIN(strpos(props, ':')) AS LONG) AS colon_at "
    "FROM __q190_events "
    "WHERE event_type ~ '^(click|view)$' AND event_type !~ 'purch' "
    # Backslash regex class, QuestDB literal semantics (round 16: the
    # entry normalization owns the Spark-escape translation; without
    # it Spark's parser eats the backslash and this predicate matches
    # NOTHING — the oracle is a true literal-semantics differential).
    "AND props ~ ': \\d+}' "
    "GROUP BY etype, day"
)

_Q190_ORACLE = r"""
SELECT event_type AS etype,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       COUNT(*) AS n,
       ROUND(MIN(value), 4) AS vmin,
       ROUND(MAX(value), 4) AS vmax,
       CAST(MIN(strpos(props, ':')) AS BIGINT) AS colon_at
FROM events
WHERE regexp_matches(event_type, '^(click|view)$')
  AND NOT regexp_matches(event_type, 'purch')
  AND regexp_matches(props, ': \d+}')
GROUP BY 1, 2
ORDER BY etype, day
"""


@dq("q190_dialect_regex_symbol", oracle=_Q190_ORACLE, covers="F6,F5,A1,EXT")
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q190_events"
    )
    return questdb_sql(spark, _Q190_SQL).orderBy("etype", "day")


# ---------------------------------------------------------------------------
# q191 — CREATE TABLE AS with designated timestamp (round 13)
# ---------------------------------------------------------------------------
#
# QuestDB's table-creation idiom — `CREATE TABLE t AS (SELECT …)
# TIMESTAMP(ts) PARTITION BY DAY` — through questdb_ddl: the SELECT
# runs the full dialect (here a SAMPLE BY 1d rollup), the result lands
# via write_designated_ts (day-partitioned directories, time-sorted
# files), and the face reads the CREATED table back through
# register_designated_table — so the round trip (dialect plan → storage
# convention → registration → scan) is what the oracle checks, not
# just the SELECT. Exact aggregates only (count/min/max).

_Q191_SQL = (
    "CREATE TABLE __q191_daily AS ("
    "SELECT ts, count() AS n, min(value) AS vmin, max(value) AS vmax "
    "FROM __q191_events SAMPLE BY 1d ALIGN TO CALENDAR"
    ") TIMESTAMP(ts) PARTITION BY DAY"
)

_Q191_ORACLE = """
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ts,
       COUNT(*) AS n,
       ROUND(MIN(value), 4) AS vmin,
       ROUND(MAX(value), 4) AS vmax
FROM events
GROUP BY 1
ORDER BY ts
"""


@dq("q191_dialect_ctas", oracle=_Q191_ORACLE, covers="S6,A7,O3,EXT")
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q191_events"
    )
    work = tempfile.mkdtemp(prefix="q191_ctas_")
    try:
        path = f"{work}/daily"
        written = questdb_ddl(
            spark, _Q191_SQL, tables={"__q191_daily": path},
            designated={"__q191_events": "ts"},
        )
        assert written, "CTAS wrote no partitions"
        created = register_designated_table(spark, "__q191_daily", path)
        # Materialize before the workdir disappears: the caller (the
        # driver) collects the returned frame AFTER this function exits.
        rows = (
            created.select(
                "ts",
                "n",
                F.round("vmin", 4).alias("vmin"),
                F.round("vmax", 4).alias("vmax"),
            )
            .orderBy("ts")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "ts timestamp, n bigint, vmin double, vmax double"
    ).orderBy("ts")


# ---------------------------------------------------------------------------
# q193 — INSERT INTO … SELECT (designated append, round 13)
# ---------------------------------------------------------------------------
#
# The DML sibling of q191's CTAS: create a daily rollup from the first
# half of the month, append the second half with INSERT INTO … SELECT
# (write_designated_ts append mode — only the touched date partitions
# gain files; the designated column comes from the table's own
# layout), and read the UNION back through the registration path. The
# oracle recomputes both halves' rollups over the raw events — so what
# is checked is the append semantics (no lost originals, no double
# counting), not just each SELECT.

_Q193_ORACLE = """
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ts,
       COUNT(*) AS n,
       ROUND(MIN(value), 4) AS vmin,
       ROUND(MAX(value), 4) AS vmax
FROM events
GROUP BY 1
ORDER BY ts
"""


@dq("q193_dialect_insert_into", oracle=_Q193_ORACLE, covers="S6,A7,O3,EXT")
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q193_events"
    )
    rollup = (
        "SELECT ts, count() AS n, min(value) AS vmin, max(value) AS vmax "
        "FROM __q193_events WHERE ts {half} TIMESTAMP '2024-01-16 00:00:00' "
        "SAMPLE BY 1d ALIGN TO CALENDAR"
    )
    work = tempfile.mkdtemp(prefix="q193_insert_")
    try:
        path = f"{work}/daily"
        tables = {"__q193_daily": path}
        questdb_ddl(
            spark,
            f"CREATE TABLE __q193_daily AS ({rollup.format(half='<')}) "
            "TIMESTAMP(ts) PARTITION BY DAY",
            tables=tables, designated={"__q193_events": "ts"},
        )
        questdb_ddl(
            spark,
            f"INSERT INTO __q193_daily {rollup.format(half='>=')}",
            tables=tables, designated={"__q193_events": "ts"},
        )
        created = register_designated_table(spark, "__q193_daily", path)
        rows = (
            created.select(
                "ts",
                "n",
                F.round("vmin", 4).alias("vmin"),
                F.round("vmax", 4).alias("vmax"),
            )
            .orderBy("ts")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "ts timestamp, n bigint, vmin double, vmax double"
    ).orderBy("ts")


# ---------------------------------------------------------------------------
# q194 — the reference's own SQL text, replayed verbatim (round 14)
# ---------------------------------------------------------------------------
#
# The drop-in-dialect gate: a user porting the reference runs its one
# .sql file FIRST. This query replays the reference's statements
# end-to-end through questdb_ddl:
#
#   1. reference sql/create-table.sql:1, VERBATIM — bare column-list
#      `CREATE TABLE purchases(buyer STRING, …) timestamp(purchase_date)`
#      → declared-schema sidecar (the empty table's catalog).
#   2. reference cloud_function.py:84-88's DML shape — `INSERT INTO
#      purchases(…) VALUES(…)` with the inline
#      `to_timestamp(:purchase_date, 'yyyy-MM-ddTHH:mm:ss')` (bind
#      params bound to literals, exactly what reaches the engine; the
#      scalar rewriter quotes the bare T for Spark's formatter). One
#      single-tuple statement and one multi-tuple statement.
#   3. the ETL append — anonymize-then-append (cloud_function.py's
#      process_record → write_to_db flow) as INSERT INTO … SELECT with
#      a sha-256 buyer (sha-1 parity itself is q02's CPython-golden
#      surface; DuckDB ships no sha1, and the oracle must run the same
#      hash).
#
# The read-back (registration → scan) is what the oracle checks: no
# lost rows, no double-typed columns, NULL fill on the partial column
# list, declared INT types surviving the append path.

_Q194_CREATE = (  # /root/reference/sql/create-table.sql:1 VERBATIM
    "CREATE TABLE purchases(buyer STRING, item_id INT, quantity INT, "
    "price INT, purchase_date TIMESTAMP) timestamp(purchase_date);"
)

_Q194_INSERT_ONE = (
    "INSERT INTO purchases(buyer, item_id, quantity, price, purchase_date) "
    "VALUES('carol', 11, 2, 30, "
    "to_timestamp('2022-03-04T10:11:12', 'yyyy-MM-ddTHH:mm:ss'));"
)

_Q194_INSERT_MANY = (
    "INSERT INTO purchases(buyer, item_id, quantity, price, purchase_date) "
    "VALUES"
    "('dave', 12, 1, 45, "
    "to_timestamp('2022-03-05T01:02:03', 'yyyy-MM-ddTHH:mm:ss')), "
    "('erin', 13, 3, 20, "
    "to_timestamp('2022-03-05T04:05:06', 'yyyy-MM-ddTHH:mm:ss'))"
)

_Q194_ETL_APPEND = (
    "INSERT INTO purchases(buyer, item_id, quantity, price, purchase_date) "
    "SELECT sha2(o_orderpriority, 256), CAST(o_custkey % 1000 AS INT), "
    "CAST(o_orderkey % 50 + 1 AS INT), "
    "CAST(FLOOR(o_totalprice) AS INT), CAST(o_orderdate AS TIMESTAMP) "
    "FROM __q194_orders WHERE o_orderkey % 7 = 0"
)

_Q194_ORACLE = """
SELECT buyer, item_id, quantity, price, purchase_date FROM (
  SELECT * FROM (VALUES
    ('carol', 11, 2, 30, TIMESTAMP '2022-03-04 10:11:12'),
    ('dave', 12, 1, 45, TIMESTAMP '2022-03-05 01:02:03'),
    ('erin', 13, 3, 20, TIMESTAMP '2022-03-05 04:05:06')
  ) AS v(buyer, item_id, quantity, price, purchase_date)
  UNION ALL
  SELECT sha256(o_orderpriority),
         CAST(o_custkey % 1000 AS INTEGER),
         CAST(o_orderkey % 50 + 1 AS INTEGER),
         CAST(FLOOR(o_totalprice) AS INTEGER),
         CAST(o_orderdate AS TIMESTAMP)
  FROM orders WHERE o_orderkey % 7 = 0
)
ORDER BY purchase_date, buyer, item_id
"""


@dq("q194_reference_sql_replay", oracle=_Q194_ORACLE, covers="S6,F4,O3,EXT")
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__q194_orders"
    )
    work = tempfile.mkdtemp(prefix="q194_refsql_")
    try:
        tables = {"purchases": f"{work}/purchases"}
        assert questdb_ddl(spark, _Q194_CREATE, tables) == []
        questdb_ddl(spark, _Q194_INSERT_ONE, tables)
        questdb_ddl(spark, _Q194_INSERT_MANY, tables)
        questdb_ddl(spark, _Q194_ETL_APPEND, tables)
        created = register_designated_table(
            spark, "purchases", tables["purchases"]
        )
        rows = (
            created.select(
                "buyer", "item_id", "quantity", "price", "purchase_date"
            )
            .orderBy("purchase_date", "buyer", "item_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "buyer string, item_id int, quantity int, price int, "
        "purchase_date timestamp",
    ).orderBy("purchase_date", "buyer", "item_id")


# ---------------------------------------------------------------------------
# q195 — table lifecycle: TRUNCATE, ALTER ADD COLUMN, DROP (round 14)
# ---------------------------------------------------------------------------
#
# The catalog statements that complete q194's CREATE/INSERT story —
# QuestDB's table lifecycle run end-to-end through questdb_ddl:
#
#   CREATE (declared schema) → INSERT → TRUNCATE (data gone, schema
#   kept — the sidecar is the catalog) → INSERT fresh rows → ALTER
#   TABLE ADD COLUMN (declared schema widens; pre-ALTER rows read back
#   NULL in the new column) → INSERT with the new column → read back.
#
# A second scratch table is DROPped and must vanish from SHOW TABLES
# while the survivor stays listed — asserted in-face (the returned
# frame is the lifecycle table's final contents; every value is a
# constant, so the oracle is a pure VALUES relation and valid at any
# sf).

_Q195_ORACLE = """
SELECT * FROM (VALUES
  ('after-truncate', 1, TIMESTAMP '2024-05-01 08:00:00',
   CAST(NULL AS DOUBLE)),
  ('widened',        2, TIMESTAMP '2024-05-02 09:30:00',
   CAST(7.5 AS DOUBLE))
) AS t(a, n, ts, extra)
ORDER BY ts
"""


@dq("q195_table_lifecycle", oracle=_Q195_ORACLE, covers="S6,O3,EXT")
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    work = tempfile.mkdtemp(prefix="q195_lifecycle_")
    try:
        tables = {"t": f"{work}/t", "scratch": f"{work}/scratch"}
        ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
        ddl("CREATE TABLE t(a STRING, n INT, ts TIMESTAMP) TIMESTAMP(ts)")
        ddl("CREATE TABLE scratch(x INT, ts TIMESTAMP) TIMESTAMP(ts)")
        ddl(
            "INSERT INTO t(a, n, ts) VALUES"
            "('doomed', 0, TIMESTAMP '2024-04-01 00:00:00')"
        )
        ddl("TRUNCATE TABLE t")
        ddl(
            "INSERT INTO t(a, n, ts) VALUES"
            "('after-truncate', 1, TIMESTAMP '2024-05-01 08:00:00')"
        )
        ddl("ALTER TABLE t ADD COLUMN extra DOUBLE")
        ddl(
            "INSERT INTO t(a, n, ts, extra) VALUES"
            "('widened', 2, TIMESTAMP '2024-05-02 09:30:00', 7.5)"
        )
        ddl("DROP TABLE scratch")
        listed = {
            r.table_name
            for r in questdb_show(spark, "SHOW TABLES", tables).collect()
        }
        assert listed == {"t"}, f"catalog after DROP: {listed}"
        rows = (
            register_designated_table(spark, "t", tables["t"])
            .select("a", "n", "ts", "extra")
            .orderBy("ts")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "a string, n int, ts timestamp, extra double"
    ).orderBy("ts")


# ---------------------------------------------------------------------------
# q196 — declared DEDUP UPSERT KEYS honored by dialect INSERTs (round 14)
# ---------------------------------------------------------------------------
#
# QuestDB's WAL-table dedup declaration — `CREATE TABLE … TIMESTAMP(ts)
# PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, sym)` — wired through the
# declared-schema sidecar: every dialect INSERT (VALUES and SELECT
# alike) routes through upsert_designated_ts, so rows matching an
# existing (ts, sym) REPLACE it (partition-scoped merge — only touched
# date partitions rewrite), within-batch duplicates resolve
# content-deterministically (max over the value struct), and the WAL
# keyword itself is tolerated as the storage detail it is. The replay:
#
#   INSERT #1 seeds A@T1, B@T1, A@T2
#   INSERT #2 re-states A@T1 with new values (replaced, not appended)
#             and adds C@T2
#   INSERT #3 carries a within-batch duplicate D@T3 (max-struct winner)
#   INSERT #4 is an INSERT … SELECT re-stating B@T1 (replaced through
#             the same routing)
#
# Every final value is a constant → pure-VALUES oracle, valid at any sf.

_Q196_ORACLE = """
SELECT * FROM (VALUES
  ('A', CAST(9.0 AS DOUBLE), 90, TIMESTAMP '2024-06-01 10:00:00'),
  ('B', CAST(7.0 AS DOUBLE), 70, TIMESTAMP '2024-06-01 10:00:00'),
  ('A', CAST(0.5 AS DOUBLE), 5,  TIMESTAMP '2024-06-02 11:00:00'),
  ('C', CAST(3.0 AS DOUBLE), 30, TIMESTAMP '2024-06-02 11:00:00'),
  ('D', CAST(4.5 AS DOUBLE), 45, TIMESTAMP '2024-06-03 12:00:00')
) AS t(sym, price, qty, ts)
ORDER BY ts, sym
"""


@dq("q196_dedup_upsert_declared", oracle=_Q196_ORACLE, covers="S6,O3,EXT")
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    work = tempfile.mkdtemp(prefix="q196_dedup_")
    try:
        tables = {"trades": f"{work}/trades"}
        ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
        ddl(
            "CREATE TABLE trades(sym SYMBOL, price DOUBLE, qty INT, "
            "ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY WAL "
            "DEDUP UPSERT KEYS(ts, sym)"
        )
        t1, t2, t3 = (
            "TIMESTAMP '2024-06-01 10:00:00'",
            "TIMESTAMP '2024-06-02 11:00:00'",
            "TIMESTAMP '2024-06-03 12:00:00'",
        )
        ddl(
            "INSERT INTO trades(sym, price, qty, ts) VALUES"
            f"('A', 1.0, 10, {t1}), ('B', 2.0, 20, {t1}), "
            f"('A', 0.5, 5, {t2})"
        )
        ddl(
            "INSERT INTO trades(sym, price, qty, ts) VALUES"
            f"('A', 9.0, 90, {t1}), ('C', 3.0, 30, {t2})"
        )
        ddl(
            "INSERT INTO trades(sym, price, qty, ts) VALUES"
            f"('D', 4.0, 40, {t3}), ('D', 4.5, 45, {t3})"
        )
        spark.sql(
            "SELECT 'B' AS sym, CAST(7.0 AS DOUBLE) AS price, "
            "70 AS qty, TIMESTAMP '2024-06-01 10:00:00' AS ts"
        ).createOrReplaceTempView("__q196_restate")
        ddl(
            "INSERT INTO trades(sym, price, qty, ts) "
            "SELECT sym, price, qty, ts FROM __q196_restate"
        )
        rows = (
            register_designated_table(spark, "trades", tables["trades"])
            .select("sym", "price", "qty", "ts")
            .orderBy("ts", "sym")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "sym string, price double, qty int, ts timestamp"
    ).orderBy("ts", "sym")


# ---------------------------------------------------------------------------
# q197 — catalog alterations: DROP COLUMN, DEDUP ENABLE/DISABLE (round 14)
# ---------------------------------------------------------------------------
#
# The remaining ALTER statements a QuestDB operator runs on a live
# table, replayed end-to-end: DEDUP ENABLE turns subsequent INSERTs
# into replacing upserts (no retro-dedup of what's already stored),
# DEDUP DISABLE reverts to plain appends (a re-stated key then lands
# as a SECOND row), and DROP COLUMN narrows the declaration without a
# data rewrite (explicit-schema reads simply stop selecting it; later
# INSERTs align to the narrowed shape). Constants oracle.

_Q197_ORACLE = """
SELECT * FROM (VALUES
  ('a', 9,  TIMESTAMP '2024-07-01 08:00:00'),
  ('a', 5,  TIMESTAMP '2024-07-02 09:00:00'),
  ('a', 6,  TIMESTAMP '2024-07-02 09:00:00'),
  ('b', 4,  TIMESTAMP '2024-07-03 10:00:00')
) AS t(sym, v, ts)
ORDER BY ts, sym, v
"""


@dq("q197_catalog_alterations", oracle=_Q197_ORACLE, covers="S6,O3,EXT")
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    work = tempfile.mkdtemp(prefix="q197_alter_")
    try:
        tables = {"t": f"{work}/t"}
        ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
        ddl(
            "CREATE TABLE t(sym SYMBOL, v INT, note STRING, ts TIMESTAMP) "
            "TIMESTAMP(ts)"
        )
        # Plain table: a re-stated key appends.
        ddl(
            "INSERT INTO t(sym, v, note, ts) VALUES"
            "('a', 1, 'x', TIMESTAMP '2024-07-01 08:00:00')"
        )
        # Enable dedup: the next insert REPLACES a@07-01.
        ddl("ALTER TABLE t DEDUP ENABLE UPSERT KEYS(ts, sym)")
        ddl(
            "INSERT INTO t(sym, v, note, ts) VALUES"
            "('a', 9, 'y', TIMESTAMP '2024-07-01 08:00:00'),"
            "('a', 5, 'z', TIMESTAMP '2024-07-02 09:00:00')"
        )
        # Disable: the same key now lands as a SECOND row.
        ddl("ALTER TABLE t DEDUP DISABLE")
        ddl(
            "INSERT INTO t(sym, v, note, ts) VALUES"
            "('a', 6, 'w', TIMESTAMP '2024-07-02 09:00:00')"
        )
        # Narrow the declaration; later inserts align to it.
        ddl("ALTER TABLE t DROP COLUMN note")
        ddl(
            "INSERT INTO t(sym, v, ts) VALUES"
            "('b', 4, TIMESTAMP '2024-07-03 10:00:00')"
        )
        reg = register_designated_table(spark, "t", tables["t"])
        assert "note" not in reg.columns
        rows = (
            reg.select("sym", "v", "ts").orderBy("ts", "sym", "v").collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "sym string, v int, ts timestamp"
    ).orderBy("ts", "sym", "v")


# ---------------------------------------------------------------------------
# q198 — UPDATE DML: partition-scoped conditional rewrite (round 14)
# ---------------------------------------------------------------------------
#
# QuestDB's third DML statement (after INSERT VALUES/SELECT): `UPDATE t
# SET col = expr, … WHERE pred`, run end-to-end through questdb_ddl
# over REAL data — a CTAS slice of the events table updated in place.
# The lowering (plans/designated.update_designated_ts) is the upsert's
# scale shape: one narrow pass finds the date partitions holding
# matching rows, ONLY those are read in full and dynamically
# overwritten; at 100 TB an UPDATE over one bad day moves one day of
# data. Assignments evaluate against the OLD row (standard UPDATE
# semantics — the oracle's CASE WHEN restates them independently), a
# NULL predicate row is untouched, and the arithmetic (value*2+1,
# exact IEEE ops) is bit-identical cross-engine without the decimal
# protocol.

_Q198_ORACLE = """
SELECT event_id, user_id,
       CASE WHEN event_type = 'click' AND value > 50
            THEN upper(event_type) ELSE event_type END AS event_type,
       CASE WHEN event_type = 'click' AND value > 50
            THEN value * 2 + 1 ELSE value END AS value,
       ts
FROM events
WHERE event_id % 7 = 0
ORDER BY event_id
"""


@dq("q198_update_dml", oracle=_Q198_ORACLE, covers="S6,O3,EXT")
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q198_events"
    )
    work = tempfile.mkdtemp(prefix="q198_update_")
    try:
        tables = {"ev": f"{work}/ev"}
        questdb_ddl(
            spark,
            "CREATE TABLE ev AS (SELECT event_id, user_id, event_type, "
            "value, ts FROM __q198_events WHERE event_id % 7 = 0) "
            "TIMESTAMP(ts)",
            tables,
        )
        questdb_ddl(
            spark,
            "UPDATE ev SET event_type = to_uppercase(event_type), "
            "value = value * 2 + 1 "
            "WHERE event_type = 'click' AND value > 50",
            tables,
        )
        rows = (
            register_designated_table(spark, "ev", tables["ev"])
            .select("event_id", "user_id", "event_type", "value", "ts")
            .orderBy("event_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, "
        "ts timestamp",
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q199 — partition lifecycle: RENAME COLUMN + DETACH/ATTACH (round 14)
# ---------------------------------------------------------------------------
#
# The remaining zero-data-movement catalog operations, over real data:
# RENAME COLUMN is a declaration-level move (the sidecar records the
# stored physical name; files are never rewritten — QuestDB renames in
# table metadata), DETACH PARTITION parks whole date directories under
# the hidden .detached/ subdir (invisible to every read), ATTACH moves
# them back. The replay detaches the two earliest partitions and
# re-attaches the first, so exactly the SECOND-earliest date is absent
# from the result — the oracle computes that date independently with a
# windowless DISTINCT/ORDER BY/OFFSET subquery.

_Q199_ORACLE = """
SELECT event_id, user_id, value AS amount, ts
FROM events
WHERE event_id % 5 = 0
  AND CAST(ts AS DATE) <> (
        SELECT CAST(ts AS DATE) AS d FROM events
        WHERE event_id % 5 = 0
        GROUP BY d ORDER BY d LIMIT 1 OFFSET 1)
ORDER BY event_id
"""


@dq("q199_partition_lifecycle", oracle=_Q199_ORACLE, covers="S6,O3,EXT")
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        list_partitions,
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q199_events"
    )
    work = tempfile.mkdtemp(prefix="q199_lifecycle_")
    try:
        tables = {"ev": f"{work}/ev"}
        questdb_ddl(
            spark,
            "CREATE TABLE ev AS (SELECT event_id, user_id, value, ts "
            "FROM __q199_events WHERE event_id % 5 = 0) TIMESTAMP(ts)",
            tables,
        )
        questdb_ddl(
            spark, "ALTER TABLE ev RENAME COLUMN value TO amount", tables
        )
        d1, d2 = list_partitions(spark, tables["ev"], "ts")[:2]
        questdb_ddl(
            spark,
            f"ALTER TABLE ev DETACH PARTITION LIST '{d1}', '{d2}'",
            tables,
        )
        questdb_ddl(
            spark, f"ALTER TABLE ev ATTACH PARTITION LIST '{d1}'", tables
        )
        rows = (
            register_designated_table(spark, "ev", tables["ev"])
            .select("event_id", "user_id", "amount", "ts")
            .orderBy("event_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id long, user_id long, amount double, ts timestamp"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q200 — QuestDB string/rounding scalar spellings (round 14)
# ---------------------------------------------------------------------------
#
# The scalar functions QuestDB spells differently from Spark, run
# through the dialect front-end over the documents table: strpos →
# instr (DuckDB's native strpos is a genuinely independent oracle),
# to_uppercase/to_lowercase → upper/lower (native both sides),
# round_half_even → bround vs DuckDB's native round_even, and
# round_down/round_up (toward/away from zero at a decimal scale) as
# sign-aware power-of-10 folds — both engines evaluate the identical
# IEEE expression, bit-identical by construction. n_chars/10 lands on
# exact .5 fractions for trailing-5 counts, so the banker's-rounding
# tie path is genuinely exercised.

_Q200_SQL = """
SELECT doc_id,
       CAST(strpos(text, 'data') AS LONG) AS pos_data,
       to_uppercase(lang) AS lang_uc,
       to_lowercase(source) AS source_lc,
       round_down(n_chars / 100.0, 1) AS c_down,
       round_up(n_chars / 100.0, 1) AS c_up,
       round_half_even(n_chars / 10.0, 0) AS c_even,
       CAST(text ~ '\\bdata\\b' AS INT) AS has_data_word,
       CAST(length(regexp_replace(text, '\\s+', '')) AS LONG) AS n_nospace
FROM __q200_documents
WHERE doc_id % 11 = 0
"""
# has_data_word / n_nospace (round 16): backslash classes (\b, \s)
# written with QUESTDB literal semantics and mixed with strpos in one
# query — the normalized-literal space the round-15 verdict flagged.
# Java regex (Spark) and RE2 (DuckDB) agree on \b and \s over ASCII.

_Q200_ORACLE = r"""
SELECT doc_id,
       strpos(text, 'data') AS pos_data,
       upper(lang) AS lang_uc,
       lower(source) AS source_lc,
       (sign(n_chars / 100.0) * floor(abs(n_chars / 100.0) * pow(10, 1))
        / pow(10, 1)) AS c_down,
       (sign(n_chars / 100.0) * ceil(abs(n_chars / 100.0) * pow(10, 1))
        / pow(10, 1)) AS c_up,
       round_even(n_chars / 10.0, 0) AS c_even,
       CAST(regexp_matches(text, '\bdata\b') AS INT) AS has_data_word,
       CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
         AS n_nospace
FROM documents
WHERE doc_id % 11 = 0
ORDER BY doc_id
"""


@dq("q200_string_rounding_scalars", oracle=_Q200_ORACLE, covers="F6,F7,EXT")
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__q200_documents"
    )
    return questdb_sql(spark, _Q200_SQL).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q201 — VACUUM TABLE: in-place small-file compaction (round 14)
# ---------------------------------------------------------------------------
#
# The hourly-append model leaves one file per micro-batch per day — at
# 100 TB the classic small-files problem (scan parallelism collapses
# into file-open overhead). QuestDB's `VACUUM TABLE` reclaims
# superseded column versions; this engine's equivalent storage debt is
# those micro-files, so the statement lowers to an in-place compaction
# (temp-sibling write + two renames, declared-schema-aware): one
# time-sorted file per partition directory afterwards — asserted
# in-face — with contents byte-identical to the pre-vacuum table. The
# oracle recomputes the expected contents (two CTAS/append slices of
# events) independently.

_Q201_ORACLE = """
SELECT event_id, user_id, value, ts
FROM events
WHERE event_id % 9 IN (0, 3)
ORDER BY event_id
"""


@dq("q201_vacuum_compaction", oracle=_Q201_ORACLE, covers="S6,O3,EXT")
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q201_events"
    )
    work = tempfile.mkdtemp(prefix="q201_vacuum_")
    try:
        tables = {"ev": f"{work}/ev"}
        questdb_ddl(
            spark,
            "CREATE TABLE ev AS (SELECT event_id, user_id, value, ts "
            "FROM __q201_events WHERE event_id % 9 = 0) TIMESTAMP(ts)",
            tables,
        )
        questdb_ddl(
            spark,
            "INSERT INTO ev SELECT event_id, user_id, value, ts "
            "FROM __q201_events WHERE event_id % 9 = 3",
            tables,
        )
        questdb_ddl(spark, "VACUUM TABLE ev", tables)
        dirs = glob.glob(f"{work}/ev/ts_pdate=*")
        assert dirs, "vacuum left no partitions"
        for d in dirs:
            n = len(glob.glob(f"{d}/*.parquet"))
            assert n == 1, f"{d} holds {n} files after VACUUM"
        rows = (
            register_designated_table(spark, "ev", tables["ev"])
            .select("event_id", "user_id", "value", "ts")
            .orderBy("event_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id long, user_id long, value double, ts timestamp"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q202 — negative LIMIT range: python-style tail slice (round 14)
# ---------------------------------------------------------------------------
#
# QuestDB's `LIMIT -120, -20` slices rows[-120:-20] of the result order
# — the "everything but the newest N" monitoring idiom. The lowering
# does bounded work: the tail take is a reversed TakeOrdered of |lo|
# rows (per-partition heap, no full sort), and the drop-last-|hi| step
# runs on that tail-sized frame. The oracle expresses the same slice as
# DESC LIMIT/OFFSET + re-sort — an independent formulation.

_Q202_SQL = """
SELECT event_id, ts FROM __q202_events
WHERE event_id % 3 = 0
ORDER BY ts, event_id
LIMIT -120, -20
"""

_Q202_ORACLE = """
SELECT event_id, ts FROM (
    SELECT event_id, ts FROM events
    WHERE event_id % 3 = 0
    ORDER BY ts DESC, event_id DESC
    LIMIT 100 OFFSET 20
)
ORDER BY event_id
"""


@dq("q202_limit_negative_range", oracle=_Q202_ORACLE, covers="O2,EXT")
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q202_events"
    )
    return questdb_sql(spark, _Q202_SQL).orderBy("event_id")


# ---------------------------------------------------------------------------
# q203 — UPDATE … FROM: the join-update DML (round 14)
# ---------------------------------------------------------------------------
#
# QuestDB's fourth DML shape — `UPDATE t SET col = expr FROM src WHERE
# join-pred` — over real data: a CTAS slice of events gets a per-user
# correction joined in from an aggregate view (one row per user_id, so
# the ambiguity guard stays quiet). Partition-scoped like q198: only
# date partitions holding matched rows rewrite; unmatched rows are
# untouched (the oracle's LEFT JOIN + CASE WHEN restates that
# independently). value + n is double + exact-integer — bit-identical
# cross-engine without the decimal protocol.

_Q203_ORACLE = """
SELECT e.event_id, e.user_id,
       CASE WHEN f.user_id IS NOT NULL THEN e.value + f.n
            ELSE e.value END AS value,
       e.ts
FROM (SELECT event_id, user_id, value, ts FROM events
      WHERE event_id % 13 = 0) e
LEFT JOIN (SELECT user_id, CAST(count(*) AS DOUBLE) AS n FROM events
           WHERE event_id % 13 = 1 GROUP BY user_id) f
       ON e.user_id = f.user_id
ORDER BY e.event_id
"""


@dq("q203_update_from_join", oracle=_Q203_ORACLE, covers="S6,J3,O3,EXT")
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q203_events"
    )
    spark.sql(
        "SELECT user_id, CAST(count(*) AS DOUBLE) AS n "
        "FROM __q203_events WHERE event_id % 13 = 1 GROUP BY user_id"
    ).createOrReplaceTempView("__q203_factors")
    work = tempfile.mkdtemp(prefix="q203_updfrom_")
    try:
        tables = {"ev": f"{work}/ev"}
        questdb_ddl(
            spark,
            "CREATE TABLE ev AS (SELECT event_id, user_id, value, ts "
            "FROM __q203_events WHERE event_id % 13 = 0) TIMESTAMP(ts)",
            tables,
        )
        questdb_ddl(
            spark,
            "UPDATE ev e SET value = e.value + f.n FROM __q203_factors f "
            "WHERE e.user_id = f.user_id",
            tables,
        )
        rows = (
            register_designated_table(spark, "ev", tables["ev"])
            .select("event_id", "user_id", "value", "ts")
            .orderBy("event_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id long, user_id long, value double, ts timestamp"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q204 — COPY FROM: bulk CSV import through the declared schema (round 14)
# ---------------------------------------------------------------------------
#
# QuestDB's bulk-ingest statement, exercised over real data: an events
# slice is serialized to a headered CSV (shortest-repr doubles and
# microsecond timestamps round-trip IEEE/µs-exactly), COPY'd into a
# bare-declared table with the reference's bare-T timestamp pattern,
# and read back through the designated layout. The import lands via
# the same insert path as every DML — so a DEDUP declaration would
# dedup it — and the oracle recomputes the slice relationally from the
# same parquet, proving the CSV hop lost nothing.

_Q204_ORACLE = """
SELECT event_id, event_type, value, ts
FROM events
WHERE event_id % 17 = 0
ORDER BY event_id
"""


@dq("q204_copy_from_csv", oracle=_Q204_ORACLE, covers="S2,S6,O3,EXT")
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 17 == 0)
        .select("event_id", "event_type", "value", "ts")
        .collect()
    )
    work = tempfile.mkdtemp(prefix="q204_copy_")
    try:
        csv_path = f"{work}/events_slice.csv"
        with open(csv_path, "w") as fh:
            fh.write("event_id,event_type,value,ts\n")
            for r in src:
                val = (
                    ""
                    if r.value is None
                    or (isinstance(r.value, float) and math.isnan(r.value))
                    else repr(float(r.value))
                )
                et = "" if r.event_type is None else r.event_type
                fh.write(
                    f"{r.event_id},{et},{val},"
                    f"{r.ts:%Y-%m-%dT%H:%M:%S.%f}\n"
                )
        tables = {"imported": f"{work}/imported"}
        questdb_ddl(
            spark,
            "CREATE TABLE imported(event_id LONG, event_type STRING, "
            "value DOUBLE, ts TIMESTAMP) TIMESTAMP(ts)",
            tables,
        )
        questdb_ddl(
            spark,
            f"COPY imported FROM '{csv_path}' WITH HEADER true "
            "FORMAT 'yyyy-MM-ddTHH:mm:ss.SSSSSS'",
            tables,
        )
        rows = (
            register_designated_table(spark, "imported", tables["imported"])
            .select("event_id", "event_type", "value", "ts")
            .orderBy("event_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id long, event_type string, value double, ts timestamp"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q205 — SHOW CREATE TABLE: the catalog's round-trip face (round 14)
# ---------------------------------------------------------------------------
#
# QuestDB's SHOW CREATE TABLE reconstructs a re-runnable declaration
# from table metadata. Here the catalog is the declared-schema sidecar,
# so the face replays a full lifecycle — CREATE with a DEDUP
# declaration, RENAME COLUMN (declared name surfaces, stored physical
# name stays a storage detail), ADD COLUMN — and returns the one-row
# DDL, which the in-face assertion also re-runs through questdb_ddl to
# prove it is not just a string. Constants oracle, valid at any sf.

_Q205_ORACLE = """
SELECT CAST('CREATE TABLE trades (sym SYMBOL, price DOUBLE, volume INT, '
         || 'ts TIMESTAMP, venue STRING) TIMESTAMP(ts) PARTITION BY DAY '
         || 'WAL DEDUP UPSERT KEYS(ts, sym)' AS VARCHAR) AS ddl
"""


@dq("q205_show_create_table", oracle=_Q205_ORACLE, covers="S6,EXT")
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.sql import questdb_ddl
    from questdb_etl_jobs_spark.sql.dialect import questdb_show

    work = tempfile.mkdtemp(prefix="q205_showcreate_")
    try:
        tables = {"trades": f"{work}/trades", "again": f"{work}/again"}
        ddl = lambda s: questdb_ddl(spark, s, tables)  # noqa: E731
        ddl(
            "CREATE TABLE trades(sym SYMBOL, price DOUBLE, qty INT, "
            "ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY WAL "
            "DEDUP UPSERT KEYS(ts, sym)"
        )
        ddl("ALTER TABLE trades RENAME COLUMN qty TO volume")
        ddl("ALTER TABLE trades ADD COLUMN venue STRING")
        row = questdb_show(
            spark, "SHOW CREATE TABLE trades", tables
        ).collect()
        assert len(row) == 1
        # Re-runnable, not just printable.
        ddl(row[0].ddl.replace("trades", "again", 1))
        cols = questdb_show(
            spark, "SHOW COLUMNS FROM again", tables
        ).collect()
        assert [c.column_name for c in cols] == [
            "sym", "price", "volume", "ts", "venue"
        ]
        out = [(row[0].ddl,)]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(out, "ddl string")


# ---------------------------------------------------------------------------
# q206 — ALTER COLUMN TYPE: the retype rewrite (round 14)
# ---------------------------------------------------------------------------
#
# QuestDB's column retype over real data: a CTAS slice of events gets
# its INT-ish value column widened to DOUBLE after a narrowing CAST at
# creation — the rewrite casts every partition's files (vacuum-style
# swap, so the parquet physical type matches the new declaration) and
# the oracle restates the same two-step cast relationally. The
# narrowing CREATE cast (DOUBLE→LONG) then widening retype (LONG→
# DOUBLE) produces values that only match when the oracle restates
# Spark's TRUNCATING double→long cast explicitly — DuckDB's own
# double→BIGINT cast ROUNDS, so the oracle spells floor (equal to
# truncation on the filtered non-negative values); the differential
# caught exactly this divergence before the oracle stated it.

_Q206_ORACLE = """
SELECT event_id,
       CAST(FLOOR(value) AS DOUBLE) AS value,
       ts
FROM events
WHERE event_id % 19 = 0 AND value IS NOT NULL AND value >= 0
ORDER BY event_id
"""


@dq("q206_alter_column_type", oracle=_Q206_ORACLE, covers="S6,O3,EXT")
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q206_events"
    )
    work = tempfile.mkdtemp(prefix="q206_retype_")
    try:
        tables = {"ev": f"{work}/ev"}
        questdb_ddl(
            spark,
            "CREATE TABLE ev AS (SELECT event_id, "
            "CAST(value AS LONG) AS value, ts FROM __q206_events "
            "WHERE event_id % 19 = 0 AND value IS NOT NULL "
            "AND value >= 0) TIMESTAMP(ts)",
            tables,
        )
        questdb_ddl(
            spark, "ALTER TABLE ev ALTER COLUMN value TYPE DOUBLE",
            tables,
        )
        reg = register_designated_table(spark, "ev", tables["ev"])
        assert dict(reg.dtypes)["value"] == "double"
        rows = (
            reg.select("event_id", "value", "ts")
            .orderBy("event_id")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id long, value double, ts timestamp"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q207 — COPY FROM … ON ERROR SKIP_ROW: quarantined bulk import (round 15)
# ---------------------------------------------------------------------------
#
# QuestDB's COPY supports skip-row error semantics; this engine lowers
# it onto its quarantine discipline (pipeline.split_quarantine,
# reference cloud_function.py:91-95 log-and-continue): good rows land
# through the shared insert path, offending rows park as their ORIGINAL
# strings plus a per-column reject_reason in the <path>.__rejects side
# relation. Exercised over real data with deterministic corruption: an
# events slice (event_id % 23 = 0) is serialized to CSV with every
# %115 row's value field and every %161 row's timestamp field made
# unparsable. The face returns the landed good rows plus the
# side-relation count, so the ORACLE verifies both the good-row set and
# the quarantine size; the in-face assertions pin the reject reasons.

_Q207_ORACLE = """
SELECT e.event_id, e.value, e.ts,
       (SELECT count(*) FROM events x
         WHERE x.event_id % 23 = 0
           AND (x.event_id % 115 = 0 OR x.event_id % 161 = 0)
       ) AS n_rejects
FROM events e
WHERE e.event_id % 23 = 0
  AND e.event_id % 115 <> 0
  AND e.event_id % 161 <> 0
ORDER BY e.event_id
"""


@dq("q207_copy_skip_row", oracle=_Q207_ORACLE, covers="S2,S6,O3,EXT")
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        register_designated_table,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 23 == 0)
        .select("event_id", "value", "ts")
        .collect()
    )
    work = tempfile.mkdtemp(prefix="q207_copy_skip_")
    try:
        csv_path = f"{work}/events_dirty.csv"
        with open(csv_path, "w") as fh:
            fh.write("event_id,value,ts\n")
            for r in src:
                val = (
                    "#BAD#" if r.event_id % 115 == 0 else repr(float(r.value))
                )
                ts = (
                    "not-a-time"
                    if r.event_id % 161 == 0
                    else f"{r.ts:%Y-%m-%dT%H:%M:%S.%f}"
                )
                fh.write(f"{r.event_id},{val},{ts}\n")
        tables = {"landed": f"{work}/landed"}
        questdb_ddl(
            spark,
            "CREATE TABLE landed(event_id LONG, value DOUBLE, "
            "ts TIMESTAMP) TIMESTAMP(ts)",
            tables,
        )
        questdb_ddl(
            spark,
            f"COPY landed FROM '{csv_path}' WITH HEADER true "
            "FORMAT 'yyyy-MM-ddTHH:mm:ss.SSSSSS' ON ERROR SKIP_ROW",
            tables,
        )
        rejects = spark.read.parquet(tables["landed"] + ".__rejects")
        parked = rejects.collect()
        # Every parked row keeps its raw strings and names the refusing
        # column(s); rows corrupted on both fields name both.
        for r in parked:
            eid = int(r.event_id)
            want = []
            if eid % 115 == 0:
                want.append("value: null/unparsable")
            if eid % 161 == 0:
                want.append("ts: null/unparsable")
            assert r.reject_reason == ";".join(want), (eid, r.reject_reason)
        n_rejects = len(parked)
        rows = [
            (r.event_id, r.value, r.ts, n_rejects)
            for r in register_designated_table(
                spark, "landed", tables["landed"]
            )
            .select("event_id", "value", "ts")
            .orderBy("event_id")
            .collect()
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_id long, value double, ts timestamp, n_rejects long",
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q208 — merge-on-read UPDATE face: delta write + merged read (round 15)
# ---------------------------------------------------------------------------
#
# The deletion-vector answer to dq198's copy-on-write day rewrite
# (VERDICT r14 task #2): UPDATE writes ONLY the matched rows into a
# hidden .updates/ sidecar keyed by the file-source row identity; reads
# resolve through the deltas (stale base rows masked by a broadcast
# anti-join scoped to delta-bearing partitions); VACUUM folds. The face
# is exercised end to end over real data — two stacked updates (the
# second supersedes a subset of the first by origin identity), the
# merged read is the returned frame, and the in-face assertions prove
# zero base files were rewritten and that the VACUUM fold lands the
# identical relation. Oracle: DuckDB recomputes the post-update values
# relationally from the same parquet.

_Q208_ORACLE = """
SELECT event_id,
       CASE WHEN user_id % 20 = 3 THEN (value * 2 + 1) + 100
            WHEN user_id % 10 = 3 THEN value * 2 + 1
            ELSE value END AS value,
       ts
FROM events
WHERE event_id % 13 = 0
ORDER BY event_id
"""


@dq("q208_update_merge_on_read", oracle=_Q208_ORACLE, covers="S6,O3,EXT")
def q208(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from questdb_etl_jobs_spark.plans.designated import (
        pending_update_seqs,
        read_designated_merged,
        update_designated_mor,
        write_designated_ts,
    )
    from questdb_etl_jobs_spark.sql import questdb_ddl

    work = tempfile.mkdtemp(prefix="q208_mor_")
    try:
        tbl = f"{work}/ev"
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 13 == 0)
            .select("event_id", "user_id", "value", "ts")
        )
        write_designated_ts(ev, tbl, "ts", mode="overwrite")

        def base_files():
            out = []
            for root, _dirs, files in os.walk(tbl):
                if ".updates" in root:
                    continue
                out.extend(
                    sorted(
                        f for f in files if f.endswith(".parquet")
                    )
                )
            return sorted(out)

        before = base_files()
        update_designated_mor(
            spark, tbl, "ts", [("value", "value * 2 + 1")],
            "user_id % 10 = 3",
        )
        update_designated_mor(
            spark, tbl, "ts", [("value", "value + 100")],
            "user_id % 20 = 3",
        )
        assert base_files() == before, "MoR rewrote base files"
        assert pending_update_seqs(spark, tbl) == [1, 2]
        rows = [
            (r.event_id, r.value, r.ts)
            for r in read_designated_merged(spark, tbl, "ts")
            .select("event_id", "value", "ts")
            .orderBy("event_id")
            .collect()
        ]
        # The fold is part of the face's contract: VACUUM lands the
        # identical relation in a clean tree.
        tables = {"ev": tbl}
        questdb_ddl(spark, "VACUUM TABLE ev", tables)
        assert pending_update_seqs(spark, tbl) == []
        folded = [
            (r.event_id, r.value, r.ts)
            for r in read_designated_merged(spark, tbl, "ts")
            .select("event_id", "value", "ts")
            .orderBy("event_id")
            .collect()
        ]
        assert folded == rows, "VACUUM fold changed the relation"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id long, value double, ts timestamp"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q209 — PII detection + redaction over documents (round 15)
# ---------------------------------------------------------------------------
#
# The free-text face of the reference's PII stance (cloud_function.py:
# 63-66 SHA-1-anonymizes a known email column; a curation pipeline must
# also scrub PII INSIDE document bodies). The synthetic corpus carries
# no PII, so the query injects it deterministically — the same SQL
# concat, keyed on doc_id arithmetic, in BOTH engines — then redacts
# with functions/pii.py's codegen regexp chain. The oracle runs
# DuckDB's RE2 over the identical dirty text: the comparison is a true
# regex-semantics differential (patterns live in the Java∩RE2 subset
# by contract), covering replacement, detection kinds, and per-family
# span counts.

_Q209_ORACLE = r"""
WITH dirty AS (
  SELECT doc_id,
         text || ' reach user' || doc_id || '@example.com'
              || CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-5309' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END
              || CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.1.42' ELSE '' END
              || CASE WHEN doc_id % 11 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END
           AS t
  FROM documents
  WHERE doc_id % 2 = 0
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{4}(?:[ -]\d{4}){3}\b', '[CARD]', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IPV4]', 'g') AS redacted,
       concat_ws(',',
         CASE WHEN regexp_matches(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') THEN 'email' END,
         CASE WHEN regexp_matches(t, '\b\d{4}(?:[ -]\d{4}){3}\b') THEN 'card' END,
         CASE WHEN regexp_matches(t, '\b\d{3}-\d{2}-\d{4}\b') THEN 'ssn' END,
         CASE WHEN regexp_matches(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b') THEN 'phone' END,
         CASE WHEN regexp_matches(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b') THEN 'ipv4' END
       ) AS kinds,
       CAST(
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(t, '\b\d{4}(?:[ -]\d{4}){3}\b'))
         + len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
         + len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
         + len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
       AS BIGINT) AS n_pii
FROM dirty
ORDER BY doc_id
"""


@dq("q209_pii_redaction", oracle=_Q209_ORACLE, covers="F6,U1,EXT")
def q209(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.functions.pii import (
        count_pii,
        detect_pii_kinds,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" call 555-867-5309")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" from 192.168.1.42")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit(" card 4111 1111 1111 1111"),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    return dirty.select(
        "doc_id",
        redact_pii("t").alias("redacted"),
        detect_pii_kinds("t").alias("kinds"),
        count_pii("t").alias("n_pii"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q210 — dialect composition: DECLARE + CTE + SAMPLE BY + interval (round 15)
# ---------------------------------------------------------------------------
#
# Real QuestDB queries COMPOSE dialect shapes: a SAMPLE BY rolled up
# inside a CTE, consumed by an outer GROUP BY, scoped by DECLARE
# variables (QuestDB 8) and an interval search. Round 15's composition
# pre-pass lowers each fragment recursively (the CTE registers as a
# view whose single timestamp column becomes its designated ts); this
# query exercises the full stack over real data. Exact aggregates only
# (count / max — no float arithmetic crosses engines).

_Q210_SQL = (
    "DECLARE @month := '2024-01', @grps := 7 "
    "WITH hourly AS ("
    "SELECT ts, grp, max(value) AS mx, count() AS c "
    "FROM (SELECT ts, user_id % @grps AS grp, value "
    "FROM __q210_events) keyed "
    "WHERE ts IN @month SAMPLE BY 1h"
    ") "
    "SELECT grp, max(mx) AS mmx, sum(c) AS n, count() AS n_hours "
    "FROM hourly GROUP BY grp ORDER BY grp"
)

_Q210_ORACLE = """
WITH hourly AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h,
         user_id % 7 AS grp,
         max(value) AS mx,
         count(*) AS c
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts < TIMESTAMP '2024-02-01 00:00:00'
  GROUP BY 1, 2
)
SELECT grp, max(mx) AS mmx, CAST(sum(c) AS BIGINT) AS n,
       count(*) AS n_hours
FROM hourly GROUP BY grp ORDER BY grp
"""


@dq("q210_dialect_composition", oracle=_Q210_ORACLE, covers="S6,A7,F5,A1,EXT")
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q210_events"
    )
    return (
        questdb_sql(spark, _Q210_SQL, {"__q210_events": "ts"})
        .select(
            "grp",
            "mmx",
            F.col("n").cast("long").alias("n"),
            F.col("n_hours").cast("long").alias("n_hours"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# q211 — dialect union: whole-union ORDER BY/LIMIT, positional fold (round 16)
# ---------------------------------------------------------------------------
#
# SQL (and QuestDB) bind a trailing ORDER BY / LIMIT to the WHOLE
# union; round 16's pre-pass strips the tail off the last fragment and
# applies it to the folded result, and sides union POSITIONALLY under
# the first fragment's column names (the second side here aliases its
# columns differently on purpose). The oracle spells the identical
# union in DuckDB. Exact aggregates only (count / max — no float
# arithmetic crosses engines); the ORDER BY covers every output column
# so any cross-side tie at the LIMIT boundary is between identical
# rows.

_Q211_SQL = (
    "SELECT ts, count() AS n, max(value) AS mv "
    "FROM __q211_events WHERE ts IN '2024-01' SAMPLE BY 1d "
    "UNION ALL "
    "SELECT ts, CAST(0 AS LONG) AS z, value AS v "
    "FROM __q211_events WHERE ts IN '2024-01-15' "
    "ORDER BY ts, n, mv LIMIT 40"
)

_Q211_ORACLE = """
WITH s1 AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
           AS ts,
         count(*) AS n, max(value) AS mv
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
  GROUP BY 1
), s2 AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, CAST(0 AS BIGINT) AS n,
         value AS mv
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
)
SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
ORDER BY ts, n, mv LIMIT 40
"""


@dq("q211_dialect_union_tail", oracle=_Q211_ORACLE, covers="T1,A7,O2,F5,EXT")
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q211_events"
    )
    return questdb_sql(spark, _Q211_SQL, {"__q211_events": "ts"}).select(
        "ts", F.col("n").cast("long").alias("n"), "mv"
    )


# ---------------------------------------------------------------------------
# q212 — dialect CTE chain + expression-argument aggregates (round 16)
# ---------------------------------------------------------------------------
#
# A CTE referencing an EARLIER CTE (QuestDB chains them; the pre-pass
# rewrites the inner reference to the registered internal view, so CTE
# names no longer shadow session views), an aggregate whose argument
# is an expression (ksum over CASE WHEN — pre-round-16 this misparsed
# as a computed group key), and HAVING over the SAMPLE BY result. The
# float sum crosses engines through the exact-decimal protocol (the
# q189 spelling), so the differential is bit-exact.

_Q212_SQL = (
    "DECLARE @grps := 5 "
    "WITH base AS ("
    "SELECT ts, user_id % @grps AS grp, value "
    "FROM __q212_events WHERE ts IN '2024-01'"
    "), daily AS ("
    "SELECT ts, grp, "
    "ksum(CASE WHEN value > 100 THEN value ELSE 0 END) AS hi, "
    "count() AS c "
    "FROM base SAMPLE BY 1d HAVING count() > 5"
    ") "
    "SELECT grp, count() AS days, max(hi) AS mh, sum(c) AS n "
    "FROM daily GROUP BY grp ORDER BY grp"
)

_Q212_ORACLE = """
WITH base AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id % 5 AS grp, value
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
), daily AS (
  SELECT time_bucket(INTERVAL 1 DAY, ts) AS d, grp,
         CAST(SUM(CAST(ROUND(CASE WHEN value > 100 THEN value ELSE 0 END,
                             4) AS DECIMAL(28,4))) AS DOUBLE) AS hi,
         count(*) AS c
  FROM base GROUP BY 1, 2 HAVING count(*) > 5
)
SELECT grp, count(*) AS days, max(hi) AS mh, CAST(sum(c) AS BIGINT) AS n
FROM daily GROUP BY grp ORDER BY grp
"""


@dq("q212_dialect_cte_chain", oracle=_Q212_ORACLE, covers="A7,A1,F10,F7,EXT")
def q212(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q212_events"
    )
    return questdb_sql(spark, _Q212_SQL, {"__q212_events": "ts"}).select(
        "grp",
        F.col("days").cast("long").alias("days"),
        "mh",
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# q213 — dialect set operations: EXCEPT / INTERSECT with precedence (round 16)
# ---------------------------------------------------------------------------
#
# The dialect's set-operation chain beyond UNION (round 16): INTERSECT
# binds tighter than UNION/EXCEPT (SQL precedence — the middle
# INTERSECT folds into its left neighbor BEFORE the outer ops), sides
# fold positionally, EXCEPT/INTERSECT carry distinct semantics. Every
# fragment is dialect-marked (interval searches) so the chain exercises
# the composition pre-pass, not spark.sql's own parser; DuckDB applies
# the identical precedence, making the oracle a true differential of
# the fold order. Exact integer set — no float arithmetic.

_Q213_SQL = (
    "SELECT user_id FROM __q213_events WHERE ts IN '2024-01-10' "
    "UNION "
    "SELECT user_id FROM __q213_events WHERE ts IN '2024-01-11' "
    "INTERSECT "
    "SELECT user_id FROM __q213_events WHERE event_type = 'click' "
    "AND ts IN '2024-01' "
    "EXCEPT "
    "SELECT user_id FROM __q213_events WHERE value > 900.0 "
    "AND ts IN '2024-01' "
    "ORDER BY user_id"
)

_Q213_ORACLE = """
SELECT user_id FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
UNION
SELECT user_id FROM events
WHERE ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-12'
INTERSECT
SELECT user_id FROM events
WHERE event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
EXCEPT
SELECT user_id FROM events
WHERE value > 900.0
  AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
ORDER BY user_id
"""


@dq("q213_dialect_set_ops", oracle=_Q213_ORACLE, covers="T2,T1,EXT")
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q213_events"
    )
    return questdb_sql(spark, _Q213_SQL, {"__q213_events": "ts"})


# ---------------------------------------------------------------------------
# q214 — dialect quoted identifiers: PG-wire "name" quoting (round 17)
# ---------------------------------------------------------------------------
#
# QuestDB speaks PG wire (reference README.md:107 connects psql-style
# at port 8812), and every PG client — psql, ORMs, BI tools — quotes
# identifiers with double quotes. Pre-round-17 the engine's spark.sql
# call read `"s"` as a STRING LITERAL: `SELECT "s" FROM t` returned the
# literal letter s per row and `WHERE "s" = 'a1b22'` matched nothing,
# silently (round-16 VERDICT #1). The normalization pass now rewrites
# `"name"` (with `""` escapes) onto Spark identifiers, so this query
# quotes EVERY identifier — select list, WHERE equality + regex match,
# interval search, aggregate arguments, aliases, even the table name —
# through the dialect-marked route (SAMPLE BY) composed with a
# passthrough UNION ALL arm (spark.sql route), covering both entries.
# The oracle spells the same identifiers unquoted; exact aggregates
# only (count / max).

_Q214_SQL = (
    'SELECT "ts", \'agg\' AS "face", count() AS "n", '
    'max("value") AS "mv" '
    'FROM "__q214_events" '
    'WHERE "event_type" = \'click\' AND "ts" IN \'2024-01\' '
    "SAMPLE BY 1d "
    "UNION ALL "
    'SELECT "ts" AS "t2", \'raw\' AS f2, '
    'CAST("user_id" AS LONG) AS "u2", "value" AS v2 '
    'FROM "__q214_events" '
    'WHERE "event_type" ~ \'^sign\' AND "ts" IN \'2024-01-05\' '
    'ORDER BY "face", "ts", "n", "mv"'
)

_Q214_ORACLE = """
WITH agg AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
           AS ts,
         'agg' AS face, count(*) AS n, max(value) AS mv
  FROM events
  WHERE event_type = 'click'
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
  GROUP BY 1
), raw AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, 'raw' AS face,
         CAST(user_id AS BIGINT) AS n, value AS mv
  FROM events
  WHERE regexp_matches(event_type, '^sign')
    AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
)
SELECT * FROM (SELECT * FROM agg UNION ALL SELECT * FROM raw)
ORDER BY face, ts, n, mv
"""


@dq(
    "q214_dialect_quoted_idents",
    oracle=_Q214_ORACLE,
    covers="F6,A7,A1,T1,F5,EXT",
)
def q214(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q214_events"
    )
    return questdb_sql(spark, _Q214_SQL, {"__q214_events": "ts"}).select(
        "ts", "face", F.col("n").cast("long").alias("n"), "mv"
    )


# ---------------------------------------------------------------------------
# q215 — arithmetic type-promotion semantics, pinned (round 17)
# ---------------------------------------------------------------------------
#
# The DuckDB differential is structurally blind where Spark and DuckDB
# agree but QuestDB differs (round-16 VERDICT #3), so the adjudicated
# promotion rules are pinned CONTRACTUALLY here: int/int `/` is the
# exact rational as DOUBLE (QuestDB: Java truncating division —
# documented divergence in the questdb_sql docstring), `div` is the
# Java-semantics spelling (truncation toward zero, -7 div 2 = -3),
# divide-by-zero and overflow are LOUD under ANSI with try_* as the
# null-producing spellings (QuestDB: null / silent wrap). The oracle
# mirrors each rule with explicit CASE arithmetic over the same VALUES
# rows — if the engine's semantics drift (ANSI flag change, Spark
# upgrade), this query goes red.

_Q215_PAIRS = [
    (5, 2, 1),
    (-7, 2, 10),
    (7, -2, 100),
    (5, 0, 2147483647),
    (0, 3, -2147483648),
    (9, 4, -1),
]

_Q215_SQL = (
    "SELECT a, b, "
    "try_divide(CAST(a AS DOUBLE), b) AS q_frac, "
    "CASE WHEN b = 0 THEN NULL ELSE a div b END AS q_int, "
    "CAST(try_add(c, 1) AS LONG) AS s_try "
    "FROM __q215_pairs ORDER BY a, b"
)

_Q215_ORACLE = """
WITH pairs(a, b, c) AS (VALUES
  (5, 2, 1), (-7, 2, 10), (7, -2, 100),
  (5, 0, 2147483647), (0, 3, -2147483648), (9, 4, -1)
)
SELECT a, b,
       CASE WHEN b = 0 THEN NULL
            ELSE CAST(a AS DOUBLE) / b END AS q_frac,
       CASE WHEN b = 0 THEN NULL
            ELSE CAST(trunc(CAST(a AS DOUBLE) / b) AS BIGINT)
       END AS q_int,
       CASE WHEN c = 2147483647 THEN NULL
            ELSE CAST(c + 1 AS BIGINT) END AS s_try
FROM pairs ORDER BY a, b
"""


def _q215_oracle() -> str:
    return _Q215_ORACLE


_q215_oracle.sf_invariant = True


@dq(
    "q215_arith_semantics",
    oracle=_q215_oracle,
    covers="F7,EXT",
)
def q215(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    spark.createDataFrame(
        _Q215_PAIRS, "a int, b int, c int"
    ).createOrReplaceTempView("__q215_pairs")
    return questdb_sql(spark, _Q215_SQL).select(
        "a", "b", "q_frac",
        F.col("q_int").cast("long").alias("q_int"),
        "s_try",
    )


# ---------------------------------------------------------------------------
# q216 — GROUP BY repeats a computed select expression (round 17)
# ---------------------------------------------------------------------------
#
# Standard SQL (and QuestDB) allow the GROUP BY list to repeat a
# computed select expression instead of its alias; the round-17
# composition probe found this refusing through the dialect grammar.
# The item now matches the computed key whitespace-insensitively and
# groups by its alias. This face composes it with an ordinal ORDER BY
# over the aggregate column and a quoted-identifier argument. Exact
# aggregates only.

_Q216_SQL = (
    'SELECT "user_id" % 5 AS grp, '
    "CASE WHEN value > 500.0 THEN 'hi' ELSE 'lo' END AS band, "
    "count() AS n, max(event_id) AS me "
    "FROM __q216_events "
    "WHERE ts IN '2024-01' "
    "GROUP BY user_id % 5, CASE WHEN value>500.0 THEN 'hi' ELSE 'lo' END "
    "ORDER BY 3 DESC, grp, band"
)

_Q216_ORACLE = """
SELECT user_id % 5 AS grp,
       CASE WHEN value > 500.0 THEN 'hi' ELSE 'lo' END AS band,
       count(*) AS n, max(event_id) AS me
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
GROUP BY 1, 2
ORDER BY 3 DESC, grp, band
"""


@dq(
    "q216_dialect_expr_groupby",
    oracle=_Q216_ORACLE,
    covers="A1,F10,F6,EXT",
)
def q216(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q216_events"
    )
    return questdb_sql(spark, _Q216_SQL, {"__q216_events": "ts"}).select(
        "grp", "band",
        F.col("n").cast("long").alias("n"),
        F.col("me").cast("long").alias("me"),
    )


# ---------------------------------------------------------------------------
# q217 — subquery filters through the dialect (round 17, probe round 3)
# ---------------------------------------------------------------------------
#
# The round-17 composition probes verified `IN (SELECT …)` and
# correlated scalar subqueries lower correctly through dialect-marked
# text (the WHERE body passes through to Spark intact while SAMPLE BY
# / interval searches lower around it); this face pins both against
# regression with a DuckDB oracle. The inner subquery selects the
# high-value user cohort; the correlated arm keeps each user's
# max-value click row.

_Q217_SQL = (
    "SELECT ts, count() AS n "
    "FROM __q217_events e1 "
    "WHERE user_id IN (SELECT user_id FROM __q217_events "
    "WHERE value > 400.0 AND ts IN '2024-01') "
    "AND value = (SELECT max(value) FROM __q217_events e2 "
    "WHERE e2.user_id = e1.user_id "
    "AND e2.ts >= TIMESTAMP '2024-01-01' "
    "AND e2.ts < TIMESTAMP '2024-02-01') "
    "AND ts IN '2024-01' "
    "SAMPLE BY 7d"
)

_Q217_ORACLE = """
WITH jan AS (
  SELECT * FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
), cohort AS (
  SELECT DISTINCT user_id FROM jan WHERE value > 400.0
), mx AS (
  SELECT user_id, max(value) AS mv FROM jan GROUP BY user_id
)
SELECT CAST(to_timestamp(
         CAST(floor(epoch(CAST(e.ts AS TIMESTAMP)) / 604800) AS BIGINT)
         * 604800) AS TIMESTAMP) AS ts,
       count(*) AS n
FROM jan e
JOIN cohort c ON e.user_id = c.user_id
JOIN mx ON e.user_id = mx.user_id AND e.value = mx.mv
GROUP BY 1 ORDER BY 1
"""


@dq(
    "q217_dialect_subquery_filters",
    oracle=_Q217_ORACLE,
    covers="A7,J4,A1,EXT",
)
def q217(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q217_events"
    )
    return questdb_sql(spark, _Q217_SQL, {"__q217_events": "ts"}).select(
        "ts", F.col("n").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# q218 — concat() null-as-empty semantics (round 17)
# ---------------------------------------------------------------------------
#
# QuestDB (like PostgreSQL and DuckDB) treats NULL concat() arguments
# as EMPTY; Spark's concat nulls the whole result, so legal QuestDB
# text silently dropped every row whose key had one null component
# (round-17 probe — same silent class as the backslash/identifier
# bugs). The scalar pass rewrites concat( → concat_ws('', …); this
# face builds a group key with a nullif-manufactured null component so
# the differential is ONLY green under the null-skipping semantics —
# DuckDB's native concat is the oracle.

_Q218_SQL = (
    "SELECT concat(nullif(event_type, 'click'), '#', user_id % 3) "
    "AS key, count() AS n "
    "FROM __q218_events WHERE ts IN '2024-01-10' "
    "GROUP BY 1 ORDER BY 1"
)

_Q218_ORACLE = """
SELECT concat(nullif(event_type, 'click'), '#',
              CAST(user_id % 3 AS VARCHAR)) AS key,
       count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
GROUP BY 1 ORDER BY 1
"""


@dq(
    "q218_concat_null_semantics",
    oracle=_Q218_ORACLE,
    covers="F6,A1,F10,EXT",
)
def q218(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q218_events"
    )
    return questdb_sql(spark, _Q218_SQL, {"__q218_events": "ts"}).select(
        "key", F.col("n").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# q219 — generate_series table generator (round 17)
# ---------------------------------------------------------------------------
#
# QuestDB's PG-style series generator in table position — inclusive
# bounds, optional/negative step, output column generate_series. The
# engine lowers it onto spark.range (distributed, no driver
# materialization); DuckDB's native generate_series shares the PG
# semantics exactly, so the oracle is near-verbatim. Composed with a
# grouped aggregate so the generator output drives the dialect's
# aggregate grammar.

_Q219_SQL = (
    "SELECT generate_series % 7 AS m, count() AS n, "
    "sum(generate_series) AS s "
    "FROM generate_series(1, 10000, 3) GROUP BY 1 ORDER BY 1"
)

_Q219_ORACLE = """
SELECT generate_series % 7 AS m, count(*) AS n,
       CAST(sum(generate_series) AS BIGINT) AS s
FROM generate_series(1, 10000, 3) GROUP BY 1 ORDER BY 1
"""


def _q219_oracle() -> str:
    return _Q219_ORACLE


_q219_oracle.sf_invariant = True


@dq(
    "q219_generate_series",
    oracle=_q219_oracle,
    covers="A1,F7,EXT",
)
def q219(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    return questdb_sql(spark, _Q219_SQL).select(
        "m",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
    )


# ---------------------------------------------------------------------------
# q220 — ASOF JOIN with BOTH sides aliased (round 18)
# ---------------------------------------------------------------------------
#
# The idiomatic QuestDB two-table as-of (their docs alias both sides):
# `FROM p t ASOF JOIN s q ON user_id` with qualified refs through each
# scope. Round 17 restored the LEFT alias only — the right alias died
# as `unsupported fragment: 'q'`. q.ts exercises the clash-suffixed
# right designated ts, q.value the kept-name payload column. DuckDB's
# native ASOF LEFT JOIN (aliasing both sides the same way) is the
# oracle.

_Q220_SQL = (
    "SELECT t.event_id, t.user_id, t.ts, q.ts AS signup_ts, "
    "q.value AS signup_value "
    "FROM __q220_p t ASOF JOIN __q220_s q ON user_id "
    "ORDER BY t.event_id"
)

_Q220_ORACLE = """
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'signup')
SELECT t.event_id, t.user_id, t.ts, q.ts AS signup_ts,
       round(q.value, 4) AS signup_value
FROM p t ASOF LEFT JOIN s q
  ON t.user_id = q.user_id AND t.ts >= q.ts
ORDER BY t.event_id
"""


@dq(
    "q220_asof_both_aliased",
    oracle=_Q220_ORACLE,
    covers="J7,F6",
)
def q220(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    events = load_table(spark, sf_dir, "events")
    events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("__q220_p")
    events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    ).createOrReplaceTempView("__q220_s")
    return questdb_sql(
        spark, _Q220_SQL, {"__q220_p": "ts", "__q220_s": "ts"}
    ).select(
        "event_id", "user_id", "ts", "signup_ts",
        F.round("signup_value", 4).alias("signup_value"),
    )


# ---------------------------------------------------------------------------
# q221 — `||` null-as-empty semantics (round 18)
# ---------------------------------------------------------------------------
#
# QuestDB's parser lowers the `||` operator onto concat() (operator and
# function are ONE implementation), so `'x' || null` is 'x' — a
# DOCUMENTED DIVERGENCE from PostgreSQL, whose operator propagates
# NULL while its concat() function skips it. Round 17 had adjudicated
# concat() only and left `||` null-propagating; Spark==DuckDB==PG on
# the operator made the differential structurally blind (VERDICT r17
# "what's missing" #3 — the round-16 division playbook). The group key
# manufactures a null component via nullif, so this is ONLY green
# under null-skipping semantics; DuckDB's native concat() — which
# skips nulls — is the oracle.

_Q221_SQL = (
    "SELECT nullif(event_type, 'click') || '#' || (user_id % 3) "
    "AS key, count() AS n "
    "FROM __q221_events WHERE ts IN '2024-01-10' "
    "GROUP BY 1 ORDER BY 1"
)

_Q221_ORACLE = """
SELECT concat(nullif(event_type, 'click'), '#',
              CAST(user_id % 3 AS VARCHAR)) AS key,
       count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
GROUP BY 1 ORDER BY 1
"""


@dq(
    "q221_pipe_concat_null",
    oracle=_Q221_ORACLE,
    covers="F6,F10,A1",
)
def q221(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q221_events"
    )
    return questdb_sql(spark, _Q221_SQL, {"__q221_events": "ts"}).select(
        "key", F.col("n").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# q222 — sub-second interval search (round 18)
# ---------------------------------------------------------------------------
#
# QuestDB's native timestamp resolution is microseconds, and its
# interval-search prefix ladder extends below the second: each
# fractional digit narrows the span 10× ('…:07.1' = [.100000,
# .200000)). Round 17 refused every sub-second prefix (bounds traveled
# as second-resolution timestamps — VERDICT r17 "what's missing" #4);
# the bounds now carry .%f microsecond literals, which both Spark and
# DuckDB evaluate exactly and still push to the scan. Faces: the full
# 6-digit µs prefix (exactly one event) OR a fractional prefix
# composed with duration+repeat modifiers ('.1;2m;1d;30'); the oracle
# expands both to explicit µs-timestamp ranges.

_Q222_SQL = (
    "SELECT ts, event_id FROM __q222_events "
    "WHERE ts IN '2024-01-01T00:00:07.179575' "
    "OR ts IN '2024-01-01T00:00:07.1;2m;1d;30' "
    "ORDER BY ts"
)

_Q222_ORACLE = """
SELECT e.ts, e.event_id
FROM events e
WHERE (e.ts >= TIMESTAMP '2024-01-01 00:00:07.179575'
       AND e.ts < TIMESTAMP '2024-01-01 00:00:07.179576')
   OR EXISTS (
        SELECT 1 FROM range(0, 30) r(k)
        WHERE e.ts >= TIMESTAMP '2024-01-01 00:00:07.100000'
                      + r.k * INTERVAL 1 DAY
          AND e.ts < TIMESTAMP '2024-01-01 00:02:07.200000'
                      + r.k * INTERVAL 1 DAY)
ORDER BY e.ts
"""


@dq(
    "q222_subsecond_interval",
    oracle=_Q222_ORACLE,
    covers="A7,P1,F4",
)
def q222(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q222_events"
    )
    return questdb_sql(spark, _Q222_SQL, {"__q222_events": "ts"}).select(
        "ts", "event_id"
    )


# ---------------------------------------------------------------------------
# q223 — tables()/table_columns() meta-function spellings (round 18)
# ---------------------------------------------------------------------------
#
# QuestDB's catalog table FUNCTIONS — the spellings PG tools emit
# alongside the SHOW statements (q178/q182/q185). Round-18 probe:
# `SELECT * FROM tables()` / `table_columns('t')` died as raw
# UNRESOLVABLE_TABLE_VALUED_FUNCTION; the dialect now materializes the
# catalog answer and rewrites the reference, so projections and
# filters over the function output lower. The UNION pins both faces —
# tables() (name + designated ts from the mapping) and
# table_columns() (QuestDB type spellings + designated flag) — against
# a constants oracle, the q215 VALUES playbook for session-catalog
# state SQL cannot reach.

_Q223_SQL = (
    "SELECT 'T' AS face, table_name AS a, designatedTimestamp AS b, "
    "'' AS c FROM tables() WHERE table_name = '__q223_t' "
    "UNION ALL "
    "SELECT 'C' AS face, column AS a, type AS b, "
    "CAST(designated AS STRING) AS c FROM table_columns('__q223_t') "
    "ORDER BY face, a"
)

_Q223_ORACLE = """
SELECT * FROM (VALUES
  ('C', 'event_id', 'LONG', 'false'),
  ('C', 'event_type', 'STRING', 'false'),
  ('C', 'ts', 'TIMESTAMP', 'true'),
  ('C', 'value', 'DOUBLE', 'false'),
  ('T', '__q223_t', 'ts', '')
) t(face, a, b, c)
ORDER BY face, a
"""


def _q223_oracle() -> str:
    return _Q223_ORACLE


_q223_oracle.sf_invariant = True


@dq(
    "q223_meta_functions",
    oracle=_q223_oracle,
    covers="S6,F10,T1",
)
def q223(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    ).createOrReplaceTempView("__q223_t")
    return questdb_sql(spark, _Q223_SQL, {"__q223_t": "ts"}).select(
        "face", "a", "b", "c"
    )


# ---------------------------------------------------------------------------
# q224 — time-series join, verbose ON equality with differing key names
# ---------------------------------------------------------------------------
#
# The `ON t.user_id = s.uid` spelling (round 18 — it used to die as an
# unsupported fragment): the equality resolves one column per side, the
# right key renames onto the left name pre-join, and right-key refs in
# the select map back to the left name. DuckDB's native ASOF LEFT JOIN
# with the identical ON text is the oracle, so the rename path is
# value-gated end to end.

_Q224_SQL = (
    "SELECT t.event_id, s.uid AS matched_uid, s.ts AS signup_ts "
    "FROM __q224_p t ASOF JOIN __q224_s s ON t.user_id = s.uid "
    "ORDER BY t.event_id"
)

_Q224_ORACLE = """
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
     s AS (SELECT user_id AS uid, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'signup')
SELECT t.event_id, s.uid AS matched_uid, s.ts AS signup_ts
FROM p t ASOF LEFT JOIN s
  ON t.user_id = s.uid AND t.ts >= s.ts
ORDER BY t.event_id
"""


@dq(
    "q224_asof_on_equality",
    oracle=_Q224_ORACLE,
    covers="J7,F6",
)
def q224(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    events = load_table(spark, sf_dir, "events")
    events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("__q224_p")
    events.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("uid"), "ts"
    ).createOrReplaceTempView("__q224_s")
    return questdb_sql(
        spark, _Q224_SQL, {"__q224_p": "ts", "__q224_s": "ts"}
    ).select("event_id", "matched_uid", "signup_ts")


# ---------------------------------------------------------------------------
# q225 — rnd_* generator family, property-pinned (round 18)
# ---------------------------------------------------------------------------
#
# QuestDB's random-value generators are its demo/seeding staple
# (`INSERT INTO t SELECT rnd_double(), rnd_symbol(…) FROM
# long_sequence(n)` in every tutorial). They lower onto rand()-based
# expressions (sql/dialect._rewrite_rnd) and are NON-DETERMINISTIC by
# design, so the pin aggregates to DETERMINISTIC properties — row
# count, range bounds, domain membership — and the oracle is the
# constants row those properties must equal (the KMV/accuracy-bound
# registry pattern for unmirrorable values). The generator body runs
# in a CTE so the property aggregation itself is plain SQL.

_Q225_SQL = """
WITH g AS (SELECT rnd_double() AS d, rnd_int(5, 9, 0) AS i,
                  rnd_symbol('a', 'b', 'c') AS s, rnd_boolean() AS b
           FROM long_sequence(5000))
SELECT count(*) AS n,
       CAST(min(d) >= 0.0 AND max(d) < 1.0 AS STRING) AS d_in_range,
       CAST(min(i) >= 5 AND max(i) <= 9
            AND count(DISTINCT i) = 5 AS STRING) AS i_covers_domain,
       CAST(count(DISTINCT s) = 3 AS STRING) AS s_covers_domain,
       CAST(count(DISTINCT b) = 2 AS STRING) AS b_both_values
FROM g
"""

_Q225_ORACLE = """
SELECT * FROM (VALUES
  (5000, 'true', 'true', 'true', 'true')
) t(n, d_in_range, i_covers_domain, s_covers_domain, b_both_values)
"""


def _q225_oracle() -> str:
    return _Q225_ORACLE


_q225_oracle.sf_invariant = True


@dq(
    "q225_rnd_generators",
    oracle=_q225_oracle,
    covers="F7,F6,A2",
)
def q225(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    return questdb_sql(spark, _Q225_SQL).select(
        F.col("n").cast("int").alias("n"),
        "d_in_range", "i_covers_domain", "s_covers_domain",
        "b_both_values",
    )


# ---------------------------------------------------------------------------
# q226 — single-element interval list (round 18)
# ---------------------------------------------------------------------------
#
# QuestDB applies interval-search semantics PER ELEMENT of a
# parenthesized timestamp IN-list at ANY list length — the
# single-element `ts IN ('2024-01-10')` is the whole day. Round-18
# probe: the list rewrite required 2+ elements, so the n=1 list fell
# through to Spark's IN-as-equality (midnight only — zero rows here)
# while n=2 got the day spans: a silent wrong answer AND
# self-inconsistent across list lengths. The pin bands every event by
# the n=1 list as a computed group key (the expression path of the
# interval rewrite); DuckDB's explicit half-open range is the oracle.
# The no-paren equivalence and the NOT IN complement are pytest-pinned
# (test_interval_list_in_where).

_Q226_SQL = (
    "SELECT CASE WHEN ts IN ('2024-01-10') THEN 'in' ELSE 'out' END "
    "AS band, count() AS n "
    "FROM __q226_events GROUP BY 1 ORDER BY 1"
)

_Q226_ORACLE = """
SELECT CASE WHEN ts >= TIMESTAMP '2024-01-10'
             AND ts < TIMESTAMP '2024-01-11'
       THEN 'in' ELSE 'out' END AS band,
       count(*) AS n
FROM events GROUP BY 1 ORDER BY 1
"""


@dq(
    "q226_single_interval_list",
    oracle=_Q226_ORACLE,
    covers="A7,P1,F10",
)
def q226(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q226_events"
    )
    return questdb_sql(spark, _Q226_SQL, {"__q226_events": "ts"}).select(
        "band", F.col("n").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# q227 — first()/last() in plain GROUP BY are ts-ordered (round 18)
# ---------------------------------------------------------------------------
#
# QuestDB's first()/last() aggregates follow the designated-ts order;
# Spark's same-named aggregates are "any row, nondeterministic", and a
# plain GROUP BY (no SAMPLE BY or other marker) used to hit the
# passthrough — arbitrary group members, silently (round-18 probe; the
# same marker-gap class as the concat-null bug, caught the same way).
# first/last now route the dialect parser onto min_by/max_by over the
# designated ts. DuckDB's arg_min/arg_max — explicitly ordered — are
# the oracle.

_Q227_SQL = (
    "SELECT event_type, first(value) AS open_v, last(value) AS close_v,"
    " count() AS n "
    "FROM __q227_events GROUP BY event_type ORDER BY event_type"
)

_Q227_ORACLE = """
SELECT event_type,
       ROUND(arg_min(value, CAST(ts AS TIMESTAMP)), 4) AS open_v,
       ROUND(arg_max(value, CAST(ts AS TIMESTAMP)), 4) AS close_v,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


@dq(
    "q227_first_last_groupby",
    oracle=_Q227_ORACLE,
    covers="A1,F5,O1",
)
def q227(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q227_events"
    )
    return questdb_sql(spark, _Q227_SQL, {"__q227_events": "ts"}).select(
        "event_type",
        F.round("open_v", 4).alias("open_v"),
        F.round("close_v", 4).alias("close_v"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# q228 — string_agg in designated-ts order (round 18)
# ---------------------------------------------------------------------------
#
# QuestDB's string_agg concatenates in scan order — the designated-ts
# order; Spark's same-named aggregate is partition-arbitrary, and the
# unmarked passthrough silently produced differently-ordered strings
# (round-18 probe; the first()/last() marker-gap class, q227). The
# lowering collects (ts, value) structs, array_sorts, joins — nulls
# drop as in QuestDB/PG. DuckDB's string_agg with an explicit ORDER BY
# ts is the oracle, so the concatenation order is value-gated.

_Q228_SQL = (
    "SELECT event_type, string_agg(event_id, ',') AS ids, "
    "count() AS n "
    "FROM __q228_events WHERE ts IN '2024-01-10T00' "
    "GROUP BY event_type ORDER BY event_type"
)

_Q228_ORACLE = """
SELECT event_type,
       string_agg(CAST(event_id AS VARCHAR), ','
                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS ids,
       count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-10 01:00:00'
GROUP BY event_type ORDER BY event_type
"""


@dq(
    "q228_string_agg_ordered",
    oracle=_Q228_ORACLE,
    covers="A6,F6,A1",
)
def q228(spark: SparkSession, sf_dir: str) -> DataFrame:
    from questdb_etl_jobs_spark.sql import questdb_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__q228_events"
    )
    return questdb_sql(spark, _Q228_SQL, {"__q228_events": "ts"}).select(
        "event_type", "ids", F.col("n").cast("long").alias("n")
    )
