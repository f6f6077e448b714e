"""Distributed Lloyd k-means over an embedding column (EXT clustering).

Topic-aware corpus curation needs cluster structure — assign every
document embedding to a centroid, then mix/cap/sample per cluster (the
same role cluster-balanced sampling plays in large-scale pretraining
pipelines). The reference has no clustering surface; this is the
training-data extension mandated alongside dedup/similarity (SURVEY §2.10).

Spark-first shape (the classic scalable Lloyd layout):

- **Assignment is a pure projection** — the k centroids ride into every
  task as plan literals (k × dim doubles: tiny), each row folds its
  squared-L2 distance to every centroid in array order
  (``zip_with`` + ``aggregate``: whole-stage-codegen, zero Python), and
  the winner is ``array_position(dists, array_min(dists))`` — first
  minimum, so ties break to the lowest centroid id deterministically.
  No shuffle, no UDF.
- **The update step's shuffle is sketch-sized, not data-sized.**
  ``posexplode(vec)`` → ``groupBy(cluster, pos)`` partial-aggregates
  map-side, so the exchange carries at most ``partitions × k × dim``
  rows regardless of input row count — at 100 TB the wire cost is the
  cluster directory, never the corpus.
- **Cross-engine-deterministic arithmetic.** Component sums route
  through the repo's decimal protocol (``SUM(CAST(ROUND(x, 4) AS
  DECIMAL(28,4)))``): order-independent by construction, so the
  distributed sum equals a sequential CPython mirror bit-for-bit and
  the whole fit is differential-testable (q177). The new component is
  one IEEE division ``double(decimal_sum) / count`` computed driver-side
  on the collected k×dim directory.

Empty clusters keep their previous centroid (deterministic, mirrorable).
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext


@dataclass(frozen=True)
class KMeansModel:
    centroids: list[list[float]]  # k × dim exact doubles
    iterations: int


def _sq_dist(vec: Column, c: Column) -> Column:
    """Squared L2 distance folded in array order (deterministic IEEE)."""
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: One-shot flag: the Literal pre-fold rides Spark-internal APIs behind a
#: try/except, and a SILENT fallback would let version drift degrade the
#: perf profile unnoticed (r18 ADVICE) — warn the first time it happens.
_PREFOLD_WARNED = False


def _try_prefold(sql: str, spark=None) -> Column | None:
    """Constant-fold the parsed ``array(array(…D))`` tree into ONE
    ``Literal`` plan node via a one-row optimized projection.

    Returns the Literal-backed Column, or ``None`` when any internal
    API has drifted (callers fall back to the parsed expression —
    bit-identical values, just more analyzer work per Dataset). The
    session comes from the caller's DataFrame when available (r18
    ADVICE: ``getActiveSession`` can be None on other threads).
    """
    global _PREFOLD_WARNED
    try:
        from pyspark.sql import SparkSession
        from pyspark.sql.column import Column as _Column

        if spark is None:
            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError("no active SparkSession")
        jdf = spark.range(1).select(F.expr(sql).alias("m"))._jdf
        jlit = (
            jdf.queryExecution().optimizedPlan()
            .projectList().apply(0).child()
        )
        if jlit.getClass().getSimpleName() != "Literal":
            raise RuntimeError(
                f"optimized to {jlit.getClass().getSimpleName()}, not Literal"
            )
        jcol = (
            spark._jvm.org.apache.spark.sql.classic
            .ExpressionUtils.column(jlit)
        )
        return _Column(jcol)
    except Exception as exc:
        if not _PREFOLD_WARNED:
            _PREFOLD_WARNED = True
            import logging

            logging.getLogger(__name__).warning(
                "centroid-literal pre-fold fell back to the parsed "
                "expression (%r) — values are unchanged but every "
                "k-means action re-analyzes the k×dim tree; check for "
                "Spark internal-API drift.", exc,
            )
        return None


def _centroid_matrix(centroids: list[list[float]], spark=None) -> Column:
    """The k × dim centroid directory as ONE nested-array literal.

    Round-18 (optimization): the previous shape spelled every component
    as its own ``F.lit(double)`` — k × dim literal nodes truncheoned
    into the projection. Primitive double literals are INLINED into the
    generated Java source, so every Lloyd iteration / k-means|| round
    (new centroid values) produced a brand-new codegen unit and paid a
    fresh ~100-300 ms compile; the plan tree itself was k × dim nodes
    for Catalyst to analyze per action. A single ``array<array<double>>``
    Literal is one plan node, rides the codegen ``references`` array
    (source text is VALUE-INDEPENDENT, so the compiled class is reused
    across iterations), and the distance fold below replays the exact
    same per-element IEEE sequence — measured bit-identical, and
    ~0.3 s/action faster on the bench's 12-action init chain.

    Round-18 follow-up: ``F.lit(nested_list)`` builds the tree with one
    py4j call PER ELEMENT (PySpark lowers a list literal to
    ``array(*[lit(x) ...])`` recursively), which at k × dim = 1,792
    elements measured 1.0–1.6 s of pure driver-side plan construction
    per action — the dominant cost of the whole k-means|| init chain.
    Parsing the equivalent SQL text (spelled bit-exactly by
    :mod:`sqltext`) is ONE py4j call; the JVM parser builds the
    identical foldable CreateArray tree (constant-folded to the same
    Literal before codegen).
    """
    sql = sqltext.literal([[float(x) for x in c] for c in centroids])
    # Pre-fold the parsed CreateArray tree into ONE Literal node before
    # handing it to callers: every Dataset creation re-runs the full
    # analyzer over its plan, and a k × dim CreateArray tree measurably
    # scales that cost (~0.2 s per 1,000 elements per Dataset at local
    # measurement). Optimizing a one-row projection of the parsed text
    # constant-folds it once; the extracted Literal is the same node the
    # optimizer would have produced downstream anyway (bit-identical by
    # construction), so plans, codegen and values are unchanged — only
    # the analyzer's node count drops. Any internal-API drift falls back
    # to the parsed-tree column (see _try_prefold; warns once, and the
    # two paths are equivalence-pinned by unit test).
    folded = _try_prefold(sql, spark)
    return folded if folded is not None else F.expr(sql)


#: Envelope of the plan-literal distance path: total literal elements
#: (centers × dim doubles) embedded in the projection. 8192 elements is
#: ~64 KB of plan constants and a few thousand codegen expression nodes
#: — comfortably inside Spark's whole-stage-codegen and plan-shipping
#: budgets. Above it (curation-scale k: 10k centroids × 768 dims would
#: be 60 MB of plan constants and millions of expression nodes — the
#: PLAN fails before the data does), assignment switches to an
#: Arrow-batched pandas path whose centroid matrix ships ONCE per
#: executor as a SparkContext broadcast, still zero-shuffle, and whose
#: accumulation order replays the literal path's left fold exactly —
#: the two paths are bit-identical (boundary-tested).
PLAN_LITERAL_BUDGET = 8192


def _assign_clusters_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    cluster_col: str,
    dist_col: str | None,
) -> DataFrame:
    """Broadcast + Arrow-batched nearest-centroid for large k × dim.

    The centroid matrix rides a SparkContext broadcast (one transfer
    per executor, NOT per task / per plan). Accumulation is an explicit
    per-position loop — ``acc += (x_p - c_p)²`` over positions in array
    order — so every double op happens in the same order as the literal
    path's ``aggregate`` fold and the result (cluster AND distance) is
    bit-identical; ``argmin`` returns the first minimum, matching
    ``array_position``'s lowest-index tie-break. Malformed vectors —
    NULL, wrong length, or containing NULL/non-finite elements — map to
    NULL cluster/distance, mirroring :func:`assign_clusters`' literal
    contract (round-14 ADVICE: Arrow's list<double> transfer turns NULL
    elements into NaN, so the mask is the only way to keep the faces
    identical; np.stack would otherwise raise on ragged rows)."""
    import numpy as np
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(
        [[float(x) for x in c] for c in centroids]
    )

    def _nearest(v):
        cent = np.asarray(bc.value, dtype=np.float64)
        k, dim = cent.shape
        n = len(v)
        cluster = np.full(n, -1, dtype=np.int64)
        dist = np.full(n, np.nan, dtype=np.float64)

        def _ok(a) -> bool:
            if a is None or len(a) != dim:
                return False
            arr = np.asarray(a, dtype=np.float64)
            return bool(np.isfinite(arr).all())

        mask = np.fromiter((_ok(a) for a in v), dtype=bool, count=n)
        if mask.any():
            x = np.stack([np.asarray(a, dtype=np.float64) for a in v[mask]])
            acc = np.zeros((x.shape[0], k), dtype=np.float64)
            for p in range(dim):
                diff = x[:, p][:, None] - cent[None, :, p]
                acc += diff * diff
            win = np.argmin(acc, axis=1)
            cluster[mask] = win
            dist[mask] = acc[np.arange(x.shape[0]), win]
        return pd.DataFrame(
            {
                "c": pd.array(
                    [int(c) if c >= 0 else None for c in cluster],
                    dtype="Int32",
                ),
                "d": pd.array(
                    [None if np.isnan(d) else float(d) for d in dist],
                    dtype="Float64",
                ),
            }
        )

    # No type-hint inference (the module's __future__ annotations turn
    # hints into strings): the explicit (fn, returnType) form defaults
    # to the scalar Series→DataFrame eval type this struct return needs.
    nearest = F.pandas_udf(_nearest, "struct<c: int, d: double>")

    struct_col = "__assign"
    out = df.withColumn(
        struct_col, nearest(F.col(vec_col).cast("array<double>"))
    ).withColumn(cluster_col, F.col(f"{struct_col}.c"))
    if dist_col is not None:
        out = out.withColumn(dist_col, F.col(f"{struct_col}.d"))
    return out.drop(struct_col)


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str | None = None,
    literal_budget: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as a zero-shuffle codegen projection.

    ``cluster_col`` is the 0-based index of the nearest centroid by
    squared L2; ties go to the lowest index (``array_position`` returns
    the FIRST occurrence of the minimum). ``dist_col`` (optional) carries
    the winning squared distance.

    Malformed vectors carry a NULL cluster/distance — same excluded-by-
    contract stance as the deterministic samplers: they never join a
    centroid's mean (:func:`_update_centroids` skips the NULL group).
    Malformed = NULL vector, length ≠ the centroid dim, a NULL element
    (the distance fold propagates the null through
    ``array_min``/``array_position``), or a non-finite element (NaN/±Inf
    — guarded explicitly on BOTH faces, round-14: Arrow's list<double>
    transfer collapses NULL elements into NaN, so without the shared
    non-finite→NULL rule the two faces could not stay bit-identical,
    and an Inf element would otherwise let an Inf mean poison the next
    iteration's centroids).

    **Scale envelope.** Centroids embed as plan literals while
    ``centers × dim <= literal_budget`` (default
    :data:`PLAN_LITERAL_BUDGET` = 8192 elements): zero Python, full
    whole-stage codegen. Above the budget the assignment automatically
    switches to :func:`_assign_clusters_arrow` — a broadcast centroid
    matrix + vectorized Arrow batches — which is still zero-shuffle and
    BIT-IDENTICAL to the literal path (same fold order, same
    tie-break); only the physical strategy changes. Both faces are
    equivalence-tested at the budget boundary.
    """
    if literal_budget is None:
        literal_budget = PLAN_LITERAL_BUDGET
    if centroids and len(centroids) * len(centroids[0]) > literal_budget:
        return _assign_clusters_arrow(
            df, centroids, vec_col, cluster_col, dist_col
        )
    cluster_expr, dist_expr = _assign_exprs(
        centroids, vec_col, spark=df.sparkSession
    )
    # ONE select, not withColumn chaining: every Dataset creation runs
    # the full analyzer over the accumulated plan — with the k × dim
    # literal tree in it, each extra withColumn re-walked ~2k nodes and
    # measurably dominated the driver-side cost of every k-means action
    # (r18 optimization; same values, same plan after optimization).
    # withColumn's replace-in-place semantics are preserved for callers
    # that overwrite an existing column name.
    new = {cluster_col: cluster_expr}
    if dist_col is not None:
        new[dist_col] = dist_expr
    cols = [
        (new.pop(c).alias(c) if c in new else F.col(c)) for c in df.columns
    ] + [e.alias(n) for n, e in new.items()]
    return df.select(*cols)


def _assign_exprs(
    centroids: list[list[float]], vec_col: str, spark=None
) -> tuple[Column, Column]:
    """(cluster, distance) expressions for nearest-centroid assignment.

    Shared by :func:`assign_clusters` and the k-means|| advance plan so
    both build the projection in a single ``select`` (one analyzer pass).
    """
    vec = F.col(vec_col).cast("array<double>")
    # transform over the literal matrix preserves centroid order, and
    # each element IS _sq_dist's fold — identical doubles to the old
    # per-centroid F.array([...]) spelling, one plan node instead of
    # k × dim.
    dists = F.transform(
        _centroid_matrix(centroids, spark), lambda c: _sq_dist(vec, c)
    )
    # NULL vectors / wrong lengths / NULL elements already propagate to
    # NULL through the fold (zip_with pads ragged arrays with null);
    # non-finite elements need the explicit guard — a NaN distance
    # would otherwise match itself in array_position (Spark's NaN=NaN)
    # and land in cluster 0.
    finite = ~F.exists(
        vec,
        lambda x: x.isNotNull()
        & (
            F.isnan(x)
            | (x == F.lit(float("inf")))
            | (x == F.lit(float("-inf")))
        ),
    )
    cluster_expr = F.when(
        finite,
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )
    dist_expr = F.when(finite, F.array_min(dists))
    return cluster_expr, dist_expr


def _update_centroids(
    assigned: DataFrame,
    current: list[list[float]],
    vec_col: str,
    cluster_col: str,
) -> list[list[float]]:
    """One Lloyd update: per-(cluster, position) decimal mean.

    The shuffle after the map-side partial aggregate is bounded by
    ``input_partitions × k × dim`` rows; the collect is the k × dim
    directory only.
    """
    dim = len(current[0])
    sums = (
        assigned.select(
            F.col(cluster_col),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .groupBy(cluster_col, "pos")
        .agg(
            F.sum(F.round("val", 4).cast("decimal(28,4)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    by_cluster: dict[int, dict[int, tuple[Decimal, int]]] = {}
    for row in sums:
        if row[cluster_col] is None:  # NULL vectors: excluded by contract
            continue
        by_cluster.setdefault(row[cluster_col], {})[row["pos"]] = (
            row["s"],
            row["n"],
        )
    out: list[list[float]] = []
    for cid, prev in enumerate(current):
        comps = by_cluster.get(cid)
        if not comps:  # empty cluster: keep the previous centroid
            out.append(list(prev))
            continue
        out.append(
            [float(comps[p][0]) / comps[p][1] for p in range(dim)]
        )
    return out


def kmeans_fit(
    df: DataFrame,
    k: int,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init_centroids: list[list[float]] | None = None,
) -> KMeansModel:
    """Deterministic distributed Lloyd fit.

    Default init = the vectors of the k lowest ``id_col`` rows (a
    deterministic, oracle-mirrorable seed — k-means++ would need a
    sequential random scan that no differential oracle could replay
    exactly). Pass ``init_centroids`` (e.g. from
    :func:`kmeans_parallel_init`) for a quality-aware start — the
    bench/deployment path; the oracle face keeps the default. Each
    iteration is one assignment projection + one sketch-sized update
    shuffle; the driver holds only the k × dim directory.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if init_centroids is not None:
        if len(init_centroids) != k:
            raise ValueError(
                f"init_centroids has {len(init_centroids)} rows for k={k}"
            )
        centroids = [[float(x) for x in c] for c in init_centroids]
    else:
        seed_rows = (
            df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
            .filter(F.col(vec_col).isNotNull())  # NULLs excluded by contract
            .orderBy(id_col)
            .limit(k)
            .collect()
        )
        if len(seed_rows) < k:
            raise ValueError(
                f"k={k} exceeds input row count {len(seed_rows)}"
            )
        centroids = [[float(x) for x in r["v"]] for r in seed_rows]
    # Cache the narrow (vec) projection for the duration of the fit: each
    # Lloyd iteration is one full pass, and without the cache every pass
    # re-scans the source and re-projects (MLlib's fit does the same).
    # Memory-and-disk default storage spills gracefully at scale; the
    # cached width is ONE array column, not the caller's row. Released
    # before returning — nothing persists across calls (r18 optimization).
    # fan_out (r19, guide §2.5): the interpreted HOF distance fold and
    # the posexplode update both inherit the SCAN's parallelism — a
    # single-split source (one small file locally; one gzip member /
    # row group in the wild) serializes every Lloyd pass onto one core.
    # Scale-adaptive: a structural no-op whenever the source already
    # offers enough splits; results are layout-independent by protocol
    # (decimal sums, content-keyed draws) and A/B-pinned bit-identical.
    from questdb_etl_jobs_spark.sources.tables import fan_out

    pts = fan_out(
        df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
    ).cache()
    try:
        for _ in range(iterations):
            assigned = assign_clusters(pts, centroids, vec_col=vec_col)
            centroids = _update_centroids(
                assigned, centroids, vec_col, "cluster"
            )
    finally:
        pts.unpersist()
    return KMeansModel(centroids=centroids, iterations=iterations)


def kmeans_inertia(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Sum of squared distances to the nearest centroid (the k-means
    objective) — one zero-shuffle assignment projection + a scalar agg.
    NULL vectors are excluded by contract (their distance is NULL and
    ``sum`` skips it)."""
    assigned = assign_clusters(
        df, centroids, vec_col=vec_col, dist_col="__d"
    )
    row = assigned.agg(F.sum("__d").alias("s")).collect()[0]
    return float(row["s"]) if row["s"] is not None else 0.0


def kmeans_parallel_init(
    df: DataFrame,
    k: int,
    rounds: int = 3,
    oversample: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iterations: int = 10,
) -> list[list[float]]:
    """Scalable k-means|| style initialization (Bahmani et al., VLDB'12
    "Scalable k-means++") — the QUALITY init for real curation fits.

    The naive lowest-id init (:func:`kmeans_fit`'s default) is the
    oracle face: deterministic and mirrorable in sequential CPython,
    but quality-blind — adjacent-id seeds can start k centroids inside
    one dense region. k-means++ fixes quality but is inherently
    sequential (k dependent passes). k-means|| is the distributed
    answer: a few rounds of INDEPENDENT oversampling proportional to
    d²(x, C), then a driver-side weighted reduce of the ~rounds×l
    candidates down to k. Per round: one assignment-style distance
    projection (zero shuffle, centroids as plan literals) + a scalar
    agg for the normalizer + a filter whose survivors are ~l rows — the
    driver only ever holds the candidate directory, never data.

    DETERMINISTIC twist (this engine's differential protocol): the
    Bernoulli draw uses a content-keyed xxhash64 uniform over
    ``(id_col, round)`` instead of ``rand()`` — same candidates
    regardless of partitioning — and the driver-side reduce replaces
    weighted k-means++'s random seeding with the max-weight candidate
    followed by farthest-point (weight × d²) selection, then
    ``lloyd_iterations`` of weighted Lloyd over the candidate set.
    Fully reproducible run-to-run; still bench-path-only because the
    candidate draw depends on float sums no SQL oracle replays.

    Returns k centroids for :func:`kmeans_fit`'s ``init_centroids``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    l = oversample if oversample is not None else 2 * k  # noqa: E741
    # The narrow (id, vec) projection is scanned ~3× per round (psi,
    # candidate draw) plus the weights pass — cache it once (the
    # standard k-means|| practice, e.g. MLlib caching norms) and
    # release it before returning. fan_out first (r19, guide §2.5):
    # every per-round advance/ψ materialization inherits the scan's
    # split count, and the interpreted HOF distance fold on a one-split
    # source runs single-core (measured: the three ψ/weights actions
    # were 0.8-1.0 s each at sf0.1, ~0.2-0.5 s after). Structural no-op
    # at deployment split counts; the init's draws/sums are
    # layout-independent by construction (content-keyed uniforms,
    # decimal ψ) and the whole init is A/B-pinned bit-identical.
    from questdb_etl_jobs_spark.sources.tables import fan_out

    pts = fan_out(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).filter(F.col(vec_col).isNotNull())
    ).cache()
    try:
        return _parallel_init_rounds(pts, k, rounds, l, lloyd_iterations)
    finally:
        pts.unpersist()


def _parallel_init_rounds(
    pts: DataFrame, k: int, rounds: int, l: int,  # noqa: E741
    lloyd_iterations: int,
) -> list[list[float]]:
    # Seed: the lowest-id vector (deterministic, one bounded collect).
    seed = pts.orderBy("__id").limit(1).collect()
    if not seed:
        raise ValueError("kmeans_parallel_init: no non-null vectors")
    centers: list[list[float]] = [[float(x) for x in seed[0]["__v"]]]

    # Incremental nearest-center state (round-14; the MLlib k-means||
    # layout): one cached (__id, __v, __c, __d) frame carries each
    # point's winning center and d²(x, C). A round only computes
    # distances to the centers IT added — the growing prefix is never
    # re-scored (the round-13 shape recomputed d² to every center twice
    # per round: once for psi, once for the draw) — and the final
    # weights pass is a pure groupBy with ZERO distance work.
    # Bit-identical to full re-scoring: the strict-< running update
    # keeps the earlier (lower-index) center on ties, exactly
    # array_position's first-minimum, and the d² folds are the same
    # doubles assign_clusters would produce (it IS assign_clusters,
    # batch by batch); malformed vectors carry NULL __c/__d through
    # every update (NULL never wins a strict <), matching the one-shot
    # face's NULL bucket.
    def _psi(state: DataFrame) -> float:
        """Normalizer via the decimal protocol (order-independent sum of
        pre-rounded terms), so the Bernoulli thresholds — and hence the
        candidate set — are identical on ANY partition layout."""
        row = state.agg(
            F.sum(F.round("__d", 6).cast("decimal(38,6)")).alias("psi")
        ).collect()[0]
        return float(row["psi"]) if row["psi"] else 0.0

    def _advance_plan(state: DataFrame, batch, offset: int) -> DataFrame:
        """Fold a not-yet-scored center batch into the state (lazy plan
        only — the caller decides which action materializes it). The
        batch rides assign_clusters, so the init inherits the
        plan-literal envelope (above PLAN_LITERAL_BUDGET the batch
        distances switch to the broadcast/Arrow path, same fold).

        The batch→global id map is a reference-typed int-array literal
        (``element_at(ids, __nc + 1)``) instead of ``__nc + <offset>``:
        a primitive int literal is INLINED into the generated source, so
        a per-round offset recompiled the whole distance-fold codegen
        unit every round (~0.3 s each); an array literal rides the
        ``references`` array and the source stays byte-identical across
        rounds — one compile for the whole init (r18 optimization;
        same values: ids[nc] == nc + offset by construction)."""
        beats = F.col("__nd") < F.col("__d")
        ids = F.expr(
            sqltext.literal([offset + i for i in range(len(batch))])
        )
        return (
            assign_clusters(
                state, batch, vec_col="__v",
                cluster_col="__nc", dist_col="__nd",
            )
            .select(
                "__id",
                "__v",
                F.when(beats, F.element_at(ids, F.col("__nc") + 1))
                .otherwise(F.col("__c"))
                .alias("__c"),
                F.when(beats, F.col("__nd"))
                .otherwise(F.col("__d"))
                .alias("__d"),
            )
        )

    cur = (
        assign_clusters(
            pts, centers, vec_col="__v", cluster_col="__c", dist_col="__d"
        )
        .select("__id", "__v", "__c", "__d")
        .cache()
    )
    scored_from = len(centers)  # centers[:scored_from] are in `cur`
    # r18 job fusion: the psi aggregate doubles as the action that
    # materializes each cache generation — the old shape ran a separate
    # count() per advance plus a psi job per round (3 actions/round);
    # fusing them is 2 actions/round with IDENTICAL values (psi over the
    # advanced state is the same decimal sum wherever it is computed),
    # and the final round's advance materializes under the weights pass
    # instead of its own count. (r19 measured-and-REJECTED: fusing ψ
    # WITH the draw — ψ as a broadcast-cross-joined column feeding the
    # threshold, candidates collect_list'ed beside it in one action —
    # was bit-identical but SLOWER, 3.2-3.8 s → 3.6-5.3 s same-session:
    # the broadcast build + BroadcastNestedLoopJoin + second 1-row join
    # cost more than the one action they save. The action count here is
    # at the Dataset-API floor for the remaining shape.)
    psi = _psi(cur)  # materializes the seed-distance cache
    final = None  # last round's advanced state (lazy, reads `cur`'s cache)
    for rnd in range(rounds):
        if psi <= 0.0:
            break  # every point coincides with a center already
        # Content-keyed uniform in [0, 1): same draw on any layout.
        u = (
            F.pmod(F.xxhash64("__id", F.lit(rnd)), F.lit(1 << 31))
            / F.lit(float(1 << 31))
        )
        picked = cur.filter(
            u < (F.col("__d") * F.lit(float(l)) / F.lit(psi))
        ).select("__id", "__v").collect()
        existing = {tuple(c) for c in centers}
        for r in sorted(picked, key=lambda r: r["__id"]):
            v = [float(x) for x in r["__v"]]
            if tuple(v) not in existing:
                existing.add(tuple(v))
                centers.append(v)
        batch = centers[scored_from:]
        if batch:
            nxt = _advance_plan(cur, batch, scored_from)
            if rnd < rounds - 1:
                nxt = nxt.cache()
                psi = _psi(nxt)  # materializes nxt AND yields next round's ψ
                cur.unpersist()
                cur = nxt
            else:
                final = nxt  # one pass under the weights action below
        # batch empty: state and ψ are unchanged — skip the identical
        # recompute the old shape performed.
        scored_from = len(centers)

    # Weights: how many points each candidate wins — the state already
    # holds every point's winner, so this is one grouped count over the
    # cache (directory-sized exchange; the final round's batch distances
    # fold in here when `final` is set — one computation either way).
    weights = [0] * len(centers)
    for r in (
        (final if final is not None else cur)
        .groupBy("__c").agg(F.count(F.lit(1)).alias("n")).collect()
    ):
        if r["__c"] is not None:
            weights[r["__c"]] = int(r["n"])
    cur.unpersist()

    return _weighted_reduce(centers, weights, k, lloyd_iterations)


def _sq(a: list[float], b: list[float]) -> float:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _weighted_reduce(
    centers: list[list[float]], weights: list[int], k: int, iters: int
) -> list[list[float]]:
    """Driver-side deterministic reduce of the candidate directory to k
    centroids: max-weight start, farthest-point (weight × d²) additions,
    then weighted Lloyd. Candidate count is ~rounds × oversample —
    directory-sized, never data-sized."""
    if len(centers) <= k:
        # Too few distinct candidates (tiny input): pad deterministically
        # by repeating in candidate order — kmeans_fit's Lloyd rounds
        # keep duplicates stable (empty clusters retain their centroid).
        out = [list(c) for c in centers]
        i = 0
        while len(out) < k:
            out.append(list(centers[i % len(centers)]))
            i += 1
        return out
    chosen = [max(range(len(centers)), key=lambda i: (weights[i], -i))]
    while len(chosen) < k:
        best, best_score = -1, (-1.0, 0)
        for i in range(len(centers)):
            if i in chosen:
                continue
            d = min(_sq(centers[i], centers[j]) for j in chosen)
            score = (weights[i] * d, -i)
            if score > best_score:
                best, best_score = i, score
        chosen.append(best)
    cents = [list(centers[i]) for i in chosen]
    dim = len(cents[0])
    for _ in range(iters):
        sums = [[0.0] * dim for _ in range(k)]
        cnts = [0] * k
        for c, w in zip(centers, weights):
            if w == 0:
                continue
            j = min(range(k), key=lambda j: (_sq(c, cents[j]), j))
            cnts[j] += w
            for p in range(dim):
                sums[j][p] += w * c[p]
        nxt = [
            [s / n for s in row] if n else list(prev)
            for row, n, prev in zip(sums, cnts, cents)
        ]
        if nxt == cents:
            break
        cents = nxt
    return cents


def kmeans_transform(
    df: DataFrame,
    model: KMeansModel,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str | None = "sq_dist",
) -> DataFrame:
    """Final assignment under a fitted model (zero-shuffle projection)."""
    return assign_clusters(
        df, model.centroids, vec_col=vec_col,
        cluster_col=cluster_col, dist_col=dist_col,
    )
