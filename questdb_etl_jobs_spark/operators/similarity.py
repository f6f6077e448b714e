"""Similarity search over embedding columns (array<float>).

Two paths, same contract:

- :func:`cosine_topk` — exact brute force. One scan, no shuffle until the
  final top-k (``TakeOrderedAndProject`` — Spark keeps k rows per
  partition, never a global sort). Right answer, O(N·d) work: the baseline
  and the oracle-checkable path.
- :func:`lsh_topk` — sign-random-projection LSH: deterministic seeded
  hyperplanes → bit signature → candidates share a bucket → exact re-rank
  inside buckets only. At 100 TB the probe touches one bucket (a partition-
  pruned slice), not the corpus. Approximate: recall < 1, tunable via
  (n_planes, n_tables).

An IVF variant (coarse k-means centroids as buckets) would slot into the
same re-rank shape; LSH is chosen because it's training-free and purely
expression-based.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from questdb_etl_jobs_spark import sqltext
from questdb_etl_jobs_spark.functions.vectors import cosine_similarity, dot


def cosine_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to the probe vector.

    Returns (id_col, cosine) ordered by similarity desc, id asc. The probe
    is a plan literal — broadcast to every task for free.
    """
    probe_col = F.expr(sqltext.literal([float(x) for x in probe]))
    scored = embeddings.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), probe_col).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def all_pairs_above(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-dup pairs (cosine ≥ threshold).

    Quadratic — intended for bounded slices or as the verify stage behind
    LSH candidates; the join is a broadcast nested loop when one side is
    small."""
    a = embeddings.select(
        F.col(id_col).alias(f"{id_col}_a"), F.col(vec_col).alias("__va")
    )
    b = embeddings.select(
        F.col(id_col).alias(f"{id_col}_b"), F.col(vec_col).alias("__vb")
    )
    pairs = a.join(b, F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
    return pairs.select(
        f"{id_col}_a",
        f"{id_col}_b",
        cosine_similarity(F.col("__va"), F.col("__vb")).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def add_lsh_signature(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
    sig_col: str = "lsh_sig",
) -> DataFrame:
    """Append a sign-random-projection signature (string of 0/1 bits).

    Deterministic: hyperplanes derive from ``seed`` only, so signatures are
    stable across runs/clusters — bucketing and storage partitioning on the
    signature stay consistent (write-time partitionBy(sig) makes probe
    lookups partition-pruned scans).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(dot(F.col(vec_col), F.expr(sqltext.literal(plane))) >= 0, "1")
        .otherwise("0")
        for plane in planes
    ]
    return embeddings.withColumn(sig_col, F.concat(*bits))


def train_centroids(
    embeddings: DataFrame,
    k: int,
    n_iters: int = 2,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for IVF coarse centroids.

    Init = the k rows with smallest ``xxhash64(id, seed)`` (a seeded
    pseudo-random sample that is stable across runs/clusters); each
    iteration assigns by argmin L2 and recomputes means elementwise via
    posexplode → groupBy(cluster, dim) — all DataFrame ops, no driver-side
    loops over data. Centroid count k is small by construction (IVF coarse
    quantizer), so collecting k×dim floats to the driver is O(k·dim).

    Training cost is n_iters scans; real deployments train once and reuse
    — the operator contract is the (assignment, pruned probe) pair, not
    the trainer.
    """
    init = (
        embeddings.select(id_col, vec_col)
        .withColumn("__h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("__h")
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [[float(x) for x in row[vec_col]] for row in init]
    for _ in range(n_iters):
        assigned = embeddings.select(
            ivf_assign(centroids, vec_col).alias("__cluster"),
            F.posexplode(F.col(vec_col)).alias("__dim", "__x"),
        )
        means = (
            assigned.groupBy("__cluster", "__dim")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__cluster")
            .agg(F.array_sort(F.collect_list(F.struct("__dim", "__m"))).alias("__ms"))
            .collect()
        )
        for row in means:
            centroids[row["__cluster"]] = [float(s["__m"]) for s in row["__ms"]]
    return centroids


def ivf_assign(centroids: list[list[float]], vec_col: str = "embedding"):
    """Column: index of the nearest centroid by squared L2 (plan literal).

    The centroid matrix rides into codegen as array literals — broadcast
    to every task for free, no join.
    """
    v = F.col(vec_col)
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v,
                    F.expr(sqltext.literal([float(x) for x in centroid])),
                    lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
            for centroid in centroids
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def write_ivf_partitioned(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "ivf_cluster",
    mode: str = "overwrite",
) -> None:
    """Persist embeddings partitioned by IVF cluster id.

    The IVF analogue of :func:`write_lsh_bucketed`: each coarse cell is a
    storage partition, so a probe scans ``n_probe`` directories instead of
    the corpus."""
    assigned = embeddings.withColumn(cluster_col, ivf_assign(centroids, vec_col))
    assigned.write.partitionBy(cluster_col).mode(mode).parquet(path)


def ivf_topk(
    spark,
    path: str,
    probe: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "ivf_cluster",
) -> DataFrame:
    """Approximate top-k over a :func:`write_ivf_partitioned` table.

    Scans the ``n_probe`` cells nearest the probe (partition-pruned:
    ``cluster IN (...)`` is a partition filter); exact cosine re-rank
    inside. Recall rises with n_probe — n_probe = len(centroids) recovers
    exact brute force.
    """
    dists = [
        sum((x - c) * (x - c) for x, c in zip(probe, centroid))
        for centroid in centroids
    ]
    nearest = sorted(range(len(centroids)), key=lambda i: dists[i])[:n_probe]
    cells = spark.read.parquet(path).filter(F.col(cluster_col).isin(nearest))
    return cosine_topk(cells, probe, k, id_col=id_col, vec_col=vec_col)


def write_lsh_bucketed(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 12,
    seed: int = 7,
    vec_col: str = "embedding",
    sig_col: str = "lsh_sig",
    mode: str = "overwrite",
) -> None:
    """Persist embeddings partitioned by LSH signature.

    This is what makes :func:`lsh_topk_bucketed` a partition-pruned scan at
    100 TB: each signature becomes a storage partition
    (``.../lsh_sig=0110.../part-*.parquet``), so a probe reads ONE
    directory out of 2^n_planes instead of filtering the corpus. Signatures
    are deterministic in (dim, n_planes, seed) — writer and probe agree as
    long as they share the parameters.
    """
    signed = add_lsh_signature(
        embeddings, dim, n_planes, seed, vec_col=vec_col, sig_col=sig_col
    )
    signed.write.partitionBy(sig_col).mode(mode).parquet(path)


def probe_signature(probe: list[float], n_planes: int = 12, seed: int = 7) -> str:
    """The LSH bucket a probe vector falls in (same hyperplanes as the
    writer)."""
    planes = _hyperplanes(len(probe), n_planes, seed)
    return "".join(
        "1" if sum(w * x for w, x in zip(plane, probe)) >= 0 else "0"
        for plane in planes
    )


def lsh_topk_bucketed(
    spark,
    path: str,
    probe: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over a :func:`write_lsh_bucketed` table.

    The ``lsh_sig == <bucket>`` filter is a partition filter — Catalyst
    prunes to the single matching directory (assert `PartitionFilters` in
    the scan node), so probe cost is O(bucket), not O(corpus).
    """
    bucket_sig = probe_signature(probe, n_planes, seed)
    bucket = spark.read.parquet(path).filter(F.col("lsh_sig") == bucket_sig)
    return cosine_topk(bucket, probe, k, id_col=id_col, vec_col=vec_col)


def lsh_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 12,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact re-rank restricted to the probe's LSH bucket.

    Same output schema as :func:`cosine_topk`. Recall improves with fewer
    planes (bigger buckets) or multiple tables (union of seeds).
    """
    dim = dim if dim is not None else len(probe)
    planes = _hyperplanes(dim, n_planes, seed)
    probe_bits = "".join(
        "1" if sum(w * x for w, x in zip(plane, probe)) >= 0 else "0"
        for plane in planes
    )
    signed = add_lsh_signature(embeddings, dim, n_planes, seed, vec_col=vec_col)
    bucket = signed.filter(F.col("lsh_sig") == probe_bits)
    return cosine_topk(bucket, probe, k, id_col=id_col, vec_col=vec_col)


def semantic_dedup_losers(
    embeddings: DataFrame,
    seeds: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-shaped semantic pruning: Voronoi-cell partition around
    fixed seed vectors, exact pairwise cosine ONLY within each cell,
    drop the higher id of every pair above ``threshold``.

    Returns the dropped side: (id, n_twins, max_cosine) — one row per
    document that has at least one lower-id near-twin in its cell;
    anti-join the corpus against it to keep survivors (the deterministic
    min-id winner rule every dedup operator here uses).

    Why fixed seeds instead of trained k-means centroids: assignment is
    a pure expression of the data (argmin L2 against literal vectors,
    ties to the first seed), so results are reproducible across engines
    and runs — iterative centroid means depend on float accumulation
    order across partitions. Deployments that train centroids offline
    (see :func:`train_centroids`) pass them here the same way.

    Scale shape: the quadratic term is confined to one cell — grow the
    seed count with the corpus to hold cell size ~constant, making the
    pair stage O(n · cell_size). Cells are a hash-shuffle groupBy key;
    a hot cell (many near-identical embeddings) is exactly AQE's
    skew-join case. The cross-cell near-pair miss rate is the operator's
    documented approximation (SemDeDup's own trade; Abbas et al., 2023).
    """
    from questdb_etl_jobs_spark.functions.vectors import cosine_similarity

    cell = ivf_assign(seeds, vec_col).alias("__cell")
    assigned = embeddings.select(
        F.col(id_col), F.col(vec_col), cell
    )
    a = assigned.select(
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        "__cell",
    )
    b = assigned.select(
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        "__cell",
    )
    pairs = a.join(b, "__cell").filter(F.col("__ida") < F.col("__idb"))
    scored = pairs.select(
        "__idb",
        cosine_similarity("__va", "__vb").alias("__cos"),
    ).filter(F.col("__cos") >= F.lit(threshold))
    return (
        scored.groupBy("__idb")
        .agg(
            F.count(F.lit(1)).alias("n_twins"),
            F.max("__cos").alias("max_cosine"),
        )
        .select(F.col("__idb").alias(id_col), "n_twins", "max_cosine")
    )
