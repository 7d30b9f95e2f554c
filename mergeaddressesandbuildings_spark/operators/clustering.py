"""Distributed k-means topic clustering over the embeddings table
(SURVEY.md §2 webpipe family) — INTEGER-EXACT Lloyd iterations, so the
cluster assignment is bit-identical across engines, parallelism levels
and retries, and therefore DuckDB-oracle-pairable (the same contract
``operators/graph.py`` uses ppm-BIGINT arithmetic for).

Why integer: float Lloyd is not reproducible — Spark's partial-agg sum
order changes the centroid in the last ulps, and a borderline vector
then flips clusters, cascading through every later iteration. Here
every quantity the algorithm branches on is an exact int64:

1. **Quantize** each float32 coordinate once:
   ``floor(double(x) * 2^20 + 0.5)`` — float32→double is exact, and
   both engines implement IEEE double multiply/floor identically
   (floor(v+0.5) rather than round() because HALF_UP-vs-banker edge
   cases differ between engines; floor does not).
2. **Assign**: squared L2 distance between quantized vectors is a sum
   of 64 terms each ≤ (2·2^20)² ≈ 4.4e12 — exact in int64 (max
   ~2.8e14) with no float anywhere; argmin ties break on the LOWER
   centroid id.
3. **Update**: per-dimension coordinate SUM and member COUNT are exact
   integer aggregations (order-independent by associativity); the new
   centroid coordinate is ``floor(sum/count + 0.5)`` — one double
   division of two exact int64s, identical bits in any engine — then
   re-quantized back to int64 before the next assign. Empty clusters
   keep their previous centroid.

Seeding is deterministic: the k lowest ``vec_id`` vectors. Each Lloyd
iteration is 1 broadcast of k×dim ints to the executors + 1 map-side-
combinable hash agg over (cluster, dim) — shuffle volume k·dim rows
regardless of input size, the right shape for 10^12 vectors. The
centroid table (k·dim int64s) rides the driver like graph.py's
convergence counter and similarity.py's IVF centroids — bounded
metadata, never O(data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["QUANT", "quantize", "kmeans_assign"]

QUANT = 1 << 20  # 2^20: float32 [-1,1] coords → ±~1e6 int64


def quantize(embeddings: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """→ (vec_id, qvec:array<long>): floor(double(x)*2^20 + 0.5)."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(QUANT))
                              + F.lit(0.5)).cast("long"),
        ).alias("qvec"),
    )


def _assign_ids(qdf: DataFrame, cents: np.ndarray) -> DataFrame:
    """Nearest-centroid id per vector, exact int64 distances, ties →
    lower centroid id. One Arrow-batched matmul-free pass (int64 ops
    stay exact; np.argmin returns the first/lowest index on ties)."""
    c = cents.copy()  # (k, dim) int64

    @F.pandas_udf(T.IntegerType())
    def nearest(qv: pd.Series) -> pd.Series:
        x = np.stack(qv.to_numpy())  # (n, dim) int64
        # (n, k, dim) diffs would be exact but big; loop over k instead
        # (k is tiny) keeping everything int64 and cache-friendly.
        best_d = None
        best_i = None
        for i in range(c.shape[0]):
            diff = x - c[i]
            d = np.einsum("nd,nd->n", diff, diff)  # exact int64
            if best_d is None:
                best_d, best_i = d, np.zeros(len(d), dtype=np.int32)
            else:
                upd = d < best_d  # strict: ties keep lower id
                best_d = np.where(upd, d, best_d)
                best_i = np.where(upd, np.int32(i), best_i)
        return pd.Series(best_i)

    return qdf.withColumn("cluster_id", nearest("qvec"))


def kmeans_assign(embeddings: DataFrame, k: int = 8, iters: int = 3,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Integer-exact Lloyd: → (vec_id, cluster_id) after ``iters``
    assign+update rounds from the k lowest-id seed vectors."""
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    qdf = quantize(embeddings, vec_col, id_col)
    # localCheckpoint: the quantized table is re-scanned once per
    # iteration; cut lineage so iter i doesn't re-run iters 0..i-1.
    qdf = qdf.localCheckpoint(eager=True)

    seeds = qdf.orderBy("vec_id").limit(k).collect()  # bounded: k rows
    cents = np.array([r["qvec"] for r in sorted(seeds,
                                                key=lambda r: r["vec_id"])],
                     dtype=np.int64)
    if len(cents) < k:
        raise ValueError(f"k={k} exceeds input row count {len(cents)}")

    dim = cents.shape[1]
    for _ in range(iters):
        assigned = _assign_ids(qdf, cents)
        # exact integer per-(cluster, dim) sums: explode → hash agg;
        # k·dim result rows regardless of input size
        sums = (
            assigned.select("cluster_id",
                            F.posexplode("qvec").alias("d", "x"))
            .groupBy("cluster_id", "d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = cents.copy()  # empty clusters keep previous centroid
        for r in sums:
            # floor(exact_int / exact_int + 0.5) in double: identical
            # bits in every engine
            new[r["cluster_id"], r["d"]] = int(
                np.floor(r["s"] / r["n"] + 0.5))
        cents = new
    return (_assign_ids(qdf, cents)
            .select("vec_id", "cluster_id"))


def grid_epsilon_cluster(points: DataFrame, eps: int,
                         id_col: str = "pid",
                         x_col: str = "ix", y_col: str = "iy",
                         scratch_dir: str | None = None,
                         max_iters: int = 50) -> DataFrame:
    """DBSCAN-style single-linkage spatial clustering with an integer
    distance cutoff: two points share a cluster iff a chain of points
    connects them with every hop's squared Euclidean distance
    <= eps^2. → (pid, cluster_id = min pid reachable), both BIGINT —
    exact integer arithmetic end to end, so the labeling is
    engine/parallelism/retry-invariant and driver-hashable.

    The address-clustering counterpart of the merge engine's kNN join:
    candidate generation is the SAME eps-grid equi-join shape as
    operators/spatial_join.py (cell = coord div eps; a pair within eps
    always lands in adjacent cells, so probing the 3x3 neighborhood is
    exhaustive — no theta join, no all-pairs). Edges then collapse to
    components via doc_dedupe.dup_clusters' hash-min label propagation
    with path halving (O(log diameter) rounds, parquet-barriered).

    Scale shape: the probe side explodes 9x (bounded constant); the
    join is an equi-join on cell id, so dense urban cells are the only
    hotspot — the same skew profile as spatial_join's pair-join, which
    AQE's skew-join split handles, and eps chosen ~ the match cutoff
    keeps per-cell membership small.
    ``scratch_dir`` follows dup_clusters' contract (shared filesystem
    on a real cluster).
    """
    if eps < 1:
        raise ValueError("eps must be a positive integer")
    from mergeaddressesandbuildings_spark.operators import doc_dedupe

    pts = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("ix"),
        F.col(y_col).cast("long").alias("iy"),
    )
    cell = [(F.floor(F.col(c) / eps)).cast("long") for c in ("ix", "iy")]
    home = pts.select("pid", "ix", "iy",
                      cell[0].alias("cx"), cell[1].alias("cy"))
    probe = home.select(
        "pid", "ix", "iy",
        F.explode(F.array(*[
            F.struct((F.col("cx") + dx).alias("cx"),
                     (F.col("cy") + dy).alias("cy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])).alias("nc"),
    ).select("pid", "ix", "iy",
             F.col("nc.cx").alias("cx"), F.col("nc.cy").alias("cy"))
    h, p = home.alias("h"), probe.alias("p")
    dx = F.col("h.ix") - F.col("p.ix")
    dy = F.col("h.iy") - F.col("p.iy")
    edges = (
        h.join(p, ["cx", "cy"])
        .filter((F.col("h.pid") < F.col("p.pid"))
                & (dx * dx + dy * dy <= F.lit(eps * eps)))
        .select(F.col("h.pid").alias("pid_a"),
                F.col("p.pid").alias("pid_b"))
        # the mirrored home/probe roles can emit a pair twice
        .distinct()
    )
    comps = doc_dedupe.dup_clusters(
        edges, a_col="pid_a", b_col="pid_b",
        max_iters=max_iters, scratch_dir=scratch_dir,
    ).select(F.col("doc_id").alias("pid"),
             F.col("cluster_id").cast("long").alias("cluster_id"))
    return (
        pts.select("pid")
        .join(comps, "pid", "left")
        .select("pid",
                F.coalesce("cluster_id", F.col("pid")).alias("cluster_id"))
    )
