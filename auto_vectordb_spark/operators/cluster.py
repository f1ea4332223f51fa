"""Embedding-space clustering for corpus curation (cluster → inspect →
filter/rebalance — the standard "topic cluster" pass of a training-data
pipeline; SemDeDup-style near-dup pruning and cluster-balanced sampling both
start from exactly this assignment).

The reference has no clustering (its corpus fits in one Postgres table,
backend/utils/database.py), but its IVF-style retrieval knobs
(elasticsearch_index.py:261-277 ``num_candidates``) assume a coarse
quantizer; this module IS that quantizer, exposed as a first-class operator.

Scale design
------------
* **Assignment is a pure map.** Centroids are a tiny k×d table; we inline
  them as literals so scoring is one JVM expression per row — the 100 TB
  corpus is scanned once, never shuffled, and no join appears in the plan.
* **Mean recomputation is a short-key shuffle.** posexplode → (cluster, pos)
  partial sums (map-side combine) → k·d rows. Per-element values are
  quantized to int64 *before* summation (``_Q = 1e7``) so the mean is an
  exact integer sum in any reduction order — both deterministic for the
  DuckDB oracle and stable across cluster re-runs.
* **Lloyd iterations collect only k×d doubles per round** (the centroid
  matrix), the same sanctioned tiny-collect as BM25's two scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cleanvec as CV
from ..functions import vector as V
from ..session import materialized

# per-element quantization for exact (order-independent) centroid means:
# embeddings are unit-scale floats, 1e7 keeps 7 decimals in int64 with room
# for 2^30 rows per (cluster, pos) group.
_Q = 10_000_000


def sqdist(a, b) -> F.Column:
    """Sequential-order squared L2 — bit-identical to the DuckDB twin
    ``list_sum(list_transform(range(...), i -> (a[i]-b[i])^2))``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_centroids(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_decimals: int = 6,
) -> DataFrame:
    """(id, cluster_id, dist) — nearest centroid per vector, map-only.

    ``centroids`` is driver-side (k×d, tiny by construction); each centroid
    becomes a literal array in ONE whole-stage-codegen'd projection:
    ``array_min(array(struct(d_0, 0), ..., struct(d_{k-1}, k-1)))`` — argmin
    by (rounded distance, cluster id), zero shuffle, zero join. This is the
    plan that survives 100 TB: assignment cost is exactly one corpus scan.
    """
    if not centroids:
        # a quantizer trained on an empty slice has no cells — the
        # well-defined degenerate result is an EMPTY assignment with the
        # normal schema, not an analysis-time crash on array_min(array())
        # (whose element type is VOID); at 100 TB an empty source/day
        # partition is routine and must not kill the job
        return vectors.select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("double").alias("dist"),
        ).where(F.lit(False))
    v = V.as_double_array(F.col(vec_col))
    candidates = F.array(
        *[
            F.struct(
                F.round(sqdist(v, F.array(*[F.lit(float(x)) for x in c])), round_decimals).alias(
                    "d"
                ),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_min(candidates)
    # nan_to_null: a NaN vector's distance is NaN to every centroid; the
    # argmin still assigns deterministically (Spark orders NaN greatest),
    # but the emitted dist must be NULL, not NaN — NaN would silently win
    # any downstream desc ranking (the wrong-value class, vector.cosine
    # doctrine). No-op on clean data.
    return vectors.select(
        F.col(id_col),
        best["cid"].alias("cluster_id"),
        V.nan_to_null(best["d"]).alias("dist"),
    )


def centroid_means_exact(
    assigned: DataFrame,
    cluster_col: str = "cluster_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster_id, centroid array<double>, n) — exact quantized-int means.

    posexplode → int64 partial sums per (cluster, pos) → reassemble ordered.
    Deterministic in any reduction order (parity rule 1), so the same code
    is both the oracle twin and the production path.
    """
    exploded = assigned.select(
        F.col(cluster_col).alias("cluster_id"),
        F.posexplode(V.as_double_array(F.col(vec_col))).alias("pos", "v"),
    ).withColumn("qv", F.round(F.col("v") * _Q).try_cast("long"))
    sums = exploded.groupBy("cluster_id", "pos").agg(
        F.sum("qv").alias("s"), F.count("*").alias("n")
    )
    return (
        sums.groupBy("cluster_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"),
            F.first("n").alias("n"),
        )
        .select(
            "cluster_id",
            F.transform(F.col("ps"), lambda x: x["s"].cast("double") / (F.col("n") * _Q)).alias(
                "centroid"
            ),
            "n",
        )
    )


def lloyd(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]], list[float]]:
    """Deterministic distributed k-means: init = the k lowest-id vectors,
    then ``iters`` rounds of (map-only assign → exact-mean update).

    Returns (final assignment, final centroids, per-iteration inertia).
    Per round the cluster-side work is one scan + one k·d-key shuffle; only
    the k×d centroid matrix ever reaches the driver. Empty clusters keep
    their previous centroid (the standard Lloyd fix).
    """
    # seed from the k lowest-id VALID vectors: a NULL / zero-length /
    # NULL-element embedding among the lowest ids must fail the row, not
    # the job (list(None) below was a driver-side TypeError), and a RAGGED
    # one must not silently poison a centroid with the wrong
    # dimensionality — valid_vec pins seeds to the corpus's modal dim
    dim = CV.probe_dim(vectors, vec_col)
    first = (
        vectors.where(CV.valid_vec(vec_col, dim) if dim else F.lit(False))
        .orderBy(F.col(id_col))
        .limit(k)
        .select(V.as_double_array(F.col(vec_col)).alias("c"))
        .collect()
    )
    centroids: list[list[float]] = [list(r["c"]) for r in first]
    if not centroids:
        # empty input: no seeds, no iterations — empty assignment out
        return (
            assign_centroids(vectors, [], vec_col=vec_col, id_col=id_col),
            [],
            [],
        )
    inertia: list[float] = []
    for _ in range(iters):
        assigned = assign_centroids(vectors, centroids, vec_col=vec_col, id_col=id_col)
        # two actions consume `joined` per round (the centroid-update
        # collect and the inertia aggregate); materialize the assignment
        # once so the corpus assign+self-join runs once per round, not
        # twice (opt guide §2.4). Lloyd at scale caches its working set
        # per iteration anyway (MLlib does the same); released with its
        # round, so per-iteration corpus copies never pile up.
        with materialized(
            vectors.join(assigned.select(id_col, "cluster_id", "dist"), id_col),
            "localCheckpoint",
        ) as joined:
            stats = centroid_means_exact(joined, "cluster_id", vec_col)
            agg = joined.agg(
                F.sum(F.round(F.col("dist") * 1_000_000).try_cast("long")).alias("qi")
            )
            inertia.append(agg.first()["qi"] / 1_000_000)
            new = {r["cluster_id"]: list(r["centroid"]) for r in stats.collect()}
        # effective k = len(centroids): a tiny slice (n < k rows) seeds
        # fewer than k centroids, and indexing range(k) would IndexError
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    out = assign_centroids(vectors, centroids, vec_col=vec_col, id_col=id_col)
    return out, centroids, inertia


def outliers_by_group_centroid(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    top_n: int = 20,
) -> DataFrame:
    """(id, group, dist) — the ``top_n`` vectors farthest from their own
    group's centroid: embedding-space mislabel/garbage detection.

    Centroids via :func:`centroid_means_exact` (exact, tiny result) are
    re-joined broadcast; distance is one map-side expression; the final cut
    is a TakeOrderedAndProject, not a global sort.
    """
    cents = centroid_means_exact(
        vectors.withColumnRenamed(group_col, "cluster_id"), "cluster_id", vec_col
    ).select(F.col("cluster_id").alias(group_col), "centroid")
    # nan_to_null: a NaN vector must not occupy a top-outlier slot with a
    # garbage NaN distance (desc ranks NaN first); NULL sorts last instead
    d = V.nan_to_null(
        F.round(sqdist(V.as_double_array(F.col(vec_col)), F.col("centroid")), 6)
    )
    scored = (
        vectors.join(F.broadcast(cents), group_col)
        .select(F.col(id_col), F.col(group_col), d.alias("dist"))
    )
    # a malformed (NULL-dist) row is not an outlier FINDING — it must not
    # pad the top-n when a group has fewer than top_n valid rows
    return (
        scored.where(F.col("dist").isNotNull())
        .orderBy(F.desc("dist"), F.asc(id_col))
        .limit(top_n)
    )


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", quant_scale: int = 6
) -> DataFrame:
    """Exact-integer upper-triangular second-moment (Gram) matrix of an
    embedding column: (i, j, sum_q) with 1-based dims, i ≤ j, and
    ``sum_q = Σ_rows round(x_i · x_j · 10^quant_scale)`` (half-away, parity
    rule 1 — per-row products are bit-identical doubles in any engine, the
    sum is exact int64 in any reduction order).

    This is the PCA/whitening/ZCA front end: together with the per-dim sums
    of ``embedding_dim_stats`` it yields the covariance matrix
    (cov = M/n − μμᵀ) without a second corpus pass; eigendecomposition of
    the d×d result is a driver-side O(d³) afterthought.

    Scale shape: an Arrow-batched kernel computes one d×d int64 partial
    PER PARTITION (rows stream through numpy, nothing materializes beyond
    a batch), then a groupBy over d(d+1)/2-row partials — the classic
    treeAggregate shape expressed in DataFrame algebra. The corpus is
    scanned once, shuffles only d² rows per partition. Headroom: per-row
    quanta are ~10^q·|x|², so int64 holds ≳2^62/10^q rows per cell —
    shard by a row-hash column and sum twice if a corpus ever exceeds it.
    """
    import numpy as np
    import pandas as pd

    scale = float(10**quant_scale)

    def part(it):
        acc = None
        for pdf in it:
            # row-fails-not-job: a NULL embedding contributes nothing, and
            # a ragged (short) vector contributes only its PRESENT dims —
            # zero-padding makes each missing dim's products exactly 0,
            # the same semantics as the oracle's NULL-skipping sums
            # (np.stack over None/ragged rows would otherwise kill the
            # whole partition task)
            vs = [
                np.asarray(v, dtype=np.float64)
                for v in pdf[vec_col].to_numpy()
                if v is not None
            ]
            # row-fails-not-job, exactness edition: a NaN/inf element, or a
            # magnitude whose quantized product exceeds int64, would pass
            # through astype(int64) as SILENT garbage (INT64_MIN) — the
            # worst failure mode. Such rows drop like NULL rows; max|x|²·Q
            # bounds every pairwise product, so the check is O(d) per row.
            vs = [
                a
                for a in vs
                if np.isfinite(a).all()
                and np.abs(a).max(initial=0.0) ** 2 * scale < 2.0**63
            ]
            if len(vs) == 0:
                continue
            d = max(a.shape[0] for a in vs)
            X = np.zeros((len(vs), d))
            for r, a in enumerate(vs):
                X[r, : a.shape[0]] = a
            P = X[:, :, None] * X[:, None, :] * scale
            Q = (np.sign(P) * np.floor(np.abs(P) + 0.5)).astype(np.int64)
            s = Q.sum(axis=0)
            if acc is None:
                acc = s
            elif acc.shape[0] >= s.shape[0]:
                acc[: s.shape[0], : s.shape[0]] += s
            else:
                s[: acc.shape[0], : acc.shape[0]] += acc
                acc = s
        if acc is None:
            return
        iu = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {"i": (iu[0] + 1).astype("int64"), "j": (iu[1] + 1).astype("int64"),
             "s": acc[iu]}
        )

    # Conditionally fan an under-split scan first: with one input partition
    # the whole corpus streams through a single Python worker; fanned, each
    # task emits its own d×d partial and the groupBy sums them — identical
    # output in any partitioning (int64 sums commute). No-op at 100 TB.
    from .dedup import fan_out_small_scan

    partials = fan_out_small_scan(df.select(vec_col)).mapInPandas(
        part, schema="i long, j long, s long"
    )
    return partials.groupBy("i", "j").agg(F.sum("s").alias("sum_q"))


def mean_pool_exact_long(
    vectors: DataFrame,
    group_col,
    vec_col: str = "embedding",
) -> DataFrame:
    """(group_id, pos, n, s_q, mean) — exact mean-pooling of member vectors
    per group, in long (one-row-per-dimension) form.

    The chunk→document pooling step of every late-chunking / passage
    retrieval pipeline: chunk embeddings aggregate to one document vector.
    Same exact-int discipline as :func:`centroid_means_exact` (per-row
    ``_Q``-quantized int64 partials, deterministic in any reduce order) but
    emitted LONG — an array column cannot ride the driver's pandas
    canonicalization, and the exact BIGINT ``s_q`` is the attested value
    while ``mean = s_q / (n·_Q)`` is the unrounded reconstruction (int→
    double division, bit-exact cross-engine; never display-rounded).

    ``group_col`` is a Column expression (e.g. ``F.col("vec_id") / 4`` for
    fixed-size chunking); one (group, pos)-keyed shuffle with map-side
    combine, d rows per group out — the corpus never re-shuffles on a
    second key.
    """
    exploded = vectors.select(
        group_col.cast("long").alias("group_id"),
        F.posexplode(V.as_double_array(F.col(vec_col))).alias("pos", "v"),
    ).withColumn("qv", F.round(F.col("v") * _Q).try_cast("long"))
    return (
        exploded.groupBy("group_id", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qv").alias("s_q"))
        .select(
            "group_id",
            "pos",
            "n",
            "s_q",
            (F.col("s_q").cast("double") / (F.col("n") * F.lit(float(_Q)))).alias("mean"),
        )
    )


def silhouette_centroid(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """(cluster_id, n, sum_s_q, mean_s) — simplified (centroid-based)
    silhouette per cluster: for each vector, a = squared distance to its
    own (nearest) centroid, b = squared distance to the second-nearest,
    s = (b − a) / b ∈ [0, 1) (s = 0 when b = 0, i.e. duplicate centroids).

    The O(n·k) clustering-quality score (sklearn calls this the simplified
    silhouette) — full silhouette is O(n²) pairwise and cannot ship at
    corpus scale. Distances are rounded like :func:`assign_centroids` so
    the (d, cid) order — and hence every a/b assignment — is deterministic
    cross-engine; the attested value is the exact int64 sum of
    1e6-quantized s (parity rule 1), ``mean_s`` the unrounded int→double
    reconstruction.

    Map-only until one k-row groupBy: centroids are literal arrays inside
    a single codegen'd projection (array_sort of (d, cid) structs), the
    same zero-join shape as assign_centroids.
    """
    if len(centroids) < 2:
        # silhouette needs a nearest AND second-nearest centroid; with an
        # empty or single-cell quantizer (empty training slice) the score
        # is undefined — emit the empty table with the normal schema
        # rather than crash (k=0: VOID array_sort; k=1: ANSI
        # INVALID_ARRAY_INDEX on cands[1] at runtime)
        return vectors.select(
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("long").alias("sum_s_q"),
            F.lit(None).cast("double").alias("mean_s"),
        ).where(F.lit(False))
    v = V.as_double_array(F.col(vec_col))
    cands = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.round(
                        sqdist(v, F.array(*[F.lit(float(x)) for x in c])), round_decimals
                    ).alias("d"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )
    a, b = cands[0]["d"], cands[1]["d"]
    s = F.when(b > 0, (b - a) / b).otherwise(F.lit(0.0))
    per_vec = vectors.select(
        cands[0]["cid"].alias("cluster_id"),
        F.round(s * 1_000_000, 0).try_cast("long").alias("s_q"),
    )
    return (
        per_vec.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("s_q").alias("sum_s_q"))
        .select(
            "cluster_id",
            "n",
            "sum_s_q",
            (F.col("sum_s_q").cast("double") / (F.col("n") * F.lit(1_000_000.0))).alias(
                "mean_s"
            ),
        )
    )
