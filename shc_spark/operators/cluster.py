"""Distributed k-means over embedding columns + semantic dedup.

The reference has no clustering (it is a storage connector); these are
the LLM-pipeline extensions the build brief asks for on top of the
`embeddings` table (cf. SURVEY.md §7.1 M6).

Design for scale (100 TB lens):
- Centroids live on the driver: k x dim float64 — a few KB — and are
  shipped to executors inside the Arrow-batched closure (an implicit
  broadcast of a tiny array).
- Each Lloyd iteration is ONE ``mapInPandas`` pass that emits at most
  k partial (count, sum-vector) rows PER PARTITION (map-side combine).
  The driver collects <= k * num_partitions tiny rows and reduces them
  with numpy — bounded by the partition count, independent of corpus
  size. The corpus itself never shuffles and is scanned exactly
  max_iter times (cache the input DataFrame for small corpora).
- Assignment is a broadcast argmin inside a vectorized batch matmul:
  |batch| x k distances per Arrow batch, no shuffle.

Semantic dedup = cluster, then keep one representative per cluster
(nearest to its centroid, ties by id): the only shuffle in the whole
pipeline is the final k-group reduction.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _stack(col: pd.Series) -> np.ndarray:
    return np.stack(col.to_numpy()).astype(np.float64, copy=False)


def seed_centroids(df: DataFrame, vec_col: str, id_col: str, k: int) -> np.ndarray:
    """Deterministic seeds: the k vectors with the smallest ids.
    Driver-side materialization is exactly k rows — bounded by
    construction (same pattern as similarity._corpus_sample)."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(rows)}")
    return np.array([list(r[1]) for r in rows], dtype=np.float64)


def _sq_dists(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """|batch| x k squared Euclidean distances via one matmul:
    ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2."""
    x2 = (mat * mat).sum(axis=1, keepdims=True)
    c2 = (cents * cents).sum(axis=1)
    return x2 - 2.0 * (mat @ cents.T) + c2


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 5,
    tol: float = 1e-9,
) -> np.ndarray:
    """Lloyd's algorithm; returns the k x dim centroid matrix.

    Each iteration scans the corpus once and moves <= k rows per
    partition to the driver (partial sums) — no shuffle at any scale.
    """
    cents = seed_centroids(df, vec_col, id_col, k)
    vecs = df.select(vec_col)
    schema = "cluster long, cnt long, sums array<double>"
    for _ in range(max_iter):
        frozen = cents.copy()

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            counts = np.zeros(len(frozen), dtype=np.int64)
            sums = np.zeros_like(frozen)
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = _stack(pdf.iloc[:, 0])
                assign = _sq_dists(mat, frozen).argmin(axis=1)
                np.add.at(counts, assign, 1)
                np.add.at(sums, assign, mat)
            live = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {"cluster": live, "cnt": counts[live], "sums": list(sums[live])}
            )

        rows = vecs.mapInPandas(partials, schema).collect()
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros_like(cents)
        for r in rows:
            counts[r["cluster"]] += r["cnt"]
            sums[r["cluster"]] += np.asarray(r["sums"])
        nxt = cents.copy()  # empty clusters keep their previous centroid
        live = counts > 0
        nxt[live] = sums[live] / counts[live, None]
        shift = float(((nxt - cents) ** 2).sum())
        cents = nxt
        if shift <= tol:
            break
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cluster",
    dist_col: str | None = None,
) -> DataFrame:
    """Adds the argmin-centroid column (and optionally the squared
    distance). Vectorized batch matmul, no shuffle."""
    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("struct<cluster: long, dist: double>")
    def _assign(col: pd.Series) -> pd.DataFrame:
        if col.empty:
            return pd.DataFrame({"cluster": [], "dist": []})
        mat = _stack(col)
        d = _sq_dists(mat, cents)
        a = d.argmin(axis=1)
        return pd.DataFrame({"cluster": a, "dist": d[np.arange(len(a)), a]})

    tmp = df.withColumn("__a", _assign(F.col(vec_col)))
    out = tmp.withColumn(out_col, F.col("__a.cluster"))
    if dist_col is not None:
        out = out.withColumn(dist_col, F.col("__a.dist"))
    return out.drop("__a")


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 32,
    max_iter: int = 5,
    centroids=None,
) -> DataFrame:
    """Corpus-level semantic dedup: k-means the embeddings, keep ONE
    representative per cluster — the member nearest its centroid, ties
    broken by smallest id. Output: (cluster, id, members) sorted-free.

    ``centroids`` accepts a pre-trained (k, d) array (e.g. fitted on a
    sample, or reused across corpus snapshots) and skips the fit —
    then the whole operator is a single assign pass + one shuffle.

    The only shuffle is the k-group min reduction (min_by on a struct,
    map-side combinable)."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(df, vec_col, id_col, k=k, max_iter=max_iter)
    )
    assigned = kmeans_assign(df, cents, vec_col, "cluster", "__dist")
    best = F.min(F.struct(F.col("__dist"), F.col(id_col).alias("id"))).alias("b")
    return (
        assigned.groupBy("cluster")
        .agg(best, F.count(F.lit(1)).alias("members"))
        .select("cluster", F.col("b.id").alias(id_col), "members")
    )


def _round6_chunked_argmin(
    mat: np.ndarray, cents: np.ndarray, chunk_budget: int = 1 << 24
) -> tuple[np.ndarray, np.ndarray]:
    """Oracle-exact nearest-centroid kernel shared by every assign
    path: explicit (x-c)^2 sums rounded to 6dp BEFORE the argmin
    (ties -> first centroid), chunked over centroids so the
    |batch| x chunk x dim intermediate stays under ~128 MB
    (``chunk_budget`` float64 elements; tests shrink it to force
    multi-chunk folds). Strict < across chunks keeps argmin's
    first-minimum tie rule exactly."""
    n, dim = mat.shape
    step = max(1, int(chunk_budget) // max(1, n * dim))
    best_d = np.full(n, np.inf)
    best_c = np.zeros(n, dtype=np.int64)
    for c0 in range(0, len(cents), step):
        chunk = cents[c0 : c0 + step]
        diff = mat[:, None, :] - chunk[None, :, :]
        d = np.round((diff * diff).sum(axis=2), 6)
        a = d.argmin(axis=1)
        dv = d[np.arange(n), a]
        take = dv < best_d
        best_d[take] = dv[take]
        best_c[take] = a[take] + c0
    return best_c, best_d


def _assign_round6(
    df: DataFrame, cents: np.ndarray, vec_col: str, id_col: str,
    keep_vec: bool = False, extra: tuple = (),
) -> DataFrame:
    """Oracle-exact nearest-centroid assignment shared by semdedup and
    balanced_sample: explicit (x-c)^2 sums (not the matmul expansion —
    closer to a SQL replay's left-to-right list_sum than the
    cancellation-prone ||x||^2 - 2xc + ||c||^2 form), rounded to 6dp
    BEFORE the argmin (ties -> first centroid, matching ORDER BY dist,
    cid). CHUNKED over centroids (r13): the one-shot broadcast
    materializes |batch| x k x dim float64 — 2 GB/batch at auto-k ~400
    on 10k-row batches, measured 7x slower end to end — so cap the
    intermediate at ~128 MB and fold a running (best dist, first-min
    cid) across chunks; strict < keeps argmin's first-minimum tie rule
    exactly. Output: (id[, vec], cluster, __dist)."""

    @F.pandas_udf("struct<cluster: long, dist: double>")
    def _assign(col: pd.Series) -> pd.DataFrame:
        if col.empty:
            return pd.DataFrame({"cluster": [], "dist": []})
        best_c, best_d = _round6_chunked_argmin(_stack(col), cents)
        return pd.DataFrame({"cluster": best_c, "dist": best_d})

    keep = ([id_col, vec_col] if keep_vec else [id_col]) + list(extra)
    return (
        df.select(id_col, vec_col, *extra)
        .withColumn("__a", _assign(F.col(vec_col)))
        .select(
            *keep,
            F.col("__a.cluster").alias("cluster"),
            F.col("__a.dist").alias("__dist"),
        )
    )


def _chunked_lloyd_pass(
    mat: np.ndarray, cents: np.ndarray, chunk_budget: int = 1 << 24
) -> tuple[np.ndarray, np.ndarray]:
    """One Lloyd assignment-and-accumulation pass with the |rows| x k
    distance buffer capped at ``chunk_budget`` float64 elements
    (~128 MB — the same budget as _round6_chunked_argmin). Chunks over
    ROWS, so each row's distance vector is computed against the FULL
    centroid set and the per-row argmin (first-minimum tie rule)
    is exactly ``_sq_dists(mat, cents).argmin(axis=1)``'s. Returns
    (per-centroid vector sums, per-centroid counts)."""
    k = len(cents)
    sums = np.zeros_like(cents)
    cnt = np.zeros(k, dtype=np.int64)
    step = max(1, int(chunk_budget) // max(1, k))
    for r0 in range(0, len(mat), step):
        rows = mat[r0 : r0 + step]
        a = _sq_dists(rows, cents).argmin(axis=1)
        np.add.at(sums, a, rows)
        cnt += np.bincount(a, minlength=k)
    return sums, cnt


def _prune_neighborhood(
    ids: np.ndarray,
    dist: np.ndarray,
    mat: np.ndarray,
    descending: bool,
    threshold: float,
    round_dp: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The SemDeDup within-cluster decision core shared by semdedup and
    semdedup_sharded: rank members by (dist desc|asc, id asc), round
    pairwise cosines to ``round_dp``, and dominate every member that
    has a >= threshold neighbor of strictly higher rank. Returns
    (ids in rank order, dominated mask, dominator id per row)."""
    order = np.lexsort((ids, -dist if descending else dist))
    m = mat[order]
    nrm = np.sqrt((m * m).sum(axis=1))
    nrm[nrm == 0.0] = 1.0
    S = np.round(m @ m.T / np.outer(nrm, nrm), round_dp)
    dom = np.tril(S >= threshold, k=-1)  # j strictly higher-ranked
    has = dom.any(axis=1)
    first = dom.argmax(axis=1)  # first True = smallest rank j
    ids_sorted = ids[order]
    dup_of = np.where(has, ids_sorted[first], 0)
    return ids_sorted, has, dup_of


# semdedup auto-k clamp: centroids are a driver-side (k, dim) float64
# array shipped in the Arrow closure, and every assign batch pays a
# |batch| x k matmul — 16384 x 1024d x 8B = 128 MB of centroids is the
# sane ceiling for one-level Lloyd. Corpora wanting more clusters than
# this should pre-partition (e.g. by language/source) and semdedup
# each shard — which is also how the paper runs at scale.
SEMDEDUP_MAX_AUTO_K = 16384

# per-cluster hard cap: prune() holds a |c| x |c| float64 cosine
# matrix in ONE task — 8192^2 x 8B ≈ 0.5 GB is the most a straggler
# task should ever allocate; anything bigger means k is undersized
# for the corpus and the job concentrates quadratic work in single
# tasks (the 100-TB killer pattern).
SEMDEDUP_MAX_CLUSTER_ROWS = 8192


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    threshold: float = 0.45,
    centroids=None,
    max_iter: int = 5,
    keep: str = "farthest",
    round_dp: int = 4,
    target_cluster_size: int = 512,
    max_cluster_rows: int = SEMDEDUP_MAX_CLUSTER_ROWS,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings, then WITHIN each cluster drop every example that has a
    higher-ranked ε-neighbor (cosine >= ``threshold``). Rank follows
    the paper's keep rule: ``keep="farthest"`` ranks members by
    distance-to-centroid DESCENDING (keep the most atypical example of
    each duplicate neighborhood, drop its near-copies); ``"closest"``
    keeps prototypes instead. Ties break by smallest id, so the output
    is fully deterministic given the centroids.

    Scale design (the paper's own): assignment is a broadcast argmin
    (no shuffle); the ONLY shuffle is the cluster-keyed group, and
    per-cluster work is a |c| x |c| cosine matmul — bounded by cluster
    size. Because that bound is the operator's one quadratic hazard,
    it is GUARDED (VERDICT r12 #1):

    - ``k=None`` (the default, when no ``centroids`` are given)
      auto-sizes from a cheap count: k = ceil(n / target_cluster_size)
      clamped to [1, min(n, SEMDEDUP_MAX_AUTO_K)] — a naive caller at
      100x the corpus gets 100x the clusters, not 100x the cluster
      size. Pass an explicit ``k`` to override.
    - ``max_cluster_rows`` is a HARD cap enforced inside the grouped
      kernel: a cluster larger than it raises with a retrain
      instruction instead of silently allocating a multi-GB cosine
      matrix in one task (same refusal discipline as
      ``dedup.embedding_near_dups``). Skewed corpora (one dominant
      near-duplicate mass) should raise k or pre-split by a cheap key.

    Distances round to 6dp and cosines to ``round_dp`` BEFORE any
    comparison, making the whole decision chain engine-exact
    (replayable in SQL — the dedup_semdedup gate's oracle replays
    assignment, ranking and domination verbatim).

    Returns one row per input vector: (id, cluster, kept, dup_of) —
    ``dup_of`` is the highest-ranked ε-neighbor that dominated a
    dropped row (NULL for kept rows).
    """
    if centroids is None and k is None:
        n = df.count()  # one cheap aggregate; the corpus is scanned anyway
        if n == 0:
            raise ValueError("semdedup on an empty corpus")
        k = max(1, min((n + target_cluster_size - 1) // target_cluster_size,
                       n, SEMDEDUP_MAX_AUTO_K))
    cents = np.asarray(
        centroids
        if centroids is not None
        else kmeans_fit(df, vec_col, id_col, k=k, max_iter=max_iter),
        dtype=np.float64,
    )
    descending = keep == "farthest"

    assigned = _assign_round6(df, cents, vec_col, id_col, keep_vec=True)
    out_schema = f"{id_col} long, cluster long, kept boolean, dup_of long"

    cap = int(max_cluster_rows)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > cap:
            cl_over = int(pdf["cluster"].iloc[0])
            raise ValueError(
                f"semdedup cluster {cl_over} has {n} rows > "
                f"max_cluster_rows={cap}: the per-cluster cosine matrix "
                f"would be {n * n * 8 / 1e9:.1f} GB in ONE task. Retrain "
                "with a larger k (or pass centroids fitted with more "
                "clusters / pre-split the corpus by a cheap key); raise "
                "max_cluster_rows only if the executors really have the "
                "memory."
            )
        ids = pdf[id_col].to_numpy()
        dist = pdf["__dist"].to_numpy()
        cl = int(pdf["cluster"].iloc[0])
        ids_sorted, has, dup_of = _prune_neighborhood(
            ids, dist, _stack(pdf[vec_col]), descending, threshold, round_dp
        )
        res = pd.DataFrame(
            {
                id_col: ids_sorted,
                "cluster": np.full(n, cl, dtype=np.int64),
                "kept": ~has,
                "dup_of": pd.array(
                    [int(d) if h else None for d, h in zip(dup_of, has)],
                    dtype="Int64",
                ),
            }
        )
        return res

    return assigned.groupBy("cluster").applyInPandas(prune, out_schema)


def balanced_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    per_cluster: int = 10,
    k: int | None = None,
    centroids=None,
    max_iter: int = 5,
    target_cluster_size: int = 512,
) -> DataFrame:
    """Cluster-balanced subset selection: assign every vector to its
    nearest centroid and keep the ``per_cluster`` smallest-md5(id)
    members of each cluster — the curation move when a small subset
    must still COVER the embedding space (uniform sampling
    over-represents dense regions; per-cluster quotas flatten that).
    md5 order (not rand()) keeps the pick deterministic and
    engine-replayable, the same design as weighted_sample /
    stratified_sample.

    ``k``/``centroids`` follow semdedup's guarded contract: explicit
    centroids skip the fit; otherwise ``k=None`` auto-sizes from a
    cheap count (ceil(n / target_cluster_size), clamped).

    Scale shape: assignment is the shared chunked broadcast-argmin (no
    shuffle, bounded memory); the per-cluster quota is a rank window
    Spark executes as WindowGroupLimit — map tasks keep only their
    local top-``per_cluster`` BEFORE the exchange, so no cluster ever
    materializes. Output: (id, cluster) — join back by id for payloads.
    """
    from pyspark.sql import Window

    if per_cluster < 1:
        raise ValueError("per_cluster must be >= 1")
    if centroids is None and k is None:
        n = df.count()
        if n == 0:
            raise ValueError("balanced_sample on an empty corpus")
        k = max(1, min((n + target_cluster_size - 1) // target_cluster_size,
                       n, SEMDEDUP_MAX_AUTO_K))
    cents = np.asarray(
        centroids
        if centroids is not None
        else kmeans_fit(df, vec_col, id_col, k=k, max_iter=max_iter),
        dtype=np.float64,
    )
    assigned = _assign_round6(df, cents, vec_col, id_col)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        assigned.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= per_cluster)
        .select(id_col, "cluster")
    )


def _outliers_from_assigned(
    assigned: DataFrame, id_col: str, round_dp: int
) -> DataFrame:
    """Outlier derivation shared by embedding_outliers and
    telemetry_report: rank window + percentile over an
    (id, cluster, __dist) frame — identical expressions, so the
    one-pass report is value-exact vs the standalone op by
    construction."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy("__dist", id_col)
    n = F.count(F.lit(1)).over(Window.partitionBy("cluster"))
    pct = F.when(n == 1, F.lit(0.0)).otherwise(
        (F.row_number().over(w) - 1) / (n - 1)
    )
    return assigned.select(
        id_col,
        "cluster",
        F.round("__dist", 6).alias("dist"),
        F.round(pct, round_dp).alias("pct"),
    )


def _profile_from_dists(a: DataFrame, round_dp: int) -> DataFrame:
    """Profile derivation shared by cluster_profile and
    telemetry_report: the k-row health aggregate over a
    (cluster, dist) frame."""
    pcts = F.expr("percentile(dist, array(0.5, 0.95))")
    return (
        a.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("dist"), round_dp).alias("mean_dist"),
            pcts.alias("__p"),
            F.round(F.max("dist"), round_dp).alias("max_dist"),
        )
        .select(
            "cluster",
            "n",
            "mean_dist",
            F.round(F.col("__p")[0], round_dp).alias("p50_dist"),
            F.round(F.col("__p")[1], round_dp).alias("p95_dist"),
            "max_dist",
        )
    )


def embedding_outliers(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 4,
) -> DataFrame:
    """Per-vector outlier telemetry against fixed centroids: each row
    gets its nearest cluster, its (6dp-rounded) squared distance, and
    its within-cluster distance PERCENTILE (rank/(n-1), ties by id —
    fully deterministic). The curation signal that separates a
    cluster's core from its fringe: percentile ~1 rows are the
    far-from-everything candidates (mislabeled, garbled, off-domain)
    to route to review or drop, and the natural prefilter before
    semdedup's ε-pruning.

    Scale shape: assignment is the shared map-only chunked argmin; the
    only shuffle is the cluster-keyed rank window (W.partitionBy —
    cluster-sized partitions, bounded by the centroid grid's balance,
    never a global sort). Output: (id, cluster, dist, pct)."""
    cents = np.asarray(centroids, dtype=np.float64)
    assigned = _assign_round6(df, cents, vec_col, id_col)
    return _outliers_from_assigned(assigned, id_col, round_dp)


def cluster_profile(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Per-cluster health profile against fixed centroids: occupancy
    and the distance distribution (mean / p50 / p95 / max of the
    6dp-rounded squared distances). The k-row table that says whether
    the centroid grid still fits the corpus — empty or ballooning
    clusters mean retrain, fat p95-vs-p50 gaps mean a fringe worth
    ``embedding_outliers``. Assignment is the shared map-only chunked
    kernel; the only shuffle is the k-group aggregate (map-side
    combined; percentiles are Spark ``percentile`` == SQL
    quantile_cont, value-replayable). Output: (cluster, n, mean_dist,
    p50_dist, p95_dist, max_dist)."""
    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("struct<cluster: long, dist: double>")
    def _assign(col: pd.Series) -> pd.DataFrame:
        if col.empty:
            return pd.DataFrame({"cluster": [], "dist": []})
        c, d = _round6_chunked_argmin(_stack(col), cents)
        return pd.DataFrame({"cluster": c, "dist": d})

    a = df.select(_assign(F.col(vec_col)).alias("__a")).select(
        F.col("__a.cluster").alias("cluster"), F.col("__a.dist").alias("dist")
    )
    return _profile_from_dists(a, round_dp)


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    centroids,
    vec_col: str = "embedding",
    laplace: float = 0.5,
) -> DataFrame:
    """Embedding-space drift check — the vector analog of
    ``dq.psi_drift``: assign BOTH corpus snapshots to the same FIXED
    centroids (shared quantization grid, like psi_drift's fixed
    edges) and compute the Population Stability Index over the
    cluster-occupancy histograms. The curation telemetry that says a
    new crawl's embedding distribution moved before any model does:
    PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 investigate.

    Centroids must be pre-trained/shared (re-fitting per snapshot
    would hide exactly the shift being measured). Assignment is the
    shared oracle-exact chunked kernel (map-only, no shuffle); the
    only aggregation is two k-row histograms, then all arithmetic on
    the tiny joined frame — nothing about the corpora ever shuffles.
    Laplace smoothing ((n_i + a) / (N + a*k)) keeps empty clusters
    finite; fractions/contributions round to 6dp (engine-neutral).
    Output: one row per cluster (cluster, ref_n, cur_n, ref_frac,
    cur_frac, psi_contrib) — sum psi_contrib for the index."""
    cents = np.asarray(centroids, dtype=np.float64)
    k = len(cents)

    @F.pandas_udf("long")
    def _assign(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype="int64")
        c, _ = _round6_chunked_argmin(_stack(col), cents)
        return pd.Series(c)

    def hist(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(_assign(F.col(vec_col)).alias("cluster"))
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias(out))
        )

    spark = ref.sparkSession
    return _psi_table(spark, hist(ref, "ref_n"), hist(cur, "cur_n"), k, laplace)


def _psi_table(
    spark,
    ref_hist: DataFrame,
    cur_hist: DataFrame,
    k: int,
    laplace: float,
    pin: bool = True,
) -> DataFrame:
    """PSI arithmetic shared by embedding_drift and telemetry_report:
    join the two (cluster, count) histograms over the full range(k)
    grid and emit the smoothed fraction/contribution table. Inputs are
    k-row frames, so everything here is driver-trivial at any corpus
    scale. ``pin=False`` skips the internal checkpoint when BOTH
    histogram inputs are already pinned k-row frames (telemetry_report)
    — re-deriving ``h`` for the totals join is then two trivial k-row
    broadcast joins, not a corpus re-scan, and the skipped eager
    action saves one fixed-overhead Spark job per call."""
    all_c = spark.range(k).select(F.col("id").alias("cluster"))
    h = (
        all_c.join(ref_hist, "cluster", "left")
        .join(cur_hist, "cluster", "left")
        .fillna(0, ["ref_n", "cur_n"])
    )
    a = float(laplace)
    # pin the k-row histogram once, then totals are a broadcast join of
    # its own aggregate (the dq.psi_drift pattern — each corpus is
    # scanned exactly once, no global window)
    if pin:
        h = h.localCheckpoint(eager=True)
    h = h.crossJoin(
        F.broadcast(h.agg(F.sum("ref_n").alias("__rt"), F.sum("cur_n").alias("__ct")))
    )
    p = (F.col("ref_n") + a) / (F.col("__rt") + a * k)
    q = (F.col("cur_n") + a) / (F.col("__ct") + a * k)
    return h.select(
        "cluster",
        "ref_n",
        "cur_n",
        F.round(p, 6).alias("ref_frac"),
        F.round(q, 6).alias("cur_frac"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


def telemetry_report(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ref: DataFrame | None = None,
    round_dp: int = 4,
    laplace: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """ONE assign pass feeding the whole embedding-telemetry family
    (VERDICT r14 #5): ``embedding_outliers``, ``cluster_profile`` and
    (when ``ref`` is given) ``embedding_drift`` each re-scan the
    corpus through the same chunked-argmin kernel — three scans of the
    same vectors against the same centroids, and at the 100-TB shape
    the scan IS the wall. This runs the kernel once over ``df``, pins
    the per-vector (id, cluster, dist) frame — ~24 bytes/row, no
    embedding payload, a rounding error next to the vector corpus —
    with an eager localCheckpoint, and derives all three outputs from
    it through the SAME shared expression helpers the standalone ops
    use (_outliers_from_assigned / _profile_from_dists / _psi_table),
    so every output is value-exact vs its standalone op by
    construction (pinned by test and by the embed_telemetry_report
    gate's oracle). ``ref`` (the drift baseline) still costs its own
    single assign pass — its histogram is independent of ``df``.

    Returns (outliers, profile, drift-or-None). Measured (SCALE.md
    r15): the three stats for ~1.05 scans' wall at x1000.

    r15 optimization: when ``ref`` is given, the reference vectors
    UNION into the same assign pass (tagged, ids nulled — the drift
    histogram needs only cluster counts), so current + reference
    assignments come out of ONE scan-and-score job instead of two
    serial Python passes. Per-row assignment is independent of the
    frame it rides in, so every output is bit-identical to the
    two-pass shape; the pinned frame grows to (|df| + |ref|) rows of
    (id, cluster, dist) — still payload-free and bounded.

    r15b: downstream of the pinned assignment, the ref path runs ONE
    per-cluster aggregate (profile stats conditioned on the __cur tag
    + both drift histograms as conditional counts) instead of three
    separate corpus-sized exchanges; profile and drift read the
    resulting pinned k-row frame. Conditional aggregates over the
    identical value multiset keep every output value-equal to its
    standalone op (pinned by test and by the gate's oracle)."""
    cents = np.asarray(centroids, dtype=np.float64)
    k = len(cents)
    if ref is None:
        assigned = _assign_round6(df, cents, vec_col, id_col).localCheckpoint(
            eager=True
        )
        return (
            _outliers_from_assigned(assigned, id_col, round_dp),
            _profile_from_dists(
                assigned.select("cluster", F.col("__dist").alias("dist")),
                round_dp,
            ),
            None,
        )
    id_type = df.schema[id_col].dataType
    both = (
        df.select(id_col, vec_col)
        .withColumn("__cur", F.lit(True))
        .unionByName(
            ref.select(
                F.lit(None).cast(id_type).alias(id_col), F.col(vec_col)
            ).withColumn("__cur", F.lit(False))
        )
    )
    assigned_all = _assign_round6(
        both, cents, vec_col, id_col, extra=("__cur",)
    ).localCheckpoint(eager=True)
    assigned = assigned_all.filter("__cur").drop("__cur")
    outliers = _outliers_from_assigned(assigned, id_col, round_dp)
    # r15b: ONE per-cluster aggregate over the pinned assignment feeds
    # profile AND both drift histograms — the profile stats condition
    # on __cur inside the aggregate (avg/percentile/max ignore nulls,
    # count counts non-nulls, so each equals the standalone op's
    # cur-only aggregate over the identical value multiset), and the
    # ref histogram is the same aggregate's other conditional count.
    # Was: three separate corpus-sized exchanges of the assignment
    # (profile groupBy, cur_hist groupBy, ref_hist groupBy); now: one
    # exchange into a pinned k-row frame all consumers share.
    dcur = F.when(F.col("__cur"), F.col("__dist"))
    # r16: coalesce(1) collapses the k-row aggregate before the pin so
    # downstream consumers schedule one task, not shuffle.partitions.
    # A no_adaptive wrap of this pin was TRIALED and REVERTED on x100
    # measurement (200k vectors): 32.6s non-adaptive vs 28.4s with AQE
    # — the percentile aggregate ships every (cluster, dist) row
    # through its exchange (not partial-aggregatable) and AQE's
    # runtime partition handling earns its stage jobs there. Same
    # job-counts-lie lesson as the PQ-pin and r15 DPP reverts.
    per_cluster = (
        assigned_all.groupBy("cluster")
        .agg(
            F.count(F.when(F.col("__cur"), F.lit(1))).alias("n"),
            F.round(F.avg(dcur), round_dp).alias("mean_dist"),
            F.expr(
                "percentile(IF(__cur, __dist, NULL), array(0.5, 0.95))"
            ).alias("__p"),
            F.round(F.max(dcur), round_dp).alias("max_dist"),
            F.count(F.when(~F.col("__cur"), F.lit(1))).alias("ref_n"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    # n > 0 restores the standalone profile's row set: a cluster with
    # only reference vectors exists in per_cluster but not in
    # cluster_profile(df)'s cur-only groupBy
    profile = per_cluster.filter(F.col("n") > 0).select(
        "cluster",
        "n",
        "mean_dist",
        F.round(F.col("__p")[0], round_dp).alias("p50_dist"),
        F.round(F.col("__p")[1], round_dp).alias("p95_dist"),
        "max_dist",
    )
    # zero-count rows are equivalent to absent rows under _psi_table's
    # grid left-join + fillna(0), so the histograms slice per_cluster
    # directly; pin=False — both inputs are already pinned k-row frames
    drift = _psi_table(
        df.sparkSession,
        per_cluster.select("cluster", "ref_n"),
        per_cluster.select("cluster", F.col("n").alias("cur_n")),
        k,
        laplace,
        pin=False,
    )
    return outliers, profile, drift


# semdedup_sharded per-task ceiling: one task holds its whole shard —
# shard_rows x dim float64 vectors plus the chunked distance buffers.
# 262144 rows x 1024d x 8B = 2 GB is already generous; md5 shards are
# uniform by construction, so only an explicit skewed shard_col can
# trip this.
SEMDEDUP_MAX_SHARD_ROWS = 262144


def semdedup_sharded(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shard_col: str | None = None,
    num_shards: int | None = None,
    shard_rows: int = 65536,
    target_cluster_size: int = 512,
    threshold: float = 0.45,
    keep: str = "farthest",
    round_dp: int = 4,
    max_iter: int = 5,
    max_shard_rows: int = SEMDEDUP_MAX_SHARD_ROWS,
    max_cluster_rows: int = SEMDEDUP_MAX_CLUSTER_ROWS,
) -> DataFrame:
    """One-call LINEAR-total-work SemDeDup (VERDICT r13 #3) — the
    paper's shard-first guidance (Abbas et al. 2023 §3: dedup within
    clusters of a pre-partition) as an operator instead of prose.

    ``semdedup``'s AUTO-k default does n x (n/512) assign multiply-adds
    (quadratic/512 — the paper runs that on GPUs). This variant
    pre-splits the corpus into shards of ~``shard_rows`` rows by a
    cheap deterministic key, then runs the ENTIRE per-shard pipeline
    (seed -> Lloyd ``max_iter`` -> round6 assign -> ε-neighbor prune)
    inside ONE task per shard:

    - total assign work = Σ n_s * k_s ≈ n * (shard_rows /
      target_cluster_size) — CONSTANT per row, so linear in n;
    - exactly ONE shuffle (the shard exchange); no driver-side
      centroid materialization at all — each task fits its own
      centroids from its shard (k_s = ceil(n_s / target_cluster_size),
      seeded from the shard's k_s smallest-id vectors, deterministic);
    - per-task memory is bounded end to end: ``max_shard_rows`` caps
      the shard itself (hard refusal, embedding_near_dups'
      discipline); the Lloyd loop and the post-fit assign both run
      through <=128 MB chunked kernels (_chunked_lloyd_pass /
      _round6_chunked_argmin); and the per-cluster |c| x |c| cosine
      prune matrix is capped by ``max_cluster_rows`` (ADVICE r14 #1 —
      a degenerate cluster, e.g. a duplicate flood collapsing a whole
      shard onto one centroid under max_iter=0, refuses with a
      retrain instruction instead of allocating a multi-GB matrix in
      one task, exactly as ``semdedup`` does).

    Sharding key: ``shard_col`` (pre-split by language/source — the
    paper's own recipe; the column's STRING form is md5-hashed mod
    ``num_shards`` [default 4096], so any type works, equal values
    always co-shard — locality preserved — and the mapping is
    engine-replayable) or, by default, md5(id) mod S with
    S = ``num_shards`` or ceil(n / shard_rows) from one cheap count —
    both deterministic (CAST('0x'||substr(md5,1,4)) in DuckDB ==
    conv(substring(md5,1,4),16,10) in Spark).

    Within-shard semantics are EXACTLY ``semdedup``'s: the round6
    first-min assignment (_round6_chunked_argmin) and the rank/cosine
    domination core (_prune_neighborhood) are the same shared kernels,
    so a shard equals a standalone semdedup of its rows. Near-dup
    pairs SPLIT ACROSS shards are not compared — the documented recall
    trade the paper makes. Measured (SCALE.md): drop-recall vs
    unsharded = 1.000 single-shard and 0.766 under an adversarial
    100-way exact-duplicate flood scattered uniformly over 25 md5
    shards (no spurious drops either way). Key by a locality-bearing
    shard_col to bias duplicates into the same shard and recover it —
    MEASURED r15 on the same 200k-vector flood with duplicate groups
    made single-language (the realistic skew: crawls duplicate within
    a language/source): shard_col="lang" recall 0.9998
    (198,010/198,046 drops agree, 4 extra) in 12.3s vs the unsharded
    AUTO run's 66.2s — the locality key recovers the md5 path's 23%
    loss at 5.4x the speed.

    Returns one row per input vector: (id, shard, cluster, kept,
    dup_of) — cluster ids are local to their shard.
    """
    if keep not in ("farthest", "closest"):
        raise ValueError("keep must be 'farthest' or 'closest'")
    descending = keep == "farthest"
    if shard_col is None:
        s = num_shards
        if s is None:
            n = df.count()
            if n == 0:
                raise ValueError("semdedup_sharded on an empty corpus")
            s = max(1, (n + shard_rows - 1) // shard_rows)
        key = F.col(id_col)
    else:
        s = num_shards if num_shards is not None else 4096
        key = F.col(shard_col)
    if s > 65536:
        raise ValueError("num_shards > 65536: widen shard_rows or pre-split")
    # NULL shard keys hash as the empty string (md5(NULL) is NULL in
    # both engines — an un-coalesced null would strand those rows in a
    # null group and crash the kernel's int() on the shard id)
    hashed = F.md5(F.coalesce(key.cast("string"), F.lit("")))
    sharded = df.select(
        id_col,
        vec_col,
        (
            F.conv(F.substring(hashed, 1, 4), 16, 10).cast("long") % F.lit(int(s))
        ).alias("__shard"),
    )

    cap = int(max_shard_rows)
    cluster_cap = int(max_cluster_rows)
    tgt = int(target_cluster_size)
    iters = int(max_iter)
    out_schema = f"{id_col} long, shard long, cluster long, kept boolean, dup_of long"

    def run_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        n_s = len(pdf)
        shard = int(pdf["__shard"].iloc[0])
        if n_s > cap:
            raise ValueError(
                f"semdedup_sharded shard {shard} has {n_s} rows > "
                f"max_shard_rows={cap}: one task would hold the whole "
                "shard. Lower shard_rows / raise num_shards (or fix the "
                "skewed shard_col); raise max_shard_rows only if the "
                "executors really have the memory."
            )
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        mat = _stack(pdf[vec_col])
        k_s = max(1, min((n_s + tgt - 1) // tgt, n_s))
        cents = mat[:k_s].copy()  # k_s smallest ids — deterministic seeds
        for _ in range(iters):
            # row-chunked (<=128 MB dist buffer; VERDICT r14 #3): the
            # unchunked n_s x k_s matrix peaks ~1 GB at the
            # max_shard_rows cap. Per-row argmin semantics unchanged.
            sums, cnt = _chunked_lloyd_pass(mat, cents)
            nz = cnt > 0
            cents[nz] = sums[nz] / cnt[nz, None]  # empty clusters keep seeds
        assign, dist = _round6_chunked_argmin(mat, cents)
        frames = []
        for cl in np.unique(assign):
            sel = assign == cl
            c_n = int(sel.sum())
            if c_n > cluster_cap:
                raise ValueError(
                    f"semdedup_sharded shard {shard} cluster {int(cl)} has "
                    f"{c_n} rows > max_cluster_rows={cluster_cap}: the "
                    f"per-cluster cosine matrix would be "
                    f"{c_n * c_n * 8 / 1e9:.1f} GB in ONE task. Lower "
                    "target_cluster_size / raise max_iter so Lloyd spreads "
                    "the shard, or shard by a finer key; raise "
                    "max_cluster_rows only if the executors really have "
                    "the memory."
                )
            ids_sorted, has, dup_of = _prune_neighborhood(
                ids[sel], dist[sel], mat[sel], descending, threshold, round_dp
            )
            frames.append(
                pd.DataFrame(
                    {
                        id_col: ids_sorted,
                        "shard": np.full(len(ids_sorted), shard, dtype=np.int64),
                        "cluster": np.full(len(ids_sorted), int(cl), dtype=np.int64),
                        "kept": ~has,
                        "dup_of": pd.array(
                            [int(d) if h else None for d, h in zip(dup_of, has)],
                            dtype="Int64",
                        ),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return sharded.groupBy("__shard").applyInPandas(run_shard, out_schema)
