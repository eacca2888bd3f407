"""Embedding compression: per-dimension scalar quantization (SQ8).

The standard first step for ANN at 100 TB scale — int8 codes cut the
embedding bytes 4x (float32 -> uint8) so more of the corpus fits in
executor memory / page cache, at a recall cost the re-ranking stage
absorbs. Codes are engine-neutral integers, so this op is value-exact
oracle-checkable (unlike the approximate search built on top).

Scale shape: the stats pass is a posexplode + dim-keyed groupBy (the
shuffle carries dim-count rows per partition after map-side combine);
the driver sees exactly `dim` (min, max) rows, which return to the
executors as array literals inside one codegen'd `transform`
projection. No Python, no second shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shc_spark.operators.similarity import (
    MAX_QUERY_ROWS,
    _collect_queries,
    _matrix,
    _normalize_batch,
    _pq_code_udf,
)


def dim_stats(df: DataFrame, vec_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus; driver materialization
    is exactly `dim` rows."""
    rows = (
        df.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .orderBy("i")
        .collect()
    )
    return [(r["mn"], r["mx"]) for r in rows]


def code_expr(vec_col: str, stats: list[tuple[float, float]], levels: int = 256):
    """Column expression encoding ``vec_col`` to SQ codes under the
    given per-dimension stats: code_i = round((x_i - mn_i) * (levels-1)
    / (mx_i - mn_i)), 0 when the dimension is constant."""
    mn = F.array(*[F.lit(s[0]) for s in stats])
    span = F.array(*[F.lit(s[1] - s[0]) for s in stats])
    return F.transform(
        F.col(vec_col),
        lambda x, i: F.when(F.element_at(span, i + 1) == 0.0, F.lit(0)).otherwise(
            F.round(
                (x.cast("double") - F.element_at(mn, i + 1))
                * (levels - 1)
                / F.element_at(span, i + 1)
            ).cast("int")
        ),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 256,
    stats: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """(id, codes array<int>). Pass ``stats`` to quantize a new batch
    under a previously trained codebook (see :func:`code_expr`)."""
    stats = stats if stats is not None else dim_stats(df, vec_col)
    return df.select(F.col(id_col), code_expr(vec_col, stats, levels).alias("codes"))


def dequantize(
    df: DataFrame,
    stats: list[tuple[float, float]],
    codes_col: str = "codes",
    id_col: str = "vec_id",
    levels: int = 256,
    out_col: str = "vec",
) -> DataFrame:
    """Inverse map back to array<double> (midpoint-free linear):
    x_i ~ mn_i + code_i * (mx_i - mn_i) / (levels - 1); max abs error
    per dimension is span_i / (2*(levels-1))."""
    mn = F.array(*[F.lit(s[0]) for s in stats])
    span = F.array(*[F.lit(s[1] - s[0]) for s in stats])
    vec = F.transform(
        F.col(codes_col),
        lambda c, i: F.element_at(mn, i + 1)
        + c.cast("double") * F.element_at(span, i + 1) / (levels - 1),
    )
    return df.select(F.col(id_col), vec.alias(out_col))


# ---------------------------------------------------------------------------
# product quantization (PQ): the billion-scale companion to SQ8 —
# m subspace codebooks of k centroids give m log2(k)-bit codes per
# vector (64-dim float32 -> 8 bytes at m=8, k=256), searched with
# asymmetric distance (query stays full-precision, per-query lookup
# tables score codes without reconstructing vectors).


def train_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    sample_rows: int = 4096,
    iters: int = 8,
) -> "np.ndarray":
    """(m, k, dim/m) PQ codebooks via per-subspace Lloyd's on a
    bounded DETERMINISTIC corpus sample (top-N by content hash — the
    same pattern as similarity._train_centroids: the quantizer trains
    on a sample, the full corpus only gets ASSIGNED, so driver cost is
    independent of corpus size). Seeds are the first k sample rows per
    subspace; fixed iterations, no RNG."""
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(sample_rows)
        .collect()
    )
    # unit sphere: sq-euclidean == 2 - 2*cosine, so PQ ranks match the
    # cosine searches elsewhere in the suite
    X = _normalize_batch([r[0] for r in rows])
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n < k:
        # a codebook cannot have more centroids than training points;
        # clamp (deterministically) instead of failing small corpora —
        # k is an upper bound on quantizer resolution, not a contract
        k = n
    sub = dim // m
    books = np.empty((m, k, sub))
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        cents = S[:k].copy()
        for _ in range(iters):
            d = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(k):
                mask = a == c
                if mask.any():
                    cents[c] = S[mask].mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) with codes[j] = argmin centroid of
    subspace j. Vectorized batch distance per subspace; map-only."""
    return df.select(F.col(id_col), _pq_code_udf(codebooks)(F.col(vec_col)).alias("codes"))


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    k: int = 5,
    rerank_factor: int = 0,
    vectors: DataFrame | None = None,
    max_queries: int | None = None,  # None -> similarity.MAX_QUERY_ROWS
) -> DataFrame:
    from pyspark.sql import Window

    """Asymmetric-distance top-k: each query precomputes an (m, K)
    lookup table of subspace squared distances; a code's approximate
    distance is the sum of m table entries — one fancy-index + sum per
    Arrow batch, no vector reconstruction, the corpus never shuffles.
    Output: (query_id, neighbor_id, adist, rank), ties by neighbor id.
    Self-matches excluded.

    ``rerank_factor=R`` (with ``vectors``) switches to the production
    two-stage shape: PQ prunes to R*k candidates per query, then the
    candidates — and ONLY the candidates, nq*R*k rows — join back to
    their full-precision vectors for exact cosine re-ranking. Recall
    then depends on whether the true top-k survive a R*k-deep PQ cut
    instead of on raw code fidelity (measured on the near-isotropic
    synthetic embeddings — the adversarial case for PQ: 0.79 at R=10,
    0.93 at R=20, 0.98 at R=40; pinned by test)."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, K, sub = books.shape
    q_ids, qm = _collect_queries(
        queries, vec_col, id_col, MAX_QUERY_ROWS if max_queries is None else max_queries
    )
    lut = np.empty((len(q_ids), m, K))
    for qi in range(len(q_ids)):
        for j in range(m):
            diff = books[j] - qm[qi, j * sub : (j + 1) * sub][None, :]
            lut[qi, j] = (diff**2).sum(axis=1)
    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, lut))
    id_type = codes.schema[id_col].dataType.simpleString()
    schema = f"query_id {id_type}, neighbor_id {id_type}, adist double"
    depth = k * rerank_factor if rerank_factor else k

    def score(batches):
        qids_, lut_ = bc.value
        if not qids_:
            return
        jidx = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["__id"].to_numpy()
            C = _matrix(pdf["__vec"], np.int64)
            # (nq, batch): sum over subspaces of lut[q, j, C[:, j]]
            D = lut_[:, jidx, C].sum(axis=2)
            top = min(depth + 1, D.shape[1])  # +1 absorbs a self-match
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(qids_):
                part = np.argpartition(D[qi], top - 1)[:top]
                for i in part:
                    if ids[i] != qid:
                        out_q.append(qid)
                        out_n.append(ids[i])
                        out_d.append(round(float(D[qi, i]), 6))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adist": out_d}
            )

    part = codes.select(
        F.col(id_col).alias("__id"), F.col(codes_col).alias("__vec")
    ).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    pruned = (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= depth)
        .select("query_id", "neighbor_id", "adist", "rank")
    )
    if not rerank_factor:
        return pruned
    if vectors is None:
        raise ValueError("rerank_factor requires the full-precision `vectors`")
    bq = spark.sparkContext.broadcast({qid: qm[i] for i, qid in enumerate(q_ids)})

    @F.pandas_udf("double")
    def _cos(qid: pd.Series, vec: pd.Series) -> pd.Series:
        qm = bq.value
        if qid.empty:
            return pd.Series([], dtype=float)
        M = _normalize_batch(vec)
        q = np.stack([qm[x] for x in qid])
        return pd.Series(np.round((M * q).sum(axis=1), 4))

    vecs = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__fv")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pruned.join(vecs, "neighbor_id")
        .withColumn("cosine", _cos("query_id", "__fv"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
