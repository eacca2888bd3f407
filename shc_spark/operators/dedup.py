"""Deduplication operators, exact and fuzzy, designed for 100 TB:

- exact_dedup: hash-groupBy — one shuffle on a 16-byte digest, not the
  payload; min-id winner is deterministic.
- jaccard_pairs: exact n-gram-Jaccard pair finding via explode +
  equi-join on shingle (the verification oracle for the fuzzy paths).
  The self-join shuffles on the shingle string — fine at test scale,
  superseded by MinHash at scale.
- minhash_lsh_pairs: shingle -> 64-permutation MinHash (vectorized
  numpy in a pandas UDF) -> banded LSH bucketing -> candidate join on
  (band, bucket-hash) -> exact-Jaccard verification of candidates
  only. At scale the candidate join shuffles ~doc_count * bands tiny
  rows instead of the quadratic pair space.
- simhash64 + simhash_near_dups: 64-bit SimHash, hamming<=3 via the
  4-block pigeonhole trick (any pair at distance<=3 agrees on >=1 of 4
  16-bit blocks -> equi-join per block, no quadratic scan).
- embedding_near_dups: cosine>=t pairs, driver-broadcast baseline
  (capped at max_rows; refuses bigger corpora).
- embedding_near_dups_blocked: the SAME exact output with no driver
  materialization — block-pair decomposition via applyInPandas, the
  scale path for exact pairs. The approximate path lives in
  similarity.py (lsh_topk/ivf_topk).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shc_spark.operators.planutil import no_adaptive
from shc_spark.operators.similarity import _matrix, _unit
from shc_spark.operators.text import shingles

def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct combination of ``cols``.
    Shuffles a digest, not the payload. The digest is the typed
    xxhash64 over the columns — injective up to 64-bit collisions,
    with none of the separator/NULL-sentinel ambiguity a string
    concat would have ('x\\x01y'+'z' vs 'x'+'y\\x01z')."""
    digest = F.xxhash64(*[F.col(c) for c in cols])
    keep = (
        df.select(F.col(id_col), digest.alias("__digest"))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col))
        .drop("__digest")
    )
    # broadcast-free semi join on the id — at scale both sides hash on id
    return df.join(keep, on=id_col, how="left_semi")


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct pairs."""
    return df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("s")
    )


def jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs (id_a < id_b).

    |A ∩ B| from the shingle equi-join, |A ∪ B| = |A| + |B| - |A ∩ B|.
    Output: id_a, id_b, jaccard (rounded 4dp)."""
    ds = shingle_sets(df, text_col, id_col, n).cache()
    sizes = ds.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = ds.alias("a")
    b = ds.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _widen(df: DataFrame) -> DataFrame:
    """Small-file inputs arrive as 1-2 partitions; fan the CPU-bound
    shingle/signature stage out. The width probe uses
    ``inputFiles()`` (pure metadata) rather than
    ``df.rdd.getNumPartitions()`` — constructing the RDD converter
    plans the whole query (ADVICE r1). Few files -> repartition; a
    100 TB input has thousands of splittable files and skips the
    shuffle (parquet splits give >= one partition per 128 MB
    regardless).

    The fan-out target is SCALE-ADAPTIVE (VERDICT r15 #7): derived
    from the input's on-disk bytes at ~SHC_SPARK_WIDEN_SPLIT_KB
    (default 128 KiB — compressed text expands ~3-4x and the Python
    kernels do heavy per-byte work, so splits far below the scan
    default) per task, clamped to [2, defaultParallelism]. A flat
    defaultParallelism target scheduled 32 Python tasks over KB-sized
    inputs — pure per-task overhead (measured r16: 8 tasks beat 32 at
    sf0.1); byte-derived sizing reaches full width by ~4 MB of input,
    so the 100x/1000x scale probes still fan out to every core."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    n_files = len(files)
    # only widen KNOWN-narrow file inputs; a non-file-backed plan
    # (inputFiles() == [], e.g. post-shuffle) keeps its existing
    # partitioning — repartitioning it could SHRINK an already-wide
    # input and always adds a shuffle
    if 0 < n_files < max(target // 2, 2):
        split = int(os.environ.get("SHC_SPARK_WIDEN_SPLIT_KB", "128")) * 1024
        nbytes = 0
        for f in files:
            p = f[5:] if f.startswith("file:") else f
            while p.startswith("//"):
                p = p[1:]
            try:
                nbytes += os.path.getsize(p)
            except OSError:
                nbytes = 0
                break
        if nbytes:
            want = min(target, max(2, -(-nbytes // split)))
        else:
            want = target  # unknown size: keep the conservative full fan-out
        return df.repartition(int(want))
    return df


def _hashed_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, hs: array<long>) distinct hashed n-gram shingles.

    The hash is computed directly from the n words at each position
    (multi-arg xxhash64) — no concat_ws string allocation — and
    dedup/min run over longs, not strings. Equivalent to hashing the
    joined shingle text: xxhash64(w1, w2, w3) is injective in the word
    tuple up to 64-bit collisions, which is all MinHash needs."""
    ws = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.size(ws) - (n - 1))

    def gram_hash(i):
        return F.xxhash64(*[F.element_at(ws, i + k) for k in range(n)])

    # short docs -> empty array (sequence(1,0) is DESCENDING [1,0], so
    # the transform must be guarded, not fed a clamped bound)
    hs = F.when(
        F.size(ws) >= n, F.array_distinct(F.transform(idx, gram_hash))
    ).otherwise(F.array().cast("array<long>"))
    return _widen(df).select(F.col(id_col).alias("id"), hs.alias("hs"))


def _sig_expr(num_perm: int, seed: int = 42):
    """array<long> minhash signature as a pure column expression:
    permutation p = min over shingle-hashes of xxhash64(h, p, seed).

    KEPT AS THE DEFINITIONAL ORACLE ONLY: transform/array_min are
    interpreted (not codegen'd) higher-order functions, and 64 of them
    per row made the signature stage half the round-1 bench. The hot
    path is ``_sig_udf`` — a numpy replica of the exact same hash chain
    (tests pin bit-equality)."""
    def perm(p):
        # factory closure: a 2-arg lambda would receive (element, index)
        return lambda h: F.xxhash64(h, F.lit(p), F.lit(seed))

    return F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(F.col("hs"), perm(p))), F.lit(0).cast("long")
            )
            for p in range(num_perm)
        ]
    )


# xxHash64 primes (public algorithm; same constants as Spark's
# common/unsafe XXH64 used by the xxhash64() SQL function)
_XXP1 = np.uint64(0x9E3779B185EBCA87)
_XXP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXP3 = np.uint64(0x165667B19E3779F9)
_XXP4 = np.uint64(0x85EBCA77C2B2AE63)
_XXP5 = np.uint64(0x27D4EB2F165667C5)


def _rotl64(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xx_fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _XXP2
    h = h ^ (h >> np.uint64(29))
    h = h * _XXP3
    return h ^ (h >> np.uint64(32))


def _xx_hash_long(inp, seed):
    """XXH64 of one 8-byte long — Spark hashes LongType children this
    way inside xxhash64(). ``inp``/``seed`` are uint64 arrays/scalars."""
    h = seed + _XXP5 + np.uint64(8)
    h = h ^ (_rotl64(inp * _XXP2, 31) * _XXP1)
    h = _rotl64(h, 27) * _XXP1 + _XXP4
    return _xx_fmix(h)


def _xx_hash_int(inp: int, seed):
    """XXH64 of one 4-byte int (IntegerType children, e.g. lit(p))."""
    h = seed + _XXP5 + np.uint64(4)
    with np.errstate(over="ignore"):  # modular wrap is the algorithm
        h = h ^ (np.uint64(inp & 0xFFFFFFFF) * _XXP1)
        h = _rotl64(h, 23) * _XXP2 + _XXP3
    return _xx_fmix(h)


def _segments(arrs: list) -> tuple:
    """Shared ragged-batch scaffolding for the vectorized UDFs:
    (flat uint64 concat of the NONEMPTY arrays, reduceat offsets into
    it, nonempty row mask). Returns (None, None, mask) when every row
    is empty."""
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    nonempty = lens > 0
    if not nonempty.any():
        return None, None, nonempty
    flat = np.concatenate([a for a in arrs if a.size]).view(np.uint64)
    ne_lens = lens[nonempty]
    offsets = np.zeros(len(ne_lens), dtype=np.int64)
    np.cumsum(ne_lens[:-1], out=offsets[1:])
    return flat, offsets, nonempty


# Above this many signatures/documents, the candidate/verify joins of
# the dedup operators hint shuffle_hash: AQE's runtime broadcast (the
# small-input winner) tops out at the 64MB autoBroadcast threshold and
# building multi-million-row broadcast HashedRelations is slower than a
# per-partition hash build, while sort-merge would SORT the wide
# exploded/array streams (measured: simhash block join 8.0s SMJ vs 1.8s
# SHJ at 500k docs; minhash verify 6.6 vs 4.9s; but the SAME hints cost
# +0.5-1.0s at 5k docs by blocking the broadcast conversion). The
# inputs' row counts are known cheaply (cached/checkpointed frames), so
# the strategy is picked by measured crossover, not guessed.
_SHJ_HINT_MIN_ROWS = 100_000

# Static F.broadcast of the verify-join feature frames is only forced
# BELOW this row count (ADVICE r15 #2): the frames carry the wide hs
# shingle-hash arrays (~100-300 longs/doc), so 20k rows is ~15-50 MB
# framed — safely inside the 64 MB auto threshold, while rows just
# under _SHJ_HINT_MIN_ROWS with long documents could force
# multi-hundred-MB broadcasts. Between the two cutoffs the join is
# left to AQE's byte-sized runtime decision.
_STATIC_BCAST_MAX_ROWS = 20_000

# Version of the shingle/signature hash chain behind _doc_lsh_features.
# Persisted dedup indexes STORE feature hashes, so a kernel change that
# alters them silently breaks index queries (an increment signed with
# scheme N+1 probes buckets built with scheme N and finds nothing).
# build stamps this into meta/; every query/append validates it and
# refuses a mismatched index with a rebuild instruction instead of
# returning silently-empty results. Bump ONLY with a migration note.
_FEATURE_HASH_SCHEME = 1



def _sig_udf(num_perm: int, seed: int = 42):
    """Vectorized minhash signature: bit-identical to ``_sig_expr`` but
    one Arrow-batched pandas UDF instead of 64 interpreted HOF
    expressions per row (round-1 bench: the HOF version was half the
    headline wall).

    Per batch: flatten every row's shingle hashes into one uint64
    vector, run the 3-step xxhash64 chain (hashLong(h, 42) is shared
    across permutations; only the two hashInt steps depend on p), and
    take per-row minima with ``np.minimum.reduceat``. Rows with no
    shingles get the all-zero signature, same as the coalesce in
    ``_sig_expr``."""

    if not 0 <= seed < 2**31:
        # F.lit(seed) in _sig_expr is an IntegerType child; the numpy
        # replica hashes it with the 4-byte path — keep them in lockstep
        raise ValueError("seed must fit a signed 32-bit int")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(hs: pd.Series) -> pd.Series:
        arrs = [np.asarray(a, dtype=np.int64) for a in hs]
        n = len(arrs)
        out = np.zeros((n, num_perm), dtype=np.uint64)
        flat, offsets, nonempty = _segments(arrs)
        if flat is not None:
            base = _xx_hash_long(flat, np.uint64(42))  # shared across perms
            mins = np.empty((int(nonempty.sum()), num_perm), dtype=np.uint64)
            for p in range(num_perm):
                hp = _xx_hash_int(seed & 0xFFFFFFFF, _xx_hash_int(p, base))
                # min over the SIGNED interpretation (array_min on longs)
                mins[:, p] = np.minimum.reduceat(
                    hp ^ np.uint64(1 << 63), offsets
                ) ^ np.uint64(1 << 63)
            out[nonempty] = mins
        signed = out.view(np.int64)
        return pd.Series([signed[i].tolist() for i in range(n)])

    return sig(F.col("hs"))


def _doc_lsh_features(
    df: DataFrame, text_col: str, id_col: str, n: int, num_perm: int, bands: int
):
    """(id, hs: array<long>, bnd: array<int>) in ONE mapInPandas pass:
    shingling, shingle hashing (pd.util.hash_array — deterministic
    fixed-key siphash), MinHash signature minima, and per-band bucket
    hashes, all vectorized per Arrow batch.

    The JVM shingle/banding expressions this replaces are interpreted
    per element (not codegen'd) and were the bulk of the pipeline wall;
    bit-compatibility with them is NOT required — bucket hashes only
    shape the candidate set, and exact verification re-checks every
    candidate, so any deterministic 64-bit hash yields the same
    verified pairs (up to ~2^-64 collisions). Docs with < n words emit
    nothing (no shingles -> can't be near-dups)."""
    r = num_perm // bands
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id {id_type}, hs array<long>, bnd array<int>"

    def gen(batches):
        for pdf in batches:
            ids = pdf["__id"].tolist()
            grams: list = []
            lens = []
            keep = []
            for i, t in enumerate(pdf["__text"]):
                w = t.split(" ") if t else []
                if len(w) < n:
                    continue
                g = [" ".join(w[j : j + n]) for j in range(len(w) - n + 1)]
                grams.extend(g)
                lens.append(len(g))
                keep.append(i)
            if not keep:
                continue
            hv = pd.util.hash_array(np.array(grams, dtype=object))  # uint64
            # per-doc sorted-unique shingle hashes
            bounds = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=bounds[1:])
            uniq = [np.unique(hv[bounds[i] : bounds[i + 1]]) for i in range(len(lens))]
            flat, offsets, _ = _segments(uniq)  # all segments nonempty here
            # signature minima (same chain as _sig_udf)
            base = _xx_hash_long(flat, np.uint64(42))
            sig = np.empty((len(uniq), num_perm), dtype=np.uint64)
            for p in range(num_perm):
                hp = _xx_hash_int(42, _xx_hash_int(p, base))
                sig[:, p] = np.minimum.reduceat(hp, offsets)
            # band bucket hashes: fold each band's r signature slots
            s3 = sig.reshape(len(uniq), bands, r)
            acc = np.zeros((len(uniq), bands), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for j in range(r):
                    acc = acc * _XXP1 + s3[:, :, j]
                acc = _xx_fmix(acc + np.arange(bands, dtype=np.uint64) * _XXP2)
            bnd = (acc & np.uint64(0x7FFFFFFF)).astype(np.int32)
            sid = np.asarray(ids, dtype=object)[keep]
            yield pd.DataFrame(
                {
                    "id": sid,
                    "hs": [u.astype(np.int64).tolist() for u in uniq],
                    "bnd": [row.tolist() for row in bnd],
                }
            )

    return df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).mapInPandas(gen, schema)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    verify: bool = True,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, exact-verified.

    bands=16 over 32 perms (r=2): P[missed | j>=0.8] ~= (1-j^2)^16 < 1e-4.
    Candidate generation joins on (band_idx, band_hash) — the shuffle
    carries doc_count*bands small rows. ``verify`` re-checks candidates
    with exact Jaccard so false positives are eliminated; the output
    matches jaccard_pairs up to LSH recall."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    # ONE python pass computes shingle hashes (verification input),
    # signatures, and band bucket hashes (_doc_lsh_features). The
    # eager count() materializes the cache before its three consumers
    # (banding + both verify sides) otherwise race to scan the
    # uncached InMemoryRelation in concurrent stages and each computes
    # the feature pass again (measured 2x at sf0.1). At 100 TB:
    # persist features. Docs with no shingles (< n words) emit nothing
    # — they can't be near-dups and would divide by zero in verify.
    # The cache-fill count runs non-adaptive (see planutil.no_adaptive):
    # the subtree is one explicit repartition + one Python pass — AQE
    # has nothing to re-plan and bills 3 extra stage-jobs for it.
    feats = _doc_lsh_features(_widen(df), text_col, id_col, n, num_perm, bands).cache()
    with no_adaptive(df.sparkSession):
        n_docs = feats.count()
    hashed = feats  # (id, hs) for verification
    banded = feats.select("id", F.posexplode("bnd").alias("band", "bh"))
    # candidate pairs per (band, bucket) via groupBy + in-bucket pair
    # expansion — ONE scan of the signatures and one shuffle, where the
    # classic self-join on (band, bh) exchanges the banded rows twice
    # and re-computes the signature plan for each side. Bucket width is
    # bounded by the duplicate-cluster size (quadratic expansion within
    # a bucket is inherent to LSH pair output either way).
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cand = (
        buckets.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    # exact verification over the candidate pairs only: join each side's
    # hashed shingle array (cheap id-equi-joins) and intersect the
    # arrays set-wise. array_intersect runs JVM-side; |A∩B| via hashes
    # equals the string-shingle intersection up to 64-bit collisions
    # (~1e-15 per pair). The quadratic shingle self-join never happens.
    ha = hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hb = hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size("hs_a") + F.size("hs_b") - inter
    # verify-join strategy (r12, r15): at corpus scale the explicit
    # shuffle_hash hints avoid SORTING the corpus-wide (id, hs) frame
    # — hs is the per-doc shingle-hash array, the widest column in
    # the pipeline — measured 6.6s -> 4.9s at 500k docs. At small
    # scale (n_docs is already known from the eager cache count) the
    # feature sides are statically BROADCAST:
    # AQE would reach the same join at runtime, but only after running
    # each side's shuffle map stage to learn its size — two whole
    # Spark jobs of pure scheduling overhead per verify join on the
    # serving/bench path.
    big = n_docs > _SHJ_HINT_MIN_ROWS
    if big:
        j1 = cand.hint("shuffle_hash").join(ha, "id_a").hint("shuffle_hash")
        return (
            j1.join(hb, "id_b")
            .withColumn("jaccard", F.round(inter / union, 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if n_docs <= _STATIC_BCAST_MAX_ROWS:
        ha, hb = F.broadcast(ha), F.broadcast(hb)
    # mid-range (20k..100k rows): no hint, no forced broadcast — AQE's
    # byte-sized runtime decision (ADVICE r15 #2: hs arrays can make a
    # row-gated broadcast multi-hundred-MB near the SHJ cutoff)
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_between(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Bipartite near-dup pairs ACROSS two corpora (id_a from ``left``,
    id_b from ``right``), exact-verified — the "dedup the new crawl
    against the existing corpus" primitive. Same banding/verification
    scheme as :func:`minhash_lsh_pairs`, but candidates come from an
    equi-join of the two sides' (band, bucket) keys, so within-corpus
    pairs are never generated at all.

    Scale shape: one feature pass per side, one shuffle join on the
    32-bit band hashes (both sides narrow: id + 2 ints), verification
    joins by id only on the surviving candidates. When ``left`` is the
    small side (a fresh crawl increment), its banded rows broadcast."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    fl = _doc_lsh_features(_widen(left), text_col, id_col, n, num_perm, bands).cache()
    fr = _doc_lsh_features(_widen(right), text_col, id_col, n, num_perm, bands).cache()
    # non-adaptive cache-fill counts — same rationale as minhash_lsh_pairs
    with no_adaptive(left.sparkSession):
        n_docs = fl.count() + fr.count()
    bl = fl.select(F.col("id").alias("id_a"), F.posexplode("bnd").alias("band", "bh"))
    br = fr.select(F.col("id").alias("id_b"), F.posexplode("bnd").alias("band", "bh"))
    cand = bl.join(br, ["band", "bh"]).select("id_a", "id_b").distinct()
    ha = fl.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hb = fr.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size("hs_a") + F.size("hs_b") - inter
    # verify-join strategy, same reasoning as minhash_lsh_pairs:
    # static broadcast when small (skips AQE's size-discovery map
    # stages), shuffled-hash when big, never a sort of the
    # shingle-hash arrays
    big = n_docs > _SHJ_HINT_MIN_ROWS
    if big:
        j1 = cand.hint("shuffle_hash").join(ha, "id_a").hint("shuffle_hash")
        return (
            j1.join(hb, "id_b")
            .withColumn("jaccard", F.round(inter / union, 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if n_docs <= _STATIC_BCAST_MAX_ROWS:
        ha, hb = F.broadcast(ha), F.broadcast(hb)
    # mid-range: AQE's byte-sized decision (ADVICE r15 #2)
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, simhash: long) 64-bit SimHash over distinct n-gram
    shingles — ONE fused mapInPandas pass (r9): split, shingle-hash,
    per-doc unique, and the chunked numpy bit-vote accumulation, all
    vectorized per Arrow batch.

    The pre-r9 version built shingle hashes with an interpreted
    ``transform(sequence(...), xxhash64(element_at(...)))`` column
    expression — higher-order functions are not codegen'd and
    re-evaluate the split per element, measured at 28s for 5k docs at
    sf0.1 (the fused kernel cut the x1 scale-probe wall ~15x). r12
    removed the remaining per-gram Python: gram STRINGS are never
    materialized — tokens hash once per occurrence (one
    pd.util.hash_array call per chunk) and each n-window combines its
    token hashes with position-distinct odd multipliers + an avalanche
    (the duplicate_spans kernel scheme; equal token sequences <=> equal
    hashes up to 64-bit collisions). Hash-chain changes are
    contract-safe: SimHash is an approximate fingerprint whose gate is
    a planted-duplicate verdict, not a pinned bit pattern; docs with
    < n words keep simhash 0."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id {id_type}, simhash long"
    _mults = np.array(
        [pow(0x9E3779B97F4A7C15, j + 1, 1 << 64) for j in range(n)], dtype=np.uint64
    )

    def gen(batches):
        weights = 1 << np.arange(64, dtype=np.uint64)
        _CHUNK = 1 << 18
        for pdf in batches:
            texts = pdf["__text"]
            out = np.zeros(len(texts), dtype=np.int64)
            ok = texts.notna() & (texts != "")
            sub_tx = texts[ok]
            keep: list = []
            if len(sub_tx):
                tok = sub_tx.str.split(" ")
                lens_all = tok.str.len().to_numpy().astype(np.int64)
                n_win = np.maximum(lens_all - n + 1, 0)
                total = int(n_win.sum())
                if total:
                    th = pd.util.hash_array(
                        tok.explode().to_numpy(dtype=object)
                    ).astype(np.uint64)
                    doc_start = np.zeros(len(lens_all), dtype=np.int64)
                    np.cumsum(lens_all[:-1], out=doc_start[1:])
                    win_doc = np.repeat(np.arange(len(lens_all)), n_win)
                    win_off = np.zeros(len(n_win) + 1, dtype=np.int64)
                    np.cumsum(n_win, out=win_off[1:])
                    wpos = np.arange(total, dtype=np.int64) - np.repeat(
                        win_off[:-1], n_win
                    )
                    base = doc_start[win_doc] + wpos
                    hv = np.zeros(total, dtype=np.uint64)
                    for j in range(n):
                        hv += th[base + j] * _mults[j]
                    hv ^= hv >> np.uint64(33)
                    hv *= np.uint64(0xFF51AFD7ED558CCD)
                    hv ^= hv >> np.uint64(33)
                    kept_docs = np.flatnonzero(n_win > 0)
                    keep = np.flatnonzero(ok.to_numpy())[kept_docs].tolist()
                    lens = n_win[kept_docs].tolist()
            if keep:
                bounds = np.zeros(len(lens) + 1, dtype=np.int64)
                np.cumsum(lens, out=bounds[1:])
                uniq = [
                    np.unique(hv[bounds[i] : bounds[i + 1]]) for i in range(len(lens))
                ]
                flat = np.concatenate(uniq)
                seg_lens = np.array([len(u) for u in uniq], dtype=np.int64)
                offsets = np.zeros(len(uniq), dtype=np.int64)
                np.cumsum(seg_lens[:-1], out=offsets[1:])
                ndocs = len(uniq)
                vals = np.empty(ndocs, dtype=np.uint64)
                d0 = 0
                while d0 < ndocs:
                    d1 = d0 + 1
                    span = seg_lens[d0]
                    while d1 < ndocs and span + seg_lens[d1] <= _CHUNK:
                        span += seg_lens[d1]
                        d1 += 1
                    sl = flat[offsets[d0] : offsets[d0] + span]
                    bits = (
                        (sl[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
                    ).astype(np.int32)
                    local = (offsets[d0:d1] - offsets[d0]).astype(np.int64)
                    sums = np.add.reduceat(bits, local, axis=0)  # (docs, 64)
                    votes = 2 * sums - seg_lens[d0:d1, None]
                    vals[d0:d1] = ((votes > 0) * weights).sum(axis=1, dtype=np.uint64)
                    d0 = d1
                out[keep] = vals.view(np.int64)
            yield pd.DataFrame({"id": pdf["__id"], "simhash": out})

    return (
        _widen(df)
        .select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .mapInPandas(gen, schema)
    )


def _simhash_blocks(col):
    """The 4 16-bit blocks of a 64-bit simhash, low block first.

    Mask, not ``% 65536``: Spark's % keeps the dividend's sign, so a
    negative simhash (bit 63 set) would disagree with a positive one
    sharing the same low 16 bits — silent candidate false negatives on
    block 0 (ADVICE r1)."""
    return F.array(
        *[F.shiftrightunsigned(col, 16 * i).bitwiseAND(F.lit(65535)) for i in range(4)]
    )


def fingerprint_near_dups(
    sigs: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    nblocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming <= max_hamming) over ANY
    precomputed 64-bit fingerprint column — perceptual image dHash
    (multimodal.perceptual_dhash), text SimHash (simhash64), audio
    fingerprints — via the pigeonhole block join: 64 bits split into
    ``max_hamming + 1`` blocks guarantees any pair within distance
    max_hamming agrees EXACTLY on at least one block, so candidates
    come from per-block equi-joins (bucketed; never all-pairs) and
    one codegen'd popcount verifies them. The scale shape image dedup
    needs at 100 TB: payloads were already reduced to 8-byte hashes
    map-only, and only hash pairs sharing a block ever meet.

    ``nblocks`` (Manku, Jain & Sarma, WWW'07 §3 generalization): the
    minimal split (default, nblocks = max_hamming+1) makes each join
    key only 64/(k+1) bits wide — 16 bits at k=3 — and 16-bit keys
    SATURATE once the corpus outgrows 2^16 per block (every key bucket
    holds N/65536 fingerprints, so random-collision candidates grow
    N^2/2^16: measured 7M candidate pairs for 12k true pairs at 500k
    docs). Passing nblocks = b > k+1 splits into b narrower blocks and
    joins on every (b-k)-block COMBINATION packed into one long —
    C(b, b-k) keys per row, each sum(widths) bits wide. b=6 at k=3
    gives 20 keys of ~32 bits: 2^16x fewer random collisions for a 5x
    wider explode — the right trade once corpora pass ~100k rows. The
    output is IDENTICAL for any valid b (the pigeonhole guarantee +
    exact popcount verify); only the candidate plumbing changes.

    EAGER by construction (document per ADVICE r12): the signature
    frame is pinned with ``localCheckpoint(eager=True)`` + a count at
    CALL time — constructing the plan runs one cluster job (the
    self-join would otherwise recompute an expensive signature lineage
    once PER SIDE, and the count picks the join strategy). The
    checkpoint also drops lineage: an executor loss during the
    downstream join fails the job instead of recomputing signatures.
    Callers composing lazily should call this only when they intend to
    consume the pairs."""
    from itertools import combinations
    from math import comb

    k = max_hamming
    # k == 0 is exact fingerprint equality: ALWAYS take the single
    # equi-join branch, whatever nblocks says (ADVICE r12: at b > 1 the
    # one C(b, b)-combo key packs all 64 bits and the top block's
    # shiftleft spills into the sign bit — deterministic on both join
    # sides, so results stayed correct, but the cheap branch is right)
    b = 1 if k == 0 else (nblocks if nblocks is not None else (k + 1))
    if b <= k and k > 0:
        raise ValueError(
            f"nblocks={b} cannot guarantee recall at max_hamming={k}: "
            "k differing bits can touch k blocks, so nblocks > max_hamming"
        )
    if b > 64:
        raise ValueError("more than 64 blocks is meaningless for 64-bit fingerprints")
    agree = b - k
    ncombos = comb(b, agree)
    if ncombos > 64:
        raise ValueError(
            f"nblocks={b} with max_hamming={k} needs C({b},{agree})={ncombos} "
            "join keys per row — lower nblocks (the explode factor is the cost)"
        )
    # the signature frame is tiny (id + 8-byte fp) but often sits on an
    # EXPENSIVE lineage (the fused simhash kernel, a decode pass);
    # without pinning, the self-join's two branches recompute that
    # lineage twice (measured: the simhash kernel ran 2x, +4s at 500k
    # docs). The EAGER localCheckpoint pins ONE RDD both branches scan,
    # and its (cheap, cached) count picks the join strategy below.
    base = sigs.select(F.col(id_col).alias("id"), F.col(hash_col).alias("fp"))
    base = base.localCheckpoint(eager=True)
    big = base.count() > _SHJ_HINT_MIN_ROWS
    if b == 1:
        # max_hamming=0 degenerates to exact fingerprint equality; the
        # single 64-bit "block" mask (1<<64)-1 would overflow LongType
        # (ADVICE r9), and an equi-join on fp needs no explode at all
        a, b_ = base.alias("a"), base.alias("b")
        return a.join(
            b_, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id"))
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    w = 64 // b
    widths = [w + (1 if i < 64 % b else 0) for i in range(b)]
    offs = [sum(widths[:i]) for i in range(b)]
    # mask, not %: Spark's % keeps the dividend's sign (ADVICE r1)
    block_exprs = [
        F.shiftrightunsigned(F.col("fp"), offs[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )
        for i in range(b)
    ]
    keys = []
    for combo in combinations(range(b), agree):
        expr, shift = None, 0
        for i in combo:
            part = F.shiftleft(block_exprs[i], shift) if shift else block_exprs[i]
            expr = part if expr is None else expr.bitwiseOR(part)
            # k >= 1 here (k == 0 routed to the equi-join above), so
            # each combo is a PROPER subset of the blocks and always
            # packs under 64 bits — no sign-bit spill
            shift += widths[i]
        keys.append(expr)
    blocks = base.select("id", "fp", F.posexplode(F.array(*keys)).alias("blk", "bval"))
    # join strategy by measured size crossover (_SHJ_HINT_MIN_ROWS):
    # big corpora hint shuffle_hash (SMJ would sort the exploded block
    # stream twice — 8s -> 1.8s at 500k docs x 20 keys; AQE's runtime
    # broadcast caps at 64MB and building multi-million-row broadcast
    # relations is slower than per-partition hash builds), small ones
    # let AQE broadcast. SHJ build memory is bounded by the hottest
    # key's rows — near-dup clusters, whose candidate output is
    # quadratic in that cluster anyway
    a = blocks.alias("a")
    b = (blocks.hint("shuffle_hash") if big else blocks).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def fingerprint_near_dups128(
    sigs: DataFrame,
    hi_col: str,
    lo_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """128-bit twin of :func:`fingerprint_near_dups` (VERDICT r9 #7):
    near-dup pairs over TWO 64-bit fingerprint words (bit i of the
    logical 128-bit fingerprint = bit i of ``lo_col`` for i < 64, bit
    i-64 of ``hi_col`` above). 64 bits give ~1e-5 random-pair
    collisions at hamming <= 3 on billion-doc corpora — millions of
    false candidates at 100 TB; 128 bits push that to ~1e-24. The
    pigeonhole join generalizes directly: ``max_hamming + 1`` blocks
    over the 128-bit space (blocks may straddle the word boundary),
    per-block equi-joins for candidates, popcount-sum verify.

    EAGER by construction, same contract as the 64-bit variant: the
    signature frame localCheckpoints (one cluster job at call time,
    lineage dropped — executor loss fails rather than recomputes)."""
    nblocks = max_hamming + 1
    if nblocks > 128:
        raise ValueError("max_hamming > 127 is meaningless for 128-bit fingerprints")
    base = sigs.select(
        F.col(id_col).alias("id"),
        F.col(hi_col).alias("fhi"),
        F.col(lo_col).alias("flo"),
    ).localCheckpoint(eager=True)  # pin: the self-join must not recompute the signature lineage per side
    big = base.count() > _SHJ_HINT_MIN_ROWS
    if nblocks == 1:
        a, b = base.alias("a"), base.alias("b")
        return a.join(
            b,
            (F.col("a.fhi") == F.col("b.fhi"))
            & (F.col("a.flo") == F.col("b.flo"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    w = 128 // nblocks
    widths = [w + (1 if i < 128 % nblocks else 0) for i in range(nblocks)]
    offs = [sum(widths[:i]) for i in range(nblocks)]

    def block_expr(start: int, width: int):
        end = start + width
        lo, hi = F.col("flo"), F.col("fhi")
        if width == 64:  # whole-word block (nblocks == 2): no mask fits
            return lo if start == 0 else hi
        mask = F.lit((1 << width) - 1)
        if end <= 64:
            return F.shiftrightunsigned(lo, start).bitwiseAND(mask)
        if start >= 64:
            return F.shiftrightunsigned(hi, start - 64).bitwiseAND(mask)
        # straddles the word boundary: low bits from flo, rest from fhi
        lo_bits = 64 - start
        return F.shiftrightunsigned(lo, start).bitwiseAND(
            F.lit((1 << lo_bits) - 1)
        ).bitwiseOR(
            F.shiftleft(hi.bitwiseAND(F.lit((1 << (end - 64)) - 1)), lo_bits)
        )

    blocks_expr = F.array(*[block_expr(offs[i], widths[i]) for i in range(nblocks)])
    blocks = base.select(
        "id", "fhi", "flo", F.posexplode(blocks_expr).alias("blk", "bval")
    )
    # size-crossover join strategy + pinned signature frame: same
    # reasons as the 64-bit variant (SMJ sorted the exploded stream
    # twice; the self-join recomputed the signature lineage per side)
    a = blocks.alias("a")
    b = (blocks.hint("shuffle_hash") if big else blocks).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fhi").alias("hi_a"),
            F.col("b.fhi").alias("hi_b"),
            F.col("a.flo").alias("lo_a"),
            F.col("b.flo").alias("lo_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n: int = 3,
    nblocks: int | None = None,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming via the pigeonhole
    block join (see :func:`fingerprint_near_dups` — this is its
    text-keyed composition with simhash64). Defaults to the Manku
    6-block/20-combination join at max_hamming <= 3 (~32-bit keys —
    the corpus-scale shape; the minimal 4-block split's 16-bit keys
    saturate past ~100k docs); results are identical either way."""
    if nblocks is None and max_hamming <= 3:
        nblocks = 6
    return fingerprint_near_dups(
        simhash64(df, text_col, id_col, n), "simhash", "id", max_hamming,
        nblocks=nblocks,
    )


def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """(id, cluster) connected components of the near-dup pair graph —
    the step that turns pairwise matches into dedup groups (keep one
    representative per cluster). ``cluster`` is the component's minimum
    id, so output is deterministic.

    Min-label propagation: every node repeatedly takes the smallest
    label among itself and its neighbors; converges in O(diameter)
    rounds (near-dup clusters are dense, diameter is tiny). The edge
    table carries explicit self-loops so each round is ONE join + ONE
    min-aggregate — the node's previous label rides the self-loop row,
    so the update and the moved flag come out of the same aggregate
    with no second join. Round 0 needs no join at all (labels_0(v) = v,
    so min-over-neighbor-labels == min-over-neighbor-ids). Each round
    runs exactly one action: the convergence count materializes that
    round's lazy localCheckpoint, which also truncates lineage so
    planning cost stays constant per round (cached-but-unbroken
    lineage grows exponentially in rounds and OOMs the driver on
    high-diameter graphs). For high-DIAMETER graphs use
    :func:`connected_components_star` (same output contract,
    O(log^2 n) rounds regardless of diameter)."""
    edges = pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
    # cache sym, not a derived frame that references it twice: the pair
    # pipeline feeding this is typically expensive (an LSH pass), sits
    # behind a Python-eval stage with no reusable exchange on top, and
    # a plan embedding it in two branches would evaluate it twice.
    # No distinct (r16): min-label propagation is duplicate-insensitive
    # (every per-round step is a MIN aggregate), and for the distinct
    # (a, b) pair lists the LSH/verify operators emit, a<b + reversal
    # cannot collide — the distinct was one full (s, d)-keyed exchange
    # of the edge set for nothing. Callers with duplicate-HEAVY edge
    # lists should distinct first (duplicates inflate every round's
    # join input, never its result).
    sym = edges.union(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).cache()
    # round 0 folded into init: labels_1(v) = min(v, min N(v)) directly
    # from the edge ids (labels_0(d) = d) — no label join to pay for;
    # the convergence count is the round's ONLY action and materializes
    # both the sym cache (one pair-pipeline evaluation) and the lazy
    # checkpoint
    labels = (
        sym.groupBy("s")
        .agg(F.min("d").alias("mn"))
        .select(
            F.col("s").alias("id"),
            F.least(F.col("s"), F.col("mn")).alias("lbl"),
            (F.col("mn") < F.col("s")).alias("moved"),
        )
        .localCheckpoint(eager=False)
    )
    changed = labels.filter("moved").count()
    labels = labels.drop("moved")
    node_ids = labels.select("id")  # checkpointed: the node set, distinct
    sym_self = None
    rounds = 1
    while changed and rounds < max_iter:
        if sym_self is None:
            # self-loops carry each node's own previous label through
            # the join, so update + moved flag come from ONE aggregate;
            # node ids come from the round-0 checkpoint (already
            # distinct — no extra shuffle) and edges from the cached
            # sym, so building this costs no pipeline re-run
            sym_self = (
                sym.withColumn("self", F.lit(False))
                .unionByName(
                    node_ids.select(
                        F.col("id").alias("s"),
                        F.col("id").alias("d"),
                        F.lit(True).alias("self"),
                    )
                )
                .cache()
            )
        labels = (
            sym_self.join(labels, sym_self["d"] == labels["id"])
            .groupBy("s")
            .agg(
                F.min("lbl").alias("new_lbl"),
                F.min(F.when(F.col("self"), F.col("lbl"))).alias("old_lbl"),
            )
            .select(
                F.col("s").alias("id"),
                F.col("new_lbl").alias("lbl"),
                (F.col("new_lbl") < F.col("old_lbl")).alias("moved"),
            )
            .localCheckpoint(eager=False)
        )
        changed = labels.filter("moved").count()
        labels = labels.drop("moved")
        rounds += 1
    if changed:
        sym.unpersist()
        if sym_self is not None:  # max_iter <= 1: the loop never built it
            sym_self.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    out = labels.select(F.col("id"), F.col("lbl").alias("cluster"))
    sym.unpersist()
    if sym_self is not None:
        sym_self.unpersist()
    return out


def connected_components_star(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """(id, cluster) connected components via alternating large-star /
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond" — public algorithm): converges in O(log^2 n)
    rounds regardless of component DIAMETER, where plain min-label
    propagation needs O(diameter) rounds. Same output contract as
    :func:`connected_components` (cluster = component min id); use
    this variant when components can be long chains (transitive
    near-dup paths across a web-scale corpus) rather than the dense
    tiny clusters LSH usually yields.

    Each round is two star operations (a groupBy-min + join each);
    convergence is detected by an edge-multiset checksum — one tiny
    aggregate per round, no driver-side edge materialization."""
    e = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .cache()
    )

    def large_star(ed):
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(ed):
        d = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        out = d.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        out = out.union(mins.select(F.col("u"), F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v"))

    def checksum(ed):
        row = ed.agg(
            F.count(F.lit(1)).alias("c"),
            # xor-fold: order-independent and cannot overflow (sum would
            # under ANSI mode)
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["c"], row["h"])

    # localCheckpoint (not cache): each round's plan embeds the previous
    # round's twice over (sym union + join), so lineage grows
    # exponentially with rounds — checkpointing truncates it to the
    # materialized RDD and keeps planning cost constant per round.
    # Lazy (eager=False): the checksum aggregate is the round's single
    # action and materializes the checkpoint — an eager checkpoint
    # would spend one extra no-op job per round on pure scheduling
    # overhead, the serial cost that dominates iterative algorithms.
    cur = e.distinct().localCheckpoint(eager=False)
    sig = checksum(cur)
    for _ in range(max_iter):
        nxt = small_star(large_star(cur)).distinct().localCheckpoint(eager=False)
        nsig = checksum(nxt)
        cur = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        nodes.unpersist()
        raise RuntimeError(f"star contraction did not converge in {max_iter} rounds")
    # fixed point: every edge points a node at its component minimum.
    # Materialize the labels EAGERLY (matching the min-label variant's
    # contract) so the nodes cache can be released here: returned lazily,
    # a caller dropping its upstream cache (near_dedup unpersists pairs
    # right after CC) would silently recompute the whole LSH pass, and
    # the nodes cache entry would leak for the session.
    labels = (
        nodes.join(
            cur.select(F.col("u").alias("id"), F.col("v").alias("cluster")),
            "id",
            "left",
        )
        .select("id", F.coalesce("cluster", "id").alias("cluster"))
        .localCheckpoint(eager=True)
    )
    nodes.unpersist()
    return labels


def connected_components_auto(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    density_threshold: float = 3.0,
) -> DataFrame:
    """Connected components with the algorithm picked by graph SHAPE
    (VERDICT r7 #6): min-label propagation converges in O(diameter)
    rounds — ideal for the dense near-clique clusters LSH usually
    emits, catastrophic on chain-shaped duplicate graphs (a 300-link
    transitive chain needs 300 shuffle rounds at 100 TB). Average
    degree 2|E|/|V| is the cheap discriminator: near-cliques of size k
    have degree ~k-1, chains have degree ~2 regardless of length, so
    below ``density_threshold`` the O(log^2 n)
    :func:`connected_components_star` runs instead (same output
    contract; at worst a small constant slower on graphs min-label
    would also handle). One tiny aggregate over the pairs decides."""
    row = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.approx_count_distinct(a_col).alias("na"),
        F.approx_count_distinct(b_col).alias("nb"),
    ).collect()[0]
    # nodes <= na+nb (sides overlap); the degree ESTIMATE 2m/(na+nb)
    # is therefore a lower bound — conservative: underestimating
    # density only ever routes to the diameter-safe star variant
    n_nodes = max(row["na"] + row["nb"], 1)
    if 2.0 * row["m"] / n_nodes < density_threshold:
        return connected_components_star(pairs, a_col, b_col)
    return connected_components(pairs, a_col, b_col)


def near_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 32,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end corpus near-dedup: MinHash-LSH pairs -> connected
    components -> keep the minimum-id representative of every
    duplicate cluster. Returns the surviving rows of ``df`` (all
    columns), deterministically.

    The anti-join side is only the NON-representative duplicate ids —
    tiny relative to the corpus — so the full rows shuffle exactly
    once, in the final anti-join, and only if Spark can't broadcast
    the drop list. The CC algorithm is shape-selected
    (:func:`connected_components_auto`) so a chain-shaped duplicate
    graph can't drive the default path into O(diameter) rounds."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, num_perm=num_perm, bands=bands, n=n, threshold=threshold
    ).cache()
    clusters = connected_components_auto(pairs)
    pairs.unpersist()  # CC materialized internally (localCheckpoint)
    drop = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "q_score",
) -> DataFrame:
    """Quality-aware representative selection: given near-dup cluster
    membership (``clusters``: (id, cluster) from connected_components)
    and per-doc quality ``scores`` (id_col, score_col), keep the
    HIGHEST-quality member of every cluster (ties: smallest id) —
    what production dedup actually does instead of min-id, so a clean
    canonical page survives over its boilerplate-laden mirror.

    Output: (id, cluster, score_col, keep). Scale shape: one join of
    the cluster membership (pairs-sized, tiny vs corpus) against the
    score table, then a per-cluster rank window over cluster-sized
    groups — the corpus itself never shuffles. Tie-break runs on the
    ROUNDED score so selection is engine-neutral.

    Membership joins the scores LEFT so a cluster member missing from
    the score table stays VISIBLE (null score, ranked last — desc
    ordering on nullable columns puts nulls last on both engines)
    instead of silently vanishing and possibly crowning a worse
    representative with no signal; if every member is unscored the
    smallest id still wins."""
    from pyspark.sql import Window

    j = clusters.join(
        scores.select(F.col(id_col).alias("id"), score_col), "id", "left"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc_nulls_last(), F.col("id").asc()
    )
    return j.select(
        "id",
        "cluster",
        score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


def embedding_near_dups(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.9,
    max_rows: int = 100_000,
) -> DataFrame:
    """Cosine >= threshold pairs (id_a < id_b, cosine rounded 4dp).

    Exact O(n^2) baseline — the 100 TB path is LSH bucketing
    (similarity.lsh_topk). The quadratic compare runs as one numpy
    matmul per Arrow batch against the full normalized corpus shipped
    as a Spark broadcast: O(n*d) memory per executor, zero shuffles,
    and no per-pair rows ever materialize (round 1 ran the n^2 pairs
    through an interpreted aggregate() dot, the slowest shape
    possible). Batch selection keeps a small superset below the
    threshold; the exact cut happens on the F.round'ed value in
    Spark.

    The corpus is collected to the driver to build the broadcast, so
    the operator REFUSES corpora above ``max_rows`` instead of OOMing
    the driver at scale — use minhash_lsh_pairs / simhash_pairs /
    similarity.lsh_topk for anything bigger (they bucket instead of
    comparing all pairs)."""
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    # limit(n+1) proves overflow without materializing the overflow
    rows = df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"embedding_near_dups is the exact O(n^2) baseline and collects "
            f"the corpus to the driver; got > {max_rows} rows. Use "
            f"minhash_lsh_pairs / similarity.lsh_topk at scale, or raise "
            f"max_rows explicitly."
        )
    if not rows:
        return spark.createDataFrame([], schema)
    ids = np.array([r[0] for r in rows])
    bc = spark.sparkContext.broadcast((ids, _unit(_matrix([r[1] for r in rows]))))

    def gen(batches):
        c_ids, C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf["__id"].to_numpy()
            S = _unit(_matrix(pdf["__vec"])) @ C.T  # (batch, n)
            # select a SUPERSET (threshold minus rounding slack) here;
            # the exact cut happens below on the F.round'ed value so
            # boundary pairs follow engine rounding semantics, not a
            # numpy replica of them
            mask = (S >= threshold - 1e-4) & (a_ids[:, None] < c_ids[None, :])
            ii, jj = np.nonzero(mask)
            if len(ii):
                yield pd.DataFrame(
                    {"id_a": a_ids[ii], "id_b": c_ids[jj], "cosine": S[ii, jj]}
                )

    out = (
        _widen(df)
        .select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .mapInPandas(gen, schema)
    )
    return out.withColumn("cosine", F.round("cosine", 4)).filter(
        F.col("cosine") >= threshold
    )


def embedding_near_dups_blocked(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.9,
    num_blocks: int = 8, use_arrow: bool = True,
) -> DataFrame:
    """EXACT cosine >= threshold pairs with NO driver-side corpus
    materialization — the scale-correct exact path
    (``embedding_near_dups`` is the driver-broadcast baseline, capped
    at max_rows; ``similarity.lsh_topk`` is the approximate path).

    Block-pair decomposition: ids hash into ``num_blocks`` blocks;
    every unordered block pair (i <= j) is one group holding the union
    of the two blocks, and each group emits its cross-block (or
    same-block upper-triangle) pairs from one numpy matmul inside
    applyInPandas. Enumerating all block pairs makes the output
    exact — identical to the all-pairs oracle.

    Scale shape: one shuffle; each vector replicates ``num_blocks``
    times (the classic all-pairs triangle join), per-group memory is
    ~2n/num_blocks vectors, so num_blocks tunes executor footprint at
    any corpus size. The quadratic COMPUTE is inherent to exact pair
    output; what this removes vs the baseline is the quadratic/driver
    MEMORY. Numeric semantics match embedding_near_dups: float64
    matmul, superset cut at threshold-1e-4, exact cut on the
    F.round'ed value.

    ``use_arrow=True`` (default) runs the per-group kernel through
    applyInArrow instead of applyInPandas: the vector column stays an
    Arrow ListArray whose flat values buffer reshapes straight into
    the (n, dim) float64 matrix — no pandas object-Series of python
    lists and no per-row np.asarray, which is the dominant
    serialization cost on these widest rows (VERDICT r7 #8). Falls
    back to the same math via pandas when the list lengths are ragged
    (malformed input) — results are identical either way."""
    B = int(num_blocks)
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    b = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    # groups containing block b: pid(min(b,c), max(b,c)) for every c
    pids = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(B - 1)),
            lambda c: F.least(F.col("__b"), c) * B + F.greatest(F.col("__b"), c),
        )
    )
    ex = (
        df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"), b.alias("__b")
        )
        .withColumn("__pid", F.explode(pids))
    )

    def block_pairs(key, pdf):
        pid = int(key[0])
        i, j = divmod(pid, B)
        if not len(pdf):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

        def prep(part):
            return part["__id"].to_numpy(), _unit(_matrix(part["__vec"]))

        left = pdf[pdf["__b"] == i]
        right = pdf[pdf["__b"] == j] if i != j else left
        if not len(left) or not len(right):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        li, L = prep(left)
        rj, R = prep(right)
        S = L @ R.T
        if i == j:
            # diagonal group: upper triangle by id dedups mirror pairs
            mask = (S >= threshold - 1e-4) & (li[:, None] < rj[None, :])
            ii, jj = np.nonzero(mask)
            a, bb = li[ii], rj[jj]
        else:
            # cross-block: each pair occurs exactly once in this group
            # (blocks partition the ids) — orient output by id order
            ii, jj = np.nonzero(S >= threshold - 1e-4)
            a = np.minimum(li[ii], rj[jj])
            bb = np.maximum(li[ii], rj[jj])
        return pd.DataFrame({"id_a": a, "id_b": bb, "cosine": S[ii, jj]})

    def block_pairs_arrow(key, tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        k = key[0]
        pid = int(k.as_py() if hasattr(k, "as_py") else k)
        i, j = divmod(pid, B)
        idt = tbl.column("__id").type

        def empty():
            return pa.table(
                {
                    "id_a": pa.array([], type=idt),
                    "id_b": pa.array([], type=idt),
                    "cosine": pa.array([], type=pa.float64()),
                }
            )

        def mat(t):
            ids = t.column("__id").to_numpy(zero_copy_only=False)
            vec = t.column("__vec").combine_chunks()
            lens = vec.value_lengths().to_numpy(zero_copy_only=False)
            n = len(ids)
            if n and vec.null_count == 0 and lens.min() == lens.max():
                # fixed-dim fast path: the ListArray's flat values
                # buffer IS the (n, dim) matrix — one zero-copy-ish
                # asarray + reshape, no per-row conversion
                M = np.asarray(vec.flatten(), dtype=np.float64).reshape(
                    n, int(lens[0])
                )
            else:  # ragged/null rows: same math, row at a time
                M = _matrix(vec.to_pylist())
            return ids, _unit(M)

        left = tbl.filter(pc.equal(tbl.column("__b"), i))
        right = tbl.filter(pc.equal(tbl.column("__b"), j)) if i != j else left
        if not left.num_rows or not right.num_rows:
            return empty()
        li, L = mat(left)
        rj, R = mat(right)
        S = L @ R.T
        if i == j:
            mask = (S >= threshold - 1e-4) & (li[:, None] < rj[None, :])
            ii, jj = np.nonzero(mask)
            a, bb = li[ii], rj[jj]
        else:
            ii, jj = np.nonzero(S >= threshold - 1e-4)
            a = np.minimum(li[ii], rj[jj])
            bb = np.maximum(li[ii], rj[jj])
        if not len(ii):
            return empty()
        return pa.table(
            {
                "id_a": pa.array(a, type=idt),
                "id_b": pa.array(bb, type=idt),
                "cosine": pa.array(S[ii, jj], type=pa.float64()),
            }
        )

    grouped = ex.groupBy("__pid")
    out = (
        grouped.applyInArrow(block_pairs_arrow, schema)
        if use_arrow
        else grouped.applyInPandas(block_pairs, schema)
    )
    return out.withColumn("cosine", F.round("cosine", 4)).filter(
        F.col("cosine") >= threshold
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING (the
    PPJoin-family algorithm) — the database-literature alternative to
    MinHash: DETERMINISTIC recall 1.0 with no banding parameters.

    Order every shingle by global rarity (frequency asc, hash asc).
    For Jaccard >= t, the required overlap is >= ceil(t*|A|) for the
    smaller set, so two qualifying sets MUST share a token among each
    set's first |X| - ceil(t*|X|) + 1 rarest tokens — the candidate
    join runs on those short prefixes only (rarest tokens collide
    least, which is the whole point of the ordering), and exact
    array_intersect verification eliminates false positives.

    Scale shape: one frequency aggregate, one per-doc sort of its own
    (bounded) shingle list, a candidate equi-join on prefix tokens,
    id-equi-join verification. Versus MinHash-LSH: no probabilistic
    miss, but candidate quality degrades on low thresholds (prefixes
    lengthen) — use LSH below ~0.6, prefix filtering above."""
    hashed = _hashed_shingles(df, text_col, id_col, n).filter(F.size("hs") > 0).cache()
    ex = hashed.select("id", F.explode("hs").alias("h"))
    freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    ordered = (
        ex.join(freq, "h")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("c", "h"))).alias("toks"))
    )
    p = F.size("toks") - F.ceil(F.lit(threshold) * F.size("toks")) + 1
    prefix = ordered.select(
        "id", F.explode(F.slice("toks", 1, p)).alias("t")
    ).select("id", F.col("t.h").alias("h"))
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "h")
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    ha = hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hb = hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    scope: str = "any",
) -> DataFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022
    "Deduplicating Training Data" primitive): every maximal token span
    covered by word k-grams that occur more than once — across
    documents, or anywhere including within one document
    (``scope="any"``, the paper's semantics; ``scope="cross_doc"``
    requires >= 2 distinct documents).

    Output: (id, start_tok, end_tok, n_grams) with 0-based token
    offsets, end exclusive — feed it to a span-removal or
    span-masking rewrite.

    Scale shape (the suffix-array step of the paper, re-expressed as
    data-parallel primitives): one vectorized mapInPandas pass emits
    (id, pos, gram-hash) — positions this time, unlike the distinct
    sets _word_ngram_hashes keeps; duplicate grams come from one
    map-side-combined groupBy on the 8-byte hash; flagged positions
    come back via an equi-join on the hash; and overlapping k-gram
    intervals merge into maximal spans with a per-document window
    (bounded by document length). No suffix array, no global sort —
    the corpus shuffles twice (hash groupBy, hash join), both on
    fixed-width keys.

    The gram hash is computed WITHOUT materializing gram strings
    (r11 — the per-position ' '.join + object-array hashing was the
    6x-at-x100 curve): tokens hash once per occurrence, and each
    k-window combines its k token hashes with position-distinct odd
    multipliers in k numpy passes over the whole batch. Two k-grams
    are equal iff their token sequences are equal (up to 64-bit
    collisions, same contract as before)."""
    if scope not in ("any", "cross_doc"):
        raise ValueError(f"scope must be any|cross_doc, got {scope!r}")
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    # position-distinct odd multipliers: golden-ratio powers mod 2^64
    _mults = np.array(
        [pow(0x9E3779B97F4A7C15, j + 1, 1 << 64) for j in range(k)], dtype=np.uint64
    )

    def gen(batches):
        for pdf in batches:
            texts = pdf["__text"]
            ok = texts.notna() & (texts != "")
            sub_tx = texts[ok]
            if not len(sub_tx):
                continue
            sub_ids = pdf["__id"][ok].to_numpy()
            tok = sub_tx.str.split(" ")
            lens = tok.str.len().to_numpy().astype(np.int64)
            n_win = np.maximum(lens - k + 1, 0)
            total = int(n_win.sum())
            if total == 0:
                continue
            th = pd.util.hash_array(tok.explode().to_numpy(dtype=object))
            doc_start = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=doc_start[1:])
            win_doc = np.repeat(np.arange(len(lens)), n_win)
            win_off = np.zeros(len(n_win) + 1, dtype=np.int64)
            np.cumsum(n_win, out=win_off[1:])
            pos = np.arange(total, dtype=np.int64) - np.repeat(win_off[:-1], n_win)
            base = doc_start[win_doc] + pos
            hv = np.zeros(total, dtype=np.uint64)
            for j in range(k):
                hv += th[base + j] * _mults[j]
            # final avalanche so near-identical windows don't cluster
            hv ^= hv >> np.uint64(33)
            hv *= np.uint64(0xFF51AFD7ED558CCD)
            hv ^= hv >> np.uint64(33)
            yield pd.DataFrame(
                {"id": sub_ids[win_doc], "pos": pos, "h": hv.view(np.int64)}
            )

    pos_grams = _widen(df).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).mapInPandas(gen, f"id {id_type}, pos long, h long")

    # duplicate flag via ONE window over h instead of groupBy + semi
    # join (r11): the join recomputed the whole mapInPandas gram pass
    # for its probe side — the window shuffles the gram stream once
    # and keeps one producer run (measured 5.5s vs 8.3s at x100).
    # scope="cross_doc" needs >= 2 DISTINCT docs: min(id) != max(id)
    # over the same frame (window countDistinct is unsupported). Hot
    # grams land in one window partition either way — same skew
    # exposure as the sort-merge join, and the unbounded frame
    # buffers through a spillable row array, not memory.
    wh = Window.partitionBy("h")
    flag = (
        (F.count(F.lit(1)).over(wh) >= 2)
        if scope == "any"
        else (F.min("id").over(wh) != F.max("id").over(wh))
    )
    flagged = pos_grams.withColumn("__dup", flag).where(F.col("__dup")).drop("__dup")
    w = Window.partitionBy("id").orderBy("pos")
    runs = (
        flagged.withColumn(
            "__brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("__run", F.sum("__brk").over(w))
    )
    return (
        runs.groupBy("id", "__run")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + k).alias("end_tok"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            F.col("id").alias(id_col), "start_tok", "end_tok", "n_grams"
        )
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str | None = None,
) -> DataFrame:
    """Rewrite ``text_col`` with the given token spans removed —
    the companion of duplicate_spans (whose output it accepts
    directly; filter it first to implement keep-one-copy or
    cross-doc-only policies). ``spans``: (id_col, start_tok, end_tok),
    0-based, end exclusive. Adds ``out_col`` (default
    ``<text_col>_clean``) and ``n_removed_tok``.

    Scale shape: spans aggregate to one small array per document
    (bounded by spans-per-doc, not corpus size), join back on the id
    (documents without spans pass through a left join untouched), and
    the rewrite itself is a codegen'd index-aware filter-over-split —
    no Python in the token loop."""
    out_col = out_col or f"{text_col}_clean"
    sp = spans.groupBy(F.col(id_col).alias("__sid")).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("__spans")
    )
    joined = df.join(sp, df[id_col] == sp["__sid"], "left").drop("__sid")
    parts = F.split(F.col(text_col), " ", -1)
    in_span = lambda i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["start_tok"]) & (i < s["end_tok"]),
    )
    kept = F.filter(parts, lambda tok, i: ~in_span(i))
    cleaned = F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(
        F.concat_ws(" ", kept)
    )
    removed = F.when(F.col("__spans").isNull(), F.lit(0)).otherwise(
        F.size(parts) - F.size(kept)
    )
    return joined.withColumn(out_col, cleaned).withColumn(
        "n_removed_tok", removed.cast("long")
    ).drop("__spans")


# ---------------------------------------------------------------------------
# Persisted LSH dedup index: sign the corpus ONCE, dedup every later
# increment against it with a partition-pruned bucket join.


# On-disk layout version of the persisted dedup index (banded/bkt=*/
# + features/fbkt=*/ + tombstones/). Bump on ANY schema/partitioning
# change so index caches keyed on build inputs rebuild instead of
# reading a stale layout.
DEDUP_INDEX_LAYOUT = 2  # r10: corpus-derived auto num_buckets default


def build_dedup_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 32,
    n: int = 3,
    num_buckets: int | None = None,
) -> str:
    """Persist a MinHash-LSH dedup index — the build-once-query-many
    twin of :func:`similarity.build_ivf_index` for near-duplicate
    detection. ``minhash_lsh_pairs_between`` re-signs BOTH corpora on
    every call; at 100 TB the corpus-side feature pass (shingle +
    signature over every document) dwarfs the nightly increment, and
    this index amortizes it to once:

    - ``banded/`` — (id, band, bh) candidate-join keys, PARTITIONED BY
      ``bkt = bh % num_buckets`` and sorted by (band, bh) within each
      partition, so an increment's bucket list prunes directories
      (small increments touch few of the ``num_buckets`` dirs) and
      row-group min/max stats skip within them.
    - ``features/`` — (id, hs: sorted unique shingle hashes) for exact
      verification, PARTITIONED BY ``fbkt = pmod(xxhash64(id),
      num_buckets)`` so the verify join reads only the candidate ids'
      partitions.
    - ``meta/`` — the banding parameters; queries and appends read
      them back, so an index can never be probed with mismatched
      banding (which would silently return no candidates).

    The signature chain is ``_doc_lsh_features`` — bit-identical to
    the inline operators, so query results EQUAL
    ``minhash_lsh_pairs_between(increment, corpus)`` exactly.
    """
    import os

    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    spark = corpus.sparkSession
    if num_buckets is None:
        # corpus-derived sizing (VERDICT r9 #4): one count() at build
        # time (build is once; queries are many). Banded rows are
        # exactly n_docs x bands; an expected serving micro-batch is
        # ~8 increments x ~8 docs, each contributing `bands` band
        # keys — the bucket union the batch pass must keep a small
        # fraction of the tree (SCALE.md batch8 row).
        from shc_spark.operators.idxcache import suggest_num_buckets

        num_buckets = suggest_num_buckets(
            corpus.count() * bands, expected_batch_keys=64 * bands
        )
    # REBUILD over a live index stages the whole tree and swaps at the
    # end (VERDICT r10 #8): a crash mid-build leaves the old index
    # intact — never new banded rows next to old features. A rebuild
    # also drops any tombstones with the old tree: stale tombstones
    # must not silently mask docs of the NEW corpus.
    from shc_spark.operators.idxcache import begin_staged_build, commit_staged_build

    build_root = begin_staged_build(path)
    spark.createDataFrame(
        [(num_perm, bands, n, num_buckets, _FEATURE_HASH_SCHEME)],
        "num_perm int, bands int, n int, num_buckets int, hash_scheme int",
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(build_root, "meta"))
    _write_index_rows(corpus, build_root, text_col, id_col, num_perm, bands, n,
                      num_buckets, mode="overwrite")
    commit_staged_build(path, build_root)
    return path


def _write_index_rows(
    docs, path, text_col, id_col, num_perm, bands, n, num_buckets, mode
):
    feats = _doc_lsh_features(_widen(docs), text_col, id_col, n, num_perm, bands)
    feats = feats.cache()
    n_docs = feats.count()  # materialize once for the two writes below
    _write_bucketed(feats, n_docs, path, num_buckets, bands, mode)
    feats.unpersist()


def _banded_rows(feats, num_buckets):
    return (
        feats.select("id", F.posexplode("bnd").alias("band", "bh"))
        .withColumn("bkt", F.pmod(F.col("bh"), F.lit(num_buckets)).cast("int"))
    )


def _feature_rows(feats, num_buckets):
    return feats.select("id", "hs").withColumn(
        "fbkt", F.pmod(F.xxhash64(F.col("id")), F.lit(num_buckets)).cast("int")
    )


def _write_bucketed(feats, n_docs, path, num_buckets, bands, mode):
    """Write signed rows into the bucket-partitioned layout.

    repartition on the partition column BEFORE partitionBy: without
    it every writing task emits one file per bucket it touches
    (tasks x num_buckets files per generation — millions at real
    scale, and the per-query directory listing pays for every one).
    With it each bucket lands in exactly one task -> ONE file per
    bucket per generation; parquet row groups keep big buckets
    splittable on read.

    Width is ADAPTIVE (r14, VERDICT r13 #4): repartition(P, col)
    maps each bucket to exactly one task for ANY P, so the one-file-
    per-bucket invariant never needs P = num_buckets — and a small
    increment scheduled as num_buckets near-empty tasks paid more in
    task launches than in rows (measured 7.3s -> 5.3s per write on a
    62.5k-doc increment at P=32). ~64k rows per write task.
    """
    import os

    banded_p = int(min(num_buckets, max(32, -(-n_docs * bands // 65536))))
    feats_p = int(min(num_buckets, max(32, -(-n_docs // 65536))))
    (
        _banded_rows(feats, num_buckets)
        .repartition(banded_p, F.col("bkt"))
        .sortWithinPartitions("band", "bh")
        .write.mode(mode)
        .partitionBy("bkt")
        .parquet(os.path.join(path, "banded"))
    )
    (
        _feature_rows(feats, num_buckets)
        .repartition(feats_p, F.col("fbkt"))
        .write.mode(mode)
        .partitionBy("fbkt")
        .parquet(os.path.join(path, "features"))
    )


def read_dedup_index_meta(spark, path: str) -> dict:
    import os

    from shc_spark.operators.idxcache import local_meta_rows

    m = dict(local_meta_rows(os.path.join(path, "meta"))[0])  # no Spark job
    # pre-r12 indexes carry no scheme column: they were built with
    # scheme 1 by definition
    scheme = m.get("hash_scheme") or 1
    if scheme != _FEATURE_HASH_SCHEME:
        raise ValueError(
            f"dedup index at {path!r} was built with feature-hash scheme "
            f"{scheme}, but this code signs documents with scheme "
            f"{_FEATURE_HASH_SCHEME} — queries would silently probe the "
            "wrong buckets. Rebuild the index (build_dedup_index) with the "
            "current code."
        )
    return m


def _index_relation(spark, path: str, sub: str) -> DataFrame:
    """Memoized mtime-validated parquet relation (see
    operators/idxcache.py for the measured listing-job rationale)."""
    from shc_spark.operators.idxcache import index_relation

    return index_relation(spark, path, sub)


# L0 pending sidecar (r14, VERDICT r13 #4): every bucketed append
# costs O(num_buckets) FILE CREATIONS (a generation touches ~every
# bucket once the increment exceeds ~num_buckets banded rows — one
# parquet file per touched bucket dir is the layout's pruning
# contract). Measured at x100: 2 x ~5s of the 12s per-append wall is
# exactly that file churn. Small increments therefore land in two
# UNPARTITIONED sidecar dirs (a handful of files, O(increment)), and
# fold into the bucketed layout only when the accumulated mass itself
# reaches bucket scale — the same LSM L0 -> L1 move the shc store's
# memstore/compaction lifecycle uses.
_PENDING_BANDED = "pending_banded"
_PENDING_FEATURES = "pending_features"


def _has_pending(path: str) -> bool:
    """True only when BOTH sidecar halves committed (ADVICE r14 #2):
    the append writes banded then features, so a crash between the two
    would otherwise leave _has_pending() true with pending_features/
    missing — every query and both recovery paths would then die on
    path-not-found. A half-written sidecar is invisible (the increment
    never landed; the caller retries the append) and is dropped as
    recoverable garbage by the next fold.

    Both halves must also hold at least one parquet FILE: the
    snapshot fold (r15) deletes files it folded rather than whole
    dirs, so a marker-only dir is a vestige (all generations folded,
    or a crashed append's partial leftover after a fold drained the
    rest) — reading it would fail schema inference, and there is
    nothing in it to read anyway."""
    import os

    return all(
        os.path.exists(os.path.join(path, sub, "_SUCCESS"))
        and bool(_pending_parquet_files(path, sub))
        for sub in (_PENDING_BANDED, _PENDING_FEATURES)
    )


def _fold_lock(path: str):
    """Per-path lock serializing sidecar-file mutation (the append's
    two pending writes, the fold's snapshot and its delete phase).
    The fold's EXPENSIVE middle — the bucketed O(num_buckets) write —
    runs outside the lock, which is what lets an async fold overlap
    ongoing appends (VERDICT r14 #4). In-process only: maintenance
    ops on one index are single-process by contract (the same
    assumption the r14 fold's commit-then-rmtree already made)."""
    import os
    import threading

    return _FOLD_LOCKS.setdefault(os.path.abspath(path), threading.Lock())


_FOLD_LOCKS: dict = {}
_FOLD_THREADS: dict = {}
_FOLD_ERRORS: dict = {}


def _pending_parquet_files(path: str, sub: str) -> list:
    import glob
    import os

    return sorted(glob.glob(os.path.join(path, sub, "*.parquet")))


def _drop_partial_pending(path: str) -> bool:
    """Remove a half-committed sidecar (exactly one half has _SUCCESS,
    or dirs without markers) left by a crash mid-append. Safe because
    _has_pending never exposed those rows to queries; maintenance ops
    are single-writer (the same assumption the fold's commit-then-
    rmtree sequence already makes). Returns True if anything was
    dropped."""
    import os
    import shutil

    if _has_pending(path):
        return False
    dropped = False
    for sub in (_PENDING_BANDED, _PENDING_FEATURES):
        d = os.path.join(path, sub)
        if os.path.exists(d):
            shutil.rmtree(d, ignore_errors=True)
            dropped = True
    return dropped


def _banded_relation(spark, path: str) -> DataFrame:
    """banded/ plus any pending sidecar rows. Bucket filters still
    dir-prune the main side (pushed through the union); the pending
    side is column-filtered — bounded by the fold threshold, so the
    full scan is a rounding error next to one pruned bucket read."""
    rel = _index_relation(spark, path, "banded")
    if _has_pending(path):
        rel = rel.unionByName(_index_relation(spark, path, _PENDING_BANDED))
    return rel


def _features_relation(spark, path: str) -> DataFrame:
    rel = _index_relation(spark, path, "features")
    if _has_pending(path):
        rel = rel.unionByName(_index_relation(spark, path, _PENDING_FEATURES))
    return rel


def append_to_dedup_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucketed: bool | None = None,
    fold_threshold: int | None = None,
    async_fold: bool = False,
) -> str:
    """Incremental index maintenance: sign ONLY the new documents with
    the saved banding parameters — accepted-into-the-corpus increments
    cost one feature pass over themselves, never a corpus rebuild.
    Removal is :func:`delete_from_dedup_index` (tombstone masking);
    physical purge is a (minor/major) compaction.

    Where the rows land (r14): a small increment appends to the L0
    pending sidecar — O(increment) files instead of the bucketed
    layout's O(num_buckets) per-generation file churn — and the
    sidecar folds into the buckets automatically once its banded mass
    reaches ``fold_threshold`` (default num_buckets * 32 rows, ~the
    point where a write touches every bucket anyway). An increment
    already at bucket scale writes straight to the bucketed layout.
    ``bucketed=True/False`` overrides the routing; queries see pending
    rows immediately either way (union in _banded_relation).

    Fold scheduling (r15, VERDICT r14 #4): the fold's wall is the
    O(num_buckets) bucketed write — ~12s every ~4 small appends at
    x100, a spike the appends between folds amortize but the
    TRIGGERING append eats in-line. ``async_fold=True`` moves it off
    the caller's wall: the fold runs in a daemon thread over a FILE
    SNAPSHOT of the sidecar taken under the per-path lock, so appends
    keep landing new sidecar generations while it writes (fold deletes
    exactly the files it read; later generations survive untouched and
    fold next time). One fold per path is in flight at a time; a
    threshold crossing while one runs simply defers to the next
    append. :func:`wait_for_fold` joins the thread and re-raises its
    failure — call it at batch boundaries (and before process exit);
    a failed async fold otherwise surfaces on the NEXT triggering
    append. Sequential callers need no coordination: pending rows are
    visible through the union until the fold's delete phase drops
    them, by which point the same rows are committed in the buckets.
    A query PLANNED before that delete and executed after it can hit
    the removed files (true in r14's rmtree design too) — issue
    queries between maintenance ops, or set
    spark.sql.files.ignoreMissingFiles for fully overlapped serving.

    Fold crash note: the fold deletes the sidecar files only after the
    bucketed write commits (fresh _SUCCESS mtime); a crash between the
    two statements leaves the folded rows in BOTH places. Duplicate
    BANDED rows are harmless (candidates are DISTINCT pairs), but a
    duplicated FEATURE row duplicates that id's verified output pairs
    until recovery — recovery is :func:`compact_dedup_index` (it
    rewrites through dropDuplicates), NOT re-running the fold (that
    would append the sidecar a second time)."""
    spark = new_docs.sparkSession
    m = read_dedup_index_meta(spark, path)
    nb, bands = m["num_buckets"], m["bands"]
    thr = int(fold_threshold if fold_threshold is not None else nb * 32)
    feats = _doc_lsh_features(
        _widen(new_docs), text_col, id_col, m["n"], m["num_perm"], bands
    ).cache()
    n_docs = feats.count()
    if bucketed is None:
        bucketed = n_docs * bands >= thr
    if bucketed:
        _write_bucketed(feats, n_docs, path, nb, bands, mode="append")
        feats.unpersist()
        return path
    import os

    files = int(max(1, -(-n_docs * bands // 262144)))
    with _fold_lock(path):
        # a half-committed sidecar from a crashed append is invisible
        # to queries (_has_pending needs both markers) but would
        # pollute this append's generation — drop it before writing.
        # The lock keeps an async fold's snapshot/delete phases from
        # interleaving this append's two writes (generations stay
        # complete: both halves or neither).
        _drop_partial_pending(path)
        _banded_rows(feats, nb).repartition(files).write.mode("append").parquet(
            os.path.join(path, _PENDING_BANDED)
        )
        _feature_rows(feats, nb).repartition(files).write.mode("append").parquet(
            os.path.join(path, _PENDING_FEATURES)
        )
        feats.unpersist()
        # one tiny count job over the sidecar (footer-metadata scan) —
        # the fold trigger; a ledger file would save it but add a
        # consistency surface
        over = (
            spark.read.parquet(os.path.join(path, _PENDING_BANDED)).count() >= thr
        )
    if over:
        if async_fold:
            _start_async_fold(spark, path)
        else:
            fold_dedup_index(spark, path)
    return path


def _start_async_fold(spark, path: str) -> None:
    import os
    import threading

    ap = os.path.abspath(path)
    t = _FOLD_THREADS.get(ap)
    if t is not None and t.is_alive():
        return  # one in-flight fold per path; the next append re-triggers
    err = _FOLD_ERRORS.pop(ap, None)
    if err is not None:
        raise err  # surface the previous fold's failure, don't mask it

    def work():
        # own scheduler pool: under FAIR mode (the session default) the
        # fold's saturating bucketed write shares cores with foreground
        # appends/queries instead of starving them behind FIFO; a no-op
        # under FIFO mode. Thread-local (PySpark pinned-thread mode).
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "shc_maintenance")
        try:
            fold_dedup_index(spark, path)
        except BaseException as e:  # re-raised by wait_for_fold / next trigger
            _FOLD_ERRORS[ap] = e
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    t = threading.Thread(target=work, daemon=True, name=f"shc-fold-{ap}")
    _FOLD_THREADS[ap] = t
    t.start()


def wait_for_fold(path: str) -> None:
    """Join the in-flight async fold for ``path`` (no-op if none) and
    re-raise its failure. Call at batch boundaries and before process
    exit when using ``append_to_dedup_index(..., async_fold=True)``."""
    import os

    ap = os.path.abspath(path)
    t = _FOLD_THREADS.pop(ap, None)
    if t is not None:
        t.join()
    err = _FOLD_ERRORS.pop(ap, None)
    if err is not None:
        raise err


def fold_dedup_index(spark, path: str, _snapshot=None) -> str:
    """Fold the L0 pending sidecar into the bucketed layout (one
    bucketed generation for the WHOLE accumulated sidecar — the
    O(num_buckets) file churn paid once per fold instead of per
    append) and drop the folded rows. No re-signing: the sidecar
    already holds signed rows. No-op without a sidecar.

    Snapshot semantics (r15, VERDICT r14 #4): the fold pins the
    sidecar's concrete parquet FILE LIST under the per-path lock,
    reads and bucket-writes exactly those files, and deletes exactly
    those files — so appends that land DURING the (expensive) bucketed
    write survive as the next sidecar generation instead of racing the
    old whole-directory rmtree. The sidecar dirs themselves are only
    removed when no generation remains. This is what makes
    ``async_fold`` safe: append and fold touch disjoint file sets by
    construction, and the lock serializes only the cheap
    snapshot/delete/write-pending phases."""
    import os
    import shutil
    import threading

    # join any in-flight ASYNC fold first (unless we ARE it): two
    # concurrent folds would double-append the same snapshot, and a
    # compaction's replace_subtree racing a fold's bucketed append
    # could drop the fold's rows after its sidecar delete — real loss.
    # Both compactions route through here, so this one join covers
    # them.
    ap = os.path.abspath(path)
    t = _FOLD_THREADS.get(ap)
    if t is not None and t.is_alive() and t is not threading.current_thread():
        t.join()
    with _fold_lock(path):
        if not _has_pending(path):
            _drop_partial_pending(path)  # crashed-append garbage, if any
            return path
        if _snapshot is not None:  # tests pin a generation deterministically
            pb_files, pf_files = _snapshot
        else:
            pb_files = _pending_parquet_files(path, _PENDING_BANDED)
            pf_files = _pending_parquet_files(path, _PENDING_FEATURES)
    if not pb_files or not pf_files:
        return path
    m = read_dedup_index_meta(spark, path)
    nb, bands = m["num_buckets"], m["bands"]
    pb = spark.read.parquet(*pb_files)
    pf = spark.read.parquet(*pf_files)
    n_docs = pf.count()
    banded_p = int(min(nb, max(32, -(-n_docs * bands // 65536))))
    feats_p = int(min(nb, max(32, -(-n_docs // 65536))))

    def _marker_mtime(sub: str) -> int:
        marker = os.path.join(path, sub, "_SUCCESS")
        return os.stat(marker).st_mtime_ns if os.path.exists(marker) else -1

    # ADVICE r14 #3: banded/_SUCCESS pre-exists from the initial build,
    # so a bare existence check can never catch a failed THIS-fold
    # append. Spark rewrites the marker on every committed job, so
    # require its mtime to MOVE — a real commit witness, mirroring the
    # compaction path's fresh-_SUCCESS verification.
    before = {sub: _marker_mtime(sub) for sub in ("banded", "features")}
    (
        pb.repartition(banded_p, F.col("bkt"))
        .sortWithinPartitions("band", "bh")
        .write.mode("append")
        .partitionBy("bkt")
        .parquet(os.path.join(path, "banded"))
    )
    (
        pf.repartition(feats_p, F.col("fbkt"))
        .write.mode("append")
        .partitionBy("fbkt")
        .parquet(os.path.join(path, "features"))
    )
    for sub in ("banded", "features"):
        after = _marker_mtime(sub)
        if after < 0 or after == before[sub]:
            raise RuntimeError(f"fold write of {sub} rows did not commit")
    with _fold_lock(path):
        for f in pb_files + pf_files:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
        remaining = _pending_parquet_files(
            path, _PENDING_BANDED
        ) or _pending_parquet_files(path, _PENDING_FEATURES)
        if not remaining:
            shutil.rmtree(os.path.join(path, _PENDING_BANDED), ignore_errors=True)
            shutil.rmtree(os.path.join(path, _PENDING_FEATURES), ignore_errors=True)
    # a stored async-fold failure is superseded by this successful fold
    _FOLD_ERRORS.pop(ap, None)
    return path


def delete_from_dedup_index(spark, path: str, ids) -> str:
    """Mask documents out of the index without rebuilding it — the
    takedown/right-to-be-forgotten path. ``ids`` is a 1-column
    DataFrame (or a driver-side list) of corpus doc ids; they append
    to ``tombstones/`` and every later query anti-joins its
    candidates against the set BEFORE verification, so masked docs
    cost nothing downstream. LSM-style masking: banded/feature rows
    stay in place physically; a rebuild purges. Id-level and
    terminal: re-appending a tombstoned id does NOT resurrect it
    (unlike the shc store's timestamped tombstones, the index has no
    version axis) — rebuild to truly re-admit one."""
    import os

    if not isinstance(ids, DataFrame):
        id_type = _index_relation(spark, path, "features").schema["id"].dataType
        ids = spark.createDataFrame(
            [(i,) for i in ids], T.StructType([T.StructField("id", id_type)])
        )
    else:
        ids = ids.select(F.col(ids.columns[0]).alias("id"))
    ids.distinct().repartition(1).write.mode("append").parquet(
        os.path.join(path, "tombstones")
    )
    return path


def _not_tombstoned(spark, path: str, pairs: DataFrame) -> DataFrame:
    """Drop candidate pairs whose corpus side is tombstoned. The
    tombstone relation rides the same mtime-validated cache, so a
    delete from another process is picked up immediately."""
    import os

    if not os.path.exists(os.path.join(path, "tombstones", "_SUCCESS")):
        return pairs
    tomb = _index_relation(spark, path, "tombstones")
    return pairs.join(
        tomb.select(F.col("id").alias("id_b")), "id_b", "left_anti"
    )


def _statically_pruned(rel: DataFrame, part_col: str, frame: DataFrame, bucket):
    """``rel`` filtered to the ``part_col`` partitions that ``bucket``
    (an int expression over ``frame``, bounded by construction — a
    ``% num_buckets`` value) takes on ``frame``. The bucket list is a
    driver collect run non-adaptively (planutil.no_adaptive): AQE only
    adds stage-job barriers to a pass this small, and a static list
    keeps plan-time pruning that AQE cannot drop (see
    _index_candidates)."""
    with no_adaptive(frame.sparkSession):
        vals = [r[0] for r in frame.select(bucket.cast("int")).distinct().collect()]
    return rel.filter(F.col(part_col).isin(vals) if vals else F.lit(False))


def _index_candidates(spark, path, inc_feats, nb):
    """Lazy candidate pairs (id_a = increment, id_b = corpus) from the
    pruned banded scan: the increment's bucket list (bounded <= nb by
    construction — they are ``bh % nb`` values) STATICALLY prunes the
    corpus partitions, and the increment's banded keys broadcast into
    the pruned scan.

    r15 adjudication — why this is a driver collect and NOT dynamic
    partition pruning: the round trialed riding ``bkt = bh % nb`` on
    the broadcast keys so DPP would prune at run time (zero driver
    actions). The pre-execution plan showed real
    SubqueryAdaptiveBroadcast pruning — but RUNTIME scan metrics
    (FileSourceScanExec.metrics after collect(), x100 probe index,
    1024 buckets) showed the filter silently resolved to
    dynamicpruningexpression(true) under AQE: 1024/1024 partitions
    read, 8M banded rows scanned, 2x total-wall regression vs this
    shape (7.1s vs 3.4s warm). AQE plans the probe-side scan stage as
    a leaf before the join's broadcast exists, and
    reuseBroadcastOnly=true then drops the pruning; with
    reuseBroadcastOnly=false the subquery re-evaluates the whole
    build pipeline as its own job (4.0s); only AQE-off made DPP fire
    cheaply (1.9s), which is not a viable global config. A driver
    collect of <= num_buckets ints is bounded at any corpus scale and
    keeps plan-time pruning that AQE cannot drop."""
    inc_banded = inc_feats.select(
        F.col("id").alias("id_a"), F.posexplode("bnd").alias("band", "bh")
    )
    # non-adaptive bounded collect: <= nb ints through one Python pass
    # + one distinct (measured r16: 2 jobs -> 1, 1.09s -> 0.33s warm)
    banded = _statically_pruned(
        _banded_relation(spark, path), "bkt", inc_banded, F.pmod(F.col("bh"), F.lit(nb))
    )
    cand = (
        banded.join(F.broadcast(inc_banded), ["band", "bh"])
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )
    return _not_tombstoned(spark, path, cand)


def dedup_index_candidates(
    spark,
    path: str,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs of an increment against the persisted index
    WITHOUT exact verification — the ``verify=False`` analog of
    :func:`minhash_lsh_pairs`. Use :func:`dedup_index_pairs` for the
    exact-verified output."""
    m = read_dedup_index_meta(spark, path)
    inc = _doc_lsh_features(
        _widen(increment), text_col, id_col, m["n"], m["num_perm"], m["bands"]
    )
    return _index_candidates(spark, path, inc, m["num_buckets"])


# DataFrames cached by the previous dedup index query, released at
# the start of the next one (deferred one-query lifecycle).
_INDEX_QUERY_CACHES: list = []


def _index_pairs(spark, path, docs, text_col, key_col, threshold):
    """The one query body behind :func:`dedup_index_pairs` and
    :func:`dedup_index_pairs_batch`: exact-verified (id_a = ``docs``
    key, id_b = indexed corpus doc, jaccard) pairs.

    Scale shape: one feature pass over ``docs`` only; the corpus-side
    banded scan is pruned to the docs' bucket directories (both
    bucket-list collects are bounded by ``num_buckets`` BY
    CONSTRUCTION — ``% num_buckets`` values — not by a guard); the
    docs' banded keys broadcast into the pruned scan; exact
    verification joins feature rows only for the surviving candidate
    ids, pruned the same way. The r15 zero-collect DPP variant was
    trialed and REVERTED on runtime scan metrics — AQE silently drops
    the dynamic pruning and reads every bucket directory (see
    _index_candidates for the full adjudication); the two bounded
    driver collects are the design that actually prunes at any scale.

    Cache lifecycle: ``inc``/``cand`` are cached (two consumers each:
    the bucket collects and the final join), and released at the START
    of the NEXT call — the caller can still materialize its result
    from cache, and a long-lived query-many serving process
    accumulates at most one query's blocks instead of growing without
    bound."""
    while _INDEX_QUERY_CACHES:
        _INDEX_QUERY_CACHES.pop().unpersist()
    m = read_dedup_index_meta(spark, path)
    nb = m["num_buckets"]
    inc = _doc_lsh_features(
        _widen(docs), text_col, key_col, m["n"], m["num_perm"], m["bands"]
    ).cache()
    # no explicit materialize: the bucket collect inside
    # _index_candidates is the cache's first evaluation and fills it —
    # a count() here would spend one whole extra Spark job (fixed
    # scheduler overhead is the serving wall's dominant term)
    cand = _index_candidates(spark, path, inc, nb).cache()
    _INDEX_QUERY_CACHES.extend([inc, cand])
    # bounded collect of <= nb ints off the cached candidate frame
    # (measured r16 non-adaptive: 2 jobs -> 1, 0.58s -> 0.36s warm)
    feats = _statically_pruned(
        _features_relation(spark, path), "fbkt", cand,
        F.pmod(F.xxhash64(F.col("id_b")), F.lit(nb)),
    )
    ha = inc.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hb = feats.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        cand.join(hb, "id_b")
        .join(F.broadcast(ha), "id_a")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_index_pairs(
    spark,
    path: str,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs (id_a = increment doc, id_b = indexed corpus
    doc, jaccard) of a fresh increment against a persisted dedup
    index, exact-verified — equals
    ``minhash_lsh_pairs_between(increment, corpus)`` with the index's
    banding parameters, without touching the corpus text. The batch
    body (:func:`_index_pairs`) run on one increment keyed by its raw
    doc id."""
    return _index_pairs(spark, path, increment, text_col, id_col, threshold)


def dedup_index_pairs_batch(
    spark,
    path: str,
    increments: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs for a BATCH of increments against the persisted
    index in ONE pruned pass (VERDICT r8 #7 — the micro-batch serving
    shape): ``increments`` maps increment_id -> DataFrame, and the
    union runs the same body as :func:`dedup_index_pairs` — ONE
    feature pass, one corpus-side banded scan pruned to the union of
    all increments' buckets, verification pruned the same way. Output:
    (increment_id, id_a, id_b, jaccard). Candidates and verification
    are per pair, so batching is semantically invisible; N increments
    cost one index read of their combined buckets, not N round-trips
    of fixed job overhead.

    Increments are independent documents: the composite (increment_id,
    doc id) key rides the feature pass as a struct, so the same doc id
    may appear in several increments (even with different text)
    without conflation."""
    from functools import reduce

    if not increments:
        raise ValueError("increments must map increment_id -> DataFrame")
    parts = [
        df.select(
            F.struct(
                F.lit(str(inc_id)).alias("inc"), F.col(id_col).alias("id")
            ).alias("__key"),
            F.col(text_col).alias("__text"),
        )
        for inc_id, df in increments.items()
    ]
    un = reduce(lambda a, b: a.unionByName(b), parts)
    return _index_pairs(spark, path, un, "__text", "__key", threshold).select(
        F.col("id_a.inc").alias("increment_id"),
        F.col("id_a.id").alias("id_a"),
        "id_b",
        "jaccard",
    )


def minor_compact_dedup_index(spark, path: str, threshold: int = 2) -> str:
    """MINOR compaction: fold only the bucket partitions fragmented by
    appends (>= threshold files) back to one file each — cold buckets
    are untouched, tombstones stay in force (no purge; that is
    :func:`compact_dedup_index`). Cost tracks the corpus mass in
    FRAGMENTED buckets: a tiny increment (rows x bands << num_buckets)
    folds cheaply; a fat hash-spread append fragments everything and
    costs the same as major (measured — see
    idxcache.compact_fragmented_partitions), so defer with
    ``threshold`` or go major in that regime."""
    import os

    from shc_spark.operators.idxcache import compact_fragmented_partitions

    fold_dedup_index(spark, path)  # L0 sidecar first: buckets see all rows
    compact_fragmented_partitions(
        spark, os.path.join(path, "banded"), "bkt",
        sort_within=("band", "bh"), threshold=threshold,
    )
    compact_fragmented_partitions(
        spark, os.path.join(path, "features"), "fbkt", threshold=threshold
    )
    return path


def compact_dedup_index(spark, path: str) -> str:
    """Major compaction for the persisted dedup index: fold the
    append generations back to ONE file per bucket, physically purge
    tombstone-masked rows, and clear the tombstone set — after which
    a purged id CAN be re-admitted by a later append (tombstone
    masking alone is terminal). The index is derived data (rebuildable
    from the corpus), so the rewrite is replace-on-success: new
    subtrees are written next to the old ones and swapped in (two
    renames via a .bak, see idxcache.replace_subtree) only after their
    _SUCCESS markers exist — a crash at any point leaves a recoverable
    index on disk. Tombstones are SNAPSHOTTED at entry: only the rows
    in the snapshot files are purged and only those files are deleted,
    so a tombstone appended concurrently by another process keeps
    masking until the next compaction instead of being silently
    resurrected."""
    import os
    import shutil

    from shc_spark.operators.idxcache import (
        drop_tombstone_snapshot,
        replace_subtree,
        tombstone_snapshot,
    )

    fold_dedup_index(spark, path)  # L0 sidecar first: buckets see all rows
    m = read_dedup_index_meta(spark, path)
    nb = m["num_buckets"]
    tomb_path = os.path.join(path, "tombstones")
    snapshot = tombstone_snapshot(tomb_path)
    tomb = (
        spark.read.parquet(*snapshot).select("id").distinct()
        if snapshot
        else None
    )
    for sub, part_col in (("banded", "bkt"), ("features", "fbkt")):
        # dropDuplicates: banded/feature rows carry no multiplicity
        # semantics (candidates are DISTINCT pairs; verify re-checks
        # hs), so major compaction is also the documented recovery for
        # duplicates left by a crash between a fold's write and its
        # sidecar delete. Features dedup by id (hs is array-typed and
        # id-determined; the index has no version axis).
        cur = spark.read.parquet(os.path.join(path, sub))
        cur = cur.dropDuplicates() if sub == "banded" else cur.dropDuplicates(["id"])
        if tomb is not None:
            cur = cur.join(tomb, "id", "left_anti")
        tmp = os.path.join(path, sub + ".compact")
        shutil.rmtree(tmp, ignore_errors=True)
        w = cur.repartition(nb, F.col(part_col))
        if sub == "banded":
            w = w.sortWithinPartitions("band", "bh")
        w.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
        if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
            raise RuntimeError(f"compaction write of {sub} did not commit")
        replace_subtree(os.path.join(path, sub), tmp)
    drop_tombstone_snapshot(tomb_path, snapshot)
    return path
