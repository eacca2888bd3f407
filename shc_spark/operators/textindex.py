"""Persisted BM25 inverted index — the text-retrieval member of the
serving-index family (dedup.py: MinHash-LSH index; similarity.py: IVF
index). A 100 TB corpus is tokenized ONCE into term-bucket-partitioned
posting lists; every later query reads only the buckets of its |Q|
terms instead of re-exploding the corpus per query, which is what the
inline ``text.bm25_search`` does.

On-disk layout (all parquet, same lifecycle conventions as the other
two indexes — one file per partition per generation, memoized
mtime-census-validated listings, tombstone deletes, major compaction):

- ``postings/tbkt=*/``  (term, id, tf, dl) — term-hash-bucketed; ``dl``
  (the doc's length) is DENORMALIZED onto every posting row (r15) so
  queries never join the corpus-sized lengths table: the original
  design pruned lengths via dynamic partition pruning, but runtime
  scan metrics showed AQE silently drops that pruning
  (``dynamicpruningexpression(true)``, every lbkt directory read per
  query — the same failure mode measured in dedup._index_candidates),
  and a bounded static lbkt collect both added a serial driver job
  per query and pruned nothing (candidate ids hash across all
  buckets). Carrying ~8 bytes/posting eliminates the scan, the join
  and the collect at any scale.
- ``lengths/lbkt=*/``   (id, dl)         — id-hash-bucketed doc
  lengths; still written and used by the DELETE path's stats
  correction (its id-bucket pruning off the tiny takedown list does
  work), no longer read by queries
- ``stats/``            (n_docs, sum_dl) — one row per generation;
  deletes append NEGATIVE correction rows so n_docs/avgdl stay exact
  without rescanning anything
- ``tombstones/``       (id)             — masked doc ids
- ``meta/``             (num_buckets)

Query semantics are IDENTICAL to ``text.bm25_search`` over the same
(non-deleted) corpus: same tf/df/idf/length normalization, same 4dp
rounding, same (score desc, id asc) top-k — the driver gate shares the
inline operator's exact DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Bump on ANY subtree schema/partitioning change so caches keyed on
# build inputs rebuild instead of reading a stale layout.
# 3 (r15): dl denormalized onto posting rows.
# 4 (r16): layout version persisted in meta/ and validated on every
#          read (ADVICE r15) — posting/length rows identical to 3.
TEXT_INDEX_LAYOUT = 4

def _tbkt(col, nb: int):
    return F.pmod(F.xxhash64(col), F.lit(nb)).cast("int")


def read_text_index_meta(spark, path: str) -> dict:
    from shc_spark.operators.idxcache import local_meta_rows

    # KB-sized single-file tree: a driver-side pyarrow read costs no
    # Spark job and is always fresh (the r10 fingerprint memo existed
    # to amortize the collect job this no longer runs)
    row = local_meta_rows(os.path.join(path, "meta"))[0]
    # layout is persisted since LAYOUT 4 (ADVICE r15): a pre-layout-3
    # index has no `dl` on its posting rows and every query would die
    # with a confusing unresolved-column AnalysisException — refuse
    # loudly instead. Meta without the column predates the check.
    stored = row["layout"] if "layout" in row else "<=3 (pre-layout-4 meta)"
    if stored != TEXT_INDEX_LAYOUT:
        raise ValueError(
            f"text index at {path} has on-disk layout {stored}, this "
            f"code reads layout {TEXT_INDEX_LAYOUT}: rebuild it with "
            "build_text_index (incremental layouts are not migrated)"
        )
    return {"num_buckets": row["num_buckets"]}


def _tokens(corpus: DataFrame, text_col: str, id_col: str):
    base = corpus.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("ws")
    )
    dl = base.select("id", F.size("ws").alias("dl"))
    # dl rides the explode as a grouping key (r15): it is functionally
    # dependent on id, so groupBy(id, dl, term) has the same exchange
    # and the same aggregate cardinality as groupBy(id, term) — the
    # posting rows get their denormalized dl for FREE (~8 bytes/token
    # of extra shuffle), vs the +60% build wall a post-aggregation
    # window over id cost when measured at x100 (15.6s vs 9.6s).
    tf = (
        base.select("id", F.size("ws").alias("dl"), F.explode("ws").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf, dl


def _write_rows(
    tf: DataFrame, dl: DataFrame, path: str, nb: int, mode: str,
    tf_rows: int | None = None, dl_rows: int | None = None,
) -> None:
    # repartition on the partition column BEFORE partitionBy: one file
    # per bucket per generation (same listing-cost rationale as the
    # dedup/IVF indexes). Width is ADAPTIVE when the caller knows the
    # row counts (r14, same rationale as the dedup index): any P keeps
    # each bucket in exactly one task, so a small increment should not
    # be scheduled as nb near-empty tasks.
    tp = nb if tf_rows is None else int(min(nb, max(32, -(-tf_rows // 65536))))
    lp = nb if dl_rows is None else int(min(nb, max(32, -(-dl_rows // 65536))))
    # dl arrives ON the tf rows (attached in _tokens as a grouping
    # key — see the module docstring for why queries need it
    # denormalized); no extra exchange happens here.
    tf.withColumn("tbkt", _tbkt(F.col("term"), nb)).repartition(
        tp, F.col("tbkt")
    ).write.mode(mode).partitionBy("tbkt").parquet(os.path.join(path, "postings"))
    dl.withColumn("lbkt", _tbkt(F.col("id"), nb)).repartition(
        lp, F.col("lbkt")
    ).write.mode(mode).partitionBy("lbkt").parquet(os.path.join(path, "lengths"))


def _append_stats(spark, path: str, n_docs: int, sum_dl: int) -> None:
    spark.createDataFrame(
        [(int(n_docs), int(sum_dl))], "n_docs long, sum_dl long"
    ).repartition(1).write.mode("append").parquet(os.path.join(path, "stats"))


def build_text_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
) -> str:
    """Tokenize the corpus once and persist the inverted index. One
    corpus pass computes (id, term, tf) and (id, dl); the corpus text
    itself is never stored or touched again.

    Same-path REBUILD is a full reset: stats and tombstones from any
    previous index at ``path`` are cleared (stats rows otherwise
    accumulate across builds — doubling n_docs and inflating every
    idf — and stale tombstones would mask docs of the NEW corpus).
    The reset is STAGED (ADVICE r9): new stats build under
    ``stats.build`` and swap over the old subtree only AFTER the row
    write commits — a crash mid-build leaves the previous index's
    stats on disk, never rows without stats (the same rename/.bak
    discipline the compaction paths use). Tombstones clear FIRST
    (ADVICE r10): a crash anywhere after that point re-exposes the
    OLD corpus's deletions (loud, recoverable by re-running the
    build) — clearing them last risked the old tombstones silently
    masking docs of the NEW corpus."""
    import shutil

    spark = corpus.sparkSession
    stats_path = os.path.join(path, "stats")
    stats_tmp = stats_path + ".build"
    shutil.rmtree(stats_tmp, ignore_errors=True)
    # tombstones clear BEFORE any new-corpus rows land (ADVICE r10)
    shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)
    tf, dl = _tokens(corpus, text_col, id_col)
    dl = dl.cache()
    row = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).collect()[0]
    if num_buckets is None:
        # corpus-derived sizing (VERDICT r9 #4), free here: the stats
        # aggregate above already knows the token volume. Postings
        # rows <= sum_dl; expected batch ~ 8 queries x ~4 terms.
        from shc_spark.operators.idxcache import suggest_num_buckets

        num_buckets = suggest_num_buckets(
            int(row["s"] or 0), expected_batch_keys=32
        )
    spark.createDataFrame(
        [(int(num_buckets), int(TEXT_INDEX_LAYOUT))], "num_buckets int, layout int"
    ).repartition(1).write.mode("overwrite").parquet(os.path.join(path, "meta"))
    # (the session meta memo needs no explicit refresh: it is keyed on
    # the meta subtree's census fingerprint, which this write changed)
    _write_rows(tf, dl, path, num_buckets, mode="overwrite",
                tf_rows=int(row["s"] or 0), dl_rows=int(row["n"]))
    dl.unpersist()
    spark.createDataFrame(
        [(int(row["n"]), int(row["s"] or 0))], "n_docs long, sum_dl long"
    ).repartition(1).write.mode("overwrite").parquet(stats_tmp)
    if os.path.exists(stats_path):
        from shc_spark.operators.idxcache import replace_subtree

        replace_subtree(stats_path, stats_tmp)
    else:
        os.rename(stats_tmp, stats_path)
    return path


def append_to_text_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Incremental maintenance: tokenize ONLY the new docs and append
    their postings/lengths generations plus one stats row — the
    nightly-crawl shape; queries see the union immediately.

    Tombstoned ids are dropped from the increment FIRST (broadcast
    anti-join against the tiny tombstone set): tombstones are terminal
    until major compaction, and writing masked rows would still count
    them in the stats row, silently drifting n_docs/avgdl away from
    the visible corpus — so a re-append of a deleted id is a no-op,
    not a corruption."""
    spark = new_docs.sparkSession
    nb = read_text_index_meta(spark, path)["num_buckets"]
    if os.path.exists(os.path.join(path, "tombstones", "_SUCCESS")):
        from shc_spark.operators.idxcache import index_relation

        tomb = index_relation(spark, path, "tombstones").select(
            F.col("id").alias(id_col)
        )
        new_docs = new_docs.join(F.broadcast(tomb), id_col, "left_anti")
    tf, dl = _tokens(new_docs, text_col, id_col)
    dl = dl.cache()
    row = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).collect()[0]
    _write_rows(tf, dl, path, nb, mode="append",
                tf_rows=int(row["s"] or 0), dl_rows=int(row["n"]))
    _append_stats(spark, path, row["n"], row["s"] or 0)
    dl.unpersist()
    return path


def delete_from_text_index(spark, path: str, ids) -> str:
    """Takedown path: mask documents without rebuilding. Ids append to
    ``tombstones/`` (candidates anti-join it), and ONE NEGATIVE stats
    correction row keeps n_docs/avgdl exact — the deleted docs' dl is
    read back from the pruned lengths buckets, never a full scan.
    Already-tombstoned ids are ignored (no double-correction)."""
    from shc_spark.operators.idxcache import index_relation

    from pyspark.sql import types as T

    nb = read_text_index_meta(spark, path)["num_buckets"]
    if not isinstance(ids, DataFrame):
        id_type = index_relation(spark, path, "lengths").schema["id"].dataType
        ids = spark.createDataFrame(
            [(i,) for i in ids], T.StructType([T.StructField("id", id_type)])
        )
    else:
        ids = ids.select(F.col(ids.columns[0]).alias("id"))
    ids = ids.distinct()
    tomb_path = os.path.join(path, "tombstones")
    if os.path.exists(os.path.join(tomb_path, "_SUCCESS")):
        ids = ids.join(
            index_relation(spark, path, "tombstones").select("id"), "id", "left_anti"
        )
    lbkts = [r["b"] for r in ids.select(_tbkt(F.col("id"), nb).alias("b")).distinct().collect()]
    if not lbkts:
        return path
    dl = index_relation(spark, path, "lengths").filter(F.col("lbkt").isin(lbkts))
    row = (
        dl.join(F.broadcast(ids), "id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    ids.repartition(1).write.mode("append").parquet(tomb_path)
    if row["n"]:
        _append_stats(spark, path, -row["n"], -(row["s"] or 0))
    return path


def _bm25_scores(
    spark, path: str, queries: dict, k1: float = 1.2, b: float = 0.75
) -> DataFrame:
    """The one BM25 query body behind :func:`text_index_topk` and
    :func:`text_index_topk_batch`: (query_id, id, bm25) for every
    candidate of every query in ``queries`` (query_id -> terms),
    value-identical to ``text.bm25_search(corpus_minus_deleted, terms)``
    per query. Reads ONLY the union of the queries' posting buckets
    (partition pruning on tbkt + a term predicate inside them); df is
    per (query_id, term) over that query's candidates, dl rides each
    posting row (r15 denormalization — see the module docstring for
    why the lengths join had to go: the DPP it relied on is silently
    dropped by AQE at runtime), n_docs/avgdl come from the
    (correction-aware) stats rows — nothing corpus-sized moves or is
    even scanned.

    ZERO driver jobs before the action: term buckets come from the
    Spark-identical driver-side XXH64, the (term -> query ids) fan-out
    is a map literal exploded on the pruned postings (no Python-side
    DataFrame to ship), and the stats scalars ride a broadcast
    single-row cross join instead of a collect."""
    from shc_spark.operators.idxcache import index_relation
    from shc_spark.operators.xxh import bucket_of_str

    nb = read_text_index_meta(spark, path)["num_buckets"]
    qids_of: dict = {}
    for qid, terms in queries.items():
        for t in set(terms):
            qids_of.setdefault(t, []).append(str(qid))
    terms = sorted(qids_of)
    cand = index_relation(spark, path, "postings").filter(
        F.col("tbkt").isin(sorted({bucket_of_str(t, nb) for t in terms}))
        & F.col("term").isin(terms)
    )
    if os.path.exists(os.path.join(path, "tombstones", "_SUCCESS")):
        cand = cand.join(
            index_relation(spark, path, "tombstones").select("id"), "id", "left_anti"
        )
    # (typed so a query without terms still resolves: it matches nothing)
    fan = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.array(*map(F.lit, qids_of[t])))]
    ).cast("map<string,array<string>>")
    # NOT cached: the only double consumer is dfreq, and re-running
    # the tiny pruned postings scan twice inside the one job is
    # cheaper than a cache-materialization pass
    cand = cand.withColumn("query_id", F.explode(fan[F.col("term")]))
    stats = index_relation(spark, path, "stats").agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    dfreq = cand.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("df"))
    return (
        cand.join(F.broadcast(dfreq), ["query_id", "term"])
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("query_id", "id")
        .agg(F.round(F.sum("w"), 4).alias("bm25"))
    )


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """Each query's top-k of a (query_id, id, bm25) frame with its
    (bm25 desc, id asc) rank."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "bm25", "rank")
    )


def text_index_topk(
    spark,
    path: str,
    terms: list,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k (id, bm25) over the persisted index — the batch body
    (:func:`_bm25_scores`) run on one query, cut by a distributed
    (bm25 desc, id asc) TakeOrdered. The whole query is one Spark job
    at the caller's action, and every scan in it is statically pruned.
    No terms -> an empty frame."""
    return (
        _bm25_scores(spark, path, {"q": terms}, k1, b)
        .select("id", "bm25")
        .orderBy(F.desc("bm25"), F.asc("id"))
        .limit(k)
    )


def text_index_topk_batch(
    spark,
    path: str,
    queries: dict,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k for a BATCH of queries — ``queries`` maps query_id
    -> list of terms — in ONE pruned pass of the same body as
    :func:`text_index_topk`: the union of all queries' posting buckets
    is read once, candidates fan out per query, and one window takes
    each query's top-k. Output is (query_id, id, bm25, rank). This is
    the cluster-serving shape: 1000 queries cost one index read of
    their combined term buckets, not 1000 round-trips."""
    if not any(queries.values()):
        raise ValueError("queries must map query_id -> non-empty term list")
    return _ranked(_bm25_scores(spark, path, queries, k1, b), k)


def minor_compact_text_index(spark, path: str, threshold: int = 2) -> str:
    """MINOR compaction: fold only the posting/length buckets
    fragmented by appends back to one file each; cold buckets
    untouched, tombstones and stats corrections stay in force (no
    purge/reset — :func:`compact_text_index` does that). Cost = mass
    in fragmented buckets; cheap only for bucket-sparse appends (see
    idxcache.compact_fragmented_partitions)."""
    from shc_spark.operators.idxcache import compact_fragmented_partitions

    compact_fragmented_partitions(
        spark, os.path.join(path, "postings"), "tbkt", threshold=threshold
    )
    compact_fragmented_partitions(
        spark, os.path.join(path, "lengths"), "lbkt", threshold=threshold
    )
    return path


def compact_text_index(spark, path: str) -> str:
    """Major compaction: fold the append generations back to one file
    per bucket, physically purge tombstone-masked rows, clear the
    tombstone set, and reset ``stats/`` to one exact row recomputed
    from the compacted lengths. Same crash/concurrency contract as the
    other two indexes: tombstones are SNAPSHOTTED (a concurrent append
    survives and keeps masking), subtrees swap via rename/.bak
    (idxcache.replace_subtree). The stats reset anti-joins tombstones
    still present AFTER the snapshot (concurrent deletes), so their
    negative correction rows being clobbered by the reset does not
    drift n_docs/avgdl — the recount simply excludes those docs."""
    import shutil

    from shc_spark.operators.idxcache import (
        drop_tombstone_snapshot,
        replace_subtree,
        tombstone_snapshot,
    )

    nb = read_text_index_meta(spark, path)["num_buckets"]
    tomb_path = os.path.join(path, "tombstones")
    snapshot = tombstone_snapshot(tomb_path)
    tomb = (
        spark.read.parquet(*snapshot).select("id").distinct() if snapshot else None
    )
    for sub, part_col in (("postings", "tbkt"), ("lengths", "lbkt")):
        cur = spark.read.parquet(os.path.join(path, sub))
        if tomb is not None:
            cur = cur.join(tomb, "id", "left_anti")
        tmp = os.path.join(path, sub + ".compact")
        shutil.rmtree(tmp, ignore_errors=True)
        cur.repartition(nb, F.col(part_col)).write.mode("overwrite").partitionBy(
            part_col
        ).parquet(tmp)
        if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
            raise RuntimeError(f"compaction write of {sub} did not commit")
        replace_subtree(os.path.join(path, sub), tmp)
    lengths = spark.read.parquet(os.path.join(path, "lengths"))
    if os.path.exists(os.path.join(tomb_path, "_SUCCESS")):
        # Tombstones appended DURING compaction are not in the snapshot
        # (their rows survived the purge and still mask at query time);
        # exclude them from the recount or the stats replace would
        # clobber their negative correction rows. Snapshot tombstones
        # are already physically gone from lengths, so the anti-join is
        # a no-op for them.
        live_tomb = spark.read.parquet(tomb_path).select("id").distinct()
        lengths = lengths.join(live_tomb, "id", "left_anti")
    row = lengths.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    tmp_stats = os.path.join(path, "stats.compact")
    shutil.rmtree(tmp_stats, ignore_errors=True)
    spark.createDataFrame(
        [(int(row["n"]), int(row["s"] or 0))], "n_docs long, sum_dl long"
    ).repartition(1).write.mode("overwrite").parquet(tmp_stats)
    replace_subtree(os.path.join(path, "stats"), tmp_stats)
    drop_tombstone_snapshot(tomb_path, snapshot)
    return path
