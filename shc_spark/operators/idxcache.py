"""Memoized, staleness-safe parquet relations for persisted serving
indexes (the IVF index in similarity.py, the dedup index in dedup.py).

Loading a partitioned parquet tree runs a listing job with one task
per partition directory — at 1024 bucket dirs that is more tasks than
the pruned read itself (measured: a 3-bucket query ran 1024 listing
tasks + ~3 read tasks). A serving system lists once and queries many
times; reuse is safe here because these are plain parquet reads (the
Spark 4.1 replan hazard is specific to Python DataSource relations)
and per-query partition pruning happens at planning time against the
cached file index. Staleness is guarded by a subtree fingerprint, not
the _SUCCESS mtime alone: the marker is zero-byte, so on filesystems
with coarse mtime granularity two appends within one tick would look
identical (the size guard _load_regions uses for the same hazard is
useless on an always-empty file). The fingerprint folds in the data
file census — (marker mtime_ns, file count, max file mtime_ns, total
bytes) from one os.walk — so any append, tombstone delete, or
compaction changes it even within a single mtime tick.

The driver-side half of index serving lives here too: ``read_local``,
the one pyarrow reader of index subtrees (meta tables, and the pruned
posting partitions of a small BM25 or IVF query, ``read_postings``),
``spark_round`` (``F.round`` value for value) and ``topk_frame`` (the
rounded (score desc, id asc) top-k window, as a local DataFrame).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame

log = logging.getLogger("shc_spark.idxcache")

# (appId, absolute subtree path) -> (fingerprint tuple, DataFrame)
_RELATIONS: dict = {}


def suggest_num_buckets(
    total_keys: int,
    expected_batch_keys: int = 256,
    target_keys_per_bucket: int = 250_000,
    min_keys_per_bucket: int = 2_000,
    min_buckets: int = 16,
    max_buckets: int = 65_536,
) -> int:
    """Corpus-derived partition-bucket count for the serving indexes
    (VERDICT r9 #4). Three forces, reconciled:

    - batch serving only SUB-scans while the batch's bucket union is a
      small fraction of the tree (SCALE.md batch8 row: growth at x100
      was honest physics because batch_keys ~ num_buckets): want
      >= 8x the expected batch's key count.
    - pruning wants buckets bounded in size at deploy scale: want
      >= total_keys / target_keys_per_bucket.
    - tiny corpora must not pay thousands of listing entries for
      near-empty files: cap at total_keys / min_keys_per_bucket.

    The small-corpus cap DOMINATES the batch force (ADVICE r10): when
    total_keys < 8 * expected_batch_keys * min_keys_per_bucket the
    returned count is below 8x the batch, deliberately — a batch that
    large against a corpus that small touches most of the tree under
    ANY bucketing, so extra buckets buy no pruning and cost listing
    entries. The >= 8x-batch sub-scan guarantee holds exactly on
    corpora big enough for sub-scanning to exist, i.e. whenever
    total_keys / min_keys_per_bucket >= 8 * expected_batch_keys
    (pinned by test_bucket_sizing_model).

    Power of two (floor) for a stable pmod distribution. The result is
    persisted in the index meta, so queries/appends adapt per index.
    """
    total_keys = max(0, int(total_keys))
    want = max(
        min_buckets,
        8 * int(expected_batch_keys),
        total_keys // int(target_keys_per_bucket),
    )
    cap = max(min_buckets, total_keys // int(min_keys_per_bucket))
    nb = 1 << max(0, min(want, cap).bit_length() - 1)
    return int(max(min_buckets, min(max_buckets, nb)))


def suggest_num_centroids(
    n_vectors: int, min_centroids: int = 8, max_centroids: int = 4_096
) -> int:
    """IVF coarse-quantizer size from corpus row count: the classic
    ~sqrt(n) rule (balanced posting lists ~ sqrt(n) vectors each),
    floored to a power of two and clamped. Callers that pin recall
    behavior (fixed nprobe contracts) should keep passing an explicit
    num_centroids."""
    n_vectors = max(1, int(n_vectors))
    root = int(n_vectors**0.5)
    nc = 1 << max(0, root.bit_length() - 1)
    return int(max(min_centroids, min(max_centroids, nc)))


def _fingerprint(p: str):
    """Census of the subtree: cheap (local metadata walk over at most
    a few thousand entries) next to the Spark listing job it avoids,
    and strictly stronger than the marker mtime: appends add files,
    compaction replaces them (count/size/mtime all move), tombstone
    purges remove them."""
    try:
        marker = os.stat(os.path.join(p, "_SUCCESS")).st_mtime_ns
    except OSError:
        return None  # no marker: never cache-hit
    n, max_mtime, total = 0, 0, 0
    for root, _dirs, files in os.walk(p):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            n += 1
            total += st.st_size
            if st.st_mtime_ns > max_mtime:
                max_mtime = st.st_mtime_ns
    return (marker, n, max_mtime, total)


def tombstone_snapshot(tomb_path: str) -> list:
    """Census of the tombstone data files at compaction start. The
    compaction purges exactly the rows in these files and later
    deletes exactly these files — a tombstone appended by another
    process while the compaction runs is neither folded in nor
    deleted, so it keeps masking until the next compaction (the
    advertised cross-process delete visibility survives a concurrent
    compaction)."""
    if not os.path.exists(os.path.join(tomb_path, "_SUCCESS")):
        return []
    return _data_files(tomb_path)


def drop_tombstone_snapshot(tomb_path: str, snapshot: list) -> None:
    """Delete only the snapshotted tombstone files; later appends stay
    in place. If nothing remains, remove the subtree entirely so
    readers never open a parquet dir with no data files."""
    import shutil

    for f in snapshot:
        try:
            os.remove(f)
        except OSError:
            # best-effort cleanup (the file may be gone already); the
            # fallback is benign but must not be invisible — a
            # PERSISTENT removal failure would leave purged tombstones
            # masking forever
            log.debug("tombstone snapshot cleanup could not remove %s", f, exc_info=True)
    if not _data_files(tomb_path):
        shutil.rmtree(tomb_path, ignore_errors=True)


def _data_files(path: str) -> list:
    """The committed data files under ``path``, as ``spark.read.parquet``
    lists them: every file whose name is not hidden (``_SUCCESS``,
    ``.crc`` and other ``_``/``.`` names), in path order."""
    return sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    )


def read_local(
    path: str,
    columns: list | None = None,
    part_col: str | None = None,
    values=(),
    max_rows: int | None = None,
    keep: tuple | None = None,
):
    """Driver-side pyarrow read of an index subtree: the one reader
    behind the meta reads and the driver path of the BM25 and IVF
    queries. Reads every data file under ``path``, or with ``part_col``
    only those of the ``part_col=<v>`` directories of ``values`` (the
    partitions Spark's partition pruning would read); ``part_col`` in
    ``columns`` comes back as the int column Spark infers for it.
    ``keep = (column, values)`` keeps only the rows whose ``column`` is
    one of ``values``, like a pushed ``isin``.

    Returns None when the read would return more than ``max_rows``
    rows. That is known before any other column is decoded: without
    ``keep`` from the files' footers, with it from the ``keep`` column,
    which is read first. An empty selection returns an empty table
    with the subtree's schema."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if part_col is None:
        files = [(f, None) for f in _data_files(path)]
    else:
        files = [
            (f, int(v))
            for v in values
            for f in _data_files(os.path.join(path, f"{part_col}={int(v)}"))
        ]
    handles = [(pq.ParquetFile(f), v) for f, v in files]
    if keep is None:
        if max_rows is not None and sum(h.metadata.num_rows for h, _ in handles) > max_rows:
            return None
        masks = [None] * len(handles)
    else:
        col, wanted = keep
        masks, n = [], 0
        for h, _ in handles:
            masks.append(pc.is_in(h.read(columns=[col]).column(col), value_set=pa.array(wanted)))
            n += pc.sum(masks[-1]).as_py() or 0
            if max_rows is not None and n > max_rows:
                return None
    read_cols = None if columns is None else [c for c in columns if c != part_col]
    tables = []
    for (h, v), mask in zip(handles, masks):
        t = h.read(columns=read_cols)
        if mask is not None:
            t = t.filter(mask)
        if part_col in (columns or ()):
            t = t.append_column(part_col, pa.array(np.full(len(t), v, dtype=np.int32)))
        tables.append(t.select(columns) if columns is not None else t)
    if not tables:
        files = _data_files(path)
        if not files:
            return pa.table({})
        schema = pq.read_schema(files[0])
        if part_col in (columns or ()):
            schema = schema.append(pa.field(part_col, pa.int32()))
        return pa.schema([schema.field(c) for c in columns or schema.names]).empty_table()
    schema = tables[0].schema
    return pa.concat_tables([t if t.schema.equals(schema) else t.cast(schema) for t in tables])


def local_meta_rows(path: str) -> list[dict]:
    """Driver-side read of a TINY meta subtree (centroids, quant/PQ
    codebooks, banding params — single-file repartition(1) trees of a
    few KB). A spark.read...collect() of the same file is one whole
    Spark job (~0.2-0.3s scheduler overhead on this box), and a serving
    composition pays it per meta table per call (VERDICT r10 #7
    profile: the PQ gate ran 6+ such jobs before its first real
    stage). Always fresh — it reads the files themselves, no cache to
    invalidate."""
    return read_local(path).to_pylist()


def read_postings(path: str, columns: list, part_col: str, values, id_col: str, keep=None):
    """The driver path's read of a BM25 or IVF index: ``read_local`` of
    the ``values`` partitions of ``postings/`` under the driver budget
    (``io.DRIVER_GET_MAX_ROWS``), minus the tombstoned ids — the
    queries' left-anti join, applied, as there, only when
    ``tombstones/_SUCCESS`` exists. Returns None, for the Spark body to
    run, when the posting rows or the tombstones are over the budget,
    or a posting id is null (the Spark window orders nulls first)."""
    import pyarrow.compute as pc

    from shc_spark import io as shc_io

    budget = shc_io.DRIVER_GET_MAX_ROWS
    table = read_local(os.path.join(path, "postings"), columns, part_col, values, budget, keep)
    if table is None or table.column(id_col).null_count:
        return None
    tomb_path = os.path.join(path, "tombstones")
    if not os.path.exists(os.path.join(tomb_path, "_SUCCESS")):
        return table
    tomb = read_local(tomb_path, ["id"], max_rows=budget)
    if tomb is None:
        return None
    ids = table.column(id_col)
    dead = tomb.column("id").drop_null().cast(ids.type)
    return table.filter(pc.invert(pc.is_in(ids, value_set=dead)))


def spark_round(x, scale: int = 4):
    """``F.round(x, scale)`` of a float64 array, value for value: Spark
    rounds HALF_UP the decimal that ``Double.toString`` prints for the
    double, so 0.72525 (stored just below that decimal) rounds up to
    0.7253. A binary ``floor(x * 10**scale + 0.5)`` decides every value
    whose scaled fraction is not within rounding error of one half;
    those few are decided on the shortest decimal of the double, which
    is what the JVM prints for doubles of this range."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    f = 10.0**scale
    y = np.abs(x) * f
    out = np.copysign(np.floor(y + 0.5), x) / f
    near = np.flatnonzero(np.abs(y - np.floor(y) - 0.5) <= 1e-9 * np.maximum(y, 1.0))
    q = Decimal(1).scaleb(-scale)
    for i in near:
        out[i] = float(Decimal(repr(float(x[i]))).quantize(q, rounding=ROUND_HALF_UP))
    # Spark's decimal has no negative zero
    return out + 0.0


def topk_frame(spark, scored, query_col: str, score_col: str, id_col: str, k: int, schema):
    """The top-k window of a serving index run in the driver: each
    ``query_col`` group's first ``k`` rows of the pandas frame
    ``scored`` by (``score_col`` rounded as ``F.round(score, 4)`` desc,
    ``id_col`` asc), numbered by an int ``rank``, as a local DataFrame
    of ``schema`` (the Spark body's output schema) in (query, rank)
    order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    ranked = scored.assign(**{score_col: spark_round(scored[score_col].to_numpy())})
    ranked = ranked.sort_values(
        [query_col, score_col, id_col], ascending=[True, False, True], kind="stable"
    )
    rank = ranked.groupby(query_col, sort=False).cumcount() + 1
    ranked = ranked.assign(rank=rank.astype("int32"))[rank.to_numpy() <= k]
    table = pa.Table.from_pandas(
        ranked[schema.names], schema=to_arrow_schema(schema), preserve_index=False
    )
    return spark.createDataFrame(table, schema)


def begin_staged_build(path: str) -> str:
    """Where an index (re)build should write its subtrees (VERDICT r10
    #8). Fresh build (nothing live at ``path``): build in place — a
    crash leaves a partial tree whose reads fail loudly (missing
    meta/_SUCCESS), i.e. "nothing". REBUILD over a live index: build
    under ``path + ".build"`` (cleared first) and commit with
    :func:`commit_staged_build` — a crash anywhere before the commit
    leaves the OLD index fully intact and queryable; the in-place
    overwrite this replaces could leave new banded rows next to old
    features (silently wrong candidates)."""
    import shutil

    if not os.path.exists(path):
        return path
    tmp = path + ".build"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def commit_staged_build(path: str, build_root: str) -> None:
    """Swap the staged tree over the live one (no-op for fresh
    builds). One rename pair via replace_subtree — the live index is
    whole-or-old at every instant except the sub-millisecond window
    between the two renames, and a crash leaves a recoverable copy."""
    if build_root == path:
        return
    replace_subtree(path, build_root)


def replace_subtree(old: str, tmp: str) -> None:
    """Swap a freshly written subtree over the live one via two
    renames instead of rmtree-then-rename: old -> old.bak,
    tmp -> old, then drop the .bak. The live name is absent only for
    the instant between the two renames (vs the full rmtree wall of
    the naive swap), and a crash anywhere leaves a recoverable copy on
    disk (.bak and/or tmp, both with _SUCCESS) rather than no index.
    Stale .bak from a previous crash is cleared first."""
    import shutil

    bak = old + ".bak"
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(old, bak)
    os.rename(tmp, old)
    shutil.rmtree(bak, ignore_errors=True)


def index_relation(spark, path: str, sub: str) -> DataFrame:
    p = os.path.join(path, sub)
    fp = _fingerprint(p)
    key = (spark.sparkContext.applicationId, p)
    hit = _RELATIONS.get(key)
    if hit is not None and fp is not None and hit[0] == fp:
        return hit[1]
    # invalidation events are debug-visible: a PERSISTENT miss (e.g. a
    # corrupted/missing _SUCCESS marker making fp None forever) means
    # every query pays the full listing job again — silent before r9
    if fp is None:
        log.debug(
            "index relation cache bypassed for %s: no readable _SUCCESS "
            "marker; relation will be rebuilt every call until the "
            "marker is restored (rewrite or compact the index)", p,
        )
    elif hit is not None:
        log.debug("index relation cache invalidated for %s (census changed)", p)
    df = spark.read.parquet(p)
    _RELATIONS[key] = (fp, df)
    return df


def compact_fragmented_partitions(
    spark, subtree: str, part_col: str, sort_within=None, threshold: int = 2
) -> int:
    """MINOR compaction: fold only the partitions of ``subtree`` that
    have >= ``threshold`` data files back to one file each, leaving
    cold partitions untouched. Cost is the corpus MASS IN FRAGMENTED
    BUCKETS (each folded bucket is fully rewritten), so it beats major
    compaction exactly when appends are bucket-sparse: appended_rows
    << num_buckets. Hash bucketing SPREADS large appends — a 1%
    corpus append fragmented nearly every bucket and measured the
    same wall as major compaction (SCALE.md r8 datapoint) — so for
    fat appends either defer folding (raise ``threshold`` to
    amortize several generations per rewrite) or run the major
    compaction and purge tombstones while paying the same IO.
    Tombstones are NOT
    purged (that is major compaction's job); masked rows ride along
    unchanged. One Spark job rewrites all fragmented partitions
    (partition-pruned read, repartition on the partition column), then
    each folded partition directory swaps in via the same rename/.bak
    contract as the subtree-level swap. Returns the number of
    partitions folded."""
    from pyspark.sql import functions as F

    frag = []
    for d in os.listdir(subtree):
        if not d.startswith(f"{part_col}="):
            continue
        full = os.path.join(subtree, d)
        n = sum(
            1 for f in os.listdir(full) if not f.startswith(("_", "."))
        )
        if n >= threshold:
            frag.append(int(d.split("=", 1)[1]))
    if not frag:
        return 0
    cur = spark.read.parquet(subtree).filter(F.col(part_col).isin(frag))
    if sort_within:
        cur = cur.repartition(len(frag), F.col(part_col)).sortWithinPartitions(
            *sort_within
        )
    else:
        cur = cur.repartition(len(frag), F.col(part_col))
    tmp = subtree + ".minor"
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    cur.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        raise RuntimeError("minor compaction write did not commit")
    for v in frag:
        src = os.path.join(tmp, f"{part_col}={v}")
        if not os.path.exists(src):
            # all-empty fragments fold to nothing; keep the originals
            # (harmless zero-row files) rather than risking a swap
            # with a missing source
            continue
        replace_subtree(os.path.join(subtree, f"{part_col}={v}"), src)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(frag)
