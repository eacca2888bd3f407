"""The "shc" Python Data Source: an HBase-shaped table format over an
embedded sorted-KV parquet backend.

Layer mapping to the reference (SURVEY.md §2.1):
- S1/S2 source+sink factory  -> ``ShcDataSource.reader/writer``
  (HBaseRelation.scala:46-65)
- S5 projection              -> declared schema; Catalyst prunes above
- S6/S7 filter pushdown      -> ``ShcReader.pushFilters`` consuming
  exactly-representable rowkey filters, yielding the rest back
  (HBaseFilter.scala:126-390, HBaseRelation.scala:316-318)
- S10 partition pruning      -> ``partitions()`` intersects pushed
  ranges with region boundaries; empty intersection => no partition
  (HBaseTableScan.scala:63-89)
- S11 scan-vs-get            -> point ranges become parquet row-group
  skipping + exact binary-key filtering inside ``read``
- S13 row materialization    -> Arrow batches (vectorized — fixes the
  reference's per-row TODO at HBaseTableScan.scala:113)
- S19 composite rowkey       -> ``__rowkey`` = concat of encoded dims

Physical layout of a table at ``<root>/<namespace>.<name>/``:
- ``_catalog.json``  — catalog + coder + write metadata
- ``_regions.json``  — [{id, path, start, end, rows}] hex-encoded
  tight key boundaries per region file (HBase region metadata analog)
- ``gen=<n>/region-<i>.parquet`` — rows sorted by ``__rowkey``; one
  generation per write (appends add generations, like HBase
  memstore flushes producing new HFiles)

Each parquet file carries the catalog's typed columns PLUS
``__rowkey`` (binary, encoded composite key) and ``__ts`` (long,
cell-version timestamp). Version semantics (merge-to-latest,
time-travel, explode) are applied ABOVE the source with DataFrame
aggregations (see api.read_table) so Catalyst can push rowkey filters
through them down to this scan.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BinaryType, ByteType, LongType, StructField, StructType

from shc_spark.catalog import Catalog, parse_catalog
from shc_spark.coders import get_coder

log = logging.getLogger("shc_spark.source")
from shc_spark.filters import (
    HRF,
    ScanRange,
    _prefix_upper,
    ranges_and,
    ranges_or,
    translate_filters,
)

ROWKEY_COL = "__rowkey"
TS_COL = "__ts"
DEL_COL = "__del"  # tombstone marker (HBase Delete analog)


def table_path(root: str, cat: Catalog) -> str:
    return os.path.join(root, f"{cat.namespace}.{cat.name}")


def internal_schema(cat: Catalog, include_deletes: bool = False) -> StructType:
    """Physical schema: catalog columns typed as declared, EXCEPT
    Avro-coded cells which are stored as the serialized Avro binary —
    one cell, one blob, exactly like the reference (AvroSerde,
    types/Avro.scala:401-426). The logical struct view is reconstructed
    in read_table."""
    fields = []
    for f in cat.fields.values():
        if f.avro_schema is not None:
            fields.append(StructField(f.col_name, BinaryType(), not f.is_rowkey))
        else:
            fields.append(f.spark_field())
    fields.append(StructField(ROWKEY_COL, BinaryType(), False))
    fields.append(StructField(TS_COL, LongType(), False))
    if include_deletes:
        fields.append(StructField(DEL_COL, ByteType(), True))
    return StructType(fields)


# -- coprocessor-style aggregate scan (beyond-reference; the HBase
# AggregationClient / AggregateImplementation coprocessor analog) ------
#
# With option aggregate='{"groupBy": [...], "aggs": [["sum","col"],
# ["count","*"], ...]}' each partition returns PARTIAL aggregates
# instead of rows: at 100 TB a SUM/COUNT scan ships one tiny batch per
# region through the Python DataSource bridge rather than every row.
# The caller (api.scan_aggregate) finalizes with a groupBy over
# #partitions x #groups partial rows — a shuffle measured in KB.
# Partials COMBINE with (count -> sum, sum -> sum, min -> min,
# max -> max); avg is an api-level finalize of sum/count.

_AGG_FNS = ("count", "sum", "min", "max")


def _parse_agg_spec(cat: Catalog, raw: str) -> dict:
    spec = json.loads(raw)
    group_by = spec.get("groupBy") or []
    aggs = [tuple(a) for a in spec.get("aggs") or []]
    if not aggs:
        raise ValueError("aggregate spec needs at least one agg")
    from pyspark.sql.types import NumericType

    for col in group_by:
        f = cat.fields.get(col)
        if f is None:
            raise ValueError(f"aggregate groupBy column {col!r} not in catalog")
        if f.avro_schema is not None:
            raise ValueError(
                f"aggregate groupBy column {col!r} is Avro-coded; aggregate "
                "scans group on typed scalar columns only"
            )
    for fn, col in aggs:
        if fn not in _AGG_FNS:
            raise ValueError(f"unsupported aggregate function {fn!r}")
        if col == "*":
            if fn != "count":
                raise ValueError(f"{fn}(*) is not a thing; name a column")
            continue
        f = cat.fields.get(col)
        if f is None:
            raise ValueError(f"aggregate column {col!r} not in catalog")
        if f.avro_schema is not None:
            raise ValueError(f"aggregate column {col!r} is Avro-coded")
        if fn == "sum" and not isinstance(f.dt, NumericType):
            raise ValueError(
                f"sum({col}) needs a numeric column, got {f.dt.simpleString()}"
            )
    return {"group_by": list(group_by), "aggs": aggs}


def agg_out_name(fn: str, col: str) -> str:
    return "count_all" if col == "*" else f"{fn}_{col}"


def aggregate_partial_schema(cat: Catalog, spec: dict) -> StructType:
    """Declared schema of an aggregate-mode scan: group columns typed
    as the catalog declares, one partial column per agg. Partial and
    final column names coincide, so the finalizing groupBy re-aliases
    nothing."""
    from pyspark.sql.types import DoubleType, FractionalType

    base = {f.name: f for f in internal_schema(cat)}
    fields = [base[c] for c in spec["group_by"]]
    for fn, col in spec["aggs"]:
        name = agg_out_name(fn, col)
        if fn == "count":
            fields.append(StructField(name, LongType(), False))
        elif fn == "sum":
            dt = base[col].dataType
            out = DoubleType() if isinstance(dt, FractionalType) else LongType()
            fields.append(StructField(name, out, True))
        else:  # min / max keep the column type
            fields.append(StructField(name, base[col].dataType, True))
    return StructType(fields)


from collections import OrderedDict

_REGION_CACHE: OrderedDict = OrderedDict()
# Housekeeping analog of the reference's connection cache (S20,
# HBaseConnectionCache.scala:35-154): the reference refcounts
# connections and evicts after 10 idle minutes via a housekeeping
# thread. Region metadata is a read-only snapshot, not a live socket,
# so no refcounts are needed; boundedness is the surviving contract —
# LRU capped so scanning thousands of distinct tables from one
# long-lived process cannot grow the cache without bound.
_REGION_CACHE_MAX = 256


def _load_regions(path: str) -> list[dict]:
    """Region metadata with an mtime-validated, LRU-bounded cache —
    the analog of the reference's connection/region-locator cache
    (S20, HBaseConnectionCache): repeated queries against the same
    table skip re-reading and re-parsing the metadata file; any write
    bumps the file mtime and invalidates naturally."""
    meta = os.path.join(path, "_regions.json")
    st = os.stat(meta)
    key = (st.st_mtime_ns, st.st_size)  # size guards coarse-mtime filesystems
    hit = _REGION_CACHE.get(meta)
    if hit is not None and hit[0] == key:
        _REGION_CACHE.move_to_end(meta)
        return [dict(r) for r in hit[1]]  # callers mutate (commit)
    with open(meta) as fh:
        regions = json.load(fh)
    _REGION_CACHE[meta] = (key, regions)
    _REGION_CACHE.move_to_end(meta)
    while len(_REGION_CACHE) > _REGION_CACHE_MAX:
        _REGION_CACHE.popitem(last=False)
    return [dict(r) for r in regions]


def _dim_to_key_ranges(hrf: HRF, fixed_first_width: int | None, single_dim: bool) -> HRF:
    """Map first-dimension ranges onto full ``__rowkey`` ranges.

    Single-dim keys map 1:1 (exact). Composite keys with a fixed-width
    first dim use prefix semantics: dim <= v  =>  key < next_prefix(v)
    (exact, see filters.py docstring). Composite var-length first dims
    are widened to a superset and marked unhandled — the reference
    behaves identically (HBaseFilter.scala:150-159) and Spark
    re-filters.
    """
    if single_dim:
        return hrf
    out = []
    exact = fixed_first_width is not None
    for r in hrf.ranges:
        start, start_inc = r.start, r.start_inclusive
        end, end_inc = r.end, r.end_inclusive
        if start is not None and not start_inc and exact:
            # Fixed-width first dim only: dim > v  =>  key >=
            # next_prefix(v) (every key extends the exactly-w-byte dim
            # encoding, so no key with dim > v sorts below it).
            # next_prefix(0xFF..) is None: NO key is above v, the range
            # is EMPTY — it must be dropped, not widened to -infinity.
            #
            # For VAR-LENGTH first dims this rewrite would NARROW the
            # range (name > 'user3' must not prune 'user30', whose key
            # b'user30...' < b'user4'): keep the original exclusive
            # start — key > encode(v) is a valid superset because every
            # composite key strictly extends the dim encoding, and
            # handled=False makes Spark re-filter the extras.
            start = _prefix_upper(start)
            start_inc = True
            if start is None:
                continue
        if end is not None and end_inc:
            # dim <= v  =>  key < next_prefix(v); next_prefix None
            # correctly means unbounded above
            end, end_inc = _prefix_upper(end), False
        out.append(ScanRange(start, start_inc, end, end_inc))
    return HRF(out, hrf.handled and exact)


@dataclass
class RegionPartition(InputPartition):
    path: str
    ranges: tuple  # tuple of (start, start_inc, end, end_inc) or None = full


@dataclass
class MergePartition(InputPartition):
    """One disjoint key sub-range + every region file overlapping it.
    The reader merges the files latest-wins per cell, so appended
    tables scan shuffle-free (the LSM merge-read: what HBase does
    across HFiles per region, done here per key sub-range)."""

    paths: tuple
    ranges: tuple  # as RegionPartition.ranges; already ∩ the sub-range
    dedup: bool  # False = provably one version per key, skip the merge
    tombstones: bool = False  # any overlapping file carries __del rows


class ShcReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.options = options
        cat_json = options.get("catalog")
        if not cat_json:
            raise ValueError(
                f"'catalog' option is required (got options: {sorted(options)})"
            )
        self.cat = parse_catalog(cat_json)
        root = options.get("root", "/tmp/shc_tables")
        self.path = options.get("path") or table_path(root, self.cat)
        self.batch_size = int(options.get("batch_size", 65536))
        self.include_deletes = (
            str(options.get("includedeletes", options.get("includeDeletes", ""))).lower()
            == "true"
        )
        raw_agg = options.get("aggregate")
        self.agg_spec = _parse_agg_spec(self.cat, raw_agg) if raw_agg else None
        if self.agg_spec is not None and self.include_deletes:
            raise ValueError("aggregate scans and includeDeletes are exclusive")
        # optional per-batch predicate applied BEFORE aggregation
        # (RecordBatch -> RecordBatch); set by embedding callers (the
        # REST service's filtered /aggregate), not via options.
        # row_filter_cols names the extra columns the predicate reads
        # so the pruned aggregate scan still materializes them.
        self.row_filter = None
        self.row_filter_cols: set = set()
        self.hrf = self._base_hrf_from_options(options)

    def _base_hrf_from_options(self, options: dict) -> HRF:
        """Explicit scan ranges on the LEADING rowkey dimension via the
        ``keyranges`` option: JSON ``[[lo, hi], ...]`` of INCLUSIVE
        logical values. This is the HBase-client Scan(startRow,
        stopRow) analog (HBaseTableScan.scala:63-89) for predicates the
        engine cannot push — Spark 4.1's Python DataSource filter API
        has no Or/And classes, so a disjunction of ranges (e.g. the
        BIGMIN-style z-order box translation, layout.zbox_ranges)
        never reaches pushFilters. Ranges given here are a COVERING
        contract: the caller must conjoin the exact predicate as an
        ordinary DataFrame filter (read_table(key_ranges=...) callers
        do). Engine-pushed filters still INTERSECT on top."""
        import json as _json

        raw = options.get("keyranges")
        if not raw:
            return HRF.full()
        first = self.cat.rowkey_fields()[0]
        try:
            coder = get_coder(first.coder)
        except ValueError:
            raise ValueError(
                "keyranges requires an order-preserving leading rowkey coder"
            )
        if not coder.order_preserving_for(first.dt):
            raise ValueError(
                f"keyranges: coder {first.coder!r} is not order-preserving "
                f"for {first.dt.simpleString()} (§4.2 sign hazard)"
            )
        ranges = []
        for lo, hi in _json.loads(raw):
            ranges.append(
                ScanRange(
                    coder.to_bytes(lo, first.dt), True,
                    coder.to_bytes(hi, first.dt), True,
                )
            )
        merged: list = []
        for r in ranges:  # assume caller-sorted (zbox_ranges is); OR-merge
            merged = ranges_or(merged, [r]) if merged else [r]
        # map leading-DIM bounds onto full __rowkey bounds (composite
        # keys: dim <= v  =>  key < next_prefix(v) — without this an
        # end-inclusive dim bound would EXCLUDE every composite key
        # sharing the boundary dim value)
        key_fields = self.cat.rowkey_fields()
        fixed_w = first.length if not first.var_length else None
        return HRF(
            _dim_to_key_ranges(
                HRF(merged, False), fixed_w, len(key_fields) == 1
            ).ranges,
            False,
        )

    # -- pushdown (S6/S7) -------------------------------------------------
    def pushFilters(self, filters):
        """Spark Filter list (implicit AND) -> rowkey scan ranges.

        Exactly-representable rowkey filters are consumed (the
        reference's unhandledFilters contract,
        HBaseRelation.scala:316-318); superset translations are yielded
        back for Spark re-evaluation.

        KNOWN ENGINE CAVEAT (Spark 4.1): the JVM caches the planned
        (partitions, read function) per DataSourceV2 relation
        (PythonDataSourceV2 read-info). A query WITHOUT pushable
        filters reuses the most recent cached plan of the same
        DataFrame — if that plan was pruned by an earlier filtered
        query, rows are missing. Always materialize a fresh relation
        per logical query (``api.read_table`` does) instead of reusing
        one loaded DataFrame across differently-filtered queries.
        """
        key_fields = self.cat.rowkey_fields()
        first = key_fields[0]
        try:
            coder = get_coder(first.coder)
        except ValueError:
            # Avro-coded first key dim: no order-preserving byte
            # mapping exists for predicate values — push nothing, let
            # Spark evaluate every filter above the scan
            yield from filters
            return
        single_dim = len(key_fields) == 1
        fixed_w = first.length if not first.var_length else None
        # non-order-preserving encodings (raw PrimitiveType numerics,
        # §4.2 sign hazard): only equality/IN translate to ranges
        points_only = not coder.order_preserving_for(first.dt)

        def encode(v):
            return coder.to_bytes(v, first.dt)

        pushed = self.hrf  # base: explicit keyranges option (or full)
        for f in filters:
            try:
                sub = translate_filters([f], first.col_name, encode, points_only)
                key_hrf = _dim_to_key_ranges(sub, fixed_w, single_dim)
            except Exception:
                yield f
                continue
            pushed = HRF(ranges_and(pushed.ranges, key_hrf.ranges), False)
            if not key_hrf.handled:
                # superset only -> Spark must re-evaluate
                yield f
        self.hrf = pushed

    def _expand_salt(self, hrf: HRF) -> HRF:
        """Salted tables (catalog saltBuckets, the Phoenix SALT_BUCKETS
        analog): pushed ranges refer to UNSALTED key bytes, physical
        keys carry a 1-byte hash prefix. Fan every range out across the
        buckets (Phoenix's parallel per-bucket scans); single-dim POINT
        ranges are the full unsalted key, so their bucket is computed
        exactly and a Get stays one lookup."""
        import hashlib

        n = self.cat.salt_buckets
        single_dim = len(self.cat.rowkey_fields()) == 1
        out = []
        for r in hrf.ranges:
            if (
                single_dim
                and r.start is not None
                and r.start == r.end
                and r.start_inclusive
                and r.end_inclusive
            ):
                s = hashlib.md5(r.start).digest()[0] % n
                out.append(
                    ScanRange(bytes([s]) + r.start, True, bytes([s]) + r.end, True)
                )
                continue
            for s in range(n):
                start = bytes([s]) + r.start if r.start is not None else bytes([s])
                if r.end is not None:
                    end, end_inc = bytes([s]) + r.end, r.end_inclusive
                elif s == 255:  # top bucket of a 256-bucket table
                    end, end_inc = None, False
                else:
                    end, end_inc = bytes([s + 1]), False  # next bucket, exclusive
                out.append(ScanRange(start, r.start_inclusive, end, end_inc))
        out.sort(key=lambda x: (x.start is not None, x.start))
        return HRF(out, hrf.handled)

    def _warn_on_replan(self, hrf) -> None:
        """Spark 4.1 reuse hazard tripwire: the JVM caches ONE planned
        (partitions, read function) per relation (PythonDataSourceV2.
        readInfo is a single mutable slot, overwritten by each pushdown
        planning). A query with no pushable filters reuses whatever
        plan was cached last — if that plan was pruned, rows silently
        vanish. Planning happens in a driver-node python worker, so
        this detects "same relation planned twice with different
        pushdown state" via a per-relation token file and shouts on
        the worker's stderr (visible on the local-mode console /
        driver log) plus a breadcrumb file tests can assert on. With
        option reuse_check=strict it raises instead, failing the
        second query loudly. api.read_table is immune: it builds a
        fresh relation per call."""
        token = self.options.get("_relation_token".lower())
        if not token:
            return
        import tempfile

        fp = hashlib.md5(
            repr(
                [(r.start, r.start_inclusive, r.end, r.end_inclusive) for r in hrf.ranges]
            ).encode()
        ).hexdigest()
        # one tiny marker per relation; read_table makes a relation per
        # query, so a long-lived driver creates many. Keep them in one
        # dir and prune hour-old ones once it grows — the tripwire is
        # best-effort and a relation replanned >1h after its first
        # planning merely loses one detection.
        mdir = os.path.join(tempfile.gettempdir(), ".shc_plan_markers")
        try:
            os.makedirs(mdir, exist_ok=True)
            names = os.listdir(mdir)
            if len(names) > 2048:
                import time as _time

                cutoff = _time.time() - 3600
                for nm in names:
                    p = os.path.join(mdir, nm)
                    try:
                        if os.path.getmtime(p) < cutoff:
                            os.unlink(p)
                    except OSError:
                        log.debug("plan-marker prune skipped %s", p, exc_info=True)
        except OSError:
            log.debug("plan-marker dir unavailable; replan tripwire inactive", exc_info=True)
            return
        marker = os.path.join(mdir, f"shc_plan_{token}")
        try:
            prev = open(marker).read() if os.path.exists(marker) else None
        except OSError:
            return
        if prev is None:
            try:
                with open(marker, "w") as fh:
                    fh.write(fp)
            except OSError:
                log.debug("plan-marker write failed for %s", marker, exc_info=True)
            return
        if prev == fp:
            return
        msg = (
            "shc: this DataFrame's relation has now been planned twice "
            "with different pushed-filter state. Spark 4.1 caches one "
            "planned read per relation, so running a query WITHOUT "
            "pushable filters on this same DataFrame will silently "
            "serve the last pruned plan (missing rows). Build a fresh "
            "relation per logical query — shc_spark.sources.read_table "
            "does — instead of reusing one loaded DataFrame."
        )
        try:
            with open(marker + ".warned", "w") as fh:
                fh.write(msg)
        except OSError:
            log.debug("replan breadcrumb write failed for %s", marker, exc_info=True)
        if str(self.options.get("reuse_check", "")).lower() == "strict":
            raise RuntimeError(msg)
        log.warning("%s", msg)

    # -- partition planning + pruning (S10) -------------------------------
    def partitions(self):
        regions = _load_regions(self.path)
        hrf, self.hrf = self.hrf, HRF.full()  # pop: ranges are per-query
        self._warn_on_replan(hrf)
        if self.cat.salt_buckets and hrf.ranges != HRF.full().ranges:
            hrf = self._expand_salt(hrf)
        if self.options.get("merge") == "latest":
            parts = self._merge_partitions(regions, hrf)
        else:
            parts = self._region_partitions(regions, hrf)
        if not parts:
            # Spark requires >= 1 partition; emit an empty scan marker
            parts.append(RegionPartition(path="", ranges=()))
        return parts

    def _region_partitions(self, regions, hrf):
        parts = []
        for reg in regions:
            start = bytes.fromhex(reg["start"]) if reg["start"] is not None else None
            end = bytes.fromhex(reg["end"]) if reg["end"] is not None else None
            # region covers [start, end] inclusive (tight file min/max)
            region_range = ScanRange(start, True, end, True)
            live = ranges_and(hrf.ranges, [region_range])
            if live:
                parts.append(
                    RegionPartition(
                        path=reg["path"],
                        ranges=tuple(
                            (r.start, r.start_inclusive, r.end, r.end_inclusive)
                            for r in live
                        ),
                    )
                )
        return parts

    def _merge_partitions(self, regions, hrf):
        """Boundary-cut planning for the shuffle-free merge read: cut
        the key space at every region's start key into disjoint
        sub-ranges, and give each sub-range the regions overlapping it.
        Bulk-loaded tables (disjoint unique regions) degenerate to one
        single-file no-dedup partition per region — identical cost to
        the plain scan. Appended tables get ~num_regions partitions
        each merging the generations that overlap it; row-group
        skipping bounds the re-read of a wide newer generation."""
        spans = []
        for reg in regions:
            start = bytes.fromhex(reg["start"]) if reg["start"] is not None else None
            end = bytes.fromhex(reg["end"]) if reg["end"] is not None else None
            spans.append((start, end, reg))
        cuts = sorted({s for s, _, _ in spans if s is not None})
        # sub-range i: [cuts[i], cuts[i+1]); first starts at -inf, last
        # is unbounded above. With no finite starts: one full range.
        bounds = [None] + cuts
        parts = []
        for i, lo in enumerate(bounds):
            hi = bounds[i + 1] if i + 1 < len(bounds) else None
            sub = ScanRange(lo, True, hi, False)
            live = ranges_and(hrf.ranges, [sub])
            if not live:
                continue
            over = [
                (s, e, reg)
                for s, e, reg in spans
                if ranges_and([ScanRange(s, True, e, True)], [sub])
            ]
            if not over:
                continue
            tomb = any(reg.get("tombstones") for _, _, reg in over)
            dedup = tomb or not (len(over) == 1 and over[0][2].get("unique"))
            parts.append(
                MergePartition(
                    paths=tuple(reg["path"] for _, _, reg in over),
                    ranges=tuple(
                        (r.start, r.start_inclusive, r.end, r.end_inclusive)
                        for r in live
                    ),
                    dedup=dedup,
                    tombstones=tomb,
                )
            )
        return parts

    # -- execution (S11/S13, vectorized) ----------------------------------
    def read(self, partition):
        if self.agg_spec is not None:
            yield from self._read_aggregate(partition)
            return
        want = to_arrow_schema(internal_schema(self.cat, self.include_deletes))
        if isinstance(partition, MergePartition):
            yield from self._read_merge(partition, want)
            return
        if not partition.path:
            return
        yield from self._scan_file(partition.path, partition.ranges, want)

    def _read_aggregate(self, partition):
        """Coprocessor-style partial aggregation (the HBase
        AggregationClient analog, beyond-reference): aggregate this
        partition's rows down to one partial row per group INSIDE the
        scan, so only #groups rows cross the Python DataSource bridge
        per partition. Version semantics come for free: the merge-read
        (or the caller's merge=latest option) has already collapsed to
        latest-wins before this aggregation sees a row. Memory stays
        O(groups): each streamed batch is pre-aggregated immediately
        and only the per-batch partials are held for the final
        combine."""
        spec = self.agg_spec
        group = spec["group_by"]
        needed = set(group) | {c for _, c in spec["aggs"] if c != "*"}
        needed |= self.row_filter_cols
        base = to_arrow_schema(internal_schema(self.cat))
        want = pa.schema(
            [f for f in base if f.name in needed or f.name in (ROWKEY_COL, TS_COL)]
        )
        if isinstance(partition, MergePartition):
            batches = self._read_merge(partition, want)
        elif not partition.path:
            return
        else:
            batches = self._scan_file(partition.path, partition.ranges, want)

        # per-batch aggregation tuples: count(*) counts __rowkey (never
        # null); count(col) counts non-null values of col
        first_aggs = []
        for fn, col in spec["aggs"]:
            src = ROWKEY_COL if col == "*" else col
            first_aggs.append((src, fn))
        partials = []
        for batch in batches:
            if self.row_filter is not None:
                batch = self.row_filter(batch)
                if not len(batch):
                    continue
            t = pa.Table.from_batches([batch])
            gb = t.group_by(group, use_threads=False) if group else t.group_by([], use_threads=False)
            partials.append(gb.aggregate(first_aggs))
        if not partials:
            return
        merged = pa.concat_tables(partials)
        # combine partials: count -> sum, sum -> sum, min -> min, max -> max
        combine = []
        for fn, col in spec["aggs"]:
            src = ROWKEY_COL if col == "*" else col
            combine.append((f"{src}_{fn}", "sum" if fn in ("count", "sum") else fn))
        out = merged.group_by(group, use_threads=False).aggregate(combine)
        # cast + rename to the declared partial schema
        declared = to_arrow_schema(aggregate_partial_schema(self.cat, spec))
        cols = {}
        for i, f in enumerate(declared):
            if f.name in group:
                cols[f.name] = out.column(f.name)
            else:
                # combine output names: <src>_<fn>_<combine_fn>
                fn, c = spec["aggs"][i - len(group)]
                src = ROWKEY_COL if c == "*" else c
                cfn = "sum" if fn in ("count", "sum") else fn
                cols[f.name] = out.column(f"{src}_{fn}_{cfn}")
        result = pa.table(cols).cast(declared)
        for batch in result.to_batches(max_chunksize=self.batch_size):
            if len(batch):
                yield batch

    def _read_merge(self, partition: MergePartition, want):
        """LSM merge-read: scan every overlapping file masked to this
        sub-range, then latest-wins per CELL (a newer version with a
        null cell does not shadow an older value — HBase 'nulls are not
        stored'). Sorting (key asc, ts desc) then taking the first
        non-null per key per column via arrow's hash_first implements
        exactly the max_by merge read_table would otherwise do in a
        shuffle. Memory peaks at the sub-range's slice across
        generations, not the whole region."""
        scan_want = want
        if partition.tombstones and DEL_COL not in want.names:
            scan_want = want.append(pa.field(DEL_COL, pa.int8()))
        tables = []
        for path in partition.paths:
            batches = list(self._scan_file(path, partition.ranges, scan_want))
            if batches:
                tables.append(pa.Table.from_batches(batches, schema=scan_want))
        if not tables:
            return
        t = pa.concat_tables(tables)
        if partition.tombstones and len(t):
            # HBase Delete semantics: a tombstone at ts T masks every
            # version of its row with ts <= T (including itself); a
            # newer put resurrects the row. max-tombstone-ts per key,
            # then keep strictly-newer rows.
            dmask = pc.fill_null(pc.equal(t.column(DEL_COL), 1), False)
            if pc.any(dmask).as_py():
                tomb = (
                    t.filter(dmask)
                    .select([ROWKEY_COL, TS_COL])
                    .group_by(ROWKEY_COL)
                    .aggregate([(TS_COL, "max")])
                )
                t = t.join(tomb, keys=ROWKEY_COL, join_type="left outer")
                ts_max = t.column(f"{TS_COL}_max")
                keep = pc.or_kleene(
                    pc.is_null(ts_max), pc.greater(t.column(TS_COL), ts_max)
                )
                t = t.filter(pc.fill_null(keep, False)).drop_columns([f"{TS_COL}_max"])
            if DEL_COL not in want.names:
                t = t.drop_columns([DEL_COL])
        if partition.dedup and len(t):
            idx = pc.sort_indices(
                t, sort_keys=[(ROWKEY_COL, "ascending"), (TS_COL, "descending")]
            )
            gb = pa.TableGroupBy(t.take(idx), ROWKEY_COL, use_threads=False)
            agg = gb.aggregate(
                [(f.name, "first") for f in want if f.name != ROWKEY_COL]
            )
            t = pa.table(
                {
                    f.name: agg.column(
                        f.name if f.name == ROWKEY_COL else f"{f.name}_first"
                    )
                    for f in want
                }
            )
        for batch in t.to_batches(max_chunksize=self.batch_size):
            if len(batch):
                yield batch

    def _scan_file(self, path: str, ranges: tuple, want):
        # Streaming read: iter_batches + per-batch range mask bounds
        # executor memory at ~batch_size rows regardless of region file
        # size (a whole-file read_table peaks at full region size on an
        # over-wide region). S11 scan-vs-get: rows are sorted by
        # __rowkey, so row-group statistics on it are tight — whole row
        # groups outside the coarse bounding range are skipped up front
        # (the BulkGet analog: a point lookup touches ~1 row group).
        # Parquet stat truncation is safe here: a truncated min is a
        # byte-prefix (<= real min) and a truncated max is bumped
        # upward (>= real max), so both skip tests stay conservative.
        partition = RegionPartition(path=path, ranges=ranges)
        starts = [r[0] for r in partition.ranges]
        ends = [r[2] for r in partition.ranges]
        lo = min(starts) if partition.ranges and all(s is not None for s in starts) else None
        hi = max(ends) if partition.ranges and all(e is not None for e in ends) else None
        full_scan = any(
            s is None and e is None for s, _, e, _ in partition.ranges
        ) or not partition.ranges

        with pq.ParquetFile(partition.path) as pf:
            md = pf.metadata
            key_leaf = next(
                i
                for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == ROWKEY_COL
            )
            row_groups = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(key_leaf).statistics
                if st is not None and st.has_min_max:
                    if hi is not None and st.min > hi:
                        continue
                    if lo is not None and st.max < lo:
                        continue
                row_groups.append(rg)
            # column pruning at the parquet decoder: only the catalog's
            # columns are materialized — a subset catalog over a wide
            # physical table never decodes the other columns
            file_cols = {pf.schema_arrow.names[i] for i in range(len(pf.schema_arrow.names))}
            read_cols = [n for n in want.names if n in file_cols]
            # tombstone rows are metadata: hidden from scans that did
            # not ask for them (merge reads request __del and apply
            # full masking; includeDeletes passes them through)
            hide_dels = DEL_COL in file_cols and DEL_COL not in want.names
            if hide_dels and DEL_COL not in read_cols:
                read_cols = read_cols + [DEL_COL]
            for batch in pf.iter_batches(
                batch_size=self.batch_size, row_groups=row_groups, columns=read_cols
            ):
                if not full_scan:
                    key = batch.column(ROWKEY_COL)
                    mask = None
                    for start, start_inc, end, end_inc in partition.ranges:
                        cond = None
                        if start is not None:
                            op = pc.greater_equal if start_inc else pc.greater
                            cond = op(key, pa.scalar(start, pa.binary()))
                        if end is not None:
                            op = pc.less_equal if end_inc else pc.less
                            c2 = op(key, pa.scalar(end, pa.binary()))
                            cond = c2 if cond is None else pc.and_(cond, c2)
                        mask = cond if mask is None else pc.or_(mask, cond)
                    if mask is not None:
                        batch = batch.filter(mask)
                if hide_dels and len(batch):
                    live = pc.fill_null(pc.not_equal(batch.column(DEL_COL), 1), True)
                    batch = batch.filter(live)
                if not len(batch):
                    continue
                # project to the declared schema: reorder, null-fill
                # columns missing from this file (catalog drift across
                # generations / subset reads)
                arrays = []
                for field in want:
                    if field.name in file_cols:
                        col = batch.column(field.name)
                        if col.type != field.type:
                            col = pc.cast(col, field.type)
                        arrays.append(col)
                    else:
                        arrays.append(pa.nulls(len(batch), field.type))
                yield pa.RecordBatch.from_arrays(arrays, schema=want)


BUCKET_COL = "__bucket"


class _RegionFile:
    """One open region parquet file + its running key stats."""

    def __init__(self, gen_dir: str) -> None:
        self.path = os.path.join(gen_dir, f"region-{uuid.uuid4().hex[:8]}.parquet")
        self.writer = None
        self.rows = 0
        self.lo = self.hi = None
        self.unique = True
        self.prev_last = None
        self.tombstones = False

    def add(self, table: pa.Table) -> None:
        if self.writer is None:
            self.writer = pq.ParquetWriter(self.path, table.schema)
        if DEL_COL in table.schema.names:
            self.tombstones = True
        self.writer.write_table(table)
        keys = table.column(ROWKEY_COL)
        if len(keys):
            mm = pc.min_max(keys)
            kmin, kmax = mm["min"].as_py(), mm["max"].as_py()
            first, last = keys[0].as_py(), keys[-1].as_py()
            # uniqueness via adjacent-equality is only sound when keys
            # arrive in non-decreasing BYTE order (equal keys then
            # adjacent). Typed-sorted-but-byte-unsorted input (raw
            # PrimitiveType numerics) or unsorted direct writes
            # conservatively record unique=False.
            if self.prev_last is not None and first == self.prev_last:
                self.unique = False
            if self.unique:
                if self.prev_last is not None and first < self.prev_last:
                    self.unique = False  # byte order broken across batches
                if len(keys) > 1:
                    head = keys.slice(0, len(keys) - 1)
                    tail = keys.slice(1)
                    if pc.any(pc.equal(head, tail)).as_py():
                        self.unique = False
                    elif pc.any(pc.greater(head, tail)).as_py():
                        self.unique = False  # byte order broken in batch
            self.prev_last = last
            self.lo = kmin if self.lo is None or kmin < self.lo else self.lo
            self.hi = kmax if self.hi is None or kmax > self.hi else self.hi
        self.rows += len(table)

    def close(self) -> dict | None:
        if self.writer is not None:
            self.writer.close()
        if self.rows == 0:
            if os.path.exists(self.path):
                os.remove(self.path)
            return None
        info = {
            "path": self.path,
            "start": self.lo.hex() if self.lo is not None else None,
            "end": self.hi.hex() if self.hi is not None else None,
            "rows": self.rows,
            "unique": self.unique,
        }
        if self.tombstones:
            info["tombstones"] = True
        return info


def _store_catalog(path: str, cat_json: str, overwrite: bool) -> None:
    """Persist the writer catalog; appends through a narrower/different
    catalog must not clobber the stored one — earlier generations'
    columns would become unreachable (their (cf, qualifier) mapping
    lives only here). Merge: stored wins per column name, new columns
    append unless their cell is already mapped under another name;
    rowkey specs must agree."""
    stored_p = os.path.join(path, "_catalog.json")
    if not overwrite and os.path.exists(stored_p):
        with open(stored_p) as fh:
            stored = json.load(fh)
        new = json.loads(cat_json)
        if stored.get("rowkey") != new.get("rowkey"):
            raise ValueError(
                "append catalog rowkey spec differs from the stored catalog"
            )
        cells = {
            (v.get("cf"), v.get("col")) for v in stored["columns"].values()
        }
        for name, spec in new["columns"].items():
            if name in stored["columns"]:
                continue
            if (spec.get("cf"), spec.get("col")) in cells:
                continue
            stored["columns"][name] = spec
        for k, v in new.items():
            if k not in ("table", "rowkey", "columns") and k not in stored:
                stored[k] = v  # e.g. avro schema refs
        cat_json = json.dumps(stored)
    with open(stored_p, "w") as fh:
        fh.write(cat_json)


class ShcWriter(DataSourceArrowWriter):
    """Batch write path (S2/S4): each task writes sorted region files
    per generation; commit() assembles tight region metadata — the
    analog of `insert` + region assignment (HBaseRelation.scala:
    182-267).

    When batches carry a ``__bucket`` column (split-point-hint writes,
    api.write_table), the task splits its output at bucket changes:
    buckets are contiguous after the upstream sort, so each bucket
    becomes its own tight-ranged region file and the pre-split honors
    the catalog's min/maxTableSplitPoint without any sampling pass."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool) -> None:
        self.options = options
        self.cat = parse_catalog(options["catalog"])
        root = options.get("root", "/tmp/shc_tables")
        self.path = options.get("path") or table_path(root, self.cat)
        self.overwrite = overwrite
        self.gen = uuid.uuid4().hex[:12]

    def write(self, iterator):
        gen_dir = os.path.join(self.path, f"gen={self.gen}")
        os.makedirs(gen_dir, exist_ok=True)
        infos = []
        current: _RegionFile | None = None
        current_bucket = None
        for batch in iterator:
            # api.write_table sorts within partitions on the key
            # columns upstream, so batches arrive in key order — no
            # per-batch re-sort (which would only be batch-local anyway)
            table = pa.Table.from_batches([batch])
            if BUCKET_COL not in table.schema.names:
                if current is None:
                    current = _RegionFile(gen_dir)
                current.add(table)
                continue
            buckets = table.column(BUCKET_COL).to_numpy(zero_copy_only=False)
            data = table.drop_columns([BUCKET_COL])
            start = 0
            for i in range(1, len(buckets) + 1):
                if i == len(buckets) or buckets[i] != buckets[start]:
                    seg = data.slice(start, i - start)
                    if current_bucket != buckets[start] or current is None:
                        if current is not None:
                            infos.append(current.close())
                        current = _RegionFile(gen_dir)
                        current_bucket = buckets[start]
                    current.add(seg)
                    start = i
        if current is not None:
            infos.append(current.close())
        return ShcCommit([i for i in infos if i])

    def commit(self, messages):
        regions = []
        if not self.overwrite and os.path.exists(os.path.join(self.path, "_regions.json")):
            regions = _load_regions(self.path)
        new = []
        for m in messages:
            if m and m.info:
                new.extend(m.info if isinstance(m.info, list) else [m.info])
        base = len(regions)
        for i, info in enumerate(sorted(new, key=lambda x: x["start"] or "")):
            info["id"] = base + i
            regions.append(info)
        meta = os.path.join(self.path, "_regions.json")
        with open(meta, "w") as fh:
            json.dump(regions, fh)
        # drop the metadata cache entry explicitly — mtime+size usually
        # invalidates it, but same-second same-size rewrites must not
        # serve the pre-commit region list in this process
        _REGION_CACHE.pop(meta, None)
        _store_catalog(self.path, self.options["catalog"], self.overwrite)
        if self.overwrite:
            # vacuum: prior generations are unreachable after an
            # overwrite commit — remove their files so repeated
            # overwrites don't accumulate orphans
            import shutil

            keep = f"gen={self.gen}"
            for entry in os.listdir(self.path):
                if entry.startswith("gen=") and entry != keep:
                    shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)

    def abort(self, messages):
        for m in messages:
            if m and m.info:
                for info in m.info if isinstance(m.info, list) else [m.info]:
                    if os.path.exists(info["path"]):
                        os.remove(info["path"])


@dataclass
class ShcCommit(WriterCommitMessage):
    info: "list[dict] | dict | None"


class ShcStreamWriter(DataSourceStreamArrowWriter):
    """Streaming SINK into an shc table — ``df.writeStream.format("shc")``.

    Exactly-once via manifest commit (the Delta/Iceberg pattern applied
    to this backend's `_regions.json`): tasks stage sorted region files
    under a per-task ``gen=stream-*`` dir and return their stats;
    ``commit(messages, batchId)`` first REMOVES any manifest entries
    (and files) already recorded for the same batchId — a restarted
    micro-batch replaces its own output instead of duplicating it —
    then appends the new entries tagged ``batch=batchId``. Staged files
    of an attempt that never commits are invisible to readers (the
    manifest drives partition planning) and are deleted by ``abort``.

    Unlike the batch path (input pre-sorted upstream), a streaming plan
    cannot sort (Spark disallows it on unbounded inputs), so the task
    sorts its micro-batch slice arrow-side before writing — bounded by
    the micro-batch partition, which is exactly the memstore-sized unit
    the reference flushes (HBaseRelation.scala:182-267 writes Puts; the
    memstore sorts before flush)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool) -> None:
        self.options = options
        self.cat = parse_catalog(options["catalog"])
        root = options.get("root", "/tmp/shc_tables")
        self.path = options.get("path") or table_path(root, self.cat)
        self.overwrite = overwrite
        # Idempotence scope (Delta keys txn on (txnAppId, txnVersion),
        # not version alone): batchId restarts at 0 for every fresh
        # checkpoint, so replacing manifest entries on batchId alone
        # would let a NEW query silently delete a previous query's
        # committed batch-0 data. Scope replacement to (txn, batchId):
        # explicit `txnid` option (write_stream_table derives one from
        # the checkpoint path), else the checkpoint location if Spark
        # forwards it, else a per-writer-instance id — a restarted
        # micro-batch within one run still replaces its own output,
        # and distinct queries never touch each other's entries.
        txn = options.get("txnid") or options.get(
            "checkpointlocation", options.get("checkpointLocation")
        )
        if txn:
            self.txn = hashlib.sha1(str(txn).encode()).hexdigest()[:16]
        else:
            self.txn = uuid.uuid4().hex[:16]

    def write(self, iterator):
        batches = list(iterator)
        if not batches:
            return ShcCommit([])
        table = pa.Table.from_batches(batches).sort_by(ROWKEY_COL)
        gen_dir = os.path.join(self.path, f"gen=stream-{uuid.uuid4().hex[:12]}")
        os.makedirs(gen_dir, exist_ok=True)
        rf = _RegionFile(gen_dir)
        rf.add(table)
        info = rf.close()
        return ShcCommit([info] if info else [])

    def _new_infos(self, messages):
        new = []
        for m in messages:
            if m and m.info:
                new.extend(m.info if isinstance(m.info, list) else [m.info])
        return new

    def commit(self, messages, batchId: int) -> None:
        os.makedirs(self.path, exist_ok=True)
        meta = os.path.join(self.path, "_regions.json")
        regions = _load_regions(self.path) if os.path.exists(meta) else []

        def _stale(r):
            # only entries of THIS query's txn are replaceable; legacy
            # entries (no txn tag) or another query's batches stay
            return r.get("batch") == batchId and r.get("txn") == self.txn

        for r in regions:
            if _stale(r) and os.path.exists(r["path"]):
                os.remove(r["path"])
        regions = [r for r in regions if not _stale(r)]
        for info in sorted(self._new_infos(messages), key=lambda x: x["start"] or ""):
            info["batch"] = batchId
            info["txn"] = self.txn
            regions.append(info)
        for i, r in enumerate(regions):
            r["id"] = i
        with open(meta, "w") as fh:
            json.dump(regions, fh)
        _REGION_CACHE.pop(meta, None)
        _store_catalog(self.path, self.options["catalog"], overwrite=False)

    def abort(self, messages, batchId: int) -> None:
        for info in self._new_infos(messages):
            if os.path.exists(info["path"]):
                os.remove(info["path"])


class ShcStreamReader(DataSourceStreamReader):
    """Streaming SOURCE over an shc table: each append generation's
    region files become the next micro-batch — tailing the table the
    way HBase replication tails WAL edits, but at the memstore-flush
    granularity this backend actually has.

    Offsets are the count of committed region entries (regions are
    append-only in append mode, so the count is a monotonic cursor and
    `readBetweenOffsets`-style replay is exact). The batch scan
    machinery is reused verbatim: partitions are plain RegionPartitions
    over the new files, executors stream them with the same masked
    iter_batches path. Rows arrive RAW (one row per version, __rowkey/
    __ts included) — merge-to-latest across a stream is a downstream
    stateful concern. An overwrite (region count shrinks) is a
    truncation the cursor can't represent: fail with guidance."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.options = options
        self.cat = parse_catalog(options["catalog"])
        root = options.get("root", "/tmp/shc_tables")
        self.path = options.get("path") or table_path(root, self.cat)
        self.batch_size = int(options.get("batch_size", 65536))
        # CDC consumers ask for tombstones (includeDeletes) so a
        # downstream stateful merge can apply deletes; without it,
        # tombstone rows are hidden exactly like the batch scan
        self.include_deletes = (
            str(options.get("includedeletes", options.get("includeDeletes", ""))).lower()
            == "true"
        )

    def _count(self) -> int:
        try:
            return len(_load_regions(self.path))
        except FileNotFoundError:
            return 0

    def initialOffset(self) -> dict:
        # Spark passes reader options through a case-insensitive map
        # that lowercases keys
        if self.options.get("startingoffsets", "earliest") == "latest":
            return {"n": self._count()}
        return {"n": 0}

    def latestOffset(self) -> dict:
        return {"n": self._count()}

    def partitions(self, start: dict, end: dict):
        n0, n1 = start["n"], end["n"]
        if n1 < n0:
            raise RuntimeError(
                "shc table was overwritten while being streamed (region "
                "count shrank); restart the stream from a fresh checkpoint"
            )
        if n1 == n0:
            return [RegionPartition(path="", ranges=())]
        regions = sorted(_load_regions(self.path), key=lambda r: r["id"])
        return [
            RegionPartition(path=reg["path"], ranges=((None, True, None, True),))
            for reg in regions[n0:n1]
        ]

    def read(self, partition: RegionPartition):
        if not partition.path:
            return iter(())
        want = to_arrow_schema(internal_schema(self.cat, self.include_deletes))
        return ShcReader._scan_file(self, partition.path, partition.ranges, want)

    def commit(self, end: dict) -> None:
        pass


class ShcDataSource(DataSource):
    """format("shc") — register with
    ``spark.dataSource.register(ShcDataSource)``."""

    def __init__(self, options) -> None:
        super().__init__(options)
        # One token per relation instance (__init__ runs once per
        # load(); pickling for later plannings preserves it). The
        # reader uses it to detect the Spark 4.1 plan-cache reuse
        # hazard — see ShcReader._warn_on_replan.
        self.options.setdefault("_relation_token", os.urandom(8).hex())

    @classmethod
    def name(cls) -> str:
        return "shc"

    def schema(self) -> StructType:
        cat = parse_catalog(self.options["catalog"])
        raw_agg = self.options.get("aggregate")
        if raw_agg:
            return aggregate_partial_schema(cat, _parse_agg_spec(cat, raw_agg))
        dels = str(self.options.get("includedeletes", self.options.get("includeDeletes", ""))).lower() == "true"
        return internal_schema(cat, include_deletes=dels)

    def reader(self, schema: StructType) -> ShcReader:
        return ShcReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> ShcStreamReader:
        return ShcStreamReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> ShcWriter:
        return ShcWriter(schema, dict(self.options), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> ShcStreamWriter:
        return ShcStreamWriter(schema, dict(self.options), overwrite)


def arrow_schema_for(cat: Catalog) -> pa.Schema:
    return to_arrow_schema(internal_schema(cat))
