"""Co-located (shuffle-free) rowkey join between two shc tables.

The 100 TB join problem the key-ordered layout exists to solve: two
tables keyed identically (fact + enrichment, current + snapshot) are
ALREADY range-partitioned on the same key space, so an equi-join on
the full rowkey needs no exchange at all — each key sub-range joins
the two tables' overlapping region files locally. HBase reaches the
same result with MultiTableInputFormat-style co-located scans; Spark
bucketed tables reach it via bucket metadata. A Python Data Source
cannot report its partitioning to Catalyst (no SupportsReportPartitioning
for Python sources), so a plan-level sort-merge join would still
exchange both sides; this source instead performs the join INSIDE the
scan: partitions are disjoint key sub-ranges cut from BOTH tables'
region boundaries, each reading its slice of either table (LSM
merge-to-latest, tombstone-aware — the ShcReader machinery, reused)
and hash-joining the Arrow tables in place.

Scale shape: zero Spark shuffles (plan-pinned); per-partition memory
peaks at one key sub-range's slice of both tables (region-bounded —
the same bound the single-table merge read already has); parallelism
is the union of both tables' region cuts.

Requirements checked up front: identical rowkey field types and coder
on both catalogs (byte-identical key encodings — otherwise equal keys
would not compare equal as bytes), no Avro-coded cells (their logical
reconstruction lives in read_table, above the source).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from shc_spark.catalog import parse_catalog
from shc_spark.filters import ScanRange, ranges_and
from shc_spark.sources.shc_source import (
    ROWKEY_COL,
    MergePartition,
    ShcReader,
    _load_regions,
    internal_schema,
    table_path,
    table_state,
)


@dataclass
class JoinPartition(InputPartition):
    """One disjoint key sub-range with each side's merge plan."""

    a: MergePartition | None
    b: MergePartition | None


def _check_compatible(cat_a, cat_b) -> None:
    ka = [(f.dt.simpleString(), f.coder, f.length) for f in cat_a.rowkey_fields()]
    kb = [(f.dt.simpleString(), f.coder, f.length) for f in cat_b.rowkey_fields()]
    if ka != kb:
        raise ValueError(
            f"colocated_join needs byte-identical rowkey encodings; "
            f"got {ka} vs {kb}"
        )
    if cat_a.salt_buckets != cat_b.salt_buckets:
        # different bucket counts place the SAME logical key under
        # different salt prefixes — the byte join would silently match
        # nothing; equal bucket counts salt identically (same hash of
        # the same unsalted bytes) and compose fine
        raise ValueError(
            f"colocated_join needs equal saltBuckets; got "
            f"{cat_a.salt_buckets} vs {cat_b.salt_buckets}"
        )
    for cat in (cat_a, cat_b):
        if any(f.avro_schema is not None for f in cat.fields.values()):
            raise ValueError(
                "colocated_join does not support Avro-coded cells "
                "(join above read_table instead)"
            )


def _out_names(cat_a, cat_b) -> list[tuple[str, str, str]]:
    """(side, physical col, output name): A keeps its names; B's value
    columns get a ``_b`` suffix on collision (rowkey cols come from A)."""
    names = []
    a_cols = set()
    for f in cat_a.fields.values():
        names.append(("a", f.col_name, f.col_name))
        a_cols.add(f.col_name)
    for f in cat_b.fields.values():
        if f.is_rowkey:
            continue
        out = f.col_name if f.col_name not in a_cols else f"{f.col_name}_b"
        names.append(("b", f.col_name, out))
    return names


def _merge_plan(regions, sub: ScanRange, live=None) -> MergePartition | None:
    """The boundary-cut overlap logic of ShcReader._merge_partitions
    for ONE externally-chosen sub-range. ``live``: the pushed-filter
    ranges already intersected with ``sub`` (defaults to the whole
    sub-range) — they become the partition's scan ranges so row-group
    skipping sees the pushed bounds, not just the boundary cut."""
    over = []
    for reg in regions:
        start = bytes.fromhex(reg["start"]) if reg["start"] is not None else None
        end = bytes.fromhex(reg["end"]) if reg["end"] is not None else None
        if ranges_and([ScanRange(start, True, end, True)], [sub]):
            over.append(reg)
    if not over:
        return None
    tomb = any(reg.get("tombstones") for reg in over)
    dedup = tomb or not (len(over) == 1 and over[0].get("unique"))
    rs = live if live is not None else [sub]
    return MergePartition(
        paths=tuple(reg["path"] for reg in over),
        ranges=tuple(
            (r.start, r.start_inclusive, r.end, r.end_inclusive) for r in rs
        ),
        dedup=dedup,
        tombstones=tomb,
    )


class ShcJoinReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.options = options
        self.cat_a = parse_catalog(options["catalog"])
        self.cat_b = parse_catalog(options["catalog_b"])
        _check_compatible(self.cat_a, self.cat_b)
        root = options.get("root", "/tmp/shc_tables")
        self.path_a = table_path(options.get("root_a", root), self.cat_a)
        self.path_b = table_path(options.get("root_b", root), self.cat_b)
        self.how = options.get("how", "inner")
        if self.how not in ("inner", "left"):
            raise ValueError(f"how must be inner|left, got {self.how!r}")
        self.batch_size = int(options.get("batch_size", 65536))
        # filter pushdown delegates to the single-table translator: the
        # two sides share one rowkey encoding, so one translation (on
        # A's leading key dim) prunes BOTH sides' regions
        self._delegate = ShcReader(
            None, {"catalog": options["catalog"], "path": self.path_a}
        )

    def pushFilters(self, filters):
        yield from self._delegate.pushFilters(filters)

    def partitions(self):
        hrf = self._delegate.hrf
        self._delegate.hrf = type(hrf).full()  # pop: per-query state
        if self.cat_a.salt_buckets and hrf.ranges != type(hrf).full().ranges:
            hrf = self._delegate._expand_salt(hrf)
        regs_a = _load_regions(self.path_a)
        regs_b = _load_regions(self.path_b)
        cuts = sorted(
            {
                bytes.fromhex(r["start"])
                for r in regs_a + regs_b
                if r["start"] is not None
            }
        )
        bounds = [None] + cuts
        parts = []
        for i, lo in enumerate(bounds):
            hi = bounds[i + 1] if i + 1 < len(bounds) else None
            live = ranges_and(hrf.ranges, [ScanRange(lo, True, hi, False)])
            if not live:
                continue  # pruned by pushed rowkey predicates
            sub = ScanRange(lo, True, hi, False)
            pa_ = _merge_plan(regs_a, sub, live)
            pb_ = _merge_plan(regs_b, sub, live)
            if pa_ is None:
                continue  # no A rows -> no inner/left output
            if pb_ is None and self.how == "inner":
                continue
            parts.append(JoinPartition(a=pa_, b=pb_))
        if not parts:
            parts.append(JoinPartition(a=None, b=None))
        return parts

    def _side_table(self, reader: ShcReader, part, cat) -> pa.Table:
        want = to_arrow_schema(internal_schema(cat))
        # nullability-relaxed: the arrow group-by in the dedup merge
        # path strips not-null flags, the single-file path keeps them
        relaxed = pa.schema([pa.field(f.name, f.type) for f in want])
        batches = [
            pa.RecordBatch.from_arrays(list(b.columns), schema=relaxed)
            for b in reader._read_merge(part, want)
        ]
        if not batches:
            return pa.Table.from_batches([], schema=relaxed)
        return pa.Table.from_batches(batches, schema=relaxed)

    def read(self, partition: JoinPartition):
        if partition.a is None:
            return
        ra = ShcReader(None, {"catalog": self.options["catalog"], "path": self.path_a})
        ta = self._side_table(ra, partition.a, self.cat_a)
        if not len(ta):
            return
        want_b = to_arrow_schema(internal_schema(self.cat_b))
        if partition.b is not None:
            rb = ShcReader(
                None, {"catalog": self.options["catalog_b"], "path": self.path_b}
            )
            tb = self._side_table(rb, partition.b, self.cat_b)
        else:
            tb = pa.Table.from_batches([], schema=want_b)
        b_vals = [
            f.col_name for f in self.cat_b.fields.values() if not f.is_rowkey
        ]
        tb = tb.select([ROWKEY_COL] + b_vals)
        # suffix EVERY b column pre-join; rowkey gets joined on
        tb = tb.rename_columns([ROWKEY_COL] + [f"__b_{c}" for c in b_vals])
        how = "inner" if self.how == "inner" else "left outer"
        joined = ta.join(tb, keys=ROWKEY_COL, join_type=how)
        out_t = pa.table(
            {
                out: joined.column(col if side == "a" else f"__b_{col}")
                for side, col, out in _out_names(self.cat_a, self.cat_b)
            }
        )
        for batch in out_t.to_batches(max_chunksize=self.batch_size):
            if len(batch):
                yield batch


class ShcJoinDataSource(DataSource):
    """format("shc_join") — co-located rowkey equi-join of two shc
    tables, executed inside the scan (no Spark shuffle)."""

    @classmethod
    def name(cls) -> str:
        return "shc_join"

    def schema(self) -> StructType:
        cat_a = parse_catalog(self.options["catalog"])
        cat_b = parse_catalog(self.options["catalog_b"])
        _check_compatible(cat_a, cat_b)
        fields = []
        for side, col, out in _out_names(cat_a, cat_b):
            cat = cat_a if side == "a" else cat_b
            f = next(ff for ff in cat.fields.values() if ff.col_name == col)
            nullable = True if side == "b" else not f.is_rowkey
            fields.append(StructField(out, f.dt, nullable))
        return StructType(fields)

    def reader(self, schema: StructType) -> ShcJoinReader:
        return ShcJoinReader(schema, dict(self.options))


def colocated_join(
    spark: SparkSession,
    catalog_a: str,
    catalog_b: str,
    root: str = "/tmp/shc_tables",
    how: str = "inner",
    root_b: str | None = None,
) -> DataFrame:
    """Join two identically-keyed shc tables on their FULL rowkey with
    zero Spark shuffles (the join happens inside the scan, per key
    sub-range). ``how`` is inner or left (A preserved). Column names:
    A's columns as declared; B's value columns, ``_b``-suffixed on
    collision with any A column."""
    # TTL tables are refused: the in-source merge has no expiry
    # horizon, so joining one here would silently resurrect expired
    # cells (same explicit-error stance as cross-catalog TTL reads).
    for c, r in ((catalog_a, root), (catalog_b, root_b or root)):
        cat = parse_catalog(c)
        if (table_state(table_path(r, cat)).catalog or cat).ttl:
            raise ValueError(
                "colocated_join does not support TTL tables; read them "
                "through read_table (which applies expiry) and join"
            )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ShcJoinDataSource)
    reader = (
        spark.read.format("shc_join")
        .option("catalog", catalog_a)
        .option("catalog_b", catalog_b)
        .option("root", root)
        .option("how", how)
    )
    if root_b is not None:
        reader = reader.option("root_b", root_b)
    return reader.load()
