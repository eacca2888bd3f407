"""High-level connector API: the reference's read/write surface
re-expressed Spark-first.

- ``write_table(df, catalog, ...)`` = S2/S3/S4: pre-split via
  ``repartitionByRange`` on the encoded rowkey (the Spark-native
  analog of `Bytes.split` pre-splitting, HBaseRelation.scala:124-175),
  sort within partitions, write through the "shc" data source.
- ``read_table(spark, catalog, ...)`` = S1 + S14/S15: returns a
  DataFrame with the catalog schema. Every catalog — the writer's own,
  or a renamed, subset, version-map or dynamic-family view — resolves
  against the stored writer catalog into one column plan, and one
  pipeline applies version semantics (time-travel options
  timestamp/minStamp/maxStamp, HBaseRelation.scala:77-81; maxVersions
  × mergeToLatest, MaxVersionsSuite.scala:45-98). A plain
  merge-to-latest read of flat cells merges inside the source;
  everything else runs as DataFrame steps ABOVE the source, so
  Catalyst pushes rowkey predicates through them into the scan (filter
  pushdown + region pruning live in ShcReader).

Divergences from the reference, on purpose (SURVEY.md §4.3):
- version-exploded reads keep multiset semantics (the reference's
  `Set[Row]` silently drops duplicate rows, HBaseTableScan.scala:245);
- merge-to-latest treats a map-typed cell as one value (latest non-null
  map wins) rather than per-qualifier overlay; per-qualifier merge is
  available explicitly via ``merge_dynamic_maps=True``.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shc_spark import io as shc_io
from shc_spark.catalog import Catalog, parse_catalog
from shc_spark.coders import get_coder
from shc_spark.sources.shc_source import (
    DEL_COL,
    ROWKEY_COL,
    TS_COL,
    ShcDataSource,
    ShcReader,
    internal_schema,
    merge_is_noop,
    table_path,
    table_state,
)

DEFAULT_ROOT = "/tmp/shc_tables"


def register(spark: SparkSession) -> None:
    """Register format("shc") with this session and enable Python data
    source filter pushdown (off by default in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ShcDataSource)


def _encode_dim_vectorized(col: pd.Series, coder, dt: T.DataType) -> "list[bytes] | None":
    """numpy fast path for OrderedType/PhoenixType int-family and
    string dims: whole-column encode without a Python loop. Returns
    None when no fast path applies."""
    import numpy as np

    if not getattr(coder, "order_preserving", False):
        return None
    widths = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}
    w = widths.get(type(dt))
    if w is not None:
        vals = col.to_numpy()
        if pd.isna(vals).any():
            raise ValueError("rowkey dimension is null")
        bits = vals.astype(np.uint64) ^ np.uint64(1 << (8 * w - 1))
        be = bits.astype(">u8").view(np.uint8).reshape(-1, 8)[:, 8 - w :]
        return [r.tobytes() for r in be]
    if isinstance(dt, T.StringType):
        if col.isna().any():
            raise ValueError("rowkey dimension is null")
        return [s.encode("utf-8") for s in col]
    return None


class _AvroKeyPass:
    """Avro-coded rowkey dims (AvroSourceKeySuite.scala) arrive
    already serialized (write_table avro-encodes before the rowkey
    projection): the key encoding is the Avro binary itself."""

    order_preserving = False

    def to_bytes(self, v, dt):
        return bytes(v)


def _key_encode_ctx(cat: Catalog) -> tuple:
    """Per-catalog immutable metadata for whole-batch rowkey encoding:
    (coders, dts, lengths, names, phoenix_like). Computed once per
    writer, shared by the pandas-UDF path and the REST Put path."""
    key_fields = cat.rowkey_fields()
    coders = [
        _AvroKeyPass() if f.avro_schema is not None else get_coder(f.coder)
        for f in key_fields
    ]
    dts = [f.dt for f in key_fields]
    lengths = [f.length if f.var_length is False else None for f in key_fields]
    names = [f.col_name for f in key_fields]
    phoenix_like = [type(c).__name__ == "PhoenixType" for c in coders]
    return coders, dts, lengths, names, phoenix_like


def encode_rowkey_batch(cat: Catalog, cols: "list[pd.Series]", ctx: tuple | None = None) -> list:
    """Whole-batch rowkey encode (salt prefix included): one list of
    physical key bytes per input row, no per-row coder dispatch on the
    fast paths. The single encode kernel behind BOTH transports — the
    embedded writer's pandas UDF and the REST writer's Put batches —
    so the wire bytes are definitionally identical to the stored ones."""
    if ctx is None:
        ctx = _key_encode_ctx(cat)
    coders, dts, lengths, names, phoenix_like = ctx

    def encode_dim(col: pd.Series, j: int) -> list[bytes]:
        fast = _encode_dim_vectorized(col, coders[j], dts[j])
        if fast is None:
            fast = []
            for v in col:
                if v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)):
                    raise ValueError(f"rowkey dimension {names[j]!r} is null")
                fast.append(coders[j].to_bytes(v, dts[j]))
        if lengths[j] is not None:
            for enc in fast:
                if len(enc) != lengths[j]:
                    raise ValueError(
                        f"rowkey dim {names[j]!r}: encoded length {len(enc)} != "
                        f"declared length {lengths[j]}"
                    )
        return fast

    dims = [encode_dim(col, j) for j, col in enumerate(cols)]
    seps = [
        b"\x00" if phoenix_like[j] and lengths[j] is None and j != len(cols) - 1 else b""
        for j in range(len(cols))
    ]
    if len(dims) == 1:
        keys = dims[0]
    else:
        keys = [b"".join(d[i] + s for d, s in zip(dims, seps)) for i in range(len(dims[0]))]
    if cat.salt_buckets:
        # Phoenix SALT_BUCKETS analog: one hash byte prefixed to
        # the key spreads monotonically-written keys (timestamps,
        # sequence ids) across regions — the HBase hotspot fix.
        # Deterministic (md5 of the UNSALTED key bytes), so point
        # lookups recompute it (Phoenix does the same).
        import hashlib as _h

        n = cat.salt_buckets
        keys = [bytes([_h.md5(k).digest()[0] % n]) + k for k in keys]
    return keys


def _rowkey_encoder(cat: Catalog):
    """Vectorized rowkey encoder: pandas UDF over the key columns
    (Arrow-batched, numpy-encoded per dimension — the write-side fix
    for the reference's per-row `convertToPut` cost,
    HBaseRelation.scala:202-267)."""
    ctx = _key_encode_ctx(cat)
    names = ctx[3]

    @F.pandas_udf(T.BinaryType())
    def encode(*cols: pd.Series) -> pd.Series:
        return pd.Series(encode_rowkey_batch(cat, list(cols), ctx))

    return encode, names


def _avro_encode_udf(field):
    """struct value -> Avro binary cell (pure-python serde — the
    spark-avro jar is not loadable here; mirrors AvroSerde.serialize,
    types/Avro.scala:401-414).

    EVERY schema the converter admits encodes WHOLE-BATCH column-wise
    (coders/avro.py:encode_record_batch — numpy zigzag varints +
    pyarrow length-prefix concat; collections flatten into one child
    pass per level and reassemble per row with grouped binary joins;
    nested records join their subfield bodies element-wise;
    member-struct unions — compound members included — nest anywhere,
    r10), pinned bit-equal to the per-row coder by the
    test_avro_batch_encode_matches_per_row(_arrays/_maps/_deep_nested/
    nested_munion/collection_branch_union) properties. The per-row
    path remains only as the bit-exactness oracle."""
    from shc_spark.coders.avro import AvroType, encode_record_batch, record_encode_plan

    struct_fields = list(field.dt.fields)
    plans = record_encode_plan(AvroType(field.avro_schema).schema, struct_fields)
    if plans is None:
        # every schema the converter ADMITS has a vector plan (r10);
        # None means the catalog's avro schema is malformed — fail at
        # write-plan time, not silently per-row inside an executor
        raise ValueError(
            f"invalid avro schema in catalog for column {field!r}: "
            "no vector encode plan (schema not admitted by the converter)"
        )

    @F.pandas_udf(T.BinaryType())
    def enc(pdf: pd.DataFrame) -> pd.Series:
        return encode_record_batch(plans, pdf, struct_fields).to_pandas()

    return enc


def _coerce(v, dt: T.DataType):
    """pandas/numpy value -> python value matching the Spark type
    (nullable ints arrive as float64 from pandas; arrays as ndarray)."""
    import numpy as np

    if v is None or (not isinstance(v, (list, dict, np.ndarray, tuple)) and pd.isna(v)):
        return None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, T.StringType):
        return str(v)
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if isinstance(dt, T.ArrayType):
        return [_coerce(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        items = v.items() if isinstance(v, dict) else v  # arrow may give pair-lists
        return {k: _coerce(x, dt.valueType) for k, x in items}
    if isinstance(dt, T.StructType):
        if isinstance(v, dict):
            return tuple(_coerce(v.get(sf.name), sf.dataType) for sf in dt.fields)
        return tuple(_coerce(x, sf.dataType) for x, sf in zip(v, dt.fields))
    return v


def _deep_nullable(dt: T.DataType) -> T.DataType:
    """Copy of ``dt`` with every nested field nullable — the decode
    UDF's intermediate rows carry all-null placeholders for null
    cells, which would NPE codegen under non-nullable avro-derived
    fields (plain "string" maps to nullable=False)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _deep_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_deep_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _deep_nullable(dt.valueType), True)
    return dt


def _avro_decode_udf(field):
    """Avro binary cell -> struct value (AvroSerde.deserialize,
    types/Avro.scala:416-426). Flat primitive records decode
    WHOLE-BATCH (coders/avro.py:decode_record_batch — numpy varint
    parse + strided/repeat gathers), pinned bit-equal to the per-row
    coder. The vector decode is TOTAL as of r10: every nested shape
    — records, arrays, maps, member-struct unions (compound members
    included), widened {float,double} scalars — decodes whole-batch
    at any depth (union branch varints dispatch masked per-branch
    parses); the per-row path survives purely as the bit-exactness
    oracle."""
    from shc_spark.coders.avro import (
        AvroType,
        decode_record_batch,
        record_decode_plan,
    )

    coder = AvroType(field.avro_schema)
    struct_fields = list(field.dt.fields)
    names = [sf.name for sf in struct_fields]
    # r10: every shape decodes whole-batch (the vector serde is
    # total); plans is None only for malformed catalogs
    plans = record_decode_plan(coder.schema, struct_fields)

    @F.pandas_udf(_deep_nullable(field.dt))
    def dec(blobs: pd.Series) -> pd.DataFrame:
        if plans is not None:
            return decode_record_batch(plans, blobs, struct_fields)
        rows = []
        for b in blobs:
            if b is None:
                rows.append({n: None for n in names})
            else:
                tup = coder.from_bytes(bytes(b))
                rows.append(dict(zip(names, tup)))
        return pd.DataFrame(rows)

    return dec


def _avro_decode_expr(field):
    """Decode expression for one avro column: NULL cell -> NULL struct
    (a missing HBase cell is an absent value, not a record of nulls;
    the UDF's all-null placeholder row is filtered back to a true NULL
    here, outside the UDF, where struct-level null is expressible)."""
    dec = _avro_decode_udf(field)
    c = F.col(field.col_name)
    return F.when(
        c.isNull(), F.lit(None).cast(_deep_nullable(field.dt))
    ).otherwise(dec(c))


def _expand_version_maps(df: DataFrame, catalog: str, write_ts: int):
    """Write-side version-map fan-out (HBaseRelation.scala:244-261):
    a ``map<long, T>`` column becomes one ROW VERSION per (ts, value)
    entry — the map key is the cell timestamp — while the other
    columns write once at the call's timestamp. The STORED catalog
    declares the column as plain ``T`` (that is what each cell holds);
    reading back through the original map-typed catalog plans it as a
    version map (``_column_plan``) and rebuilds ts -> value maps,
    so maxVersions / timestamp / merge semantics all apply to the
    fanned-out versions. Keys whose only content is an empty map write
    nothing (a Put with no cells creates no row)."""
    import json as _json

    cat = parse_catalog(catalog)
    vm = [
        f
        for f in cat.value_fields()
        if isinstance(f.dt, T.MapType)
        and isinstance(f.dt.keyType, T.LongType)
        and f.col != ""
        and f.avro_schema is None
    ]
    if not vm:
        return df, catalog
    key_names = [k.col_name for k in cat.rowkey_fields()]
    vm_names = {f.col_name for f in vm}
    other = [f.col_name for f in cat.value_fields() if f.col_name not in vm_names]
    parts = []
    if other:
        parts.append(
            df.select(*key_names, *other).withColumn(
                "__ts_src", F.lit(write_ts).cast("long")
            )
        )
    for f in vm:
        e = df.select(
            *key_names, F.explode(F.col(f.col_name)).alias("__vts", f.col_name)
        )
        parts.append(e.withColumn("__ts_src", F.col("__vts").cast("long")).drop("__vts"))
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p, allowMissingColumns=True)
    params = _json.loads(catalog)
    for f in vm:
        spec = dict(params["columns"][f.col_name])
        spec["type"] = f.dt.valueType.simpleString()
        params["columns"][f.col_name] = spec
    return un, _json.dumps(params)


def write_table(
    df: DataFrame,
    catalog: str,
    root: str = DEFAULT_ROOT,
    num_regions: int | None = None,
    timestamp: int | None = None,
    mode: str = "append",
    expand_version_maps: bool = False,
) -> None:
    """Write ``df`` as an shc table (pre-split, sorted regions).

    ``num_regions`` mirrors the `newtable` option: required > 3 when
    creating a new table (HBaseRelation.scala:150-153).
    ``expand_version_maps`` fans ``map<long,T>`` columns out to one
    row version per entry (see _expand_version_maps).
    """
    import os

    ts0 = timestamp if timestamp is not None else int(time.time() * 1000)
    if expand_version_maps:
        df, catalog = _expand_version_maps(df, catalog, ts0)
    cat = parse_catalog(catalog)
    path = os.path.join(root, f"{cat.namespace}.{cat.name}")
    exists = os.path.exists(os.path.join(path, "_regions.json"))
    if not exists or mode == "overwrite":
        if num_regions is None:
            num_regions = 8
        if num_regions <= 3:
            raise ValueError("new tables need num_regions > 3 (reference `newtable` rule)")
    elif mode == "append":
        # appends may narrow the catalog, but the SALT is part of the
        # physical key encoding: a mismatched append would interleave
        # keys salted two different ways into one table
        stored = table_state(path).catalog
        if stored is not None and stored.salt_buckets != cat.salt_buckets:
            raise ValueError(
                f"append saltBuckets={cat.salt_buckets} does not match "
                f"the table's saltBuckets={stored.salt_buckets}"
            )

    register(df.sparkSession)
    encode, key_names = _rowkey_encoder(cat)
    ts = timestamp if timestamp is not None else int(time.time() * 1000)

    has_ts_src = "__ts_src" in df.columns
    ts_expr = (
        F.col("__ts_src").cast("long") if has_ts_src else F.lit(ts).cast("long")
    )
    out = df.select(
        [f.col_name for f in cat.fields.values()]
        + (["__ts_src"] if has_ts_src else [])
    )
    if cat.salt_buckets and cat.has_split_hints:
        raise ValueError(
            "min/maxTableSplitPoint hints assume unsalted keys; a salted "
            "table (saltBuckets) is spread by the hash prefix already — "
            "drop the hints"
        )
    if num_regions and cat.has_split_hints:
        # explicit pre-split (minTableSplitPoint/maxTableSplitPoint,
        # HBaseTableCatalog.scala:301-302 -> Bytes.split analog): byte-
        # interpolated boundaries over the hint range assign each row a
        # bucket, one hash shuffle on the bucket id places it, and the
        # writer splits files at bucket changes. NO sampling pass — at
        # 100 TB this saves repartitionByRange's extra scan of the
        # input. Rows outside [min, max) land in the edge buckets,
        # exactly like HBase's first/last region.
        from functools import reduce

        for f in cat.fields.values():
            if f.avro_schema is not None:
                out = out.withColumn(f.col_name, _avro_encode_udf(f)(F.col(f.col_name)))
        out = out.withColumn(ROWKEY_COL, encode(*[F.col(k) for k in key_names]))
        out = out.withColumn(TS_COL, ts_expr).drop("__ts_src")
        bnds = _split_boundaries(
            cat.min_split.encode("utf-8"), cat.max_split.encode("utf-8"), num_regions
        )
        bucket = reduce(
            lambda acc, b: acc
            + F.when(F.col(ROWKEY_COL) >= F.lit(b), 1).otherwise(0),
            bnds,
            F.lit(0),
        )
        from shc_spark.sources.shc_source import BUCKET_COL

        out = (
            out.withColumn(BUCKET_COL, bucket)
            .repartition(num_regions, F.col(BUCKET_COL))
            .sortWithinPartitions(ROWKEY_COL)
        )
    elif cat.salt_buckets:
        # salted physical order is (salt byte, key) — the typed key
        # columns no longer sort like the encoded bytes, so partition
        # and sort on the ENCODED rowkey itself (the encode UDF also
        # feeds the range-sampling pass; that extra evaluation is the
        # price of the hotspot spread)
        for f in cat.fields.values():
            if f.avro_schema is not None:
                out = out.withColumn(f.col_name, _avro_encode_udf(f)(F.col(f.col_name)))
        out = out.withColumn(ROWKEY_COL, encode(*[F.col(k) for k in key_names]))
        if num_regions:
            out = out.repartitionByRange(num_regions, F.col(ROWKEY_COL))
        out = out.sortWithinPartitions(ROWKEY_COL)
        out = out.withColumn(TS_COL, ts_expr).drop("__ts_src")
    else:
        if num_regions:
            # range-partition + sort on the TYPED key columns (same
            # order as encoded bytes for order-preserving coders)
            # BEFORE the encode projection: the range-sampling pass
            # then prunes to the key columns and never evaluates the
            # encode UDF, and the UDF runs exactly once, above the
            # exchange. (= HBase pre-split.)
            out = out.repartitionByRange(num_regions, *[F.col(k) for k in key_names])
        out = out.sortWithinPartitions(*[F.col(k) for k in key_names])
        for f in cat.fields.values():
            if f.avro_schema is not None:
                out = out.withColumn(f.col_name, _avro_encode_udf(f)(F.col(f.col_name)))
        out = out.withColumn(ROWKEY_COL, encode(*[F.col(k) for k in key_names]))
        out = out.withColumn(TS_COL, ts_expr).drop("__ts_src")
    (
        out.write.format("shc")
        .mode(mode)
        .option("catalog", catalog)
        .option("root", root)
        .save()
    )


def _split_boundaries(lo: bytes, hi: bytes, n: int) -> "list[bytes]":
    """n-1 byte-interpolated split points between lo and hi — the
    Bytes.split(min, max, numRegions) analog."""
    width = max(len(lo), len(hi), 1) + 1
    a = int.from_bytes(lo.ljust(width, b"\x00"), "big")
    b = int.from_bytes(hi.ljust(width, b"\x00"), "big")
    if b <= a:
        raise ValueError("maxTableSplitPoint must sort above minTableSplitPoint")
    return [(a + (b - a) * i // n).to_bytes(width, "big") for i in range(1, n)]


def _any_live_cell(col_names: list):
    """OR over the columns' isNotNull — the HBase row-liveness rule
    (a row IS its cells; none live, no row). One definition shared by
    the maxVersions drop, TTL drop, and compaction TTL purge."""
    from functools import reduce

    return reduce(lambda a, b: a | b, [F.col(c).isNotNull() for c in col_names])


def _same_catalog(a: str, b: str) -> bool:
    da, db = json.loads(a), json.loads(b)
    salt = lambda d: int(d.get("table", {}).get("saltBuckets", 0) or 0)  # noqa: E731
    # saltBuckets is part of the PHYSICAL key encoding: a catalog that
    # differs only there is another catalog (its unexpanded ranges
    # would silently miss salted keys)
    return (
        da.get("columns") == db.get("columns")
        and da.get("rowkey") == db.get("rowkey")
        and salt(da) == salt(db)
    )


def _is_vmap_type(dt) -> bool:
    return isinstance(dt, T.MapType) and isinstance(dt.keyType, T.LongType)


def _column_plan(rcat: Catalog, wcat: Catalog, restrictive: str) -> tuple:
    """Resolve every read value field against the writer catalog by
    (column family, qualifier) — one physical table, many catalogs
    (DynamicColumnSuite.scala:151-248). Returns ``(plans, needed)``:
    one ``(kind, read_field, source)`` per read value field, and the
    writer columns those plans read, in first-use order.

    - ``static``: the writer cell with the same (cf, qualifier), cast
      when typed differently; a missing cell reads NULL. A writer cell
      of the SAME type always passes through as static, so the
      writer's own catalog (or any catalog before the first write
      stores one) maps every column to itself;
    - ``vmap``: ``map<long, V>`` with a qualifier — the ts -> value
      version map of that cell (keepVersions, HBaseTableScan.scala:
      107-110);
    - ``dyn``: a map with ``"col": ""`` — every family cell not
      declared elsewhere in the read catalog, keyed by qualifier;
      ``map<string, map<long, W>>`` nests a version map per qualifier
      (HBaseRecordDynamic.col7 shape). ``restrictive`` (COLUMN/FAMILY/
      NONE, HBaseRelation.scala:348-352): COLUMN fetches only declared
      cells, so a dynamic map captures nothing (scan.addColumn,
      HBaseTableScan.scala:406-411); FAMILY and NONE capture the whole
      family. This columnar backend never fetches families outside
      the catalog, so NONE's extra I/O has no analog.
    """
    mode = (restrictive or "column").lower()
    if mode not in ("column", "family", "none"):
        raise ValueError(f"restrictive must be COLUMN, FAMILY, or NONE, got {restrictive!r}")
    rkeys, wkeys = rcat.rowkey_fields(), wcat.rowkey_fields()
    if len(rkeys) != len(wkeys) or any(
        rf.dt != wf.dt or rf.coder != wf.coder for rf, wf in zip(rkeys, wkeys)
    ):
        raise ValueError(
            "read catalog rowkey is incompatible with the stored catalog "
            f"(stored dims: {[(f.col_name, f.type_str) for f in wkeys]})"
        )
    wmap = {(f.cf, f.col): f for f in wcat.value_fields()}
    declared = {(f.cf, f.col) for f in rcat.value_fields() if f.col != ""}
    plans, needed = [], []
    for f in rcat.value_fields():
        wf = wmap.get((f.cf, f.col))
        if wf is not None and wf.dt == f.dt:
            plan = ("static", f, wf)
        elif f.col == "" and isinstance(f.dt, T.MapType):
            fams = [] if mode == "column" else [
                w
                for w in wcat.value_fields()
                if w.cf == f.cf and (w.cf, w.col) not in declared and w.avro_schema is None
            ]
            plan = ("dyn", f, fams)
        else:
            plan = ("vmap" if _is_vmap_type(f.dt) else "static", f, wf)
        plans.append(plan)
        srcs = plan[2] if plan[0] == "dyn" else [wf] if wf is not None else []
        needed += [w.col_name for w in srcs if w.col_name not in needed]
    return plans, needed


def _cast(c, src: T.DataType, dt: T.DataType):
    return c.cast(dt) if src != dt else c


def _latest(name: str):
    """Per-cell latest-non-null merge (buildRow, HBaseTableScan.scala:
    114-175): max_by ignores rows whose ordering key is null, so a
    newer version with a null cell does NOT shadow an older value —
    HBase "nulls are not stored"."""
    return F.expr(f"max_by(`{name}`, CASE WHEN `{name}` IS NOT NULL THEN `{TS_COL}` END)")


def _overlay_maps(wf):
    """Per-qualifier overlay of a map cell's versions
    (``merge_dynamic_maps``, HBaseTableScan.scala:139-151): fold the
    version maps in ts order, newer keys shadowing older ones. Maps are
    not orderable but entry arrays are, so (ts, entries) structs sort by
    ts; keys leave the accumulator before map_concat, so no dedup
    policy is needed."""
    dt_sql = wf.dt.simpleString()
    return F.expr(
        f"aggregate("
        f"  array_sort(collect_list(struct(`{TS_COL}` AS ts,"
        f"    map_entries(coalesce(`{wf.col_name}`, cast(map() AS {dt_sql}))) AS e))),"
        f"  cast(map() AS {dt_sql}),"
        f"  (acc, x) -> map_concat("
        f"    map_filter(acc, (k, v) -> NOT array_contains(transform(x.e, p -> p.key), k)),"
        f"    map_from_entries(x.e)))"
    )


def _empty_map(dt: T.MapType):
    return F.map_from_entries(
        F.array().cast(
            f"array<struct<key:{dt.keyType.simpleString()},value:{dt.valueType.simpleString()}>>"
        )
    )


def _version_map(wf, vt: T.DataType, grouped: bool):
    """ts -> value map of one cell (null cells are 'not stored').
    Grouped: across the key's versions, entries sorted by ts; duplicate
    timestamps (two generations written with the same explicit ts) keep
    the LAST entry after the (ts, value) sort — the max value, a
    deterministic stand-in for HBase's same-coordinate overwrite —
    instead of tripping Spark's duplicate-map-key error. Not grouped
    (one version per key): a one-entry map per row, no shuffle."""
    entry = F.struct(F.col(TS_COL).alias("key"), _cast(F.col(wf.col_name), wf.dt, vt).alias("value"))
    if not grouped:
        return F.when(
            F.col(wf.col_name).isNotNull(), F.map_from_entries(F.array(entry))
        ).otherwise(_empty_map(T.MapType(T.LongType(), vt)))
    sorted_e = F.array_sort(F.collect_list(F.when(F.col(wf.col_name).isNotNull(), entry)))
    init = F.expr(f"cast(array() as array<struct<key:bigint,value:{vt.simpleString()}>>)")

    def merge(acc, x):
        return F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1)["key"] == x["key"]),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(x)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.map_from_entries(F.aggregate(sorted_e, init, merge))


def _dyn_map(f, fams: list, grouped: bool):
    """Qualifier-keyed map over the captured family cells; inner
    version maps when the value type is ``map<long, W>``."""
    vt = f.dt.valueType
    if not fams:
        return _empty_map(f.dt)
    if _is_vmap_type(vt):
        value = lambda wf: _version_map(wf, vt.valueType, grouped)  # noqa: E731
        live = lambda x: F.size(F.map_keys(x.getField("value"))) > 0  # noqa: E731
    else:
        value = lambda wf: _cast(  # noqa: E731
            _latest(wf.col_name) if grouped else F.col(wf.col_name), wf.dt, vt
        )
        live = lambda x: x.getField("value").isNotNull()  # noqa: E731
    entries = [F.struct(F.lit(wf.col).alias("key"), value(wf).alias("value")) for wf in fams]
    return F.map_from_entries(F.filter(F.array(*entries), live))


def read_table(
    spark: SparkSession, catalog: str, root: str = DEFAULT_ROOT, **opts
) -> DataFrame:
    """Read an shc table back as a DataFrame with the catalog schema.
    ``opts`` are the read options of ``_read_table``: ``timestamp``,
    ``min_stamp`` / ``max_stamp``, ``max_versions``,
    ``merge_to_latest`` (default True), ``merge_dynamic_maps``,
    ``keep_internal``, ``restrictive`` (default "column"),
    ``reader_options``, ``ttl_now_ms`` and ``key_ranges``.

    ``key_ranges``: optional ``[(lo, hi), ...]`` INCLUSIVE logical
    values of the LEADING rowkey dimension — explicit Scan ranges (the
    HBase-client Scan(startRow, stopRow) analog) for predicates the
    engine cannot push, e.g. the z-order box translation
    (layout.zbox_ranges): Spark 4.1's Python DataSource filter API has
    no Or class, so a disjunction of ranges never reaches pushFilters.
    The ranges are a COVERING contract — conjoin the exact predicate
    as an ordinary .filter() on the returned DataFrame.

    Call read_table once per logical query: Spark 4.1 caches the
    planned scan per relation, so reusing ONE returned DataFrame
    across differently-filtered queries can reuse stale partition
    pruning (see ShcReader.pushFilters). Each call here builds a fresh
    relation, which is always safe.

    One read path serves every catalog, as in the reference, where
    every view of a table goes through one relation and one row
    builder. ``catalog`` is resolved against the table's stored writer
    catalog into a column plan (``_column_plan``: columns match by
    column family and qualifier; ``map<long,T>`` columns read ts->value
    version maps; dynamic ``col:""`` maps capture families as
    ``restrictive`` allows). The writer's own catalog is the plan that
    maps every column to itself. The scan reads the writer columns the
    plan needs, and one pipeline follows: tombstone mask -> TTL nulling
    -> time range -> per-cell ``max_versions`` -> merge -> Avro decode
    -> TTL live-row filter -> select.

    Merge rule: a plain merge-to-latest read of flat cells (no version
    map, time range, ``max_versions``, TTL or ``merge_dynamic_maps``)
    merges inside the source (the LSM merge-read, no shuffle); a table
    whose regions prove one version per key skips the merge; any other
    merge is a per-key Spark aggregation.
    """
    return _read_table(spark, catalog, parse_catalog(catalog), None, root=root, **opts)


def _read_table(
    spark: SparkSession,
    catalog: str,
    rcat: Catalog,
    get_keys: list | None,
    root: str = DEFAULT_ROOT,
    timestamp: int | None = None,
    min_stamp: int | None = None,
    max_stamp: int | None = None,
    max_versions: int | None = None,
    merge_to_latest: bool = True,
    merge_dynamic_maps: bool = False,
    keep_internal: bool = False,
    restrictive: str = "column",
    reader_options: dict | None = None,
    ttl_now_ms: int | None = None,
    key_ranges: list | None = None,
) -> DataFrame:
    """``read_table`` on the parsed read catalog ``rcat``, with its
    options and their defaults. With ``get_keys`` None the scan is a
    Spark read of the shc data source. A list of leading-key values
    reads just their rows: in the driver (``_multi_get``) when every
    key is a value of the key type and their planned partitions hold
    at most ``io.DRIVER_GET_MAX_ROWS`` rows, else as that Spark read
    filtered on the keys."""
    stored, wcat, regions = table_state(table_path(root, rcat))
    wcat = wcat or rcat
    other = stored is not None and not _same_catalog(stored, catalog)
    # TTL is a property of the PHYSICAL table (HBase sets it on the
    # column family descriptor, not on the reader): when a stored
    # catalog exists its ttl is authoritative — INCLUDING "no ttl"
    # (a reader-side catalog must not conjure expiry onto a TTL-free
    # table). The reader's ttl applies only before the first write
    # records the catalog.
    ttl = wcat.ttl
    if other and ttl:
        raise ValueError(
            "TTL-bearing tables do not support cross-catalog reads yet; "
            "read with the stored catalog"
        )
    if other and merge_dynamic_maps:
        raise ValueError(
            "merge_dynamic_maps applies to same-catalog map columns; "
            "cross-catalog dynamic capture always overlays per cell"
        )
    plans, needed = _column_plan(rcat, wcat, restrictive)
    has_versions = any(
        kind == "vmap" or (kind == "dyn" and _is_vmap_type(f.dt.valueType))
        for kind, f, _ in plans
    )
    time_opts = any(o is not None for o in (timestamp, min_stamp, max_stamp, max_versions))
    noop = merge_is_noop(regions)
    in_source = (
        merge_to_latest
        # TTL: expiry must null cells BEFORE the version merge
        and not (has_versions or time_opts or ttl or merge_dynamic_maps or noop)
        and all(
            wcat.fields[c].avro_schema is not None
            or not isinstance(wcat.fields[c].dt, (T.MapType, T.ArrayType, T.StructType))
            for c in needed
        )
    )
    grouped = (has_versions or merge_to_latest) and not (noop or in_source)
    # Tombstones for a Spark-side merge: the raw scan hides tombstone
    # ROWS but leaves live the older versions they mask, so without
    # this a deleted row RESURRECTS on the merged view (the in-source
    # merge masks by itself). Explicit time-travel / version reads and
    # raw history reads still see pre-delete history
    # (KEEP_DELETED_CELLS=true semantics).
    mask_dels = (
        merge_to_latest
        and not (time_opts or in_source)
        and any(r.get("tombstones") for r in regions)
    )

    # the physical scan goes through the writer catalog pruned to the
    # needed columns (avro schema refs and table/rowkey spec intact),
    # so only those parquet columns decode
    scan_cat = json.loads(stored if stored is not None else catalog)
    wkeys = [f.col_name for f in wcat.rowkey_fields()]
    scan_cat["columns"] = {
        k: v for k, v in scan_cat["columns"].items() if k in wkeys or k in needed
    }
    opts = {"catalog": json.dumps(scan_cat), "root": root}
    if in_source:
        opts["merge"] = "latest"
    if mask_dels:
        opts["includeDeletes"] = "true"
    if key_ranges:
        opts["keyranges"] = json.dumps([[lo, hi] for lo, hi in key_ranges])
    opts.update(reader_options or {})
    df = None
    if get_keys is not None:
        values = _key_values(get_keys, wcat.fields[wkeys[0]].dt)
        if values is not None:
            df = _multi_get(spark, opts, wkeys[0], values)
    if df is None:
        register(spark)
        df = spark.read.format("shc").options(**opts).load()
        if get_keys is not None:
            # the rowkey filter pushes down to point ranges; every step
            # below is per key, so filtering first returns what
            # filtering last would
            df = df.filter(F.col(wkeys[0]).isin(get_keys))

    if mask_dels:
        # a tombstone at ts T masks every version of its row with
        # ts <= T (itself included); a newer put resurrects the row
        tomb = F.max(F.when(F.col(DEL_COL) == 1, F.col(TS_COL))).over(
            Window.partitionBy(*wkeys)
        )
        df = (
            df.withColumn("__tomb", tomb)
            .filter(
                (F.col(DEL_COL).isNull() | (F.col(DEL_COL) != 1))
                & (F.col("__tomb").isNull() | (F.col(TS_COL) > F.col("__tomb")))
            )
            .drop(DEL_COL, "__tomb")
        )
    if ttl:
        # Per-family TTL (HColumnDescriptor.setTimeToLive): a cell older
        # than now - ttl(family) is GONE — null it before any version
        # merge, so max_by falls through to nothing (an older version is
        # older still; expiry is monotone in ts). Rowkeys never expire.
        now = ttl_now_ms if ttl_now_ms is not None else int(time.time() * 1000)
        for c in needed:
            cf = wcat.fields[c].cf
            if cf in ttl:
                cut = now - int(ttl[cf]) * 1000
                df = df.withColumn(c, F.when(F.col(TS_COL) >= cut, F.col(c)))
    # S15 time semantics (handleTimeSemantics, HBaseTableScan.scala:496-516)
    if timestamp is not None:
        df = df.filter(F.col(TS_COL) == timestamp)
    if min_stamp is not None:
        df = df.filter(F.col(TS_COL) >= min_stamp)
    if max_stamp is not None:
        df = df.filter(F.col(TS_COL) < max_stamp)  # half-open, like Scan.setTimeRange
    if max_versions is not None:
        # per-CELL maxVersions (HBase grants each column its own version
        # budget): rank every needed column's non-null cells per key by
        # ts desc, null out the over-budget ones, and drop rows left
        # with no live cell. For homogeneous rows (all cells written
        # together) this equals the per-row cap; for heterogeneous rows
        # (version-map fan-out, narrow-catalog appends) it is the
        # correct granularity. Rowkey predicates still push through —
        # partition keys are grouping columns.
        w = (
            Window.partitionBy(*wkeys)
            .orderBy(F.col(TS_COL).desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in needed:
            rank = F.count(F.when(F.col(c).isNotNull(), 1)).over(w)
            df = df.withColumn(c, F.when(F.col(c).isNotNull() & (rank <= max_versions), F.col(c)))
        if needed:
            df = df.filter(_any_live_cell(needed))

    out = []
    for kind, f, src in plans:
        if kind == "dyn":
            e = _dyn_map(f, src, grouped)
        elif src is None:
            e = _empty_map(f.dt) if kind == "vmap" else F.lit(None).cast(f.dt)
        elif kind == "vmap":
            e = _version_map(src, f.dt.valueType, grouped)
        elif grouped and merge_dynamic_maps and isinstance(f.dt, T.MapType):
            e = _overlay_maps(src)
        else:
            e = _cast(_latest(src.col_name) if grouped else F.col(src.col_name), src.dt, f.dt)
        out.append(e.alias(f.col_name))
    rkeys = [f.col_name for f in rcat.rowkey_fields()]
    keys = [F.col(w).alias(r) for w, r in zip(wkeys, rkeys)]
    if grouped:
        keep = [F.max(TS_COL).alias(TS_COL)] if keep_internal else []
        df = df.groupBy(*keys).agg(*out, *keep)
    else:
        df = df.select(*keys, *out, *([TS_COL] if keep_internal else []))
    # Avro cells travel as binary through filter/merge (pushdown and
    # max_by never look inside); decode to the logical struct last, on
    # the merged row count. Rowkey dims can be Avro-coded too
    # (AvroSourceKeySuite) — the key groups/merges as binary above.
    for f in rcat.fields.values():
        if f.avro_schema is not None:
            df = df.withColumn(f.col_name, _avro_decode_expr(f))
    values = [f.col_name for f in rcat.value_fields()]
    # HBase rows are their cells: when TTL expired EVERY cell of a key,
    # the row does not exist. Only with TTL, so all-null value rows
    # written by users keep their (row-granular) visibility.
    if ttl and values:
        df = df.filter(_any_live_cell(values))
    # the writer's own catalog reads keys first (rowkey order); another
    # catalog reads in its declared column order
    cols = [f.col_name for f in rcat.fields.values()] if other else rkeys + values
    return df.select(*cols, *([TS_COL] if keep_internal else []))


def read_stream_table(
    spark: SparkSession,
    catalog: str,
    root: str = DEFAULT_ROOT,
    starting_offsets: str = "earliest",
    keep_internal: bool = False,
    include_deletes: bool = False,
) -> DataFrame:
    """Streaming read over an shc table: every append generation's
    rows arrive as a micro-batch (ShcStreamReader tails the region
    list). Rows are RAW versions — merge-to-latest across an unbounded
    stream is a stateful downstream choice, e.g. applyInPandasWithState
    keyed on the rowkey columns. ``include_deletes`` surfaces tombstone
    rows with a ``__del`` marker (change-data-feed contract)."""
    from shc_spark.sources.shc_source import DEL_COL

    register(spark)
    cat = parse_catalog(catalog)
    reader = (
        spark.readStream.format("shc")
        .option("catalog", catalog)
        .option("root", root)
        .option("startingOffsets", starting_offsets)
    )
    if include_deletes:
        reader = reader.option("includeDeletes", "true")
    df = reader.load()
    cols = [f.col_name for f in cat.fields.values()]
    if keep_internal:
        cols += [TS_COL]
    if include_deletes:
        cols += [DEL_COL]
    for f in cat.fields.values():
        if f.avro_schema is not None:
            df = df.withColumn(f.col_name, _avro_decode_expr(f))
    return df.select(*cols)


def scan_aggregate(
    spark: SparkSession,
    catalog: str,
    group_by: list[str],
    aggs: list[tuple[str, str]],
    root: str = DEFAULT_ROOT,
    key_ranges: list | None = None,
    reader_options: dict | None = None,
) -> DataFrame:
    """Coprocessor-style aggregation scan (the HBase AggregationClient
    / AggregateImplementation analog — beyond the reference, which
    ships every row to Spark and aggregates there).

    Each scan partition aggregates its rows down to one partial row
    per group INSIDE the source (arrow kernels, after the LSM
    latest-wins merge), so only ``#partitions x #groups`` partial rows
    cross the source boundary; the finalizing groupBy here shuffles
    kilobytes.

    Honest scale note (SCALE.md "aggregate scan"): in THIS embedded
    backend the source and the executor share a process, so shrinking
    the Arrow bridge saves an in-process pipe, not a network hop —
    measured as a wash-to-slight-loss vs ``read_table().groupBy()``
    (the JVM's map-side combine already bounds that shuffle). The
    operator is the API + execution shape for a remote region
    transport (SURVEY §7.0 Backend B), where rows genuinely never
    leave the storage node — and for low-cardinality groups only:
    high-cardinality groups make partials ~ rows, prefer the plain
    groupBy there.

    ``aggs``: ``(fn, col)`` with fn in count/sum/min/max/avg;
    ``("count", "*")`` counts rows. Output columns: the group columns
    plus ``count_all`` / ``{fn}_{col}`` / ``avg_{col}`` — AVG follows
    SQL null semantics (sum over count of NON-NULL values).

    ``key_ranges``: inclusive (lo, hi) logical ranges on the leading
    rowkey dimension, as in ``read_table`` — regions outside them are
    never opened. Engine-pushed filters on GROUP columns still prune
    on top (a filter on a grouping column pushes below the aggregate).

    TTL tables and cross-catalog reads are not supported — use
    ``read_table(...).groupBy(...)`` for those.
    """
    from shc_spark.sources.shc_source import agg_out_name

    register(spark)
    cat = parse_catalog(catalog)
    stored, wcat, regions = table_state(table_path(root, cat))
    if stored is not None and not _same_catalog(stored, catalog):
        raise ValueError(
            "scan_aggregate requires the stored catalog; cross-catalog "
            "aggregate scans are not supported"
        )
    if (wcat or cat).ttl:
        raise ValueError(
            "scan_aggregate does not support TTL tables (expiry must "
            "null cells before aggregation); use read_table().groupBy()"
        )

    # expand avg -> sum + count partials; dedupe physical partials
    phys: list[tuple[str, str]] = []
    avgs: list[str] = []
    requested: list[str] = []
    for fn, col in aggs:
        if fn == "avg":
            for p in (("sum", col), ("count", col)):
                if p not in phys:
                    phys.append(p)
            avgs.append(col)
            requested.append(f"avg_{col}")
        else:
            if (fn, col) not in phys:
                phys.append((fn, col))
            requested.append(agg_out_name(fn, col))

    spec = json.dumps({"groupBy": list(group_by), "aggs": [list(p) for p in phys]})
    reader = (
        spark.read.format("shc")
        .option("catalog", catalog)
        .option("root", root)
        .option("aggregate", spec)
    )
    if not merge_is_noop(regions):
        # overlapping generations / tombstones: aggregate AFTER the
        # in-source latest-wins merge (disjoint sub-ranges, so the
        # per-partition merge is complete)
        reader = reader.option("merge", "latest")
    if key_ranges:
        reader = reader.option(
            "keyranges", json.dumps([[lo, hi] for lo, hi in key_ranges])
        )
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    df = reader.load()

    combine = []
    for fn, col in phys:
        name = agg_out_name(fn, col)
        merge_fn = F.sum if fn in ("count", "sum") else (F.min if fn == "min" else F.max)
        expr = merge_fn(F.col(name))
        if fn == "count":
            expr = F.coalesce(expr, F.lit(0))  # COUNT over empty is 0, not null
        combine.append(expr.alias(name))
    out = df.groupBy(*group_by).agg(*combine) if group_by else df.agg(*combine)
    for col in avgs:
        out = out.withColumn(
            f"avg_{col}",
            F.when(
                F.col(f"count_{col}") > 0,
                F.col(f"sum_{col}") / F.col(f"count_{col}"),
            ),
        )
    return out.select(*group_by, *requested)


def _multi_get(spark: SparkSession, opts: dict, key: str, keys: list) -> DataFrame | None:
    """Client-side multi-Get: the shc reader, built from the scan
    options ``opts``, plans the point partitions of ``keys`` (values of
    the leading writer key ``key``) and reads them here in the driver —
    no Spark job, no Python planner or worker round trip. The rows
    become a local relation with the scan's schema. Returns None, for
    the caller to scan with Spark, when the planned partitions may hold
    more than ``io.DRIVER_GET_MAX_ROWS`` rows."""
    from pyspark.sql.datasource import In
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.readwriter import to_str

    keys = [k for k in keys if k is not None]
    # as Spark hands options to a data source: lowercased keys, strings
    reader = ShcReader(None, {k.lower(): to_str(v) for k, v in opts.items()})
    list(reader.pushFilters([In((key,), tuple(keys))]))
    if any(r.start is None and r.end is None for r in reader.hrf.ranges):
        # an Avro-coded key has no byte encoding: this would read the table
        raise ValueError(
            f"bulk_get: the keys of rowkey {key!r} have no byte encoding to look up; "
            "use read_table(...).filter(F.col(key).isin(keys))"
        )
    schema = internal_schema(reader.cat, reader.include_deletes)
    # ranges of a composite key's var-length leading dim are supersets
    wanted = pa.array(keys, to_arrow_schema(schema).field(key).type)
    parts = reader.partitions()
    if reader.max_rows(parts) > shc_io.DRIVER_GET_MAX_ROWS:
        return None
    batches = [b.filter(pc.is_in(b.column(key), value_set=wanted))
               for p in parts for b in reader.read(p)]
    # createDataFrame loses the rows after two empty chunks in a row
    batches = [b for b in batches if len(b)]
    return spark.createDataFrame(pa.Table.from_batches(batches, to_arrow_schema(schema)), schema)


def _key_values(keys: list, dt: T.DataType) -> list | None:
    """``keys`` as Python values of the key type ``dt`` (numpy scalars
    unwrapped), or None when a key is not such a value (1.5 or "5" for
    a bigint key): what that key matches is up to Spark's casts."""
    out = []
    for v in keys:
        try:
            c = _coerce(v, dt)
            if v is not None and not bool(c == v):
                return None
        except (TypeError, ValueError):
            return None
        out.append(c)
    return out


def bulk_get(
    spark: SparkSession,
    catalog: str,
    keys: list,
    root: str = DEFAULT_ROOT,
    **read_opts,
) -> DataFrame:
    """BulkGet (S11, HBaseTableScan.scala:424-447): the rows of a list
    of leading-dimension key values, as a client-side multi-Get. The
    keys become point ranges, and only the region files and row groups
    holding them are read — in the driver, with no Spark job and no
    Python worker. The rows form a local relation, and ``read_table``'s
    pipeline (``read_opts``: time range, versions, TTL, other catalogs)
    runs on it. The reference sends its Gets in batches of
    ``bulkGetSize``; here a get whose planned partitions may hold more
    than ``io.DRIVER_GET_MAX_ROWS`` rows runs as a Spark scan instead, as
    does a get with a key that is not a value of the key type (1.5 for
    a bigint key).

    A get read in the driver is a snapshot at call time, like an HBase
    ``Result``: a write after the call is not visible in the returned
    DataFrame. A leading dimension with no byte coder (an Avro-coded
    key) raises ValueError; use
    ``read_table(...).filter(F.col(key).isin(keys))`` there."""
    return _read_table(spark, catalog, parse_catalog(catalog), list(keys), root=root, **read_opts)


def write_stream_table(
    stream_df: DataFrame,
    catalog: str,
    root: str = DEFAULT_ROOT,
    checkpoint: str | None = None,
    ts_col: str | None = None,
):
    """First-class streaming SINK: ``df.writeStream.format("shc")``
    through the Python Data Source API (exactly-once manifest commit
    per micro-batch, ShcStreamWriter). Returns the started
    StreamingQuery.

    Cell versions: ``ts_col`` (timestamp or epoch-millis long) stamps
    ``__ts`` per row — event-time versions, deterministic under batch
    retry; without it, rows get the query-start wall clock, matching
    HBase's server-side Put timestamping for a continuously writing
    stream. (Reference write path: HBaseRelation.scala:182-267.)"""
    spark = stream_df.sparkSession
    cat = parse_catalog(catalog)
    register(spark)
    encode, key_names = _rowkey_encoder(cat)
    keep = [f.col_name for f in cat.fields.values()]
    if ts_col is not None and ts_col not in keep:
        keep = keep + [ts_col]  # version stamp may be a non-catalog column
    out = stream_df.select(keep)
    for f in cat.fields.values():
        if f.avro_schema is not None:
            out = out.withColumn(f.col_name, _avro_encode_udf(f)(F.col(f.col_name)))
    out = out.withColumn(ROWKEY_COL, encode(*[F.col(k) for k in key_names]))
    if ts_col is not None:
        src = stream_df.schema[ts_col].dataType
        ts_expr = (
            F.unix_millis(F.col(ts_col))
            if isinstance(src, (T.TimestampType, T.TimestampNTZType))
            else F.col(ts_col).cast("long")
        )
    else:
        ts_expr = F.lit(int(time.time() * 1000))
    out = out.withColumn(TS_COL, ts_expr.cast("long"))
    if ts_col is not None and ts_col not in {f.col_name for f in cat.fields.values()}:
        out = out.drop(ts_col)  # consumed into __ts, not a stored cell
    writer = (
        out.writeStream.format("shc")
        .option("catalog", catalog)
        .option("root", root)
        .outputMode("append")
    )
    # Manifest-commit idempotence is scoped to (txnid, batchId) — see
    # ShcStreamWriter. A named checkpoint resumes its txn (restart
    # replaces its own batches); no checkpoint means a TEMP checkpoint
    # whose batchIds restart at 0 every run, so each run gets a fresh
    # txn and can never clobber a previous run's committed batches.
    if checkpoint:
        txnid = os.path.abspath(checkpoint)
        writer = writer.option("checkpointLocation", checkpoint)
    else:
        txnid = uuid.uuid4().hex
    writer = writer.option("txnid", txnid)
    return writer.start()


def write_stream_cdc(
    stream_df: DataFrame,
    catalog: str,
    op_col: str = "op",
    root: str = DEFAULT_ROOT,
    checkpoint: str | None = None,
    ts_col: str | None = None,
):
    """Streaming CDC SINK: drain a change feed (op I/U/D) into an shc
    table — upserts as puts, deletes as tombstone rows — through the
    exactly-once streaming sink (manifest commit per (txn, batchId), a
    restarted micro-batch replaces its own output). The streaming twin
    of ``apply_cdc``; version semantics are identical (latest ``__ts``
    wins, a tombstone masks <= its ts, a later put resurrects), so
    per-row ``ts_col`` event time makes multi-op keys order correctly
    across micro-batches. Returns the started StreamingQuery."""
    from shc_spark.sources.shc_source import DEL_COL

    spark = stream_df.sparkSession
    cat = parse_catalog(catalog)
    register(spark)
    encode, key_names = _rowkey_encoder(cat)
    ops = _validated_cdc_op(op_col, "write_stream_cdc")
    if ts_col is not None:
        src_dt = stream_df.schema[ts_col].dataType
        ts_expr = (
            F.unix_millis(F.col(ts_col))
            if isinstance(src_dt, (T.TimestampType, T.TimestampNTZType))
            else F.col(ts_col).cast("long")
        )
    else:
        ts_expr = F.lit(int(time.time() * 1000))
    cols = [f.col_name for f in cat.fields.values()]
    ups = stream_df.filter(ops.isin("I", "U")).select(
        *cols, ts_expr.alias("__cdc_ts")
    )
    dels = (
        stream_df.filter(ops == "D")
        .select(*key_names, ts_expr.alias("__cdc_ts"))
        .withColumn(DEL_COL, F.lit(1).cast("tinyint"))
    )
    for f in cat.fields.values():
        if f.avro_schema is not None:
            ups = ups.withColumn(f.col_name, _avro_encode_udf(f)(F.col(f.col_name)))
    out = ups.unionByName(dels, allowMissingColumns=True)
    out = (
        out.withColumn(ROWKEY_COL, encode(*[F.col(k) for k in key_names]))
        .withColumn(TS_COL, F.col("__cdc_ts").cast("long"))
        .drop("__cdc_ts")
    )
    writer = (
        out.writeStream.format("shc")
        .option("catalog", catalog)
        .option("root", root)
        .outputMode("append")
    )
    if checkpoint:
        txnid = os.path.abspath(checkpoint)
        writer = writer.option("checkpointLocation", checkpoint)
    else:
        txnid = uuid.uuid4().hex
    writer = writer.option("txnid", txnid)
    return writer.start()


def compact_table(
    spark: SparkSession,
    catalog: str,
    root: str = DEFAULT_ROOT,
    num_regions: int = 8,
    max_versions: int | None = None,
    min_stamp: int | None = None,
    apply_ttl: bool = False,
    ttl_now_ms: int | None = None,
) -> None:
    """MAJOR COMPACTION — the HBase operation the LSM layout calls
    for: rewrite every generation into one, so merge-reads degenerate
    back to single-file scans (appends re-accumulate from a clean
    base). With ``max_versions``, retention is applied during the
    rewrite: only the newest N ROW versions per rowkey survive
    (dense_rank over ``__ts`` — ties share a rank), the compaction
    analog of HBase's per-family VERSIONS attribute. Note the
    granularity divergence: HBase retains per CELL; this backend's
    version unit is the written row (PARITY.md S14), so a column whose
    only non-null value lives in a dropped older row version is
    dropped with it — same as deleting those HBase cells.

    Tombstones are PURGED: versions masked by a delete and the delete
    markers themselves do not survive the rewrite (HBase major
    compaction's delete lifecycle).

    Mechanics: one read of the raw internal rows (all generations, no
    merge), range-repartition on the encoded rowkey, per-partition
    sort (key asc, ts desc), and an OVERWRITE write through the normal
    sink — its commit swaps the manifest atomically and vacuums the
    old generation dirs. The source files outlive the tasks that read
    them (commit runs last), so the table stays readable throughout.
    The STORED writer catalog drives the rewrite — a table appended
    through several narrower catalogs compacts every reachable column.
    """
    import os

    from shc_spark.sources.shc_source import table_path

    register(spark)
    cat = parse_catalog(catalog)
    path = table_path(root, cat)
    stored_p = os.path.join(path, "_catalog.json")
    with open(stored_p) as fh:
        stored_cat = fh.read()

    from shc_spark.sources.shc_source import DEL_COL

    df = (
        spark.read.format("shc")
        .option("catalog", stored_cat)
        .option("root", root)
        .option("includeDeletes", "true")
        .load()
    )
    # purge deletes (major-compaction semantics): drop every row
    # version masked by a same-key tombstone (ts <= tombstone ts) and
    # the tombstones themselves — after the rewrite the table carries
    # no delete metadata at all
    from pyspark.sql import Window as _W

    tomb_ts = F.max(
        F.when(F.col(DEL_COL) == 1, F.col(TS_COL))
    ).over(_W.partitionBy(ROWKEY_COL))
    df = (
        df.withColumn("__tomb", tomb_ts)
        .filter(
            (F.col(DEL_COL).isNull() | (F.col(DEL_COL) != 1))
            & (F.col("__tomb").isNull() | (F.col(TS_COL) > F.col("__tomb")))
        )
        .drop(DEL_COL, "__tomb")
    )
    if min_stamp is not None:
        # global retention horizon: versions older than the horizon are
        # dropped outright — a key whose every version is expired
        # disappears entirely
        df = df.filter(F.col(TS_COL) >= min_stamp)
    if apply_ttl:
        # per-family TTL purge (HBase major compaction physically
        # removes expired cells): null each expiring family's cells
        # past its horizon, then drop row versions with no live cell
        # left. Matches read_table's TTL visibility, made durable.
        scat = parse_catalog(stored_cat)
        if scat.ttl:
            now = ttl_now_ms if ttl_now_ms is not None else int(time.time() * 1000)
            vfs = [f for f in scat.fields.values() if not f.is_rowkey]
            for f in vfs:
                if f.cf in scat.ttl:
                    cut = now - int(scat.ttl[f.cf]) * 1000
                    df = df.withColumn(
                        f.col_name,
                        F.when(F.col(TS_COL) >= cut, F.col(f.col_name)),
                    )
            if vfs:
                df = df.filter(_any_live_cell([f.col_name for f in vfs]))
    if max_versions is not None:
        if max_versions < 1:
            raise ValueError("max_versions must be >= 1")
        from pyspark.sql import Window as W

        w = W.partitionBy(ROWKEY_COL).orderBy(F.desc(TS_COL))
        df = (
            df.withColumn("__rank", F.dense_rank().over(w))
            .filter(F.col("__rank") <= max_versions)
            .drop("__rank")
        )
    (
        df.repartitionByRange(num_regions, F.col(ROWKEY_COL))
        .sortWithinPartitions(F.col(ROWKEY_COL), F.col(TS_COL).desc())
        .write.format("shc")
        .mode("overwrite")
        .option("catalog", stored_cat)
        .option("root", root)
        .save()
    )


def delete_rows(
    spark: SparkSession,
    catalog: str,
    keys,
    root: str = DEFAULT_ROOT,
    timestamp: int | None = None,
) -> None:
    """HBase Delete analog: append a TOMBSTONE generation. A tombstone
    at ts T masks every version of its row with ts <= T on
    merge-to-latest reads; a later put (ts > T) resurrects the row.
    Physical removal happens at the next ``compact_table`` (major
    compaction purges masked versions and the tombstones themselves),
    exactly HBase's delete lifecycle.

    ``keys``: a DataFrame carrying the rowkey columns, or a plain list
    of values for single-dimension keys. Version-exploded and
    time-travel reads hide the tombstone rows but still show older
    versions until compaction — HBase's KEEP_DELETED_CELLS=true
    behavior; only plain merge reads apply full masking (PARITY.md
    S14)."""
    from shc_spark.sources.shc_source import DEL_COL

    cat = parse_catalog(catalog)
    register(spark)
    encode, key_names = _rowkey_encoder(cat)
    if isinstance(keys, DataFrame):
        kdf = keys.select(*key_names)
    else:
        if len(key_names) != 1:
            raise ValueError("list-form keys require a single-dimension rowkey")
        kf = cat.fields[key_names[0]]
        kdf = spark.createDataFrame(
            [(k,) for k in keys], T.StructType([kf.spark_field()])
        )
    ts = timestamp if timestamp is not None else int(time.time() * 1000)
    out = (
        kdf.withColumn(ROWKEY_COL, encode(*[F.col(k) for k in key_names]))
        .withColumn(TS_COL, F.lit(ts).cast("long"))
        .withColumn(DEL_COL, F.lit(1).cast("tinyint"))
        .sortWithinPartitions(ROWKEY_COL)
    )
    (
        out.write.format("shc")
        .mode("append")
        .option("catalog", catalog)
        .option("root", root)
        .save()
    )


def _validated_cdc_op(op_col: str, where: str):
    """Uppercased op column that RAISES at evaluation time on any op
    outside I/U/D — validation rides inside the single write pass (no
    separate scan of the feed, works in streaming plans where a
    collect()-based pre-check cannot), so a typo'd op code fails the
    job instead of silently dropping the row."""
    ops = F.upper(F.col(op_col))
    return F.when(ops.isin("I", "U", "D"), ops).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{where}: unknown op "),
                F.coalesce(F.col(op_col).cast("string"), F.lit("NULL")),
                F.lit(" (want I/U/D)"),
            )
        )
    )


def apply_cdc(
    spark: SparkSession,
    catalog: str,
    feed: DataFrame,
    op_col: str = "op",
    root: str = DEFAULT_ROOT,
    timestamp: int | None = None,
    ts_col: str | None = None,
) -> None:
    """Apply a CDC change feed as ONE appended generation: rows with
    ``op_col`` in (I, U) upsert (HBase Put), rows with D become
    tombstones (Delete) — the standard downstream of a Debezium-style
    feed, and the batch twin of the streaming CDC sink. Feed columns:
    the catalog's columns (key columns mandatory; value columns may be
    null/absent for deletes) + ``op_col`` + optional ``ts_col``
    (event-time version stamp per row; otherwise ``timestamp`` or the
    wall clock stamps the whole batch).

    Order semantics are HBase's, not the feed's: versions resolve by
    ``__ts`` (latest wins; a tombstone at ts T masks everything at
    <= T until a newer put). Feeds carrying multiple ops per key in
    one batch must carry per-row ``ts_col`` to be ordered."""
    from shc_spark.sources.shc_source import DEL_COL

    cat = parse_catalog(catalog)
    register(spark)
    encode, key_names = _rowkey_encoder(cat)
    ops = _validated_cdc_op(op_col, "apply_cdc")
    ts = timestamp if timestamp is not None else int(time.time() * 1000)
    if ts_col is not None:
        src_dt = feed.schema[ts_col].dataType
        ts_expr = (
            F.unix_millis(F.col(ts_col))
            if isinstance(src_dt, (T.TimestampType, T.TimestampNTZType))
            else F.col(ts_col).cast("long")
        )
    else:
        ts_expr = F.lit(ts)
    cols = [f.col_name for f in cat.fields.values()]
    ups = feed.filter(ops.isin("I", "U")).select(*cols, ts_expr.alias("__cdc_ts"))
    dels = (
        feed.filter(ops == "D")
        .select(*key_names, ts_expr.alias("__cdc_ts"))
        .withColumn(DEL_COL, F.lit(1).cast("tinyint"))
    )
    for f in cat.fields.values():
        if f.avro_schema is not None:
            ups = ups.withColumn(f.col_name, _avro_encode_udf(f)(F.col(f.col_name)))
    out = ups.unionByName(dels, allowMissingColumns=True)
    out = (
        out.withColumn(ROWKEY_COL, encode(*[F.col(k) for k in key_names]))
        .withColumn(TS_COL, F.col("__cdc_ts").cast("long"))
        .drop("__cdc_ts")
        .sortWithinPartitions(ROWKEY_COL)
    )
    (
        out.write.format("shc")
        .mode("append")
        .option("catalog", catalog)
        .option("root", root)
        .save()
    )


def count_rows(
    spark: SparkSession,
    catalog: str,
    root: str = DEFAULT_ROOT,
) -> int:
    """Logical (merged) row count of an shc table. When the region
    metadata proves one version per key (every generation unique,
    region ranges pairwise disjoint — the bulk-loaded case), the count
    is the SUM OF RECORDED REGION ROW COUNTS: a metadata read, zero
    data scanned — counting a 100 TB table costs one small JSON file.
    Appended/deleted tables fall back to the distributed merge-read
    count (still one job, no collect)."""
    cat = parse_catalog(catalog)
    _, wcat, regions = table_state(table_path(root, cat))
    has_ttl = bool((wcat or cat).ttl)
    if merge_is_noop(regions) and not has_ttl:
        # A single-generation table can still carry tombstones (a CDC
        # feed of inserts + deletes over disjoint unique keys passes
        # merge_is_noop): recorded region row counts INCLUDE the
        # tombstone rows, which are not live — only the tombstone-free
        # (and TTL-free: expiry is evaluated at read time) case may
        # answer from metadata.
        if not any(r.get("tombstones") for r in regions):
            return sum(int(r.get("rows", 0)) for r in regions)
    return read_table(spark, catalog, root=root).count()


def vacuum_table(
    catalog: str,
    root: str = DEFAULT_ROOT,
    grace_seconds: float = 3600.0,
) -> list:
    """Manifest-driven GC (the Delta VACUUM analog): delete region
    files under the table dir that are NOT referenced by
    `_regions.json` and are older than ``grace_seconds``. Unreferenced
    files exist when a writer task staged output but its commit never
    ran (crashed batch write, aborted streaming micro-batch attempt) —
    readers never see them (partition planning is manifest-driven),
    they just hold disk. The grace period keeps in-flight writes safe:
    a staging file younger than it may belong to an uncommitted batch
    that is still going to commit. Returns the deleted paths."""
    import os
    import time as _time

    from shc_spark.sources.shc_source import _load_regions, table_path

    cat = parse_catalog(catalog)
    path = table_path(root, cat)
    # A table dir with staged files but no committed manifest yet is a
    # legitimate in-flight first write: treat the live set as empty and
    # let the grace period protect the staged files.
    try:
        live = {os.path.realpath(r["path"]) for r in _load_regions(path)}
    except FileNotFoundError:
        live = set()
    cutoff = _time.time() - grace_seconds
    deleted = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("gen="):
            continue
        gen_dir = os.path.join(path, entry)
        for fname in sorted(os.listdir(gen_dir)):
            fp = os.path.join(gen_dir, fname)
            if os.path.realpath(fp) in live:
                continue
            if os.path.getmtime(fp) > cutoff:
                continue
            os.remove(fp)
            deleted.append(fp)
        # The grace period applies to the DIRECTORY too: a just-created
        # staging dir of an in-flight write/stream task may not have
        # its first region file yet — rmdir'ing it would fail that
        # task's ParquetWriter open.
        if not os.listdir(gen_dir) and os.path.getmtime(gen_dir) <= cutoff:
            os.rmdir(gen_dir)
    return deleted


def export_snapshot(
    spark: SparkSession,
    catalog: str,
    dest: str,
    root: str = DEFAULT_ROOT,
    merged: bool = True,
) -> None:
    """ExportSnapshot analog: materialize the table as PLAIN parquet
    at ``dest`` for consumers outside this engine (the interop escape
    hatch every storage system needs). ``merged=True`` exports the
    logical latest view; ``merged=False`` exports raw version rows
    with ``__ts`` so a re-import preserves history."""
    df = read_table(
        spark, catalog, root=root, merge_to_latest=merged, keep_internal=not merged
    )
    df.write.mode("overwrite").parquet(dest)


def import_snapshot(
    spark: SparkSession,
    catalog: str,
    src: str,
    root: str = DEFAULT_ROOT,
    num_regions: int = 8,
    mode: str = "overwrite",
    max_generations: int = 10000,
) -> None:
    """Inverse of export_snapshot: load plain parquet (with or without
    a preserved ``__ts`` column) into an shc table. Versioned exports
    replay each distinct ``__ts`` as its own generation so time-travel
    and version-exploded reads survive the roundtrip."""
    df = spark.read.parquet(src)
    if TS_COL in df.columns:
        # bounded collect: the distinct-timestamp count equals the
        # version-generation count (small by construction), but guard
        # it with the repo's limit(n+1)-and-raise pattern anyway — a
        # per-row timestamp column in a foreign export would otherwise
        # pull every distinct value to the driver
        rows = df.select(TS_COL).distinct().limit(max_generations + 1).collect()
        if len(rows) > max_generations:
            raise ValueError(
                f"import_snapshot: more than {max_generations} distinct "
                f"{TS_COL} generations — this export looks like per-row "
                "timestamps, not version history; import it without "
                f"{TS_COL} or raise max_generations"
            )
        stamps = sorted(r[0] for r in rows)
        first = mode
        for ts in stamps:
            write_table(
                df.filter(F.col(TS_COL) == ts).drop(TS_COL),
                catalog,
                root=root,
                num_regions=num_regions if first == "overwrite" else None,
                timestamp=int(ts),
                mode=first,
            )
            first = "append"
    else:
        write_table(df, catalog, root=root, num_regions=num_regions, mode=mode)


def merge_into(
    spark: SparkSession,
    catalog: str,
    updates: DataFrame,
    root: str = DEFAULT_ROOT,
    delete_col: str | None = None,
    timestamp: int | None = None,
) -> None:
    """MERGE INTO analog (one call, upserts + deletes): rows where
    ``delete_col`` is true become tombstones, every other row is an
    upsert (latest-wins per cell on read — unchanged columns can be
    passed as NULL, "nulls are not stored"). History stays queryable
    through version-exploded / time-travel reads until compaction —
    SCD2-style auditing falls out of the storage model instead of
    being emulated with anti-join + union.

    Guide provenance: "CDC / SCD2 -> MERGE INTO (needs Delta; in v1
    emulate with anti-join + union + window)" — here the LSM layout
    gives the real thing: an upsert is an append generation, a delete
    is a tombstone, both stamped with the same ``timestamp``."""
    ts = timestamp if timestamp is not None else int(time.time() * 1000)
    cat = parse_catalog(catalog)
    key_names = [k.col_name for k in cat.rowkey_fields()]
    if delete_col is not None and delete_col in updates.columns:
        dels = updates.filter(F.col(delete_col)).select(*key_names)
        ups = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        dels, ups = None, updates
    if not ups.isEmpty():
        write_table(ups, catalog, root=root, mode="append", timestamp=ts)
    if dels is not None and not dels.isEmpty():
        delete_rows(spark, catalog, dels, root=root, timestamp=ts)


def diff_tables(
    spark: SparkSession,
    catalog: str,
    root_a: str,
    root_b: str,
    **read_opts,
) -> DataFrame:
    """Snapshot diff of two shc tables under the same catalog: one row
    per key that differs, with change in ('insert', 'delete',
    'update') describing how B differs from A (the batch complement of
    the streaming change-data feed — compare an imported snapshot, a
    replica, or two points in time). Reads are ordinary merged reads
    (all pushdown/pruning applies); the comparison is one full outer
    join on the key columns with a codegen'd any-column inequality —
    at 100 TB both sides arrive key-sorted from the source, so the
    join is the unavoidable one shuffle.

    Output: key columns + change + per-side structs a/b holding the
    value columns (null on the missing side)."""
    from shc_spark.catalog import parse_catalog

    cat = parse_catalog(catalog)
    keys = [f.col_name for f in cat.rowkey_fields()]
    vals = [f.col_name for f in cat.value_fields()]
    a = read_table(spark, catalog, root=root_a, **read_opts)
    b = read_table(spark, catalog, root=root_b, **read_opts)
    sa = a.select(*keys, F.struct(*vals).alias("a"))
    sb = b.select(*keys, F.struct(*vals).alias("b"))
    j = sa.join(sb, keys, "full_outer")
    change = (
        F.when(F.col("b").isNull(), "delete")
        .when(F.col("a").isNull(), "insert")
        # null-safe: a plain != returns NULL when a field inside the
        # struct is NULL on one side, silently dropping real updates
        # that set a column to NULL (or vice versa)
        .when(~F.col("a").eqNullSafe(F.col("b")), "update")
    )
    return j.withColumn("change", change).filter(F.col("change").isNotNull())
