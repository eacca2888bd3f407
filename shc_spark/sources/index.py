"""Secondary indexes over shc tables — the Phoenix pattern.

HBase itself has no secondary indexes; Apache Phoenix (whose type
system the ``PhoenixType`` coder mirrors, reference
`types/Phoenix.scala`) implements them as a DERIVED TABLE keyed by
(indexed value, base rowkey), maintained alongside the base table and
consulted for predicates the base rowkey can't prune. This module
re-expresses that design on this backend:

- the index IS an shc table: rowkey = ``(ixv, *base key dims)`` with
  the ``PhoenixType`` coder (NUL-separated var-length dims — exactly
  the reason Phoenix's encoding has separators), so every existing
  mechanism applies unchanged: pushdown prunes on the indexed value
  (first dim), regions pre-split, generations append;
- ``build()`` snapshots the merged-latest base projection (one scan,
  range-repartitioned write);
- ``refresh()`` tails base APPEND generations through the shc
  streaming source and appends the new (value, key) pairs —
  incremental maintenance, no base rescan (same machinery as
  IncrementalRollup.refresh);
- ``lookup()/lookup_range()`` scan the index with the predicate
  pushed to the first dim, collect the matching base keys (the
  multi-Get pattern — an index lookup is selective by construction,
  bulkGetSize analog), bulk_get the base rows, and RE-CHECK the
  predicate on them. The recheck makes stale index entries (a row
  whose indexed value changed in a newer version) harmless: they
  surface extra candidate keys, never wrong rows — the standard
  false-positive contract of an eventually-maintained index.

At 100 TB: the index table is |base| rows of (value, key) — a
fraction of base width; lookups open only the index regions whose
first-dim range matches, then only the base regions holding the
candidate keys.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shc_spark.catalog import parse_catalog


class SecondaryIndex:
    def __init__(
        self, spark: SparkSession, catalog: str, col, root: str = "/tmp/shc_tables"
    ) -> None:
        """``col``: one column name, or a LIST for a composite index —
        rowkey = (col1, col2, ..., *base key dims); lookups prune on
        the leading column, equality on later ones re-filters above
        the scan (the same first-dim-prunes contract as any composite
        rowkey, CompositeKeySuite semantics)."""
        self.spark = spark
        self.base_catalog = catalog
        self.root = root
        self.cols = [col] if isinstance(col, str) else list(col)
        self.col = self.cols[0]
        base = parse_catalog(catalog)
        base_params = json.loads(catalog) if isinstance(catalog, str) else catalog
        cols = {}
        rowkey_dims = []
        for j, c in enumerate(self.cols):
            field = base.fields[c]
            if field.is_rowkey:
                raise ValueError(f"{c} is a rowkey dimension; the base table prunes it already")
            cols[c] = {"cf": "rowkey", "col": f"ixv{j}", "type": field.type_str}
            rowkey_dims.append(f"ixv{j}")
        key_fields = base.rowkey_fields()
        for i, kf in enumerate(key_fields):
            spec = dict(base_params["columns"][kf.col_name])
            spec["cf"] = "rowkey"
            spec["col"] = f"k{i}"
            cols[kf.col_name] = spec
            rowkey_dims.append(f"k{i}")
        tag = "_".join(self.cols)
        self.index_catalog = json.dumps(
            {
                "table": {
                    "namespace": base.namespace,
                    "name": f"{base.name}__ix_{tag}",
                    "tableCoder": "PhoenixType",
                    "version": "2.0",
                },
                "rowkey": ":".join(rowkey_dims),
                "columns": cols,
            }
        )
        self.key_names = [kf.col_name for kf in key_fields]
        self._ckpt = os.path.join(
            root, f"{base.namespace}.{base.name}__ix_{tag}__checkpoint"
        )
        # Driver-side key materialization cap for _fetch: at most this
        # many base keys are ever collected to drive bulk_get; a wider
        # match set switches to a distributed semi-join instead (the
        # driver never holds an unbounded key list).
        self.max_fetch_keys = 10_000

    # -- maintenance -----------------------------------------------------
    def build(self, num_regions: int = 8) -> None:
        """Snapshot index: one merged-latest scan of the base table."""
        from shc_spark.sources import read_table, write_table

        base = read_table(self.spark, self.base_catalog, root=self.root)
        proj = base.select(*self.cols, *self.key_names)
        write_table(
            proj, self.index_catalog, root=self.root, num_regions=num_regions, mode="overwrite"
        )

    def refresh(self) -> None:
        """Fold base generations appended since the last refresh (or
        build) into the index — no base rescan. First call after
        ``build()`` replays the whole table once (offsets start at
        earliest); subsequent calls read only new generations. Stale
        entries from updated rows are tolerated by the lookup recheck."""
        from shc_spark.sources import read_stream_table, write_table

        stream = read_stream_table(self.spark, self.base_catalog, root=self.root)

        def fold(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            write_table(
                batch_df.select(*self.cols, *self.key_names),
                self.index_catalog,
                root=self.root,
                mode="append",
                timestamp=batch_id,
            )

        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", self._ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # -- query -----------------------------------------------------------
    def _fetch(self, idx: DataFrame) -> DataFrame:
        from shc_spark.sources import bulk_get, read_table

        first = self.key_names[0]
        keys_df = idx.select(first).distinct()
        # Selective lookups (the multi-Get pattern): materialize the
        # key set and drive bulk_get with row-group skipping. The
        # collect is CAPPED — limit(n+1) proves whether the set fits
        # without ever pulling more than n+1 keys to the driver.
        keys = [r[0] for r in keys_df.limit(self.max_fetch_keys + 1).collect()]
        if len(keys) > self.max_fetch_keys:
            # Wide range: distributed left-semi join of the base scan
            # against the index keys — AQE broadcasts when the key set
            # is small enough, shuffles otherwise. No driver-side
            # materialization at any width.
            base = read_table(self.spark, self.base_catalog, root=self.root)
            return base.join(keys_df, on=first, how="leftsemi")
        return bulk_get(self.spark, self.base_catalog, keys, root=self.root)

    def lookup(self, value, *more) -> DataFrame:
        """Base rows where the leading index column(s) equal the given
        value(s), resolved via the index (leading column prunes, the
        rest re-filter)."""
        from shc_spark.sources import read_table

        vals = (value, *more)
        cond = F.lit(True)
        for c, v in zip(self.cols, vals):
            cond = cond & (F.col(c) == v)
        idx = read_table(self.spark, self.index_catalog, root=self.root).filter(cond)
        return self._fetch(idx).filter(cond)

    def lookup_range(self, lo=None, hi=None) -> DataFrame:
        """Base rows where ``lo <= col < hi`` (either bound optional)."""
        from shc_spark.sources import read_table

        idx = read_table(self.spark, self.index_catalog, root=self.root)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(self.col) >= lo)
        if hi is not None:
            cond = cond & (F.col(self.col) < hi)
        return self._fetch(idx.filter(cond)).filter(cond)
