"""HBase REST (Stargate) transport backend — the Backend B seam, proven.

The reference exists to scan a REMOTE HBase cluster
(HBaseRelation.scala:71-75 -> HBase RPC, HBaseTableScan.scala:454-494).
This environment has no HBase server, so the transport seam is
exercised against an in-repo mock that speaks the PUBLIC HBase REST
(Stargate) protocol shapes — the scanner API documented in the HBase
book (#_rest): base64 row keys / "cf:qual" column names / cell values
in the JSON bodies, ``POST /{table}/scanner`` with startRow/endRow ->
``Location`` header, ``GET <scanner>`` pages of ``{"Row": [{"key",
"Cell": [{"column", "timestamp", "$"}]}]}``, ``204`` on exhaustion,
``DELETE`` to close, ``GET /{table}/{row}`` point lookups.

What this buys beyond the embedded backend:

- **cells travel as coder-encoded BYTES.** The embedded backend stores
  typed parquet columns, so the byte-level cell serde only runs for
  rowkeys and Avro cells; over REST every cell is encoded with the
  catalog's tableCoder server-side and decoded client-side — the full
  HBase wire contract, per cell, per row.
- **the transport is a real network hop** (localhost TCP), so the
  scan-vs-serverside-aggregate tradeoff is MEASURABLE: the mock also
  exposes ``POST /{table}/aggregate`` — the AggregationClient
  coprocessor analog (AggregateImplementation endpoint): partial
  count/sum/min/max computed server-side per region range, so rows
  never cross the wire. SCALE.md records the measured win that
  ``scan_aggregate`` structurally cannot show in-process.

Read semantics: the server serves the MERGED latest view (one cell per
column, tombstones applied) — HBase's default VERSIONS=1 read. Time
travel / version explosion stay embedded-backend features.

The mock is NOT a performance target (JSON + base64 per cell); it is
the protocol-parity and seam-correctness vehicle. A real cluster
would swap the transport URL, not the reader logic.
"""

from __future__ import annotations

import base64
import json
import os
import threading
import uuid

import pyarrow as pa
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from shc_spark.catalog import parse_catalog
from shc_spark.coders import get_coder
from shc_spark.filters import HRF, ScanRange, ranges_and
from shc_spark.sources.shc_source import (
    ROWKEY_COL,
    TS_COL,
    ShcReader,
    _dim_to_key_ranges,
    _load_regions,
    _parse_agg_spec,
    aggregate_partial_schema,
    internal_schema,
    merge_is_noop,
    table_path,
    table_state,
)


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def _unb64(s: str) -> bytes:
    return base64.b64decode(s)


def _encoded_rows(batch, value_fields):
    """(key bytes, ts, {b"cf:qual": cell bytes}) per row of a scanned
    batch — the region-server row shape. Cells encode through the
    catalog coders (an Avro cell already is its blob); null cells are
    absent (HBase: nulls are not stored)."""
    keys = batch.column(ROWKEY_COL).to_pylist()
    tss = batch.column(TS_COL).to_pylist()
    cols = [
        (
            f"{f.cf}:{f.col}".encode(),
            f,
            None if f.avro_schema is not None else get_coder(f.coder),
            batch.column(f.col_name).to_pylist(),
        )
        for f in value_fields
        if f.col_name in batch.schema.names
    ]
    for i, key in enumerate(keys):
        cells = {}
        for name, f, coder, vals in cols:
            v = vals[i]
            if v is not None:
                cells[name] = bytes(v) if coder is None else coder.to_bytes(v, f.dt)
        yield bytes(key), int(tss[i]), cells


# ---------------------------------------------------------------------
# server side
# ---------------------------------------------------------------------


class _TableService:
    """Server-side data access: reuses the embedded reader (merge view,
    range masking, tombstones) and encodes cells with the catalog's
    coder — the role a region server plays for the reference."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._mono: dict = {}  # per-table monotonic mutation stamps

    def _next_ts(self, table: str) -> int:
        """Server-side mutation timestamp: wall clock, FORCED strictly
        monotonic per table — two mutations inside one millisecond must
        not tie on __ts, where the merge's max_by tie-break is
        arbitrary (HBase disambiguates same-ts cells by seqid; the
        monotonic stamp is our equivalent). Callers hold the handler
        lock."""
        import time as _time

        ts = max(int(_time.time() * 1000), self._mono.get(table, 0) + 1)
        self._mono[table] = ts
        return ts

    def _state(self, table: str) -> tuple:
        """(table dir, stored catalog JSON, parsed stored catalog, region
        list) of one table; a table without a stored catalog does not
        exist."""
        import os

        path = os.path.join(self.root, table)
        cat_json, cat, regions = table_state(path)
        if cat_json is None:
            raise FileNotFoundError(os.path.join(path, "_catalog.json"))
        return path, cat_json, cat, regions

    def _reader(self, table: str, ranges: list[ScanRange] | None,
                raw: bool = False) -> tuple:
        _, cat_json, cat, regions = self._state(table)
        opts = {"catalog": cat_json, "root": self.root}
        if not raw and not merge_is_noop(regions):
            opts["merge"] = "latest"
        rdr = ShcReader(None, opts)
        if ranges:
            # scanner startRow/stopRow are PHYSICAL key bytes (HBase
            # Scan semantics) — already salt-prefixed by the client;
            # suppress the reader's own salt expansion so partitions()
            # intersects them against region bounds as-is
            rdr.cat.salt_buckets = 0
            rdr.hrf = HRF(ranges_and(rdr.hrf.ranges, ranges), False)
        return cat, rdr

    def regions(self, table: str) -> list[dict]:
        """DISJOINT key spans covering the table (exclusive ends) —
        the scanner-planning contract. Raw region files can OVERLAP
        after appends (generations), and one scanner per raw region
        would serve duplicate rows; boundary-cutting at every region
        start (the embedded merge-planner's trick) keeps client
        partitions disjoint while the server merges inside each."""
        import os

        regs = _load_regions(os.path.join(self.root, table))
        starts = sorted({r["start"] for r in regs if r["start"] is not None})
        bounds: list = [None] + starts
        spans = []
        for i, lo in enumerate(bounds):
            hi = bounds[i + 1] if i + 1 < len(bounds) else None
            if i == 0 and hi is not None and lo is None:
                # (-inf, first_start) is empty for tables whose min key
                # IS a region start, but harmless to include; keep it
                # only when some region starts at None
                if not any(r["start"] is None for r in regs):
                    continue
            spans.append({"start": lo, "end": hi})
        if not spans:
            spans.append({"start": None, "end": None})
        # region-server assignment (S12 locality): real HBase reports
        # the serving host per region (the reference feeds it to Spark
        # as preferredLocations, HBaseTableScan.scala:384-388); the
        # mock assigns spans round-robin over a small synthetic fleet
        # so the client-side locality plumbing is testable.
        for i, s in enumerate(spans):
            s["host"] = f"rs{i % 4}.mock.local"
        return spans

    def scan_rows(self, table: str, start: bytes | None, stop: bytes | None,
                  flt: dict | None = None):
        """Yield (key_bytes, ts, {b"cf:qual": value_bytes}) in key order
        within each partition — the region-scanner contract. ``flt`` is
        an optional FilterList of SingleColumnValueFilters applied
        SERVER-side (BinaryComparator byte order, filterIfMissing) so
        non-matching rows never cross the wire — the role HBase filters
        play for the reference (HBaseFilter.scala's pushed filters)."""
        rng = [ScanRange(start, True, stop, False)] if (start or stop) else None
        cat, rdr = self._reader(table, rng)
        value_fields = [f for f in cat.fields.values() if not f.is_rowkey]
        scvfs = []
        for spec in (flt or {}).get("filters", ()):
            if spec.get("type") != "SingleColumnValueFilter":
                raise ValueError(f"unsupported filter {spec.get('type')!r}")
            scvfs.append(
                (
                    f"{spec['family']}:{spec['qualifier']}".encode(),
                    spec["op"],
                    _unb64(spec["value"]) if "value" in spec else None,
                )
            )

        def _passes(cells: dict) -> bool:
            for cell_name, op, val in scvfs:
                got = cells.get(cell_name)
                if got is None:
                    return False  # filterIfMissing
                if op == "NOT_NULL":
                    continue
                if op == "EQUAL" and got != val:
                    return False
                if op == "GREATER" and not got > val:
                    return False
                if op == "GREATER_OR_EQUAL" and not got >= val:
                    return False
                if op == "LESS" and not got < val:
                    return False
                if op == "LESS_OR_EQUAL" and not got <= val:
                    return False
            return True

        # HBase scanners serve keys in ascending order — and the
        # client's eviction recovery (reopen from the last row served)
        # DEPENDS on it — so order the server-side partitions by their
        # first live range start (they cover disjoint key spans: merge
        # partitions are boundary cuts, plain region partitions only
        # plan when regions are disjoint).
        def _part_start(p):
            rngs = getattr(p, "ranges", ())
            if not rngs or rngs[0][0] is None:
                return (0, b"")
            return (1, rngs[0][0])

        for part in sorted(rdr.partitions(), key=_part_start):
            for batch in rdr.read(part):
                for key, ts, cells in _encoded_rows(batch, value_fields):
                    if not scvfs or _passes(cells):
                        yield key, ts, cells

    def scan_versions(self, table: str, start: bytes | None, stop: bytes | None,
                      max_versions: int):
        """Multi-version scan (HBase Scan.readVersions / Stargate
        ``maxVersions``): ONE Stargate Row per key, whose Cell list
        carries up to ``max_versions`` NEWEST cells PER COLUMN, each
        with its own timestamp — the wire shape real Stargate serves.
        Tombstone rows are excluded but the history they mask is
        visible (same contract as the embedded merge_to_latest=False
        read: version reads see pre-delete history until compaction).

        Memory bound (ADVICE r13 #2): the requested range is cut at
        every generation's region-start key and served SUB-RANGE BY
        SUB-RANGE — the buffer holds one boundary cut's version groups
        (all generations of a region-sized key span), not the whole
        range; cuts are ascending and disjoint, so keys still stream
        globally sorted. A real region server merge-sorts its store
        files instead. Yields ready Stargate Row dicts."""
        import os

        cuts: list[bytes] = []
        try:
            for reg in _load_regions(os.path.join(self.root, table)):
                s = reg.get("start")
                if s is None:
                    continue
                sb = bytes.fromhex(s)
                if (start is None or sb > start) and (stop is None or sb < stop):
                    cuts.append(sb)
        except FileNotFoundError:
            pass
        bounds = [start] + sorted(set(cuts)) + [stop]
        for lo, hi in zip(bounds, bounds[1:]):
            yield from self._scan_versions_range(table, lo, hi, max_versions)

    def _scan_versions_range(self, table: str, start: bytes | None,
                             stop: bytes | None, max_versions: int):
        rng = [ScanRange(start, True, stop, False)] if (start or stop) else None
        cat, rdr = self._reader(table, rng, raw=True)
        value_fields = [f for f in cat.fields.values() if not f.is_rowkey]
        by_key: dict = {}
        for part in rdr.partitions():
            for batch in rdr.read(part):
                for key, ts, cells in _encoded_rows(batch, value_fields):
                    by_key.setdefault(key, []).append((ts, cells))
        for key in sorted(by_key):
            cell_list = []
            per_col: dict = {}
            # newest versions first; per-column budget (HBase grants
            # each column its own maxVersions)
            for ts, cells in sorted(by_key[key], key=lambda v: -v[0]):
                for cname, enc in cells.items():
                    cnt = per_col.get(cname, 0)
                    if cnt >= max_versions:
                        continue
                    per_col[cname] = cnt + 1
                    cell_list.append(
                        {"column": _b64(cname), "timestamp": ts, "$": _b64(enc)}
                    )
            if cell_list:
                yield {"key": _b64(key), "Cell": cell_list}

    def generation_count(self, table: str) -> int:
        import os

        try:
            return len(_load_regions(os.path.join(self.root, table)))
        except FileNotFoundError:
            return 0

    def scan_generation(self, table: str, gen_id: int):
        """RAW rows of ONE committed region entry (no merge, tombstone
        rows included with a del flag) — the WAL-tailing feed a
        streaming consumer replays; offsets are region-entry counts,
        append-only hence monotonic."""
        from shc_spark.sources.shc_source import DEL_COL

        _, cat_json, cat, regions = self._state(table)
        reg = {r["id"]: r for r in regions}[gen_id]
        rdr = ShcReader(None, {"catalog": cat_json, "root": self.root,
                               "includeDeletes": "true"})
        want = to_arrow_schema(internal_schema(cat, include_deletes=True))
        value_fields = [f for f in cat.fields.values() if not f.is_rowkey]
        ranges = ((None, True, None, True),)
        for batch in rdr._scan_file(reg["path"], ranges, want):
            dels = batch.column(DEL_COL).to_pylist()
            for (key, ts, cells), d in zip(_encoded_rows(batch, value_fields), dels):
                yield key, ts, cells, bool(d == 1)

    # -- write path (Put batching -> one generation per flush) --------

    def put_rows(self, table: str, tx: str, rows: list, buffers: dict) -> int:
        """Buffer Stargate-shaped rows under a transaction id (the Put
        batch). Nothing is visible until flush()."""
        buf = buffers.setdefault((table, tx), [])
        for row in rows:
            key = _unb64(row["key"])
            cells = {}
            ts = 0
            for c in row.get("Cell", ()):
                cells[_unb64(c["column"])] = _unb64(c["$"])
                ts = max(ts, int(c.get("timestamp", 0)))
            buf.append((key, ts, cells))
        return len(buf)

    def flush(self, table: str, txs: list[str], buffers: dict) -> dict:
        """Commit buffered Puts as ONE new generation: decode cells to
        the typed layout through the catalog coders, sort by key, write
        a region file, append it to the manifest — the same commit
        shape as the embedded writer, driven from the wire."""
        rows: list = []
        for tx in txs:
            rows.extend(buffers.pop((table, tx), []))
        return self._commit_rows(table, rows)

    def _commit_rows(self, table: str, rows: list) -> dict:
        """(key, ts, {b'cf:qual': bytes}[, deleted]) rows -> ONE new
        generation (typed region file + manifest append). Shared by the
        Put flush and the atomic mutation endpoints (increment /
        checkAndPut / checkAndDelete — tombstone rows carry the same
        __del marker the embedded delete_rows writes)."""
        import os

        from shc_spark.sources.shc_source import (
            _RegionFile,
            _replace_file,
            _store_catalog,
        )

        path, cat_json, cat, regions = self._state(table)
        if not rows:
            return {"rows": 0}
        rows = [(r[0], r[1], r[2], bool(r[3]) if len(r) > 3 else False) for r in rows]
        rows = sorted(rows, key=lambda r: r[0])
        key_fields = cat.rowkey_fields()
        value_fields = [f for f in cat.fields.values() if not f.is_rowkey]
        coder = get_coder(cat.table_coder)
        by_cell = {f"{f.cf}:{f.col}".encode(): f for f in value_fields}
        cols: dict = {f.col_name: [] for f in cat.fields.values()}
        cols[ROWKEY_COL], cols[TS_COL] = [], []
        salt = 1 if cat.salt_buckets else 0
        any_del = any(d for *_, d in rows)
        if any_del:
            from shc_spark.sources.shc_source import DEL_COL

            cols[DEL_COL] = []
        for key, ts, cells, deleted in rows:
            dims = coder.decode_rowkey(key[salt:], key_fields)
            for f, v in zip(key_fields, dims):
                cols[f.col_name].append(v)
            for f in value_fields:
                raw = cells.get(f"{f.cf}:{f.col}".encode())
                if raw is None:
                    cols[f.col_name].append(None)
                elif f.avro_schema is not None:
                    cols[f.col_name].append(raw)
                else:
                    cols[f.col_name].append(get_coder(f.coder).from_bytes(raw, f.dt))
            cols[ROWKEY_COL].append(key)
            cols[TS_COL].append(ts)
            if any_del:
                from shc_spark.sources.shc_source import DEL_COL

                cols[DEL_COL].append(1 if deleted else None)
        want = to_arrow_schema(internal_schema(cat, include_deletes=any_del))
        t = pa.table({f.name: pa.array(cols[f.name], type=f.type) for f in want})
        import uuid as _uuid

        gen_dir = os.path.join(path, f"gen={_uuid.uuid4().hex[:12]}")
        os.makedirs(gen_dir, exist_ok=True)
        rf = _RegionFile(gen_dir)
        rf.add(t)
        info = rf.close()
        info["id"] = len(regions)
        regions.append(info)
        _replace_file(path, "_regions.json", json.dumps(regions))
        _store_catalog(path, cat_json, overwrite=False)
        return {"rows": len(rows)}

    # -- atomic mutations (HBase Increment / checkAndPut analogs) -----
    # Callers hold the server lock across read-compare-write, which is
    # exactly the atomicity a region server provides per row.

    def _cell_field(self, table: str, column: bytes):
        cat = self._state(table)[2]
        for f in cat.fields.values():
            if not f.is_rowkey and f"{f.cf}:{f.col}".encode() == column:
                return f
        raise ValueError(f"unknown cell {column!r}")

    def _current_cell(self, table: str, key: bytes, column: bytes):
        """Merged latest value bytes of one cell (None if absent)."""
        for _, _, cells in self.scan_rows(table, key, key + b"\x00"):
            return cells.get(column)
        return None

    def increment(self, table: str, items: list, ts: int) -> dict:
        """HBase Increment semantics over a BATCH of (key, column, by):
        read the cell's current numeric value (absent -> 0), add, and
        commit every incremented cell as ONE new generation (the batch
        is the memstore-flush unit). Returns the new values, b64-keyed.
        Arithmetic runs on the TYPED value through the catalog coder —
        HBase's raw Bytes.toLong counters correspond to a long-typed
        PrimitiveType cell."""
        ts = ts or self._next_ts(table)  # server stamp, strictly monotonic
        updates: dict = {}  # key -> {column: new_bytes}
        out = []
        for it in items:
            key = _unb64(it["key"])
            column = _unb64(it["column"])
            f = self._cell_field(table, column)
            coder = get_coder(f.coder)
            staged = updates.get(key, {}).get(column)
            raw = staged if staged is not None else self._current_cell(table, key, column)
            cur = 0 if raw is None else coder.from_bytes(raw, f.dt)
            new = cur + it["by"]
            enc = coder.to_bytes(new, f.dt)
            updates.setdefault(key, {})[column] = enc
            out.append({"key": it["key"], "column": it["column"], "value": new})
        self._commit_rows(
            table, [(k, ts, cells) for k, cells in updates.items()]
        )
        return {"cells": out}

    def check_and_put(self, table: str, key: bytes, column: bytes,
                      expected: bytes | None, value: bytes, ts: int) -> dict:
        """HBase checkAndPut: write ``value`` iff the cell's current
        bytes equal ``expected`` (None = cell must be ABSENT). The
        compare is raw bytes — exactly HBase's BinaryComparator."""
        ts = ts or self._next_ts(table)
        cur = self._current_cell(table, key, column)
        ok = cur == expected
        if ok:
            self._commit_rows(table, [(key, ts, {column: value})])
        return {"ok": ok, "current": None if cur is None else _b64(cur)}

    def check_and_delete(self, table: str, key: bytes, column: bytes,
                         expected: bytes | None, ts: int) -> dict:
        """HBase checkAndDelete: TOMBSTONE the row iff the guard cell's
        current bytes equal ``expected`` (None = the cell must be
        absent) — the compare-and-swap delete. The tombstone masks
        every version with ts <= T on merged reads; a later put
        resurrects (delete_rows' lifecycle, driven atomically from the
        wire)."""
        ts = ts or self._next_ts(table)
        cur = self._current_cell(table, key, column)
        ok = cur == expected
        if ok:
            self._commit_rows(table, [(key, ts, {}, True)])
        return {"ok": ok, "current": None if cur is None else _b64(cur)}

    def abort(self, table: str, txs: list[str], buffers: dict,
              prefix: str | None = None) -> None:
        for tx in txs:
            buffers.pop((table, tx), None)
        if prefix:
            # job-prefix GC: drop the buffers of failed/speculative
            # task attempts, whose tx ids the driver never learned
            dead = [
                k for k in buffers
                if k[0] == table and k[1].startswith(prefix)
            ]
            for k in dead:
                buffers.pop(k, None)

    def aggregate(self, table: str, spec_raw: str, start: bytes | None,
                  stop: bytes | None, flt: dict | None = None):
        """Coprocessor-analog endpoint: partial aggregates computed
        server-side over the (range-limited, filter-limited) scan —
        HBase's AggregationClient takes a full Scan, filters included.
        SCVF specs apply as TYPED comparisons pre-aggregation (byte
        order == value order for the coder/dtype pairs the client
        pushes, so the semantics match the row-scanner path)."""
        import pyarrow.compute as pc

        rng = [ScanRange(start, True, stop, False)] if (start or stop) else None
        cat, rdr = self._reader(table, rng)
        rdr.agg_spec = _parse_agg_spec(cat, spec_raw)
        if flt:
            by_cell = {
                (f.cf, f.col): f
                for f in cat.fields.values()
                if not f.is_rowkey
            }
            preds = []  # (col_name, op, typed_value)
            for spec in flt.get("filters", ()):
                if spec.get("type") != "SingleColumnValueFilter":
                    raise ValueError(f"unsupported filter {spec.get('type')!r}")
                f = by_cell.get((spec["family"], spec["qualifier"]))
                if f is None:
                    raise ValueError(
                        f"filter on unknown cell {spec['family']}:{spec['qualifier']}"
                    )
                val = (
                    get_coder(f.coder).from_bytes(_unb64(spec["value"]), f.dt)
                    if "value" in spec
                    else None
                )
                preds.append((f.col_name, spec["op"], val))
            ops = {
                "EQUAL": pc.equal,
                "GREATER": pc.greater,
                "GREATER_OR_EQUAL": pc.greater_equal,
                "LESS": pc.less,
                "LESS_OR_EQUAL": pc.less_equal,
            }

            def row_filter(batch):
                mask = None
                for col, op, val in preds:
                    arr = batch.column(col)
                    if op == "NOT_NULL":
                        cond = arr.is_valid()
                    else:
                        # null cells fail the predicate (filterIfMissing)
                        cond = pc.fill_null(ops[op](arr, val), False)
                    mask = cond if mask is None else pc.and_(mask, cond)
                return batch.filter(mask) if mask is not None else batch

            rdr.row_filter = row_filter
            rdr.row_filter_cols = {c for c, _, _ in preds}
        out = []
        declared = aggregate_partial_schema(cat, rdr.agg_spec)
        names = [f.name for f in declared.fields]
        for part in rdr.partitions():
            for batch in rdr._read_aggregate(part):
                for row in batch.to_pylist():
                    out.append({n: row[n] for n in names})
        return out


class MockHBaseRestServer:
    """Threaded localhost server speaking the Stargate JSON shapes.

    Divergences from Stargate, documented: point-gets take the row key
    hex-encoded in the path (base64 contains '/'); regions are listed
    at GET /{table}/regions with hex bounds; /aggregate is the
    coprocessor-endpoint analog Stargate never had."""

    def __init__(self, root: str) -> None:
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        import itertools

        svc = _TableService(root)
        # sid -> [iterator, batch, last_access_seq]; eviction is LRU by
        # last_access_seq so ACTIVE scanners (being paged right now)
        # are never evicted while idle leaked ones exist — a scan with
        # many concurrent (partition x range) scanners must not get a
        # mid-page 404 just because the cap filled (ADVICE r11).
        scanners: dict = {}
        touch_seq = itertools.count()
        put_buffers: dict = {}
        lock = threading.Lock()

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _json(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                parts = [p for p in self.path.split("/") if p]
                try:
                    if len(parts) == 2 and parts[0] == "scanner":
                        # page assembly holds the lock: generators are
                        # not thread-safe, and a retried HTTP request
                        # must not interleave next() calls (the mock
                        # favors correctness over concurrency)
                        with lock:
                            sc = scanners.get(parts[1])
                            if sc is None:
                                return self._json(404, {"error": "no such scanner"})
                            sc[2] = next(touch_seq)
                            rows = []
                            it, batch = sc[0], sc[1]
                            json_rows = len(sc) > 3 and sc[3] == "json"
                            for _ in range(batch):
                                try:
                                    item = next(it)
                                except StopIteration:
                                    break
                                if json_rows:  # multi-version scanners
                                    rows.append(item)  # ready Stargate Row
                                    continue
                                key, ts, cells, deleted = item
                                row = {
                                    "key": _b64(key),
                                    "ts": ts,  # row-level ts survives cell-less rows
                                    "Cell": [
                                        {"column": _b64(c), "timestamp": ts, "$": _b64(v)}
                                        for c, v in cells.items()
                                    ],
                                }
                                if deleted:
                                    row["del"] = True  # protocol extension: CDC tombstone
                                rows.append(row)
                        if not rows:
                            self.send_response(204)
                            self.end_headers()
                            return
                        return self._json(200, {"Row": rows})
                    if len(parts) == 2 and parts[1] == "regions":
                        return self._json(200, {"Region": svc.regions(parts[0])})
                    if len(parts) == 2 and parts[1] == "generations":
                        return self._json(200, {"count": svc.generation_count(parts[0])})
                    if len(parts) == 2 and parts[1].startswith("multiget"):
                        # Stargate multiget: GET /{table}/multiget?row=<hex>&row=<hex>
                        # (hex, like the single-get path — base64 contains '/').
                        # Missing keys are simply absent, HBase Get semantics.
                        from urllib.parse import parse_qs, urlparse

                        qs = parse_qs(urlparse(self.path).query)
                        rows = []
                        for hx in qs.get("row", []):
                            key = bytes.fromhex(hx)
                            for k, ts, cells in svc.scan_rows(
                                parts[0], key, key + b"\x00"
                            ):
                                rows.append(
                                    {
                                        "key": _b64(k),
                                        "ts": ts,
                                        "Cell": [
                                            {"column": _b64(c), "timestamp": ts, "$": _b64(v)}
                                            for c, v in cells.items()
                                        ],
                                    }
                                )
                        if not rows:
                            self.send_response(404)
                            self.end_headers()
                            return
                        return self._json(200, {"Row": rows})
                    if len(parts) == 2:
                        key = bytes.fromhex(parts[1])
                        rows = [
                            {
                                "key": _b64(k),
                                "Cell": [
                                    {"column": _b64(c), "timestamp": ts, "$": _b64(v)}
                                    for c, v in cells.items()
                                ],
                            }
                            for k, ts, cells in svc.scan_rows(
                                parts[0], key, key + b"\x00"
                            )
                        ]
                        if not rows:
                            self.send_response(404)
                            self.end_headers()
                            return
                        return self._json(200, {"Row": rows})
                    self._json(404, {"error": "bad path"})
                except Exception as e:  # surface server bugs to the client
                    self._json(500, {"error": repr(e)})

            def do_POST(self):
                parts = [p for p in self.path.split("/") if p]
                n = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(n) or b"{}")
                try:
                    if len(parts) == 2 and parts[1] == "scanner":
                        batch = int(body.get("batch", 1000))
                        sid = uuid.uuid4().hex[:16]
                        # ADVICE r13 #3: filter + maxVersions>1 is not a
                        # defined combination on this surface (the shipped
                        # client never sends it) — reject it so an external
                        # caller can't misread a merged filtered scan as
                        # version history.
                        if body.get("filter") and int(body.get("maxVersions", 1)) > 1:
                            self._json(
                                400,
                                {
                                    "error": "filter cannot be combined with "
                                    "maxVersions>1: version scans serve raw "
                                    "cell history, filters apply to merged-"
                                    "latest scans only"
                                },
                            )
                            return
                        if body.get("generation") is not None:
                            # raw single-generation tail (streaming/CDC)
                            it = (
                                {"key": k, "ts": ts, "cells": cells, "del": d}
                                for k, ts, cells, d in svc.scan_generation(
                                    parts[0], int(body["generation"])
                                )
                            )
                            it = (
                                (r["key"], r["ts"], r["cells"], r["del"]) for r in it
                            )
                        elif int(body.get("maxVersions", 1)) > 1:
                            start = _unb64(body["startRow"]) if body.get("startRow") else None
                            stop = _unb64(body["endRow"]) if body.get("endRow") else None
                            it = svc.scan_versions(
                                parts[0], start, stop, int(body["maxVersions"])
                            )
                            with lock:
                                scanners[sid] = [it, batch, next(touch_seq), "json"]
                                while len(scanners) > 512:
                                    lru = min(scanners, key=lambda k: scanners[k][2])
                                    scanners.pop(lru)
                            self.send_response(201)
                            self.send_header("Location", f"/scanner/{sid}")
                            self.send_header("Content-Length", "0")
                            self.end_headers()
                            return
                        else:
                            start = _unb64(body["startRow"]) if body.get("startRow") else None
                            stop = _unb64(body["endRow"]) if body.get("endRow") else None
                            it = (
                                (k, ts, cells, False)
                                for k, ts, cells in svc.scan_rows(
                                    parts[0], start, stop, body.get("filter")
                                )
                            )
                        with lock:
                            scanners[sid] = [it, batch, next(touch_seq)]
                            # leaked scanners (client died before
                            # DELETE) must not grow unbounded: evict
                            # LEAST-RECENTLY-TOUCHED first, so live
                            # scanners survive; an evicted-but-alive
                            # client sees 404 and reopens from its
                            # last-served row (UnknownScannerException
                            # semantics, handled in ShcRestReader)
                            while len(scanners) > 512:
                                lru = min(scanners, key=lambda k: scanners[k][2])
                                scanners.pop(lru)
                        self.send_response(201)
                        self.send_header("Location", f"/scanner/{sid}")
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                        return
                    if len(parts) == 2 and parts[1] == "aggregate":
                        start = _unb64(body["startRow"]) if body.get("startRow") else None
                        stop = _unb64(body["endRow"]) if body.get("endRow") else None
                        rows = svc.aggregate(
                            parts[0], json.dumps(body["spec"]), start, stop,
                            body.get("filter"),
                        )
                        return self._json(200, {"rows": rows})
                    if len(parts) == 2 and parts[1] == "rows":
                        with lock:
                            n = svc.put_rows(
                                parts[0], body["tx"], body["Row"], put_buffers
                            )
                        return self._json(200, {"buffered": n})
                    if len(parts) == 2 and parts[1] == "flush":
                        with lock:
                            out = svc.flush(parts[0], body["tx"], put_buffers)
                        return self._json(200, out)
                    if len(parts) == 2 and parts[1] == "abort":
                        with lock:
                            svc.abort(
                                parts[0], body.get("tx", []), put_buffers,
                                prefix=body.get("prefix"),
                            )
                        return self._json(200, {})
                    if len(parts) == 2 and parts[1] == "increment":
                        # the lock makes the read-add-write atomic —
                        # the per-row atomicity a region server grants
                        with lock:
                            out = svc.increment(
                                parts[0], body["cells"], int(body.get("ts") or 0)
                            )
                        return self._json(200, out)
                    if len(parts) == 2 and parts[1] == "checkput":
                        with lock:
                            out = svc.check_and_put(
                                parts[0],
                                _unb64(body["key"]),
                                _unb64(body["column"]),
                                _unb64(body["expected"]) if body.get("expected") is not None else None,
                                _unb64(body["value"]),
                                int(body.get("ts") or 0),
                            )
                        return self._json(200, out)
                    if len(parts) == 2 and parts[1] == "checkdelete":
                        with lock:
                            out = svc.check_and_delete(
                                parts[0],
                                _unb64(body["key"]),
                                _unb64(body["column"]),
                                _unb64(body["expected"]) if body.get("expected") is not None else None,
                                int(body.get("ts") or 0),
                            )
                        return self._json(200, out)
                    self._json(404, {"error": "bad path"})
                except Exception as e:
                    self._json(500, {"error": repr(e)})

            def do_DELETE(self):
                parts = [p for p in self.path.split("/") if p]
                if len(parts) == 2 and parts[0] == "scanner":
                    with lock:
                        scanners.pop(parts[1], None)
                    self.send_response(200)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                self.send_response(404)
                self.end_headers()

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self.url = f"http://127.0.0.1:{self.port}"
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def shutdown(self) -> None:
        self._httpd.shutdown()


_SERVERS: dict = {}
_SERVERS_LOCK = threading.Lock()


def ensure_rest_server(root: str) -> str:
    """One mock server per table root, process-wide (gates and tests
    share it); returns the base URL."""
    with _SERVERS_LOCK:
        srv = _SERVERS.get(root)
        if srv is None:
            srv = MockHBaseRestServer(root)
            _SERVERS[root] = srv
        return srv.url


# ---------------------------------------------------------------------
# client side: the "shc-rest" Python DataSource
# ---------------------------------------------------------------------


# zero-progress scanner-reopen budget (hbase.client.retries.number
# analog, same default): bounds the eviction-recovery loop in
# _scan_pages so sustained cap thrash fails loudly instead of
# livelocking (ADVICE r12)
_SCAN_REOPEN_LIMIT = int(os.environ.get("SHC_REST_SCAN_REOPEN_LIMIT", "15"))


def _http_json(url: str, method: str = "GET", body: dict | None = None):
    import urllib.request

    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    if data is not None:
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, timeout=60) as resp:
        if resp.status == 204:
            return None, resp.headers
        raw = resp.read()
        return (json.loads(raw) if raw else None), resp.headers


def _decode_cells_batch(coder, dt, raws: list) -> list:
    """Whole-column cell DECODE — the read-side twin of
    ``_encode_cells_batch``: one numpy pass per page column for the
    int/float/bool families of both byte orders, per-value coder
    fallback otherwise. ``raws`` holds encoded bytes or None (absent
    cell); parity with ``coder.from_bytes`` is pinned by
    test_rest_cell_batch_decode_parity."""
    import numpy as np
    from pyspark.sql import types as T

    kind = type(coder).__name__
    t = type(dt)
    n = len(raws)
    if kind in ("OrderedType", "PrimitiveType"):
        widths = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}
        w = widths.get(t)
        present = [i for i, r in enumerate(raws) if r is not None]
        if w is not None:
            out = [None] * n
            if present:
                buf = b"".join(raws[i] for i in present)
                u8 = np.frombuffer(buf, dtype=np.uint8).reshape(-1, w)
                vals = np.zeros(len(present), dtype=np.uint64)
                for j in range(w):
                    vals = (vals << np.uint64(8)) | u8[:, j]
                if kind == "OrderedType":
                    vals = vals ^ np.uint64(1 << (8 * w - 1))
                ints = vals.astype(np.int64)
                if w < 8:
                    ints = np.where(
                        (vals & np.uint64(1 << (8 * w - 1))) != 0,
                        ints - np.int64(1 << (8 * w)),
                        ints,
                    )
                dec = ints.tolist()
                for i, v in zip(present, dec):
                    out[i] = v
            return out
        if t is T.FloatType or t is T.DoubleType:
            f64 = t is T.DoubleType
            out = [None] * n
            if present:
                buf = b"".join(raws[i] for i in present)
                bits = np.frombuffer(buf, dtype=">u8" if f64 else ">u4").astype(
                    np.uint64 if f64 else np.uint32
                )
                if kind == "OrderedType":
                    sign = np.uint64(1 << 63) if f64 else np.uint32(1 << 31)
                    full = np.uint64(2**64 - 1) if f64 else np.uint32(2**32 - 1)
                    bits = np.where(bits & sign, bits ^ sign, bits ^ full)
                fv = bits.view(np.float64 if f64 else np.float32)
                dec = fv.astype(np.float64).tolist()
                for i, v in zip(present, dec):
                    out[i] = v
            return out
        if t is T.BooleanType:
            return [None if r is None else r != b"\x00" for r in raws]
        if t is T.StringType:
            return [None if r is None else r.decode("utf-8") for r in raws]
        if t is T.BinaryType:
            return [None if r is None else bytes(r) for r in raws]
    return [None if r is None else coder.from_bytes(r, dt) for r in raws]


def _decode_rest_rows(cat, rows: list, with_del: bool = False) -> dict:
    """Stargate JSON rows -> python column lists (typed); shared by the
    batch reader and the streaming tail. Value cells decode COLUMN-wise
    through the batch kernels (r12) — the per-row JSON/base64 unpack is
    protocol-bound, the typed decode is not."""
    coder = get_coder(cat.table_coder)
    key_fields = cat.rowkey_fields()
    value_fields = [f for f in cat.fields.values() if not f.is_rowkey]
    by_cell = {f"{f.cf}:{f.col}".encode(): f for f in value_fields}
    n = len(rows)
    raw_cols: dict = {f.col_name: [None] * n for f in value_fields}
    cols: dict = {f.col_name: [] for f in key_fields}
    cols[TS_COL] = []
    if with_del:
        cols["__del"] = []
    salt = 1 if cat.salt_buckets else 0
    for i, row in enumerate(rows):
        key = _unb64(row["key"])
        # salted physical keys carry a 1-byte hash prefix that is
        # NOT part of the logical composite key
        dims = coder.decode_rowkey(key[salt:], key_fields)
        for f, v in zip(key_fields, dims):
            cols[f.col_name].append(v)
        ts_max = int(row.get("ts", 0))
        for c in row.get("Cell", ()):
            name = _unb64(c["column"])
            f = by_cell.get(name)
            if f is None:
                continue
            raw_cols[f.col_name][i] = _unb64(c["$"])
            ts_max = max(ts_max, int(c["timestamp"]))
        cols[TS_COL].append(ts_max)
        if with_del:
            cols["__del"].append(1 if row.get("del") else None)
    for f in value_fields:
        raws = raw_cols[f.col_name]
        if f.avro_schema is not None:
            cols[f.col_name] = [None if r is None else bytes(r) for r in raws]
        else:
            cols[f.col_name] = _decode_cells_batch(get_coder(f.coder), f.dt, raws)
    return cols


def _decode_rest_version_rows(cat, rows: list) -> dict:
    """Multi-version Stargate rows -> one output row per (key, ts):
    each wire Row carries up to maxVersions cells PER COLUMN with their
    own timestamps; cells written together (same ts) reassemble into
    one version row — exactly the embedded merge_to_latest=False shape,
    reconstructed from the wire. Typed decode rides the batch kernels.

    Equal-ts disambiguation (ADVICE r13 #1): two generations CAN write
    the same column at the same explicit timestamp (embedded
    write_table with equal ``timestamp=``); the embedded multiset read
    then yields two rows. A dict keyed by ts alone would silently
    overwrite one — instead each cell lands in the (ts, k)-th row where
    k is its occurrence index among same-(ts, column) cells in wire
    order, so duplicates stay separate rows and same-generation cells
    of different columns still co-locate (generations emit cells in a
    consistent wire order). Within one key, equal-ts rows order by
    occurrence (wire order) — the embedded read makes no promise there
    either (identical ts)."""
    coder = get_coder(cat.table_coder)
    key_fields = cat.rowkey_fields()
    value_fields = [f for f in cat.fields.values() if not f.is_rowkey]
    by_cell = {f"{f.cf}:{f.col}".encode(): f for f in value_fields}
    salt = 1 if cat.salt_buckets else 0
    out_keys: list = []   # decoded key dims per output row
    out_ts: list = []
    raw_cols: dict = {f.col_name: [] for f in value_fields}
    for row in rows:
        key = _unb64(row["key"])
        dims = coder.decode_rowkey(key[salt:], key_fields)
        by_ts: dict = {}
        occ: dict = {}  # (ts, col_name) -> occurrences seen in wire order
        for c in row.get("Cell", ()):
            f = by_cell.get(_unb64(c["column"]))
            if f is None:
                continue
            ts = int(c["timestamp"])
            k = occ.get((ts, f.col_name), 0)
            occ[(ts, f.col_name)] = k + 1
            by_ts.setdefault((ts, k), {})[f.col_name] = _unb64(c["$"])
        # descending ts, ASCENDING occurrence — the docstring's "wire
        # order" for equal-ts rows (ADVICE r14 #5: a plain
        # reverse=True sort flipped occurrences too)
        for ts, k in sorted(by_ts, key=lambda t: (-t[0], t[1])):
            out_keys.append(dims)
            out_ts.append(ts)
            cells = by_ts[(ts, k)]
            for f in value_fields:
                raw_cols[f.col_name].append(cells.get(f.col_name))
    cols: dict = {}
    for j, f in enumerate(key_fields):
        cols[f.col_name] = [dims[j] for dims in out_keys]
    cols[TS_COL] = out_ts
    for f in value_fields:
        raws = raw_cols[f.col_name]
        if f.avro_schema is not None:
            cols[f.col_name] = [None if r is None else bytes(r) for r in raws]
        else:
            cols[f.col_name] = _decode_cells_batch(get_coder(f.coder), f.dt, raws)
    return cols


class RestPartition(InputPartition):
    def __init__(self, ranges: tuple, vfilters: tuple = (), hosts: tuple = ()) -> None:
        self.ranges = ranges  # tuple of (start|None, stop|None) byte pairs
        self.vfilters = vfilters  # SingleColumnValueFilter specs (server-side)
        self.hosts = hosts  # serving region-server hosts (S12 locality)

    def preferred_locations(self) -> list:
        """S12 locality seam (HBaseTableScan.scala:384-388): the hosts
        serving this partition's regions, as reported by /regions.
        Spark 4.1's Python DataSource API has no preferredLocations
        hook yet, so the scheduler cannot consume this today — the
        hint is carried on the partition (and pinned by test) so the
        transport seam is complete when the API grows the hook."""
        return list(self.hosts)


class ShcRestReader(DataSourceReader):
    """Scan over the REST transport: one scanner per surviving
    (region ∩ pushed-range) component, cells decoded via the catalog
    coder — pushdown/pruning semantics identical to the embedded
    reader (same translate machinery), execution over the wire."""

    def __init__(self, schema, options: dict) -> None:
        self.options = options
        self.cat = parse_catalog(options["catalog"])
        self.url = options["url"].rstrip("/")
        self.batch = int(options.get("batch", 4096))
        raw_agg = options.get("aggregate")
        self.agg_spec = _parse_agg_spec(self.cat, raw_agg) if raw_agg else None
        # maxVersions > 1: multi-version scanners (Scan.readVersions);
        # each wire Row reassembles into one output row per (key, ts)
        self.max_versions = int(options.get("maxversions", options.get("maxVersions", 1)))
        self.hrf = HRF.full()
        self.value_filters: list[dict] = []

    @property
    def _table(self) -> str:
        return f"{self.cat.namespace}.{self.cat.name}"

    def _value_filter_spec(self, f) -> dict | None:
        """Spark Filter on a VALUE column -> SingleColumnValueFilter
        spec (the HBase filter the reference pushes,
        HBaseFilter.scala's ValueFilter path). Server-side comparison
        is BinaryComparator byte order, so comparisons push only for
        order-preserving (coder, dtype) pairs; equality pushes for any
        coder. filterIfMissing semantics: rows lacking the cell are
        dropped server-side — safe, Spark would reject NULLs for these
        predicates anyway (and re-evaluates everything we push)."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "EQUAL",
            GreaterThan: "GREATER",
            GreaterThanOrEqual: "GREATER_OR_EQUAL",
            LessThan: "LESS",
            LessThanOrEqual: "LESS_OR_EQUAL",
        }
        if isinstance(f, IsNotNull):
            attr, value, op = f.attribute, None, "NOT_NULL"
        elif type(f) in ops:
            attr, value, op = f.attribute, f.value, ops[type(f)]
        else:
            return None
        if len(attr) != 1:
            return None
        fld = self.cat.fields.get(attr[0])
        if fld is None or fld.is_rowkey or fld.avro_schema is not None:
            return None
        coder = get_coder(fld.coder)
        if op not in ("EQUAL", "NOT_NULL") and not coder.order_preserving_for(fld.dt):
            return None  # byte order != value order: not pushable
        spec = {
            "type": "SingleColumnValueFilter",
            "family": fld.cf,
            "qualifier": fld.col,
            "op": op,
        }
        if value is not None:
            spec["value"] = _b64(coder.to_bytes(value, fld.dt))
        return spec

    def pushFilters(self, filters):
        key_fields = self.cat.rowkey_fields()
        first = key_fields[0]
        try:
            coder = get_coder(first.coder)
        except ValueError:
            yield from filters
            return
        from shc_spark.filters import translate_filters

        single_dim = len(key_fields) == 1
        fixed_w = first.length if not first.var_length else None
        points_only = not coder.order_preserving_for(first.dt)
        pushed = self.hrf
        for f in filters:
            vf = self._value_filter_spec(f)
            if vf is not None:
                # server drops non-matching rows pre-wire; Spark still
                # re-evaluates (we always yield the filter back)
                self.value_filters.append(vf)
                yield f
                continue
            try:
                sub = translate_filters(
                    [f], first.col_name, lambda v: coder.to_bytes(v, first.dt), points_only
                )
                key_hrf = _dim_to_key_ranges(sub, fixed_w, single_dim)
            except Exception:
                yield f
                continue
            pushed = HRF(ranges_and(pushed.ranges, key_hrf.ranges), False)
            if not key_hrf.handled:
                yield f
        self.hrf = pushed

    def partitions(self):
        data, _ = _http_json(f"{self.url}/{self._table}/regions")
        hrf, self.hrf = self.hrf, HRF.full()
        vfs, self.value_filters = tuple(self.value_filters), []
        if self.max_versions > 1:
            # value filters are merged-view semantics; on a version scan
            # they would filter per-version rows differently. Pushing is
            # always optional (Spark re-evaluates on top), so drop them.
            vfs = ()
        if self.cat.salt_buckets and hrf.ranges != HRF.full().ranges:
            # salted physical keys carry a hash prefix: fan unsalted
            # ranges across the buckets BEFORE region intersection
            # (same expansion as the embedded reader), else region
            # pruning on unsalted bytes would drop matching rows
            expander = ShcReader(None, {"catalog": self.options["catalog"]})
            hrf = expander._expand_salt(hrf)
        parts = []
        for reg in data["Region"]:
            start = bytes.fromhex(reg["start"]) if reg["start"] is not None else None
            end = bytes.fromhex(reg["end"]) if reg["end"] is not None else None
            # server spans carry EXCLUSIVE ends (disjoint boundary cuts)
            live = ranges_and(hrf.ranges, [ScanRange(start, True, end, False)])
            if live:
                parts.append(
                    RestPartition(
                        tuple(
                            (
                                r.start if r.start_inclusive or r.start is None else r.start + b"\x00",
                                (r.end + b"\x00") if (r.end is not None and r.end_inclusive) else r.end,
                            )
                            for r in live
                        ),
                        vfilters=vfs,
                        hosts=(reg["host"],) if reg.get("host") else (),
                    )
                )
        if not parts:
            parts.append(RestPartition(ranges=()))
        return parts

    def _decode_rows(self, rows: list, with_del: bool = False) -> dict:
        """Stargate JSON rows -> python column lists (typed)."""
        return _decode_rest_rows(self.cat, rows, with_del)

    def _scan_pages(self, body):
        """Yield Stargate row pages for one scan, transparently
        REOPENING the scanner when the server forgets it mid-scan —
        the UnknownScannerException/ScannerTimeoutException semantics
        a real cluster exhibits (lease expiry, region movement, the
        mock's LRU cap). Scanners serve keys in ascending order, so
        the replacement scanner starts just past the last row served:
        exactly-once rows across the eviction. Mutates ``body``.

        Reopens that make NO progress (evicted before serving a page)
        are bounded: under sustained scanner-cap thrash an unbounded
        loop would livelock in a tight POST/GET cycle against the
        server (ADVICE r12). Real HBase clients bound this via
        hbase.client.retries.number (default 15) — we do the same,
        with exponential backoff between zero-progress attempts, and
        raise a clear error when exhausted. A reopen that DID serve
        rows resets the budget (the scan is advancing)."""
        import time as _time
        import urllib.error

        zero_progress = 0
        while True:
            _, headers = _http_json(f"{self.url}/{self._table}/scanner", "POST", body)
            loc = headers["Location"]
            evicted = False
            last_key = None
            try:
                while True:
                    try:
                        page, _ = _http_json(f"{self.url}{loc}")
                    except urllib.error.HTTPError as e:
                        if e.code == 404:  # scanner evicted server-side
                            evicted = True
                            break
                        raise
                    if page is None:
                        return  # 204: range exhausted
                    rows = page["Row"]
                    if rows:
                        last_key = _unb64(rows[-1]["key"])
                    yield rows
            finally:
                if not evicted:
                    try:
                        _http_json(f"{self.url}{loc}", "DELETE")
                    except Exception:
                        pass  # scanner GC is server-side best effort
            if last_key is not None:
                # resume EXCLUSIVE of the last served row; if the dead
                # incarnation served nothing, body's bounds are already
                # the right restart point
                body["startRow"] = _b64(last_key + b"\x00")
                zero_progress = 0
            else:
                zero_progress += 1
                if zero_progress > _SCAN_REOPEN_LIMIT:
                    raise RuntimeError(
                        f"scanner evicted {zero_progress} consecutive times "
                        "with no rows served (sustained scanner-cap thrash "
                        "or a lease shorter than one page fetch); giving up "
                        "after the retry budget — raise the server's scanner "
                        "cap or lower reader concurrency"
                    )
                # capped exponential backoff: yield the server room to
                # drain the thrash instead of tightening the loop
                _time.sleep(min(0.01 * (2 ** zero_progress), 1.0))

    def read(self, partition):
        if self.agg_spec is not None:
            yield from self._read_aggregate(partition)
            return
        versioned = self.max_versions > 1
        want = to_arrow_schema(rest_schema(self.cat))
        for start, stop in partition.ranges:
            body = {"batch": self.batch}
            if versioned:
                body["maxVersions"] = self.max_versions
            if start is not None:
                body["startRow"] = _b64(start)
            if stop is not None:
                body["endRow"] = _b64(stop)
            if partition.vfilters:
                body["filter"] = {
                    "type": "FilterList",
                    "op": "MUST_PASS_ALL",
                    "filters": list(partition.vfilters),
                }
            for rows in self._scan_pages(body):
                cols = (
                    _decode_rest_version_rows(self.cat, rows)
                    if versioned
                    else self._decode_rows(rows)
                )
                arrays = [
                    pa.array(cols[f.name], type=f.type) for f in want
                ]
                yield pa.RecordBatch.from_arrays(arrays, schema=want)

    def _read_aggregate(self, partition):
        """Coprocessor path: the server aggregates; one tiny JSON of
        partials crosses the wire per (partition, range)."""
        declared = to_arrow_schema(aggregate_partial_schema(self.cat, self.agg_spec))
        spec = {"groupBy": self.agg_spec["group_by"],
                "aggs": [list(a) for a in self.agg_spec["aggs"]]}
        for start, stop in partition.ranges:
            body: dict = {"spec": spec}
            if start is not None:
                body["startRow"] = _b64(start)
            if stop is not None:
                body["endRow"] = _b64(stop)
            if getattr(partition, "vfilters", ()):
                body["filter"] = {
                    "type": "FilterList",
                    "op": "MUST_PASS_ALL",
                    "filters": list(partition.vfilters),
                }
            data, _ = _http_json(f"{self.url}/{self._table}/aggregate", "POST", body)
            rows = data["rows"]
            if not rows:
                continue
            arrays = [
                pa.array([r[f.name] for r in rows], type=f.type) for f in declared
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=declared)


def rest_schema(cat, include_deletes: bool = False) -> StructType:
    """Catalog columns + __ts; no __rowkey (the wire Row key is decoded
    into its dimensions client-side)."""
    base = internal_schema(cat, include_deletes=include_deletes)
    return StructType([f for f in base.fields if f.name != ROWKEY_COL])


class RestGenPartition(InputPartition):
    def __init__(self, gen_id: int) -> None:
        self.gen_id = gen_id


class ShcRestStreamReader(DataSourceStreamReader):
    """Streaming SOURCE over the REST transport: generation tailing
    (the embedded ShcStreamReader's contract) with offsets = committed
    region-entry counts fetched from GET /{table}/generations; each new
    entry replays RAW over a single-generation scanner — one row per
    version, tombstones flagged when includeDeletes — so the CDC feed
    runs over the wire too."""

    def __init__(self, schema, options: dict) -> None:
        self.options = options
        self.cat = parse_catalog(options["catalog"])
        self.url = options["url"].rstrip("/")
        self.batch = int(options.get("batch", 4096))
        self.include_deletes = (
            str(options.get("includedeletes", options.get("includeDeletes", ""))).lower()
            == "true"
        )

    @property
    def _table(self) -> str:
        return f"{self.cat.namespace}.{self.cat.name}"

    def _count(self) -> int:
        data, _ = _http_json(f"{self.url}/{self._table}/generations")
        return int(data["count"])

    def initialOffset(self) -> dict:
        if self.options.get("startingoffsets", "earliest") == "latest":
            return {"n": self._count()}
        return {"n": 0}

    def latestOffset(self) -> dict:
        return {"n": self._count()}

    def partitions(self, start: dict, end: dict):
        n0, n1 = start["n"], end["n"]
        if n1 < n0:
            raise RuntimeError(
                "shc table was overwritten while being streamed over "
                "REST (generation count shrank); restart from a fresh "
                "checkpoint"
            )
        if n1 == n0:
            return [RestGenPartition(-1)]
        return [RestGenPartition(g) for g in range(n0, n1)]

    def read(self, partition):
        if partition.gen_id < 0:
            return
        declared = to_arrow_schema(rest_schema(self.cat, self.include_deletes))
        _, headers = _http_json(
            f"{self.url}/{self._table}/scanner",
            "POST",
            {"generation": partition.gen_id, "batch": self.batch},
        )
        loc = headers["Location"]
        try:
            while True:
                page, _ = _http_json(f"{self.url}{loc}")
                if page is None:
                    break
                rows = page["Row"]
                if not self.include_deletes:
                    rows = [r for r in rows if not r.get("del")]
                cols = _decode_rest_rows(self.cat, rows, self.include_deletes)
                arrays = [pa.array(cols[f.name], type=f.type) for f in declared]
                yield pa.RecordBatch.from_arrays(arrays, schema=declared)
        finally:
            try:
                _http_json(f"{self.url}{loc}", "DELETE")
            except Exception:
                pass

    def commit(self, end: dict) -> None:
        pass


def _encode_cells_batch(coder, dt, arr: "pa.Array") -> list:
    """Whole-column cell encode: one list of (bytes | None-for-null)
    per value column, numpy kernels for the int/float/bool families of
    BOTH byte orders (OrderedType sign-flip / IEEE total order,
    PrimitiveType two's complement / raw IEEE bits — the Bytes.toBytes
    contract), batch comprehensions for string/binary, per-value coder
    fallback for anything exotic (Phoenix). Value parity with
    ``coder.to_bytes`` is pinned by test_rest_cell_batch_encode_parity."""
    import numpy as np
    from pyspark.sql import types as T

    kind = type(coder).__name__
    t = type(dt)
    if kind in ("OrderedType", "PrimitiveType"):
        null_mask = arr.is_null().to_numpy(zero_copy_only=False)
        widths = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}
        w = widths.get(t)
        if w is not None:
            vals = (
                arr.cast(pa.int64()).fill_null(0)
                .to_numpy(zero_copy_only=False).astype(np.uint64)
            )
            if kind == "OrderedType":
                vals = vals ^ np.uint64(1 << (8 * w - 1))
            be = vals.astype(">u8").view(np.uint8).reshape(-1, 8)[:, 8 - w:]
            return [None if m else be[i].tobytes() for i, m in enumerate(null_mask)]
        if t is T.FloatType or t is T.DoubleType:
            f64 = t is T.DoubleType
            fv = (
                arr.cast(pa.float64() if f64 else pa.float32()).fill_null(0)
                .to_numpy(zero_copy_only=False)
            )
            if kind == "OrderedType":
                fv = fv + fv.dtype.type(0.0)  # normalize -0.0 == +0.0
                bits = fv.view(np.uint64 if f64 else np.uint32)
                sign = np.uint64(1 << 63) if f64 else np.uint32(1 << 31)
                full = np.uint64(2**64 - 1) if f64 else np.uint32(2**32 - 1)
                bits = np.where(bits & sign, bits ^ full, bits ^ sign)
            else:
                bits = fv.view(np.uint64 if f64 else np.uint32)
            be = bits.astype(">u8" if f64 else ">u4").view(np.uint8).reshape(-1, 8 if f64 else 4)
            return [None if m else be[i].tobytes() for i, m in enumerate(null_mask)]
        if t is T.BooleanType:
            tv = b"\x01" if kind == "OrderedType" else b"\xff"
            return [
                None if v is None else (tv if v else b"\x00")
                for v in arr.to_pylist()
            ]
        if t is T.StringType:
            return [None if v is None else v.encode("utf-8") for v in arr.to_pylist()]
        if t is T.BinaryType:
            return [None if v is None else bytes(v) for v in arr.to_pylist()]
    return [None if v is None else coder.to_bytes(v, dt) for v in arr.to_pylist()]


@dataclass
class RestTxCommit(WriterCommitMessage):
    tx: str


class ShcRestWriter(DataSourceArrowWriter):
    """Write path over the wire: each task POSTs its rows as Stargate
    Put batches under a per-task transaction id; the driver-side
    commit flushes them into ONE new generation (visible atomically —
    the manifest is the commit point, same as the embedded writer).
    Rowkeys encode client-side (salt prefix included), cells via the
    catalog coder — byte-identical to what the embedded writer's
    parquet stores logically."""

    def __init__(self, schema, options: dict) -> None:
        self.options = options
        self.cat = parse_catalog(options["catalog"])
        self.url = options["url"].rstrip("/")
        self.ts = int(options.get("timestamp") or 0)
        # job-scoped tx namespace (r13, VERDICT r12 #5): every task
        # attempt's tx id carries this prefix, so the driver-side
        # commit/abort can GC the buffered Puts of FAILED or
        # speculative attempts (whose tx ids never reach commit
        # messages) — a retried task can never leave phantom cells
        # or a leaked server buffer behind
        self.job = uuid.uuid4().hex

    @property
    def _table(self) -> str:
        return f"{self.cat.namespace}.{self.cat.name}"

    def write(self, iterator):
        import time as _time

        from shc_spark.sources.api import _key_encode_ctx, encode_rowkey_batch

        cat = self.cat
        key_fields = cat.rowkey_fields()
        value_fields = [f for f in cat.fields.values() if not f.is_rowkey]
        key_ctx = _key_encode_ctx(cat)  # salt logic lives in the kernel
        ts = self.ts or int(_time.time() * 1000)
        tx = f"{self.job}-{uuid.uuid4().hex}"  # unique per task ATTEMPT
        pending = []
        b64_names = [_b64(f"{f.cf}:{f.col}".encode()) for f in value_fields]

        def _post(rows):
            _http_json(
                f"{self.url}/{self._table}/rows",
                "POST",
                {"tx": tx, "Row": rows},
            )

        for batch in iterator:
            # WHOLE-BATCH encode through the embedded writer's kernels
            # (VERDICT r11 #3): rowkeys via the shared numpy rowkey
            # kernel (salt included), cells via the batch coder kernels
            # — the per-row Python that remains below is pure Stargate
            # JSON framing, so the "swap the transport URL" claim holds
            # for the write hot path too.
            keys = encode_rowkey_batch(
                cat,
                [batch.column(f.col_name).to_pandas() for f in key_fields],
                key_ctx,
            )
            enc_cols = []
            for f, cname in zip(value_fields, b64_names):
                arr = batch.column(f.col_name)
                if f.avro_schema is not None:
                    enc = [None if v is None else bytes(v) for v in arr.to_pylist()]
                else:
                    enc = _encode_cells_batch(get_coder(f.coder), f.dt, arr)
                enc_cols.append((cname, enc))
            for i, key in enumerate(keys):
                cells = [
                    {"column": cname, "timestamp": ts, "$": _b64(e[i])}
                    for cname, e in enc_cols
                    if e[i] is not None
                ]
                pending.append({"key": _b64(key), "Cell": cells})
                if len(pending) >= 2000:
                    _post(pending)
                    pending = []
        if pending:
            _post(pending)
        return RestTxCommit(tx)

    def commit(self, messages):
        # flush EXACTLY the txs whose tasks reported success (the
        # exactly-once set), then GC every other buffer under this
        # job's prefix — the partial POSTs of failed-then-retried or
        # speculative attempts, which must never become cells
        txs = [m.tx for m in messages if m is not None]
        _http_json(f"{self.url}/{self._table}/flush", "POST", {"tx": txs})
        try:
            _http_json(
                f"{self.url}/{self._table}/abort",
                "POST",
                {"tx": [], "prefix": self.job},
            )
        except Exception:
            pass  # GC is best-effort; orphans can never flush anyway

    def abort(self, messages):
        txs = [m.tx for m in messages if m is not None]
        try:
            _http_json(
                f"{self.url}/{self._table}/abort",
                "POST",
                {"tx": txs, "prefix": self.job},
            )
        except Exception:
            pass


class ShcRestDataSource(DataSource):
    """format("shc-rest") — the remote-transport twin of format("shc")."""

    @classmethod
    def name(cls) -> str:
        return "shc-rest"

    def schema(self) -> StructType:
        cat = parse_catalog(self.options["catalog"])
        raw_agg = self.options.get("aggregate")
        if raw_agg:
            return aggregate_partial_schema(cat, _parse_agg_spec(cat, raw_agg))
        dels = str(self.options.get("includedeletes", self.options.get("includeDeletes", ""))).lower() == "true"
        return rest_schema(cat, include_deletes=dels)

    def reader(self, schema) -> ShcRestReader:
        return ShcRestReader(schema, dict(self.options))

    def streamReader(self, schema) -> ShcRestStreamReader:
        return ShcRestStreamReader(schema, dict(self.options))

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "shc-rest writes are APPEND generations (HBase Put "
                "semantics); use the embedded write_table for "
                "overwrite/DDL"
            )
        return ShcRestWriter(schema, dict(self.options))


def register_rest(spark) -> None:
    spark.dataSource.register(ShcRestDataSource)


def read_table_rest(spark, catalog: str, url: str, batch: int = 4096):
    """Read an shc table over the REST transport (merged latest view).
    Avro-coded cells decode above the scan exactly like read_table."""
    from pyspark.sql import functions as F

    from shc_spark.sources.api import _avro_decode_expr

    register_rest(spark)
    cat = parse_catalog(catalog)
    df = (
        spark.read.format("shc-rest")
        .option("catalog", catalog)
        .option("url", url)
        .option("batch", str(batch))
        .load()
    )
    for f in cat.fields.values():
        if f.avro_schema is not None:
            df = df.withColumn(f.col_name, _avro_decode_expr(f))
    return df.select(*[f.col_name for f in cat.fields.values()])


def read_table_rest_versions(
    spark, catalog: str, url: str, max_versions: int, batch: int = 4096
):
    """Multi-version read over the REST transport (HBase
    Scan.readVersions / Stargate ``maxVersions``): one row per written
    version per key — up to ``max_versions`` newest per CELL — with
    ``__ts`` retained, the wire twin of the embedded
    ``read_table(merge_to_latest=False)`` + per-cell version cap
    (MaxVersionsSuite semantics through the transport).

    Call this PER QUERY (it builds a fresh relation, like read_table):
    reusing one returned DataFrame across differently-filtered queries
    trips the Spark 4.1 single-cached-plan hazard — the first query's
    pushed pruning silently replays for the rest (documented at
    ShcReader._warn_on_replan)."""
    from pyspark.sql import functions as F

    from shc_spark.sources.api import _avro_decode_expr

    if max_versions < 1:
        raise ValueError("max_versions must be >= 1")
    register_rest(spark)
    cat = parse_catalog(catalog)
    df = (
        spark.read.format("shc-rest")
        .option("catalog", catalog)
        .option("url", url)
        .option("batch", str(batch))
        .option("maxVersions", str(max_versions))
        .load()
    )
    for f in cat.fields.values():
        if f.avro_schema is not None:
            df = df.withColumn(f.col_name, _avro_decode_expr(f))
    return df.select(*[f.col_name for f in cat.fields.values()], TS_COL)


def bulk_get_rest(spark, catalog: str, url: str, keys: list):
    """BulkGet over the wire (S11 through the transport): one multiget
    round-trip for a list of rowkey values — the HBase multi-Get /
    Stargate ``/multiget`` analog. Single-dimension rowkeys only (an
    HBase Get addresses a FULL row key; for composite-key prefix
    lookups use ``read_table_rest`` + a first-dim filter, which pushes
    as scanner ranges). Driver-side by design: a Get list is a serving
    primitive, bounded by len(keys), never corpus-sized."""
    from urllib.error import HTTPError

    from shc_spark.sources.api import _key_encode_ctx, encode_rowkey_batch

    register_rest(spark)
    cat = parse_catalog(catalog)
    key_fields = cat.rowkey_fields()
    if len(key_fields) != 1:
        raise ValueError(
            "bulk_get_rest addresses full row keys; this catalog has a "
            f"{len(key_fields)}-dim composite rowkey — use read_table_rest "
            "+ a first-dim filter (pushes as scanner ranges) instead"
        )
    import pandas as pd

    enc = encode_rowkey_batch(cat, [pd.Series(list(keys))], _key_encode_ctx(cat))
    qs = "&".join(f"row={k.hex()}" for k in enc)
    table = f"{cat.namespace}.{cat.name}"
    try:
        data, _ = _http_json(f"{url.rstrip('/')}/{table}/multiget?{qs}")
        rows = data["Row"]
    except HTTPError as e:
        if e.code == 404:
            rows = []  # none of the keys exist
        else:
            raise
    cols = _decode_rest_rows(cat, rows)
    names = [f.col_name for f in cat.fields.values()]
    out_schema = StructType(
        [f for f in rest_schema(cat).fields if f.name in names]
    )
    recs = [tuple(cols[n][i] for n in names) for i in range(len(rows))]
    df = spark.createDataFrame(recs, out_schema)
    from pyspark.sql import functions as F  # noqa: F401 (decode exprs below)

    from shc_spark.sources.api import _avro_decode_expr

    for f in cat.fields.values():
        if f.avro_schema is not None:
            df = df.withColumn(f.col_name, _avro_decode_expr(f))
    return df


def _cell_coords(cat, col_name: str):
    f = cat.fields.get(col_name)
    if f is None or f.is_rowkey:
        raise ValueError(f"{col_name!r} is not a value column of this catalog")
    return f, _b64(f"{f.cf}:{f.col}".encode())


def _encode_full_key(cat, key_value) -> bytes:
    import pandas as pd

    from shc_spark.sources.api import _key_encode_ctx, encode_rowkey_batch

    if len(cat.rowkey_fields()) != 1:
        raise ValueError(
            "atomic mutations address full row keys; this catalog has a "
            "composite rowkey — pass the encoded bytes via read/scan paths"
        )
    return encode_rowkey_batch(cat, [pd.Series([key_value])], _key_encode_ctx(cat))[0]


def increment_rest(catalog: str, url: str, items: list, ts: int | None = None) -> dict:
    """HBase Increment over the wire: ``items`` is a list of
    (key_value, col_name, by); the whole batch is read-add-written
    ATOMICALLY under the region-server lock and committed as ONE new
    generation (the memstore-flush unit — N counters bump for one
    manifest append). Returns {key_value: new_value} per (key, col).
    Driver-side serving primitive, bounded by len(items)."""
    cat = parse_catalog(catalog)
    cells = []
    meta = []
    for key_value, col_name, by in items:
        f, cname = _cell_coords(cat, col_name)
        cells.append(
            {"key": _b64(_encode_full_key(cat, key_value)), "column": cname, "by": by}
        )
        meta.append((key_value, col_name))
    body: dict = {"cells": cells}
    if ts is not None:
        body["ts"] = ts
    table = f"{cat.namespace}.{cat.name}"
    out, _ = _http_json(f"{url.rstrip('/')}/{table}/increment", "POST", body)
    return {
        (kv, cn): cell["value"] for (kv, cn), cell in zip(meta, out["cells"])
    }


def check_and_put_rest(
    catalog: str,
    url: str,
    key_value,
    col_name: str,
    expected,
    value,
    ts: int | None = None,
) -> bool:
    """HBase checkAndPut over the wire: write ``value`` into
    (key, col) iff the cell's CURRENT value equals ``expected``
    (``None`` = the cell must be absent) — compare-and-swap with the
    region server's per-row atomicity. Values are typed; the compare
    runs on the coder's bytes (BinaryComparator semantics). Returns
    True iff the put was applied."""
    cat = parse_catalog(catalog)
    f, cname = _cell_coords(cat, col_name)
    coder = get_coder(f.coder)
    body: dict = {
        "key": _b64(_encode_full_key(cat, key_value)),
        "column": cname,
        "expected": None if expected is None else _b64(coder.to_bytes(expected, f.dt)),
        "value": _b64(coder.to_bytes(value, f.dt)),
    }
    if ts is not None:
        body["ts"] = ts
    table = f"{cat.namespace}.{cat.name}"
    out, _ = _http_json(f"{url.rstrip('/')}/{table}/checkput", "POST", body)
    return bool(out["ok"])


def check_and_delete_rest(
    catalog: str,
    url: str,
    key_value,
    col_name: str,
    expected,
    ts: int | None = None,
) -> bool:
    """HBase checkAndDelete over the wire: tombstone the row iff the
    guard cell (key, col) currently equals ``expected`` (``None`` =
    the cell must be absent). The tombstone follows delete_rows'
    lifecycle — masks on merged reads, resurrected by a later put,
    purged at compaction — applied atomically under the region-server
    lock. Returns True iff the delete was applied."""
    cat = parse_catalog(catalog)
    f, cname = _cell_coords(cat, col_name)
    coder = get_coder(f.coder)
    body: dict = {
        "key": _b64(_encode_full_key(cat, key_value)),
        "column": cname,
        "expected": None if expected is None else _b64(coder.to_bytes(expected, f.dt)),
    }
    if ts is not None:
        body["ts"] = ts
    table = f"{cat.namespace}.{cat.name}"
    out, _ = _http_json(f"{url.rstrip('/')}/{table}/checkdelete", "POST", body)
    return bool(out["ok"])


def scan_aggregate_rest(
    spark,
    catalog: str,
    url: str,
    group_by: list[str],
    aggs: list[tuple[str, str]],
):
    """Server-side aggregation over the REST transport (the
    AggregationClient call): each partition fetches one JSON of
    partials; rows never cross the wire. Same output contract as
    sources.scan_aggregate."""
    from pyspark.sql import functions as F

    from shc_spark.sources.shc_source import agg_out_name

    register_rest(spark)
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
    df = (
        spark.read.format("shc-rest")
        .option("catalog", catalog)
        .option("url", url)
        .option("aggregate", spec)
        .load()
    )
    combine = []
    for fn, col in phys:
        name = agg_out_name(fn, col)
        merge_fn = F.sum if fn in ("count", "sum") else (F.min if fn == "min" else F.max)
        expr = merge_fn(F.col(name))
        if fn == "count":
            expr = F.coalesce(expr, F.lit(0))
        combine.append(expr.alias(name))
    out = df.groupBy(*group_by).agg(*combine) if group_by else df.agg(*combine)
    for col in avgs:
        out = out.withColumn(
            f"avg_{col}",
            F.when(F.col(f"count_{col}") > 0, F.col(f"sum_{col}") / F.col(f"count_{col}")),
        )
    return out.select(*group_by, *requested)


def write_table_rest(
    df,
    catalog: str,
    url: str,
    timestamp: int | None = None,
) -> None:
    """Append rows to an existing shc table THROUGH the REST transport
    (HBase Put semantics: one new generation per save, visible
    atomically at the driver-side flush). Avro-coded struct columns
    encode to their blobs client-side before the wire. Overwrite/DDL
    stay embedded-backend operations (a region server does not create
    its own table either)."""
    from pyspark.sql import functions as F

    from shc_spark.sources.api import _avro_encode_udf

    spark = df.sparkSession
    register_rest(spark)
    cat = parse_catalog(catalog)
    for f in cat.fields.values():
        if f.avro_schema is not None:
            df = df.withColumn(f.col_name, _avro_encode_udf(f)(F.struct(f"{f.col_name}.*")))
    w = (
        df.write.format("shc-rest")
        .option("catalog", catalog)
        .option("url", url)
        .mode("append")
    )
    if timestamp is not None:
        w = w.option("timestamp", str(timestamp))
    w.save()


def read_stream_table_rest(
    spark,
    catalog: str,
    url: str,
    include_deletes: bool = False,
    starting_offsets: str = "earliest",
):
    """readStream over the REST transport: generation tailing, raw
    version rows (merge-to-latest is a downstream stateful concern,
    same contract as the embedded streaming source); includeDeletes
    surfaces tombstones as a CDC feed."""
    register_rest(spark)
    reader = (
        spark.readStream.format("shc-rest")
        .option("catalog", catalog)
        .option("url", url)
        .option("startingOffsets", starting_offsets)
    )
    if include_deletes:
        reader = reader.option("includeDeletes", "true")
    return reader.load()
