"""The benchmark workloads.

Each workload builds its tables or indexes from seeded inputs
(``build``) and yields its ops one fixed cycle at a time (``cycle``).
An op is one call a user of shc_spark would make, followed by the
action that materializes its result, and carries the check of that
result against an answer computed without Spark (or, for the serving
indexes, at set-up). The traced run also calls ``probe`` on each op:
it repeats the op's shc source work through ``ShcReader`` directly in
this process, with the options the op's reads handed the source and
the filters Spark hands it for that op.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql.datasource import EqualTo, In, IsNotNull

from perfbench import inputs

TS_BASE = 1_000


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    rows: int  # logical rows served: returned or written
    probe: Callable[[list], dict] | None = None  # called with the op's shc reads
    user_bytes: int = 0  # bytes of user rows handed to a write
    encode_keys: list = field(default_factory=list)  # rowkey values the op encodes


def parquet_census(path: str) -> dict:
    """{file path: size} of the parquet files under ``path``."""
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def source_probe(reads: list, filters: list) -> dict:
    """The shc source's share of an op, run directly: for each shc read
    the op made, with the options it handed the source, pushFilters and
    partitions (the planner), then read() over every partition.

    ``filters`` are the ones Spark hands the source for the op; the
    traced run checks the probe's partitions and rows against the tasks
    and output rows of the op's executed scans."""
    from shc_spark.catalog import parse_catalog
    from shc_spark.sources.shc_source import ShcReader, internal_schema

    out = {"plan_ms": 0.0, "partitions": 0, "unhandled": 0, "unhandled_key": 0,
           "read_ms": 0.0, "rows": 0, "python_bytes": 0}
    for opts in reads:
        cat = parse_catalog(opts["catalog"])
        reader = ShcReader(internal_schema(cat), dict(opts))
        t0 = time.perf_counter()
        unhandled = list(reader.pushFilters(filters))
        key = (cat.rowkey_fields()[0].col_name,)
        parts = reader.partitions()
        t1 = time.perf_counter()
        for p in parts:
            for batch in reader.read(p):
                out["rows"] += batch.num_rows
                out["python_bytes"] += batch.nbytes
        out["read_ms"] += (time.perf_counter() - t1) * 1e3
        out["plan_ms"] += (t1 - t0) * 1e3
        out["partitions"] += len(parts)
        out["unhandled"] += len(unhandled)
        # yielded-back predicates on the leading key's value: each one is
        # a key restriction the scan could not use
        out["unhandled_key"] += sum(
            f.attribute == key and type(f).__name__ not in ("IsNotNull", "IsNull")
            for f in unhandled
        )
    return out


def _arrow_bytes(pdf) -> int:
    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


def _region_rows(wl) -> int:
    """Rows the table's region manifest records, over all generations."""
    from shc_spark.sources.shc_source import _load_regions

    return sum(r["rows"] for r in _load_regions(wl.table_dir))


class Workload:
    name = ""
    table = ""  # shc table name, "" when the workload serves indexes

    def __init__(self, root: str, seed: int) -> None:
        self.spark = None  # set once the session has started
        self.root = root
        self.seed = seed
        self.tracer = None  # set for the traced pass

    @property
    def table_dir(self) -> str:
        return os.path.join(self.root, f"bench.{self.table}") if self.table else ""

    def storage_dirs(self) -> list:
        """Directories whose parquet files hold the workload's data."""
        return [self.table_dir]

    def _action(self, df):
        with self.tracer.span("spark.action") if self.tracer else nullcontext():
            return df.collect()

    def generate(self) -> None:
        raise NotImplementedError

    def build_ops(self) -> list:
        """The writes that create the workload's tables or indexes."""
        raise NotImplementedError

    def build(self, after_step: Callable[[], None]) -> None:
        for op in self.build_ops():
            if not op.check(op.run()):
                raise RuntimeError(f"{self.name}: set-up step {op.kind} left a wrong table")
            after_step()

    def cycle(self, i: int) -> list:
        raise NotImplementedError

    def warm_up(self) -> None:
        """The cycle's first op, unchecked: the read path's first use
        (Python planner and workers, JIT, metadata caches) is paid
        before anything is timed."""
        self.cycle(0)[0].run()

    def disk_bytes_per_row(self) -> float:
        raise NotImplementedError


class KvPoint(Workload):
    """bulk_get on orders: 150k rows, 8 regions, a base generation plus
    two 1% update generations; batches of 1, 8 and 64 keys, ~10% absent."""

    name = "kv_point"
    table = "orders"

    def generate(self) -> None:
        self.cat = inputs.orders_catalog(self.table)
        self.inp = inputs.kv_inputs(self.seed)
        latest = self.inp["latest"]
        self.expected = {int(r[0]): tuple(r) for r in latest.itertuples(index=False)}

    def build_ops(self) -> list:
        """A bulk load of the base generation into 8 regions, then one
        append per update generation, each checked against the region
        manifest's row count."""
        from shc_spark.sources import api

        def write(rows, ts, **kw):
            def run():
                api.write_table(self.spark.createDataFrame(rows), self.cat, root=self.root,
                                timestamp=ts, **kw)
            return run

        ops, total = [], 0
        for g, rows in enumerate([self.inp["base"]] + self.inp["updates"]):
            total += len(rows)
            kw = {"num_regions": 8, "mode": "overwrite"} if g == 0 else {"mode": "append"}
            ops.append(
                Op("load" if g == 0 else "append", write(rows, TS_BASE + g, **kw),
                   lambda _, t=total: _region_rows(self) == t, rows=len(rows),
                   user_bytes=_arrow_bytes(rows), encode_keys=rows["o_orderkey"].tolist())
            )
        return ops

    def cycle(self, i: int) -> list:
        n = len(inputs.KEY_BATCH_SIZES)
        start = (i % inputs.KEY_BATCH_CYCLES) * n
        return [self._get(keys) for keys in self.inp["batches"][start:start + n]]

    def _get(self, keys: list) -> Op:
        from shc_spark.sources import api

        want = sorted(self.expected[k] for k in keys if k in self.expected)

        def run():
            return self._action(api.bulk_get(self.spark, self.cat, keys, root=self.root))

        def check(rows) -> bool:
            got = sorted(tuple(r) for r in rows)
            return got == want

        col = ("o_orderkey",)
        # Catalyst rewrites a one-value IN to EqualTo and infers IsNotNull
        filters = (
            [IsNotNull(col), EqualTo(col, keys[0])] if len(keys) == 1 else [In(col, list(keys))]
        )
        return Op(
            kind=f"keys{len(keys)}",
            run=run,
            check=check,
            rows=len(want),
            probe=lambda reads: source_probe(reads, filters),
            encode_keys=list(keys),
        )

    def disk_bytes_per_row(self) -> float:
        return sum(parquet_census(self.table_dir).values()) / len(self.expected)


class IndexServe(Workload):
    """Round-robin over three persisted indexes built at set-up: a
    16-doc dedup increment, 8 three-term BM25 queries (k=10) and 8 IVF
    vector queries (k=5, nprobe=4)."""

    name = "index_serve"

    def generate(self) -> None:
        self.inp = inputs.index_inputs(self.seed)
        self.paths = {k: os.path.join(self.root, k) for k in ("dedup", "text", "ivf")}
        self.expected: dict = {}

    def build_ops(self) -> list:
        from shc_spark.operators import dedup, similarity, textindex

        sdf = self.spark.createDataFrame
        corpus, emb = self.inp["corpus"], self.inp["embeddings"]
        builds = {
            "dedup": lambda: dedup.build_dedup_index(
                sdf(corpus), self.paths["dedup"], num_perm=64, bands=32, n=3
            ),
            "text": lambda: textindex.build_text_index(sdf(corpus), self.paths["text"]),
            "ivf": lambda: similarity.build_ivf_index(
                sdf(emb), self.paths["ivf"], "embedding", "vec_id", dim=inputs.DIM
            ),
        }
        return [
            Op(f"build_{k}", run, lambda _, p=self.paths[k]: bool(parquet_census(p)),
               rows=len(emb if k == "ivf" else corpus),
               user_bytes=_arrow_bytes(emb if k == "ivf" else corpus))
            for k, run in builds.items()
        ]

    def storage_dirs(self) -> list:
        return list(self.paths.values())

    def _queries(self) -> dict:
        from shc_spark.operators import dedup, similarity, textindex

        sdf = self.spark.createDataFrame
        return {
            "dedup": lambda: dedup.dedup_index_pairs_batch(
                self.spark, self.paths["dedup"], {"inc": sdf(self.inp["increment"])}
            ),
            "textindex": lambda: textindex.text_index_topk_batch(
                self.spark, self.paths["text"], self.inp["text_queries"], k=10
            ),
            "similarity": lambda: similarity.ivf_index_topk(
                self.spark, self.paths["ivf"], sdf(self.inp["vector_queries"]), k=5, nprobe=4
            ),
        }

    def warm_up(self) -> None:
        """Runs each query once; its answer is what later ops must return."""
        for kind, query in self._queries().items():
            self.expected[kind] = sorted(tuple(r) for r in query().collect())

    def cycle(self, i: int) -> list:
        ops = []
        for kind, query in self._queries().items():
            want = self.expected[kind]
            ops.append(
                Op(kind, lambda q=query: self._action(q()),
                   lambda rows, w=want: sorted(tuple(r) for r in rows) == w, rows=len(want))
            )
        return ops

    def disk_bytes_per_row(self) -> float:
        total = sum(sum(parquet_census(p).values()) for p in self.storage_dirs())
        return total / (inputs.DOCS + inputs.EMBEDDINGS)


WORKLOADS = {w.name: w for w in (KvPoint, IndexServe)}
