"""Schema-memoized parquet reads for path-addressed inputs.

Every ``spark.read.parquet(path)`` call runs schema inference — a
1-task Spark job that reads a footer (measured on this box: ~105 ms
and 1 scheduler job per call; with an explicit schema the same read
resolves in ~20 ms and 0 jobs). The bench and the driver construct
each query fresh per repetition, so every table read pays that job
every time — pure fixed driver cost, billed to every query path. At
production scale the same job reads footers over many files, which is
why production pipelines read through a catalog or supply explicit
schemas instead of re-inferring per read (guide §1.2 fixed costs /
§6 I/O metadata).

This helper is the explicit-schema pattern for path-addressed parquet:
the schema is inferred ONCE per realpath and reused while the file's
(mtime_ns, size) is unchanged. ONLY schema metadata is memoized — every
read still scans the parquet data itself, so nothing here caches
results or precomputes across runs; a changed stat drops the memo the
moment the input file changes (a rewritten table re-infers and its
entry is replaced, so the memo holds one entry per path).

Scope: immutable table inputs (the $SPARK_GRAFT_SF_DIR tables read by
the query registry). Mutable operator-managed stores (persisted
dedup/text/vector indexes, streaming state) keep plain
``spark.read.parquet`` — their subtrees are rewritten by folds and
compactions, where a top-level stat key cannot see nested changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# realpath -> (mtime_ns, size, schema)
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}

DRIVER_GET_MAX_ROWS = 100_000
"""Most rows a query reads in the driver instead of running a Spark
job: a ``bulk_get`` (as ``ShcReader.max_rows`` bounds its planned
partitions) and a BM25 or IVF index query (as the pruned posting files
bound it, see ``operators.idxcache.read_local``). A read over it runs
as a Spark scan instead. Read as ``io.DRIVER_GET_MAX_ROWS`` at call
time, so there is one budget for both layers."""


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized
    per realpath and validated by (mtime_ns, size) — identical result
    frame, minus the per-call schema-inference job while ``path`` is
    unchanged."""
    try:
        st = os.stat(path)
    except OSError:
        # missing path: let Spark raise its own AnalysisException
        return spark.read.parquet(path)
    key, stamp = os.path.realpath(path), (st.st_mtime_ns, st.st_size)
    hit = _SCHEMAS.get(key)
    if hit is None or hit[:2] != stamp:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = (*stamp, df.schema)
        return df
    return spark.read.schema(hit[2]).parquet(path)
