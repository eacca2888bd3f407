"""Streaming layer tests: windowed/sessionized/stateful results
converge to batch answers (checked by the oracle gate too), and the
shc streaming sink writes generations per microbatch."""

import json

from pyspark.sql import functions as F

from shc_spark.sources import read_table
from shc_spark.streaming import stream_events, stream_write_table

SF = "/root/testdata/sf0.001"


def test_stream_events_schema(spark):
    ev = stream_events(spark, SF)
    assert ev.isStreaming
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_stream_write_table_roundtrip(spark, tmp_path):
    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "ev", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "event_id": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "user_id": {"cf": "cf", "col": "u", "type": "bigint"},
                "event_type": {"cf": "cf", "col": "t", "type": "string"},
                "value": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "tables")
    ev = stream_events(spark, SF).select("event_id", "user_id", "event_type", "value")
    q = stream_write_table(ev, cat, root=root, checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    back = read_table(spark, cat, root=root)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    n_expected = spark.read.parquet(f"{SF}/events.parquet").count()
    assert back.count() == n_expected
    # pushdown works on the streamed-in table too
    one = back.filter(F.col("event_id") == 7).collect()
    assert len(one) == 1 and one[0]["user_id"] is not None


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a 10-min watermark across two
    microbatches: a row arriving in batch 2 that is older than the
    watermark must NOT be counted (late-data semantics the reference
    has no notion of)."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(minute, uid):
        return (uid, base + dt.timedelta(minutes=minute), 1.0)

    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    d = tmp_path / "stream_in"
    d.mkdir()

    def write_file(name, rows, mtime):
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
        path = str(d / name)
        papq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    # batch 1: rows at t=5 and t=100 -> watermark will advance to 90
    write_file("b1.parquet", [mk(5, 1), mk(100, 2)], 1_000_000)
    # batch 2: watermark propagation batch (Spark applies the advanced
    # watermark starting the batch AFTER the one that computed it)
    write_file("b2.parquet", [mk(105, 5)], 2_000_000)
    # batch 3: t=10 is now genuinely late (window [0,30) closed) + t=110
    write_file("b3.parquet", [mk(10, 3), mk(110, 4)], 3_000_000)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        r["w"]["start"].minute + 60 * r["w"]["start"].hour: r["n"]
        for r in spark.table("late_test").collect()
    }
    # window [0,30) finalized with ONLY the on-time row; the late t=10
    # row was dropped
    assert rows.get(0) == 1, rows


def test_stream_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark emits exactly the batch-DISTINCT
    key set when nothing falls beyond the delay."""
    from shc_spark.streaming import run_stream_dedup

    got = run_stream_dedup(spark, SF)
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "event_type")
        .distinct()
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch).isEmpty()


def test_stream_sink_datasource_roundtrip(spark, tmp_path):
    """writeStream.format("shc") (ShcStreamWriter): stream drains into
    the table, readable back; a re-committed batchId (restart retry)
    replaces its manifest entries instead of duplicating rows."""
    from shc_spark.sources import write_stream_table

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "evds", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "event_id": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "user_id": {"cf": "cf", "col": "u", "type": "bigint"},
                "value": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "tables")
    ev = stream_events(spark, SF).select("event_id", "user_id", "value")
    q = write_stream_table(ev, cat, root=root, checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    back = read_table(spark, cat, root=root)
    n_expected = spark.read.parquet(f"{SF}/events.parquet").count()
    assert back.count() == n_expected
    one = back.filter(F.col("event_id") == 7).collect()
    assert len(one) == 1 and one[0]["user_id"] is not None

    # retry idempotency: re-commit the same batch id with fresh staged
    # files — the manifest must swap, not grow
    import os

    from shc_spark.sources.shc_source import ShcStreamWriter, _load_regions, table_path
    from shc_spark.catalog import parse_catalog

    path = table_path(root, parse_catalog(cat))
    regions_before = _load_regions(path)
    batches = {r.get("batch") for r in regions_before}
    assert batches and None not in batches
    some_batch = sorted(batches)[0]
    n_in_batch = sum(1 for r in regions_before if r["batch"] == some_batch)

    # same txn as the original query (write_stream_table derives it
    # from the checkpoint path) — replacement is scoped to (txn, batch)
    w = ShcStreamWriter(
        None,
        {"catalog": cat, "root": root, "txnid": os.path.abspath(str(tmp_path / "ckpt"))},
        overwrite=False,
    )
    # stage a replacement file by copying an existing region of that batch
    import shutil

    src = next(r for r in regions_before if r["batch"] == some_batch)
    gen_dir = os.path.join(path, "gen=stream-retry")
    os.makedirs(gen_dir, exist_ok=True)
    new_path = os.path.join(gen_dir, "region-retry.parquet")
    shutil.copy(src["path"], new_path)
    info = dict(src, path=new_path)
    from shc_spark.sources.shc_source import ShcCommit

    w.commit([ShcCommit([info])], some_batch)
    regions_after = _load_regions(path)
    assert len(regions_after) == len(regions_before) - n_in_batch + 1
    # fresh reader (the old DataFrame's plan pinned the old partitions)
    assert read_table(spark, cat, root=root).count() == n_expected


def test_manifest_commit_survives_torn_write(tmp_path, monkeypatch):
    """A manifest write that fails part-way leaves the table on its old
    manifest: the batch commit and a replayed stream batch (whose
    commit replaces the batch's earlier files) both keep every listed
    file on disk and readable. In-process, no Spark session."""
    import os

    import pyarrow as pa
    import pytest
    from pyspark.sql.pandas.types import to_arrow_schema

    from shc_spark.catalog import parse_catalog
    from shc_spark.sources import shc_source as src

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "torn", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "string"},
            },
        }
    )
    schema = to_arrow_schema(src.internal_schema(parse_catalog(cat)))

    def batch(lo, hi):
        ks = list(range(lo, hi))
        return pa.RecordBatch.from_arrays(
            [pa.array(ks, pa.int64()), pa.array([f"v{k}" for k in ks]),
             pa.array([k.to_bytes(8, "big") for k in ks], pa.binary()),
             pa.array([1000] * len(ks), pa.int64())],
            schema=schema,
        )

    class TornFile:
        def __init__(self, fh):
            self.fh = fh

        def write(self, text):
            self.fh.write(text[: len(text) // 2])
            raise OSError("injected: disk full mid-write")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

    def torn_open(file, mode="r", *args, **kwargs):
        fh = open(file, mode, *args, **kwargs)
        if "w" in mode and "_regions" in os.path.basename(str(file)):
            return TornFile(fh)
        return fh

    def committed(path):
        src._REGION_CACHE.pop(os.path.join(path, "_regions.json"), None)
        return src._load_regions(path)

    cases = (
        ("batch", lambda p: src.ShcWriter(None, {"catalog": cat, "path": p}, False),
         lambda w, msg: w.commit([msg])),
        ("stream", lambda p: src.ShcStreamWriter(None, {"catalog": cat, "path": p, "txnid": "t"}, False),
         lambda w, msg: w.commit([msg], 0)),
    )
    for name, make, commit in cases:
        path = str(tmp_path / name)
        w = make(path)
        commit(w, w.write(iter([batch(0, 10)])))
        before = committed(path)
        # a second generation (batch) / a replay of batch 0 (stream)
        msg = make(path).write(iter([batch(5, 15)]))
        with monkeypatch.context() as m:
            m.setattr(src, "open", torn_open, raising=False)
            with pytest.raises(OSError, match="injected"):
                commit(w, msg)
        after = committed(path)
        assert after == before, name
        assert all(os.path.exists(r["path"]) for r in after), name
        assert not [n for n in os.listdir(path) if n.endswith(".tmp")], name
        # the same commit without the fault goes through
        commit(w, msg)
        assert len(committed(path)) == (2 if name == "batch" else 1)
        assert all(os.path.exists(r["path"]) for r in committed(path)), name


def test_stream_sink_fresh_query_never_clobbers(spark, tmp_path):
    """A NEW streaming query into the same table (fresh/temp checkpoint
    ⇒ batchIds restart at 0) must NOT replace the previous query's
    committed batch-0 entries — idempotence is scoped (txn, batchId),
    Delta's (txnAppId, txnVersion) pattern (round-3 ADVICE medium:
    before the fix, run 2's batch 0 silently deleted run 1's files)."""
    from shc_spark.sources import write_stream_table
    from shc_spark.sources.shc_source import _load_regions, table_path
    from shc_spark.catalog import parse_catalog

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "evtxn", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "event_id": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "value": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "tables")
    n = spark.read.parquet(f"{SF}/events.parquet").count()

    for i, ts in ((1, 1000), (2, 2000)):
        ev = stream_events(spark, SF).select("event_id", "value", F.lit(ts).alias("et"))
        # fresh checkpoint per run → each run restarts at batch 0
        q = write_stream_table(
            ev, cat, root=root, checkpoint=str(tmp_path / f"ckpt{i}"), ts_col="et"
        )
        q.processAllAvailable()
        q.stop()
        raw = read_table(spark, cat, root=root, merge_to_latest=False)
        assert raw.count() == i * n, f"run {i}: committed rows lost or duplicated"

    path = table_path(root, parse_catalog(cat))
    regions = _load_regions(path)
    assert len({r.get("txn") for r in regions}) == 2  # two distinct queries
    # merged view still resolves to one latest version per key
    assert read_table(spark, cat, root=root).count() == n


def test_incremental_rollup_refresh_reads_only_new_generations(spark, tmp_path):
    """Rollup over an shc table: refresh folds appended generations
    into per-batch partials; read() final-merges to the exact batch
    aggregate; a second refresh leaves old partials untouched."""
    import os

    from shc_spark.sources import write_table
    from shc_spark.streaming import IncrementalRollup

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "evroll", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "event_id": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "event_type": {"cf": "cf", "col": "t", "type": "string"},
                "value": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "tables")
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "event_type", "value")
    gen1 = ev.filter(F.col("event_id") % 2 == 0)
    gen2 = ev.filter(F.col("event_id") % 2 == 1)
    write_table(gen1, cat, root=root, num_regions=4)

    roll = IncrementalRollup(
        spark, cat, root,
        group_cols=["event_type"],
        aggs={"n": ("count", None), "total": ("sum", "value"), "avg_v": ("avg", "value"),
              "min_v": ("min", "value"), "max_v": ("max", "value")},
    )
    roll.refresh()

    def expect(df):
        return {
            (r["event_type"], r["n"], round(r["total"], 6), round(r["avg_v"], 6))
            for r in df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"),
                F.avg("value").alias("avg_v")).collect()
        }

    got1 = {
        (r["event_type"], r["n"], round(r["total"], 6), round(r["avg_v"], 6))
        for r in roll.read().collect()
    }
    assert got1 == expect(gen1)

    # snapshot old partial files, append, refresh
    def tree(d):
        return {
            os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        }

    before = tree(roll.partials_dir)
    write_table(gen2, cat, root=root, mode="append")
    roll.refresh()
    after = tree(roll.partials_dir)
    for path, mtime in before.items():
        assert after.get(path) == mtime, f"old partial rewritten: {path}"
    assert len(after) > len(before)

    got2 = {
        (r["event_type"], r["n"], round(r["total"], 6), round(r["avg_v"], 6))
        for r in roll.read().collect()
    }
    assert got2 == expect(ev)


def test_stream_source_cdc_deletes(spark, tmp_path):
    """The streaming source hides tombstones by default and surfaces
    them (with __del set) under includeDeletes — the change-data-feed
    contract a downstream stateful merge needs to apply deletes."""
    from shc_spark.sources import delete_rows, register, write_table

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "cdc", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i) for i in range(10)], "k int, v int")
    write_table(df, cat, root=root, num_regions=4, timestamp=1000)
    delete_rows(spark, cat, [2, 5], root=root, timestamp=2000)

    register(spark)

    def drain(opts):
        reader = (
            spark.readStream.format("shc")
            .option("catalog", cat)
            .option("root", root)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        import uuid

        name = f"cdc_{uuid.uuid4().hex[:8]}"
        q = reader.load().writeStream.outputMode("append").format("memory").queryName(name).start()
        q.processAllAvailable()
        q.stop()
        out = spark.table(name).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
        return out

    plain = drain({})
    assert plain.count() == 10  # tombstone rows hidden (raw puts visible)
    assert "__del" not in plain.columns

    cdc = drain({"includeDeletes": "true"})
    assert "__del" in cdc.columns
    dels = cdc.filter(F.col("__del") == 1)
    assert dels.count() == 2
    assert sorted(r["k"] for r in dels.collect()) == [2, 5]
    assert cdc.count() == 12


def test_incremental_rollup_approx_distinct(spark, tmp_path):
    """DISTINCT COUNT in the rollup via HLL sketch partials: unions of
    per-batch sketches estimate the global distinct within HLL error
    even when the same user appears in many generations."""
    from shc_spark.sources import write_table
    from shc_spark.streaming import IncrementalRollup

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "evhll", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "event_id": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "event_type": {"cf": "cf", "col": "t", "type": "string"},
                "user_id": {"cf": "cf", "col": "u", "type": "bigint"},
            },
        }
    )
    root = str(tmp_path / "tables")
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "event_type", "user_id")
    write_table(ev.filter(F.col("event_id") % 2 == 0), cat, root=root, num_regions=4)
    write_table(ev.filter(F.col("event_id") % 2 == 1), cat, root=root, mode="append")

    roll = IncrementalRollup(
        spark, cat, root, group_cols=["event_type"],
        aggs={"n": ("count", None), "users": ("approx_distinct", "user_id")},
    )
    roll.refresh()
    got = {r["event_type"]: (r["n"], r["users"]) for r in roll.read().collect()}
    exact = {
        r["event_type"]: (r["n"], r["u"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("u"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, (n, users) in got.items():
        assert n == exact[et][0]
        assert abs(users - exact[et][1]) <= max(2, 0.05 * exact[et][1])


def test_incremental_rollup_compact_preserves_values(spark, tmp_path):
    """Partials compaction folds all batch partitions into one without
    changing read() results, and later refreshes keep merging."""
    import os

    from shc_spark.sources import write_table
    from shc_spark.streaming import IncrementalRollup

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "evcmp", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "event_id": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "event_type": {"cf": "cf", "col": "t", "type": "string"},
                "user_id": {"cf": "cf", "col": "u", "type": "bigint"},
                "value": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "t")
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "user_id", "value"
    )
    thirds = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    write_table(thirds[0], cat, root=root, num_regions=4)
    roll = IncrementalRollup(
        spark, cat, root, group_cols=["event_type"],
        aggs={"n": ("count", None), "total": ("sum", "value"),
              "users": ("approx_distinct", "user_id"), "mx": ("max", "value")},
    )
    roll.refresh()
    write_table(thirds[1], cat, root=root, mode="append")
    roll.refresh()

    def snap():
        return {
            r["event_type"]: (r["n"], round(r["total"], 4), r["users"], r["mx"])
            for r in roll.read().collect()
        }

    before = snap()
    roll.compact()
    assert snap() == before
    batches = {d for d in os.listdir(roll.partials_dir) if d.startswith("__batch=")}
    assert batches == {"__batch=-1"}

    # post-compaction refresh still folds in
    write_table(thirds[2], cat, root=root, mode="append")
    roll.refresh()
    got = snap()
    assert all(got[k][0] > before[k][0] for k in before)
    exact_n = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {k: v[0] for k, v in got.items()} == exact_n


def test_incremental_rollup_approx_quantile(spark, tmp_path):
    """Median in the rollup via KLL sketch partials (merged across
    generations and across a compaction) tracks the exact median."""
    from shc_spark.sources import write_table
    from shc_spark.streaming import IncrementalRollup

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "evkll", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "event_id": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "event_type": {"cf": "cf", "col": "t", "type": "string"},
                "value": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "t")
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "event_type", "value")
    write_table(ev.filter(F.col("event_id") % 2 == 0), cat, root=root, num_regions=4)
    roll = IncrementalRollup(
        spark, cat, root, group_cols=["event_type"],
        aggs={"med": ("approx_quantile", "value", 0.5)},
    )
    roll.refresh()
    roll.compact()
    write_table(ev.filter(F.col("event_id") % 2 == 1), cat, root=root, mode="append")
    roll.refresh()
    got = {r["event_type"]: r["med"] for r in roll.read().collect()}
    exact = {
        r["event_type"]: r["m"]
        for r in ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("m")).collect()
    }
    for et, m in got.items():
        lo, hi = sorted((exact[et] * 0.9, exact[et] * 1.1))
        assert lo - 0.01 <= m <= hi + 0.01, (et, m, exact[et])


def test_stream_merge_latest_applies_deletes(spark, tmp_path):
    """CDC loop end-to-end: puts, deletes, and a resurrecting re-put
    tail through the streaming source; the stateful merge with
    apply_deletes converges to the batch merged view. A put OLDER than
    an already-seen tombstone (late arrival) must stay masked."""
    from shc_spark.sources import delete_rows, read_table, write_table
    from shc_spark.streaming.events import run_stream_merge_latest

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "cdcm", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k int, v int")
    write_table(mk([(i, i) for i in range(10)]), cat, root=root, num_regions=4, timestamp=1000)
    delete_rows(spark, cat, [2, 5, 7], root=root, timestamp=3000)
    # resurrect 5 with a NEWER put; late-arriving OLDER put for 7 stays dead
    write_table(mk([(5, 555)]), cat, root=root, mode="append", timestamp=4000)
    write_table(mk([(7, 777)]), cat, root=root, mode="append", timestamp=2000)

    got = {
        r["k"]: r["v"]
        for r in run_stream_merge_latest(spark, cat, root, apply_deletes=True).collect()
    }
    want = {r["k"]: r["v"] for r in read_table(spark, cat, root=root).collect()}
    assert got == want
    assert 2 not in got and 7 not in got and got[5] == 555


def test_stateful_queries_identical_under_rocksdb(spark):
    """Large-state readiness: the stateful queries produce IDENTICAL
    results when the state store is RocksDB (spillable, bounded
    executor memory — what a 100 TB stream needs) instead of the
    default in-memory HDFS-backed provider."""
    from shc_spark.streaming import events as ev

    SF = "/root/testdata/sf0.001"
    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key, None)
    base_tumb = {tuple(r) for r in ev.run_tumbling_counts(spark, SF).collect()}
    base_tot = {tuple(r) for r in ev.run_stateful_totals(spark, SF).collect()}
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks_tumb = {tuple(r) for r in ev.run_tumbling_counts(spark, SF).collect()}
        rocks_tot = {tuple(r) for r in ev.run_stateful_totals(spark, SF).collect()}
    finally:
        if default is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, default)
    assert rocks_tumb == base_tumb and base_tumb
    assert rocks_tot == base_tot and base_tot


def test_stream_incremental_dedup_equals_batch_rule(spark):
    """The arrival-order dedup must equal the batch rule 'keep iff no
    smaller-id exact-Jaccard near-dup', and the stream must actually
    arrive as multiple ascending-id micro-batches."""
    import os

    from shc_spark.operators import dedup
    from shc_spark.streaming import events as ev

    SF = "/root/testdata/sf0.001"
    staged = ev._staged_doc_slices(spark, SF)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) == 4
    got = {r["doc_id"] for r in ev.run_stream_incremental_dedup(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dropped = {
        r["id_b"]
        for r in dedup.jaccard_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    expect = {r["doc_id"] for r in docs.select("doc_id").collect()} - dropped
    assert got == expect and got


def test_write_stream_cdc_rejects_unknown_ops(spark, tmp_path):
    """The streaming CDC sink must FAIL on an op outside I/U/D, not
    silently drop the row (ADVICE r4 #2): validation rides inside the
    write pass as a raise_error expression, mirroring apply_cdc."""
    import pytest

    from pyspark.sql.streaming import StreamingQueryException

    from shc_spark.sources import write_stream_cdc

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "cdcbad", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    feed_dir = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, 1.0, "I", 10), (2, 2.0, "X", 20)],
        "k long, v double, op string, ts long",
    ).coalesce(1).write.parquet(feed_dir)
    stream = (
        spark.readStream.schema("k long, v double, op string, ts long")
        .parquet(feed_dir)
    )
    q = write_stream_cdc(
        stream, cat, op_col="op",
        root=str(tmp_path / "tables"), checkpoint=str(tmp_path / "ckpt"),
        ts_col="ts",
    )
    with pytest.raises(StreamingQueryException, match="unknown op"):
        q.processAllAvailable()
        if q.exception() is not None:
            raise q.exception()
    q.stop()


def test_streaming_embed_drift_matches_batch_and_invariants(spark):
    """r15: the streaming PSI monitor equals the batch derivation of
    the same quantities (shared kernel + arithmetic), covers the FULL
    cluster grid for every present window, and its per-window
    cur_frac sums to ~1 (occupancy is a distribution)."""
    import math

    from shc_spark.operators import cluster
    from shc_spark.streaming import run_streaming_embed_drift

    sf = "/root/testdata/sf0.01"
    out = run_streaming_embed_drift(spark, sf, k=8).collect()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = emb.count()
    k = 8
    # grid completeness: every present window has exactly k rows
    from collections import defaultdict

    per_win = defaultdict(list)
    for r in out:
        per_win[r["window_start"]].append(r)
    assert len(per_win) >= 2  # multiple event-time windows
    for w, rows in per_win.items():
        assert sorted(r["cluster"] for r in rows) == list(range(k))
        # Laplace-smoothed fractions sum to 1 (before rounding noise)
        assert abs(sum(r["cur_frac"] for r in rows) - 1.0) < 1e-3
        # window totals partition the corpus
    assert sum(r["cur_n"] for r in out) == n
    # batch replay: same assignment kernel, same arithmetic
    cents = cluster.seed_centroids(emb, "embedding", "vec_id", k)
    assigned = cluster.kmeans_assign(emb, cents, "embedding", "cluster")
    ref_hist = {r["cluster"]: r["n"] for r in assigned.groupBy("cluster").count().withColumnRenamed("count", "n").collect()}
    got_ref = {(r["window_start"], r["cluster"]): r["ref_n"] for r in out}
    for (w, c), rn in got_ref.items():
        assert rn == ref_hist.get(c, 0), (w, c)
    # drift detection: a window whose occupancy matches the corpus has
    # ~0 total PSI; the observed per-window totals are finite
    for w, rows in per_win.items():
        psi = sum(r["psi_contrib"] for r in rows)
        assert math.isfinite(psi)
