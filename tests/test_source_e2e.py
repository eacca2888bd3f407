"""End-to-end connector tests: write-then-query with hard-coded
expected counts — the reference's test strategy (SURVEY.md §5),
fixtures F1 (basic, DefaultSourceSuite.scala:32-69), F2 (intkey,
DataTypeSuite.scala:25-66), F3 (composite, CompositeKeySuite.scala)."""

import json

import pytest
from pyspark.sql import functions as F

from shc_spark.sources import read_table, write_table

CAT_BASIC = json.dumps(
    {
        "table": {"namespace": "default", "name": "basic", "tableCoder": "OrderedType", "version": "2.0"},
        "rowkey": "key",
        "columns": {
            "col0": {"cf": "rowkey", "col": "key", "type": "string"},
            "col1": {"cf": "cf1", "col": "col1", "type": "boolean"},
            "col2": {"cf": "cf2", "col": "col2", "type": "double"},
            "col3": {"cf": "cf3", "col": "col3", "type": "float"},
            "col4": {"cf": "cf4", "col": "col4", "type": "int"},
            "col5": {"cf": "cf5", "col": "col5", "type": "bigint"},
            "col6": {"cf": "cf6", "col": "col6", "type": "smallint"},
            "col7": {"cf": "cf7", "col": "col7", "type": "string"},
            "col8": {"cf": "cf8", "col": "col8", "type": "tinyint"},
        },
    }
)

CAT_INTKEY = json.dumps(
    {
        "table": {"namespace": "default", "name": "intkey", "tableCoder": "OrderedType", "version": "2.0"},
        "rowkey": "key",
        "columns": {
            "col0": {"cf": "rowkey", "col": "key", "type": "int"},
            "col4": {"cf": "cf4", "col": "col4", "type": "int"},
        },
    }
)

CAT_COMPOSITE = json.dumps(
    {
        "table": {"namespace": "default", "name": "composite", "tableCoder": "OrderedType", "version": "2.0"},
        "rowkey": "key1:key2",
        "columns": {
            "col00": {"cf": "rowkey", "col": "key1", "type": "string", "length": "6"},
            "col01": {"cf": "rowkey", "col": "key2", "type": "int"},
            "col1": {"cf": "cf1", "col": "col1", "type": "double"},
        },
    }
)


def basic_rows(n=256, tag="extra"):
    return [
        (
            "row%03d" % i,
            i % 2 == 0,
            float(i),
            float(i),
            i,
            i,
            i,
            f"String{i}: {tag}",
            i % 128,
        )
        for i in range(n)
    ]


BASIC_SCHEMA = (
    "col0 string, col1 boolean, col2 double, col3 float, col4 int, "
    "col5 long, col6 short, col7 string, col8 byte"
)


@pytest.fixture(scope="module")
def root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("shc_tables"))


@pytest.fixture(scope="module")
def basic_table(spark, root):
    df = spark.createDataFrame(basic_rows(), schema=BASIC_SCHEMA)
    write_table(df, CAT_BASIC, root=root, num_regions=5, mode="overwrite", timestamp=1000)
    return root


def test_full_scan_count(spark, basic_table):
    # DefaultSourceSuite.scala:206-210
    assert read_table(spark, CAT_BASIC, root=basic_table).count() == 256


def test_populated_distribution(spark, basic_table, root):
    # pre-split produced multiple non-empty regions (DefaultSourceSuite.scala:97-147)
    regions = json.load(open(f"{root}/default.basic/_regions.json"))
    assert len(regions) == 5
    assert sum(r["rows"] for r in regions) == 256
    assert all(r["rows"] > 0 for r in regions)
    # regions are disjoint and sorted
    for a, b in zip(regions, regions[1:]):
        assert a["end"] < b["start"]


def test_le_string_key(spark, basic_table):
    # "col0 <= 'row005'" -> 6 rows (DefaultSourceSuite.scala:212-218)
    df = read_table(spark, CAT_BASIC, root=basic_table)
    res = df.filter(F.col("col0") <= "row005").select("col0", "col1")
    assert res.count() == 6


def test_compound_disjunction(spark, basic_table):
    # (col0 <= row050 & col0 > row040) | col0 = row005 | col0 = row020
    # -> 12 rows (DefaultSourceSuite.scala:236-246 analog)
    df = read_table(spark, CAT_BASIC, root=basic_table)
    res = df.filter(
        ((F.col("col0") <= "row050") & (F.col("col0") > "row040"))
        | (F.col("col0") == "row005")
        | (F.col("col0") == "row020")
    )
    assert res.count() == 12


def test_in_and_notin_setdiff(spark, basic_table):
    # IN {row001,row002,row003} AND NOT IN {row002,row003} -> 1
    # (DefaultSourceSuite.scala:156-194)
    df = read_table(spark, CAT_BASIC, root=basic_table)
    keys = ["row001", "row002", "row003"]
    res = df.filter(F.col("col0").isin(keys) & ~F.col("col0").isin(keys[1:]))
    assert res.count() == 1


def test_string_contains_on_value_col(spark, basic_table):
    # col7 contains 'String3:' -> 1 (DefaultSourceSuite.scala:292-303)
    df = read_table(spark, CAT_BASIC, root=basic_table)
    assert df.filter(F.col("col7").contains("String3:")).count() == 1


def test_prefix_filter(spark, basic_table):
    df = read_table(spark, CAT_BASIC, root=basic_table)
    assert df.filter(F.col("col0").startswith("row25")).count() == 6  # 250..255


def test_sql_aggregate_over_view(spark, basic_table):
    # SQL count(col1) where col0 < 'row050' -> 50 (DefaultSourceSuite.scala:256-262)
    read_table(spark, CAT_BASIC, root=basic_table).createOrReplaceTempView("basic_t")
    got = spark.sql("SELECT count(col1) AS n FROM basic_t WHERE col0 < 'row050'").collect()
    assert got[0]["n"] == 50


def test_null_roundtrip(spark, basic_table, root):
    # nulls skipped on write, read back as null (DefaultSourceSuite.scala:414-428)
    rows = [("rowNul", None, None, None, None, None, None, None, None)]
    df = spark.createDataFrame(rows, schema=BASIC_SCHEMA)
    write_table(df, CAT_BASIC, root=root, timestamp=2000)
    out = read_table(spark, CAT_BASIC, root=root).filter(F.col("col0") == "rowNul")
    row = out.collect()[0]
    assert row["col4"] is None and row["col7"] is None


def test_append_merge_latest(spark, tmp_path):
    # append a newer generation for row001 with a changed col7; merge-to-latest
    # returns the new value but keeps old non-null cells
    # (DefaultSourceSuite.scala:397-412 + MaxVersionsSuite semantics).
    # ADVICE r13 #5: builds its OWN table (base + rowNul + update
    # generations) so the asserts hold under -k subset runs too,
    # instead of relying on earlier tests having mutated basic_table.
    root = str(tmp_path)
    base = spark.createDataFrame(basic_rows(), schema=BASIC_SCHEMA)
    write_table(base, CAT_BASIC, root=root, num_regions=5, mode="overwrite", timestamp=1000)
    nul = [("rowNul", None, None, None, None, None, None, None, None)]
    write_table(spark.createDataFrame(nul, schema=BASIC_SCHEMA), CAT_BASIC, root=root, timestamp=2000)
    rows = [("row001", None, None, None, 999, None, None, "String1: new", None)]
    df = spark.createDataFrame(rows, schema=BASIC_SCHEMA)
    write_table(df, CAT_BASIC, root=root, timestamp=3000)
    out = read_table(spark, CAT_BASIC, root=root).filter(F.col("col0") == "row001").collect()[0]
    assert out["col7"] == "String1: new"
    assert out["col4"] == 999
    assert out["col2"] == 1.0  # untouched older cell survives (null not stored)
    assert read_table(spark, CAT_BASIC, root=root).count() == 257  # still one row per key


def test_version_explode_and_maxversions(spark, tmp_path):
    # mergeToLatest=False -> one row per version (multiset, not Set —
    # deliberate divergence from HBaseTableScan.scala:245).
    # ADVICE r13 #5: own table (base ts1000 + row001 update ts3000) —
    # the "2 versions of row001" asserts no longer depend on
    # test_append_merge_latest having run first.
    root = str(tmp_path)
    base = spark.createDataFrame(basic_rows(), schema=BASIC_SCHEMA)
    write_table(base, CAT_BASIC, root=root, num_regions=5, mode="overwrite", timestamp=1000)
    upd = [("row001", None, None, None, 999, None, None, "String1: new", None)]
    write_table(spark.createDataFrame(upd, schema=BASIC_SCHEMA), CAT_BASIC, root=root, timestamp=3000)
    all_v = read_table(spark, CAT_BASIC, root=root, merge_to_latest=False)
    assert all_v.filter(F.col("col0") == "row001").count() == 2
    # maxVersions=1 + explode -> per-CELL budgets (HBase VERSIONS
    # granularity): the ts-3000 row keeps col4/col7's newest versions,
    # and the ts-1000 row survives because it holds the ONLY versions
    # of the other columns — with col4/col7 nulled there (over budget)
    newest = read_table(
        spark, CAT_BASIC, root=root, merge_to_latest=False, max_versions=1, keep_internal=True
    )
    r = sorted(
        newest.filter(F.col("col0") == "row001").collect(), key=lambda x: -x["__ts"]
    )
    assert len(r) == 2
    assert r[0]["__ts"] == 3000 and r[0]["col4"] == 999 and r[0]["col7"] == "String1: new"
    assert r[1]["__ts"] == 1000 and r[1]["col4"] is None and r[1]["col2"] == 1.0
    # timestamp= pins an exact version (MaxVersionsSuite.scala:45-98 analog)
    at1000 = read_table(spark, CAT_BASIC, root=root, timestamp=1000)
    assert at1000.filter(F.col("col0") == "row001").collect()[0]["col7"] == "String1: extra"
    # half-open [min, max) time range
    ranged = read_table(spark, CAT_BASIC, root=root, min_stamp=1000, max_stamp=3000)
    assert ranged.filter(F.col("col0") == "row001").collect()[0]["col7"] == "String1: extra"


def test_intkey_sign_order(spark, root):
    # F2: col0 = i if i%2==0 else -i, i in 0..31 (DataTypeSuite.scala:90-151)
    rows = [(i if i % 2 == 0 else -i, i) for i in range(32)]
    df = spark.createDataFrame(rows, schema="col0 int, col4 int")
    write_table(df, CAT_INTKEY, root=root, num_regions=4, mode="overwrite")
    t = read_table(spark, CAT_INTKEY, root=root)
    assert t.count() == 32
    assert t.filter(F.col("col0") < 0).count() == 16
    assert t.filter(F.col("col0") <= -10).count() == 11
    assert t.filter(F.col("col0") > 10).count() == 10
    assert t.filter((F.col("col0") > -10) & (F.col("col0") <= 10)).count() == 11


def test_composite_key(spark, root):
    # F3: rowkey = string(6) : int; col00 = row%03d, col01 = i if even else -i
    rows = [("row%03d" % i, i if i % 2 == 0 else -i, float(i)) for i in range(256)]
    df = spark.createDataFrame(rows, schema="col00 string, col01 int, col1 double")
    write_table(df, CAT_COMPOSITE, root=root, num_regions=4, mode="overwrite")
    t = read_table(spark, CAT_COMPOSITE, root=root)
    assert t.count() == 256
    # CompositeKeySuite.scala:100-106: col00 <= 'row050' AND col01 > 40 -> 5
    assert t.filter((F.col("col00") <= "row050") & (F.col("col01") > 40)).count() == 5
    # :132-138: col00 == 'row010' -> 1
    assert t.filter(F.col("col00") == "row010").count() == 1
    # roundtrip of both dims
    row = t.filter(F.col("col00") == "row013").collect()[0]
    assert row["col01"] == -13


def test_dynamic_and_version_maps(spark, root):
    # DynamicColumnSuite.scala:109-123: map<string,T> column roundtrip +
    # per-qualifier merge across appends
    cat = json.dumps(
        {
            "table": {"namespace": "default", "name": "dyn", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "key": {"cf": "rowkey", "col": "key", "type": "string"},
                "dyn": {"cf": "cf1", "col": "", "type": "map<string,int>"},
            },
        }
    )
    df1 = spark.createDataFrame(
        [("r1", {"a": 0, "b": 2}), ("r2", {"x": 9})], schema="key string, dyn map<string,int>"
    )
    write_table(df1, cat, root=root, num_regions=4, mode="overwrite", timestamp=100)
    df2 = spark.createDataFrame([("r1", {"a": 1})], schema="key string, dyn map<string,int>")
    write_table(df2, cat, root=root, timestamp=200)

    # scalar merge: latest non-null map wins
    scalar = read_table(spark, cat, root=root)
    assert scalar.filter("key = 'r1'").collect()[0]["dyn"] == {"a": 1}
    # per-qualifier overlay: newer a=1 shadows a=0, b survives
    merged = read_table(spark, cat, root=root, merge_dynamic_maps=True)
    assert merged.filter("key = 'r1'").collect()[0]["dyn"] == {"a": 1, "b": 2}
    assert merged.filter("key = 'r2'").collect()[0]["dyn"] == {"x": 9}


def test_partition_pruning_effective(spark, basic_table, root):
    """Point lookup plans only ONE input partition (region pruning,
    HBaseTableScan.scala:63-89): verified via the physical plan's
    'number of output rows' after scan < total."""
    from shc_spark.catalog import parse_catalog
    from shc_spark.coders import get_coder
    from shc_spark.filters import HRF, ScanRange
    from shc_spark.sources.shc_source import ShcReader

    # plan-level check without Spark: reader with a point range keeps 1 region
    reader = ShcReader(None, {"catalog": CAT_BASIC, "root": root})
    coder = get_coder("OrderedType")
    from pyspark.sql import types as T

    k = coder.to_bytes("row100", T.StringType())
    reader.hrf = HRF([ScanRange(k, True, k, True)], True)
    parts = reader.partitions()
    real = [p for p in parts if p.path]
    # only generations containing row100's region remain (1 from the 256-row
    # overwrite gen + appends whose single file may overlap)
    assert 1 <= len(real) <= 3
    all_parts = ShcReader(None, {"catalog": CAT_BASIC, "root": root}).partitions()
    assert len(real) < len([p for p in all_parts if p.path])


def test_key_in_pushdown_consumed_and_pruned(spark, basic_table, root):
    """A key ``In`` in the shape Spark passes (pyspark.sql.datasource.In,
    values in ``value``) is fully handled: pushFilters yields nothing
    back for Spark to re-evaluate, and only the keys' regions are
    planned (the multi-Get batch, HBaseFilter.scala:369-378)."""
    from pyspark.sql.datasource import In

    from shc_spark.sources.shc_source import ShcReader

    reader = ShcReader(None, {"catalog": CAT_BASIC, "root": root})
    assert list(reader.pushFilters([In(("col0",), ("row010", "row011"))])) == []
    real = [p for p in reader.partitions() if p.path]
    all_parts = ShcReader(None, {"catalog": CAT_BASIC, "root": root}).partitions()
    assert 1 <= len(real) < len([p for p in all_parts if p.path])
    got = read_table(spark, CAT_BASIC, root=basic_table).filter(
        F.col("col0").isin("row010", "row011", "row200")
    )
    assert sorted(r["col0"] for r in got.select("col0").collect()) == [
        "row010", "row011", "row200"
    ]


def test_phoenix_coder_composite(spark, root):
    """PhoenixType coder through the source: var-length dims with NUL
    separators (PhoenixCompositeKeySuite.scala:79-176 analog)."""
    cat = json.dumps(
        {
            "table": {"namespace": "default", "name": "phx", "tableCoder": "PhoenixType", "version": "2.0"},
            "rowkey": "key1:key2",
            "columns": {
                "name": {"cf": "rowkey", "col": "key1", "type": "string"},
                "seq": {"cf": "rowkey", "col": "key2", "type": "int"},
                "val": {"cf": "cf1", "col": "v", "type": "double"},
            },
        }
    )
    rows = [(f"user{i % 7}", i, float(i)) for i in range(64)]
    df = spark.createDataFrame(rows, schema="name string, seq int, val double")
    write_table(df, cat, root=root, num_regions=4, mode="overwrite")
    t = read_table(spark, cat, root=root)
    assert t.count() == 64
    # both dims roundtrip through the NUL-separated encoding
    got = t.filter((F.col("name") == "user3") & (F.col("seq") == 10)).collect()
    assert len(got) == 1 and got[0]["val"] == 10.0
    # prefix pushdown on the var-length first dim (superset + re-filter)
    assert t.filter(F.col("name").startswith("user1")).count() == 9


def test_primitive_coder_signed_int_keys(spark, root):
    """The §4.2 sign hazard with the RAW HBase coder: negative int keys
    sort byte-wise ABOVE positives, so range pushdown must disable
    itself (points-only) and fall back to Spark re-filtering. Counts
    from DataTypeSuite.scala:90-151."""
    cat = json.dumps(
        {
            "table": {"namespace": "default", "name": "prim_ik", "tableCoder": "PrimitiveType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "col0": {"cf": "rowkey", "col": "key", "type": "int"},
                "col4": {"cf": "cf4", "col": "col4", "type": "int"},
            },
        }
    )
    rows = [(i if i % 2 == 0 else -i, i) for i in range(32)]
    df = spark.createDataFrame(rows, schema="col0 int, col4 int")
    write_table(df, cat, root=root, num_regions=4, mode="overwrite")
    t = read_table(spark, cat, root=root)
    assert t.count() == 32
    assert t.filter(F.col("col0") < 0).count() == 16
    assert t.filter(F.col("col0") <= -10).count() == 11
    assert t.filter(F.col("col0") > 10).count() == 10
    assert t.filter((F.col("col0") > -10) & (F.col("col0") <= 10)).count() == 11
    # equality/IN still push as exact points under any injective coder
    assert t.filter(F.col("col0") == -13).count() == 1
    assert t.filter(F.col("col0").isin(-13, 4, 99)).count() == 2


def test_bulk_get(spark, basic_table, root):
    """S11 BulkGet: IN-list of keys -> point-range pushdown, exact rows."""
    from shc_spark.sources import bulk_get

    got = bulk_get(spark, CAT_BASIC, ["row010", "row200", "rowNope"], root=root)
    rows = {r["col0"]: r["col4"] for r in got.collect()}
    assert rows == {"row010": 10, "row200": 200}


def test_phoenix_varlen_exclusive_start_not_narrowed(spark, root):
    """ADVICE r1: `name > 'user3'` on a VAR-LENGTH first dim must not
    be rewritten to key >= next_prefix('user3') — that would prune
    'user30' (key b'user30\\x00...' < b'user4'). Spark re-filters the
    superset, so correctness == completeness here."""
    cat = json.dumps(
        {
            "table": {"namespace": "default", "name": "phxvl", "tableCoder": "PhoenixType", "version": "2.0"},
            "rowkey": "key1:key2",
            "columns": {
                "name": {"cf": "rowkey", "col": "key1", "type": "string"},
                "seq": {"cf": "rowkey", "col": "key2", "type": "int"},
                "val": {"cf": "cf1", "col": "v", "type": "double"},
            },
        }
    )
    names = ["user1", "user3", "user30", "user31", "user4", "zed"]
    rows = [(nm, i, float(i)) for i, nm in enumerate(names)]
    df = spark.createDataFrame(rows, schema="name string, seq int, val double")
    write_table(df, cat, root=root, num_regions=4, mode="overwrite")

    got = {r["name"] for r in read_table(spark, cat, root=root).filter(F.col("name") > "user3").collect()}
    assert got == {"user30", "user31", "user4", "zed"}
    # Not(EqualTo) reaches the same exclusive-start path
    got2 = {r["name"] for r in read_table(spark, cat, root=root).filter(F.col("name") != "user3").collect()}
    assert got2 == set(names) - {"user3"}
    # inclusive-end rewrite must keep prefix-extensions of shorter names
    got3 = {r["name"] for r in read_table(spark, cat, root=root).filter(F.col("name") <= "user30").collect()}
    assert got3 == {"user1", "user3", "user30"}


def test_split_point_hints(spark, tmp_path):
    """Explicit min/maxTableSplitPoint pre-split: no sampling pass,
    one region per populated bucket, tight disjoint ranges, and the
    read path (incl. pushdown + shuffle-free merge skip) unchanged."""
    import json as _json

    root = str(tmp_path / "hints")
    cat = _json.dumps(
        {
            "table": {"namespace": "h", "name": "t", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "minTableSplitPoint": "user1",
            "maxTableSplitPoint": "user9",
            "columns": {
                "name": {"cf": "rowkey", "col": "key", "type": "string"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    df = spark.createDataFrame(
        [(f"user{i % 10}_{i:03d}", i) for i in range(200)], "name string, v int"
    )
    write_table(df, cat, root=root, num_regions=6, mode="overwrite", timestamp=1)
    regions = _json.load(open(f"{root}/h.t/_regions.json"))
    assert len(regions) >= 4  # populated buckets became regions
    spans = sorted((r["start"], r["end"]) for r in regions)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert s2 > e1  # pairwise disjoint -> merge-free reads
    assert all(r["unique"] for r in regions)
    t = read_table(spark, cat, root=root)
    assert t.count() == 200
    got = t.filter(F.col("name") >= "user8").count()
    assert got == spark.createDataFrame(
        [(f"user{i % 10}_{i:03d}",) for i in range(200)], "name string"
    ).filter(F.col("name") >= "user8").count()


def test_overwrite_vacuums_old_generations(spark, tmp_path):
    """Repeated overwrites must not accumulate orphan generation files
    (VERDICT r1 'what's missing' #6)."""
    import json as _json
    import os as _os

    root = str(tmp_path / "vac")
    cat = _json.dumps(
        {
            "table": {"namespace": "h", "name": "vac", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    df = spark.createDataFrame([(i, i) for i in range(20)], "k long, v int")
    for _ in range(3):
        write_table(df, cat, root=root, num_regions=4, mode="overwrite", timestamp=1)
    gens = [e for e in _os.listdir(f"{root}/h.vac") if e.startswith("gen=")]
    assert len(gens) == 1, gens
    assert read_table(spark, cat, root=root).count() == 20
    # append after overwrite keeps both generations
    write_table(df.withColumn("v", F.col("v") + 1), cat, root=root, timestamp=2)
    gens = [e for e in _os.listdir(f"{root}/h.vac") if e.startswith("gen=")]
    assert len(gens) == 2
    got = {r["k"]: r["v"] for r in read_table(spark, cat, root=root).collect()}
    assert got[5] == 6  # latest wins through the merge read


def test_avro_coded_rowkey(spark, tmp_path):
    """Avro-serialized record as the rowkey itself
    (AvroSourceKeySuite.scala analog): write structs for key and value
    cells, read both back decoded, filters evaluated above the scan."""
    import json as _json

    root = str(tmp_path / "avrokey")
    avro_schema = _json.dumps(
        {
            "type": "record",
            "name": "User",
            "fields": [
                {"name": "name", "type": "string"},
                {"name": "favorite_number", "type": ["int", "null"]},
                {"name": "favorite_color", "type": ["string", "null"]},
            ],
        }
    )
    cat = _json.dumps(
        {
            "table": {"namespace": "t", "name": "avrokey", "tableCoder": "PrimitiveType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "col0": {"cf": "rowkey", "col": "key", "avro": "avroSchema"},
                "col1": {"cf": "cf1", "col": "col1", "avro": "avroSchema"},
            },
            "avroSchema": avro_schema,
        }
    )
    ddl = (
        "col0 struct<name:string,favorite_number:int,favorite_color:string>, "
        "col1 struct<name:string,favorite_number:int,favorite_color:string>"
    )
    df = spark.createDataFrame(
        [((f"name{i:03d}", i, f"color{i:03d}"),) * 2 for i in range(6)], ddl
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite", timestamp=1)
    out = read_table(spark, cat, root=root)
    assert out.schema["col0"].dataType == out.schema["col1"].dataType
    rows = {r["col0"]["name"]: r for r in out.collect()}
    assert len(rows) == 6
    assert rows["name002"]["col1"]["favorite_number"] == 2
    assert rows["name002"]["col0"]["favorite_color"] == "color002"
    # filters on the decoded struct evaluate above the scan
    got = out.filter(F.col("col0.favorite_number") >= 4).count()
    assert got == 2


def test_stream_source_tails_generations(spark, tmp_path):
    """Streaming SOURCE over an shc table: each append generation
    arrives as the next micro-batch; raw version rows, exact counts."""
    import json as _json
    import uuid as _uuid

    from shc_spark.sources import read_stream_table

    root = str(tmp_path / "tail")
    cat = _json.dumps(
        {
            "table": {"namespace": "t", "name": "tail", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "string"},
            },
        }
    )
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(20)], "k long, v string")
    write_table(df1, cat, root=root, num_regions=4, mode="overwrite", timestamp=1)
    name = f"m_{_uuid.uuid4().hex[:8]}"
    q = (
        read_stream_table(spark, cat, root=root, keep_internal=True)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 20
        df2 = spark.createDataFrame([(i, f"b{i}") for i in range(5)], "k long, v string")
        write_table(df2, cat, root=root, timestamp=2)
        q.processAllAvailable()
        got = spark.table(name)
        assert got.count() == 25
        # both versions of an updated key present, distinguished by __ts
        vers = {r["__ts"]: r["v"] for r in got.filter(F.col("k") == 3).collect()}
        assert vers == {1: "a3", 2: "b3"}
        # starting_offsets=latest skips existing generations
        name2 = f"m_{_uuid.uuid4().hex[:8]}"
        q2 = (
            read_stream_table(spark, cat, root=root, starting_offsets="latest")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name2)
            .start()
        )
        try:
            q2.processAllAvailable()
            assert spark.table(name2).count() == 0
        finally:
            q2.stop()
    finally:
        q.stop()


def test_major_compaction(spark, tmp_path):
    """compact_table rewrites N generations into one: merge and
    version-exploded reads are unchanged, old generation dirs are
    vacuumed; max_versions retention keeps only the newest row
    versions per key."""
    import os

    from shc_spark.sources import compact_table

    cat = json.dumps(
        {
            "table": {"namespace": "c", "name": "cmp", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    path = f"{root}/c.cmp"
    mk = lambda lo, hi, mult: spark.createDataFrame(
        [(i, i * mult) for i in range(lo, hi)], "k int, v int"
    )
    write_table(mk(0, 100, 1), cat, root=root, num_regions=4, timestamp=1000)
    write_table(mk(50, 150, 10), cat, root=root, mode="append", timestamp=2000)
    write_table(mk(75, 100, 100), cat, root=root, mode="append", timestamp=3000)

    def snap(**kw):
        return sorted(
            (r["k"], r["v"]) for r in read_table(spark, cat, root=root, **kw).collect()
        )

    merged_before = snap()
    explode_before = snap(merge_to_latest=False)
    gens_before = [e for e in os.listdir(path) if e.startswith("gen=")]
    assert len(gens_before) == 3

    compact_table(spark, cat, root=root, num_regions=4)
    gens = [e for e in os.listdir(path) if e.startswith("gen=")]
    assert len(gens) == 1
    assert snap() == merged_before
    assert snap(merge_to_latest=False) == explode_before
    # appends on the compacted base still merge correctly
    write_table(mk(0, 10, 1000), cat, root=root, mode="append", timestamp=4000)
    assert snap()[0] == (0, 0)
    assert dict(snap())[5] == 5000

    # retention: newest row version per key only
    compact_table(spark, cat, root=root, num_regions=4, max_versions=1)
    assert snap(merge_to_latest=False) == snap()
    assert len(snap()) == 150


def test_secondary_index_lookup_refresh_and_staleness(spark, tmp_path):
    """Phoenix-pattern secondary index: build snapshots, lookup
    resolves via the index + bulk_get + recheck, refresh folds ONLY
    appended generations, and stale entries (updated rows) never
    surface wrong rows."""
    from shc_spark.sources import SecondaryIndex

    cat = json.dumps(
        {
            "table": {"namespace": "x", "name": "cust", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "c_custkey": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "c_mktsegment": {"cf": "cf", "col": "s", "type": "string"},
                "c_acctbal": {"cf": "cf", "col": "b", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    ix = SecondaryIndex(spark, cat, "c_mktsegment", root=root)
    ix.build()

    def want(seg):
        return sorted(
            r["c_custkey"]
            for r in df.filter(F.col("c_mktsegment") == seg).collect()
        )

    assert sorted(r["c_custkey"] for r in ix.lookup("BUILDING").collect()) == want("BUILDING")
    lo_hi = ix.lookup_range("AUTOMOBILE", "BUILDINGZ")
    assert lo_hi.count() == df.filter(
        (F.col("c_mktsegment") >= "AUTOMOBILE") & (F.col("c_mktsegment") < "BUILDINGZ")
    ).count()

    # append: new rows + an UPDATE flipping one customer out of BUILDING
    moved = df.filter(F.col("c_mktsegment") == "BUILDING").limit(1).collect()[0]
    extra = spark.createDataFrame(
        [(99991, "BUILDING", 1.0), (moved["c_custkey"], "MACHINERY", 2.0)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    write_table(extra, cat, root=root, mode="append", timestamp=2000)
    ix.refresh()

    got = sorted(r["c_custkey"] for r in ix.lookup("BUILDING").collect())
    expect = sorted(set(want("BUILDING")) - {moved["c_custkey"]} | {99991})
    # the moved customer's old index entry is stale; the recheck must
    # drop it while the new 99991 row (from refresh) appears
    assert got == expect
    # and the moved customer is found under its NEW segment
    assert moved["c_custkey"] in {
        r["c_custkey"] for r in ix.lookup("MACHINERY").collect()
    }


def test_secondary_index_wide_range_never_collects_keys(spark, tmp_path, monkeypatch):
    """A wide lookup_range must NOT materialize the matching key set on
    the driver: above max_fetch_keys the fetch switches to a
    distributed semi-join and bulk_get is never called (round-3
    VERDICT #4 — the collect is capped at max_fetch_keys + 1)."""
    from shc_spark import sources as S
    from shc_spark.sources import SecondaryIndex

    cat = json.dumps(
        {
            "table": {"namespace": "x", "name": "custw", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "c_custkey": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "c_mktsegment": {"cf": "cf", "col": "s", "type": "string"},
                "c_acctbal": {"cf": "cf", "col": "b", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    ix = SecondaryIndex(spark, cat, "c_acctbal", root=root)
    ix.build()
    ix.max_fetch_keys = 5  # force the wide path for any real range

    def boom(*a, **kw):
        raise AssertionError("bulk_get must not run for a wide range")

    monkeypatch.setattr(S, "bulk_get", boom)
    wide = ix.lookup_range(0.0, None)  # matches most of the table
    expect = df.filter(F.col("c_acctbal") >= 0.0)
    assert wide.count() == expect.count()
    assert sorted(r["c_custkey"] for r in wide.collect()) == sorted(
        r["c_custkey"] for r in expect.collect()
    )

    # selective lookups still take the bulk_get fast path
    monkeypatch.undo()
    ix2 = SecondaryIndex(spark, cat, "c_acctbal", root=root)
    calls = []
    real = S.bulk_get

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(S, "bulk_get", spy)
    bal0 = df.orderBy("c_custkey").limit(1).collect()[0]["c_acctbal"]
    few = ix2.lookup_range(bal0, bal0 + 0.005)
    n_few = df.filter(
        (F.col("c_acctbal") >= bal0) & (F.col("c_acctbal") < bal0 + 0.005)
    ).count()
    assert 1 <= n_few <= 5 and few.count() == n_few
    assert calls, "selective range should use bulk_get"


def test_embedding_near_dups_refuses_oversized_corpus(spark):
    """The exact O(n^2) baseline collects the corpus to the driver —
    it must refuse above max_rows instead of OOMing at scale."""
    import pytest

    from shc_spark.operators.dedup import embedding_near_dups

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="O\\(n\\^2\\) baseline"):
        embedding_near_dups(df, "embedding", "vec_id", 0.9, max_rows=100)
    # under the cap it still works
    small = df.limit(50)
    out = embedding_near_dups(small, "embedding", "vec_id", 0.5, max_rows=100)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() >= 0


def test_delete_tombstones_and_compaction_purge(spark, tmp_path):
    """HBase Delete lifecycle: tombstone masks older versions on merge
    reads, a newer put resurrects, compaction purges physically."""
    from shc_spark.sources import compact_table, delete_rows

    cat = json.dumps(
        {
            "table": {"namespace": "d", "name": "t", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k int, v int")
    write_table(df, cat, root=root, num_regions=4, timestamp=1000)

    delete_rows(spark, cat, [3, 7, 11, 19], root=root, timestamp=2000)
    t = read_table(spark, cat, root=root)
    assert sorted(r["k"] for r in t.collect()) == sorted(set(range(20)) - {3, 7, 11, 19})
    # deleting a nonexistent key is harmless and emits no ghost row
    delete_rows(spark, cat, [999], root=root, timestamp=2100)
    assert read_table(spark, cat, root=root).count() == 16

    # resurrect k=7 with a newer put
    write_table(
        spark.createDataFrame([(7, 777)], "k int, v int"), cat, root=root,
        mode="append", timestamp=3000,
    )
    t = read_table(spark, cat, root=root)
    assert dict((r["k"], r["v"]) for r in t.collect())[7] == 777
    assert t.count() == 17

    # pushdown over a deleted key returns nothing
    assert t.filter(F.col("k") == 3).count() == 0

    # major compaction purges: one generation, same logical view,
    # no masked versions in the exploded read
    compact_table(spark, cat, root=root, num_regions=4)
    t2 = read_table(spark, cat, root=root)
    assert t2.count() == 17
    assert dict((r["k"], r["v"]) for r in t2.collect())[7] == 777
    exploded = read_table(spark, cat, root=root, merge_to_latest=False)
    assert exploded.count() == 17  # masked versions and tombstones gone


def test_delete_masks_complex_typed_table(spark, tmp_path):
    """Deletes must NOT resurrect on the Spark-side groupBy merge
    fallback: a non-Avro array/map column disables the in-source LSM
    merge, and that path needs its own tombstone masking (round-3
    ADVICE high — before the fix, deleted keys returned on read_table
    for complex-typed catalogs while the flat twin hid them)."""
    from shc_spark.sources import delete_rows

    cat = json.dumps(
        {
            "table": {"namespace": "d", "name": "cx", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
                "tags": {"cf": "cf", "col": "tg", "type": "array<string>"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.createDataFrame(
        [(i, i * 10, [f"t{i}", "x"]) for i in range(12)],
        "k int, v int, tags array<string>",
    )
    write_table(df, cat, root=root, num_regions=4, timestamp=1000)
    # second generation so the merge is not a noop, then delete
    write_table(
        spark.createDataFrame([(1, 111, ["new"])], "k int, v int, tags array<string>"),
        cat, root=root, mode="append", timestamp=1500,
    )
    delete_rows(spark, cat, [2, 5, 9], root=root, timestamp=2000)

    t = read_table(spark, cat, root=root)
    assert sorted(r["k"] for r in t.collect()) == sorted(set(range(12)) - {2, 5, 9})
    got = {r["k"]: (r["v"], r["tags"]) for r in t.collect()}
    assert got[1] == (111, ["new"])  # merge still picks latest version

    # newer put resurrects through the same fallback path
    write_table(
        spark.createDataFrame([(5, 555, ["back"])], "k int, v int, tags array<string>"),
        cat, root=root, mode="append", timestamp=3000,
    )
    t2 = read_table(spark, cat, root=root)
    assert {r["k"]: r["v"] for r in t2.collect()}[5] == 555
    assert t2.count() == 10

    # raw history read: tombstone rows hidden, pre-delete versions
    # visible — the SAME contract as the flat-catalog raw scan
    raw = read_table(spark, cat, root=root, merge_to_latest=False)
    assert sorted({r["k"] for r in raw.collect()}) == list(range(12))
    # time travel before the delete sees everything
    old = read_table(spark, cat, root=root, max_stamp=1999)
    assert old.count() == 12


def test_compaction_ttl_retention(spark, tmp_path):
    """compact_table(min_stamp=...) drops expired versions; keys whose
    every version expired disappear (HBase TTL-at-compaction)."""
    from shc_spark.sources import compact_table

    cat = json.dumps(
        {
            "table": {"namespace": "d", "name": "ttl", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    old = spark.createDataFrame([(i, 1) for i in range(10)], "k int, v int")
    new = spark.createDataFrame([(i, 2) for i in range(5)], "k int, v int")
    write_table(old, cat, root=root, num_regions=4, timestamp=1000)
    write_table(new, cat, root=root, mode="append", timestamp=2000)
    compact_table(spark, cat, root=root, num_regions=4, min_stamp=1500)
    t = read_table(spark, cat, root=root)
    assert sorted((r["k"], r["v"]) for r in t.collect()) == [(i, 2) for i in range(5)]


def test_delete_lifecycle_randomized_model(spark, tmp_path):
    """Seeded random program of put/delete/compact ops checked after
    every step against a pure-python model of HBase semantics (latest
    put wins unless masked by a >=-ts tombstone)."""
    import numpy as np

    from shc_spark.sources import compact_table, delete_rows

    cat = json.dumps(
        {
            "table": {"namespace": "d", "name": "rand", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    rng = np.random.RandomState(7)
    KEYS = list(range(12))
    puts: dict = {}  # key -> (ts, value) latest put
    tombs: dict = {}  # key -> max tombstone ts
    ts = 1000

    first = True
    for step in range(8):
        op = rng.choice(["put", "delete", "compact"], p=[0.5, 0.3, 0.2])
        if first:
            op = "put"
        if op == "put":
            ks = sorted(rng.choice(KEYS, size=rng.randint(1, 6), replace=False).tolist())
            rows = [(int(k), int(k * 1000 + ts % 1000)) for k in ks]
            df = spark.createDataFrame(rows, "k int, v int")
            if first:
                write_table(df, cat, root=root, num_regions=4, timestamp=ts)
                first = False
            else:
                write_table(df, cat, root=root, mode="append", timestamp=ts)
            for k, v in rows:
                puts[k] = (ts, v)
        elif op == "delete":
            ks = sorted(rng.choice(KEYS, size=rng.randint(1, 4), replace=False).tolist())
            delete_rows(spark, cat, [int(k) for k in ks], root=root, timestamp=ts)
            for k in ks:
                tombs[k] = max(tombs.get(k, -1), ts)
        else:
            compact_table(spark, cat, root=root, num_regions=4)
            # compaction purges masked versions; the LATEST-put model
            # is unchanged (visible view must not change)
        ts += 1000

        expect = sorted(
            (k, v)
            for k, (pts, v) in puts.items()
            if pts > tombs.get(k, -1)
        )
        got = sorted(
            (r["k"], r["v"])
            for r in read_table(spark, cat, root=root).collect()
        )
        assert got == expect, f"step {step} ({op}): {got} != {expect}"


def test_vacuum_removes_only_orphans(spark, tmp_path):
    """vacuum_table deletes unreferenced region files past the grace
    period, never committed ones or fresh staging files."""
    import os
    import time

    from shc_spark.sources import vacuum_table

    cat = json.dumps(
        {
            "table": {"namespace": "d", "name": "vac", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.createDataFrame([(i, i) for i in range(10)], "k int, v int")
    write_table(df, cat, root=root, num_regions=4)
    path = f"{root}/d.vac"

    # plant an orphan (aborted-attempt stand-in): old + fresh
    orphan_dir = os.path.join(path, "gen=stream-orphan")
    os.makedirs(orphan_dir)
    old_orphan = os.path.join(orphan_dir, "region-dead.parquet")
    fresh_orphan = os.path.join(orphan_dir, "region-inflight.parquet")
    for p in (old_orphan, fresh_orphan):
        with open(p, "wb") as fh:
            fh.write(b"x")
    os.utime(old_orphan, (time.time() - 7200, time.time() - 7200))

    # plant an EMPTY fresh staging dir — an in-flight task that has
    # not opened its first region file yet; vacuum must leave it
    inflight_dir = os.path.join(path, "gen=stream-inflight")
    os.makedirs(inflight_dir)
    # and an empty STALE staging dir, which should be swept
    stale_dir = os.path.join(path, "gen=stream-stale")
    os.makedirs(stale_dir)
    os.utime(stale_dir, (time.time() - 7200, time.time() - 7200))

    n_before = read_table(spark, cat, root=root).count()
    deleted = vacuum_table(cat, root=root, grace_seconds=3600)
    assert deleted == [old_orphan]
    assert os.path.exists(fresh_orphan)
    assert os.path.isdir(inflight_dir)  # grace applies to dirs too
    assert not os.path.exists(stale_dir)
    assert read_table(spark, cat, root=root).count() == n_before

    # a table dir with staged files but NO committed manifest is an
    # in-flight first write, not an error: vacuum is a no-op within
    # the grace period
    import shutil

    newpath = os.path.join(root, "d.vacnew")
    os.makedirs(os.path.join(newpath, "gen=stream-first"))
    with open(os.path.join(newpath, "gen=stream-first", "region-0.parquet"), "wb") as fh:
        fh.write(b"x")
    newcat = cat.replace('"name": "vac"', '"name": "vacnew"')
    assert vacuum_table(newcat, root=root, grace_seconds=3600) == []
    assert os.path.exists(os.path.join(newpath, "gen=stream-first", "region-0.parquet"))
    shutil.rmtree(newpath)


def test_snapshot_export_import_roundtrip(spark, tmp_path):
    """Merged export is plain parquet of the latest view; versioned
    export + import preserves history (time travel still works)."""
    from shc_spark.sources import export_snapshot, import_snapshot

    def cat(name):
        return json.dumps(
            {
                "table": {"namespace": "s", "name": name, "tableCoder": "OrderedType", "version": "2.0"},
                "rowkey": "key",
                "columns": {
                    "k": {"cf": "rowkey", "col": "key", "type": "int"},
                    "v": {"cf": "cf", "col": "v", "type": "int"},
                },
            }
        )

    root = str(tmp_path / "tables")
    write_table(
        spark.createDataFrame([(i, i) for i in range(20)], "k int, v int"),
        cat("src"), root=root, num_regions=4, timestamp=1000,
    )
    write_table(
        spark.createDataFrame([(i, i * 100) for i in range(5)], "k int, v int"),
        cat("src"), root=root, mode="append", timestamp=2000,
    )

    # merged export: latest view as plain parquet
    dest = str(tmp_path / "plain")
    export_snapshot(spark, cat("src"), dest, root=root)
    plain = spark.read.parquet(dest)
    assert dict((r["k"], r["v"]) for r in plain.collect())[3] == 300
    assert plain.count() == 20
    assert set(plain.columns) == {"k", "v"}

    # versioned export -> import into a NEW table preserves history
    vdest = str(tmp_path / "versioned")
    export_snapshot(spark, cat("src"), vdest, root=root, merged=False)
    import_snapshot(spark, cat("dst"), vdest, root=root)
    back = read_table(spark, cat("dst"), root=root)
    assert dict((r["k"], r["v"]) for r in back.collect())[3] == 300
    old = read_table(spark, cat("dst"), root=root, timestamp=1000)
    assert dict((r["k"], r["v"]) for r in old.collect())[3] == 3
    assert read_table(spark, cat("dst"), root=root, merge_to_latest=False).count() == 25


def test_composite_secondary_index(spark, tmp_path):
    """Composite index on (segment, nation): leading column prunes,
    second column refines; both-column lookup matches the base scan."""
    from shc_spark.sources import SecondaryIndex

    cat = json.dumps(
        {
            "table": {"namespace": "x", "name": "cust2", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "c_custkey": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "c_mktsegment": {"cf": "cf", "col": "s", "type": "string"},
                "c_nationkey": {"cf": "cf", "col": "n", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite")
    ix = SecondaryIndex(spark, cat, ["c_mktsegment", "c_nationkey"], root=root)
    ix.build()

    seg, nk = df.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_mktsegment", "c_nationkey"
    ).first()
    got = sorted(r["c_custkey"] for r in ix.lookup(seg, nk).collect())
    want = sorted(
        r["c_custkey"]
        for r in df.filter(
            (F.col("c_mktsegment") == seg) & (F.col("c_nationkey") == nk)
        ).collect()
    )
    assert got == want and got  # non-empty
    # leading-column-only lookup also works
    assert ix.lookup("BUILDING").count() == df.filter(
        F.col("c_mktsegment") == "BUILDING"
    ).count()


def test_maxversions_suite_matrix(spark, tmp_path):
    """MaxVersionsSuite.scala:45-98 replayed exactly: four timestamped
    generations (keys 0-2, newest only 0-1), table-level VERSIONS=3
    retention (via compaction), then the maxVersions x mergeToLatest
    matrix with the reference's row/marker counts."""
    from shc_spark.sources import compact_table

    cat = json.dumps(
        {
            "table": {"namespace": "mv", "name": "t", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "col0": {"cf": "rowkey", "col": "key", "type": "string"},
                "col7": {"cf": "cf7", "col": "col7", "type": "string"},
            },
        }
    )
    root = str(tmp_path)
    stamps = {
        "ancient": 754869600000,
        "old": 754869611111,
        "new": 754869622222,
        "latest": 754869633333,
    }
    for marker, ts in stamps.items():
        n = 2 if marker == "latest" else 3
        df = spark.createDataFrame(
            [(f"row{i}", f"String{i}: {marker}") for i in range(n)],
            "col0 string, col7 string",
        )
        write_table(df, cat, root=root, num_regions=5, timestamp=ts, mode="append" if marker != "ancient" else "overwrite")
    # the reference table is created with VERSIONS=3: the store itself
    # retains at most 3 versions per cell — our analog is compaction
    # with max_versions retention
    compact_table(spark, cat, root=root, num_regions=5, max_versions=3)

    def markers(df):
        from collections import Counter

        return Counter(r["col7"].split(": ")[1] for r in df.collect())

    two = read_table(spark, cat, root=root, merge_to_latest=False, max_versions=2)
    assert two.select("col0").distinct().count() == 3
    assert two.count() == 6
    assert markers(two) == {"old": 1, "new": 3, "latest": 2}

    four = read_table(spark, cat, root=root, merge_to_latest=False, max_versions=4)
    assert four.count() == 9  # capped at 3 by the store, like VERSIONS=3
    assert markers(four) == {"ancient": 1, "old": 3, "new": 3, "latest": 2}

    last = read_table(spark, cat, root=root)
    assert last.count() == 3
    assert markers(last) == {"new": 1, "latest": 2}


def test_merge_into_upserts_and_deletes(spark, tmp_path):
    """One merge_into call: updates win per cell, null columns leave
    older values intact, flagged rows tombstone, history time-travels."""
    from shc_spark.sources import merge_into

    cat = json.dumps(
        {
            "table": {"namespace": "m", "name": "t", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "a": {"cf": "cf", "col": "a", "type": "int"},
                "b": {"cf": "cf", "col": "b", "type": "string"},
            },
        }
    )
    root = str(tmp_path)
    base = spark.createDataFrame([(i, i, f"s{i}") for i in range(10)], "k int, a int, b string")
    write_table(base, cat, root=root, num_regions=4, timestamp=1000)

    updates = spark.createDataFrame(
        [
            (1, 111, None, False),   # update a, keep b
            (2, None, "zz", False),  # update b, keep a
            (3, None, None, True),   # delete
            (42, 4242, "new", False),  # insert
        ],
        "k int, a int, b string, __del boolean",
    )
    merge_into(spark, cat, updates, root=root, delete_col="__del", timestamp=2000)

    t = {r["k"]: (r["a"], r["b"]) for r in read_table(spark, cat, root=root).collect()}
    assert t[1] == (111, "s1")
    assert t[2] == (2, "zz")
    assert 3 not in t
    assert t[42] == (4242, "new")
    assert len(t) == 10  # 10 - 1 deleted + 1 inserted
    # SCD2-ish: pre-merge state is still queryable
    old = {r["k"]: r["a"] for r in read_table(spark, cat, root=root, timestamp=1000).collect()}
    assert old[1] == 1 and 3 in old and 42 not in old


def test_zorder_keyed_table_prunes_z_ranges(spark, tmp_path):
    """Z-order x key-ordered store composition (operators/layout.py
    docstring): model the ROWKEY as (zvalue, id) and region boundaries
    cut z-space, so the existing rowkey-range pruning covers z-ranges.
    A z-range query must open a strict subset of regions AND return
    exactly the rows whose (x, y) fall in the decoded range."""
    import json as _json

    from pyspark.sql import functions as F

    from shc_spark.catalog import parse_catalog
    from shc_spark.coders import get_coder
    from shc_spark.filters import HRF, ScanRange
    from shc_spark.operators import layout
    from shc_spark.sources.shc_source import ShcReader

    cat = _json.dumps(
        {
            "table": {"namespace": "z", "name": "grid", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "zval:gid",
            "columns": {
                "zval": {"cf": "rowkey", "col": "zval", "type": "bigint"},
                "gid": {"cf": "rowkey", "col": "gid", "type": "bigint"},
                "x": {"cf": "cf", "col": "x", "type": "bigint"},
                "y": {"cf": "cf", "col": "y", "type": "bigint"},
            },
        }
    )
    root = str(tmp_path / "ztab")
    grid = spark.range(64 * 64).select(
        F.col("id").alias("gid"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    zed = grid.withColumn("zval", layout.zvalue(["x", "y"], bits=6))
    from shc_spark.sources import read_table, write_table

    write_table(zed.select("zval", "gid", "x", "y"), cat, root=root, num_regions=8, mode="overwrite", timestamp=1)

    # the quadrant x,y in [0,31]^2 is EXACTLY z in [0, 1024) for 6-bit
    # interleave — one contiguous z-range
    out = read_table(spark, cat, root=root).filter(
        (F.col("zval") >= 0) & (F.col("zval") < 1024)
    )
    rows = out.select("x", "y").collect()
    assert len(rows) == 32 * 32
    assert all(r.x < 32 and r.y < 32 for r in rows)

    # region pruning: the z-range keeps ~1024/4096 of the key space ->
    # strictly fewer regions than a full scan
    coder = get_coder("OrderedType")
    from pyspark.sql import types as T

    lo = coder.to_bytes(0, T.LongType())
    hi = coder.to_bytes(1024, T.LongType())
    reader = ShcReader(None, {"catalog": cat, "root": root})
    reader.hrf = HRF([ScanRange(lo, True, hi, False)], True)
    pruned = [p for p in reader.partitions() if p.path]
    reader2 = ShcReader(None, {"catalog": cat, "root": root})
    full = [p for p in reader2.partitions() if p.path]
    assert len(pruned) < len(full), (len(pruned), len(full))


def test_diff_tables_change_classification(spark, tmp_path):
    import json as _json

    from pyspark.sql import functions as F

    from shc_spark.sources import diff_tables, write_table

    cat = _json.dumps(
        {
            "table": {"namespace": "d", "name": "t", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    a = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    b = spark.range(2, 12).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 2.0).otherwise(F.col("id") * 1.0).alias("v"),
    )
    write_table(a, cat, root=ra, num_regions=4, mode="overwrite", timestamp=1)
    write_table(b, cat, root=rb, num_regions=4, mode="overwrite", timestamp=1)
    got = sorted((r.k, r.change) for r in diff_tables(spark, cat, ra, rb).collect())
    assert got == sorted(
        [(0, "delete"), (1, "delete"), (10, "insert"), (11, "insert")]
        + [(k, "update") for k in (3, 6, 9)]
    )
    # identical tables -> empty diff
    assert diff_tables(spark, cat, ra, ra).count() == 0


def test_diff_tables_detects_null_transitions(spark, tmp_path):
    """A value going non-null -> null (cell absent in B, HBase 'nulls
    are not stored') must surface as an update, not vanish — plain
    struct != returns NULL there (regression for the null-safe fix)."""
    import json as _json

    from pyspark.sql import functions as F

    from shc_spark.sources import diff_tables, write_table

    cat = _json.dumps(
        {
            "table": {"namespace": "d", "name": "tn", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "double"},
                "s": {"cf": "cf", "col": "s", "type": "string"},
            },
        }
    )
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    a = spark.createDataFrame([(1, 1.0, "x"), (2, 2.0, "y")], "k long, v double, s string")
    b = spark.createDataFrame(
        [(1, None, "x"), (2, 2.0, "y")], "k long, v double, s string"
    )
    write_table(a, cat, root=ra, num_regions=4, mode="overwrite", timestamp=1)
    write_table(b, cat, root=rb, num_regions=4, mode="overwrite", timestamp=1)
    got = {(r.k, r.change) for r in diff_tables(spark, cat, ra, rb).collect()}
    assert got == {(1, "update")}


def test_import_snapshot_generation_guard_fires(spark, tmp_path):
    """A versioned export whose __ts looks like PER-ROW timestamps
    (distinct count above max_generations) must refuse the import
    instead of collecting every distinct value to the driver and
    replaying thousands of write generations."""
    import pytest

    from shc_spark.sources import import_snapshot
    from shc_spark.sources.api import TS_COL

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "gen_guard", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    src = str(tmp_path / "rowts")
    spark.createDataFrame(
        [(i, i, 1000 + i) for i in range(50)], f"k int, v int, {TS_COL} long"
    ).write.parquet(src)
    root = str(tmp_path / "tables")
    with pytest.raises(ValueError, match="distinct .* generations|generations"):
        import_snapshot(spark, cat, src, root=root, max_generations=10)
    # under the cap the same data imports fine
    import_snapshot(spark, cat, src, root=root, max_generations=100)
    assert read_table(spark, cat, root=root).count() == 50


def test_zbox_query_on_keyed_table_prunes_and_is_exact(spark, tmp_path):
    """Full composition: box predicate -> zbox_ranges -> OR of zval
    BETWEENs on the leading rowkey column -> ScanRanges -> region
    pruning. The answer must equal the plain box filter; the scan must
    open fewer regions than a full scan."""
    import json as _json

    from pyspark.sql import functions as F

    from shc_spark.coders import get_coder
    from shc_spark.filters import HRF, ScanRange
    from shc_spark.operators import layout
    from shc_spark.sources import read_table, write_table
    from shc_spark.sources.shc_source import ShcReader

    cat = _json.dumps(
        {
            "table": {"namespace": "z", "name": "boxgrid", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "zval:gid",
            "columns": {
                "zval": {"cf": "rowkey", "col": "zval", "type": "bigint"},
                "gid": {"cf": "rowkey", "col": "gid", "type": "bigint"},
                "x": {"cf": "cf", "col": "x", "type": "bigint"},
                "y": {"cf": "cf", "col": "y", "type": "bigint"},
            },
        }
    )
    root = str(tmp_path / "zbox")
    grid = spark.range(64 * 64).select(
        F.col("id").alias("gid"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    zed = grid.withColumn("zval", layout.zvalue(["x", "y"], bits=6))
    write_table(zed.select("zval", "gid", "x", "y"), cat, root=root,
                num_regions=16, mode="overwrite", timestamp=1)

    lows, highs = [30, 5], [37, 12]  # straddles the x midpoint (32)
    box = layout.zbox_filter(["x", "y"], lows, highs, bits=6, max_ranges=16)
    got = read_table(spark, cat, root=root).filter(box)
    rows = got.select("x", "y").collect()
    assert len(rows) == 8 * 8
    assert all(30 <= r.x <= 37 and 5 <= r.y <= 12 for r in rows)

    # region pruning: feed the same z-ranges in as ScanRanges and
    # count surviving regions vs the full scan
    from pyspark.sql import types as T

    coder = get_coder("OrderedType")
    ranges = layout.zbox_ranges(lows, highs, bits=6, max_ranges=16)
    srs = [
        ScanRange(coder.to_bytes(lo, T.LongType()), True,
                  coder.to_bytes(hi + 1, T.LongType()), False)
        for lo, hi in ranges
    ]
    reader = ShcReader(None, {"catalog": cat, "root": root})
    reader.hrf = HRF(srs, True)
    pruned = [p for p in reader.partitions() if p.path]
    reader2 = ShcReader(None, {"catalog": cat, "root": root})
    full = [p for p in reader2.partitions() if p.path]
    assert len(pruned) < len(full), (len(pruned), len(full))


def test_zbox_key_ranges_prune_via_public_read(spark, tmp_path):
    """VERDICT r10 #5 closure: the box -> z-range translation flows
    through the PUBLIC read path (read_table(key_ranges=...) ->
    keyranges option -> base HRF) and the scan opens strictly fewer
    region partitions than a full scan — no hand-fed HRF. Exactness
    comes from the conjoined per-dimension bounds (the covering
    contract), including rows whose zval sits exactly on a range's
    inclusive END boundary (the composite-key prefix hazard)."""
    import json as _json

    from pyspark.sql import functions as F

    from shc_spark.operators import layout
    from shc_spark.sources import read_table, write_table
    from shc_spark.sources.shc_source import ShcReader

    cat = _json.dumps(
        {
            "table": {"namespace": "z", "name": "boxpub", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "zval:gid",
            "columns": {
                "zval": {"cf": "rowkey", "col": "zval", "type": "bigint"},
                "gid": {"cf": "rowkey", "col": "gid", "type": "bigint"},
                "x": {"cf": "cf", "col": "x", "type": "bigint"},
                "y": {"cf": "cf", "col": "y", "type": "bigint"},
            },
        }
    )
    root = str(tmp_path / "zboxpub")
    grid = spark.range(64 * 64).select(
        F.col("id").alias("gid"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    zed = grid.withColumn("zval", layout.zvalue(["x", "y"], bits=6))
    write_table(zed.select("zval", "gid", "x", "y"), cat, root=root,
                num_regions=16, mode="overwrite", timestamp=1)

    lows, highs = [30, 5], [37, 12]  # straddles the x midpoint (32)
    ranges = layout.zbox_ranges(lows, highs, bits=6, max_ranges=16)
    got = read_table(spark, cat, root=root, key_ranges=ranges).filter(
        F.col("x").between(30, 37) & F.col("y").between(5, 12)
    )
    rows = got.select("x", "y").collect()
    assert len(rows) == 8 * 8
    assert all(30 <= r.x <= 37 and 5 <= r.y <= 12 for r in rows)

    # pruning through the OPTION path (what read_table set up):
    opts = {"catalog": cat, "root": root,
            "keyranges": _json.dumps([[lo, hi] for lo, hi in ranges])}
    pruned = [p for p in ShcReader(None, opts).partitions() if p.path]
    full = [p for p in ShcReader(None, {"catalog": cat, "root": root}).partitions() if p.path]
    assert len(pruned) < len(full), (len(pruned), len(full))


def test_colocated_join_matches_plan_join_and_never_shuffles(spark, tmp_path):
    """Source-level co-located rowkey join: value-identical to the
    DataFrame-level join of the two merge-reads, with ZERO Exchange in
    the executed plan (the join happens inside the scan, per key
    sub-range), across appends (LSM merge), deletes (tombstones) and
    differing region counts."""
    import json as _json

    from pyspark.sql import functions as F

    from shc_spark.sources import colocated_join, delete_rows, read_table, write_table

    def cat(name, extra):
        return _json.dumps(
            {
                "table": {"namespace": "cj", "name": name, "tableCoder": "OrderedType", "version": "2.0"},
                "rowkey": "key",
                "columns": {"k": {"cf": "rowkey", "col": "key", "type": "bigint"}, **extra},
            }
        )

    ca = cat("a", {"v": {"cf": "cf", "col": "v", "type": "double"},
                   "s": {"cf": "cf", "col": "s", "type": "string"}})
    cb = cat("b", {"v": {"cf": "cf", "col": "v", "type": "double"},
                   "w": {"cf": "cf", "col": "w", "type": "bigint"}})
    root = str(tmp_path / "cj")
    A = spark.createDataFrame(
        [(i, float(i), f"s{i}") for i in range(500)], "k long, v double, s string"
    )
    B = spark.createDataFrame(
        [(i, float(i * 10), i * 2) for i in range(0, 500, 3)], "k long, v double, w long"
    )
    write_table(A, ca, root=root, num_regions=8, timestamp=1)
    write_table(B, cb, root=root, num_regions=5, timestamp=1)
    # append newer versions to A + delete some B rows: both sides'
    # merge machinery must run inside the join partitions
    A2 = spark.createDataFrame(
        [(i, float(i) + 0.5, f"u{i}") for i in range(0, 500, 7)],
        "k long, v double, s string",
    )
    write_table(A2, ca, root=root, mode="append", timestamp=2)
    delete_rows(spark, cb, [k for k in range(0, 500, 30)], root=root, timestamp=3)

    for how in ("inner", "left"):
        j = colocated_join(spark, ca, cb, root=root, how=how)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        got = {r.k: (r.v, r.s, r.v_b, r.w) for r in j.collect()}
        ref_df = read_table(spark, ca, root=root).join(
            read_table(spark, cb, root=root).selectExpr("k", "v as v_b", "w"),
            "k",
            how,
        )
        ref = {r.k: (r.v, r.s, r.v_b, r.w) for r in ref_df.collect()}
        assert got == ref and got


def test_colocated_join_composite_key_and_incompatible_keys(spark, tmp_path):
    import json as _json

    import pytest

    from shc_spark.sources import colocated_join, write_table

    def cat(name, key_types, extra):
        cols = {}
        rk = []
        for i, (cn, t) in enumerate(key_types):
            cols[cn] = {"cf": "rowkey", "col": f"key{i}", "type": t}
            rk.append(f"key{i}")
        cols.update(extra)
        return _json.dumps(
            {
                "table": {"namespace": "cj2", "name": name, "tableCoder": "OrderedType", "version": "2.0"},
                "rowkey": ":".join(rk),
                "columns": cols,
            }
        )

    ca = cat("a", [("g", "int"), ("k", "bigint")],
             {"v": {"cf": "cf", "col": "v", "type": "double"}})
    cb = cat("b", [("g", "int"), ("k", "bigint")],
             {"w": {"cf": "cf", "col": "w", "type": "bigint"}})
    root = str(tmp_path / "cj2")
    A = spark.createDataFrame(
        [(i % 3, i, float(i)) for i in range(300)], "g int, k long, v double"
    )
    B = spark.createDataFrame(
        [(i % 3, i, i * 2) for i in range(0, 300, 2)], "g int, k long, w long"
    )
    write_table(A, ca, root=root, num_regions=6, timestamp=1)
    write_table(B, cb, root=root, num_regions=4, timestamp=1)
    j = colocated_join(spark, ca, cb, root=root, how="inner")
    got = {(r.g, r.k): (r.v, r.w) for r in j.collect()}
    assert len(got) == 150
    assert got[(0, 12)] == (12.0, 24)

    cbad = cat("bad", [("k", "bigint")], {"w": {"cf": "cf", "col": "w", "type": "bigint"}})
    with pytest.raises(Exception, match="rowkey encodings"):
        colocated_join(spark, ca, cbad, root=root).collect()


def test_salted_table_spreads_hotspot_and_keeps_lookups(spark, tmp_path):
    """Phoenix SALT_BUCKETS analog: catalog `table.saltBuckets` = N
    prefixes one deterministic hash byte to every rowkey, so
    monotonically increasing keys (the HBase hotspot) spread evenly
    across regions. Point lookups compute the exact bucket (one region
    opened); range scans fan out across buckets and stay exact;
    appends + merge reads unaffected."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from shc_spark.coders import get_coder
    from shc_spark.filters import HRF, ScanRange
    from shc_spark.sources import bulk_get, read_table, write_table
    from shc_spark.sources.shc_source import ShcReader

    cat = _json.dumps(
        {
            "table": {"namespace": "s", "name": "salted", "tableCoder": "OrderedType", "version": "2.0", "saltBuckets": 8},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "salted")
    df = spark.createDataFrame([(i, float(i)) for i in range(4000)], "k long, v double")
    write_table(df, cat, root=root, num_regions=8, timestamp=1)

    import glob
    import os

    import pyarrow.parquet as pq

    sizes = sorted(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(root, "s.salted", "gen=*", "region-*.parquet"))
    )
    assert len(sizes) == 8 and max(sizes) < 4000 * 0.35  # no hotspot region

    back = read_table(spark, cat, root=root)
    assert back.count() == 4000
    assert {r.k for r in back.filter((F.col("k") >= 100) & (F.col("k") < 180)).collect()} == set(range(100, 180))
    assert back.filter(F.col("k") == 3210).collect()[0].v == 3210.0
    assert {r.k for r in bulk_get(spark, cat, [5, 17, 3999], root=root).collect()} == {5, 17, 3999}

    # exact-salt point lookup: one region opened
    coder = get_coder("OrderedType")
    kb = coder.to_bytes(3210, T.LongType())
    reader = ShcReader(None, {"catalog": cat, "root": root})
    reader.hrf = HRF([ScanRange(kb, True, kb, True)], True)
    assert len([p for p in reader.partitions() if getattr(p, "path", "")]) == 1

    # append + LSM merge read still correct on the salted layout
    upd = spark.createDataFrame([(i, float(i) + 0.5) for i in range(0, 4000, 10)], "k long, v double")
    write_table(upd, cat, root=root, mode="append", timestamp=2)
    m = read_table(spark, cat, root=root)
    assert m.count() == 4000 and m.filter(F.col("k") == 20).collect()[0].v == 20.5

    # split hints are meaningless on a salted table: refuse them
    import pytest

    cat_hints = _json.loads(cat)
    cat_hints["minTableSplitPoint"] = "aaa"
    cat_hints["maxTableSplitPoint"] = "zzz"
    with pytest.raises(ValueError, match="unsalted"):
        write_table(df, _json.dumps(cat_hints), root=str(tmp_path / "s2"),
                    num_regions=8, timestamp=1)


def test_count_rows_metadata_fast_path_and_fallback(spark, tmp_path):
    """Bulk-loaded tables count from region metadata alone; appended
    (multi-version) and deleted tables fall back to the merge-read
    count — both must equal the logical read_table count."""
    import json as _json

    from shc_spark.sources import count_rows, delete_rows, write_table

    cat = _json.dumps(
        {
            "table": {"namespace": "c", "name": "cnt", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path / "cnt")
    df = spark.createDataFrame([(i, i) for i in range(777)], "k int, v int")
    # note int key column vs bigint catalog type: cast happens in encode
    df = df.selectExpr("cast(k as long) k", "v")
    write_table(df, cat, root=root, num_regions=4, timestamp=1)
    assert count_rows(spark, cat, root=root) == 777
    # appends create overlap -> metadata no longer proves uniqueness
    upd = spark.createDataFrame([(5, 50), (777, 7770)], "k long, v int")
    write_table(upd, cat, root=root, mode="append", timestamp=2)
    assert count_rows(spark, cat, root=root) == 778
    delete_rows(spark, cat, [5, 6, 7], root=root, timestamp=3)
    assert count_rows(spark, cat, root=root) == 775


def test_count_rows_fresh_cdc_table_excludes_tombstones(spark, tmp_path):
    """A FRESH table written by one apply_cdc batch (sorted unique
    keys, disjoint regions) satisfies the metadata fast path's
    uniqueness proof while still carrying tombstone rows — region
    'rows' counts include them, so the fast path must decline and the
    count must equal the live read_table count (ADVICE r4 #1)."""
    import json as _json

    from shc_spark.sources import apply_cdc, count_rows, read_table

    cat = _json.dumps(
        {
            "table": {"namespace": "c", "name": "cnttomb", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path / "cnttomb")
    feed = spark.createDataFrame(
        [(1, 10, "I"), (2, 20, "I"), (3, 30, "I"), (4, 40, "I"), (5, 50, "I"),
         (6, None, "D"), (7, None, "D")],
        "k long, v int, op string",
    )
    apply_cdc(spark, cat, feed, root=root, timestamp=1000)
    assert read_table(spark, cat, root=root).count() == 5
    assert count_rows(spark, cat, root=root) == 5


def test_colocated_join_on_salted_tables(spark, tmp_path):
    """Hotspot-free co-located join: two tables salted with the SAME
    bucket count salt identically, so the source-level join still
    matches keys byte-for-byte (and stays shuffle-free); differing
    bucket counts are refused (same logical key, different prefix —
    the byte join would silently return nothing)."""
    import json as _json

    import pytest

    from shc_spark.sources import colocated_join, write_table

    def cat(name, buckets, extra):
        return _json.dumps(
            {
                "table": {"namespace": "sj", "name": name, "tableCoder": "OrderedType", "version": "2.0", "saltBuckets": buckets},
                "rowkey": "key",
                "columns": {"k": {"cf": "rowkey", "col": "key", "type": "bigint"}, **extra},
            }
        )

    ca = cat("a", 8, {"v": {"cf": "cf", "col": "v", "type": "double"}})
    cb = cat("b", 8, {"w": {"cf": "cf", "col": "w", "type": "bigint"}})
    root = str(tmp_path / "sj")
    A = spark.createDataFrame([(i, float(i)) for i in range(2000)], "k long, v double")
    B = spark.createDataFrame([(i, i * 3) for i in range(0, 2000, 4)], "k long, w long")
    write_table(A, ca, root=root, num_regions=8, timestamp=1)
    write_table(B, cb, root=root, num_regions=6, timestamp=1)
    j = colocated_join(spark, ca, cb, root=root, how="inner")
    assert "Exchange" not in j._jdf.queryExecution().executedPlan().toString()
    got = {r.k: (r.v, r.w) for r in j.collect()}
    assert len(got) == 500 and got[8] == (8.0, 24)

    cbad = cat("bad", 4, {"w": {"cf": "cf", "col": "w", "type": "bigint"}})
    with pytest.raises(Exception, match="saltBuckets"):
        colocated_join(spark, ca, cbad, root=root).collect()


def test_colocated_join_filter_pushdown_prunes_subranges(spark, tmp_path):
    """Rowkey predicates push INTO the join source: one translation on
    the shared key encoding prunes both sides' regions; inner and left
    results stay exact under the pruned scan."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from shc_spark.coders import get_coder
    from shc_spark.filters import HRF, ScanRange
    from shc_spark.sources import colocated_join, write_table
    from shc_spark.sources.colocated import ShcJoinReader

    def cat(name, extra):
        return _json.dumps(
            {
                "table": {"namespace": "pp", "name": name, "tableCoder": "OrderedType", "version": "2.0"},
                "rowkey": "key",
                "columns": {"k": {"cf": "rowkey", "col": "key", "type": "bigint"}, **extra},
            }
        )

    ca = cat("a", {"v": {"cf": "cf", "col": "v", "type": "double"}})
    cb = cat("b", {"w": {"cf": "cf", "col": "w", "type": "bigint"}})
    root = str(tmp_path / "pp")
    A = spark.createDataFrame([(i, float(i)) for i in range(4000)], "k long, v double")
    B = spark.createDataFrame([(i, i * 2) for i in range(0, 4000, 2)], "k long, w long")
    write_table(A, ca, root=root, num_regions=8, timestamp=1)
    write_table(B, cb, root=root, num_regions=8, timestamp=1)

    j = colocated_join(spark, ca, cb, root=root).filter(
        (F.col("k") >= 1000) & (F.col("k") < 1100)
    )
    rows = j.collect()
    assert len(rows) == 50 and all(1000 <= r.k < 1100 and r.w == r.k * 2 for r in rows)

    coder = get_coder("OrderedType")
    lo, hi = coder.to_bytes(1000, T.LongType()), coder.to_bytes(1100, T.LongType())
    r = ShcJoinReader(None, {"catalog": ca, "catalog_b": cb, "root": root})
    r._delegate.hrf = HRF([ScanRange(lo, True, hi, False)], True)
    pruned = [p for p in r.partitions() if p.a is not None]
    r2 = ShcJoinReader(None, {"catalog": ca, "catalog_b": cb, "root": root})
    full = [p for p in r2.partitions() if p.a is not None]
    assert len(pruned) < len(full)

    lf = colocated_join(spark, ca, cb, root=root, how="left").filter(
        F.col("k").between(101, 104)
    )
    got = sorted((r.k, r.w) for r in lf.collect())
    assert got == [(101, None), (102, 204), (103, None), (104, 208)]


def test_apply_cdc_ops_ordering_and_rejection(spark, tmp_path):
    """CDC apply: upserts + tombstones in one generation; per-row
    ts_col orders multiple ops on one key (delete then later re-insert
    resurrects); unknown ops are refused."""
    import json as _json

    import pytest

    from pyspark.sql import functions as F

    from shc_spark.sources import apply_cdc, read_table, write_table

    cat = _json.dumps(
        {
            "table": {"namespace": "c", "name": "cdc2", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path / "cdc2")
    base = spark.createDataFrame([(i, float(i)) for i in range(50)], "k long, v double")
    write_table(base, cat, root=root, num_regions=4, timestamp=1000)
    feed = spark.createDataFrame(
        [
            (3, None, "D", 2000),   # delete...
            (3, 333.0, "I", 3000),  # ...then re-insert later: resurrects
            (4, 444.0, "U", 2000),
            (5, None, "D", 2000),
        ],
        "k long, v double, op string, ts long",
    )
    apply_cdc(spark, cat, feed, root=root, ts_col="ts")
    out = {r.k: r.v for r in read_table(spark, cat, root=root).collect()}
    assert out[3] == 333.0 and out[4] == 444.0 and 5 not in out
    assert len(out) == 49
    # validation is INLINE in the single write pass (no separate scan
    # of the feed): the bad op raises at execution time, and nothing
    # may have landed in the table
    n_before = read_table(spark, cat, root=root).count()
    bad = spark.createDataFrame([(1, 1.0, "X", 1)], "k long, v double, op string, ts long")
    with pytest.raises(Exception, match="unknown op"):
        apply_cdc(spark, cat, bad, root=root, ts_col="ts")
    assert read_table(spark, cat, root=root).count() == n_before
    # a NULL op is also an error, not a silent drop
    nul = spark.createDataFrame([(1, 1.0, None, 1)], "k long, v double, op string, ts long")
    with pytest.raises(Exception, match="unknown op"):
        apply_cdc(spark, cat, nul, root=root, ts_col="ts")


def test_salt_mismatch_guards(spark, tmp_path):
    """saltBuckets is part of the physical key encoding: a catalog
    differing only there must not take the same-catalog read fast path
    (filtered reads stay correct via the cross-catalog route), and a
    mismatched append is refused outright."""
    import json as _json

    import pytest

    from pyspark.sql import functions as F

    from shc_spark.sources import read_table, write_table

    def cat(salt):
        d = {
            "table": {"namespace": "g", "name": "sg", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
        if salt:
            d["table"]["saltBuckets"] = salt
        return _json.dumps(d)

    root = str(tmp_path / "sg")
    df = spark.createDataFrame([(i, i) for i in range(300)], "k long, v int")
    write_table(df, cat(8), root=root, num_regions=4, timestamp=1)
    out = read_table(spark, cat(0), root=root).filter(F.col("k").between(10, 20))
    assert out.count() == 11
    with pytest.raises(ValueError, match="saltBuckets"):
        write_table(df, cat(0), root=root, mode="append", timestamp=2)


def test_ttl_read_visibility_and_compaction_purge(spark, tmp_path):
    """Per-family TTL (HBase HColumnDescriptor.setTimeToLive): cells
    whose __ts is past the family's horizon are invisible to reads
    (per family — other families' cells survive), a key with no live
    cell left has NO row, version merge sees expiry before max_by,
    count_rows declines the metadata fast path, and major compaction
    with apply_ttl makes the purge physical."""
    import json as _json

    import pytest

    from shc_spark.catalog import parse_catalog
    from shc_spark.sources import (
        apply_cdc, compact_table, count_rows, read_table,
    )

    def cat_json(ttl):
        return _json.dumps(
            {
                "table": {"namespace": "c", "name": "ttl1", "tableCoder": "OrderedType", "version": "2.0", "ttl": ttl},
                "rowkey": "key",
                "columns": {
                    "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                    "a": {"cf": "fa", "col": "a", "type": "double"},
                    "b": {"cf": "fb", "col": "b", "type": "bigint"},
                },
            }
        )

    # validation: unknown family / non-positive seconds refused
    with pytest.raises(ValueError, match="unknown column family"):
        parse_catalog(cat_json({"nope": 10}))
    with pytest.raises(ValueError, match="must be > 0"):
        parse_catalog(cat_json({"fa": 0}))
    # bare number = every value family
    assert parse_catalog(cat_json(60)).ttl == {"fa": 60, "fb": 60}

    cat = cat_json({"fa": 100})  # family fa expires after 100 s
    root = str(tmp_path / "ttl1")
    now = 200_000
    feed = spark.createDataFrame(
        [
            (1, 1.0, 10, "I", 50_000),    # old: fa expired at now
            (2, 2.0, 20, "I", 150_000),   # fresh: both live
            (6, 6.0, 60, "I", 250_000),   # two versions of k=6:
            (6, 66.0, 66, "U", 260_000),  # newest wins, both live
        ],
        "k long, a double, b long, op string, ts long",
    )
    apply_cdc(spark, cat, feed, root=root, ts_col="ts")

    got = {
        r.k: (r.a, r.b)
        for r in read_table(spark, cat, root=root, ttl_now_ms=now).collect()
    }
    # k=1: fa cell gone, fb cell (no TTL) still there -> row survives
    assert got == {1: (None, 10), 2: (2.0, 20), 6: (66.0, 66)}

    # every family expiring -> the old row has no cells left: NO row
    cat_all = cat_json(100)
    root2 = str(tmp_path / "ttl2")
    apply_cdc(spark, cat_all, feed, root=root2, ts_col="ts")
    got2 = {
        r.k: (r.a, r.b)
        for r in read_table(spark, cat_all, root=root2, ttl_now_ms=now).collect()
    }
    assert got2 == {2: (2.0, 20), 6: (66.0, 66)}
    # count_rows must not answer from region metadata (it would count
    # the expired row); wall-clock now is far past every ts horizon
    assert count_rows(spark, cat_all, root=root2) == 0

    # TTL is a physical-table property: a reader passing a TTL-free
    # catalog of the same shape still sees expiry (stored catalog wins)
    got3 = {
        r.k: (r.a, r.b)
        for r in read_table(
            spark, cat_json(None), root=root2, ttl_now_ms=now
        ).collect()
    }
    assert got3 == got2

    # a reader-side catalog must NOT conjure expiry onto a TTL-free
    # table: the stored catalog (no ttl) is authoritative
    root3 = str(tmp_path / "ttl3")
    apply_cdc(spark, cat_json(None), feed, root=root3, ts_col="ts")
    got4 = {
        r.k
        for r in read_table(
            spark, cat_json({"fa": 100}), root=root3, ttl_now_ms=now
        ).collect()
    }
    assert got4 == {1, 2, 6}  # nothing expired
    assert count_rows(spark, cat_json({"fa": 100}), root=root3) == 3

    # major compaction purges physically: raw row count drops
    compact_table(spark, cat, root=root, apply_ttl=True, ttl_now_ms=now, num_regions=2)
    raw = read_table(
        spark, cat, root=root, merge_to_latest=False, keep_internal=True
    )
    rows = {(r.k, r.a, r.b) for r in raw.collect()}
    # k=1 keeps only its fb cell; k=6 keeps both versions (both fresh)
    assert (1, None, 10) in rows and not any(k == 1 and a is not None for k, a, _ in rows)
    assert len([t for t in rows if t[0] == 6]) == 2


def test_colocated_join_refuses_ttl_tables(spark, tmp_path):
    """The co-located source-level join merges in-source with no TTL
    horizon — joining a TTL table would silently resurrect expired
    cells, so it is refused outright (same stance as cross-catalog
    reads of TTL tables)."""
    import json as _json

    import pytest

    from shc_spark.sources import apply_cdc, colocated_join

    def cat(ttl):
        t = {"namespace": "c", "name": "cjttl", "tableCoder": "OrderedType", "version": "2.0"}
        if ttl:
            t["ttl"] = ttl
        return _json.dumps(
            {
                "table": t,
                "rowkey": "key",
                "columns": {
                    "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                    "v": {"cf": "cf", "col": "v", "type": "double"},
                },
            }
        )

    root = str(tmp_path / "cjttl")
    feed = spark.createDataFrame([(1, 1.0, "I")], "k long, v double, op string")
    apply_cdc(spark, cat({"cf": 60}), feed, root=root, timestamp=1000)
    with pytest.raises(ValueError, match="TTL"):
        colocated_join(spark, cat({"cf": 60}), cat({"cf": 60}), root=root)
    # stored TTL wins even when the reader-side catalog omits it
    with pytest.raises(ValueError, match="TTL"):
        colocated_join(spark, cat(None), cat(None), root=root)


def test_relation_reuse_tripwire(spark, tmp_path):
    """Spark 4.1 plan-cache hazard (shc_source.ShcReader._warn_on_replan):
    reusing ONE loaded DataFrame across differently-filtered queries
    poisons the per-relation plan cache. The source now detects the
    second distinct planning and leaves a loud breadcrumb (default) or
    raises (reuse_check=strict)."""
    import glob
    import json as _json
    import os
    import tempfile

    cat = _json.dumps(
        {
            "table": {"namespace": "g", "name": "reuse", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "string"},
            },
        }
    )
    root = str(tmp_path / "reuse")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k bigint, v string"
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite")

    mdir = os.path.join(tempfile.gettempdir(), ".shc_plan_markers")
    before = set(glob.glob(os.path.join(mdir, "*.warned")))
    loaded = spark.read.format("shc").options(catalog=cat, root=root).load()
    assert loaded.filter(F.col("k") < 10).count() == 10
    # second DISTINCT planning on the same relation -> breadcrumb
    assert loaded.filter(F.col("k") >= 50).count() == 50
    new = set(glob.glob(os.path.join(mdir, "*.warned"))) - before
    assert new, "second distinct planning left no reuse-warning breadcrumb"
    msg = open(sorted(new)[0]).read()
    assert "planned twice" in msg and "read_table" in msg

    # strict mode: the second distinct planning fails the query loudly
    strict = (
        spark.read.format("shc")
        .options(catalog=cat, root=root, reuse_check="strict")
        .load()
    )
    assert strict.filter(F.col("k") < 10).count() == 10
    import pytest as _pytest

    with _pytest.raises(Exception, match="planned twice"):
        strict.filter(F.col("k") >= 50).count()

    # the documented-correct pattern never trips: fresh relation per query
    for _ in range(2):
        fresh = spark.read.format("shc").options(catalog=cat, root=root).load()
        assert fresh.count() == 100


def test_region_cache_housekeeping(spark, tmp_path):
    """S20 housekeeping parity (HBaseConnectionCacheSuite.scala:89
    semantics on the embedded analog): staleness under a concurrent
    writer, invalidation on overwrite/compact, and bounded growth
    across many tables (the LRU cap standing in for the reference's
    idle-eviction housekeeping thread)."""
    import json as _json
    import os

    import shc_spark.sources.shc_source as src
    from shc_spark.sources import compact_table, read_table, write_table

    def cat(name):
        return _json.dumps(
            {
                "table": {"namespace": "hk", "name": name, "tableCoder": "OrderedType", "version": "2.0"},
                "rowkey": "key",
                "columns": {
                    "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                    "v": {"cf": "cf", "col": "v", "type": "double"},
                },
            }
        )

    root = str(tmp_path / "hk")
    df = spark.createDataFrame([(i, float(i)) for i in range(20)], "k bigint, v double")
    c = cat("t0")
    write_table(df, c, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    meta = os.path.join(root, "hk.t0", "_regions.json")

    # warm the cache, then append behind its back (concurrent-writer
    # staleness): the mtime bump must invalidate, NOT serve the stale
    # 1-generation region list
    assert read_table(spark, c, root=root).count() == 20
    assert meta in src._REGION_CACHE
    gen1_regions = len(src._REGION_CACHE[meta][1])
    extra = spark.createDataFrame([(100 + i, 1.0) for i in range(5)], "k bigint, v double")
    write_table(extra, c, root=root, timestamp=2000)
    assert read_table(spark, c, root=root).count() == 25
    assert len(src._REGION_CACHE[meta][1]) > gen1_regions

    # overwrite invalidates (fewer rows, new files)
    write_table(df.limit(3), c, root=root, num_regions=4, mode="overwrite", timestamp=3000)
    assert read_table(spark, c, root=root).count() == 3

    # compact rewrites metadata; cache must follow
    extra2 = spark.createDataFrame([(200, 2.0)], "k bigint, v double")
    write_table(extra2, c, root=root, timestamp=4000)
    compact_table(spark, c, root=root)
    assert read_table(spark, c, root=root).count() == 4

    # bounded growth: many distinct tables never exceed the LRU cap,
    # oldest entries leave first, hot entries survive
    old_max = src._REGION_CACHE_MAX
    src._REGION_CACHE_MAX = 8
    try:
        src._REGION_CACHE.clear()
        for i in range(20):
            ci = cat(f"m{i}")
            write_table(df.limit(2), ci, root=root, num_regions=4, mode="overwrite")
            assert read_table(spark, ci, root=root).count() == 2
        assert len(src._REGION_CACHE) <= 8
        survivors = {os.path.basename(os.path.dirname(k)) for k in src._REGION_CACHE}
        assert "hk.m19" in survivors and "hk.m0" not in survivors
    finally:
        src._REGION_CACHE_MAX = old_max


def test_large_in_notin_pushdown(spark, tmp_path):
    """DefaultSourceSuite.scala:156-194 parity: a 3000-element IN (and
    its NOT-IN complement) must neither blow the range-algebra stack
    nor take superlinear time — the reference added this after a
    recursive filter fold stack-overflowed at ~2000 elements."""
    import json as _json
    import time

    cat = _json.dumps(
        {
            "table": {"namespace": "g", "name": "bigin", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "v": {"cf": "cf", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path / "bigin")
    df = spark.createDataFrame([(i, i % 7) for i in range(10000)], "k bigint, v int")
    write_table(df, cat, root=root, num_regions=4, mode="overwrite")

    wanted = list(range(0, 6000, 2))  # 3000 point ranges
    t0 = time.time()
    t = read_table(spark, cat, root=root)
    assert t.filter(F.col("k").isin(wanted)).count() == 3000
    t = read_table(spark, cat, root=root)
    assert t.filter(~F.col("k").isin(wanted)).count() == 7000
    # mixed with a range conjunct: IN points intersected with one range
    t = read_table(spark, cat, root=root)
    assert t.filter(F.col("k").isin(wanted) & (F.col("k") < 1000)).count() == 500
    assert time.time() - t0 < 120, "large IN pushdown took pathologically long"


@pytest.mark.xfail(
    strict=True,
    reason="Spark 4.1 does not round-trip OPTIONS to a Python data "
    "source on scan (they arrive empty at DataSource.reader) — "
    "probed 2026-08-13 and re-probed r9; PARITY.md documents the "
    "temp-view path as the supported SQL entry. STRICT: if a Spark "
    "upgrade fixes the round-trip this test XPASSes and fails the "
    "suite, forcing the PARITY claim (and a real DDL entry) to be "
    "updated.",
)
def test_sql_ddl_options_roundtrip(spark, tmp_path):
    """VERDICT r8 #8: the `CREATE TABLE ... USING shc OPTIONS (...)`
    repro, committed as a live probe of the engine limitation."""
    cat = json.dumps(
        {
            "table": {"namespace": "default", "name": "ddl_t", "tableCoder": "PrimitiveType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "key": {"cf": "rowkey", "col": "key", "type": "string"},
                "v": {"cf": "cf1", "col": "v", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.createDataFrame([(f"k{i}", i) for i in range(10)], "key string, v int")
    write_table(df, cat, root=root, num_regions=4, mode="overwrite")
    spark.sql("DROP TABLE IF EXISTS ddl_probe")
    cat_sql = cat.replace("'", "''")
    try:
        spark.sql(
            f"CREATE TABLE ddl_probe USING shc "
            f"OPTIONS (catalog '{cat_sql}', root '{root}')"
        )
        got = spark.sql("SELECT key, v FROM ddl_probe ORDER BY v").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS ddl_probe")
    assert [(r["key"], r["v"]) for r in got] == [(f"k{i}", i) for i in range(10)]


# ---- coprocessor-style aggregate scan (scan_aggregate, r11) ----------

CAT_AGG = json.dumps(
    {
        "table": {"namespace": "default", "name": "aggscan", "tableCoder": "OrderedType", "version": "2.0"},
        "rowkey": "key",
        "columns": {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "grp": {"cf": "cf", "col": "g", "type": "string"},
            "val": {"cf": "cf", "col": "v", "type": "double"},
            "n": {"cf": "cf", "col": "n", "type": "int"},
        },
    }
)


def _agg_fixture(spark, root, rows=200, regions=8):
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
        F.when(F.col("id") % 5 != 0, F.col("id").cast("int")).alias("n"),
    )
    write_table(df, CAT_AGG, root=root, num_regions=regions, mode="overwrite", timestamp=1000)
    return df


def test_scan_aggregate_matches_dataframe_groupby(spark, tmp_path):
    from shc_spark.sources import scan_aggregate

    root = str(tmp_path)
    _agg_fixture(spark, root)
    got = scan_aggregate(
        spark, CAT_AGG, ["grp"],
        [("count", "*"), ("count", "n"), ("sum", "val"), ("min", "val"),
         ("max", "val"), ("avg", "n")],
        root=root,
    )
    exp = (
        read_table(spark, CAT_AGG, root=root)
        .groupBy("grp")
        .agg(
            F.count("*").alias("count_all"),
            F.count("n").alias("count_n"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.avg("n").alias("avg_n"),
        )
    )
    g = {r["grp"]: r.asDict() for r in got.collect()}
    e = {r["grp"]: r.asDict() for r in exp.collect()}
    assert set(g) == set(e) == {"g0", "g1", "g2"}
    for k in g:
        for c in g[k]:
            assert g[k][c] == pytest.approx(e[k][c]), (k, c, g[k], e[k])


def test_scan_aggregate_partials_are_tiny(spark, tmp_path):
    """The source emits <= #partitions x #groups partial rows — the
    whole point: rows never cross the bridge."""
    root = str(tmp_path)
    _agg_fixture(spark, root, rows=500, regions=8)
    raw = (
        spark.read.format("shc")
        .option("catalog", CAT_AGG)
        .option("root", root)
        .option("aggregate", json.dumps({"groupBy": ["grp"], "aggs": [["count", "*"], ["sum", "val"]]}))
        .load()
    )
    assert raw.count() <= 8 * 3
    # and the partials COMBINE to the true totals
    tot = raw.groupBy("grp").agg(F.sum("count_all").alias("c")).collect()
    assert sum(r["c"] for r in tot) == 500


def test_scan_aggregate_after_append_and_delete(spark, tmp_path):
    """Version semantics: latest-wins BEFORE aggregation (in-source
    LSM merge), tombstoned rows never counted."""
    from shc_spark.sources import delete_rows, scan_aggregate

    root = str(tmp_path)
    _agg_fixture(spark, root, rows=100, regions=5)
    upd = spark.range(30).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        F.lit(1000.0).alias("val"),
        F.lit(7).cast("int").alias("n"),
    )
    write_table(upd, CAT_AGG, root=root, mode="append", timestamp=2000)
    delete_rows(spark, CAT_AGG, list(range(90, 100)), root=root, timestamp=3000)
    got = scan_aggregate(spark, CAT_AGG, [], [("count", "*"), ("sum", "val")], root=root)
    exp = read_table(spark, CAT_AGG, root=root).agg(
        F.count("*").alias("count_all"), F.sum("val").alias("sum_val")
    )
    gr, er = got.collect()[0], exp.collect()[0]
    assert gr["count_all"] == er["count_all"] == 90
    assert gr["sum_val"] == pytest.approx(er["sum_val"])


def test_scan_aggregate_key_ranges_prune_partitions(spark, tmp_path):
    from shc_spark.sources import scan_aggregate
    from shc_spark.sources.shc_source import ShcReader

    root = str(tmp_path)
    _agg_fixture(spark, root, rows=400, regions=8)
    got = scan_aggregate(
        spark, CAT_AGG, [], [("count", "*")], root=root, key_ranges=[(0, 49)]
    )
    assert got.collect()[0]["count_all"] == 50
    opts = {
        "catalog": CAT_AGG,
        "root": root,
        "aggregate": json.dumps({"groupBy": [], "aggs": [["count", "*"]]}),
        "keyranges": json.dumps([[0, 49]]),
    }
    pruned = [p for p in ShcReader(None, opts).partitions() if getattr(p, "path", "x")]
    full = [
        p
        for p in ShcReader(
            None, {k: v for k, v in opts.items() if k != "keyranges"}
        ).partitions()
        if getattr(p, "path", "x")
    ]
    assert len(pruned) < len(full)


def test_scan_aggregate_empty_range_counts_zero(spark, tmp_path):
    from shc_spark.sources import scan_aggregate

    root = str(tmp_path)
    _agg_fixture(spark, root, rows=50, regions=5)
    got = scan_aggregate(
        spark, CAT_AGG, [], [("count", "*"), ("sum", "val")], root=root,
        key_ranges=[(10_000, 20_000)],
    ).collect()[0]
    assert got["count_all"] == 0 and got["sum_val"] is None


def test_scan_aggregate_validation_errors(spark, tmp_path):
    from shc_spark.sources import scan_aggregate

    root = str(tmp_path)
    _agg_fixture(spark, root, rows=20, regions=4)
    with pytest.raises(Exception, match="not in catalog"):
        scan_aggregate(spark, CAT_AGG, ["nope"], [("count", "*")], root=root).collect()
    with pytest.raises(Exception, match="numeric"):
        scan_aggregate(spark, CAT_AGG, [], [("sum", "grp")], root=root).collect()
    with pytest.raises(Exception, match="unsupported aggregate"):
        scan_aggregate(spark, CAT_AGG, [], [("median", "val")], root=root).collect()


def test_scan_aggregate_on_salted_table(spark, tmp_path):
    """Salting spreads physical keys with a hash prefix; the aggregate
    scan must still prune via the salt-expanded key_ranges and return
    the plain groupBy answer."""
    from shc_spark.sources import scan_aggregate

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "saltagg", "tableCoder": "OrderedType", "version": "2.0", "saltBuckets": 8},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "grp": {"cf": "cf", "col": "g", "type": "string"},
                "val": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("grp"),
        (F.col("id") * 2.0).alias("val"),
    )
    write_table(df, cat, root=root, num_regions=8, mode="overwrite", timestamp=1000)
    got = {
        r["grp"]: r
        for r in scan_aggregate(
            spark, cat, ["grp"], [("count", "*"), ("sum", "val")],
            root=root, key_ranges=[(0, 99)],
        ).collect()
    }
    assert got["0"]["count_all"] == 50 and got["1"]["count_all"] == 50
    assert got["0"]["sum_val"] == sum(i * 2.0 for i in range(0, 100, 2))


def test_scan_aggregate_ttl_and_cross_catalog_raise(spark, tmp_path):
    from shc_spark.sources import scan_aggregate

    ttl_cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "ttlagg", "tableCoder": "OrderedType", "version": "2.0", "ttl": {"cf": 3600}},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "val": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("val"))
    write_table(df, ttl_cat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    with pytest.raises(ValueError, match="TTL"):
        scan_aggregate(spark, ttl_cat, [], [("count", "*")], root=root)
    other = json.loads(ttl_cat)
    other["table"]["ttl"] = {}
    other["columns"]["val2"] = {"cf": "cf", "col": "v2", "type": "double"}
    with pytest.raises(ValueError, match="stored catalog"):
        scan_aggregate(spark, json.dumps(other), [], [("count", "*")], root=root)


def test_scan_aggregate_randomized_specs_match_groupby(spark, tmp_path):
    """Seeded-random spec battery: any combination of group columns
    and agg verbs must equal read_table().groupBy() — including null
    group keys and null agg values (the table writes a null stripe in
    both)."""
    import random

    from shc_spark.sources import scan_aggregate

    cat = json.dumps(
        {
            "table": {"namespace": "s", "name": "randagg", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "g1": {"cf": "cf", "col": "g1", "type": "string"},
                "g2": {"cf": "cf", "col": "g2", "type": "int"},
                "v1": {"cf": "cf", "col": "v1", "type": "double"},
                "v2": {"cf": "cf", "col": "v2", "type": "bigint"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 != 0, F.concat(F.lit("s"), (F.col("id") % 4).cast("string"))).alias("g1"),
        F.when(F.col("id") % 5 != 0, (F.col("id") % 3).cast("int")).alias("g2"),
        F.when(F.col("id") % 11 != 0, F.col("id") * 0.5).alias("v1"),
        F.when(F.col("id") % 13 != 0, F.col("id") * 3).alias("v2"),
    )
    write_table(df, cat, root=root, num_regions=6, mode="overwrite", timestamp=1000)
    rng = random.Random(42)
    spark_fns = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg}
    for trial in range(5):
        group = rng.sample(["g1", "g2"], rng.randint(0, 2))
        aggs = [("count", "*")]
        for _ in range(rng.randint(1, 4)):
            fn = rng.choice(["count", "sum", "min", "max", "avg"])
            col = rng.choice(["v1", "v2"] if fn in ("sum", "avg") else ["v1", "v2", "g1", "g2"])
            if (fn, col) not in aggs:
                aggs.append((fn, col))
        got = scan_aggregate(spark, cat, group, aggs, root=root)
        names = ["count_all" if c == "*" else f"{fn}_{c}" for fn, c in aggs]
        exprs = [
            (spark_fns[fn](F.lit(1)) if c == "*" else spark_fns[fn](c)).alias(n)
            for (fn, c), n in zip(aggs, names)
        ]
        exp = read_table(spark, cat, root=root)
        exp = exp.groupBy(*group).agg(*exprs) if group else exp.agg(*exprs)
        gk = {tuple(str(r[g]) for g in group): r for r in got.collect()}
        ek = {tuple(str(r[g]) for g in group): r for r in exp.collect()}
        assert set(gk) == set(ek), (trial, group, aggs)
        for key in gk:
            for n in names:
                a, b = gk[key][n], ek[key][n]
                if a is None or b is None:
                    assert a == b, (trial, key, n, a, b)
                else:
                    assert a == pytest.approx(b), (trial, key, n, a, b)


# ---- REST transport backend (shc-rest, r11) ---------------------------


def _rest_fixture(spark, root, cat=None, rows=120, regions=5):
    from shc_spark.sources.rest import ensure_rest_server

    cat = cat or CAT_AGG
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
        F.when(F.col("id") % 5 != 0, F.col("id").cast("int")).alias("n"),
    )
    write_table(df, cat, root=root, num_regions=regions, mode="overwrite", timestamp=1000)
    return ensure_rest_server(root)


def test_rest_scan_matches_embedded(spark, tmp_path):
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import read_table_rest

    root = str(tmp_path)
    url = _rest_fixture(spark, root)
    got = sorted(read_table_rest(spark, CAT_AGG, url).collect())
    exp = sorted(read_table(spark, CAT_AGG, root=root).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_rest_merged_view_after_append_and_delete(spark, tmp_path):
    """The scanner serves the MERGED latest view: newer generations
    win, tombstoned rows never appear — HBase's default read."""
    from shc_spark.sources import delete_rows, read_table
    from shc_spark.sources.rest import read_table_rest

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=60, regions=4)
    upd = spark.range(20).select(
        F.col("id").alias("k"),
        F.lit("gX").alias("grp"),
        F.lit(-1.0).alias("val"),
        F.lit(9).cast("int").alias("n"),
    )
    write_table(upd, CAT_AGG, root=root, mode="append", timestamp=2000)
    delete_rows(spark, CAT_AGG, list(range(50, 60)), root=root, timestamp=3000)
    got = sorted(read_table_rest(spark, CAT_AGG, url).collect())
    exp = sorted(read_table(spark, CAT_AGG, root=root).collect())
    assert len(got) == 50
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_rest_partitions_pruned(spark, tmp_path):
    """A rowkey range must open scanners only on the regions it
    touches — the client-side pruning the reference does from region
    metadata (HBaseTableScan.scala:63-89), over the wire."""
    import json as _json

    from shc_spark.sources.rest import ShcRestReader

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=200, regions=8)
    opts = {"catalog": CAT_AGG, "url": url}
    full = ShcRestReader(None, dict(opts)).partitions()
    rdr = ShcRestReader(None, dict(opts))
    # inject a tight pushed range exactly as pushFilters would set it
    from shc_spark.filters import HRF, ScanRange
    from shc_spark.coders import get_coder
    from shc_spark.catalog import parse_catalog
    from pyspark.sql import types as T

    coder = get_coder(parse_catalog(CAT_AGG).rowkey_fields()[0].coder)
    lo = coder.to_bytes(0, T.LongType())
    hi = coder.to_bytes(20, T.LongType())
    rdr.hrf = HRF([ScanRange(lo, True, hi, True)], True)
    pruned = rdr.partitions()
    assert 0 < len(pruned) < len(full)


def test_rest_point_get_endpoint(spark, tmp_path):
    """GET /{table}/{rowhex} returns exactly one row's cells (the
    bulk-get analog over the wire)."""
    import json as _json
    import urllib.request

    from shc_spark.catalog import parse_catalog
    from shc_spark.coders import get_coder
    from pyspark.sql import types as T

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=30, regions=4)
    cat = parse_catalog(CAT_AGG)
    key = get_coder(cat.table_coder).to_bytes(7, T.LongType())
    with urllib.request.urlopen(f"{url}/default.aggscan/{key.hex()}") as resp:
        data = _json.loads(resp.read())
    assert len(data["Row"]) == 1
    cells = data["Row"][0]["Cell"]
    assert len(cells) == 3  # grp, val, n


def test_rest_salted_table_range(spark, tmp_path):
    """Salt expansion happens CLIENT-side before region intersection;
    the server treats scanner bounds as physical bytes — a pushed
    range on a salted table returns exactly the right rows."""
    from shc_spark.sources.rest import ensure_rest_server, read_table_rest

    cat = json.dumps(
        {
            "table": {"namespace": "r", "name": "saltrest", "tableCoder": "OrderedType", "version": "2.0", "saltBuckets": 8},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "val": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("val"))
    write_table(df, cat, root=root, num_regions=8, mode="overwrite", timestamp=1000)
    url = ensure_rest_server(root)
    got = (
        read_table_rest(spark, cat, url)
        .filter((F.col("k") >= 10) & (F.col("k") < 40))
        .collect()
    )
    assert sorted(r["k"] for r in got) == list(range(10, 40))
    assert all(r["val"] == r["k"] * 2.0 for r in got)


def test_rest_avro_cells_roundtrip(spark, tmp_path):
    """Avro-coded cells travel as their serialized blobs and decode
    above the REST scan exactly like the embedded read."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import ensure_rest_server, read_table_rest

    cat = json.dumps(
        {
            "table": {"namespace": "r", "name": "avrorest", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "rec": {"cf": "cf", "col": "r", "avro": "schema_rec"},
            },
            "schema_rec": json.dumps(
                {
                    "type": "record", "name": "rec",
                    "fields": [
                        {"name": "f1", "type": "int"},
                        {"name": "f2", "type": "string"},
                    ],
                }
            ),
        }
    )
    root = str(tmp_path)
    df = spark.range(25).select(
        F.col("id").alias("k"),
        F.struct(
            F.col("id").cast("int").alias("f1"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("f2"),
        ).alias("rec"),
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    url = ensure_rest_server(root)
    got = sorted(read_table_rest(spark, cat, url).collect())
    exp = sorted(read_table(spark, cat, root=root).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert got[5]["rec"]["f2"] == "v5"


def test_rest_write_appends_generation(spark, tmp_path):
    """Puts batched over the wire become ONE generation at flush;
    latest-wins against the embedded base, visible to both transports."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import (
        ensure_rest_server,
        read_table_rest,
        write_table_rest,
    )

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=80, regions=4)
    upd = spark.range(30).select(
        F.col("id").alias("k"),
        F.lit("gW").alias("grp"),
        F.lit(123.0).alias("val"),
        F.lit(1).cast("int").alias("n"),
    )
    write_table_rest(upd, CAT_AGG, url, timestamp=2000)
    emb = {r["k"]: r for r in read_table(spark, CAT_AGG, root=root).collect()}
    via_rest = {r["k"]: r for r in read_table_rest(spark, CAT_AGG, url).collect()}
    assert len(emb) == len(via_rest) == 80
    for k in range(30):
        assert emb[k]["grp"] == via_rest[k]["grp"] == "gW"
        assert emb[k]["val"] == via_rest[k]["val"] == 123.0
    for k in range(30, 80):
        assert emb[k]["grp"].startswith("g") and emb[k]["val"] == k * 1.5
        assert via_rest[k]["val"] == k * 1.5


def test_rest_write_null_cells_not_stored(spark, tmp_path):
    """HBase semantics over the wire: a null cell in a Put is ABSENT,
    so the older version underneath stays visible after the merge."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import ensure_rest_server, write_table_rest

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=10, regions=4)
    upd = spark.range(5).select(
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("grp"),   # absent cell
        F.lit(777.0).alias("val"),
        F.lit(None).cast("int").alias("n"),
    )
    write_table_rest(upd, CAT_AGG, url, timestamp=2000)
    got = {r["k"]: r for r in read_table(spark, CAT_AGG, root=root).collect()}
    for k in range(5):
        assert got[k]["val"] == 777.0                       # updated
        assert got[k]["grp"] == f"g{k % 3}"                  # survived


def test_rest_stream_tails_generations(spark, tmp_path):
    """readStream over REST: each append generation becomes a
    micro-batch; includeDeletes surfaces tombstones as a CDC feed."""
    import uuid as _uuid

    from shc_spark.sources import delete_rows
    from shc_spark.sources.rest import (
        ensure_rest_server,
        read_stream_table_rest,
        write_table_rest,
    )

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=40, regions=4)
    upd = spark.range(10).select(
        F.col("id").alias("k"), F.lit("gS").alias("grp"),
        F.lit(5.0).alias("val"), F.lit(2).cast("int").alias("n"),
    )
    write_table_rest(upd, CAT_AGG, url, timestamp=2000)
    delete_rows(spark, CAT_AGG, [0, 1], root=root, timestamp=3000)

    stream = read_stream_table_rest(spark, CAT_AGG, url, include_deletes=True)
    name = f"m_{_uuid.uuid4().hex[:10]}"
    q = (
        stream.select("k", "grp", "__ts", "__del")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    # 40 base versions + 10 updates + 2 tombstones, raw
    assert len(rows) == 52
    dels = [r for r in rows if r["__del"] == 1]
    assert sorted(r["k"] for r in dels) == [0, 1]
    assert sum(1 for r in rows if r["grp"] == "gS") == 10
    assert sum(1 for r in rows if r["__ts"] == 1000) == 40


def test_rest_value_filter_pushes_server_side(spark, tmp_path):
    """SingleColumnValueFilter over the wire: non-matching rows never
    leave the server (counted via a direct scanner probe), and the
    DataFrame answer is exact (Spark still re-evaluates on top)."""
    import urllib.request

    from shc_spark.sources.rest import read_table_rest

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=90, regions=4)

    got = (
        read_table_rest(spark, CAT_AGG, url)
        .filter((F.col("grp") == "g1") & (F.col("val") >= 60.0))
        .collect()
    )
    exp = sorted(k for k in range(90) if k % 3 == 1 and k * 1.5 >= 60.0)
    assert sorted(r["k"] for r in got) == exp

    # raw scanner probe: with the filter, the server returns only the
    # matching rows; without it, all 90
    def scan_count(body):
        req = urllib.request.Request(
            f"{url}/default.aggscan/scanner",
            data=json.dumps(body).encode(),
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            loc = resp.headers["Location"]
        n = 0
        while True:
            with urllib.request.urlopen(f"{url}{loc}") as resp:
                if resp.status == 204:
                    return n
                n += len(json.loads(resp.read())["Row"])

    import base64 as _b

    from shc_spark.catalog import parse_catalog
    from shc_spark.coders import get_coder
    from pyspark.sql import types as T

    cat = parse_catalog(CAT_AGG)
    g1 = _b.b64encode(get_coder(cat.fields["grp"].coder).to_bytes("g1", T.StringType())).decode()
    flt = {
        "type": "FilterList",
        "op": "MUST_PASS_ALL",
        "filters": [
            {"type": "SingleColumnValueFilter", "family": "cf", "qualifier": "g",
             "op": "EQUAL", "value": g1},
        ],
    }
    assert scan_count({"batch": 1000}) == 90
    assert scan_count({"batch": 1000, "filter": flt}) == 30


def test_rest_aggregate_with_filter(spark, tmp_path):
    """AggregationClient parity: the /aggregate endpoint takes the
    Scan's filters too — partials computed over the filtered rows
    server-side (verified via a direct endpoint probe), and a
    group-column predicate on the aggregated frame pushes through
    Catalyst into the scanner spec."""
    import base64 as _b
    import urllib.request

    from shc_spark.catalog import parse_catalog
    from shc_spark.coders import get_coder
    from shc_spark.sources.rest import scan_aggregate_rest
    from pyspark.sql import types as T

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=90, regions=4)

    # Catalyst path: predicate on the group column pushes below the
    # final aggregate into the scanner spec
    agg = scan_aggregate_rest(
        spark, CAT_AGG, url, ["grp"], [("count", "*"), ("sum", "val")]
    ).filter(F.col("grp") == "g1")
    rows = agg.collect()
    assert len(rows) == 1 and rows[0]["count_all"] == 30
    assert rows[0]["sum_val"] == sum(k * 1.5 for k in range(90) if k % 3 == 1)

    # direct endpoint probe: the filter changes the partials themselves
    cat = parse_catalog(CAT_AGG)
    g1 = _b.b64encode(
        get_coder(cat.fields["grp"].coder).to_bytes("g1", T.StringType())
    ).decode()

    def agg_total(body):
        req = urllib.request.Request(
            f"{url}/default.aggscan/aggregate",
            data=json.dumps(body).encode(), method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            rows = json.loads(resp.read())["rows"]
        return sum(r["count_all"] for r in rows)

    spec = {"groupBy": [], "aggs": [["count", "*"]]}
    assert agg_total({"spec": spec}) == 90
    flt = {"type": "FilterList", "op": "MUST_PASS_ALL",
           "filters": [{"type": "SingleColumnValueFilter", "family": "cf",
                        "qualifier": "g", "op": "EQUAL", "value": g1}]}
    assert agg_total({"spec": spec, "filter": flt}) == 30


# ---- REST r12: locality, scanner-eviction recovery, batch encode ------


def test_rest_partitions_carry_locality_hosts(spark, tmp_path):
    """S12 locality seam over the wire: /regions reports the serving
    host per region span and the client carries it on each partition
    as preferred_locations() (HBaseTableScan.scala:384-388 — Spark
    4.1's Python DataSource API has no scheduler hook yet, so the
    hint rides the partition)."""
    import urllib.request

    from shc_spark.sources.rest import ShcRestReader

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=200, regions=8)
    with urllib.request.urlopen(f"{url}/default.aggscan/regions") as resp:
        regions = json.loads(resp.read())["Region"]
    assert all(r.get("host") for r in regions)
    hosts = {r["host"] for r in regions}
    assert len(hosts) > 1  # round-robin over a synthetic fleet

    parts = ShcRestReader(None, {"catalog": CAT_AGG, "url": url}).partitions()
    assert len(parts) > 1
    for p in parts:
        locs = p.preferred_locations()
        assert len(locs) == 1 and locs[0] in hosts


def test_rest_scanner_eviction_mid_scan_recovers(spark, tmp_path):
    """Kill the live scanner mid-scan (LRU cap pressure — the mock's
    analog of HBase scanner lease expiry / UnknownScannerException):
    the reader must reopen from the last served row and return EXACTLY
    the remaining rows, no loss, no duplicates."""
    import urllib.request

    from shc_spark.sources import read_table
    from shc_spark.sources.rest import ShcRestReader, _decode_rest_rows
    from shc_spark.catalog import parse_catalog

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=150, regions=4)
    cat = parse_catalog(CAT_AGG)

    def flood(n):
        # open n fresh scanners; past the 512 cap the LRU (our paused
        # live scanner) gets evicted
        for _ in range(n):
            req = urllib.request.Request(
                f"{url}/default.aggscan/scanner",
                data=json.dumps({"batch": 1}).encode(),
                method="POST",
                headers={"Content-Type": "application/json"},
            )
            urllib.request.urlopen(req).close()

    rdr = ShcRestReader(None, {"catalog": CAT_AGG, "url": url, "batch": "20"})
    got = []
    evicted_once = False
    for part in rdr.partitions():
        gen = rdr.read(part)
        first = next(gen, None)
        if first is None:
            continue
        got.extend(first.to_pylist())
        if not evicted_once:
            flood(600)  # cap is 512: every pre-existing scanner evicted
            evicted_once = True
        for batch in gen:
            got.extend(batch.to_pylist())
    assert evicted_once
    exp = read_table(spark, CAT_AGG, root=root).collect()
    assert sorted((r["k"], r["grp"]) for r in got) == sorted(
        (r["k"], r["grp"]) for r in exp
    )
    assert len(got) == 150  # exactly-once across the eviction


def test_rest_scanner_lru_protects_active_scanner(spark, tmp_path):
    """Eviction is least-recently-TOUCHED first: hundreds of leaked
    scanners (created, never paged) must be evicted before a scanner
    that was just paged (ADVICE r11 — the old FIFO evicted actives)."""
    import urllib.request

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=100, regions=4)

    def open_scanner(batch=5):
        req = urllib.request.Request(
            f"{url}/default.aggscan/scanner",
            data=json.dumps({"batch": batch}).encode(),
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            return resp.headers["Location"]

    def pull(loc):
        with urllib.request.urlopen(f"{url}{loc}") as resp:
            return resp.status

    for _ in range(300):  # leaked: never touched after creation
        open_scanner()
    live = open_scanner()
    assert pull(live) == 200  # touch it
    for _ in range(300):  # push the table past the 512 cap
        open_scanner()
    # 601 scanners existed when the cap bit; the 89+ evicted must all
    # be the idle leaked ones — the recently-touched one survives
    assert pull(live) == 200


def test_rest_cell_batch_encode_parity(spark):
    """The writer's whole-column cell kernels must be byte-identical
    to coder.to_bytes for every (coder, dtype) fast path, including
    the sign/zero/NaN/infinity edges, with nulls passed through."""
    import math

    import pyarrow as pa
    from pyspark.sql import types as T

    from shc_spark.coders import get_coder
    from shc_spark.sources.rest import _encode_cells_batch

    int_edges = [0, 1, -1, 7, -120, None]
    cases = [
        (T.ByteType(), pa.int8(), int_edges + [127, -128]),
        (T.ShortType(), pa.int16(), int_edges + [32767, -32768]),
        (T.IntegerType(), pa.int32(), int_edges + [2**31 - 1, -(2**31)]),
        (T.LongType(), pa.int64(), int_edges + [2**63 - 1, -(2**63)]),
        (
            T.FloatType(),
            pa.float32(),
            [0.0, -0.0, 1.5, -2.25, float("inf"), float("-inf"), float("nan"), None],
        ),
        (
            T.DoubleType(),
            pa.float64(),
            [0.0, -0.0, 3.141592653589793, -1e300, float("inf"), float("-inf"),
             float("nan"), None],
        ),
        (T.BooleanType(), pa.bool_(), [True, False, None]),
        (T.StringType(), pa.string(), ["", "abc", "naïve—∑", None]),
        (T.BinaryType(), pa.binary(), [b"", b"\x00\xff", b"xyz", None]),
    ]
    for coder_name in ("OrderedType", "PrimitiveType"):
        coder = get_coder(coder_name)
        for dt, pat, values in cases:
            arr = pa.array(values, type=pat)
            got = _encode_cells_batch(coder, dt, arr)
            exp = [None if v is None else coder.to_bytes(v, dt) for v in values]
            assert got == exp, (coder_name, dt.simpleString(), values, got, exp)


def test_rest_write_composite_key_roundtrip(spark, tmp_path):
    """Composite rowkeys over the wire in BOTH directions: the Put
    path encodes (fixed-width bigint, var-width tail) through the
    shared rowkey kernel, the scanner decodes the same bytes back —
    and a first-dim range pushes as scanner bounds."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import (
        ensure_rest_server,
        read_table_rest,
        write_table_rest,
    )

    cat = json.dumps(
        {
            "table": {"namespace": "r", "name": "ckrest", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key1:key2",
            "columns": {
                "a": {"cf": "rowkey", "col": "key1", "type": "bigint"},
                "b": {"cf": "rowkey", "col": "key2", "type": "string"},
                "v": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    base = spark.range(60).select(
        (F.col("id") % 20).alias("a"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("b"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_table(base, cat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    url = ensure_rest_server(root)
    upd = spark.range(10).select(
        (F.col("id") % 20).alias("a"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("b"),
        F.lit(-5.0).alias("v"),
    )
    write_table_rest(upd, cat, url, timestamp=2000)
    got = sorted(read_table_rest(spark, cat, url).collect())
    exp = sorted(read_table(spark, cat, root=root).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert len(got) == 60
    assert sum(1 for r in got if r["v"] == -5.0) == 10
    # first-dim pushdown on the composite key over the wire
    rng = sorted(
        read_table_rest(spark, cat, url).filter(F.col("a") < 3).collect()
    )
    assert {r["a"] for r in rng} == {0, 1, 2}
    assert len(rng) == 9


def test_rest_cell_batch_decode_parity(spark):
    """The reader's whole-column decode kernels must invert
    coder.to_bytes exactly — same edge battery as the encode test,
    with None (absent cell) passthrough."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from shc_spark.coders import get_coder
    from shc_spark.sources.rest import _decode_cells_batch

    cases = [
        (T.ByteType(), [0, 1, -1, 127, -128, None]),
        (T.ShortType(), [0, -7, 32767, -32768, None]),
        (T.IntegerType(), [0, 42, -42, 2**31 - 1, -(2**31), None]),
        (T.LongType(), [0, 1, -1, 2**63 - 1, -(2**63), None]),
        (T.FloatType(), [0.0, -0.0, 1.5, -2.25, float("inf"), float("-inf"), None]),
        (T.DoubleType(), [0.0, -0.0, 3.141592653589793, -1e300, float("inf"), None]),
        (T.BooleanType(), [True, False, None]),
        (T.StringType(), ["", "abc", "naïve—∑", None]),
        (T.BinaryType(), [b"", b"\x00\xff", b"xyz", None]),
    ]
    for coder_name in ("OrderedType", "PrimitiveType"):
        coder = get_coder(coder_name)
        for dt, values in cases:
            raws = [None if v is None else coder.to_bytes(v, dt) for v in values]
            got = _decode_cells_batch(coder, dt, raws)
            exp = [None if r is None else coder.from_bytes(r, dt) for r in raws]
            assert got == exp, (coder_name, dt.simpleString(), got, exp)
    # NaN separately (NaN != NaN)
    import math

    for coder_name in ("OrderedType", "PrimitiveType"):
        coder = get_coder(coder_name)
        for dt in (T.FloatType(), T.DoubleType()):
            raws = [coder.to_bytes(float("nan"), dt)]
            got = _decode_cells_batch(coder, dt, raws)
            assert math.isnan(got[0])


def test_rest_write_salted_table(spark, tmp_path):
    """The REST writer's salt prefix now comes from the shared rowkey
    kernel (api.encode_rowkey_batch) — Puts to a salted table must land
    in the same buckets the embedded writer/reader compute (md5 of the
    UNSALTED key), so both transports see the merged update."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import (
        ensure_rest_server,
        read_table_rest,
        write_table_rest,
    )

    cat = json.dumps(
        {
            "table": {"namespace": "r", "name": "saltw", "tableCoder": "OrderedType", "version": "2.0", "saltBuckets": 8},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "val": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    base = spark.range(120).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("val"))
    write_table(base, cat, root=root, num_regions=8, mode="overwrite", timestamp=1000)
    url = ensure_rest_server(root)
    upd = spark.range(30).select(F.col("id").alias("k"), F.lit(-9.0).alias("val"))
    write_table_rest(upd, cat, url, timestamp=2000)
    emb = {r["k"]: r["val"] for r in read_table(spark, cat, root=root).collect()}
    rst = {r["k"]: r["val"] for r in read_table_rest(spark, cat, url).collect()}
    assert emb == rst and len(emb) == 120
    assert all(emb[k] == -9.0 for k in range(30))
    assert all(emb[k] == float(k) for k in range(30, 120))
    # and a pushed range on the salted table still sees the update
    got = (
        read_table_rest(spark, cat, url)
        .filter((F.col("k") >= 20) & (F.col("k") < 40))
        .collect()
    )
    assert sorted(r["k"] for r in got) == list(range(20, 40))


def _agg_arrow_batch(ks, grp, val, n):
    import pyarrow as pa

    return pa.record_batch(
        {
            "k": pa.array(ks, type=pa.int64()),
            "grp": pa.array(grp, type=pa.string()),
            "val": pa.array(val, type=pa.float64()),
            "n": pa.array(n, type=pa.int32()),
        }
    )


def test_rest_write_failed_attempt_then_retry_single_generation(spark, tmp_path):
    """VERDICT r12 #5 (REST write failure semantics): a task attempt
    that dies after PARTIAL Put POSTs must leave no trace — the retry
    attempt's tx is the only one the driver flushes, producing EXACTLY
    one new generation with no duplicate or phantom cells, and the
    dead attempt's server-side buffer is GC'd by the job-prefix abort
    at commit time (its tx id never reaches a commit message)."""
    import urllib.request

    from shc_spark.sources import read_table
    from shc_spark.sources.rest import ShcRestWriter, _http_json
    from shc_spark.sources import rest as rest_mod

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=40, regions=4)

    def gens():
        data, _ = _http_json(f"{url}/default.aggscan/generations")
        return data["count"]

    base_gens = gens()
    w = ShcRestWriter(None, {"catalog": CAT_AGG, "url": url, "timestamp": "2000"})

    # > 2000 rows per 2500-row arrow batch forces one POST per batch
    # (the writer flushes pending at 2000), so the attempt dies with a
    # TRUE partial Put batch buffered server-side. Attempt-1 rows carry
    # a poison value (-1.0): any phantom cell that survived the failed
    # attempt would be visible in the read-back.
    def mk(val):
        ks = list(range(5000))
        return [
            _agg_arrow_batch(ks[:2500], ["gA"] * 2500, [val] * 2500, [1] * 2500),
            _agg_arrow_batch(ks[2500:], ["gA"] * 2500, [val] * 2500, [1] * 2500),
        ]

    # attempt 1: the server dies mid-Put-batch — POST #1 (2500 rows)
    # lands in the tx buffer, POST #2 raises, the task dies
    real_http = rest_mod._http_json
    calls = {"posts": 0}

    import urllib.error

    def flaky(u, method="GET", body=None):
        if method == "POST" and u.endswith("/rows"):
            calls["posts"] += 1
            if calls["posts"] == 2:
                raise urllib.error.HTTPError(u, 503, "region server down", {}, None)
        return real_http(u, method, body)

    import shc_spark.sources.rest as _r

    _r._http_json, died = flaky, None
    try:
        try:
            w.write(iter(mk(-1.0)))
        except Exception as e:
            died = e
    finally:
        _r._http_json = rest_mod._http_json = real_http
    assert died is not None and calls["posts"] == 2  # died mid-batch
    assert gens() == base_gens  # nothing flushed, nothing visible

    # attempt 2 (the Spark retry): same writer object (same job
    # prefix), fresh tx — succeeds end to end
    msg = w.write(iter(mk(100.0)))
    w.commit([msg])
    assert gens() == base_gens + 1  # exactly ONE new generation

    got = {r["k"]: r for r in read_table(spark, CAT_AGG, root=root).collect()}
    assert len(got) == 5000
    # no phantom cells from the dead attempt's partial buffer
    assert all(got[k]["val"] == 100.0 for k in range(5000))

    # the dead attempt's buffer is gone: flushing every tx under the
    # job prefix again yields zero rows and no new generation (the
    # commit-time prefix abort GC'd it)
    out, _ = _http_json(
        f"{url}/default.aggscan/flush", "POST", {"tx": [msg.tx]}
    )
    assert out["rows"] == 0
    assert gens() == base_gens + 1


def test_rest_write_abort_drops_job_buffers(spark, tmp_path):
    """Driver-side abort (job failure) drops EVERY buffered Put under
    the job prefix — including attempts whose tx never reached a
    commit message — so a later flush can never resurrect them."""
    from shc_spark.sources.rest import ShcRestWriter, _http_json

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=10, regions=4)

    def gens():
        data, _ = _http_json(f"{url}/default.aggscan/generations")
        return data["count"]

    base_gens = gens()
    w = ShcRestWriter(None, {"catalog": CAT_AGG, "url": url, "timestamp": "2000"})
    batch = _agg_arrow_batch([0, 1], ["gZ", "gZ"], [9.0, 9.0], [7, 7])
    msg1 = w.write(iter([batch]))   # task 1 succeeded, then job fails
    msg2 = w.write(iter([batch]))   # a second attempt's buffer too
    w.abort([msg1])                 # driver abort: msg2's tx unknown to it
    # neither tx can flush anything now — the prefix GC caught msg2
    out, _ = _http_json(
        f"{url}/default.aggscan/flush", "POST", {"tx": [msg1.tx, msg2.tx]}
    )
    assert out["rows"] == 0
    assert gens() == base_gens


def test_rest_scan_reopen_budget_bounds_livelock(spark, tmp_path, monkeypatch):
    """ADVICE r12: a scanner evicted repeatedly BEFORE serving a page
    (sustained cap thrash) must exhaust a bounded reopen budget and
    raise, not livelock in a tight POST/GET loop."""
    import urllib.error

    from shc_spark.sources import rest as rest_mod
    from shc_spark.sources.rest import ShcRestReader

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=30, regions=4)

    real_http = rest_mod._http_json

    def always_evicted(u, method="GET", body=None):
        if method == "GET" and "/scanner/" in u:
            raise urllib.error.HTTPError(u, 404, "unknown scanner", {}, None)
        return real_http(u, method, body)

    monkeypatch.setattr(rest_mod, "_http_json", always_evicted)
    monkeypatch.setattr(rest_mod, "_SCAN_REOPEN_LIMIT", 3)
    rdr = ShcRestReader(None, {"catalog": CAT_AGG, "url": url, "batch": "10"})
    part = rdr.partitions()[0]
    with pytest.raises(RuntimeError, match="retry budget"):
        for _ in rdr.read(part):
            pass


def test_temporal_rowkey_refused_identically_on_both_transports(spark, tmp_path):
    """ADVICE r12: the shared rowkey kernel refuses temporal key dims
    (neither coder defines their byte encoding), and BOTH transports
    route through it — so the Arrow->pandas conversion difference the
    advice flags can never silently produce divergent wire bytes: the
    write fails identically instead."""
    import datetime

    import pyarrow as pa

    from shc_spark.sources.rest import ShcRestWriter, ensure_rest_server

    cat = json.dumps(
        {
            "table": {"namespace": "t", "name": "tskey", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "ts",
            "columns": {
                "ts": {"cf": "rowkey", "col": "ts", "type": "timestamp"},
                "val": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.createDataFrame(
        [(datetime.datetime(2026, 1, 1, 0, 0, i), float(i)) for i in range(3)],
        "ts timestamp, val double",
    )
    with pytest.raises(Exception, match="cannot encode"):
        write_table(df, cat, root=root, num_regions=4, mode="overwrite")

    # REST twin: same kernel, same refusal (drive the writer directly —
    # the table need not exist for the key encode to fail first)
    url = ensure_rest_server(root)
    w = ShcRestWriter(None, {"catalog": cat, "url": url})
    batch = pa.record_batch(
        {
            "ts": pa.array(
                [datetime.datetime(2026, 1, 1)], type=pa.timestamp("us")
            ),
            "val": pa.array([1.0], type=pa.float64()),
        }
    )
    with pytest.raises(ValueError, match="cannot encode"):
        w.write(iter([batch]))


def test_rest_version_scan_matches_embedded_explode(spark, tmp_path):
    """maxVersions over the wire (S14 through the transport): the
    multi-version scanner serves one Stargate Row per key with each
    column's N newest cells carrying their OWN timestamps; the client
    reassembles one row per (key, ts) — identical to the embedded
    merge_to_latest=False read over the same table."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import ensure_rest_server, read_table_rest_versions

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=60, regions=4)
    # generation 2: partial-cell update of every 5th key (val only)
    upd = spark.range(12).select(
        (F.col("id") * 5).alias("k"),
        F.lit(None).cast("string").alias("grp"),
        F.lit(-5.0).alias("val"),
        F.lit(None).cast("int").alias("n"),
    )
    write_table(upd, CAT_AGG, root=root, mode="append", timestamp=2000)

    got = read_table_rest_versions(spark, CAT_AGG, url, max_versions=3)
    exp = read_table(
        spark, CAT_AGG, root=root, merge_to_latest=False, keep_internal=True
    ).select(*got.columns)
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731 — None-safe sort
    gs = sorted((tuple(r) for r in got.collect()), key=key)
    es = sorted((tuple(r) for r in exp.collect()), key=key)
    assert gs == es and len(gs) == 72  # 60 base + 12 update versions

    # updated keys: version rows keep HBase cell semantics — the
    # ts=2000 version has val only (null cells are not stored)
    v2 = [r for r in got.collect() if r["__ts"] == 2000]
    assert len(v2) == 12
    assert all(r["val"] == -5.0 and r["grp"] is None and r["n"] is None for r in v2)


def test_rest_version_cap_is_per_cell_newest(spark, tmp_path):
    """The maxVersions budget caps each COLUMN independently at its N
    newest cells (HBase grants per-column version budgets), and
    maxVersions=1 equals the merged latest view."""
    from shc_spark.sources.rest import (
        ensure_rest_server,
        read_table_rest,
        read_table_rest_versions,
    )

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=10, regions=4)
    for g, v in enumerate((-1.0, -2.0, -3.0)):  # 3 more versions of val for k=0
        upd = spark.range(1).select(
            F.col("id").alias("k"),
            F.lit(None).cast("string").alias("grp"),
            F.lit(v).alias("val"),
            F.lit(None).cast("int").alias("n"),
        )
        write_table(upd, CAT_AGG, root=root, mode="append", timestamp=2000 + g)

    two = read_table_rest_versions(spark, CAT_AGG, url, max_versions=2)
    k0 = sorted(
        (r["__ts"], r["val"]) for r in two.filter(F.col("k") == 0).collect()
    )
    # 2 newest val versions only (ts 2001/2002); grp/n's newest (and
    # only) cells ride the ts=1000 base version row
    assert [t for t, _ in k0] == [1000, 2001, 2002]
    assert [v for _, v in k0] == [None, -2.0, -3.0]
    base_row = [r for r in two.filter(F.col("k") == 0).collect() if r["__ts"] == 1000]
    assert base_row[0]["grp"] == "g0" and base_row[0]["n"] is None  # k=0: n null in fixture

    one = read_table_rest_versions(spark, CAT_AGG, url, max_versions=1)
    merged = read_table_rest(spark, CAT_AGG, url)
    # per key: collapse the maxVersions=1 rows per cell == merged view
    gv = {
        r["k"]: r["val"]
        for r in one.groupBy("k").agg(
            F.expr("max_by(val, CASE WHEN val IS NOT NULL THEN __ts END)").alias("val")
        ).collect()
    }
    mv = {r["k"]: r["val"] for r in merged.collect()}
    assert gv == mv and gv[0] == -3.0


def test_rest_multiget_bulk_get(spark, tmp_path):
    """Bulk point-gets over the wire: one /multiget round trip, HBase
    Get semantics (missing keys absent), salt recomputed per key; the
    composite-key refusal points at the range-scan path."""
    import pytest as _pytest

    from shc_spark.sources import read_table
    from shc_spark.sources.rest import bulk_get_rest, ensure_rest_server

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=50, regions=4)
    got = bulk_get_rest(spark, CAT_AGG, url, [3, 17, 42, 999])
    rows = {r["k"]: r for r in got.collect()}
    assert set(rows) == {3, 17, 42}  # 999 absent: no such row
    exp = {
        r["k"]: r
        for r in read_table(spark, CAT_AGG, root=root)
        .filter(F.col("k").isin(3, 17, 42))
        .collect()
    }
    for k in (3, 17, 42):
        assert tuple(rows[k]) == tuple(exp[k])

    # salted single-dim table: the salt byte is recomputed per key
    cat_s = json.dumps(
        {
            "table": {"namespace": "r", "name": "mgsalt", "tableCoder": "OrderedType", "version": "2.0", "saltBuckets": 8},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
                "val": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    df = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 3.0).alias("val"))
    write_table(df, cat_s, root=root, num_regions=8, mode="overwrite", timestamp=1000)
    got_s = bulk_get_rest(spark, cat_s, url, [7, 21])
    assert sorted((r["k"], r["val"]) for r in got_s.collect()) == [(7, 21.0), (21, 63.0)]

    # composite rowkey: full-key Gets cannot address a prefix — refuse
    cat_ck = json.dumps(
        {
            "table": {"namespace": "r", "name": "mgck", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "k1:k2",
            "columns": {
                "a": {"cf": "rowkey", "col": "k1", "type": "bigint"},
                "b": {"cf": "rowkey", "col": "k2", "type": "string"},
                "val": {"cf": "cf", "col": "v", "type": "double"},
            },
        }
    )
    with _pytest.raises(ValueError, match="composite"):
        bulk_get_rest(spark, cat_ck, url, [1])


def test_rest_increment_and_checkput(spark, tmp_path):
    """Atomic mutations over the wire: a batch Increment reads-adds-
    writes under the server lock and commits ONE generation (staged
    values accumulate within the batch); checkAndPut applies iff the
    current bytes equal the expected (None = absent), HBase semantics."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import (
        check_and_put_rest,
        ensure_rest_server,
        increment_rest,
        read_table_rest,
        _http_json,
    )

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=20, regions=4)

    def gens():
        data, _ = _http_json(f"{url}/default.aggscan/generations")
        return data["count"]

    g0 = gens()
    # batch increment: same (key, col) twice in one batch accumulates;
    # int and double cells both take the typed path
    out = increment_rest(
        CAT_AGG, url,
        [(1, "n", 5), (1, "n", 2), (2, "val", 0.5), (3, "n", 10)],
        ts=2000,
    )
    assert gens() == g0 + 1  # ONE generation for the whole batch
    # fixture: n = k for k % 5 != 0, val = k * 1.5
    assert out[(1, "n")] == 1 + 5 + 2 == 8
    assert out[(2, "val")] == 2 * 1.5 + 0.5
    assert out[(3, "n")] == 13
    merged = {r["k"]: r for r in read_table_rest(spark, CAT_AGG, url).collect()}
    assert merged[1]["n"] == 8 and merged[3]["n"] == 13
    assert merged[2]["val"] == 3.5
    # absent cell increments from 0 (k=5: n is null in the fixture)
    out = increment_rest(CAT_AGG, url, [(5, "n", 4)], ts=2001)
    assert out[(5, "n")] == 4

    # checkAndPut: wrong expected -> refused, state unchanged
    assert check_and_put_rest(CAT_AGG, url, 1, "n", 999, 111, ts=3000) is False
    # right expected -> applied
    assert check_and_put_rest(CAT_AGG, url, 1, "n", 8, 111, ts=3001) is True
    # expected None = cell must be absent (k=10: n null in fixture)
    assert check_and_put_rest(CAT_AGG, url, 10, "n", None, 55, ts=3002) is True
    assert check_and_put_rest(CAT_AGG, url, 10, "n", None, 66, ts=3003) is False
    emb = {r["k"]: r for r in read_table(spark, CAT_AGG, root=root).collect()}
    assert emb[1]["n"] == 111 and emb[10]["n"] == 55


def test_rest_atomics_are_serialized(spark, tmp_path):
    """Concurrency contract: racing CAS ops with the same expected
    value — exactly ONE wins; racing increments never lose an update
    (the server lock spans read-compare/add-write)."""
    import threading

    from shc_spark.sources.rest import (
        check_and_put_rest,
        ensure_rest_server,
        increment_rest,
        read_table_rest,
    )

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=8, regions=4)

    wins = []
    def cas():
        # fixture: k=1 has n=1
        wins.append(check_and_put_rest(CAT_AGG, url, 1, "n", 1, 42))

    ts = [threading.Thread(target=cas) for _ in range(8)]
    [t.start() for t in ts]; [t.join() for t in ts]
    assert sum(wins) == 1  # exactly one CAS applied

    def bump():
        for _ in range(5):
            increment_rest(CAT_AGG, url, [(2, "n", 1)])

    ts = [threading.Thread(target=bump) for _ in range(6)]
    [t.start() for t in ts]; [t.join() for t in ts]
    merged = {r["k"]: r["n"] for r in read_table_rest(spark, CAT_AGG, url).collect()}
    assert merged[2] == 2 + 30  # base n=2 + 6 threads x 5 increments


def test_rest_check_and_delete(spark, tmp_path):
    """checkAndDelete over the wire: tombstone the row iff the guard
    cell matches (None = must be absent); the tombstone follows the
    delete lifecycle — masks merged reads, a later put resurrects."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import (
        check_and_delete_rest,
        ensure_rest_server,
        read_table_rest,
        write_table_rest,
    )

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=12, regions=4)

    # wrong expected -> refused, row still visible
    assert check_and_delete_rest(CAT_AGG, url, 3, "grp", "nope", ts=2000) is False
    assert check_and_delete_rest(CAT_AGG, url, 3, "grp", "g0", ts=2001) is True
    rows = {r["k"] for r in read_table_rest(spark, CAT_AGG, url).collect()}
    assert 3 not in rows and len(rows) == 11
    emb = {r["k"] for r in read_table(spark, CAT_AGG, root=root).collect()}
    assert emb == rows  # both transports agree on the masked view

    # guard on an ABSENT cell (k % 5 == 0 rows have null n)
    assert check_and_delete_rest(CAT_AGG, url, 5, "n", None, ts=2002) is True
    assert check_and_delete_rest(CAT_AGG, url, 6, "n", None, ts=2003) is False
    rows = {r["k"] for r in read_table_rest(spark, CAT_AGG, url).collect()}
    assert rows == set(range(12)) - {3, 5}

    # a LATER put resurrects the tombstoned row
    upd = spark.range(3, 4).select(
        F.col("id").alias("k"), F.lit("gBack").alias("grp"),
        F.lit(1.0).alias("val"), F.lit(9).cast("int").alias("n"),
    )
    write_table_rest(upd, CAT_AGG, url, timestamp=9000)
    back = {r["k"]: r for r in read_table_rest(spark, CAT_AGG, url).collect()}
    assert back[3]["grp"] == "gBack" and 5 not in back


def test_rest_version_equal_ts_keeps_multiset(spark, tmp_path):
    """ADVICE r13 #1: two generations writing the same column at the
    SAME explicit timestamp must stay two version rows over the wire —
    the multiset shape the embedded merge_to_latest=False read serves —
    not a generation-order-dependent dict overwrite."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import read_table_rest_versions

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=10, regions=4)
    # second generation: same key, same column, SAME ts as the base
    upd = spark.range(1).select(
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("grp"),
        F.lit(-9.0).alias("val"),
        F.lit(None).cast("int").alias("n"),
    )
    write_table(upd, CAT_AGG, root=root, mode="append", timestamp=1000)

    # fresh relation per query (the Spark 4.1 one-cached-plan hazard:
    # reusing one relation across differently-filtered queries replays
    # the first plan's pruning — see ShcReader._warn_on_replan)
    k0 = (
        read_table_rest_versions(spark, CAT_AGG, url, max_versions=3)
        .filter(F.col("k") == 0)
        .collect()
    )
    assert len(k0) == 2  # both equal-ts generations present
    assert all(r["__ts"] == 1000 for r in k0)
    assert sorted(r["val"] for r in k0) == [-9.0, 0.0]
    # ...and the wire multiset equals the embedded raw-read multiset
    got = read_table_rest_versions(spark, CAT_AGG, url, max_versions=3)
    exp = read_table(
        spark, CAT_AGG, root=root, merge_to_latest=False, keep_internal=True
    ).select(*got.columns)
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted((tuple(r) for r in got.collect()), key=key) == sorted(
        (tuple(r) for r in exp.collect()), key=key
    )


def test_rest_scanner_rejects_filter_with_maxversions(spark, tmp_path):
    """ADVICE r13 #3: the wire surface must 400 a scanner request that
    combines a value filter with maxVersions>1 (the shipped client
    never sends it) — an external caller must not misread a merged
    filtered scan as version history."""
    import urllib.error
    import urllib.request

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=10, regions=4)
    body = {
        "maxVersions": 2,
        "filter": {
            "type": "SingleColumnValueFilter",
            "family": "cf",
            "qualifier": "val",
            "op": "EQUAL",
            "value": "0",
        },
    }
    req = urllib.request.Request(
        f"{url}/default.aggscan/scanner",
        data=json.dumps(body).encode(),
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400
    assert "maxVersions" in ei.value.read().decode()


def test_rest_version_scan_streams_by_boundary_cut(spark, tmp_path):
    """ADVICE r13 #2: scan_versions buffers ONE boundary cut at a
    time instead of the whole range — verified by the sub-range
    delegate being invoked once per cut, with the concatenated output
    identical (and still globally key-ascending) to the embedded
    multiset read."""
    from shc_spark.sources import read_table
    from shc_spark.sources.rest import _TableService, read_table_rest_versions

    root = str(tmp_path)
    url = _rest_fixture(spark, root, rows=60, regions=4)
    upd = spark.range(12).select(
        (F.col("id") * 5).alias("k"),
        F.lit(None).cast("string").alias("grp"),
        F.lit(-5.0).alias("val"),
        F.lit(None).cast("int").alias("n"),
    )
    write_table(upd, CAT_AGG, root=root, mode="append", timestamp=2000)

    svc = _TableService(root)
    calls = []
    orig = svc._scan_versions_range

    def spy(table, lo, hi, mv):
        calls.append((lo, hi))
        return orig(table, lo, hi, mv)

    svc._scan_versions_range = spy
    rows = list(svc.scan_versions("default.aggscan", None, None, 3))
    assert len(calls) >= 4  # one sub-range per boundary cut (>= regions)
    # cuts are disjoint and ascending; output keys globally ascending
    keys = [r["key"] for r in rows]
    import base64 as _b64mod

    raw = [_b64mod.b64decode(k) for k in keys]
    assert raw == sorted(raw) and len(raw) == 60
    # and the wire result through the real server equals the embedded read
    got = read_table_rest_versions(spark, CAT_AGG, url, max_versions=3)
    exp = read_table(
        spark, CAT_AGG, root=root, merge_to_latest=False, keep_internal=True
    ).select(*got.columns)
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted((tuple(r) for r in got.collect()), key=key) == sorted(
        (tuple(r) for r in exp.collect()), key=key
    )
