"""Multiple catalogs viewing one physical table + restrictive modes +
map<long,T> version maps (reference DynamicColumnSuite.scala:151-248,
HBaseTableScan.scala:107-110, HBaseRelation.scala:348-352)."""

import json

import pytest
from pyspark.sql import functions as F

from shc_spark.sources import read_table, write_table

ROOT = "/tmp/shc_tables_crosscat"


def _cat(name, columns, rowkey="key"):
    return json.dumps(
        {
            "table": {
                "namespace": "x",
                "name": name,
                "tableCoder": "OrderedType",
                "version": "2.0",
            },
            "rowkey": rowkey,
            "columns": columns,
        }
    )


WIDE = _cat(
    "wide",
    {
        "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
        "name": {"cf": "cfa", "col": "nm", "type": "string"},
        "seg": {"cf": "cfa", "col": "sg", "type": "string"},
        "bal": {"cf": "cfb", "col": "bl", "type": "double"},
        "nk": {"cf": "cfb", "col": "nk", "type": "int"},
    },
)


@pytest.fixture(scope="module")
def wide_table(spark):
    import shutil

    shutil.rmtree(ROOT, ignore_errors=True)
    df = spark.createDataFrame(
        [(i, f"name{i}", f"seg{i % 3}", float(i) * 1.5, i % 7) for i in range(50)],
        "k long, name string, seg string, bal double, nk int",
    )
    write_table(df, WIDE, root=ROOT, num_regions=4, mode="overwrite", timestamp=1000)
    # second generation: update nm for k % 10 == 0 (other cells null ->
    # not stored -> old values survive the merge)
    gen2 = df.filter(F.col("k") % 10 == 0).select(
        "k",
        F.concat(F.col("name"), F.lit(":v2")).alias("name"),
        F.lit(None).cast("string").alias("seg"),
        F.lit(None).cast("double").alias("bal"),
        F.lit(None).cast("int").alias("nk"),
    )
    write_table(gen2, WIDE, root=ROOT, timestamp=2000)
    return df


def test_subset_catalog_renamed(spark, wide_table):
    sub = _cat(
        "wide",
        {
            "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "cust_name": {"cf": "cfa", "col": "nm", "type": "string"},
            "balance": {"cf": "cfb", "col": "bl", "type": "double"},
        },
    )
    got = {r["ck"]: (r["cust_name"], r["balance"]) for r in read_table(spark, sub, root=ROOT).collect()}
    assert len(got) == 50
    assert got[3] == ("name3", 4.5)
    assert got[10] == ("name10:v2", 15.0)  # merged latest name, surviving bal


def test_missing_cell_is_null(spark, wide_table):
    sub = _cat(
        "wide",
        {
            "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "ghost": {"cf": "cfa", "col": "nope", "type": "string"},
        },
    )
    rows = read_table(spark, sub, root=ROOT).collect()
    assert len(rows) == 50 and all(r["ghost"] is None for r in rows)


DYN = _cat(
    "wide",
    {
        "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
        "cfa_map": {"cf": "cfa", "col": "", "type": "map<string,string>"},
    },
)


def test_dynamic_family_capture(spark, wide_table):
    got = {r["ck"]: r["cfa_map"] for r in read_table(spark, DYN, root=ROOT, restrictive="family").collect()}
    assert got[3] == {"nm": "name3", "sg": "seg0"}
    assert got[10] == {"nm": "name10:v2", "sg": "seg1"}  # per-cell latest


def test_restrictive_column_captures_nothing(spark, wide_table):
    got = read_table(spark, DYN, root=ROOT, restrictive="column").collect()
    assert all(r["cfa_map"] == {} for r in got)
    for cat in (DYN, WIDE):  # validated for the writer's own catalog too
        with pytest.raises(ValueError, match="restrictive"):
            read_table(spark, cat, root=ROOT, restrictive="bogus")


def test_dynamic_skips_explicitly_declared(spark, wide_table):
    cat = _cat(
        "wide",
        {
            "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "name": {"cf": "cfa", "col": "nm", "type": "string"},
            "rest": {"cf": "cfa", "col": "", "type": "map<string,string>"},
        },
    )
    r = {x["ck"]: x for x in read_table(spark, cat, root=ROOT, restrictive="none").collect()}
    assert r[4]["name"] == "name4" and r[4]["rest"] == {"sg": "seg1"}


VMAP = _cat(
    "wide",
    {
        "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
        "nm_vers": {"cf": "cfa", "col": "nm", "type": "map<long,string>"},
        "seg": {"cf": "cfa", "col": "sg", "type": "string"},
    },
)


def test_version_map(spark, wide_table):
    got = {r["ck"]: r for r in read_table(spark, VMAP, root=ROOT).collect()}
    assert got[3]["nm_vers"] == {1000: "name3"}
    assert got[10]["nm_vers"] == {1000: "name10", 2000: "name10:v2"}
    assert got[10]["seg"] == "seg1"  # static col still merges to latest
    # max_versions limits the map (MaxVersionsSuite semantics)
    got1 = {
        r["ck"]: r["nm_vers"]
        for r in read_table(spark, VMAP, root=ROOT, max_versions=1).collect()
    }
    assert got1[10] == {2000: "name10:v2"}


def test_family_version_map(spark, wide_table):
    cat = _cat(
        "wide",
        {
            "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "cfa_hist": {"cf": "cfa", "col": "", "type": "map<string,map<long,string>>"},
        },
    )
    got = {r["ck"]: r["cfa_hist"] for r in read_table(spark, cat, root=ROOT, restrictive="family").collect()}
    assert got[10] == {
        "nm": {1000: "name10", 2000: "name10:v2"},
        "sg": {1000: "seg1"},
    }
    assert got[7] == {"nm": {1000: "name7"}, "sg": {1000: "seg1"}}


def test_pushdown_through_cross_catalog(spark, wide_table):
    sub = _cat(
        "wide",
        {
            "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "cust_name": {"cf": "cfa", "col": "nm", "type": "string"},
        },
    )
    rows = read_table(spark, sub, root=ROOT).filter(F.col("ck").between(5, 9)).collect()
    assert sorted(r["ck"] for r in rows) == [5, 6, 7, 8, 9]


def test_key_ranges_prune_cross_catalog(spark):
    """``key_ranges`` reaches the scan for every catalog: a subset
    catalog over a bulk-loaded 4-region table plans fewer scan
    partitions with a range than without."""
    import shutil

    root = ROOT + "_kr"
    shutil.rmtree(root, ignore_errors=True)
    df = spark.createDataFrame([(i, f"n{i}", i) for i in range(40)], "k long, name string, nk int")
    wcat = _cat(
        "kr",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "name": {"cf": "cfa", "col": "nm", "type": "string"},
            "nk": {"cf": "cfb", "col": "nk", "type": "int"},
        },
    )
    write_table(df, wcat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    sub = _cat(
        "kr",
        {
            "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "nm": {"cf": "cfa", "col": "nm", "type": "string"},
        },
    )
    full = read_table(spark, sub, root=root)
    ranged = read_table(spark, sub, root=root, key_ranges=[(0, 9)])
    assert ranged.rdd.getNumPartitions() < full.rdd.getNumPartitions()
    got = ranged.filter(F.col("ck") <= 9).collect()
    assert sorted((r["ck"], r["nm"]) for r in got) == [(i, f"n{i}") for i in range(10)]


def test_reader_batch_size_equivalent(spark, wide_table):
    """iter_batches memory bound: artificially tiny batches must give
    identical results (VERDICT r1 #7)."""
    base = read_table(spark, WIDE, root=ROOT)
    tiny = read_table(spark, WIDE, root=ROOT, reader_options={"batch_size": 3})
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, tiny.collect()))
    assert a == b and len(a) == 50


def test_single_gen_version_map_shuffle_free(spark):
    """On a single-generation unique-key table, version maps build
    per-row: the plan must contain no shuffle (Exchange)."""
    import shutil

    root = ROOT + "_nogen"
    shutil.rmtree(root, ignore_errors=True)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, name string"
    )
    cat = _cat(
        "single",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "name": {"cf": "cfa", "col": "nm", "type": "string"},
        },
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite", timestamp=500)
    vcat = _cat(
        "single",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "nm_vers": {"cf": "cfa", "col": "nm", "type": "map<long,string>"},
        },
    )
    out = read_table(spark, vcat, root=root)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["k"]: r["nm_vers"] for r in out.collect()}
    assert got[5] == {500: "v5"}


def test_appended_table_merge_shuffle_free(spark):
    """Two-generation table: plain read must merge in the SOURCE
    (LSM merge-read) with no Exchange in the plan, and match the
    explicit groupBy merge cell for cell (VERDICT r1 #6)."""
    import shutil

    root = ROOT + "_lsm"
    shutil.rmtree(root, ignore_errors=True)
    cat = _cat(
        "lsm",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "a": {"cf": "cfa", "col": "a", "type": "string"},
            "b": {"cf": "cfa", "col": "b", "type": "double"},
        },
    )
    df = spark.createDataFrame(
        [(i, f"a{i}", float(i)) for i in range(100)], "k long, a string, b double"
    )
    write_table(df, cat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    # gen2 updates a for k%3==0 (b null -> not stored -> survives)
    gen2 = df.filter(F.col("k") % 3 == 0).select(
        "k", F.concat(F.col("a"), F.lit(":2")).alias("a"),
        F.lit(None).cast("double").alias("b"),
    )
    write_table(gen2, cat, root=root, timestamp=2000)

    merged = read_table(spark, cat, root=root)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    # force the groupBy path for comparison: a time filter that keeps
    # everything disables the in-source merge
    slow = read_table(spark, cat, root=root, min_stamp=0)
    assert "Exchange" in slow._jdf.queryExecution().executedPlan().toString()
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b and len(a) == 100
    assert dict((r[0], r[1]) for r in a)[3] == "a3:2"
    assert dict((r[0], r[2]) for r in a)[3] == 3.0  # survived null

    # pushdown composes with merge partitions
    got = read_table(spark, cat, root=root).filter(F.col("k").between(10, 20))
    assert sorted(r["k"] for r in got.collect()) == list(range(10, 21))

    # another catalog (renamed subset) over flat cells takes the same
    # in-source merge as the writer's catalog
    sub = _cat(
        "lsm",
        {
            "key": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "alpha": {"cf": "cfa", "col": "a", "type": "string"},
        },
    )
    fast = read_table(spark, sub, root=root)
    assert "Exchange" not in fast._jdf.queryExecution().executedPlan().toString()
    slow = read_table(spark, sub, root=root, min_stamp=0)
    a = sorted(map(tuple, fast.collect()))
    assert a == sorted(map(tuple, slow.collect())) and len(a) == 100
    assert dict(a)[3] == "a3:2"


def test_append_subset_catalog_preserves_stored(spark):
    """Appending through a narrower catalog must not clobber the
    stored writer catalog — earlier generations' columns stay
    readable (their (cf, qualifier) mapping lives only there)."""
    import json as _json
    import shutil

    root = ROOT + "_appendcat"
    shutil.rmtree(root, ignore_errors=True)
    full = _cat(
        "apc",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "a": {"cf": "cf", "col": "a", "type": "string"},
            "b": {"cf": "cf", "col": "b", "type": "int"},
        },
    )
    sub = _cat(
        "apc",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "a": {"cf": "cf", "col": "a", "type": "string"},
        },
    )
    df = spark.createDataFrame([(i, f"a{i}", i) for i in range(10)], "k long, a string, b int")
    write_table(df, full, root=root, num_regions=4, mode="overwrite", timestamp=1)
    write_table(
        df.limit(3).select("k", F.concat("a", F.lit("x")).alias("a")),
        sub, root=root, timestamp=2,
    )
    cols = _json.load(open(f"{root}/x.apc/_catalog.json"))["columns"]
    assert set(cols) == {"k", "a", "b"}
    rows = {r["k"]: (r["a"], r["b"]) for r in read_table(spark, full, root=root).collect()}
    assert rows[0] == ("a0x", 0)  # updated a, surviving b
    assert rows[5] == ("a5", 5)
    # incompatible rowkey spec is rejected at commit
    import pytest as _pytest

    bad = _cat(
        "apc",
        {
            "k2": {"cf": "rowkey", "col": "key2", "type": "bigint"},
            "a": {"cf": "cf", "col": "a", "type": "string"},
        },
        rowkey="key2",
    )
    with _pytest.raises(Exception):
        write_table(df.limit(1).select(F.col("k").alias("k2"), "a"), bad, root=root, timestamp=3)


def test_version_map_duplicate_ts(spark):
    """Two generations written with the SAME explicit timestamp must
    not trip Spark's duplicate-map-key error: the version map keeps
    one deterministic entry per ts (last after the (ts, value) sort)."""
    import shutil

    root = ROOT + "_dupts"
    shutil.rmtree(root, ignore_errors=True)
    cat = _cat(
        "dupts",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "v": {"cf": "cf", "col": "v", "type": "string"},
        },
    )
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(10)], "k long, v string")
    df2 = spark.createDataFrame([(i, f"b{i}") for i in range(10)], "k long, v string")
    write_table(df1, cat, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    write_table(df2, cat, root=root, timestamp=1000)
    vcat = _cat(
        "dupts",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "v_vers": {"cf": "cf", "col": "v", "type": "map<long,string>"},
        },
    )
    got = {r["k"]: r["v_vers"] for r in read_table(spark, vcat, root=root).collect()}
    assert got[3] == {1000: "b3"}  # deterministic: max value per ts


def test_cross_catalog_keep_internal(spark, wide_table):
    sub = _cat(
        "wide",
        {
            "ck": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "cust_name": {"cf": "cfa", "col": "nm", "type": "string"},
        },
    )
    rows = {r["ck"]: r["__ts"] for r in read_table(spark, sub, root=ROOT, keep_internal=True).collect()}
    assert rows[10] == 2000 and rows[3] == 1000
    with pytest.raises(ValueError):
        read_table(spark, sub, root=ROOT, merge_dynamic_maps=True)


def test_many_generation_merge(spark):
    """Five stacked generations (overlapping key ranges, interleaved
    null cells) through the shuffle-free LSM merge read: per-cell
    latest must match the explicit groupBy merge exactly."""
    import shutil

    root = ROOT + "_gen5"
    shutil.rmtree(root, ignore_errors=True)
    cat = _cat(
        "gen5",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "a": {"cf": "cf", "col": "a", "type": "string"},
            "b": {"cf": "cf", "col": "b", "type": "int"},
        },
    )
    base = spark.createDataFrame(
        [(i, f"a{i}", i) for i in range(60)], "k long, a string, b int"
    )
    write_table(base, cat, root=root, num_regions=4, mode="overwrite", timestamp=100)
    for g in range(1, 5):
        upd = base.filter(F.col("k") % (g + 1) == 0).select(
            "k",
            F.concat(F.lit(f"g{g}_"), F.col("a")).alias("a") if g % 2 else F.lit(None).cast("string").alias("a"),
            F.lit(None).cast("int").alias("b") if g % 2 else (F.col("b") + 1000 * g).alias("b"),
        )
        write_table(upd, cat, root=root, timestamp=100 + g)
    fast = read_table(spark, cat, root=root)
    assert "Exchange" not in fast._jdf.queryExecution().executedPlan().toString()
    slow = read_table(spark, cat, root=root, min_stamp=0)  # groupBy path
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b and len(a) == 60


def test_cross_catalog_read_applies_deletes(spark, tmp_path):
    """A key deleted via tombstone must NOT resurrect when the table
    is read through a different (subset/renamed) catalog — the Spark-
    side cross-catalog merge applies the same masking as the source's
    LSM merge."""
    import json

    from pyspark.sql import functions as F

    from shc_spark.sources import delete_rows, read_table, write_table

    wcat = json.dumps(
        {
            "table": {"namespace": "x", "name": "cc_del", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "a": {"cf": "cf", "col": "a", "type": "int"},
                "b": {"cf": "cf", "col": "b", "type": "string"},
            },
        }
    )
    rcat = json.dumps(  # renamed subset view over the same cells
        {
            "table": {"namespace": "x", "name": "cc_del", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "alpha": {"cf": "cf", "col": "a", "type": "int"},
            },
        }
    )
    root = str(tmp_path)
    df = spark.createDataFrame([(i, i, f"s{i}") for i in range(10)], "k int, a int, b string")
    write_table(df, wcat, root=root, num_regions=4, timestamp=1000)
    delete_rows(spark, wcat, [2, 5], root=root, timestamp=2000)

    out = read_table(spark, rcat, root=root)
    assert sorted(r["k"] for r in out.collect()) == sorted(set(range(10)) - {2, 5})
    # time travel through the cross-catalog path still sees history
    old = read_table(spark, rcat, root=root, timestamp=1000)
    assert old.count() == 10


def test_version_map_write_fanout(spark, tmp_path):
    """Writing a map<long,T> column with expand_version_maps=True fans
    each entry out to a row version; reading back through the SAME
    map-typed catalog rebuilds the ts->value map, and maxVersions /
    merged / time-travel reads all see the fanned-out versions
    (HBaseRelation.scala:244-261 write side + MaxVersionsSuite
    semantics)."""
    import json

    from pyspark.sql import functions as F

    from shc_spark.sources import read_table, write_table

    vm_cat = json.dumps(
        {
            "table": {"namespace": "x", "name": "vmw", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "name": {"cf": "cf", "col": "nm", "type": "string"},
                "hist": {"cf": "cf", "col": "h", "type": "map<bigint,double>"},
            },
        }
    )
    static_cat = json.dumps(  # same cell viewed as its scalar type
        {
            "table": {"namespace": "x", "name": "vmw", "tableCoder": "OrderedType", "version": "2.0"},
            "rowkey": "key",
            "columns": {
                "k": {"cf": "rowkey", "col": "key", "type": "int"},
                "latest": {"cf": "cf", "col": "h", "type": "double"},
            },
        }
    )
    root = str(tmp_path)
    rows = [
        (1, "one", {1000: 1.0, 2000: 1.5, 3000: 1.9}),
        (2, "two", {1000: 2.0}),
        (3, "three", {}),  # empty map: no cells for h
    ]
    df = spark.createDataFrame(rows, "k int, name string, hist map<bigint,double>")
    write_table(df, vm_cat, root=root, num_regions=4, timestamp=5000,
                expand_version_maps=True)

    back = read_table(spark, vm_cat, root=root)
    got = {r["k"]: r["hist"] for r in back.collect()}
    assert got[1] == {1000: 1.0, 2000: 1.5, 3000: 1.9}
    assert got[2] == {1000: 2.0}
    assert got[3] in (None, {})  # no cells stored for the empty map

    # maxVersions caps the rebuilt map to the newest entries
    top2 = read_table(spark, vm_cat, root=root, max_versions=2)
    got2 = {r["k"]: r["hist"] for r in top2.collect()}
    assert got2[1] == {2000: 1.5, 3000: 1.9}

    # the same cell read as a static scalar merges to the LATEST version
    latest = read_table(spark, static_cat, root=root)
    gl = {r["k"]: r["latest"] for r in latest.collect()}
    assert gl[1] == 1.9 and gl[2] == 2.0

    # the non-map column kept the call's write timestamp
    tt = read_table(spark, vm_cat, root=root, timestamp=5000)
    assert {r["k"]: r["name"] for r in tt.collect()}[1] == "one"


def test_schema_evolution_add_column(spark):
    """Schema-on-read evolution, the HBase way: a v2 catalog that adds
    a column (new qualifier) can append to and read a table written
    under v1 — old rows surface null for the new column, the v1
    catalog keeps reading the evolved table, and merge semantics are
    unchanged. No rewrite of existing generations."""
    import shutil

    root = "/tmp/shc_tables_schema_evo"
    shutil.rmtree(root, ignore_errors=True)
    v1 = _cat(
        "evo",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "name": {"cf": "cfa", "col": "nm", "type": "string"},
        },
    )
    v2 = _cat(
        "evo",
        {
            "k": {"cf": "rowkey", "col": "key", "type": "bigint"},
            "name": {"cf": "cfa", "col": "nm", "type": "string"},
            "score": {"cf": "cfa", "col": "sc", "type": "double"},
        },
    )
    df1 = spark.createDataFrame([(i, f"n{i}") for i in range(10)], "k long, name string")
    write_table(df1, v1, root=root, num_regions=4, mode="overwrite", timestamp=1000)
    df2 = spark.createDataFrame(
        [(i, f"n{i}v2", float(i)) for i in range(5, 15)],
        "k long, name string, score double",
    )
    write_table(df2, v2, root=root, mode="append", timestamp=2000)

    out2 = {r["k"]: (r["name"], r["score"]) for r in read_table(spark, v2, root=root).collect()}
    assert len(out2) == 15
    assert out2[0] == ("n0", None)
    assert out2[7] == ("n7v2", 7.0)
    assert out2[12] == ("n12v2", 12.0)
    out1 = {r["k"]: r["name"] for r in read_table(spark, v1, root=root).collect()}
    assert len(out1) == 15 and out1[7] == "n7v2" and out1[0] == "n0"
