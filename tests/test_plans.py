"""Plan-shape pins for the headline queries: the physical plans that
make these fast at 100 TB (broadcast dims, pushed filters, TakeOrdered
instead of global sort) are asserted so a regression in plan quality
fails CI even while results stay correct."""

import pytest

from shc_spark.queries import all_queries

SF = "/root/testdata/sf0.01"


def _spark_body(monkeypatch):
    """Index queries small enough for the driver path run the Spark
    body instead: these pins are about that body's plan."""
    from shc_spark import io as shc_io

    monkeypatch.setattr(shc_io, "DRIVER_GET_MAX_ROWS", 0)


@pytest.fixture(scope="module")
def plans(spark):
    qs = all_queries()

    def plan_of(name):
        df = qs[name](spark, SF)
        return df._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q05_star_join_broadcasts_dims(plans):
    p = plans("q05_local_supplier_volume")
    assert "BroadcastHashJoin" in p, p
    # region filter is pushed into its parquet scan
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name" in p, p


def test_q02_filter_reaches_scan(plans):
    p = plans("q02_filter_scan")
    assert "PushedFilters: [" in p and ("GreaterThan" in p or "LessThan" in p), p


def test_q03_topk_is_takeordered(plans):
    assert "TakeOrderedAndProject" in plans("q03_top_revenue_orders")


def test_q01_partial_aggregation(plans):
    # map-side combine: two HashAggregate levels around one exchange
    p = plans("q01_pricing_summary")
    assert p.count("HashAggregate") >= 2, p


def test_similarity_single_shuffle(spark):
    # the ANN paths' only exchange feeds the final top-k window.
    # Pinned on the RAW operators (since r7 the sim_topk_* gates wrap
    # them in a recall-verdict join, which legitimately adds joins).
    from pyspark.sql import functions as F

    from shc_spark.operators import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    for name, df in (
        ("bruteforce", similarity.cosine_topk(queries, emb, "embedding", "vec_id", k=5)),
        ("lsh", similarity.lsh_topk(queries, emb, "embedding", "vec_id", k=5, dim=64)),
        ("ivf", similarity.ivf_topk(queries, emb, "embedding", "vec_id", k=5, dim=64)),
    ):
        p = df._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange") <= 2, (name, p)  # window partial+final


def test_scan_prunes_columns(spark):
    # a 2-column projection reads a 2-column schema, not the full table
    from shc_spark.queries.relational import _t

    df = _t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_decontaminate_is_broadcast_semi_join(plans):
    """The corpus side must not shuffle: benchmark shingles broadcast
    into a left-semi hash join; the only exchange is the tiny
    contaminated-id distinct."""
    p = plans("text_decontaminate")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    # no sort-merge join anywhere in the plan
    assert "SortMergeJoin" not in p, p


def test_q21_single_lineitem_shuffle_and_broadcasts(plans):
    """The per-order window stats keep lineitem to ONE exchange on
    l_orderkey; supplier/orders dims broadcast; no sort-merge join."""
    p = plans("q21_waiting_orders")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_q11_threshold_is_broadcast_scalar(plans):
    """The global-total threshold joins as a broadcast scalar (q15/q22
    pattern) — no driver collect, no sort-merge join."""
    p = plans("q11_important_stock")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_q08_q17_dims_broadcast(plans):
    """TPC-H analog plan pins: market-share and small-quantity keep
    every dimension broadcast — no sort-merge join creeps in."""
    for q in ("q08_market_share", "q17_small_quantity", "q20_promo_suppliers"):
        p = plans(q)
        assert "BroadcastHashJoin" in p, q
        assert "SortMergeJoin" not in p, q


def test_hybrid_rrf_distributed_topk(plans):
    """Each ranker's cut is a distributed TakeOrdered, not a global
    sort; the only SMJ is the depth-bounded full-outer fusion. Ranks
    come from local numbering of the depth-bounded lists, so the plan
    carries NO single-partition Window (the round-2 bench-log
    'WindowExec: No Partition Defined' warnings are gone by shape)."""
    p = plans("sim_hybrid_rrf")
    assert p.count("TakeOrderedAndProject") >= 3, p
    assert "Window" not in p, p


def test_version_merge_is_shuffle_free_lsm(spark):
    """Reading an APPENDED table merged-to-latest must stay inside the
    source (boundary-cut LSM merge-read): the executed plan has NO
    Exchange and NO HashAggregate — a regression to the Spark-side
    groupBy fallback fails here loudly (round-3 VERDICT #7)."""
    from shc_spark.queries.connector import CAT_CUSTOMER, _root, shc_version_merge

    # materializes two overlapping generations then reads merged
    df = shc_version_merge(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    assert "HashAggregate" not in p, p

    # the underlying read really is multi-generation (else the pin
    # proves nothing): check the manifest
    import json as _json
    import os

    with open(os.path.join(_root(SF, "custv"), "q.customer", "_regions.json")) as fh:
        regions = _json.load(fh)
    gens = {os.path.dirname(r["path"]) for r in regions}
    assert len(gens) >= 2, gens


def test_chunking_is_shuffle_free(plans):
    # one codegen'd projection + explode over the scan: no Exchange
    p = plans("text_chunking")
    assert "Exchange" not in p, p
    assert "Generate explode" in p, p


def test_cluster_assign_broadcasts_centroids(plans):
    # 4-row centroid side broadcasts; the only exchange feeds the
    # per-vector argmin window
    p = plans("cluster_assign")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert p.count("Exchange") <= 2, p


def test_fuzzy_pairs_is_equi_join_not_nested_loop(plans):
    # blocking must produce a hash/sort-merge EQUI-join on the block
    # key; a BroadcastNestedLoopJoin would mean the O(n^2) all-pairs
    # comparison the operator exists to avoid
    p = plans("dedup_fuzzy_names")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p, p


def test_heavy_hitters_candidates_broadcast(plans):
    # the exact-verification join must broadcast the tiny candidate
    # dictionary into the token stream, never shuffle the universe
    p = plans("text_heavy_hitters")
    assert "BroadcastHashJoin" in p, p


def test_winsorize_bounds_broadcast(plans):
    # per-group clip bounds (rows = group count) broadcast back onto
    # the fact table
    p = plans("q_winsorize_prices")
    assert "BroadcastHashJoin" in p, p


def test_zorder_values_no_exchange(plans):
    # the Morton code is a pure projection — clustering costs exactly
    # the ONE repartitionByRange at write time, scoring costs zero
    p = plans("q_zorder_values")
    assert "Exchange" not in p, p


def test_weighted_sample_is_takeordered(plans):
    # the n winners come from per-partition top-n, not a global sort
    assert "TakeOrderedAndProject" in plans("text_weighted_sample")


def test_bloom_semi_join_broadcasts_verification(plans):
    # bloom prefilter is map-only; the exact verification broadcasts
    # the (small, distinct) key set
    p = plans("q_bloom_semi_join")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p


def test_colocated_join_plan_has_no_exchange(plans):
    # the join happens inside the scan: zero shuffles whatever Catalyst
    # does above it
    assert "Exchange" not in plans("shc_colocated_join")


def test_remove_boilerplate_rewrite_is_shuffle_free(plans):
    # dictionary built in a separate job; the rewrite plan itself is a
    # pure scan+project
    assert "Exchange" not in plans("text_remove_boilerplate")


def test_zorder_box_filter_pushes_base_bounds(plans):
    # r11: the box query reads the z-KEYED shc table through
    # key_ranges (region pruning pinned by
    # test_zbox_key_ranges_prune_via_public_read); here pin the plan
    # shape — a single scan-filter-project stage: the exact
    # per-dimension bounds are one codegen Filter directly over the
    # source scan, no exchange, no Python eval above the source
    p = plans("q_zorder_box")
    assert "Exchange" not in p
    assert "BatchScan shc" in p, p
    assert "(l_partkey" in p and ">= 100)" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_substring_spans_shuffles_are_bounded(plans):
    # hash groupBy + left-semi join + per-doc window + final agg:
    # a fixed shuffle set, never a cross join or nested loop
    p = plans("dedup_substring_spans")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange") <= 5, p


def test_range_join_is_hash_join_not_nested_loop(plans):
    # the binned rewrite's whole point: a no-equi-key interval join
    # plans as a hash equi-join on the bin, never a nested loop or
    # cartesian product
    p = plans("q_range_join_binned")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "HashJoin" in p, p


def test_ttl_read_filter_is_scan_side(plans):
    # TTL expiry is a codegen WHEN over __ts — no extra exchange
    # beyond the table's own merge shape, no Python in the path
    p = plans("shc_ttl_read")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_psi_drift_single_scan_per_side(plans):
    # one partial+final aggregate pair per corpus half; the window
    # totals run over the tiny histogram, not the corpus
    p = plans("dq_psi_drift")
    assert p.count("FileScan") <= 2, p


def test_ivf_index_partition_pruned(spark, monkeypatch):
    """The persisted-index search must read ONLY the probed cid
    partitions: the postings scan plan carries a PartitionFilters
    entry on cid (Spark partition pruning), not a full-index scan."""
    _spark_body(monkeypatch)
    import hashlib
    import os

    from pyspark.sql import functions as F

    from shc_spark.operators import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    key = hashlib.md5(SF.encode()).hexdigest()[:8]
    path = os.path.join("/tmp", f"shc_ivf_index_{key}")
    if not os.path.exists(os.path.join(path, "postings", "_SUCCESS")):
        similarity.build_ivf_index(emb, path, "embedding", "vec_id", dim=64)
    q = emb.filter(F.col("vec_id") < 2)
    df = similarity.ivf_index_topk(spark, path, q, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan.replace("PartitionFilters: [ cid", "PartitionFilters: [cid"), plan


def test_dedup_index_partition_pruned_and_broadcast(spark):
    """The persisted dedup index must (a) prune the corpus banded scan
    to the increment's bucket directories (PartitionFilters on bkt),
    (b) broadcast the increment's banded keys into that scan, and
    (c) never fall back to a nested-loop join."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from shc_spark.operators import dedup

    docs = spark.read.parquet(SF + "/documents.parquet")
    key = hashlib.md5(SF.encode()).hexdigest()[:8]
    path = os.path.join("/tmp", f"shc_dedup_index_{key}")
    if not os.path.exists(os.path.join(path, "banded", "_SUCCESS")):
        dedup.build_dedup_index(
            docs.filter(F.col("doc_id") % 2 == 0), path, num_perm=64, bands=32, n=3
        )
    inc = docs.filter(F.col("doc_id") % 2 == 1)
    # candidate stage: STATICALLY pruned banded scan (bounded driver
    # collect of <= num_buckets ints) + broadcast of the increment.
    # r15 adjudication: the DPP variant (bkt riding the broadcast
    # keys) planned real dynamic pruning but AQE silently dropped it
    # at RUNTIME (scan metrics showed every bucket directory read and
    # a 2x wall regression at x100), so the static collect is the
    # design that actually prunes — see _index_candidates.
    cand = dedup.dedup_index_candidates(spark, path, inc)
    cplan = cand._jdf.queryExecution().executedPlan().toString()
    cnorm = cplan.replace("PartitionFilters: [ ", "PartitionFilters: [")
    assert "PartitionFilters: [bkt" in cnorm, cplan
    assert "BroadcastHashJoin" in cplan, cplan
    # verified pairs: the features scan prunes STATICALLY too
    # (fbkt IN <candidate buckets>), hash joins only
    df = dedup.dedup_index_pairs(spark, path, inc)
    plan = df._jdf.queryExecution().executedPlan().toString()
    norm = plan.replace("PartitionFilters: [ ", "PartitionFilters: [")
    assert "PartitionFilters: [fbkt" in norm, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_text_index_partition_pruned(spark, monkeypatch):
    """The persisted BM25 index must read only the query terms'
    posting buckets (PartitionFilters on tbkt) and nothing else —
    dl rides the posting rows, so the lengths table never appears in
    a query plan (r15) — joining by broadcast."""
    _spark_body(monkeypatch)
    import os
    import shutil

    from shc_spark.operators import textindex

    docs = spark.read.parquet(SF + "/documents.parquet")
    path = f"/tmp/shc_text_index_planpin_l{textindex.TEXT_INDEX_LAYOUT}"
    if not os.path.exists(os.path.join(path, "postings", "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        textindex.build_text_index(docs, path)
    df = textindex.text_index_topk(spark, path, ["join", "scan", "vector"], k=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r15: dl rides each posting row, so the corpus-sized lengths
    # table must not appear in the query plan AT ALL (the lengths-join
    # DPP this replaced was silently dropped by AQE at runtime —
    # dynamicpruningexpression(true), every lbkt directory read; same
    # adjudication as the dedup index). The only scans are the
    # statically tbkt-pruned postings and the 1-row stats; data joins
    # are broadcast hash joins; the single BroadcastNestedLoopJoin is
    # the 1-row stats cross join.
    norm = plan.replace("PartitionFilters: [ ", "PartitionFilters: [")
    assert "/lengths" not in plan, plan
    assert "PartitionFilters: [tbkt" in norm, plan
    assert "dynamicpruning" not in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_text_index_batch_plan(spark, monkeypatch):
    """Batched BM25 serving: the (query_id, term) fan-out must be a
    broadcast join over the pruned posting read (no lengths scan, no
    data-sized nested-loop join anywhere)."""
    _spark_body(monkeypatch)
    import os
    import shutil

    from shc_spark.operators import textindex

    docs = spark.read.parquet(SF + "/documents.parquet")
    path = f"/tmp/shc_text_index_planpin_l{textindex.TEXT_INDEX_LAYOUT}"
    if not os.path.exists(os.path.join(path, "postings", "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        textindex.build_text_index(docs, path)
    df = textindex.text_index_topk_batch(
        spark, path, {"a": ["join", "scan"], "b": ["vector"]}, k=10
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # same contract as the single-query pin: no lengths scan anywhere
    # (dl rides the posting rows — r15), statically tbkt-pruned
    # postings, broadcast hash joins for data, and at most the
    # one-row stats cross join as a nested-loop
    norm = plan.replace("PartitionFilters: [ ", "PartitionFilters: [")
    assert "/lengths" not in plan, plan
    assert "PartitionFilters: [tbkt" in norm, plan
    assert "dynamicpruning" not in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_ivf_index_pq_partition_pruned(spark, monkeypatch):
    """PQ-storage index search keeps the same pruning contract as the
    float index: PartitionFilters on cid, and with rerank_with the
    refine join must be a broadcast hash join (survivor set is nq*R*k
    rows), never a nested loop over the corpus."""
    _spark_body(monkeypatch)
    import hashlib
    import os

    from pyspark.sql import functions as F

    from shc_spark.operators import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    key = hashlib.md5((SF + "pq").encode()).hexdigest()[:8]
    path = os.path.join("/tmp", f"shc_ivf_index_pq_{key}")
    if not os.path.exists(os.path.join(path, "postings", "_SUCCESS")):
        similarity.build_ivf_index(
            emb, path, "embedding", "vec_id", dim=64, storage="pq",
            pq_m=16, pq_codes=256,
        )
    q = emb.filter(F.col("vec_id") < 2)
    df = similarity.ivf_index_topk(spark, path, q, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    norm = plan.replace("PartitionFilters: [ ", "PartitionFilters: [")
    assert "PartitionFilters: [cid" in norm, plan
    rr = similarity.ivf_index_topk(
        spark, path, q, k=5, nprobe=2, rerank_with=emb, rerank_factor=10
    )
    rplan = rr._jdf.queryExecution().executedPlan().toString()
    rnorm = rplan.replace("PartitionFilters: [ ", "PartitionFilters: [")
    assert "PartitionFilters: [cid" in rnorm, rplan
    assert "BroadcastNestedLoopJoin" not in rplan, rplan


def test_dedup_index_batch_plan(spark):
    """Batched dedup-index serving keeps the single-call contract on
    the UNION of increments: pruned features scan (PartitionFilters on
    fbkt), broadcast hash joins, no nested loop."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from shc_spark.operators import dedup

    docs = spark.read.parquet(SF + "/documents.parquet")
    key = hashlib.md5(SF.encode()).hexdigest()[:8]
    path = os.path.join("/tmp", f"shc_dedup_index_{key}")
    if not os.path.exists(os.path.join(path, "banded", "_SUCCESS")):
        dedup.build_dedup_index(
            docs.filter(F.col("doc_id") % 2 == 0), path, num_perm=64, bands=32, n=3
        )
    incs = {f"i{r}": docs.filter(F.col("doc_id") % 6 == r) for r in (1, 3)}
    df = dedup.dedup_index_pairs_batch(spark, path, incs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # static fbkt pruning (the DPP variant was reverted on runtime
    # scan metrics — see _index_candidates' adjudication)
    norm = plan.replace("PartitionFilters: [ ", "PartitionFilters: [")
    assert "PartitionFilters: [fbkt" in norm, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fingerprint_near_dups128_plan_no_cartesian(spark):
    """r10: the two-word pigeonhole join must plan as a hash join on
    (blk, bval) — never a nested-loop/cartesian over the corpus — and
    the h=0 degenerate case as a plain two-column equi hash join."""
    from pyspark.sql import functions as F

    from shc_spark.operators import dedup

    df = spark.range(0, 512).select(
        F.col("id"),
        F.xxhash64(F.col("id")).alias("hi"),
        F.xxhash64(F.col("id") + 1).alias("lo"),
    )
    plan = (
        dedup.fingerprint_near_dups128(df, "hi", "lo", "id", max_hamming=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    plan0 = (
        dedup.fingerprint_near_dups128(df, "hi", "lo", "id", max_hamming=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan0 and "BroadcastNestedLoop" not in plan0, plan0


def test_fingerprint_near_dups_final_plan_never_sorts_candidates(spark):
    """r12: the pigeonhole candidate join must never EXECUTE as a
    sort-merge join — sort-merge sorts the exploded C(b, b-k) x corpus
    block stream twice (measured 8s vs 1.8s at 500k docs x 20 keys).
    Strategy is size-conditional (_SHJ_HINT_MIN_ROWS): big corpora hint
    shuffle_hash, small ones let AQE's runtime broadcast fire — so the
    pin reads the FINAL adaptive plan after execution. Also pins the
    signature frame staying ONE pinned RDD across the self-join (no
    per-side recompute of the lineage)."""
    from pyspark.sql import functions as F

    from shc_spark.operators import dedup

    df = spark.range(0, 2048).select(
        F.col("id"), F.xxhash64(F.col("id")).alias("fp")
    )
    for nb in (None, 6):
        out = dedup.fingerprint_near_dups(df, "fp", "id", 3, nblocks=nb)
        out.write.mode("overwrite").format("noop").save()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, (nb, plan)
        assert "CartesianProduct" not in plan, (nb, plan)
        assert (
            "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
        ), (nb, plan)
    # the big-corpus branch (forced threshold) hints shuffle_hash
    import shc_spark.operators.dedup as dd

    orig = dd._SHJ_HINT_MIN_ROWS
    try:
        dd._SHJ_HINT_MIN_ROWS = 100
        out = dedup.fingerprint_near_dups(df, "fp", "id", 3, nblocks=6)
        out.write.mode("overwrite").format("noop").save()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        dd._SHJ_HINT_MIN_ROWS = orig


def test_semdedup_single_shuffle(spark):
    """r10: SemDeDup's physical plan is assignment (pandas UDF, no
    shuffle) + ONE cluster-keyed exchange feeding the per-cluster
    prune — no join, no cartesian, and exactly one shuffle of the
    corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from shc_spark.operators import cluster

    df = spark.range(0, 256).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).alias("embedding"),
    )
    cents = np.zeros((4, 8), dtype=np.float64)
    cents[np.arange(4), np.arange(4)] = 1.0
    plan = (
        cluster.semdedup(df, "embedding", "vec_id", centroids=cents, threshold=0.9)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_snm_pairs_gate_no_single_partition(plans):
    # the whole point of global_rank: the corpus never serializes
    # through one task, and pairing is equi-join only
    p = plans("dedup_snm_pairs")
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_mmr_gate_pool_then_group(plans):
    # stage 1 is the single-shuffle cosine_topk; stage 2 is one
    # grouped pandas pass over pool-sized groups — never a cartesian
    p = plans("sim_mmr_rerank")
    assert "FlatMapGroupsInPandas" in p, p
    assert "CartesianProduct" not in p, p


def test_kmv_gate_window_group_limit(plans):
    # map tasks keep local top-k BEFORE the exchange: the property
    # that makes the sketch build safe on a corpus-sized group
    p = plans("text_kmv_vocab_overlap")
    assert "WindowGroupLimit" in p, p


def test_vad_gate_is_map_only(plans):
    # frame/RMS/run-detection all happen inside one mapInPandas over
    # the payloads: no exchange anywhere
    assert "Exchange" not in plans("mm_audio_vad")


def test_scan_aggregate_gate_partials_below_final_agg(plans):
    # the source emits partials; above it there is exactly the
    # finalizing aggregate pair and no Python eval node
    p = plans("shc_scan_aggregate")
    assert "BatchScan shc" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_telemetry_report_gate_no_corpus_rescan(plans):
    # r15: the gate's final plan derives everything from the pinned
    # assignment — the corpus-sized pandas-UDF assign appears at most
    # once (the ref half-scan), never per derived output, and the
    # k-row assembly joins broadcast
    p = plans("embed_telemetry_report")
    assert p.count("ArrowEvalPython") <= 1, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_stream_embed_drift_gate_small_frame_assembly(plans):
    # r15: post-drain PSI assembly runs on the (windows x k) frame —
    # broadcast joins only, no corpus-sized exchange, no sort-merge
    p = plans("stream_embed_drift")
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p, p
    assert "BroadcastHashJoin" in p, p
