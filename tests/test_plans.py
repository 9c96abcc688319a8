"""Physical-plan regression guards: the scale properties the engine
claims (pushdown, broadcast dims, partial aggregation, top-k without
global sort) must actually appear in the optimized plans.

These run against sf0.001 — plan SHAPE doesn't depend on data volume
(modulo AQE thresholds, which these assertions avoid)."""

from __future__ import annotations

import io
import contextlib
import re
import time

import pytest

from riemann_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of_df(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return plan_of_df(QUERIES[name](spark, SF))


def exchange_nodes(plan: str) -> int:
    """Exchange nodes in a formatted plan, counted once each by their
    numbered detail header (``(3) Exchange``) — a raw substring count
    also hits the tree line and any node that merely names one."""
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_where_filter_pushdown_and_pruning(spark):
    p = plan_of(spark, "where_filter")
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,50.0)" in p
    # column pruning: only the 4 needed columns reach the scan
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>" in p


def test_tpch_q1_partial_aggregation(spark):
    p = plan_of(spark, "tpch_q1")
    assert "partial_sum" in p  # map-side combine before the shuffle
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p


def test_regional_revenue_broadcasts_all_dims(spark):
    p = plan_of(spark, "regional_revenue")
    # formatted explain prints each node twice (tree + details)
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_revenue_top10_uses_take_ordered(spark):
    # top-10 must not be a global sort of all groups
    p = plan_of(spark, "revenue_top10")
    assert "TakeOrderedAndProject" in p


def test_top10_take_ordered_not_global_window(spark):
    # the snapshot top-k must be a TakeOrderedAndProject (local k-heaps,
    # k-row merge), never a snapshot-wide single-partition sort; the
    # rank Window runs after the take, over k rows only
    p = plan_of(spark, "top10")
    assert "TakeOrderedAndProject" in p
    # per-key latest rn=1 gets the WindowGroupLimit pushdown
    assert "WindowGroupLimit" in p


def test_anti_join_is_broadcast(spark):
    p = plan_of(spark, "customers_without_orders")
    assert "LeftAnti" in p


def test_deps_suppression_broadcasts_index(spark):
    p = plan_of(spark, "deps_suppression")
    assert "BroadcastHashJoin" in p


def test_knn_bruteforce_broadcasts_queries(spark):
    p = plan_of(spark, "knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


@pytest.mark.slow
def test_no_python_udfs_in_core_paths(spark):
    """The riemann operator surface must stay JVM-side: no
    BatchEvalPython / ArrowEvalPython in any core catalog plan
    (multimodal + streaming are the sanctioned pandas paths)."""
    for name in (
        "index_latest",
        "where_filter",
        "window_folds",
        "ewma",
        "predict_linear",
        "dedup_minhash_lsh",
        "text_features",
        "knn_lsh",
    ):
        p = plan_of(spark, name)
        assert "EvalPython" not in p, name


def test_dedup_embedding_no_cartesian(spark):
    """Multi-table LSH must candidate via bucket equality — a cross
    join anywhere means the LSH collapsed to all-pairs."""
    p = plan_of(spark, "dedup_embedding")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dedup_jaccard_single_shingle_shuffle(spark):
    """Posting-list formulation: the shingle table is shuffled exactly
    once (the collect_list groupBy) — no self-join re-exchange."""
    p = plan_of(spark, "dedup_jaccard")
    # pairs come from Generate (explode) over the persisted postings —
    # a shingle self-join would appear as a shuffle join of two large
    # sides; the only joins left are the broadcast size lookups
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "InMemoryRelation" in p  # postings materialized once, read 3x


def test_token_stats_is_pure_projection(spark):
    """Token counting + fingerprints fuse into one projection pass —
    no KEYED shuffle at any scale. The single-split fixture carries
    exactly spread_for_python's round-robin (the BPE regex + md5 folds
    run cluster-wide; a scan already at cluster width skips it — see
    test_spread_decides_from_the_frame)."""
    p = plan_of(spark, "token_stats")
    assert exchange_nodes(p) == 1
    assert "RoundRobinPartitioning" in p
    assert "hashpartitioning" not in p


def test_partitioned_write_prunes_and_pushes(spark, tmp_path):
    """Event-date partition layout: a time-range read prunes
    directories (PartitionFilters) and pushes the residual time/host
    filters to parquet (PushedFilters) — the 100 TB read-bounding
    mechanism."""
    from riemann_spark.operators.storage import (
        read_events_range,
        write_events_partitioned,
    )

    # 4 days of events, 100/day
    rows = [(i, f"h{i % 3}", "svc", float(i % 7), 86400.0 * (i // 100) + i)
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "event_id long, host string, service string, metric double, time double"
    )
    path = str(tmp_path / "lake")
    write_events_partitioned(df, path)
    assert len(spark.read.parquet(path).inputFiles()) >= 4  # one dir per day

    day2 = read_events_range(spark, path, 86400.0, 2 * 86400.0)
    plan = plan_of_df(day2)
    assert "PartitionFilters" in plan and "event_date" in plan
    # empirical pruning proof: corrupt an out-of-range partition; the
    # pruned read never touches it, a full scan chokes on it
    import glob
    import pytest
    from py4j.protocol import Py4JJavaError

    # first partition dir (1970-01-01) is outside [day2, day3]
    victim = sorted(glob.glob(f"{path}/event_date=*/part-*.parquet"))[0]
    with open(victim, "wb") as f:
        f.write(b"not parquet at all")
    assert day2.count() == 100
    with pytest.raises(Py4JJavaError):
        spark.read.parquet(path).count()

    from pyspark.sql import functions as F

    point = day2.filter(F.col("host") == "h1")
    pplan = plan_of_df(point)
    assert "PushedFilters" in pplan and "EqualTo(host,h1)" in pplan


def test_contamination_broadcasts_eval_side(spark):
    """Decontamination must broadcast the benchmark shingles — a
    shuffle join would re-exchange the full training corpus."""
    p = plan_of(spark, "contamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_kmv_sketch_take_ordered(spark):
    """The k-minima must come from TakeOrderedAndProject (local
    heaps), never a global sort of the distinct hash stream."""
    p = plan_of(spark, "distinct_ngrams_kmv")
    assert "TakeOrderedAndProject" in p


def test_sessionize_single_exchange(spark):
    """Lag pass and session aggregate must reuse one host
    partitioning — exactly one Exchange in the plan."""
    p = plan_of(spark, "sessionize")
    import re

    n = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n == 1, p[:2000]


def test_hll_partial_aggregates_registers(spark):
    # the register max must combine map-side: partial_max before the
    # register shuffle, and no distinct pre-pass anywhere
    p = plan_of(spark, "distinct_ngrams_hll")
    assert "partial_max" in p
    assert "Exchange" in p


def test_tfidf_vocab_join_not_hinted_broadcast(spark):
    # at sf0.001 Catalyst auto-broadcasts the tiny vocab from size
    # stats — correct, and exactly why the CODE must not pin a
    # broadcast hint on it: at 100 TB the stats flip the same plan to
    # a shuffle join. Assert only the one-row corpus count is hinted.
    df = QUERIES["tfidf_top_terms"](spark, SF)
    logical = str(df._jdf.queryExecution().analyzed())
    assert logical.count("ResolvedHint") == 1  # n_docs only
    assert "CartesianProduct" not in plan_of_df(df)


def test_bloom_filter_probe_is_pure_projection(spark):
    # r14: the (word, bits) broadcast-join probe became the dense-
    # bloom aggregate expression (identical bit set — equivalence
    # asserted in test_streaming_gate_expr_matches_join_probe): the
    # train side is now a projection with NO join and no shuffle
    # beyond spread_for_python's round-robin
    p = plan_of(spark, "contamination_bloom")
    assert "Join" not in p
    assert "CartesianProduct" not in p
    # exactly one Exchange node — spread_for_python's round-robin
    assert exchange_nodes(p) == 1
    assert "RoundRobinPartitioning" in p
    assert "hashpartitioning" not in p
    assert p.count("md5(") == 1  # one md5 per shingle, bound via transform


def test_stratified_sample_pure_projection(spark):
    p = plan_of(spark, "stratified_sample")
    assert "Exchange" not in p  # membership is a projection, no shuffle


def test_salted_agg_two_phase(spark):
    # two HashAggregate pairs (salted partial + merge), no single hot
    # reducer: the salt column must appear in the first grouping
    p = plan_of(spark, "salted_agg_by_state")
    assert p.count("HashAggregate") >= 4  # 2 phases x (partial+final)
    # Catalyst renames the salt alias to _groupingexpression; the
    # deterministic hash-mod salt itself is the stable marker
    assert "pmod(xxhash64" in p


def test_canonical_pipeline_no_cartesian(spark):
    p = plan_of(spark, "canonical_pipeline")
    assert "CartesianProduct" not in p
    # both halves key on [host, service]; the join must be keyed too
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_rate_zero_fill_no_cartesian(spark):
    p = plan_of(spark, "rate_zero_fill")
    assert "CartesianProduct" not in p


def test_jaccard_sizes_join_not_hinted_broadcast(spark):
    # the per-doc sizes frame is corpus-keyed (one row per document) —
    # a pinned broadcast hint would OOM the driver at web scale, so
    # the joins must carry NO hint and let stats/AQE pick the strategy
    df = QUERIES["dedup_jaccard"](spark, SF)
    logical = str(df._jdf.queryExecution().analyzed())
    assert "ResolvedHint" not in logical


@pytest.mark.slow
def test_keep_list_labels_join_not_hinted_broadcast(spark):
    # cluster labels are corpus-order on crawls where 30-50% of docs
    # sit in near-dup clusters; the anti-join must not pin a broadcast
    df = QUERIES["dedup_keep_list"](spark, SF)
    logical = str(df._jdf.queryExecution().analyzed())
    assert "ResolvedHint" not in logical


def test_tpch_q6_full_pushdown_no_shuffle(spark):
    """Q6 is the pushdown probe: every predicate reaches the parquet
    scan, only the needed columns are read, and the single-row agg is
    the plan's only exchange."""
    p = plan_of(spark, "tpch_q6")
    for f in (
        "GreaterThanOrEqual(l_discount,0.03)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert f in p
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp" in p
    # one exchange total: the SinglePartition gather for the global agg
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1


def test_tpch_q18_having_before_join(spark):
    """The HAVING-filtered rollup must shrink before the orders join
    (filter sits on the aggregate, not after the join), and customer
    joins as a broadcast dim."""
    p = plan_of(spark, "tpch_q18")
    assert "BroadcastHashJoin" in p
    agg_pos = p.find("HashAggregate")
    assert agg_pos != -1
    assert "Filter" in p[:agg_pos] or "sum_qty" in p


def test_semantic_dedup_no_cartesian_single_cell_shuffle(spark):
    """The intra-cell pairwise stage must join on the cell key (never
    a cartesian), and vectors ride only that one keyed join."""
    p = plan_of(spark, "semantic_dedup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_substring_dedup_two_shuffles_no_join(spark):
    """duplicated_spans: gram window + doc rollup — exactly two
    Exchanges, no posting-list join-back."""
    p = plan_of(spark, "substring_dedup")
    import re

    # keyed shuffles only — spread_for_python's RoundRobin repartition is
    # the deliberate small-input fan-out, not part of the algorithm
    n = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    rr = p.count("RoundRobinPartitioning")
    assert n - rr == 2, p[:1500]
    assert "Join" not in p


def test_tpch_q9_lineitem_never_shuffles_before_agg(spark):
    # all dims (filtered part, supplier, nation) broadcast: the only
    # exchange in the plan is the final 2-key aggregate's
    p = plan_of(spark, "tpch_q9")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3
    assert "PushedFilters: [IsNotNull(p_name), StringStartsWith(p_name,red)" in p


def test_tpch_q10_take_ordered_and_pushed_returnflag(spark):
    p = plan_of(spark, "tpch_q10")
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(l_returnflag,R)" in p


def test_tpch_q17_decorrelated_preagg(spark):
    # the correlated AVG must decorrelate into a partial-agg on
    # partkey (map-side combine), not a per-row subquery
    p = plan_of(spark, "tpch_q17")
    assert "partial_sum" in p
    assert "EqualTo(p_brand,Brand#23)" in p


def test_tpch_q19_brand_prefilter_reaches_part_scan(spark):
    p = plan_of(spark, "tpch_q19")
    assert "In(p_brand, [Brand#1,Brand#13,Brand#25])" in p


def test_tpch_q22_anti_join_projects_orders_to_custkey(spark):
    # the anti-join side must scan only o_custkey (+ the pushed
    # priority filter) — at 100 TB the exchange carries one column
    p = plan_of(spark, "tpch_q22")
    assert "LeftAnti" in p
    assert "ReadSchema: struct<o_custkey:bigint,o_orderpriority:string>" in p


def test_tpch_q2_window_over_aggregate_not_fact(spark):
    """The correlated-min window must run over the (part, supplier)
    aggregate — a Window whose child is the lineitem scan would
    materialize the fact table per-part."""
    p = plan_of(spark, "tpch_q2")
    import re

    # plan node ids are post-order (children execute first): the cost
    # HashAggregate's id must be smaller than the Window's id
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    win_ids = [int(m) for m in re.findall(r"\bWindow \((\d+)\)", p)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids), p[:1500]
    # rn = 1 gets the group-limit pushdown (no full per-part sort kept)
    assert "WindowGroupLimit" in p


def test_tpch_q11_scalar_total_broadcasts(spark):
    p = plan_of(spark, "tpch_q11")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "partial_sum" in p  # cent sums combine map-side


def test_tpch_q20_filters_push_to_scans(spark):
    p = plan_of(spark, "tpch_q20")
    assert "StringStartsWith(p_name,small)" in p
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p


def test_tpch_q21_semi_and_anti_joins(spark):
    """EXISTS -> LeftSemi; NOT EXISTS -> count-over-window == 1 on the
    distinct late-pair table (r14: replaced the LeftAnti self-join,
    which computed the late-pair subtree twice — the window reuses the
    single orderkey exchange); the status filter reaches the orders
    scan. Exactly one lineitem⋈orders late-pair subtree in the plan."""
    p = plan_of(spark, "tpch_q21")
    assert "LeftSemi" in p
    assert "Window" in p
    assert "EqualTo(o_orderstatus,F)" in p
    # the late-pair join must appear ONCE (the r13 anti-join form
    # planned it twice): count the shipdate lateness filter sites
    assert p.count("o_orderdate") >= 1
    assert p.count("EqualTo(o_orderstatus,F)") == 1


def test_knn_hamming_broadcast_and_group_limit(spark):
    """Binary ANN: queries broadcast; the per-query top-k must get the
    WindowGroupLimit map-side pushdown (local k-heaps, no full sort of
    the scored stream)."""
    p = plan_of(spark, "knn_hamming")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    assert "EvalPython" not in p  # XOR+popcount stays JVM-side


def test_shuffle_shards_single_exchange(spark):
    p = plan_of(spark, "shuffle_shards")
    import re

    n = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n == 1, p[:1500]


def test_segment_dedup_keep_first_no_content_window(spark):
    """The canonical-owner pass must be a groupBy on the segment (skew
    -safe partial agg), never a Window partitioned by segment content."""
    p = plan_of(spark, "segment_dedup_keep_first")
    assert "Window" not in p
    assert "partial_min" in p


def test_compaction_bin_packs_and_preserves_data(spark, tmp_path):
    """Small-file compaction: a fragmented partition collapses to the
    bin-packed file count, data and row-group sort order survive, and
    untouched partitions stay untouched."""
    from riemann_spark.operators.storage import (
        compact_partitions,
        partition_file_stats,
        write_events_partitioned,
    )

    rows = [
        (i, f"h{i % 5}", "svc", float(i), 86400.0 * (i % 2) + (i % 97))
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, host string, service string, metric double, time double"
    )
    path = str(tmp_path / "lake")
    # fragment: 12 writer tasks per partition
    write_events_partitioned(df.repartition(12), path)
    before = {r.event_date: r.n_files for r in partition_file_stats(spark, path).collect()}
    assert all(n >= 4 for n in before.values())

    report = compact_partitions(spark, path, target_file_bytes=1 << 30)
    got = {r.event_date: (r.files_before, r.files_after) for r in report.collect()}
    assert set(got) == set(before)
    after = {r.event_date: r.n_files for r in partition_file_stats(spark, path).collect()}
    assert all(n == 1 for n in after.values())  # 1 GiB target → 1 file each

    back = spark.read.parquet(path)
    assert back.count() == 600
    assert back.select("event_id").distinct().count() == 600
    # compaction restored the (host, service, time) sort for stat skipping
    point = back.filter("host = 'h1'")
    assert "EqualTo(host,h1)" in plan_of_df(point)

    # idempotent: nothing left above the threshold
    assert compact_partitions(spark, path, target_file_bytes=1 << 30).count() == 0


def test_bench_headline_names_resolve():
    """Every bench.py HEADLINE name must exist in the catalog — a typo
    here breaks the driver's per-round bench run."""
    import bench

    from riemann_spark.plans import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dupes


def test_gate_priority_names_resolve():
    """_GATE_PRIORITY names must exist (a stale name silently shrinks
    the driver's 50-query window composition)."""
    from riemann_spark import plans
    from riemann_spark.plans import QUERIES

    stale = [n for n in plans._GATE_PRIORITY if n not in QUERIES]
    assert not stale, stale
    # VERDICT r5: a duplicate silently shifts the effective window by a
    # slot (the dict comprehension dedups, hiding the drift)
    assert len(plans._GATE_PRIORITY) == len(set(plans._GATE_PRIORITY))


def test_minhash_band_rows_hashes_each_shingle_twice(spark):
    """Plan-shape guard for the x20-probe finding: Catalyst does not
    CSE across higher-order functions, so the MinHash signature must
    be ONE aggregate pass (2 md5 calls in the whole plan — one per
    salt), with the signature array materialized behind the Generate
    boundary rather than re-evaluated per band."""
    from riemann_spark.functions.dedup import minhash_band_rows

    d = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    plan = (
        minhash_band_rows(d)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("md5(") == 2, plan
    assert plan.count("aggregate(") == 1, plan
    assert "Generate explode" in plan


def test_compaction_concurrent_append_survives(spark, tmp_path):
    """ADVICE r4: the snapshot-then-replace swap must not destroy
    parquet files a streaming sink appends between the input snapshot
    and the swap, and the partition directory must never disappear.
    The test seam injects an 'ingest append' after the staging write;
    its rows must survive compaction."""
    from riemann_spark.operators import storage
    from riemann_spark.operators.storage import (
        compact_partitions,
        write_events_partitioned,
    )

    rows = [(i, f"h{i % 3}", "svc", float(i), float(i % 97)) for i in range(300)]
    df = spark.createDataFrame(
        rows, "event_id long, host string, service string, metric double, time double"
    )
    path = str(tmp_path / "lake")
    write_events_partitioned(df.repartition(8), path)

    extra = spark.createDataFrame(
        [(9001, "late", "svc", 1.0, 1.0)],
        "event_id long, host string, service string, metric double, time double",
    )

    def inject(date, part_path):
        # a concurrent micro-batch lands one more file in the LIVE dir
        extra.coalesce(1).write.mode("append").parquet(part_path)

    storage._compaction_test_hook = inject
    try:
        compact_partitions(spark, path, target_file_bytes=1 << 30)
    finally:
        storage._compaction_test_hook = None

    back = spark.read.parquet(path)
    assert back.count() == 301  # original 300 + the concurrent append
    assert back.filter("host = 'late'").count() == 1
    # re-running compaction is idempotent over its own output + append
    report2 = compact_partitions(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == 301


def _lake_fixture(spark, tmp_path, n_rows=200, n_writers=4):
    from riemann_spark.operators.storage import write_events_partitioned

    rows = [(i, f"h{i % 3}", "svc", float(i), float(i % 97)) for i in range(n_rows)]
    df = spark.createDataFrame(
        rows, "event_id long, host string, service string, metric double, time double"
    )
    path = str(tmp_path / "lake")
    write_events_partitioned(df.repartition(n_writers), path)
    import glob
    (part_path,) = glob.glob(f"{path}/event_date=*")
    return path, part_path


def test_compaction_crash_rolls_forward(spark, tmp_path):
    """ADVICE r5 (medium): a crash AFTER the staged renames but BEFORE
    the original deletes leaves both copies on disk; without recovery a
    rerun re-compacts the originals into a second compacted set —
    permanent row duplication. The manifest written before the swap
    lets the next run roll FORWARD: all staged files landed, so the
    leftover originals are deleted, never re-read."""
    import glob
    import json
    import os
    import shutil

    from riemann_spark.operators.storage import compact_partitions

    path, part_path = _lake_fixture(spark, tmp_path)
    originals = sorted(
        os.path.basename(p) for p in glob.glob(f"{part_path}/*.parquet")
    )
    assert len(originals) >= 4
    # simulate the interrupted run: compacted copy of ALL rows renamed
    # in, manifest present, originals NOT yet deleted (crash point)
    staged_dir = str(tmp_path / "staged")
    spark.read.parquet(part_path).coalesce(1).write.parquet(staged_dir)
    (staged_file,) = glob.glob(f"{staged_dir}/*.parquet")
    shutil.move(staged_file, f"{part_path}/compacted-deadbeef-00000.parquet")
    with open(f"{part_path}/.compact-manifest-deadbeef", "w") as f:
        json.dump({"run": "deadbeef", "originals": originals,
                   "staged": ["compacted-deadbeef-00000.parquet"]}, f)
    # duplicated state on disk right now
    assert spark.read.parquet(path).count() == 400

    compact_partitions(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    assert back.count() == 200  # recovery deleted the originals, once
    assert back.select("event_id").distinct().count() == 200
    assert not glob.glob(f"{part_path}/.compact-manifest-*")


def test_compaction_crash_rolls_back(spark, tmp_path):
    """Crash MID-RENAME (only part of the staged set landed): recovery
    must roll BACK — delete the partial compacted-<run>-* files and
    keep the intact originals — so no rows are lost or duplicated."""
    import glob
    import json
    import os
    import shutil

    from riemann_spark.operators.storage import compact_partitions

    path, part_path = _lake_fixture(spark, tmp_path)
    originals = sorted(
        os.path.basename(p) for p in glob.glob(f"{part_path}/*.parquet")
    )
    staged_dir = str(tmp_path / "staged")
    spark.read.parquet(part_path).coalesce(2).write.parquet(staged_dir)
    s0, _s1 = sorted(glob.glob(f"{staged_dir}/*.parquet"))
    # only the FIRST of two staged files was renamed in before the crash
    shutil.move(s0, f"{part_path}/compacted-cafe0000-00000.parquet")
    with open(f"{part_path}/.compact-manifest-cafe0000", "w") as f:
        json.dump({"run": "cafe0000", "originals": originals,
                   "staged": ["compacted-cafe0000-00000.parquet",
                              "compacted-cafe0000-00001.parquet"]}, f)

    compact_partitions(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert back.select("event_id").distinct().count() == 200
    assert not glob.glob(f"{part_path}/compacted-cafe0000-*")
    assert not glob.glob(f"{part_path}/.compact-manifest-*")


def test_compaction_converges_with_ongoing_ingest(spark, tmp_path):
    """ADVICE r5 (low): prior runs' compacted-* outputs are snapshot
    inputs, so compact → ingest → compact converges back to ~n_target
    files instead of accreting one immutable compacted set per run."""
    import glob

    from riemann_spark.operators.storage import (
        compact_partitions,
        partition_file_stats,
    )

    path, part_path = _lake_fixture(spark, tmp_path)
    compact_partitions(spark, path, target_file_bytes=1 << 30)
    assert len(glob.glob(f"{part_path}/*.parquet")) == 1

    # three more ingest micro-batches fragment the partition again
    extra = spark.createDataFrame(
        [(9000 + i, "late", "svc", 1.0, 1.0) for i in range(3)],
        "event_id long, host string, service string, metric double, time double",
    )
    for i in range(3):
        extra.filter(f"event_id = {9000 + i}").coalesce(1).write.mode(
            "append"
        ).parquet(part_path)
    assert len(glob.glob(f"{part_path}/*.parquet")) == 4

    report = compact_partitions(spark, path, target_file_bytes=1 << 30)
    assert report.count() == 1  # the partition was eligible again
    assert len(glob.glob(f"{part_path}/*.parquet")) == 1  # converged
    back = spark.read.parquet(path)
    assert back.count() == 203
    assert back.select("event_id").distinct().count() == 203


def test_contamination_gate_single_md5_pass(spark):
    """Plan-shape guard for the ingest gate (the r5 minhash lesson:
    Catalyst does not CSE across higher-order functions): the dense-
    bloom probe must evaluate ONE md5 per shingle — a single
    F.aggregate pass — and the bloom must be a plain string Literal,
    not a 32k-child CreateArray."""
    from pyspark.sql import functions as F

    from riemann_spark.functions import dedup, sketches

    d = spark.createDataFrame(
        [(1, "a b c d e f", "src1"), (2, "a b c d x y", "src0")],
        "doc_id long, text string, source string",
    )
    ev_sh = dedup._shingle_table(
        d.filter(F.col("source") == "src0"), "doc_id", "text", 4
    )
    dense = sketches.bloom_dense_bytes(ev_sh, F.col("shingle"))
    flagged = (
        d.filter(F.col("source") != "src0")
        .select("doc_id", dedup.shingles("text", 4).alias("__sh"))
        .select(
            "doc_id",
            F.size("__sh").cast("long").alias("n_grams"),
            sketches.bloom_hits_in_array(F.col("__sh"), dense).alias(
                "n_bloom_grams"
            ),
        )
    )
    plan = flagged._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 1, plan.count("md5(")
    assert "aggregate(" in plan and plan.count("aggregate(") == 1
    assert "array(0," not in plan  # the bloom stayed a scalar literal
    # and the expression agrees with the join-form probe
    bloom_tbl = sketches.bloom_words(ev_sh, F.col("shingle"))
    tr_sh = dedup._shingle_table(
        d.filter(F.col("source") != "src0"), "doc_id", "text", 4
    )
    join_hits = sketches.bloom_might_contain(
        tr_sh, F.col("shingle"), bloom_tbl, ["doc"]
    ).count()
    expr_hits = (
        tr_sh.filter(sketches.bloom_contains_expr(F.col("shingle"), dense))
        .count()
    )
    assert join_hits == expr_hits > 0


def test_chunk_sliding_window_zero_shuffle(spark):
    """Chunking is ONE tokenization + an explode over chunk starts —
    a narrow projection that must fuse with the scan: zero Exchanges,
    and exactly one md5 (the chunk fingerprint; a project-collapse
    duplicating the slice would re-tokenize per output column)."""
    p = plan_of(spark, "chunk_sliding_window")
    assert "Exchange" not in p
    assert p.count("md5") == 1


def test_boilerplate_removal_groupby_not_window(spark):
    """Per-(source, segment) document frequency must be a partial-agg
    groupBy + join back, never a window over the segment (the hot key
    IS the boilerplate being counted)."""
    p = plan_of(spark, "boilerplate_removal")
    assert "Window" not in p
    assert "partial_count" in p


def test_spread_decides_from_the_frame(spark):
    """spread_for_python, the one width helper, reads the frame's own
    plan: a narrow (single-split) frame is round-robined to cluster
    width; an exchange-free frame already that wide comes back as is
    (at 100 TB the scan has thousands of splits and a repartition
    would be a pure full-corpus shuffle write); a frame with an
    upstream shuffle is spread without running that shuffle to learn
    its post-AQE width — the decision starts no job."""
    from pyspark.sql import functions as F

    from riemann_spark.operators.skew import spread_for_python

    sc = spark.sparkContext
    width = sc.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert "RoundRobinPartitioning" in plan_of_df(spread_for_python(narrow))
    wide = spark.range(0, 100, 1, width + 1)
    assert spread_for_python(wide) is wide

    shuffled = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    group = "test-spread-decision"
    sc.setJobGroup(group, group)
    try:
        spread = spread_for_python(shuffled)
        spark.range(1).collect()  # one known job: the listener has caught up
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ids = sc.statusTracker().getJobIdsForGroup(group)
    for _ in range(100):
        if ids:
            break
        time.sleep(0.05)
        ids = sc.statusTracker().getJobIdsForGroup(group)
    assert len(ids) == 1, ids
    assert "RoundRobinPartitioning" in plan_of_df(spread)


def test_received_events_plan_has_no_python_stage(spark):
    """The servers decode each frame once, on arrival: ``received_events``
    lifts the spooled events into a local relation, with no Python
    stage and no exchange in front of it."""
    from riemann_spark.sources.servers import TcpMsgServer, send_events_tcp

    width = spark.sparkContext.defaultParallelism
    with TcpMsgServer() as srv:
        for i in range(width + 1):
            send_events_tcp(srv.port, [{"host": f"h{i}", "service": "s", "time": 1.0}])
        events = srv.received_events(spark)
        p = plan_of_df(events)
        assert events.count() == width + 1
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p, node
    assert "LocalTableScan" in p
    assert exchange_nodes(p) == 0


def test_round6_batch3_pure_projections_zero_shuffle(spark):
    """fim_transform / blocklist_gate / char_entropy /
    winnowing_fingerprints are ingest-stage projections: zero
    Exchanges (char_entropy since r14 carries exactly spread_for_python's
    round-robin so its O(charset × chars) fold runs cluster-wide —
    still no keyed shuffle); winnowing's gram-hash array is bound
    through a prior select so the window fold reads it instead of
    re-deriving md5 per window (Catalyst does not CSE across
    higher-order fns)."""
    for name in (
        "fim_transform",
        "blocklist_gate",
        "winnowing_fingerprints",
    ):
        p = plan_of(spark, name)
        assert "Exchange" not in p, name
    p = plan_of(spark, "char_entropy")
    assert exchange_nodes(p) == 1
    assert "RoundRobinPartitioning" in p
    assert "hashpartitioning" not in p
    # winnowing_fingerprints serves the STORED index (r12) — its
    # query plan is a bare parquet read; the md5 bind-once pin moves
    # to the state BUILD path (text.winnowing itself)
    from riemann_spark.functions import text
    from riemann_spark.schema import load_table

    build_plan = plan_of_df(
        text.winnowing(load_table(spark, SF, "documents"), k=4, w=4)
    )
    assert build_plan.count("md5") == 1


def test_ngram_novelty_no_pair_explosion(spark):
    """Novelty is a count-over-window on the distinct (doc, gram)
    table (r14: replaced gram-df groupBy + join back, which planned
    the gram explode twice) — no posting lists, no self-join, ONE
    Generate, and the explicit gram repartition serves the distinct
    AND the window (gram hash-clusters (doc_id, gram))."""
    import re

    p = plan_of(spark, "ngram_novelty")
    assert "Window" in p and "Join" not in p
    assert len(re.findall(r"^\s*\+?-? ?\(?\d*\)? ?Generate", p, re.M)) <= 1 or p.count("Generate (") <= 1
    # the gram exchange + the final doc_id rollup exchange only
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2


def test_fuzzy_decontamination_sig_partial_aggs_and_two_md5s(spark):
    """Signatures must partial-aggregate map-side (one sig row per doc
    crosses the shuffle: 8 MINs x 2 corpora) and each side must hash
    each shingle exactly twice (2 salted md5s feed all 8 sigs as
    32-bit chunks) - the 16x-rehash plan the minhash x20 probe caught
    would show 16 here."""
    p = plan_of(spark, "fuzzy_decontamination")
    assert p.count("partial_min") == 16
    assert p.count("md5") == 4


def test_canonical_dedup_partial_aggs(spark):
    """The canonical-group stats must combine map-side: the 16-byte
    key shuffle carries one row per group, not per doc."""
    p = plan_of(spark, "canonical_dedup")
    assert p.count("partial_count") == 1 and p.count("partial_min") == 1


def test_bigram_lm_count_tables_partial_agg(spark):
    """c12/c1/V count tables must partial-aggregate before their
    shuffles - the LM 'training' is map-side combinable counting."""
    p = plan_of(spark, "bigram_lm_score")
    assert p.count("partial_count") >= 3


def test_docs_query_count_matches_catalog():
    """docs/QUERIES.md is generated by tools/gen_query_list.py; a
    catalog addition without a regen leaves the committed doc stale
    (VERDICT r6 #4: the doc said 230 while the catalog had 232). Pin
    the doc's headline count to len(QUERIES)."""
    import re

    from riemann_spark.plans import QUERIES

    with open("/root/repo/docs/QUERIES.md") as fh:
        head = fh.read(400)
    m = re.search(r"^(\d+) queries;", head, re.M)
    assert m, "docs/QUERIES.md missing the '<N> queries;' headline"
    assert int(m.group(1)) == len(QUERIES), (
        f"docs/QUERIES.md says {m.group(1)} queries, catalog has "
        f"{len(QUERIES)} — rerun tools/gen_query_list.py"
    )


def test_value_exactness_survives_partition_count(spark):
    """The quantized-fold determinism claims, empirically: two
    value-sensitive queries (a trained-model trajectory and an exact
    integer-grid fold) must match their DuckDB oracles bit-for-bit
    under an adversarial shuffle-partition setting — prime partition
    count, nothing divides evenly."""
    import duckdb
    import pandas as pd

    from riemann_spark.plans import ORACLES, QUERIES

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events"
        " documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
            elif df[c].dtype == object:
                df[c] = df[c].map(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    # drop the trainer memo so the gradient jobs genuinely run under
    # the adversarial partitioning (a warm cache would test nothing)
    from riemann_spark.plans.catalog_ml import _LRN_CACHE

    _LRN_CACHE.clear()
    try:
        for name in ("quality_classifier_train", "fold_quotient"):
            s = norm(QUERIES[name](spark, SF).toPandas())
            o = norm(con.execute(ORACLES[name]).fetchdf())
            assert s.shape == o.shape, name
            assert (s.values == o.values).all(), name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_readme_query_count_matches_catalog():
    """README.md's '<N> queries' layout line drifts like QUERIES.md
    did — pin it to len(QUERIES)."""
    import re

    from riemann_spark.plans import QUERIES

    with open("/root/repo/README.md") as fh:
        text = fh.read()
    m = re.search(r"catalog_ml\.py   (\d+) queries", text)
    assert m, "README.md missing the catalog query-count line"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries, catalog has {len(QUERIES)}"
    )


def test_url_normalize_vectors(spark):
    """Normalizer contract over the decoration zoo: scheme, www.,
    case, trailing slash, query, fragment all collapse; distinct
    paths never merge."""
    from riemann_spark.functions import text

    vecs = [
        ("https://WWW.Example.COM/a/b/?utm=x#frag", "example.com/a/b"),
        ("http://example.com/a/b", "example.com/a/b"),
        ("ftp://www.example.com/", "example.com"),
        ("example.com/a/b//", "example.com/a/b"),
        ("https://example.com/a/c", "example.com/a/c"),
        ("https://wwwx.example.com/p", "wwwx.example.com/p"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in vecs], "raw string")
    got = [
        r["n"]
        for r in df.select(text.url_normalize("raw").alias("n")).collect()
    ]
    assert got == [want for _, want in vecs]
    dom = df.select(
        text.url_domain(text.url_normalize("raw")).alias("d")
    ).collect()
    assert dom[0]["d"] == "example.com"
    assert dom[5]["d"] == "wwwx.example.com"


def test_url_dedup_single_window_exchange(spark):
    """The URL dedup plan is projection + ONE key-partitioned window
    (the keep-first): normalizer must fuse into the scan, and the two
    row_numbers over the same window spec must share one Window node."""
    import re

    p = plan_of(spark, "url_dedup")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 1, p


def test_domain_quality_rollup_partial_aggs(spark):
    """The rollup's plain aggregates must combine map-side; the
    quantized quality sum rides the same partial (distinct counts
    expand, but the domain key shuffle stays one row per group per
    partition)."""
    p = plan_of(spark, "domain_quality_rollup")
    assert "partial_sum" in p
    assert "Window" not in p


def test_streaming_ann_gate_stateless_projection(spark):
    """The centroid gate must be a pure projection: no aggregate, no
    exchange, no state — it scales with source partitions alone
    (ingest-gate family discipline)."""
    import re

    from riemann_spark.plans.catalog_ml import (
        _ann_gate_centroids,
        _ann_gate_cols,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    max_cos, gated = _ann_gate_cols(_ann_gate_centroids(emb))
    plan = plan_of_df(
        emb.filter(F.col("label") != 0).select(
            "vec_id", max_cos.alias("max_cos"), gated.alias("gated")
        )
    )
    assert not re.search(r"^\(\d+\) (Exchange|HashAggregate)", plan, re.M), plan


def test_greedy_pack_count_col_override(spark):
    """Tokenizer-aware packing must bin on the supplied count.
    Punctuated text splits into more BPE units than whitespace words
    ('a,b c!' = 2 ws words but 4 BPE pre-split tokens), so the same
    budget holds fewer docs per bin under the BPE measure."""
    from pyspark.sql import functions as F

    from riemann_spark.functions import text

    rows = [(i, "s0", "one,two three! four? " * 3) for i in range(8)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    n_ws, n_bpe = d.select(
        text.token_count("text"), text.bpe_token_count("text")
    ).first()
    assert n_ws == 9 and n_bpe == 22  # punctuation splits BPE units
    ws = text.greedy_pack(d, 36, 1)
    tok = text.greedy_pack(d, 36, 1, count_col=text.bpe_token_count("text"))
    assert ws.agg(F.max("bin")).first()[0] == 1  # 4 docs x 9 fill a bin
    assert tok.agg(F.max("bin")).first()[0] == 7  # 22+22 > 36: 1 doc/bin
    assert tok.agg(F.sum("n_packed")).first()[0] == 8 * n_bpe
    assert ws.count() == tok.count() == d.count()


def test_weighted_sample_take_ordered(spark):
    """The ES weighted sample must compile to TakeOrderedAndProject
    (per-task k-heap + driver merge of p·k rows) — a global Sort
    exchange here would be the 100 TB mistake bottomk_sample's test
    already guards against."""
    p = plan_of(spark, "weighted_sample")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.split("TakeOrderedAndProject")[0]


def test_curriculum_order_two_keyed_windows(spark):
    """Staging + positioning are exactly two key-partitioned windows
    (ntile on source, row_number on (source, stage)) sharing ONE
    Exchange: HashPartitioning(source) satisfies the (source, stage)
    clustering requirement (subset rule), so Catalyst re-sorts
    within partitions instead of re-shuffling — the partitioning
    reuse the 100 TB plan wants."""
    import re

    p = plan_of(spark, "curriculum_order")
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 2, p
    # exactly ONE keyed exchange (hashpartitioning(source) shared by
    # both windows); the second exchange is spread_for_python's
    # round-robin on the single-split fixture (skipped on a wide scan)
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 2, p
    assert p.count("Arguments: hashpartitioning(source") == 1, p
    assert "RoundRobinPartitioning" in p


def test_incremental_dedup_no_cartesian(spark):
    """The arrivals-vs-lake candidate join must be a band-keyed join
    (never a cross/nested-loop product), and the MinHash signatures
    must partial-aggregate before their shuffle."""
    p = plan_of(spark, "incremental_dedup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "partial_min" in p


def test_pca1_covariance_partial_agg_and_determinism(spark):
    """The d^2 covariance shuffle must partial-aggregate map-side (the
    shuffle carries d^2 rows TOTAL, model-sized, regardless of corpus
    size) and — via the 1e-12 quantized integer-sum grid — be
    bit-identical under any repartitioning; power iteration must
    recover the dominant eigenpair of a known diagonal exactly."""
    from riemann_spark.functions import similarity

    e = spark.read.parquet(SF + "/embeddings.parquet").limit(60)
    mu, cov_df = similarity.covariance_rows(e, 64)
    assert "partial_sum" in plan_of_df(cov_df)
    mu2, cov_df2 = similarity.covariance_rows(e.repartition(7), 64)
    assert mu == mu2  # exact: quantized integer sums
    c1 = {(r["i"], r["j"]): r["m"] for r in cov_df.collect()}
    c2 = {(r["i"], r["j"]): r["m"] for r in cov_df2.collect()}
    assert c1 == c2
    v, lam = similarity.power_iteration(
        {(0, 0): 2.0, (0, 1): 0.0, (1, 0): 0.0, (1, 1): 0.5}, 2, 40
    )
    assert abs(lam - 2.0) < 1e-12 and abs(abs(v[0]) - 1.0) < 1e-12


def test_burst_interval_join_no_nested_loop(spark):
    """The range join must compile to a hash equi-join on
    (service, bucket) + residual filter — a raw start<=t<end join
    condition compiles to BroadcastNestedLoop, the quadratic 100 TB
    mistake the bucket-explode exists to avoid."""
    p = plan_of(spark, "burst_interval_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    assert "HashJoin" in p  # broadcast at sf0.001; shuffle-hash at scale


def test_corpus_cube_single_expand(spark):
    """cube() must be ONE scan + ONE Expand (4 grouping sets) with a
    map-side partial aggregate — four separate GROUP BY passes over
    the corpus is the 100 TB mistake the cube posture avoids."""
    import re

    p = plan_of(spark, "corpus_cube")
    assert len(re.findall(r"^\(\d+\) Expand", p, re.M)) == 1, p
    assert "partial_count" in p or "partial_sum" in p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1, p


def test_scd2_single_exchange(spark):
    """The whole SCD2 history build (lag window -> run numbering ->
    run groupBy -> lead window) must ride ONE HashPartitioning(host,
    service) exchange: every downstream step's clustering is satisfied
    by the subset rule, so Catalyst re-sorts within partitions instead
    of re-shuffling. A second Exchange here would double the only
    data-sized shuffle at 100 TB."""
    import re

    p = plan_of(spark, "scd2_state_history")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 3, p
    assert "partial_min" in p  # run groupBy combines map-side


def test_coverage_gaps_single_window_no_join(spark):
    """Gap detection is one keyed lead() window + pure integer
    projections: exactly one Exchange, one Window, and no join
    operator of any kind in the plan."""
    import re

    p = plan_of(spark, "coverage_gaps")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 1, p
    assert "Join" not in p, p


def test_bm25_no_explode_broadcast_stats(spark):
    """BM25 must keep per-doc tf as filtered-array-length projections
    (no corpus×vocab explode — the ONLY Generate allowed is the r14
    explode-of-one stats barrier, which emits exactly one struct row
    per doc so the tokenizer binds once instead of 9×), broadcast the
    ONE-row corpus-stats aggregate, and take top-20 via local k-heaps
    — the zero-corpus-shuffle retrieval plan."""
    p = plan_of(spark, "bm25_topk")
    # two Generate nodes (tree + details lines each): the stats-agg
    # branch and the score branch each carry the 1-element transform
    # barrier — never a token/vocab explode
    assert p.count("Generate") == 4, p
    assert "explode(transform(array(" in p
    # tokenizer bound ONCE per branch (was 9× per row before r14)
    assert p.count("split(trim(") == 2
    assert "BroadcastNestedLoopJoin" in p  # one-row stats × corpus
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_rrf_fusion_broadcast_query_vector(spark):
    """The dense half of RRF is one broadcast query vector against the
    corpus scan; the lexical join must be a broadcast hash join on
    doc_id (rank lists are top-k-bounded), never a sort-merge."""
    p = plan_of(spark, "rrf_fusion")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" in p


def test_embedding_outliers_broadcast_moments(spark):
    """Centroids and both moment tables are label-cardinality-sized
    and must broadcast back to the corpus scan (3+ broadcast hash
    joins, no sort-merge); every aggregate partial-combines map-side
    so no corpus-sized rows cross a shuffle."""
    p = plan_of(spark, "embedding_outliers")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p, p
    assert "partial_sum" in p


def test_per_source_quantile_filter_one_exchange(spark):
    """Ranking and counting windows share ONE HashPartitioning(source)
    exchange; the quality score is a projection fused with the scan
    (no joins, no aggregates)."""
    import re

    p = plan_of(spark, "per_source_quantile_filter")
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, p
    assert "Join" not in p, p


def test_kl_divergence_broadcast_totals_shuffled_vocab(spark):
    """Source totals and the one-row grand total broadcast back; the
    vocab join stays a shuffle join (web-scale vocab must never
    broadcast)."""
    p = plan_of(spark, "kl_divergence_sources")
    assert p.count("BroadcastHashJoin") >= 1, p
    assert "BroadcastNestedLoopJoin" in p  # one-row grand total
    assert "partial_count" in p or "partial_sum" in p


def test_scd2_intervals_match_changed_state_edges(spark):
    """Cross-operator invariant: SCD2 emits exactly one versioned
    interval per state run, and changed_state emits exactly one edge
    event per state run — the two views of the same partition must
    agree in count, per key."""
    scd2 = QUERIES["scd2_state_history"](spark, SF)
    edges = QUERIES["changed_state"](spark, SF)
    a = {
        (r["host"], r["service"]): r["n"]
        for r in scd2.groupBy("host", "service").count()
        .withColumnRenamed("count", "n").collect()
    }
    b = {
        (r["host"], r["service"]): r["n"]
        for r in edges.groupBy("host", "service").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert a == b


def test_funnel_counts_consistent(spark):
    """event_funnel's stage reach must be monotone non-increasing and
    equal funnel_latency's per-step conversion counts (stage 2 = the
    view->click conversions, stage 3 = click->purchase)."""
    fn = {r["stage"]: r["n_users"]
          for r in QUERIES["event_funnel"](spark, SF).collect()}
    lat = {r["step"]: r["n_conversions"]
           for r in QUERIES["funnel_latency"](spark, SF).collect()}
    assert fn[1] >= fn[2] >= fn[3]
    assert lat.get("view->click", 0) == fn[2]
    assert lat.get("click->purchase", 0) == fn[3]


def test_event_funnel_single_agg_explode(spark):
    """The per-stage funnel report must be ONE one-row aggregate with
    a literal stage-struct array exploded over it — not three selects
    unioned, which tripled the whole user-keyed upstream lineage
    (an 18-Exchange plan before the rewrite; 6 after)."""
    import re

    p = plan_of(spark, "event_funnel")
    assert len(re.findall(r"^\(\d+\) Union", p, re.M)) == 0, p
    assert len(re.findall(r"^\(\d+\) Generate", p, re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 6, p


def test_funnel_latency_single_join_chain(spark):
    """Step latencies must come from one host-keyed u1-u2-u3 join
    chain with the (step, dt) pairs exploded from a filtered literal
    array — not two aggregated join branches unioned (8 Exchanges
    before the rewrite; 6 after)."""
    import re

    p = plan_of(spark, "funnel_latency")
    assert len(re.findall(r"^\(\d+\) Union", p, re.M)) == 0, p
    assert len(re.findall(r"^\(\d+\) Generate", p, re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 6, p


def test_dedup_recall_report_consolidated_plan(spark):
    """The recall/precision report serves the STORED pair tables
    (r12, _text_pair_state): the per-query plan is two parquet reads
    meeting in ONE full-outer join + one aggregate — the 19-Exchange
    recompute-both-pipelines shape (pre VERDICT r8 #3) and the 10-
    Exchange shared-shingle shape (r8-r11) both retired. The pair-gen
    plan itself is pinned by the dedup_jaccard / dedup_minhash_lsh
    tests; this pins the serve path."""
    import re

    from riemann_spark.plans.catalog_ml import _dedup_recall_frame

    spark.catalog.clearCache()
    p = plan_of_df(_dedup_recall_frame(spark, SF))
    n = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n <= 4, p[:2000]
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 2, p[:2000]
    assert "CartesianProduct" not in p
    assert "md5" not in p, "serve path must not re-shingle the corpus"


def test_ann_truncation_report_single_pass_plan(spark):
    """All truncation tiers (8/16/32 + the full-dim baseline) must
    score in ONE grouped brute-force pass — a single window over
    (dim, q_id) — not four sequential corpus scans (18 Exchanges
    before the VERDICT r8 #3 rewrite; ≤5 after)."""
    import re

    p = plan_of(spark, "ann_truncation_report")
    n = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n <= 5, p[:2000]
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) <= 1, p[:2000]
    assert "CartesianProduct" not in p


def test_ivf_cell_balance_single_broadcast_pass(spark):
    """The index-health report must be one broadcast-codebook corpus
    pass (argmin window) + a k-row rollup — no sort-merge join, no
    cartesian, and the corpus never shuffles except into the
    |corpus|-keyed assignment window."""
    import re

    p = plan_of(spark, "ivf_cell_balance_report")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 4, p[:1500]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_incremental_cc_from_table_reads_stored_state(spark):
    """The warm-start summary must READ both state tables (two extra
    parquet scans beyond documents) and never re-run the lake CC —
    bounded Exchange count, no cartesian."""
    import re

    p = plan_of(spark, "incremental_cc_from_table")
    assert p.count("Scan parquet") >= 3, p[:1500]  # docs + star + bands
    assert "CartesianProduct" not in p
    # r13: the delta_components relabel (base-union distinct +
    # touched anti-join + label joins) replaced the generic CC loop's
    # final node join — two more exchanges in the OUTPUT plan, but the
    # loop's 3 rounds x (checkpoint + signature) jobs are gone
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 12, p[:1500]


def test_hard_negative_mining_single_scoring_pass(spark):
    """One brute-force scoring pass feeds both the positive-anchor
    and negative branches via the checkpointed top frame — at most
    one corpus scan plus the checkpoint scans, and ≤3 windows."""
    import re

    p = plan_of(spark, "hard_negative_mining")
    assert p.count("Scan parquet") == 0, p[:1200]  # checkpointed input
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) <= 3, p[:1200]
    assert "CartesianProduct" not in p


def test_knn_lsh_multiprobe_stays_bucket_join_shaped(spark):
    """VERDICT r9 #4's 'plan still bucket-join-shaped' bar: the
    multiprobe default must keep ONE bucket-equality broadcast join
    (only the 8-row query side fans out ×(n_planes+1)) — no
    cartesian, no sort-merge, corpus bucketed in one pass."""
    import re

    p = plan_of(spark, "knn_lsh_multiprobe")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2, p[:1500]


def test_ivf_index_maintenance_single_assignment_pass(spark):
    """The maintenance report must reuse the search path's single
    broadcast-codebook assignment pass (one corpus scan split by an
    arrival flag — never two reads), plus model-sized rollup joins."""
    import re

    p = plan_of(spark, "ivf_index_maintenance")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # embeddings scanned at most twice: the assignment pass and the
    # two-scalar totals row — the arrival split rides a flag, not a
    # second assignment
    assert p.count("Scan parquet") <= 3, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 4, p[:1500]


def test_mixture_replan_single_tokenization(spark):
    """Both token rollups (raw and keep-list) must come from ONE
    tokenization projection — the documents parquet is scanned at
    most twice (tokens + the keep-list join side), cluster labels
    come from the STORED state parquet (r11 — no CC iteration in the
    plan, which is why the exchange bound tightened 7 → 3), and the
    re-plan windows run over the source-cardinality frame."""
    import re

    p = plan_of(spark, "mixture_replan_after_dedup")
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet") <= 4, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 3, p[:1500]


def test_classifier_calibration_drift_projection_inference(spark):
    """Inference must stay a zero-shuffle projection feeding one
    (window × bin) aggregate: no cartesian except the broadcast
    one-row baseline, ≤2 corpus scans (e/wr branches), bounded
    exchanges."""
    import re

    p = plan_of(spark, "classifier_calibration_drift")
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet") <= 2, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 6, p[:1500]


def test_incremental_index_writeback_reads_stored_state(spark):
    """The two-batch loop's OUTPUT plan must read stored state (the
    final star parquet) and the checkpointed phase pairs — never
    re-run the lake banding — and join clusters by doc key only."""
    import re

    p = plan_of(spark, "incremental_index_writeback")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 4, p[:1500]


def test_interval_vector_audit():
    """The round-7 'interval-vector sweep is exhaustive' claim, made
    checkable (VERDICT r7 #8): every deftest in the reference test
    corpus that drives the controlled clock maps to a tests/
    counterpart that exists, or to a documented skip reason — and the
    mapping can't go stale in either direction (a new reference block
    or a renamed counterpart fails this test)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "interval_audit",
        os.path.join(os.path.dirname(__file__), "..", "tools", "interval_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.audit() == []


def test_core_corpus_parity_audit():
    """Full-breadth sibling of the interval audit: every deftest in
    the 11 core reference test files (162 blocks) maps two-way to an
    existing tests/ counterpart or a documented skip; vendor-sink
    test files are covered by the SURVEY §2.8 mechanism decision
    (see tools/parity_audit.py header)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "parity_audit",
        os.path.join(os.path.dirname(__file__), "..", "tools", "parity_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.audit() == []


def test_retrieval_eval_rankings_take_ordered(spark):
    """Every ranking in retrieval_eval_report must be TakeOrdered-
    bounded before its rank window runs (bm25_topk's shape): local
    k-heaps + a 20-row merge, never a corpus-sized single-partition
    sort. Four rankings (lex, vec, two ideals) -> 4 TakeOrdered, 4
    Windows over <=20 rows, zero global Sorts."""
    import re

    p = plan_of(spark, "retrieval_eval_report")
    assert len(re.findall(r"^\(\d+\) TakeOrderedAndProject", p, re.M)) == 4, p
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 4, p
    assert not re.search(r"^\(\d+\) Sort\b", p, re.M), p


def test_cusum_single_sort_feeds_all_windows(spark):
    """The CUSUM closed form must ride ONE (host, service) sort: all
    window passes (row_number, running sum, running min, lag) share
    the same partitioning and order, so Catalyst plans exactly one
    Sort; the key-cardinality stats frame carries no broadcast hint
    (at scale its sort-merge join shares the window exchange — the
    join strategy is left to AQE)."""
    import re

    p = plan_of(spark, "cusum_alerts")
    assert len(re.findall(r"^\(\d+\) Sort\b", p, re.M)) <= 3, p
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 3, p
    # no forced broadcast of the key-cardinality stats frame: at test
    # SF Catalyst may still pick BHJ by size estimate (that is AQE's
    # call to make), but the plan must not contain a broadcast HINT
    assert "ResolvedHint" not in p, p


def test_pq_code_maintenance_single_encode_pass(spark):
    """The PQ maintenance report must reuse the serve path's single
    broadcast-codebook encode (one corpus scan split by the arrival
    flag), with only model-sized rollup joins after the checkpointed
    128-row count table — mirroring ivf_index_maintenance's pin."""
    import re

    p = plan_of(spark, "pq_code_maintenance")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # the output plan reads the stored codebook grid + broadcasts the
    # checkpointed rollup and the one-row totals — never the corpus
    assert p.count("Scan parquet") <= 2, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2, p[:1500]


def test_classifier_uncertainty_sampling_one_scan_one_window(spark):
    """Uncertainty sampling must stay a single-scan feature projection
    feeding ONE per-source top-k window: one documents scan, one
    KEYED exchange (the window's source partitioning), no joins.
    Since r15 the single-split fixture also carries spread_for_python's
    round-robin ahead of the inference fold (skipped on a wide
    scan — see test_spread_decides_from_the_frame)."""
    import re

    p = plan_of(spark, "classifier_uncertainty_sampling")
    assert "CartesianProduct" not in p and "Join" not in p
    assert p.count("Scan parquet") <= 2, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2, p[:1500]
    assert p.count("Arguments: hashpartitioning(source") <= 1, p[:1500]
    assert p.count("Window") >= 1


def test_containment_dedup_served_from_state(spark):
    """containment_dedup serves the STORED contain_pairs_v1 table
    (r14 — the last rebuild-per-query pair row converted to the r12
    stored-state discipline): the per-query plan is exactly ONE
    parquet scan — no shingling, no posting build, no joins."""
    import re

    p = plan_of(spark, "containment_dedup")
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1, p[:800]
    assert "contain_pairs_v1" in p, p[:800]
    assert "Exchange" not in p and "Generate" not in p, p[:800]


def test_tier_agreement_real_plan_shape(spark):
    """dedup_tier_agreement serves ALL THREE tiers from the STORED
    pair tables (r12, _text_pair_state: tp/lsh/sim64) — the per-query
    plan is three parquet pair scans meeting in the membership
    groupBy + the one-row fold. No re-shingling, no re-hashing, no
    posting build in the serve path."""
    import re

    from riemann_spark.plans.catalog_ml import _tier_agreement_frame

    spark.catalog.clearCache()
    p = plan_of_df(_tier_agreement_frame(spark, SF))
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 3, p[:2000]
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 3, p[:2000]
    assert "md5" not in p, "serve path must not re-hash the corpus"


def test_knn_ivfpq_prunes_to_probed_cells(spark):
    """The composed IVF-PQ plan must keep the PQ family's shape: the
    ADC join is a broadcast of the model-sized LUT (query fan-out ×
    nprobe cells), corpus codes ride integer columns, no cartesian
    beyond the broadcast codebook/centroid crossJoins, no sort-merge
    join anywhere."""
    import re

    p = plan_of(spark, "knn_ivfpq")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2  # codebook m-join + ADC join
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 5, p[:1500]


def test_dedup_family_serves_from_state_no_cc_iteration(spark):
    """The r11 consolidation contract: every stored-label consumer's
    plan is scans + joins + aggregates — NO connected-components
    iteration (no posting-list collect_list, bounded exchanges). A
    regression here silently reintroduces the ~40s of repeated
    fixpoints the state tables exist to eliminate."""
    import re

    for name, max_ex in [
        ("dedup_clusters", 3),
        ("dedup_cluster_sizes", 3),
        ("cluster_aware_split", 2),
        ("soft_dedup_weights", 4),
        ("dedup_clusters_verified", 3),
        ("dedup_cluster_representatives", 4),
        ("dedup_embedding_keeplist", 2),
        ("winnowing_keeplist", 2),
    ]:
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name
        assert "collect_list" not in p, name  # the CC/posting signature
        n = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
        assert n <= max_ex, (name, n, p[:1200])


def test_band_index_compaction_is_state_reads_plus_one_agg(spark):
    """Compaction must compose stored state, not rebuild it: the plan
    reads the lake band index and cluster labels from parquet (plus
    the arrival banding projection), one id-keyed join against the
    removal set, one band-keyed aggregate — no CC iteration, no pair
    self-join, no cartesian."""
    import re

    p = plan_of(spark, "band_index_compaction")
    assert "CartesianProduct" not in p
    # the 1000-cap/CC machinery never appears: no posting-list
    # collect_list, no iterative checkpoint scans
    assert "collect_list" not in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 4, p[:1500]


def test_contamination_from_table_probes_stored_index(spark):
    """The stored eval shingle index must join as a broadcast (it is
    benchmark-sized) and the train side must be the only documents
    scan feeding shingles — no second eval-side shingle rebuild."""
    import re

    p = plan_of(spark, "contamination_from_table")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 1
    # one documents scan (train side); the eval side is a parquet
    # state read, not a re-shingle of documents
    assert len(re.findall(r"Scan parquet[^\n]*documents", p)) <= 2, p[:1500]


def test_eval_index_writeback_single_train_probe(spark):
    """Before/after verdicts must come from ONE train-side probe of
    the broadcast shingle-level marker — no second shingle scan of
    the train corpus, no sort-merge, no cartesian."""
    import re

    p = plan_of(spark, "eval_index_writeback")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2  # marker probe + doc join
    # train docs scanned at most twice (shingle branch + doc_id spine)
    assert len(re.findall(r"Scan parquet[^\n]*documents", p)) <= 4, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 3, p[:1500]


def test_ivfpq_geometry_python_matches_duckdb_replay():
    """Property: the Python geometry selector and the oracle's geo CTE
    agree at every corpus size — boundary powers of two, the regime
    crossover (N = 16384), the clamps, and lake-scale counts past the
    64-bit N^2 overflow point (the CTE computes in HUGEINT). No Spark
    needed: this is the cross-engine contract every serving oracle
    rides."""
    import random

    import duckdb

    from riemann_spark.plans.catalog_ml import (
        _IVFPQ_GEO_CTE,
        _ivfpq_geometry,
    )

    from riemann_spark.functions.similarity import (
        IVFPQ_TRAIN_SAMPLE,
        ivf_build_fan,
        ivf_super_count,
    )

    rnd = random.Random(41)
    sizes = (
        [1, 2, 15, 16, 17, 500, 2000, 2047, 2048, 2049, 5793]
        + [16383, 16384, 16385, 40000, 10**6, 3 * 10**9, 10**10]
        + [rnd.randrange(1, 10**7) for _ in range(25)]
    )
    for n in sizes:
        sql = _IVFPQ_GEO_CTE.replace("FROM embeddings", f"FROM range({n})")
        got = duckdb.sql(
            "WITH " + sql
            + " SELECT cells, nprobe, fsup, sfan, smod FROM geo"
        ).fetchone()
        cells, nprobe = _ivfpq_geometry(n)
        exp = (
            cells,
            nprobe,
            ivf_super_count(cells),
            ivf_build_fan(cells),
            max(1, n // IVFPQ_TRAIN_SAMPLE),
        )
        assert tuple(got) == exp, (n, got, exp)
        assert 16 <= cells <= 65536 and cells & (cells - 1) == 0
        # nprobe regime (VERDICT r13 #3): /4 below the crossover,
        # /8 above — scan_frac halves exactly where occupancy growth
        # pays for it
        assert nprobe == (cells // 4 if n <= 16384 else cells // 8)
        # the build fan: exact-flat below 1024 cells, 4-super probe
        # above (VERDICT r13 #2)
        f = ivf_super_count(cells)
        assert f * f >= cells and (f // 2) * (f // 2) < cells
        assert ivf_build_fan(cells) == (f if cells < 1024 else min(4, f))


def test_ivfpq_geometry_report_is_model_sized(spark):
    """The geometry report is a COUNT plus driver-side selection — the
    returned plan must be a literal local scan (no corpus re-scan, no
    shuffles), and its values must replay _ivfpq_geometry exactly."""
    from riemann_spark.plans.catalog_ml import _ivfpq_geometry

    p = plan_of(spark, "ivfpq_geometry_report")
    assert "LocalTableScan" in p or "Scan ExistingRDD" in p, p[:800]
    assert "Exchange" not in p, p[:800]
    row = QUERIES["ivfpq_geometry_report"](spark, SF).collect()[0]
    cells, nprobe = _ivfpq_geometry(row["n_vectors"])
    assert (row["cells"], row["nprobe"]) == (cells, nprobe)
    assert row["scan_frac"] == 0.25
    # audit-sized corpus: flat build (fan = super count), full-corpus
    # training
    assert row["super_fan"] == row["super_cells"]
    assert row["two_level_build"] is False
    assert row["train_sample_mod"] == 1


def test_knn_ivfpq_rerank_keeps_pruned_shape(spark):
    """The rerank tier must keep the compressed scan's shape (no
    cartesian, no sort-merge) and add only the shortlist's id-keyed
    joins back to full vectors — the query side broadcast, the
    corpus side keyed on n_id."""
    import re

    p = plan_of(spark, "knn_ivfpq_rerank")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 3  # + the q-vector join
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 7, p[:1500]


def test_mixture_anneal_schedule_constant_after_scan(spark):
    """The annealing schedule must be ONE tokenization aggregate to
    source cardinality, then constant work (3x explode + per-epoch
    window on the tiny frame): one documents scan, bounded
    exchanges, no joins."""
    import re

    p = plan_of(spark, "mixture_anneal_schedule")
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("Scan parquet") <= 2, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 3, p[:1500]


def test_tokenizer_fertility_drift_two_aggregates(spark):
    """The drift report must be: one chained-replace application scan
    feeding a (window x source) aggregate, plus the window-0 baseline
    branch and a broadcast join — 2 scans of documents (agg + baseline
    lineage), 2 exchanges, no sort-merge, no cartesian. BPE training
    happens driver-side (bpe_train) and never appears in this plan."""
    import re

    p = plan_of(spark, "tokenizer_fertility_drift")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert p.count("Scan parquet") <= 4, p[:1500]  # 2 scans x (tree+detail)
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2, p[:1500]
    assert p.count("BroadcastHashJoin") >= 1


def test_knn_ivfpq_serves_stored_index(spark):
    """The r12 serving posture: knn_ivfpq reads the STORED integer
    code table + trained codebook (_ivfpq_index_state) — the per-
    query plan must not re-assign or re-encode the corpus. Encoding
    shows up as a (n_id, cell, m)-keyed aggregate over the
    corpus x codewords join; its absence plus the state parquet
    scans is the pin."""
    import re

    p = plan_of(spark, "knn_ivfpq")
    # queries-side embeddings scan + codebook parquet + codes parquet
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) >= 3, p[:2000]
    # corpus encode would aggregate over (n_id, cell, m) — absent
    assert "partial_min" not in p, p[:2000]
    assert "CartesianProduct" not in p


def test_ann_recall_ivfpq_single_hits_job(spark):
    """All three tiers (trained ADC, seeded ADC, rerank) must meet the
    ground truth in ONE union-tagged aggregation, served from the two
    stored code tables — not a join+count job per tier."""
    from riemann_spark.plans import QUERIES

    rows = {r["tier"]: r for r in QUERIES["ann_recall_ivfpq"](spark, SF).collect()}
    assert set(rows) == {"ivfpq", "ivfpq_seeded", "ivfpq_rerank"}
    # the VERDICT r11 #3 bar: serving defaults >= 0.8 without re-rank
    assert rows["ivfpq"]["recall_at_5"] >= 0.8, rows
    assert rows["ivfpq"]["recall_at_5"] > rows["ivfpq_seeded"]["recall_at_5"], rows


def test_ann_nprobe_sweep_one_adc_pass(spark):
    """The sweep must score ONCE at the widest rung and derive the
    narrower rungs by cell rank — exactly one scan of the stored code
    table, no per-rung re-scoring, no cartesian, ground truth the
    8-query brute tier. Values: the rung recall curve must be
    monotone in nprobe, the serving rung marked, scan_frac dyadic."""
    import re

    from riemann_spark.plans import QUERIES

    p = plan_of(spark, "ann_nprobe_sweep")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"Scan parquet[^\n]*ivfpq_codes_serving", p)) <= 2, (
        p[:1500]
    )
    rows = sorted(
        QUERIES["ann_nprobe_sweep"](spark, SF).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["scan_frac"] for r in rows] == [0.0625, 0.125, 0.25]
    recalls = [r["recall_at_5"] for r in rows]
    assert recalls == sorted(recalls), rows
    serving = [r for r in rows if r["is_serving"]]
    assert len(serving) == 1 and serving[0]["scan_frac"] == 0.25
    assert serving[0]["recall_at_5"] >= 0.8, rows


def test_streaming_contamination_writeback_matches_batch(spark):
    """The train-side arrival gate (streaming, drained) must agree
    row-for-row with the equivalent batch probe of the same stored
    index — same shingles, same base/append marker, same admission
    flags — and only ever sees the arrival batch (doc_id % 5 == 0)."""
    from pyspark.sql import functions as F

    from riemann_spark.functions import dedup
    from riemann_spark.plans import QUERIES
    from riemann_spark.plans.catalog_ml import _eval_shingle_state
    from riemann_spark.schema import load_table

    got = {
        r["doc_id"]: r
        for r in QUERIES["streaming_contamination_writeback_drained"](
            spark, SF
        ).collect()
    }
    d = load_table(spark, SF, "documents")
    arrivals = d.filter(
        (F.col("source") != "src0") & (F.col("doc_id") % 5 == 0)
    )
    assert set(got) == {r.doc_id for r in arrivals.select("doc_id").collect()}
    ev = _eval_shingle_state(spark, SF)
    evg = ev.groupBy("shingle").agg(
        F.max((F.col("eval_doc") % 3 != 0).cast("int")).alias("ib")
    )
    t = dedup._shingle_table(arrivals, "doc_id", "text", 4)
    want = {
        r["doc"]: (r["nb"], r["nt"])
        for r in t.join(F.broadcast(evg), "shingle")
        .groupBy("doc")
        .agg(F.sum("ib").alias("nb"), F.count(F.lit(1)).alias("nt"))
        .collect()
    }
    for doc_id, row in got.items():
        nb, nt = want.get(doc_id, (0, 0))
        assert row["n_base_grams"] == nb and row["n_total_grams"] == nt
        assert row["admitted"] == (nt == 0)
        assert row["newly_flagged"] == (nb == 0 and nt > 0)
    assert any(not r["admitted"] for r in got.values())
