"""Plan-shape regression tests (SURVEY §4): the properties that decide
100×-scale behavior — scan pushdown, column pruning, broadcast vs
nested-loop strategy, exchange counts — pinned so a refactor can't
silently regress them."""

import pytest

from prohap_spark.queries.textdata import text_unigram_logprob as _unigram_logprob

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def qs():
    from prohap_spark.queries import queries

    return queries()


def test_scan_pushdown_and_pruning(spark, qs):
    from prohap_spark.plans import pushed_filters, read_schema_columns

    df = qs["s1_scan_pushdown_projection"](spark, SF)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf)
    assert any("l_discount" in f for f in pf)
    # 11-column table, scan reads only the 5 referenced columns
    (cols,) = read_schema_columns(df)
    assert len(cols) <= 5


def test_q1_partial_aggregation_single_shuffle(spark, qs):
    from prohap_spark.plans import plan_report

    rep = plan_report(qs["q1_pricing_summary"](spark, SF))
    assert rep["exchanges"] <= 2  # partial→final agg, nothing else
    (cols,) = rep["scan_columns"]
    assert len(cols) == 7  # 7 of 11 columns


def test_star_join_broadcasts_dims(spark, qs):
    from prohap_spark.plans import plan_report

    rep = plan_report(qs["j3_star_dim_join"](spark, SF))
    assert rep["broadcast_joins"] >= 2
    assert rep["sortmerge_joins"] == 0
    assert rep["bnl_joins"] == 0


def test_binned_interval_join_avoids_nested_loop(spark):
    """The binned interval join must plan as a hash equi-join on the bin
    key, not the BroadcastNestedLoopJoin a plain range predicate
    produces."""
    from prohap_spark.operators.interval_join import interval_join
    from prohap_spark.plans import plan_report

    pts = spark.createDataFrame(
        [(i, "1" if i % 2 else "X", i * 37 % 1_000) for i in range(200)],
        "pid long, chrom string, pos long",
    )
    ivs = spark.createDataFrame(
        [(i, "1" if i % 2 else "X", i * 50, i * 50 + 120) for i in range(20)],
        "iid long, chrom string, start long, end long",
    )
    joined = interval_join(
        pts, ivs, point_col="pos", start_col="start", end_col="end",
        partition_keys=["chrom"], bin_size=64, strategy="binned",
    )
    rep = plan_report(joined)
    assert rep["bnl_joins"] == 0
    assert (
        rep["broadcast_joins"] + rep["sortmerge_joins"]
        + rep["shuffledhash_joins"]
        >= 1
    )
    assert joined.count() > 0


def test_kernel_is_single_python_stage(spark):
    """The U1-U3 kernel must appear as exactly one Python stage with no
    groupBy shuffle feeding it (mapInPandas design)."""
    from pyspark.sql import functions as F

    from prohap_spark.kernels.spark_kernels import annotate_items
    from prohap_spark.plans import formatted_plan, plan_report

    df = spark.createDataFrame(
        [("T1", "i1", "+", [{"start": 1, "end": 30}], 1, "ATGAAA", [])],
        "transcript_id string, item_id string, strand string, "
        "exons array<struct<start:long,end:long>>, start_codon long, "
        "cdna string, changes array<struct<pos:long,ref:string,alt:string,vcf_id:string>>",
    )
    out = annotate_items(df)
    rep = plan_report(out)
    assert rep["python_stages"] == 1
    assert "Exchange" not in formatted_plan(out)


def test_dedup_exact_single_exchange(spark, qs):
    from prohap_spark.plans import plan_report

    rep = plan_report(qs["dedup_exact_docs"](spark, SF))
    assert rep["exchanges"] <= 1


def test_grouped_row_number_no_unpartitioned_window(spark):
    """The scalable numbering must not plan a window over the DATA
    without a partition spec (the single-task funnel it exists to
    avoid); the only unpartitioned-ish window runs over the tiny
    per-partition count table, which is partitioned by a literal."""
    from prohap_spark.operators.order import global_row_number
    from prohap_spark.plans import formatted_plan
    from prohap_spark.queries.registry import table

    o = table(spark, SF, "orders").select("o_orderkey", "o_orderdate")
    out = global_row_number(o, ["o_orderdate", "o_orderkey"])
    plan = formatted_plan(out)
    # every Window node must carry a partition spec
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # partition exprs come before the ASC/DESC sort spec; an
        # unpartitioned-over-data window would start with the sort col
        assert not spec.lstrip().startswith("o_orderdate"), spec


def test_salted_aggregate_two_phase_plan(spark, qs):
    """Salted skew aggregate: exactly the salt-phase + merge-phase
    aggregations, no extra exchanges beyond the two groupings."""
    from prohap_spark.plans import plan_report

    rep = plan_report(qs["agg_salted_skew"](spark, SF), "salted")
    assert rep["exchanges"] <= 2
    assert rep["bnl_joins"] == 0


def test_click_attribution_equi_join_on_user(spark, qs):
    """The stream-stream join's batch form must resolve to an equi-join
    on user_id (broadcast or shuffled hash / SMJ), never a nested-loop
    over the range condition alone."""
    from prohap_spark.plans import plan_report

    rep = plan_report(qs["stream_click_attribution"](spark, SF), "attrib")
    assert rep["bnl_joins"] == 0


def test_partitioned_sink_read_prunes_partitions(spark):
    """S10/F3: a chrom-filtered read of the partitionBy('chrom') layout
    must satisfy the predicate from the directory structure (partition
    pruning), not by scanning row data."""
    from prohap_spark.sources.canonicalize import canonicalize_variants, read_canonical

    df = spark.createDataFrame(
        [("1", 10, "A", "C"), ("X", 20, "G", "T"), ("X", 5, "T", "A")],
        ["chrom", "pos", "ref", "alt"],
    )
    canonicalize_variants(df, "/tmp/prohap_test_canon_prune")
    rt = read_canonical(spark, "/tmp/prohap_test_canon_prune", chrom="X")
    plan = rt._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "chrom" in plan.split("PartitionFilters", 1)[1][:200]
    assert {r["pos"] for r in rt.collect()} == {5, 20}


def test_unigram_logprob_broadcast_vocab(spark, qs):
    from prohap_spark.plans import plan_report

    rep = plan_report(_unigram_logprob(spark, SF))
    # the BOUNDED top-K head broadcasts (map-side scoring for the hot
    # path); the only nested-loops are broadcast 1-row corpus-total
    # joins — one per derivation of the NLL table (head, and the
    # shuffle-join tail for rare tokens)
    assert rep["broadcast_joins"] >= 1
    assert rep["bnl_joins"] <= 3
    assert all(set(c) <= {"doc_id", "text"} for c in rep["scan_columns"])


def test_pack_context_windows_single_shard_exchange(spark, qs):
    from prohap_spark.plans import formatted_plan, plan_report

    df = qs["pack_context_windows"](spark, SF)
    rep = plan_report(df)
    # one hash exchange on shard feeds the per-shard window cumsum;
    # no global sort, no single-partition exchange
    assert rep["exchanges"] == 1
    plan = formatted_plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_line_dedup_no_cartesian(spark, qs):
    from prohap_spark.plans import formatted_plan, plan_report

    df = qs["text_line_dedup"](spark, SF)
    rep = plan_report(df)
    assert rep["bnl_joins"] == 0
    assert "CartesianProduct" not in formatted_plan(df)
    assert rep["exchanges"] <= 5


def test_curation_budget_sharded_and_hash_keyed_dedup(spark, qs):
    """The funnel's two 100 TB seams, pinned: (1) the token-budget
    cumsum window partitions by (source, shard) — never by source
    alone, which would stream each source through one task; (2) no
    window in the plan partitions on the scrubbed TEXT — the exact
    dedup keys on its md5 digest, so document bodies are not
    shuffle/sort keys."""
    import re

    from prohap_spark.plans import formatted_plan

    plan = formatted_plan(qs["corpus_curation_e2e"](spark, SF))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the funnel plan"
    assert not any("scrubbed" in s for s in specs)
    # every source-partitioned window also carries the shard key
    for s in specs:
        if s.lstrip().startswith("source"):
            assert "shard" in s, s


def test_token_budget_sharded_window(spark, qs):
    """sampling_token_budget: the cumsum partitions by (source, shard)
    so the mixture allocation is sources x shards parallel."""
    import re

    from prohap_spark.plans import formatted_plan

    from prohap_spark.queries.textdata import sampling_token_budget

    plan = formatted_plan(sampling_token_budget(spark, SF))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for s in specs:
        assert s.lstrip().startswith("source") and "shard" in s, s


def test_ngram_topk_take_ordered_not_global_sort(spark, qs):
    """The frequent-n-gram top-k must plan as TakeOrderedAndProject
    (per-partition heaps), never a global Sort feeding a limit."""
    from prohap_spark.plans import formatted_plan

    plan = formatted_plan(qs["text_ngram_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_audio_container_single_widening_exchange(spark, qs):
    """Container-metadata extraction is one mapInPandas over the
    payload column, plus EXACTLY the one round-robin exchange that
    widens the decode stage past the single-row-group scan (the r9
    scan-side parallelism floor in _docs_as_media — bmp_png measured
    3.7 s single-task before it). Zero exchanges was the OLD pin; it
    documented the serialized shape."""
    from prohap_spark.plans import formatted_plan, plan_report

    df = qs["multimodal_audio_container"](spark, SF)
    rep = plan_report(df)
    assert rep["exchanges"] == 1
    assert "roundrobinpartitioning" in formatted_plan(df).lower()


def test_chunk_overlap_no_shuffle(spark, qs):
    """Chunking is a per-row fan-out (sequence + explode) — the plan
    must have ZERO exchanges; at corpus scale it is map-side only."""
    from prohap_spark.plans import plan_report

    rep = plan_report(qs["text_chunk_overlap"](spark, SF))
    assert rep["exchanges"] == 0


def test_q4_semi_join_not_bnl(spark, qs):
    """The EXISTS decorrelation must plan the semi join on the orderkey
    equi-key (hash/SMJ) with the date residual as condition — never a
    nested loop — and push the order-date window to the orders scan."""
    from prohap_spark.plans import formatted_plan, plan_report, pushed_filters
    from prohap_spark.queries.classic import q4_order_priority

    # singleton callable: registry row merged into q_subquery_board (r12)
    df = q4_order_priority(spark, SF)
    rep = plan_report(df)
    assert rep["bnl_joins"] == 0
    assert "LeftSemi" in formatted_plan(df)
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_q18_semi_join_and_bigint_sums(spark, qs):
    """r10 rewrite: the semi-join + re-aggregate shape is GONE — the
    HAVING aggregate double-duties as the output column, so the plan
    carries exactly one aggregation over one lineitem scan and no
    semi join at all (test_q18_q21_single_fact_scan pins the scan
    count; this pins the join strategy)."""
    from prohap_spark.plans import formatted_plan

    plan = formatted_plan(qs["q18_large_volume_customer"](spark, SF))
    assert "LeftSemi" not in plan  # the double-aggregate shape is gone
    assert "BroadcastNestedLoop" not in plan
    # partial+final of ONE aggregation — the formatted plan prints
    # each node twice (tree + detail), so 2 nodes => 4 mentions
    assert plan.count("HashAggregate") <= 4


def test_q22_broadcast_stats_and_anti_join(spark, qs):
    """The 1-row stats frame must broadcast (never a shuffled cartesian)
    and the NOT EXISTS must plan as a LeftAnti with the final-quarter
    date filter pushed to the orders scan."""
    from prohap_spark.plans import formatted_plan, pushed_filters
    from prohap_spark.queries.classic import q22_idle_customers

    # singleton callable: registry row merged into q_subquery_board (r12)
    df = q22_idle_customers(spark, SF)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_substring_dedup_hash_keys_only(spark, qs):
    """Gram TEXT must never shuffle: every exchange in the substring
    dedup plan carries xxhash64 keys / positions, and reassembly re-splits
    the original text map-side (no sort-aggregate of gram strings)."""
    from prohap_spark.plans import formatted_plan

    plan = formatted_plan(qs["text_substring_dedup"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the per-doc removed-set aggregate and the final doc join exchange
    # on id/__k only; gram text appears in no exchange's partitioning
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "__seg" not in keys and "text" not in keys.split(",")[0]


def test_scd2_merge_history_never_joins(spark, qs):
    """SCD2's scale contract: ONE full-outer join of the current
    slice against the (deduped) batch, every outcome emitted from the
    joined row via explode — a second join node means either history
    entered the join graph or a shared subplan is being re-executed
    (the original semi/anti formulation replayed the compare join
    three times; this pin caught it)."""
    from prohap_spark.plans import formatted_plan, plan_report

    df = qs["scd2_merge_upsert"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Union" in plan
    rep = plan_report(df)
    assert (
        rep["broadcast_joins"] + rep["sortmerge_joins"] + rep["bnl_joins"] <= 1
    ), rep


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """The 100 TB runtime-filtering story: when a selective dim-side
    predicate feeds a SHUFFLE join (broadcast disabled), Spark must
    inject a bloom_filter_agg on the build side and a might_contain
    probe above the fact scan — rows for unmatched orderkeys die
    before the exchange instead of shuffling. (With broadcast joins
    enabled the same pruning arrives via the broadcast hash table;
    this pins the large-dim path where broadcasting is impossible.)"""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_whole_stage_codegen_covers_jvm_hot_paths(spark, qs):
    """Whole-stage codegen must actually cover the pure-JVM hot paths
    (the counter is post-execution: AQE only finalizes spans once the
    frame materializes on its OWN queryExecution). A q1 or
    text_quality without codegen spans means an expression fell back
    to interpreted eval — the 10x regression class this pin guards."""
    from prohap_spark.plans import codegen_stage_count

    for name in ("q1_pricing_summary", "text_quality_board", "w5_running_offset"):
        df = qs[name](spark, SF)
        # collect(), not a noop write: the write path spawns its OWN
        # query execution and leaves df's plan unfinalized (the same
        # trap the AQE skew pin documents for count())
        df.collect()
        assert codegen_stage_count(df) >= 1, name


def test_triangle_count_no_cartesian_and_degree_joins(spark, qs):
    """Degree-ordered triangles: the wedge build and closure probe are
    equi-joins (never BNL/cartesian), and the whole plan stays inside
    hash/sort-merge strategies Catalyst can size with AQE.

    Pinned on the share_scan=False build: the default's lazy
    localCheckpoints truncate the inspectable lineage at the shared
    boundaries (the registered query's plan shows only the closure
    join), so the full join structure is only visible unshared —
    sharing changes execution reuse, never the plan shape this pin
    guards. The registered (shared) plan is additionally pinned
    BNL-free below."""
    from pyspark.sql import functions as F

    from prohap_spark.operators.graph import triangle_count
    from prohap_spark.plans import plan_report
    from prohap_spark.queries.registry import table

    li = table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    a = li.toDF("ok", "u")
    b = li.toDF("ok", "v")
    edges = a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    rep = plan_report(
        triangle_count(edges, "u", "v", assume_canonical=True, share_scan=False)
    )
    assert rep["bnl_joins"] == 0
    assert rep["cartesian_joins"] == 0 if "cartesian_joins" in rep else True
    assert rep["broadcast_joins"] + rep["sortmerge_joins"] >= 2

    shared = plan_report(qs["graph_triangle_count"](spark, SF))
    assert shared["bnl_joins"] == 0


def test_pagerank_micro_round_shape(spark):
    """One pagerank_micro round must contain NO nested-loop join other
    than the sanctioned 1-row dangling-mass broadcast, and the edge
    contribution join must be an equi-join on the tail key."""
    from pyspark.sql import functions as F

    from prohap_spark.operators.graph import pagerank_micro
    from prohap_spark.plans import plan_report

    edges = spark.range(2000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 41 + 100).alias("dst")
    )
    out = pagerank_micro(
        edges, n_iter=2, materialize=False, truncate_lineage=False
    )
    rep = plan_report(out)
    # dangling-mass broadcast: a 1-row Cross per round is the ONLY
    # sanctioned nested loop; with lineage truncation off, round 1's
    # subplan is re-embedded by round 2 (inflow + dangling branches),
    # so its BNL is COUNTED up to twice — bound is 1 (round 2) + 2
    # (round 1 re-embeds), and every BNL must be a 1-row Cross
    assert rep["sortmerge_joins"] + rep["broadcast_joins"] >= 4
    assert rep["bnl_joins"] <= 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


def test_host_cap_single_exchange_no_body_shuffle(spark, qs):
    """dedup_host_cap: ONE exchange (the host-keyed window), and the
    shuffled row is (id, source, n_tokens) — the document body must
    not appear in any exchange or sort key."""
    from prohap_spark.plans import plan_report

    df = qs["dedup_host_cap"](spark, SF)
    rep = plan_report(df)
    assert rep["exchanges"] == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line or "Sort " in line:
            assert "text#" not in line, line


def test_winnowing_fp_self_join_shuffles_not_broadcasts(spark):
    """The fingerprint self-join's sides are scan -> generator-fanned
    with NO shuffle boundary before the join, so Catalyst sizes them at
    ~1x the scan while the explode fans them ~len/window per doc — a
    statically planned broadcast there is the misplan the r7 interval
    scale probe measured (143.6 s vs 16.0 s at 32x), and AQE cannot
    demote it. The operator pins shuffle_hash on that join."""
    import pandas as pd

    from prohap_spark.operators.dedup import winnowing_pairs
    from prohap_spark.plans import plan_nodes

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "text": ["the quick brown fox jumps over the lazy dog again"] * 3
                + ["an entirely different sentence with many other words here"] * 3,
            }
        )
    )
    df = winnowing_pairs(docs, "doc_id", "text")
    nodes = plan_nodes(df)
    assert "ShuffledHashJoin" in nodes
    assert "BroadcastHashJoin" not in nodes
    assert df.count() > 0  # pin is not vacuous


def test_interval_join_hint_flips_broadcast_to_shuffle(spark):
    """join_hint='shuffle_hash' must override the (possibly
    misestimated) static broadcast choice on the bin-exploded interval
    side, and must not change the result."""
    import pandas as pd

    from prohap_spark.operators.interval_join import interval_join
    from prohap_spark.plans import plan_nodes

    pts = spark.createDataFrame(pd.DataFrame({"pos": [5, 15, 25, 250]}))
    ivs = spark.createDataFrame(
        pd.DataFrame({"start": [0, 10, 200], "end": [20, 30, 300]})
    )
    kw = dict(point_col="pos", start_col="start", end_col="end", bin_size=16)
    plain = interval_join(pts, ivs, **kw)
    hinted = interval_join(pts, ivs, join_hint="shuffle_hash", **kw)
    assert "BroadcastHashJoin" in plan_nodes(plain)  # small side: static broadcast
    assert "ShuffledHashJoin" in plan_nodes(hinted)
    assert "BroadcastHashJoin" not in plan_nodes(hinted)
    key = lambda r: (r["pos"], r["start"], r["end"])  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(map(key, hinted.collect()))


def test_multiplied_subplan_ceilings(spark, qs):
    """Regression guard for the r8 multiplied-subplan campaign: Spark
    re-executes unshared subplans, so an operator whose intermediate
    gains a consumer silently multiplies its scan count. The shared
    (registered) builds hide lineage behind localCheckpoints, so this
    pin audits the UNSHARED builds and asserts today's scans-per-file
    as ceilings — a future extra consumer trips it and gets reviewed
    instead of shipped. (The ceilings are documented fact, not
    aspiration — and they compound: the triangle's edge table feeds 5
    legs inside oriented_arcs (the orientation join + TWO degree-table
    references per side), times 2 adjacency consumers = 10 edge-build
    executions = 20 lineitem scans unshared. The 'six subtree copies'
    first reported came from a truncated plan printout; this pin
    records the exact count.)"""
    from pyspark.sql import functions as F

    from prohap_spark.operators.dedup import minhash_dedup_pairs, winnowing_pairs
    from prohap_spark.operators.graph import triangle_count
    from prohap_spark.plans import scans_per_file
    from prohap_spark.queries.registry import table

    li = table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    a = li.toDF("ok", "u")
    b = li.toDF("ok", "v")
    edges = a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    tri = triangle_count(edges, "u", "v", assume_canonical=True, share_scan=False)
    assert scans_per_file(tri).get("lineitem.parquet", 0) <= 20

    d = table(spark, SF, "documents")
    mh = minhash_dedup_pairs(
        d, "doc_id", "text", threshold=0.6, num_hashes=16, band_size=4,
        ngram=2, share_scan=False,
    )
    assert scans_per_file(mh).get("documents.parquet", 0) <= 3

    wn = winnowing_pairs(d, "doc_id", "text", max_fp_docs=50, share_scan=False)
    assert scans_per_file(wn).get("documents.parquet", 0) <= 4

    # and the SHARED registered paths must stay share-scanned: their
    # visible plans end at checkpoint boundaries, so the same file
    # never shows more than twice
    for name, fname in (
        ("graph_triangle_count", "lineitem.parquet"),
        ("dedup_minhash_lsh_board", "documents.parquet"),
    ):
        spf = scans_per_file(qs[name](spark, SF))
        assert spf.get(fname, 0) <= 2, (name, spf)


def test_engine_child_session_pins_aqe_skew_confs(spark):
    """The r8 skew probe's sharpest trap: runtime confs set on the
    CALLER's session never reach frames planned on the engine child
    session — every leg of the probe's first run silently planned as
    if skew handling were irrelevant. The engine therefore pins the
    AQE skew-split confs on the child itself (queries/registry.py);
    this test simulates a hostile caller (skew handling disabled on
    the parent at runtime) and asserts (a) the child still carries the
    pinned confs and (b) a frame built through table() actually
    executes under that child session, not the caller's."""
    from prohap_spark.queries.registry import engine_session, table

    parent_prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        child = engine_session(spark)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
        ):
            assert child.conf.get(k) == "true", k
        # and the anti-serialization coalesce floor, the same value
        # session.py sets, reaches the session registered queries
        # actually execute on
        assert child.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        ) == "64kb"
        df = table(spark, SF, "lineitem")
        sess = df.sparkSession
        assert sess.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        # and the caller's (sabotaged) conf is untouched — isolation
        # works BOTH ways: engine settings never leak into user code
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", parent_prev)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_prohap_kernel_stage_not_serialized_by_aqe_coalesce(spark):
    """AQE's byte-based partition coalescing can fold the ProHap
    kernel's input (thousands of rows, but tiny compressed shuffle
    bytes: ACGT text compresses well) into ONE partition, serializing
    the most expensive Python stage behind a single task. The coalesce
    floor (minPartitionSize in session.py) prevents that; this pins the
    runtime behavior: the kernel's input must still be spread over
    multiple partitions after AQE re-plans, with no single partition
    holding everything."""
    import prohap_spark.kernels.spark_kernels as sk
    import prohap_spark.pipeline.prohap as pm
    from prohap_spark.pipeline.synthetic import run_prohap_e2e

    captured = {}
    orig = sk.annotate_items

    def capture(df, **kw):
        captured["df"] = df
        return orig(df, **kw)

    pm.annotate_items = capture
    try:
        run_prohap_e2e(spark, scale=1).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        pm.annotate_items = orig
    sizes = [n for n in captured["df"].rdd.glom().map(len).collect() if n]
    total = sum(sizes)
    assert total > 1000, sizes  # the fixture is non-trivial
    # the test session runs shuffle_partitions=4, so full width is 4;
    # the pre-fix failure mode was exactly ONE partition with all rows
    assert len(sizes) >= 2, sizes
    assert max(sizes) < 0.8 * total, sizes


def test_provar_kernel_stage_spread_over_cores(spark):
    """The ProVar kernel's input is small in bytes (one row per variant
    and transcript) and, with broadcast dimension joins, keeps the
    split count of the variants: a sites VCF of a few MB is read as ONE
    split, and then the most expensive Python stage runs as one task.
    run_provar hash-partitions the kernel's input by transcript_id over
    every core; this pins the runtime behavior on the synthetic cohort
    with its variants in one split: the kernel's input is spread over
    several partitions, none holding most of the rows."""
    import prohap_spark.kernels.spark_kernels as sk
    import prohap_spark.pipeline.provar as pv
    from prohap_spark.pipeline.synthetic import materialized_cohort

    variants, transcripts, cdna, _names, _meta = materialized_cohort(spark, 1)
    one_split = variants.drop("genotypes").coalesce(1)
    captured = {}
    orig = sk.annotate_items

    def capture(df, **kw):
        captured["df"] = df
        return orig(df, **kw)

    pv.annotate_items = capture
    try:
        pv.run_provar(one_split, transcripts, cdna, min_af=0.01).write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        pv.annotate_items = orig
    sizes = [n for n in captured["df"].rdd.glom().map(len).collect() if n]
    total = sum(sizes)
    assert total > 500, sizes  # the fixture is non-trivial
    assert len(sizes) >= 2, sizes
    assert max(sizes) < 0.8 * total, sizes


def test_sketch_queries_plan_shapes(spark, qs):
    """The r9 sketch queries' 100 TB shapes: the Bloom probe joins are
    broadcast (the corpus never shuffles for membership), no nested
    loops anywhere, and both queries' shared derivations keep the
    documents scan at the checkpoint-shared ceiling (<= 2 visible
    scans — the corpus leg and the bench leg for bloom; <= 1 for CMS
    whose token stream is one shared checkpoint)."""
    from prohap_spark.plans import plan_report, scans_per_file

    bl = qs["text_bloom_decontam"](spark, SF)
    rep = plan_report(bl)
    assert rep["bnl_joins"] == 0
    assert rep["broadcast_joins"] >= 2  # bloom words + exact hash set
    assert scans_per_file(bl).get("documents.parquet", 0) <= 2

    cms = qs["text_heavy_hitters_cms"](spark, SF)
    rep2 = plan_report(cms)
    assert rep2["bnl_joins"] == 0
    assert scans_per_file(cms).get("documents.parquet", 0) <= 1


def test_q18_q21_single_fact_scan(spark, qs):
    """The r10 one-pass rewrites must STAY one-pass: Q18 (the HAVING
    aggregate double-dutying as the output column) and Q21 (stacked
    aggregations replacing the semi/anti self-joins) each read
    lineitem exactly once, and Q21 keeps its single explicit
    fact-table exchange plus the final small aggregate — the
    difference between one pass over a 100 TB fact table and two or
    three."""
    from prohap_spark.plans import scans_per_file

    q18 = qs["q18_large_volume_customer"](spark, SF)
    assert scans_per_file(q18).get("lineitem.parquet", 0) == 1

    q21 = qs["q21_suppliers_kept_waiting"](spark, SF)
    assert scans_per_file(q21).get("lineitem.parquet", 0) == 1


def test_er_fuzzy_banded_levenshtein_and_length_guard(spark, qs):
    """The ER join's candidate cuts must survive refactors: the plan
    carries the THRESHOLD (3-arg) levenshtein — the banded O(len·k)
    DP — and the length pre-filter, not an unbounded distance
    computed for every blocked pair."""
    df = qs["er_fuzzy_blocked_join"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the threshold form prints the bound as Some(3)
    assert "levenshtein" in plan and "Some(3)" in plan, plan[:2000]
    assert "abs((length(" in plan, plan[:2000]


def test_prohap_haplotype_chain_one_carrier_exchange(spark):
    """The haplotype extraction chain establishes ONE carrier
    partitioning (hash(transcript_id)) that serves the conflict
    windows, the per-copy signature aggregate AND the
    signature→haplotype aggregate — no second full shuffle of the
    signature table — and the samples_meta auxiliary aggregates run
    in one task (coalesce(1)) instead of three metadata-sized
    exchanges. Pinned: exactly 3 shuffle Exchanges end-to-end (the
    loci dedup, the carrier repartition, the post-kernel A5 merge)."""
    import re

    from prohap_spark.pipeline.synthetic import run_prohap_e2e
    from prohap_spark.plans import formatted_plan

    plan = formatted_plan(run_prohap_e2e(spark, scale=1))
    shuffles = re.findall(r"^.*[+:]- Exchange \(.*$", plan, re.M)
    assert len(shuffles) == 3, (
        f"expected 3 shuffle exchanges, got {len(shuffles)}:\n" + "\n".join(shuffles)
    )
    assert "hashpartitioning(transcript_id" in plan


def test_curation_funnel_no_corpus_rescan_and_hash_verdict_join(spark):
    """r15: the curation funnel reads the corpus ONCE (the flags
    checkpoint feeds every consumer — `source` rides through
    segment_dedup as a passthrough column instead of re-joining a
    projection of the full documents table), and the final verdict
    join is a shuffled-hash join (no sort of the full corpus's
    verdict projection)."""
    from prohap_spark.plans import formatted_plan, scans_per_file
    from prohap_spark.queries import queries

    df = queries()["corpus_curation_e2e"](spark, SF)
    # everything downstream of the checkpoint: zero re-scans of the
    # parquet corpus (before r15 the source re-attach scanned it again)
    assert scans_per_file(df).get("documents.parquet", 0) == 0
    plan = formatted_plan(df)
    assert "ShuffledHashJoin LeftOuter" in plan
    assert "SortMergeJoin" not in plan
