"""Relational operator surface (SURVEY §2.1-2.4, §2.7-2.8): scans with
pushdown, filters/predicates, equi/semi/anti joins, aggregations,
set ops, rollup/pivot, scalar string/array/map functions.

Every query is a pure DataFrame program (no UDFs, no collects) —
Catalyst handles pushdown/pruning/join selection; at 100 TB the only
knob per query is noted in its docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from prohap_spark.queries.registry import register, table


# r12 sweep of the rounded-reassociated-float class (the r11 verdict's
# What's-wrong #2): the prices are 2-decimal values stored as doubles,
# so sum/avg over them reassociate differently per engine/shuffle
# order, and round(.,k) tolerates nothing at a hash gate. The gate now
# recovers exact integer cents per row — floor(x*100 + 0.5) is the
# SAME correctly-rounded IEEE chain (mul, add, floor) on identical
# doubles in both engines — and every aggregate is an exact BIGINT sum
# (order-independent). The hashed money/avg columns are single
# divisions of those identical integers, bit-deterministic, unrounded.
# sum(l_quantity) stays raw: l_quantity is integer-valued, so its
# double partial sums are exact at any order. Overflow headroom: the
# 1e-6-dollar sum_charge numerator is ~1.1e11/row -> BIGINT holds to
# ~80M rows/group (sf~100); past that, widen to DECIMAL(38,0).
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                   AS sum_qty,
           sum(ep_c) / 100.0                                 AS sum_base_price,
           sum(ep_c * (100 - d_c)) / 10000.0                 AS sum_disc_price,
           sum(ep_c * (100 - d_c) * (100 + t_c)) / 1000000.0 AS sum_charge,
           sum(l_quantity) / count(*)                        AS avg_qty,
           sum(ep_c) / (100.0 * count(*))                    AS avg_price,
           sum(d_c) / (100.0 * count(*))                     AS avg_disc,
           count(*)                                          AS count_order
    FROM (
      SELECT *,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ep_c,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT)      AS d_c,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT)           AS t_c
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    )
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship TPC-H-Q1-style summary: scan-side filter pushdown +
    partial/final hash aggregation on two low-cardinality keys.
    At scale: nothing to tune — map-side combine keeps the shuffle
    tiny. Money columns aggregate as exact integer cents (see the
    class-sweep comment above the oracle)."""
    li = table(spark, sf_dir, "lineitem")

    def cents(c: str) -> Column:
        return F.floor(F.col(c) * F.lit(100.0) + F.lit(0.5))

    src = (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .withColumn("ep_c", cents("l_extendedprice"))
        .withColumn("d_c", cents("l_discount"))
        .withColumn("t_c", cents("l_tax"))
    )
    cnt = F.count(F.lit(1))
    return src.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum("ep_c") / F.lit(100.0)).alias("sum_base_price"),
        (F.sum(F.col("ep_c") * (F.lit(100) - F.col("d_c"))) / F.lit(10000.0)).alias(
            "sum_disc_price"
        ),
        (
            F.sum(
                F.col("ep_c") * (F.lit(100) - F.col("d_c")) * (F.lit(100) + F.col("t_c"))
            )
            / F.lit(1000000.0)
        ).alias("sum_charge"),
        (F.sum("l_quantity") / cnt).alias("avg_qty"),
        (F.sum("ep_c") / (F.lit(100.0) * cnt)).alias("avg_price"),
        (F.sum("d_c") / (F.lit(100.0) * cnt)).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "s1_scan_pushdown_projection",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-06-01' AND l_discount > 0.08
    """,
)
def s1_scan_pushdown_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/F3/F11: projection + predicate reaching the parquet scan
    (PushedFilters + 4-column ReadSchema on a 11-column table)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
            & (F.col("l_discount") > 0.08)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


@register(
    "f1_regex_threshold",
    """
    SELECT event_id, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k
    FROM events
    WHERE CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) >= 50
    """,
)
def f1_regex_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/C3: key-value extraction out of a packed string (the AF=
    INFO-field parse, vcf_reader.py:7-29) + threshold predicate."""
    ev = table(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("int")
    return ev.select("event_id", k.alias("k")).where(F.col("k") >= 50)


@register(
    "f4_isin_filter",
    """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type IN ('ECONOMY', 'SMALL') AND p_size BETWEEN 10 AND 40
    """,
)
def f4_isin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 biotype-style membership filter + range predicate."""
    p = table(spark, sf_dir, "part")
    return p.where(
        F.col("p_type").isin("ECONOMY", "SMALL") & F.col("p_size").between(10, 40)
    ).select("p_partkey", "p_name", "p_type")


@register(
    "f5_group_conditional_filter",
    """
    WITH s AS (
      SELECT *,
             max(CASE WHEN s_acctbal > 8000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY s_nationkey) AS has_rich
      FROM supplier
    )
    SELECT s_suppkey, s_nationkey, round(s_acctbal, 2) AS acctbal
    FROM s
    WHERE (has_rich = 1 AND s_acctbal > 8000) OR (has_rich = 0 AND s_acctbal > 0)
    """,
)
def f5_group_conditional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 MANE-Select semantics: per gene(=nation), if any member has
    the preferred tag keep only those, else fall back to the secondary
    criterion (get_reference_ENST.py:46-64) — window max + filter."""
    from pyspark.sql import Window

    s = table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey")
    has_rich = F.max(F.when(F.col("s_acctbal") > 8000, 1).otherwise(0)).over(w)
    return (
        s.withColumn("has_rich", has_rich)
        .where(
            ((F.col("has_rich") == 1) & (F.col("s_acctbal") > 8000))
            | ((F.col("has_rich") == 0) & (F.col("s_acctbal") > 0))
        )
        .select("s_suppkey", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal"))
    )


@register(
    "f9_array_mask_filter",
    """
    SELECT doc_id, kept_n
    FROM (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> length(w) > 5)) AS kept_n
      FROM documents
    )
    WHERE kept_n > 0
    """,
)
def f9_array_mask_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 UTR-mask semantics: filter array elements by predicate, drop
    rows with nothing left (remove_UTR_seq.py:19-32) — higher-order
    filter(), no explode, no shuffle."""
    d = table(spark, sf_dir, "documents")
    kept = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 5)
    return (
        d.select("doc_id", F.size(kept).alias("kept_n"))
        .where(F.col("kept_n") > 0)
    )


@register(
    "j2_normalized_key_join",
    """
    SELECT c.c_custkey, count(*) AS n_orders,
           sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_spend
    FROM customer c
    JOIN orders o ON CAST(string_split(c.c_name, '#')[2] AS BIGINT) = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def j2_normalized_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 version-truncated-key join: equi-join on a key derived by
    string surgery (the reference joins cDNA FASTA accessions after
    stripping '.version', common.py:59-60)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    key = F.split(F.col("c_name"), "#")[1].cast("bigint")
    return (
        c.withColumn("__k", key)
        .join(o, F.col("__k") == o["o_custkey"])
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))) / F.lit(100.0)).alias("total_spend"),
        )
    )


@register(
    "j3_star_dim_join",
    """
    SELECT r.r_name, n.n_name, count(*) AS n_customers,
           sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) / (100.0 * count(*)) AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def j3_star_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J8 broadcast dimension joins (sample-metadata / gene-attrs
    lookups) — both dims broadcast; no shuffle on the fact side until
    the final small aggregation."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.sum(F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)))
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("avg_bal"),
        )
    )


@register(
    "j4_semi_join",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
    """,
)
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 inclusion-list semi-join (transcript-list restriction)."""
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45)
    return p.join(li, p["p_partkey"] == li["l_partkey"], "left_semi").select(
        "p_partkey", "p_name"
    )


@register(
    "j11_anti_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def j11_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (SO3 set-difference surface): customers with no orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "a2_signature_grouping",
    """
    WITH sig AS (
      SELECT o_custkey,
             array_to_string(list_sort(list_distinct(list(o_orderpriority))), ';') AS signature
      FROM orders GROUP BY o_custkey
    )
    SELECT signature, count(*) AS n_members
    FROM sig GROUP BY signature
    """,
)
def a2_signature_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 haplotype-grouping shape: build a per-entity sorted signature
    set, then group entities by identical signature
    (get_haplotypes.py:106-142). Two chained hash aggregations."""
    o = table(spark, sf_dir, "orders")
    sig = o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ";").alias("signature")
    )
    return sig.groupBy("signature").agg(F.count(F.lit(1)).alias("n_members"))


@register(
    "a3_conditional_denominator",
    """
    SELECT n_nationkey,
           count(*) AS n_total,
           CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(CASE WHEN n_nationkey % 5 = 0
                THEN sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) + 2 * (count(*) - sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END))
                ELSE 2 * count(*) END AS BIGINT) AS denom
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def a3_conditional_denominator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 X-chromosome-aware denominator: denominator = males + 2*(n -
    males) on 'X' groups else 2n (get_haplotypes.py:221-235), with
    nationkey%5==0 standing in for the X chromosome."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    neg = F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
    cnt = F.count(F.lit(1))
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_nationkey")
        .agg(
            cnt.alias("n_total"),
            neg.cast("bigint").alias("n_neg"),
            F.when(F.col("n_nationkey") % 5 == 0, neg + 2 * (cnt - neg))
            .otherwise(2 * cnt)
            .cast("bigint")
            .alias("denom"),
        )
    )


@register(
    "a4_group_frequency_maps",
    """
    WITH tot AS (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY c_nationkey)
    SELECT c.c_nationkey, c.c_mktsegment,
           round(count(*) * 1.0 / any_value(t.n), 6) AS freq
    FROM customer c JOIN tot t ON c.c_nationkey = t.c_nationkey
    GROUP BY c.c_nationkey, c.c_mktsegment
    """,
)
def a4_group_frequency_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 per-population frequency maps, exploded to rows for oracle
    comparison: the Spark side builds the map with map_from_entries and
    re-explodes it (round-trips the MapType modeling)."""
    c = table(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    m = (
        counts.join(tot, "c_nationkey")
        .withColumn("freq", F.round(F.col("cnt") / F.col("n"), 6))
        .groupBy("c_nationkey")
        .agg(F.map_from_entries(F.collect_list(F.struct("c_mktsegment", "freq"))).alias("fmap"))
    )
    return m.select("c_nationkey", F.explode("fmap").alias("c_mktsegment", "freq"))


@register(
    "a7_priority_dedup",
    """
    SELECT l_partkey,
           CASE WHEN bool_or(l_returnflag = 'R') THEN 'R'
                WHEN bool_or(l_returnflag = 'A') THEN 'A'
                ELSE 'N' END AS flag_resolved,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_partkey
    """,
)
def a7_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 tag-priority resolution on merge (merge_duplicate_seq.py:64-80):
    collect the tag set per group, resolve by a fixed priority chain."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.when(F.array_contains(F.collect_set("l_returnflag"), "R"), F.lit("R"))
        .when(F.array_contains(F.collect_set("l_returnflag"), "A"), F.lit("A"))
        .otherwise(F.lit("N"))
        .alias("flag_resolved"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "a11_synthesize_missing_groups",
    """
    SELECT n.n_nationkey, coalesce(s.n_suppliers, 0) AS n_suppliers,
           CASE WHEN s.n_suppliers IS NULL THEN 'REF' ELSE 'OBS' END AS origin
    FROM nation n
    LEFT JOIN (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
      ON n.n_nationkey = s.s_nationkey
    """,
)
def a11_synthesize_missing_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 reference-row synthesis: groups absent from the fact side
    still emit a synthetic row (get_haplotypes.py:97-99)."""
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        n.join(s, n["n_nationkey"] == s["s_nationkey"], "left")
        .select(
            "n_nationkey",
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.when(s["s_nationkey"].isNull(), "REF").otherwise("OBS").alias("origin"),
        )
    )


@register(
    "so_set_ops",
    """
    SELECT c_custkey, 'building_with_orders' AS tag FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT c_custkey, 'building_no_orders' AS tag FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey FROM orders
    )
    """,
)
def so_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1-SO3: union-all / intersect / except in one program."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    both = c.intersect(o).withColumn("tag", F.lit("building_with_orders"))
    only = c.exceptAll(o.distinct()).distinct().withColumn("tag", F.lit("building_no_orders"))
    return both.unionByName(only)


# agg_rollup + agg_pivot are registered as one query,
# agg_shape_board. Singleton callables stay the library surface; the
# pivot leg hashes in UNPIVOTED long form so both legs share one column
# shape.
_AGG_ROLLUP_SQL = """
    SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
           coalesce(l_linestatus, '<all>') AS l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 capability surplus: ROLLUP grouping sets."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "sum_qty",
            "n",
        )
    )


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum(F.coalesce(F.col("l_quantity"), F.lit(0.0))), 2))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
            F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
        )
    )


@register(
    "agg_shape_board",
    f"""
    SELECT 'rollup' AS leg, l_returnflag AS rf, l_linestatus AS ls,
           sum_qty AS qty, n
    FROM ({_AGG_ROLLUP_SQL})
    UNION ALL
    SELECT 'pivot' AS leg, l_returnflag AS rf, 'O' AS ls, qty_O AS qty,
           CAST(NULL AS BIGINT) AS n
    FROM (SELECT l_returnflag,
                 round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity
                           ELSE 0 END), 2) AS qty_O
          FROM lineitem GROUP BY l_returnflag)
    UNION ALL
    SELECT 'pivot' AS leg, l_returnflag AS rf, 'F' AS ls, qty_F AS qty,
           CAST(NULL AS BIGINT) AS n
    FROM (SELECT l_returnflag,
                 round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity
                           ELSE 0 END), 2) AS qty_F
          FROM lineitem GROUP BY l_returnflag)
    """,
)
def agg_shape_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets + pivot (wide conditional aggregation) on
    one correctness board (the r12 merge of agg_rollup + agg_pivot).
    The pivot leg exercises the real .pivot() wide plan, then unpivots
    via stack() so both legs hash under one column shape. l_quantity
    is integer-valued, so the rounded double sums are exact at any
    partial-aggregation order (the grep-audit note in
    queries/__init__.py). Harness note: one lineitem scan per leg — a
    gate-SF correctness union of the two standalone operators."""
    rollup = agg_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("leg"),
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.col("sum_qty").alias("qty"),
        "n",
    )
    pivot = agg_pivot(spark, sf_dir).select(
        "l_returnflag",
        F.expr("stack(2, 'O', qty_O, 'F', qty_F) AS (ls, qty)"),
    ).select(
        F.lit("pivot").alias("leg"),
        F.col("l_returnflag").alias("rf"),
        "ls",
        "qty",
        F.lit(None).cast("long").alias("n"),
    )
    return rollup.unionByName(pivot)


@register(
    "agg_quantiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (§2.6 surplus; the approx
    variant approx_percentile is the 100 TB path)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


_QH_LO, _QH_HI, _QH_N, _QH_QS = 0.0, 600000.0, 512, (0.5, 0.9)


@register(
    "agg_quantile_sketch",
    # twopass_v replays as exact_v: the two-pass operator is provably
    # equal to the windowed exact quantile (same rank statistic), so
    # the oracle aliases it — any drift in the operator goes hash-red
    "SELECT *, exact_v AS twopass_v FROM ("
    + __import__(
        "prohap_spark.functions.sketches", fromlist=["qhist_oracle_sql"]
    ).qhist_oracle_sql(
        "orders", "o_orderpriority", "o_totalprice",
        _QH_LO, _QH_HI, _QH_N, list(_QH_QS),
    )
    + ")",
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-histogram sketch (functions/sketches.py
    qhist_build / qhist_merge / qhist_quantiles — r11, completing the
    HLL/CMS/Bloom merge-algebra family with the DISTRIBUTION sketch):
    512 linear buckets over [0, 600000) of o_totalprice per
    o_orderpriority, p50/p90 answered as bucket indices, PLUS the
    exact discrete quantile computed from raw values and its bucket —
    the provable guarantee (sketch bucket == bucket of the exact
    q-quantile, an integer equality) sits inside the value hash
    rather than in a doc claim. exact_v is a selected raw input value
    (never an aggregate-computed float), so it hashes safely.

    100 TB design: the sketch is ONE map-side-combinable aggregate
    with <= 512 counter rows per group (approx_percentile's internal
    state is engine-private; this artifact persists and merges across
    shards/days like hll_registers); the exact leg here is the
    verification harness, not the scale path."""
    from prohap_spark.functions.sketches import (
        exact_quantile_twopass,
        qhist_bucket,
        qhist_build,
        qhist_quantiles,
    )
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    # vals feeds the sketch build, the window-exact leg, AND the two
    # twopass legs (each scanning it twice internally) — one lazy
    # checkpoint, one orders scan (the multiplied-subplan rule; the
    # r11-tail twopass extension pushed the unshared plan to 15 scans)
    vals = o.select(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("v")
    ).localCheckpoint(eager=False)
    hist = qhist_build(vals, ["g"], "v", _QH_LO, _QH_HI, _QH_N)
    sk = qhist_quantiles(hist, ["g"], list(_QH_QS))
    targets = sk.select(
        "g", "q", "n_rows",
        F.ceil(F.col("q") * F.col("n_rows")).cast("long").alias("__target"),
        "bucket",
    )
    vc_w = Window.partitionBy("g").orderBy("v").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vcum = vals.withColumn("__vc", F.count(F.lit(1)).over(vc_w))
    exact = (
        vcum.join(targets, "g")
        .where(F.col("__vc") >= F.col("__target"))
        .groupBy("g", "q", "n_rows", "bucket")
        .agg(F.min("v").alias("exact_v"))
    )
    # the r11 two-pass exact-quantile operator (histogram locate +
    # pruned in-bucket rank — no global sort) re-derives the same
    # value THROUGH ITS OWN PATH; the oracle aliases exact_v, so any
    # operator drift goes hash-red (its library pytest pins equality
    # vs a single-pass sort; this puts the operator on the driver gate
    # zero-slot)
    tp = None
    for q in _QH_QS:
        leg = exact_quantile_twopass(
            vals, ["g"], "v", q, _QH_LO, _QH_HI, _QH_N
        ).select("g", "q", F.col("exact_v").alias("twopass_v"))
        tp = leg if tp is None else tp.unionByName(leg)
    return exact.join(tp, ["g", "q"]).select(
        F.col("g").alias("o_orderpriority"),
        "q",
        "bucket",
        "n_rows",
        "exact_v",
        qhist_bucket(F.col("exact_v"), _QH_LO, _QH_HI, _QH_N).alias("exact_bucket"),
        "twopass_v",
    )


def _sketch_algebra_duckdb_sql() -> str:
    from prohap_spark.functions.sketches import _md5_window_sql, hll_oracle_sql

    hk = _md5_window_sql("v", 1, 15)
    kmv_leg = f"""
      SELECT g,
             CASE WHEN n < 64 THEN CAST(n AS BIGINT)
                  ELSE CAST(round(63.0 * 1152921504606846976.0
                       / CAST(hk AS DOUBLE)) AS BIGINT) END AS est,
             CAST(CASE WHEN n < 64 THEN 1 ELSE 0 END AS BIGINT) AS aux
      FROM (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               max(CASE WHEN rnk = 64 THEN {hk} END) AS hk
        FROM (
          SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY md5(v)) AS rnk
          FROM (SELECT DISTINCT o_orderpriority AS g,
                       CAST(o_custkey AS VARCHAR) AS v FROM orders)
        ) WHERE rnk <= 64
        GROUP BY g
      )"""
    hku = _md5_window_sql("ku.v", 1, 15)
    return f"""
    WITH seta AS (SELECT 'x' AS g, o_custkey AS v FROM orders
                  WHERE o_orderpriority = '1-URGENT'),
    setb AS (SELECT 'x' AS g, o_custkey AS v FROM orders
             WHERE o_orderpriority = '2-HIGH'),
    setu AS (SELECT * FROM seta UNION ALL SELECT * FROM setb),
    ea AS (SELECT hll_est AS e FROM ({hll_oracle_sql("seta", "g", "v")})),
    eb AS (SELECT hll_est AS e FROM ({hll_oracle_sql("setb", "g", "v")})),
    eu AS (SELECT hll_est AS e FROM ({hll_oracle_sql("setu", "g", "v")})),
    -- kmv_intersect leg (r12): the theta-sketch overlap read.
    -- Bottom-64 of A and B, union sketch = bottom-64 of the merged
    -- hash sets (exactly the union's own sketch), matches counted
    -- against membership in BOTH input sketches (not the raw sets —
    -- the estimator reads sketch state only).
    kseta AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders
              WHERE o_orderpriority = '1-URGENT'),
    ksetb AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders
              WHERE o_orderpriority = '2-HIGH'),
    ka AS (SELECT v, h FROM (
             SELECT v, md5(v) AS h,
                    row_number() OVER (ORDER BY md5(v)) AS rnk
             FROM kseta) WHERE rnk <= 64),
    kb AS (SELECT v, h FROM (
             SELECT v, md5(v) AS h,
                    row_number() OVER (ORDER BY md5(v)) AS rnk
             FROM ksetb) WHERE rnk <= 64),
    ku AS (SELECT v, h, rnk FROM (
             SELECT v, h, row_number() OVER (ORDER BY h) AS rnk
             FROM (SELECT DISTINCT v, md5(v) AS h FROM
                   (SELECT v FROM kseta UNION ALL SELECT v FROM ksetb)))
           WHERE rnk <= 64),
    kint AS (
      SELECT CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS matches,
             CAST(count(*) AS BIGINT) AS nu,
             max(CASE WHEN ku.rnk = 64 THEN {hku} END) AS hk
      FROM ku LEFT JOIN ka a ON ku.h = a.h LEFT JOIN kb b ON ku.h = b.h
    ),
    kres AS (
      SELECT matches, nu,
             CASE WHEN nu < 64 THEN nu
                  ELSE CAST(round(63.0 * 1152921504606846976.0
                       / CAST(hk AS DOUBLE)) AS BIGINT) END AS uest
      FROM kint
    )
    SELECT 'kmv_direct' AS leg, g AS key, est, aux,
           CAST(NULL AS VARCHAR) AS val
    FROM ({kmv_leg})
    UNION ALL
    SELECT 'kmv_merged' AS leg, g AS key, est, aux,
           CAST(NULL AS VARCHAR) AS val
    FROM ({kmv_leg})
    UNION ALL
    SELECT 'kmv_sample' AS leg, g AS key, CAST(rnk AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS aux, v AS val
    FROM (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY md5(v)) AS rnk
      FROM (SELECT DISTINCT o_orderpriority AS g,
                   CAST(o_custkey AS VARCHAR) AS v FROM orders)
    ) WHERE rnk <= 8
    UNION ALL
    SELECT 'hll' AS leg, 'est_a', ea.e, NULL, NULL FROM ea
    UNION ALL
    SELECT 'hll' AS leg, 'est_b', eb.e, NULL, NULL FROM eb
    UNION ALL
    SELECT 'hll' AS leg, 'est_union', eu.e, NULL, NULL FROM eu
    UNION ALL
    SELECT 'hll' AS leg, 'est_intersect',
           greatest(ea.e + eb.e - eu.e, 0), NULL, NULL
    FROM ea, eb, eu
    UNION ALL
    SELECT 'kmv_intersect' AS leg, 'jaccard_num', matches, NULL, NULL FROM kres
    UNION ALL
    SELECT 'kmv_intersect' AS leg, 'union_est', uest, NULL, NULL FROM kres
    UNION ALL
    SELECT 'kmv_intersect' AS leg, 'intersect_est',
           CASE WHEN nu < 64 THEN matches
                ELSE CAST(round(CAST(matches AS DOUBLE)
                     * CAST(uest AS DOUBLE) / 64.0) AS BIGINT) END,
           NULL, NULL
    FROM kres
    """


@register("sketch_algebra_board", _sketch_algebra_duckdb_sql())
def sketch_algebra_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r11 sketch-ALGEBRA surfaces on one correctness board
    (functions/sketches.py, previously pytest-only):

    - kmv_direct: the KMV bottom-64 sketch of distinct custkeys per
      order priority, finished by the (k-1)/h_(k) estimator — one
      mergeable artifact doubling as a deterministic uniform sample.
    - kmv_merged: the SAME numbers computed the OTHER way — per-shard
      sketches (orders split by orderkey parity) merged via kmv_merge.
      The oracle emits one replay for both legs, so merge==build
      exactness is inside the value hash, not just a doc claim.
    - kmv_sample: the bottom-8 sampled values per group verbatim (the
      mergeable-reservoir capability).
    - hll: set algebra ON sketch artifacts — est(A), est(B),
      est(A∪B) via lossless register max-merge, and the
      inclusion-exclusion overlap estimate of urgent-vs-high customer
      sets, every integer replayed by the oracle (union replay = the
      concatenated input, BECAUSE merge is lossless).

    100 TB relevance: these are the read/compose operations on
    persisted sketch state — overlap of two corpus snapshots, distinct
    counts across shards/days — without touching either corpus's
    rows."""
    from prohap_spark.functions.sketches import (
        hll_intersect_estimate,
        hll_registers,
        kmv_bottom_k,
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_merge,
    )

    # ONE scan of orders feeds all seven consumers (kmv direct, two
    # shard sketches, the sample, and the two HLL register builds) —
    # the multiplied-subplan rule
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderkey"
    ).localCheckpoint(eager=False)
    vals = o.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_custkey").alias("v"),
        "o_orderkey",
    )

    def kmv_rows(tag: str, est_df: DataFrame) -> DataFrame:
        return est_df.select(
            F.lit(tag).alias("leg"),
            F.col("g").alias("key"),
            F.col("kmv_est").alias("est"),
            F.col("kmv_exact").cast("long").alias("aux"),
            F.lit(None).cast("string").alias("val"),
        )

    # the bottom-k table feeds the estimator AND the sample leg
    sk = kmv_bottom_k(vals, ["g"], "v", k=64).localCheckpoint(eager=False)
    direct = kmv_rows("kmv_direct", kmv_estimate(sk, ["g"], k=64))
    shards = [
        kmv_bottom_k(vals.where(F.col("o_orderkey") % 2 == p), ["g"], "v", k=64)
        for p in (0, 1)
    ]
    merged = kmv_rows(
        "kmv_merged", kmv_estimate(kmv_merge(*shards, k=64), ["g"], k=64)
    )
    sample = sk.where(F.col("__kmv_rank") <= 8).select(
        F.lit("kmv_sample").alias("leg"),
        F.col("g").alias("key"),
        F.col("__kmv_rank").cast("long").alias("est"),
        F.lit(None).cast("long").alias("aux"),
        F.col("__kmv_value").alias("val"),
    )

    def prio_set(p: str) -> DataFrame:
        return o.where(F.col("o_orderpriority") == p).select(
            F.lit("x").alias("g"), F.col("o_custkey").alias("v")
        )

    regs_a = hll_registers(prio_set("1-URGENT"), ["g"], "v")
    regs_b = hll_registers(prio_set("2-HIGH"), ["g"], "v")
    hx = hll_intersect_estimate(regs_a, regs_b, ["g"])
    hll_leg = hx.select(
        F.expr(
            "stack(4, 'est_a', est_a, 'est_b', est_b, 'est_union', est_union, "
            "'est_intersect', est_intersect) AS (key, est)"
        )
    ).select(
        F.lit("hll").alias("leg"), "key", "est",
        F.lit(None).cast("long").alias("aux"),
        F.lit(None).cast("string").alias("val"),
    )
    # kmv_intersect leg (r12): the sharper theta-sketch overlap read
    # beside the HLL inclusion–exclusion one — Jaccard estimated
    # DIRECTLY from the union sketch's uniform sample (error scales
    # with the overlap fraction, not with |A∪B|). Reads SKETCH state
    # only: the same bottom-64 artifacts a 100 TB deployment persists.
    ka = kmv_bottom_k(prio_set("1-URGENT"), ["g"], "v", k=64)
    kb = kmv_bottom_k(prio_set("2-HIGH"), ["g"], "v", k=64)
    ki = kmv_intersect_estimate(ka, kb, ["g"], k=64)
    kmv_int_leg = ki.select(
        F.expr(
            "stack(3, 'jaccard_num', kmv_jaccard_num, 'union_est', "
            "kmv_union_est, 'intersect_est', kmv_intersect_est) AS (key, est)"
        )
    ).select(
        F.lit("kmv_intersect").alias("leg"), "key", "est",
        F.lit(None).cast("long").alias("aux"),
        F.lit(None).cast("string").alias("val"),
    )
    return (
        direct.unionByName(merged).unionByName(sample)
        .unionByName(hll_leg).unionByName(kmv_int_leg)
    )


@register(
    "c_string_surgery",
    """
    SELECT doc_id,
           upper(substr(text, 1, 10)) AS head_up,
           translate(substr(text, 1, 20), 'aeiou', 'AEIOU') AS devoweled,
           substr(text, 1, 4) || 'XXX' || substr(text, 8) AS overlaid,
           len(string_split(text, ' ')) AS n_words,
           array_to_string(string_split(substr(text, 1, 30), ' ')[1:3], ';') AS first3,
           CASE WHEN starts_with(text, 'key') THEN 1 ELSE 0 END AS starts_key,
           printf('%x', doc_id) AS hex_id
    FROM documents
    """,
)
def c_string_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C6/C9/C13 string kernel surface: split/join, translate,
    overlay (the sequence-mutation primitive C4,
    process_haplotypes.py:284), substring, startswith, hex ids."""
    d = table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.upper(F.substring(t, 1, 10)).alias("head_up"),
        F.translate(F.substring(t, 1, 20), "aeiou", "AEIOU").alias("devoweled"),
        F.overlay(t, F.lit("XXX"), 5, 3).alias("overlaid"),
        F.size(F.split(t, " ")).alias("n_words"),
        F.array_join(F.slice(F.split(F.substring(t, 1, 30), " "), 1, 3), ";").alias("first3"),
        F.when(t.startswith("key"), 1).otherwise(0).alias("starts_key"),
        F.format_string("%x", "doc_id").alias("hex_id"),
    )


@register(
    "c7_reverse_translate",
    """
    SELECT doc_id,
           reverse(translate(substr(text, 1, 30), 'abcdefgh', 'hgfedcba')) AS revcomp_analog
    FROM documents
    """,
)
def c7_reverse_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 reverse-complement primitive (reverse ∘ translate) — the
    native replacement for Biopython .reverse_complement()
    (process_haplotypes.py:202-204), exercised on text data."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.reverse(
            F.translate(F.substring(F.col("text"), 1, 30), "abcdefgh", "hgfedcba")
        ).alias("revcomp_analog"),
    )


@register(
    "c15_map_merge_explode",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) + CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS merged
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def c15_map_merge_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 key-wise map merge (add_population_freqs,
    process_haplotypes.py:50-70): build two maps per nation, merge with
    map_zip_with(+), explode back to rows."""
    c = table(spark, sf_dir, "customer")
    per = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0)).alias("n_rich"),
    )
    maps = per.groupBy("c_nationkey").agg(
        F.map_from_entries(F.collect_list(F.struct("c_mktsegment", "n_all"))).alias("m_all"),
        F.map_from_entries(F.collect_list(F.struct("c_mktsegment", "n_rich"))).alias("m_rich"),
    )
    merged = maps.withColumn(
        "m",
        F.map_zip_with(
            "m_all", "m_rich", lambda _, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        ),
    )
    return merged.select(
        "c_nationkey", F.explode("m").alias("c_mktsegment", "merged")
    ).withColumn("merged", F.col("merged").cast("bigint"))


@register(
    "er_fuzzy_blocked_join",
    # entity-resolution shape: cheap blocking key (brand + head noun)
    # bounds the candidate space, exact Levenshtein verifies within it
    """
    WITH p AS (
      SELECT p_partkey, p_name, p_brand,
             string_split(p_name, ' ')[-1] AS noun
      FROM part
    )
    SELECT a.p_brand AS brand,
           a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.noun = b.noun
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def er_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity-resolution join: candidate pairs come from
    an equi-join on a cheap blocking key (brand + the name's head
    noun) — the standard ER trick that turns an all-pairs string
    comparison into a bounded within-block one — and are verified
    with exact JVM-side Levenshtein (built-in, no UDF). The 100 TB
    shape: one shuffle on the blocking key; block sizes bound the
    quadratic term, and skewed blocks split under AQE. Two candidate-
    side cuts (r10): a length bound (|len(a)−len(b)| ≤ k is NECESSARY
    for dist ≤ k — a plain column comparison that prunes before any
    DP runs) and the THRESHOLD form of the distance itself
    (levenshtein(a, b, k) computes the banded O(len·k) DP and
    early-exits at -1 past the threshold, instead of the full
    O(len²) table the unbounded form fills)."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.element_at(F.split("p_name", " "), -1).alias("noun"),
    )
    a, b = p.alias("a"), p.alias("b")
    # compute the banded distance ONCE per candidate pair — filtering
    # on a separate levenshtein expression would evaluate it twice
    # (Spark does not CSE across Filter and Project)
    return (
        a.join(b, ["p_brand", "noun"])
        .where(
            (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length("a.p_name") - F.length("b.p_name")) <= 3
            )
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 3).alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )


@register(
    "scd2_merge_upsert",
    # base = customers current as of batch 1 (custkey%10==0 also carry
    # one closed history row from batch 0); updates = batch 2 with
    # changed balances (%3==0), no-op copies (%7==0, not %3), and new
    # keys (+10M for %11==0)
    """
    WITH cur AS (
      SELECT c_custkey AS custkey, c_acctbal AS acctbal,
             c_mktsegment AS mktsegment, 1 AS valid_from,
             CAST(NULL AS INT) AS valid_to, TRUE AS is_current
      FROM customer
    ),
    hist AS (
      SELECT c_custkey AS custkey, c_acctbal - 50 AS acctbal,
             c_mktsegment AS mktsegment, 0 AS valid_from,
             1 AS valid_to, FALSE AS is_current
      FROM customer WHERE c_custkey % 10 = 0
    ),
    upd AS (
      SELECT c_custkey AS custkey, c_acctbal + 100 AS acctbal,
             c_mktsegment AS mktsegment
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 3 <> 0
      UNION ALL
      SELECT c_custkey + 10000000, 999.0, 'NEWSEG'
      FROM customer WHERE c_custkey % 11 = 0
    ),
    changed AS (
      SELECT u.* FROM upd u LEFT JOIN cur c ON u.custkey = c.custkey
      WHERE c.custkey IS NULL
         OR u.acctbal IS DISTINCT FROM c.acctbal
         OR u.mktsegment IS DISTINCT FROM c.mktsegment
    ),
    closed AS (
      SELECT custkey, acctbal, mktsegment, valid_from,
             2 AS valid_to, FALSE AS is_current
      FROM cur WHERE custkey IN (SELECT custkey FROM changed)
    ),
    untouched AS (
      SELECT * FROM cur WHERE custkey NOT IN (SELECT custkey FROM changed)
    ),
    ins AS (
      SELECT custkey, acctbal, mktsegment, 2 AS valid_from,
             CAST(NULL AS INT) AS valid_to, TRUE AS is_current
      FROM changed
    )
    SELECT * FROM hist
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM untouched
    UNION ALL SELECT * FROM ins
    """,
)
def scd2_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension merge (operators/merge.py scd2_merge): one
    upsert batch against the customer dimension exercising all four
    outcomes — changed rows close-and-reinsert, identical updates
    no-op, brand-new keys insert, pre-existing history rides through
    untouched. History never joins; only the current slice meets the
    batch (one key equi-join), and the close/keep split is two
    semi/anti joins against the update-sized changed-key set."""
    from prohap_spark.operators.merge import scd2_merge

    c = table(spark, sf_dir, "customer")
    cur = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit(1).cast("int").alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist = c.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("custkey"),
        (F.col("c_acctbal") - 50).alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit(0).cast("int").alias("valid_from"),
        F.lit(1).cast("int").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    base = hist.unionAll(cur).select(
        "custkey", "acctbal", "mktsegment", "valid_from", "valid_to", "is_current"
    )
    upd = (
        c.where(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            (F.col("c_acctbal") + 100).alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .unionAll(
            c.where((F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 3 != 0)).select(
                F.col("c_custkey").alias("custkey"),
                F.col("c_acctbal").alias("acctbal"),
                F.col("c_mktsegment").alias("mktsegment"),
            )
        )
        .unionAll(
            c.where(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 10000000).alias("custkey"),
                F.lit(999.0).alias("acctbal"),
                F.lit("NEWSEG").alias("mktsegment"),
            )
        )
    )
    return scd2_merge(base, upd, "custkey", ["acctbal", "mktsegment"], batch_id=2)


@register(
    "j12_bucketed_colocated_join",
    # layout-independent truth: bucketing only changes WHERE rows live,
    # never which rows join — the oracle is the plain join+agg over the
    # raw tables.
    """
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           count(DISTINCT o.o_orderkey) AS n_orders,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def j12_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (SURVEY §7.1.7 'bucketed writes on
    transcript_id', sources/bucketed.py): both fact tables are written
    ONCE bucketed on the join key, so the join needs NO exchange — the
    scan's bucket layout already satisfies the join's required
    distribution. At 100 TB this is the knob that turns the hottest
    recurring join in a pipeline from a per-query shuffle of the big
    table into a one-time layout cost paid at ingest.

    The query is self-auditing: after building the join it inspects its
    own physical plan and FAILS LOUD if Catalyst planned an Exchange
    under the join (e.g. because bucket metadata was lost or the bucket
    counts diverged) — a silently re-shuffling "bucketed" join would
    report correct values while losing exactly the property this
    registration exists to prove. (The same pin runs in
    tests/test_skew_bucketing.py; here it guards every driver run.)

    The bigint-cents measure is computed BEFORE the bucketed write so
    the written table carries join key + measure only."""
    import hashlib

    from prohap_spark.plans import plan_nodes
    from prohap_spark.sources.bucketed import read_table, write_bucketed

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, f"bj12_lineitem_{suffix}", "l_orderkey", 16)
    write_bucketed(o, f"bj12_orders_{suffix}", "o_orderkey", 16)
    bl = read_table(spark, f"bj12_lineitem_{suffix}")
    bo = read_table(spark, f"bj12_orders_{suffix}")
    joined = bl.join(bo.hint("merge"), bl["l_orderkey"] == bo["o_orderkey"])
    nodes = plan_nodes(joined)
    if "SortMergeJoin" not in nodes or "Exchange" in nodes:
        raise RuntimeError(
            "bucketed join lost its co-location: expected an exchange-free "
            f"SortMergeJoin, got plan nodes {nodes}"
        )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )


def _j13_bloom_duckdb_sql() -> str:
    from prohap_spark.functions.sketches import BLOOM_WORD_BITS as WB
    from prohap_spark.functions.sketches import _md5_window_sql

    k, m = 4, 1 << 14
    dim_pos = ", ".join(
        f"{_md5_window_sql('k', 1 + 5 * j, 5)} % {m}" for j in range(k)
    )
    fk_pos = ", ".join(
        f"{_md5_window_sql('CAST(l_orderkey AS VARCHAR)', 1 + 5 * j, 5)} % {m}"
        for j in range(k)
    )
    mask = f"(CAST(1 AS BIGINT) << CAST(p % {WB} AS INT))"
    return f"""
    WITH dk AS (
      SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS k
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    bloom AS MATERIALIZED (
      SELECT p // {WB} AS wi, bit_or({mask}) AS word
      FROM (SELECT unnest([{dim_pos}]) AS p FROM dk)
      GROUP BY 1
    ),
    fk AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nrows
           FROM lineitem GROUP BY 1),
    probe AS (
      SELECT l_orderkey, nrows, unnest([{fk_pos}]) AS p FROM fk
    ),
    pp AS (
      SELECT l_orderkey, any_value(nrows) AS nrows,
             sum(CASE WHEN b.word IS NOT NULL AND (b.word & {mask}) = {mask}
                 THEN 1 ELSE 0 END) AS ok
      FROM probe LEFT JOIN bloom b ON probe.p // {WB} = b.wi
      GROUP BY l_orderkey
    ),
    in_dim AS (
      SELECT DISTINCT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    stats AS (
      SELECT CAST(sum(nrows) AS BIGINT) AS n_fact,
             CAST(sum(CASE WHEN ok = {k} THEN nrows ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
             CAST(sum(CASE WHEN d.o_orderkey IS NOT NULL THEN nrows ELSE 0 END)
               AS BIGINT) AS n_exact_pass,
             CAST(sum(CASE WHEN ok = {k} AND d.o_orderkey IS NULL THEN nrows
                 ELSE 0 END) AS BIGINT) AS n_false_positive
      FROM pp LEFT JOIN in_dim d ON pp.l_orderkey = d.o_orderkey
    ),
    res AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             round(sum(l_quantity), 2) AS qty
      FROM lineitem l JOIN in_dim d ON l.l_orderkey = d.o_orderkey
      GROUP BY 1
    )
    SELECT 'result' AS leg, l_returnflag AS key, n, qty FROM res
    UNION ALL
    SELECT 'stats' AS leg, 'n_fact' AS key, n_fact AS n,
           CAST(NULL AS DOUBLE) AS qty FROM stats
    UNION ALL
    SELECT 'stats', 'n_bloom_pass', n_bloom_pass, NULL FROM stats
    UNION ALL
    SELECT 'stats', 'n_exact_pass', n_exact_pass, NULL FROM stats
    UNION ALL
    SELECT 'stats', 'n_false_positive', n_false_positive, NULL FROM stats
    """


@register("j13_bloom_semi_join", _j13_bloom_duckdb_sql())
def j13_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 (r11 tail, beyond the reference): Bloom-filter semi-join
    reduction (operators/bloom_join.py) — the runtime-filter pushdown
    that cuts a fact⋈dim join's shuffle at 100 TB. The dim side
    (urgent orders) builds a k=4, m=2^14 Bloom filter via ONE map-side
    bit_or aggregate (<= 265 BIGINT words, collected bounded and
    inlined as a literal); lineitem is prefiltered MAP-SIDE — no
    false negatives, so dropped rows provably can't match — and the
    exact semi-join that follows removes the false positives.

    m is deliberately tight for the gate SF (~3k keys × 4 bits into
    16k bits ⇒ ~50% fill, ~7% FP) so the false-positive path is
    EXERCISED and its exact count sits inside the value hash: the
    stats leg carries (n_fact, n_bloom_pass, n_exact_pass,
    n_false_positive), every integer replayed bit-for-bit by the
    DuckDB oracle from the same md5-window bit algebra. Sizing rule at
    scale: m ≈ 14-20 bits/dim-key (FP 1e-3..1e-4 at k=4), words grow
    with DIM (the small side), never with fact.

    Self-auditing like j12: the exact phase must plan as a broadcast
    semi-join over the PREFILTERED fact — a SortMergeJoin here would
    mean the reduction never happened."""
    from prohap_spark.functions.sketches import bloom_build
    from prohap_spark.operators.bloom_join import (
        bloom_semi_join,
        bloom_semi_join_stats,
        bloom_words_dense,
    )
    from prohap_spark.plans import plan_nodes

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    dim = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    # one filter build shared by the join and its stats leg
    keys = dim.select(F.col("o_orderkey").cast("string").alias("__bk")).distinct()
    words = bloom_words_dense(bloom_build(keys, "__bk", 4, 1 << 14), 1 << 14)
    sj = bloom_semi_join(
        li, dim, "l_orderkey", "o_orderkey", k=4, m_bits=1 << 14, words=words
    )
    nodes = plan_nodes(sj)
    if "SortMergeJoin" in nodes:
        raise RuntimeError(
            "bloom_semi_join's exact phase planned a SortMergeJoin — the "
            f"broadcast reduction was lost: {nodes}"
        )
    res = sj.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    ).select(F.lit("result").alias("leg"), F.col("l_returnflag").alias("key"), "n", "qty")
    st = bloom_semi_join_stats(
        li, dim, "l_orderkey", "o_orderkey", k=4, m_bits=1 << 14, words=words
    )
    stats = st.select(
        F.expr(
            "stack(4, 'n_fact', n_fact, 'n_bloom_pass', n_bloom_pass, "
            "'n_exact_pass', n_exact_pass, 'n_false_positive', "
            "n_false_positive) AS (key, n)"
        )
    ).select(
        F.lit("stats").alias("leg"), "key", "n",
        F.lit(None).cast("double").alias("qty"),
    )
    return res.unionByName(stats)


def _layout_zorder_duckdb_sql() -> str:
    from prohap_spark.operators.layout import zorder_key_sql

    zk = zorder_key_sql(["xq", "yq"], 8)
    return f"""
    WITH o AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc,
             o_custkey AS yc
      FROM orders
    ),
    mm AS (
      SELECT min(xc) AS xmn, max(xc) AS xmx,
             min(yc) AS ymn, max(yc) AS ymx
      FROM o
    ),
    q AS (
      SELECT (xc - xmn) * 256 // (xmx - xmn + 1) AS xq,
             (yc - ymn) * 256 // (ymx - ymn + 1) AS yq
      FROM o, mm
    ),
    t AS (SELECT xq, yq, {zk} // 1024 AS tile FROM q),
    tiles AS (
      SELECT tile, CAST(count(*) AS BIGINT) AS n,
             min(xq) AS xmin, max(xq) AS xmax,
             min(yq) AS ymin, max(yq) AS ymax
      FROM t GROUP BY 1
    ),
    lint AS (
      SELECT xq // 4 AS tile,
             min(xq) AS xmin, max(xq) AS xmax,
             min(yq) AS ymin, max(yq) AS ymax
      FROM q GROUP BY 1
    ),
    nbox AS (
      SELECT CAST(sum(CASE WHEN yq BETWEEN 64 AND 127 THEN 1 ELSE 0 END)
               AS BIGINT) AS y_rows,
             CAST(sum(CASE WHEN xq BETWEEN 64 AND 127 THEN 1 ELSE 0 END)
               AS BIGINT) AS x_rows
      FROM q
    )
    SELECT 'tile' AS leg, CAST(tile AS VARCHAR) AS key, n,
           xmin AS a, xmax AS b, ymin AS c, ymax AS d
    FROM tiles
    UNION ALL
    SELECT 'prune', 'z_ybox',
           (SELECT CAST(count(*) AS BIGINT) FROM tiles
            WHERE ymin <= 127 AND ymax >= 64),
           (SELECT y_rows FROM nbox), NULL, NULL, NULL
    UNION ALL
    SELECT 'prune', 'z_xbox',
           (SELECT CAST(count(*) AS BIGINT) FROM tiles
            WHERE xmin <= 127 AND xmax >= 64),
           (SELECT x_rows FROM nbox), NULL, NULL, NULL
    UNION ALL
    SELECT 'prune', 'lin_ybox',
           (SELECT CAST(count(*) AS BIGINT) FROM lint
            WHERE ymin <= 127 AND ymax >= 64),
           (SELECT y_rows FROM nbox), NULL, NULL, NULL
    UNION ALL
    SELECT 'prune', 'lin_xbox',
           (SELECT CAST(count(*) AS BIGINT) FROM lint
            WHERE xmin <= 127 AND xmax >= 64),
           (SELECT x_rows FROM nbox), NULL, NULL, NULL
    """


@register("layout_zorder_cluster", _layout_zorder_duckdb_sql())
def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-layout clustering (operators/layout.py — r11 tail,
    beyond the reference): orders quantized to a 256x256
    (price-cents, custkey) grid, Morton-interleaved, and carved into
    64 fixed-width z-range tiles — the deterministic model of what
    write_zorder_clustered's files (and their parquet footer min/max
    stats) look like. The tile leg hashes every tile's row count and
    per-dimension span; the prune leg hashes the pruning model
    itself: how many tiles a quarter-domain box on EACH dimension
    must scan, z-order vs a linear (x-only) clustering of the same
    64-file budget. The z layout prunes on BOTH dimensions (each tile
    is a 32x32 space tile); the linear layout prunes only on x — its
    y-box hit count is all 64 tiles, which is exactly the single-sort
    failure mode z-ordering exists to fix at 100 TB. Every number is
    exact integer bit algebra, replayed by the oracle bit-for-bit.
    The actual clustered WRITER (repartitionByRange on the Morton key
    + sortWithinPartitions) and its file-level min/max locality are
    pinned in pytest, where file boundaries may be sampling-dependent."""
    from prohap_spark.operators.layout import quantize_minmax, zorder_key

    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc"),
        F.col("o_custkey").alias("yc"),
    )
    q = quantize_minmax(quantize_minmax(o, "xc", 8, "xq"), "yc", 8, "yq")
    # share the quantized grid across the four consumers below
    q = q.select("xq", "yq").localCheckpoint(eager=False)
    t = q.withColumn("__zkey", zorder_key(["xq", "yq"], 8)).withColumn(
        "tile", F.expr("__zkey div 1024")
    )
    tiles = t.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("xq").alias("xmin"), F.max("xq").alias("xmax"),
        F.min("yq").alias("ymin"), F.max("yq").alias("ymax"),
    )
    tiles = tiles.localCheckpoint(eager=False)
    lint = q.withColumn("tile", F.expr("xq div 4")).groupBy("tile").agg(
        F.min("xq").alias("xmin"), F.max("xq").alias("xmax"),
        F.min("yq").alias("ymin"), F.max("yq").alias("ymax"),
    )
    tile_leg = tiles.select(
        F.lit("tile").alias("leg"), F.col("tile").cast("string").alias("key"),
        "n", F.col("xmin").alias("a"), F.col("xmax").alias("b"),
        F.col("ymin").alias("c"), F.col("ymax").alias("d"),
    )
    nbox = q.agg(
        F.sum(F.col("yq").between(64, 127).cast("long")).alias("y_rows"),
        F.sum(F.col("xq").between(64, 127).cast("long")).alias("x_rows"),
    )

    def hit_count(tag: str, stats: DataFrame, lo_col: str, hi_col: str):
        return (
            stats.where((F.col(lo_col) <= 127) & (F.col(hi_col) >= 64))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(tag).alias("key"), "n")
        )

    hits = (
        hit_count("z_ybox", tiles, "ymin", "ymax")
        .unionByName(hit_count("z_xbox", tiles, "xmin", "xmax"))
        .unionByName(hit_count("lin_ybox", lint, "ymin", "ymax"))
        .unionByName(hit_count("lin_xbox", lint, "xmin", "xmax"))
    )
    # ONE broadcast of the one-row box-count table for all four legs
    prune = hits.join(F.broadcast(nbox)).select(
        F.lit("prune").alias("leg"), "key", "n",
        F.when(F.col("key").endswith("ybox"), F.col("y_rows"))
        .otherwise(F.col("x_rows")).alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("long").alias("c"),
        F.lit(None).cast("long").alias("d"),
    )
    return tile_leg.unionByName(prune)
