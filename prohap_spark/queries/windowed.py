"""Window/ordered analytics + engineered joins (SURVEY §2.3 J1/J10,
§2.5 W1-W5, §2.6 top-k, §2.10 batch-equivalent streaming window)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from prohap_spark.operators.interval_join import interval_join
from prohap_spark.operators.islands import cluster_overlapping_intervals, sessionize
from prohap_spark.operators.asof import asof_join
from prohap_spark.operators.topk import top_k_per_group
from prohap_spark.queries.registry import register, table


_W1_SESSIONIZE_SQL = """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 3600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_events,
           epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
    FROM s GROUP BY user_id, session_id
    """


def w1_islands_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 gaps-and-islands: sessionize events per user with a 1 h gap
    (the overlap-clustering window pipeline from get_haplotypes.py:8-30
    applied to time). One shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", 3600, tiebreak_cols=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
    )


_W1B_ISLANDS_SQL = """
    WITH iv AS (
      SELECT l_suppkey, epoch_us(l_shipdate) // 86400000000 AS d_start,
             epoch_us(l_shipdate) // 86400000000 + CAST(l_quantity AS BIGINT) AS d_end,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    g AS (
      SELECT *,
             CASE WHEN max(d_end) OVER (PARTITION BY l_suppkey ORDER BY d_start, d_end
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR d_start > max(d_end) OVER (PARTITION BY l_suppkey ORDER BY d_start, d_end
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    s AS (
      SELECT l_suppkey,
             CAST(sum(new_island) OVER (PARTITION BY l_suppkey ORDER BY d_start, d_end
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id
      FROM g
    )
    SELECT l_suppkey, island_id, count(*) AS n_members
    FROM s GROUP BY l_suppkey, island_id
    """


def w1b_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 exact reference semantics: cluster overlapping [start, end]
    intervals per group; islands with >1 member are the 'conflicting
    mutation' clusters the reference drops (get_haplotypes.py:172-184).
    NOTE: orderBy(start, end) must match the oracle's tie order — the
    island boundary is order-insensitive, but island *ids* need the
    same total order.
    """
    li = table(spark, sf_dir, "lineitem")
    # parquet TIMESTAMP_NTZ → TIMESTAMP (UTC session ⇒ same instant)
    day = (F.unix_micros(F.col("l_shipdate").cast("timestamp")) / F.lit(86400000000)).cast("long")
    iv = li.select(
        "l_suppkey",
        day.alias("d_start"),
        (day + F.col("l_quantity").cast("bigint")).alias("d_end"),
    )
    isl = cluster_overlapping_intervals(iv, ["l_suppkey"], "d_start", "d_end")
    return isl.groupBy("l_suppkey", "island_id").agg(F.count(F.lit(1)).alias("n_members"))


# w1_islands_sessionize and w1b_interval_islands are registered as the
# one board below: both are the W1 gaps-and-islands family — time-gap
# sessionization and interval overlap clustering — and map onto one
# (leg, key, island_id, n, start_us, end_us) schema with off-leg
# columns NULL, so per-operator value coverage is unchanged. The
# singleton callables above stay the library/pytest surface.
@register(
    "w1_islands_board",
    f"""
    SELECT 'sess' AS leg, user_id AS key, session_id AS island_id,
           n_events AS n, start_us, end_us
    FROM ({_W1_SESSIONIZE_SQL})
    UNION ALL
    SELECT 'interval' AS leg, l_suppkey AS key, island_id,
           n_members AS n, CAST(NULL AS BIGINT) AS start_us,
           CAST(NULL AS BIGINT) AS end_us
    FROM ({_W1B_ISLANDS_SQL})
    """,
)
def w1_islands_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both W1 gaps-and-islands operators on one correctness board:
    per-user 1 h sessionization (sess leg — see w1_islands_sessionize)
    and per-supplier interval overlap clustering (interval leg — see
    w1b_interval_islands), each against its full window-function SQL
    replay."""
    sess = w1_islands_sessionize(spark, sf_dir).select(
        F.lit("sess").alias("leg"),
        F.col("user_id").alias("key"),
        F.col("session_id").alias("island_id"),
        F.col("n_events").alias("n"),
        "start_us",
        "end_us",
    )
    iv = w1b_interval_islands(spark, sf_dir).select(
        F.lit("interval").alias("leg"),
        F.col("l_suppkey").alias("key"),
        "island_id",
        F.col("n_members").alias("n"),
        F.lit(None).cast("long").alias("start_us"),
        F.lit(None).cast("long").alias("end_us"),
    )
    return sess.unionByName(iv)


# w2_deterministic_row_number + w_ntile_percent_rank are registered as
# one query, w_rank_board; the singleton callables stay the library
# surface, legs unchanged.
_W2_ROW_NUMBER_SQL = """
    SELECT o_orderkey, rn, printf('%x', rn) AS hex_id
    FROM (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 1000
    """


def w2_deterministic_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 deterministic identity assignment: global row_number over a
    documented total order + hex formatting (C9) — the reproducible
    replacement for the reference's hex(pandas-index) ids
    (process_haplotypes.py:365). Uses the SCALABLE formulation
    (operators.order.global_row_number: range repartition + local
    row_number + broadcast partition offsets) — no single-partition
    sort of the data; the only 1-task stage is over the
    #partitions-row count table."""
    from prohap_spark.operators.order import global_row_number

    o = table(spark, sf_dir, "orders")
    return (
        global_row_number(
            o.select("o_orderkey", "o_orderdate"), ["o_orderdate", "o_orderkey"]
        )
        .where(F.col("rn") <= 1000)
        .select(
            "o_orderkey",
            F.col("rn").cast("int").alias("rn"),
            F.format_string("%x", "rn").alias("hex_id"),
        )
    )


@register(
    "w5_running_offset",
    """
    SELECT l_orderkey, l_linenumber,
           sum(CAST(l_quantity AS BIGINT) * 1000
               - CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * 100)
                 OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             / 1000.0 AS offset_before
    FROM lineitem
    """,
)
def w5_running_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 cumulative length offset: running sum over all *previous* rows
    in the group (the sequence_length_diff re-basing,
    process_haplotypes.py:272-285). RANGE frame (not ROWS): the order
    key is non-unique in this data, and a RANGE frame is
    tie-order-insensitive → deterministic. r12: the summand is exact
    integer milli-units (quantity is integer-valued; l_discount*10 is
    cents*100) — DuckDB evaluates windowed sums with a segment tree,
    which reassociates float addition differently than Spark's running
    accumulation, so only integer frames hash stably."""
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    term = (
        F.col("l_quantity").cast("long") * 1000
        - F.floor(F.col("l_discount") * 100.0 + F.lit(0.5)) * 100
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.sum(term).over(w) / F.lit(1000.0)).alias("offset_before"),
    )


@register(
    "topk_per_group",
    """
    SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS bal, rnk
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer
    )
    WHERE rnk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 top-k per group with a total order (unique tiebreaker)."""
    c = table(spark, sf_dir, "customer")
    out = top_k_per_group(
        c,
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        3,
        rank_col="rnk",
    )
    return out.select("c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("bal"), "rnk")


@register(
    "j10_asof_join",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      FROM events
    )
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           epoch_us(last_click_ts) AS click_ts_us
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def j10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 as-of join: for each purchase, the most recent prior-or-equal
    click by the same user (the bisect probe of
    peptides_annotate_variation.py:145-169, distributed as the
    union-and-window as-of join)."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        ts_col="ts",
        payload_cols=["click_ts"],
        direction="backward",
        payload_prefix="",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("click_ts").alias("click_ts_us"),
    )


# (Registered via j1_interval_board; the callable stays the library
# surface.)
_J1_POINT_SQL = """
    SELECT o.o_orderkey, count(*) AS n_matches,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
    FROM orders o
    JOIN lineitem l
      ON l.l_extendedprice >= o.o_totalprice
     AND l.l_extendedprice <  o.o_totalprice + 50
    GROUP BY o.o_orderkey
    """


def j1_interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 THE interval join (variant⋈exon, vcf_reader.py:31-71), binned
    strategy: explode intervals onto fixed-width bins, equi-join on the
    bin, refine the exact range predicate. The equi-join shuffles on a
    well-spread composite key — the 100 TB replacement for both the
    reference's sweep line and a BroadcastNestedLoopJoin.

    Both sides convert to LONG cents before binning (2-decimal prices
    are exact integers after round(x*100)): integer bin keys, integer
    refine comparisons, and a pre-converted agg input measure ~40%
    faster than binning the raw doubles at the same candidate volume —
    and bigint cent sums are reassociation-proof vs the oracle, where
    double sums depend on partial-agg order."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("lo"),
    ).withColumn("hi", F.col("lo") + 5000)
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    )
    joined = interval_join(
        li,
        o,
        point_col="price_cents",
        start_col="lo",
        end_col="hi",
        # bin = interval width/2 (2500 of 5000 cents): measured sweet
        # spot of exploded-row fanout vs per-bin candidate volume
        # (r14 re-census: candidates 13.6M at 2500 vs 18.1M at 5000 vs
        # 27.2M at 10000, with 9.1M true matches — 2500 holds)
        bin_size=2500,
        strategy="binned",
        closed="left",
        # r14: the exploded interval side scans small (150k orders) but
        # explodes 3x; Catalyst sizes generator output at ~1x input and
        # statically plans a BroadcastHashJoin whose 450k-row relation
        # is rebuilt single-threaded inside every execution — the exact
        # misplan the interval_join docstring documents (its r7 probe:
        # 143.6 s vs 16.0 s at 32x). The hint forces the shuffle path:
        # measured 2.08 s -> 0.87 s at sf0.1 (plan: BroadcastHashJoin +
        # BroadcastExchange -> ShuffledHashJoin + 2 Exchange), and at
        # scale the exploded side keeps growing with the interval table
        # while a broadcast would hit the 8 GB relation cap. Join
        # strategy only — result rows are identical.
        join_hint="shuffle_hash",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


@register(
    "j6_explode_equijoin",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE doc_id < 50
    ),
    stats AS (SELECT word, count(*) AS global_count FROM words GROUP BY word)
    SELECT w.doc_id, w.word, s.global_count
    FROM words w JOIN stats s ON w.word = s.word
    """,
)
def j6_explode_equijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 explode-the-list-then-equi-join (the Proteins ;-list explode,
    peptides_annotate_variation.py:195-225)."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    stats = words.groupBy("word").agg(F.count(F.lit(1)).alias("global_count"))
    return words.join(stats, "word").select("doc_id", "word", "global_count")


_STREAM_TUMBLING_SQL = """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           count(*) AS n,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 streaming surface, batch-checkable form: tumbling 1 h
    window aggregation with window(ts, '1 hour') — the same expression
    runs under readStream + withWatermark (see prohap_spark.streaming
    and tests/test_streaming.py)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5))) / F.lit(100.0)).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


# (Registered via j1_interval_board since r12 — same merge.)
_J1_OVERLAP_SQL = """
    WITH a AS (
      SELECT o_orderkey, o_totalprice AS a_lo, o_totalprice + 200 AS a_hi
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    b AS (
      SELECT s_suppkey, s_acctbal * 40 AS b_lo, s_acctbal * 40 + 5000 AS b_hi
      FROM supplier WHERE s_acctbal > 0
    )
    SELECT a.o_orderkey, count(*) AS n_overlaps
    FROM a JOIN b ON a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi
    GROUP BY a.o_orderkey
    """


def j1b_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 two-sided flavor: interval×interval overlap join via the
    binned rewrite with anchor-bin dedup (each overlapping pair emitted
    from exactly one bin — the bin containing max(a_lo, b_lo))."""
    from prohap_spark.operators.interval_join import interval_overlap_join

    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("a_lo"),
        (F.col("o_totalprice") + 200).alias("a_hi"),
    )
    s = table(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 0).select(
        "s_suppkey",
        (F.col("s_acctbal") * 40).alias("b_lo"),
        (F.col("s_acctbal") * 40 + 5000).alias("b_hi"),
    )
    joined = interval_overlap_join(o, s, "a_lo", "a_hi", "b_lo", "b_hi", bin_size=4096)
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_overlaps"))


# j1_interval_join_binned and j1b_interval_overlap_join are registered
# as one board on a (leg, key, n, cents) schema with off-leg columns
# NULL, which keeps per-operator value coverage unchanged. The
# singleton callables above stay the library/pytest surface.
@register(
    "j1_interval_board",
    f"""
    SELECT 'point' AS leg, o_orderkey AS key, n_matches AS n,
           sum_price_cents AS cents
    FROM ({_J1_POINT_SQL})
    UNION ALL
    SELECT 'overlap' AS leg, o_orderkey AS key, n_overlaps AS n,
           CAST(NULL AS BIGINT) AS cents
    FROM ({_J1_OVERLAP_SQL})
    """,
)
def j1_interval_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both J1 interval-join flavors on one correctness board: the
    point-in-interval binned join (point leg — see
    j1_interval_join_binned) and the interval×interval overlap join
    with anchor-bin dedup (overlap leg — see
    j1b_interval_overlap_join). The merge changes registry accounting,
    not any semantics; per-leg values are the singletons' full hashed
    outputs."""
    point = j1_interval_join_binned(spark, sf_dir).select(
        F.lit("point").alias("leg"),
        F.col("o_orderkey").alias("key"),
        F.col("n_matches").alias("n"),
        F.col("sum_price_cents").alias("cents"),
    )
    over = j1b_interval_overlap_join(spark, sf_dir).select(
        F.lit("overlap").alias("leg"),
        F.col("o_orderkey").alias("key"),
        F.col("n_overlaps").alias("n"),
        F.lit(None).cast("long").alias("cents"),
    )
    return point.unionByName(over)


@register(
    "stream_click_attribution",
    """
    SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
    FROM events c JOIN events v
      ON v.user_id = c.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
    """,
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 stream-stream interval join, batch-checkable form: each
    click matched to the same user's views in the preceding hour. The
    IDENTICAL transform runs under readStream with watermarks on both
    sides (bounded join state, eviction past watermark − lookback);
    batch==stream parity is pinned in tests/test_streaming.py."""
    from prohap_spark.streaming.events import click_view_attribution

    ev = table(spark, sf_dir, "events")
    return click_view_attribution(ev)


# the corpus is unioned with a verbatim copy of itself: exactly-once
# ids must collapse the pair back to one row per event
_STREAM_DEDUP_SQL = """
    SELECT DISTINCT event_id, epoch_us(ts) AS ts_us, event_type, user_id
    FROM events
    """


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 streaming dedup, batch-checkable form: duplicate events
    (a full verbatim copy unioned in) collapsed to exactly-once
    event_ids via streaming/events.py stream_dedup — under readStream
    the same call is dropDuplicatesWithinWatermark(['event_id']) with
    bounded state (tests/test_streaming.py pins the streaming run);
    in batch it is the identical dropDuplicates plan. Output columns
    are functionally determined by event_id, so the surviving-row
    choice is value-deterministic."""
    from prohap_spark.streaming.events import stream_dedup

    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "user_id")
    doubled = ev.unionAll(ev)
    out = stream_dedup(doubled)
    return out.select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "event_type", "user_id"
    )


# stream_tumbling_window and stream_dedup_watermark are registered as
# one board: both are the §2.10 batch-checkable streaming-surface
# family, mapped onto one (leg, i1, i2, i3, s1, d1) generic schema
# (the c_scalar_board pattern) with off-leg columns NULL, so
# per-operator value coverage is unchanged. The singleton callables
# above stay the library/pytest surface.
_RESAMPLE_LOCF_SQL = """
    WITH rs AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS bucket,
             ts, event_id, value
      FROM events
    ),
    rl AS (
      SELECT user_id, bucket, value FROM (
        SELECT user_id, bucket, value,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM rs
      ) WHERE rn = 1
    ),
    sp AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
           FROM rl GROUP BY 1),
    gr AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM sp),
    fj AS (
      SELECT g.user_id, g.bucket, r.value AS obs
      FROM gr g LEFT JOIN rl r USING (user_id, bucket)
    )
    SELECT user_id, bucket,
           last_value(obs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CASE WHEN obs IS NULL THEN 1 ELSE 0 END AS is_filled
    FROM fj
    """


@register(
    "stream_batch_parity_board",
    f"""
    SELECT 'tumbling' AS leg, window_start_us AS i1, n AS i2,
           CAST(NULL AS BIGINT) AS i3, event_type AS s1,
           total_value AS d1
    FROM ({_STREAM_TUMBLING_SQL})
    UNION ALL
    SELECT 'dedup' AS leg, event_id AS i1, ts_us AS i2, user_id AS i3,
           event_type AS s1, CAST(NULL AS DOUBLE) AS d1
    FROM ({_STREAM_DEDUP_SQL})
    UNION ALL
    SELECT 'resample' AS leg, user_id AS i1, bucket AS i2,
           CAST(is_filled AS BIGINT) AS i3, CAST(NULL AS VARCHAR) AS s1,
           value AS d1
    FROM ({_RESAMPLE_LOCF_SQL})
    UNION ALL
    SELECT 'enrich' AS leg, e.event_id AS i1,
           CAST(d.weight AS BIGINT) AS i2, CAST(NULL AS BIGINT) AS i3,
           d.tier AS s1, CAST(NULL AS DOUBLE) AS d1
    FROM events e
    LEFT JOIN (VALUES ('view', 'cheap', 1), ('click', 'mid', 5),
                      ('purchase', 'high', 20)) d(event_type, tier, weight)
      ON e.event_type = d.event_type
    UNION ALL
    SELECT 'retention' AS leg, cohort AS i1, age AS i2, n_users AS i3,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS DOUBLE) AS d1
    FROM (
      WITH ub AS (
        SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS b
        FROM events
      ),
      ch AS (SELECT u, min(b) AS cohort FROM ub GROUP BY 1)
      SELECT ch.cohort, ub.b - ch.cohort AS age,
             CAST(count(*) AS BIGINT) AS n_users
      FROM ub JOIN ch USING (u)
      GROUP BY 1, 2
    )
    UNION ALL
    -- sink leg: every event delivered exactly once through the
    -- replayed idempotent sink == the plain batch aggregate
    SELECT 'sink' AS leg, user_id AS i1, count(*) AS i2,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS i3,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS DOUBLE) AS d1
    FROM events GROUP BY user_id
    UNION ALL
    -- sink_compacted leg (r13): the SAME aggregate re-read after
    -- compact_epochs folded the per-epoch dirs into one — a dropped
    -- or duplicated row anywhere in the digest-validated rewrite or
    -- the trash-dir swap goes hash-red
    SELECT 'sink_compacted' AS leg, user_id AS i1, count(*) AS i2,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS i3,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS DOUBLE) AS d1
    FROM events GROUP BY user_id
    UNION ALL
    -- sink_deleted leg (r14): deletion vectors — delete_keys lands
    -- the event_id % 7 == 0 key set WITHOUT touching data epochs and
    -- read_current subtracts it with one anti-join; the aggregate
    -- must equal the batch table minus those keys
    SELECT 'sink_deleted' AS leg, user_id AS i1, count(*) AS i2,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS i3,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS DOUBLE) AS d1
    FROM events WHERE event_id % 7 <> 0 GROUP BY user_id
    UNION ALL
    -- sink_materialized leg (r14): the SAME aggregate after
    -- materialize_deletes physically rewrote the epochs (digest-
    -- validated staging + trash swap) and swept the delete sets — a
    -- row resurrected, dropped, or double-deleted by the rewrite
    -- goes hash-red
    SELECT 'sink_materialized' AS leg, user_id AS i1, count(*) AS i2,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS i3,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS DOUBLE) AS d1
    FROM events WHERE event_id % 7 <> 0 GROUP BY user_id
    """,
)
def stream_batch_parity_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.10 batch-checkable streaming-surface operators on one
    correctness board: tumbling 1 h window aggregation (tumbling leg —
    see stream_tumbling_window; the identical expression runs under
    readStream + withWatermark in tests/test_streaming.py),
    exactly-once watermark dedup (dedup leg — see
    stream_dedup_watermark), daily LOCF gap fill (resample leg),
    stream-static broadcast enrichment (enrich leg), the daily
    cohort matrix (retention leg), (r12) the exactly-once
    idempotent SINK under a forced double-delivery of every epoch
    (sink leg — streaming/sink.py; see the inline comment), (r13) the
    epoch-compaction maintenance op (sink_compacted leg), and (r14)
    the deletion-vector arc: read-time key subtraction
    (sink_deleted leg) then physical materialization
    (sink_materialized leg) — see the inline comments.

    Harness note: each leg calls its standalone operator, so the
    events file is scanned once per leg (5x) — acceptable for a
    gate-SF correctness union; the OPERATORS each scan once, which is
    what the production plans and the per-operator plan pins assert."""
    t = stream_tumbling_window(spark, sf_dir).select(
        F.lit("tumbling").alias("leg"),
        F.col("window_start_us").alias("i1"),
        F.col("n").alias("i2"),
        F.lit(None).cast("long").alias("i3"),
        F.col("event_type").alias("s1"),
        F.col("total_value").alias("d1"),
    )
    d = stream_dedup_watermark(spark, sf_dir).select(
        F.lit("dedup").alias("leg"),
        F.col("event_id").alias("i1"),
        F.col("ts_us").alias("i2"),
        F.col("user_id").alias("i3"),
        F.col("event_type").alias("s1"),
        F.lit(None).cast("double").alias("d1"),
    )
    # resample leg (r11 tail): daily LOCF gap-fill — the time-series
    # regularization operator (operators/resample.py); carried values
    # pass through untouched so the doubles hash identically
    from prohap_spark.operators.resample import resample_locf

    ev = table(spark, sf_dir, "events")
    r = resample_locf(
        ev, ["user_id"], "ts", "value", 86400, tiebreak_cols=["event_id"]
    ).select(
        F.lit("resample").alias("leg"),
        F.col("user_id").alias("i1"),
        F.col("bucket").alias("i2"),
        F.col("is_filled").cast("long").alias("i3"),
        F.lit(None).cast("string").alias("s1"),
        F.col("value").alias("d1"),
    )
    # enrich leg (r11 tail): the stream-static broadcast enrichment
    # join (streaming/events.py enrich_with_static_dim — the same call
    # runs under readStream, parity-pinned in tests/test_streaming.py)
    from prohap_spark.streaming.events import enrich_with_static_dim

    dim = spark.createDataFrame(
        [("view", "cheap", 1), ("click", "mid", 5), ("purchase", "high", 20)],
        "event_type string, tier string, weight int",
    )
    e = enrich_with_static_dim(ev, dim).select(
        F.lit("enrich").alias("leg"),
        F.col("event_id").alias("i1"),
        F.col("weight").cast("long").alias("i2"),
        F.lit(None).cast("long").alias("i3"),
        F.col("tier").alias("s1"),
        F.lit(None).cast("double").alias("d1"),
    )
    # retention leg (r11 tail): daily cohort matrix
    # (operators/resample.py retention_matrix)
    from prohap_spark.operators.resample import retention_matrix

    rm = retention_matrix(ev, "user_id", "ts", 86400).select(
        F.lit("retention").alias("leg"),
        F.col("cohort").alias("i1"),
        F.col("age").alias("i2"),
        F.col("n_users").alias("i3"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("double").alias("d1"),
    )
    # sink leg (r12): a REAL availableNow micro-batch run of the
    # events through streaming/sink.py's exactly-once writer, with
    # EVERY epoch delivered TWICE in-gate (the wrapping writer
    # re-invokes immediately — Spark's post-recovery at-least-once
    # contract, forced deterministically). read_committed then feeds
    # the per-user aggregate the oracle computes straight from the
    # batch table: one duplicated row anywhere and the counts/cents
    # hash-red. Source tmp dir is _SUCCESS-guard cached per SF; out +
    # checkpoint dirs are FRESH per call (a reused out dir would
    # accumulate epochs across runs).
    import atexit
    import os
    import shutil
    import tempfile

    from prohap_spark.streaming.events import read_event_stream
    from prohap_spark.streaming.sink import (
        idempotent_batch_writer,
        read_committed,
    )

    # pid-scoped like maintenance.py's _MAINT_BASE idiom (r12 ADVICE):
    # a shared /tmp name let two concurrent gate runs overwrite the
    # directory the other was streaming from, and a stale cache
    # silently survived any change to the events data or the selected
    # columns. One cache per process + atexit cleanup fixes both.
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = f"/tmp/prohap_sink_events_x4_{os.getpid()}/{tag}"
    if not os.path.exists(f"{src}/_SUCCESS"):
        ev.repartition(4).write.mode("overwrite").parquet(src)
        atexit.register(shutil.rmtree, os.path.dirname(src), True)
    base = tempfile.mkdtemp(prefix="prohap_sink_leg_")
    atexit.register(shutil.rmtree, base, True)
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
    write = idempotent_batch_writer(out_dir)

    def replayed(df, epoch_id):
        write(df, epoch_id)
        write(df, epoch_id)  # the replay: must no-op on the marker

    q = (
        read_event_stream(spark, src, max_files_per_trigger=1)
        .select("event_id", "user_id", "value")
        .writeStream.outputMode("append")
        .foreachBatch(replayed)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    def _sink_agg(leg: str, reader=read_committed):
        return (
            reader(spark, out_dir)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
                .cast("long")
                .alias("cents"),
            )
            .select(
                F.lit(leg).alias("leg"),
                F.col("user_id").alias("i1"),
                F.col("n").alias("i2"),
                F.col("cents").alias("i3"),
                F.lit(None).cast("string").alias("s1"),
                F.lit(None).cast("double").alias("d1"),
            )
        )

    # the pre-compaction aggregate must be MATERIALIZED before
    # compact_epochs rewrites the directories it lazily reads from
    sink = _sink_agg("sink").localCheckpoint(eager=True)
    # sink_compacted leg (r13, the r12 verdict's ask #5): fold the
    # per-epoch dirs (one per source file under maxFilesPerTrigger=1)
    # into ONE compacted epoch through the digest-validated rewrite +
    # recoverable trash-dir swap, then re-aggregate from the
    # post-compaction committed read. Identical values to the sink
    # leg == nothing dropped or duplicated by the maintenance op.
    from prohap_spark.streaming.sink import compact_epochs

    compact_epochs(spark, out_dir)
    # eager: materialize_deletes below rewrites the directory this
    # lazy plan scans (same discipline as the pre-compaction sink leg)
    sinkc = _sink_agg("sink_compacted").localCheckpoint(eager=True)
    # sink_deleted + sink_materialized legs (r14): the deletion-vector
    # arc. delete_keys lands the event_id % 7 == 0 key set as its own
    # committed delete set (no data epoch touched — O(keys) I/O, the
    # 100 TB point); read_current subtracts it with one anti-join;
    # then materialize_deletes folds the vector in physically
    # (digest-validated rewrite + recoverable swap, delete dirs swept
    # last) and the post-materialize committed read must reproduce the
    # SAME aggregate — vector-subtract == physical-rewrite on driver
    # rows.
    from prohap_spark.streaming.sink import (
        delete_keys,
        materialize_deletes,
        read_current,
    )

    delete_keys(
        spark,
        out_dir,
        read_committed(spark, out_dir)
        .select("event_id")
        .where(F.col("event_id") % 7 == 0),
    )
    sinkd = _sink_agg("sink_deleted", read_current).localCheckpoint(eager=True)
    materialize_deletes(spark, out_dir)
    sinkm = _sink_agg("sink_materialized")
    return (
        t.unionByName(d).unionByName(r).unionByName(e).unionByName(rm)
        .unionByName(sink).unionByName(sinkc)
        .unionByName(sinkd).unionByName(sinkm)
    )


@register(
    "events_funnel",
    # ordered three-stage funnel per user: earliest view, earliest
    # click strictly after it, earliest purchase strictly after that
    """
    WITH fv AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    fc AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN fv USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > fv.v_ts
      GROUP BY e.user_id
    ),
    fp AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN fc USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > fc.c_ts
      GROUP BY e.user_id
    )
    SELECT fv.user_id,
           fc.user_id IS NOT NULL AS reached_click,
           fp.user_id IS NOT NULL AS reached_purchase,
           (epoch_us(fc.c_ts) - epoch_us(fv.v_ts)) // 1000000 AS sec_view_to_click,
           (epoch_us(fp.p_ts) - epoch_us(fc.c_ts)) // 1000000 AS sec_click_to_purchase
    FROM fv
    LEFT JOIN fc USING (user_id)
    LEFT JOIN fp USING (user_id)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): each stage's
    earliest qualifying event must fall strictly AFTER the previous
    stage's — the product-analytics staple that a naive per-type
    min() gets wrong when a user clicks before ever viewing. Three
    conditional-min aggregates chained by equi-joins on user_id (one
    shuffle key throughout, so at scale the three aggregations
    co-partition and AQE coalesces the joins)."""
    ev = table(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    fc = (
        ev.where(F.col("event_type") == "click")
        .join(fv, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        fv.join(fc, "user_id", "left")
        .join(fp, "user_id", "left")
        .select(
            "user_id",
            F.col("c_ts").isNotNull().alias("reached_click"),
            F.col("p_ts").isNotNull().alias("reached_purchase"),
            ((F.unix_micros("c_ts") - F.unix_micros("v_ts")) / 1_000_000)
            .cast("long")
            .alias("sec_view_to_click"),
            ((F.unix_micros("p_ts") - F.unix_micros("c_ts")) / 1_000_000)
            .cast("long")
            .alias("sec_click_to_purchase"),
        )
    )


# quartile + relative-rank analytics per order priority; ROWS
# determinism via the (totalprice, orderkey) full tiebreak.
# Registered via w_rank_board since r15.
_W_NTILE_SQL = """
    SELECT o_orderpriority, o_orderkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WHERE o_orderkey % 7 = 0
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """


def w_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window analytics: ntile quartiles,
    percent_rank, and cume_dist per order priority — fully
    deterministic under the (totalprice, orderkey) tiebreak, one
    shuffle on the partition key."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "w_rank_board",
    f"""
    SELECT 'row_number' AS leg, o_orderkey,
           CAST(NULL AS VARCHAR) AS o_orderpriority,
           rn AS rank_val, hex_id,
           CAST(NULL AS DOUBLE) AS pct_rank, CAST(NULL AS DOUBLE) AS cume
    FROM ({_W2_ROW_NUMBER_SQL}) w2
    UNION ALL
    SELECT 'ntile' AS leg, o_orderkey, o_orderpriority,
           quartile AS rank_val, CAST(NULL AS VARCHAR) AS hex_id,
           pct_rank, cume
    FROM ({_W_NTILE_SQL}) wn
    """,
)
def w_rank_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-window board — deterministic global row_number + the
    ntile/percent_rank/cume_dist analytics registered as one query
    on a unified (leg, o_orderkey, o_orderpriority, rank_val, hex_id,
    pct_rank, cume) schema, off-leg columns NULL. Each leg is the
    UNCHANGED singleton callable — identical rows, identical values
    (rn and quartile share rank_val)."""
    NS = F.lit(None).cast("string")
    ND = F.lit(None).cast("double")
    w2 = w2_deterministic_row_number(spark, sf_dir).select(
        F.lit("row_number").alias("leg"), "o_orderkey",
        NS.alias("o_orderpriority"), F.col("rn").alias("rank_val"),
        "hex_id", ND.alias("pct_rank"), ND.alias("cume"),
    )
    wn = w_ntile_percent_rank(spark, sf_dir).select(
        F.lit("ntile").alias("leg"), "o_orderkey", "o_orderpriority",
        F.col("quartile").alias("rank_val"), NS.alias("hex_id"),
        "pct_rank", "cume",
    )
    return w2.unionByName(wn)


@register(
    "stream_cdc_scd2",
    # the orders stream read as change records: key = customer,
    # ts = order date, tracked = priority. Consecutive-duplicate
    # priorities are no-ops; every change emits open (+ close of the
    # predecessor). Ties order by (ts, v) — non-null in this data, so
    # Spark's nulls-first and DuckDB's nulls-last defaults never bite
    """
    WITH u AS (
      SELECT o_custkey AS k, epoch_us(o_orderdate) AS ts,
             o_orderpriority AS v
      FROM orders
    ),
    m AS (
      SELECT k, ts, v,
             lag(v)  OVER w AS pv,
             lag(ts) OVER w AS pts
      FROM u WINDOW w AS (PARTITION BY k ORDER BY ts, v)
    ),
    ver AS (
      SELECT k, ts, v FROM m
      WHERE pts IS NULL OR v IS DISTINCT FROM pv
    ),
    ver2 AS (
      SELECT k, ts, v,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, v) AS nts
      FROM ver
    )
    SELECT k, v, ts AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
           'open' AS action
    FROM ver2
    UNION ALL
    SELECT k, v, ts, nts, 'close' FROM ver2 WHERE nts IS NOT NULL
    """,
)
def stream_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 change capture (streaming/cdc.py stream_scd2_changes,
    batch branch — the stream branch is pinned batch==stream in
    pytest): the orders table read as a CDC stream keyed by customer,
    priority as the tracked attribute, order date as the version
    timestamp. Every version transition hash-checks against the
    oracle's lag/lead replay — consecutive-duplicate suppression,
    open/close pairing, and tie ordering all ride the gate."""
    from prohap_spark.streaming.cdc import stream_scd2_changes

    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts"),
        F.col("o_orderpriority").alias("v"),
    )
    return stream_scd2_changes(o, "k", "ts", ("v",))
