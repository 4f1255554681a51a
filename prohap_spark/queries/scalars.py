"""Additional §2.8 scalar-surface queries: math/codon arithmetic (C11),
stable hashing (C12), fixed-point formatting (C10), regex splits (C2),
ordered array analytics (W3/A8/A9), containment join (J9), liftover-
artifact filter shape (F12), and batch session windows (§2.10)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.queries.registry import register, table


def c_math_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10/C11/C12: codon-style integer arithmetic (floor/ceil/pmod),
    hex id formatting, stable content hashing, 5-decimal fixed-point
    (the reference's '{:.5f}' frequency formatting,
    get_haplotypes.py:273)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") / 3).cast("bigint").alias("fl"),
        F.ceil(F.col("p_retailprice") / 3).cast("bigint").alias("ce"),
        F.pmod(F.col("p_size"), F.lit(3)).alias("pm"),
        F.format_string("%x", F.col("p_partkey") * 7).alias("hex7"),
        F.md5(F.col("p_name")).alias("name_md5"),
        F.format_string("%.5f", F.round(F.col("p_retailprice") / 7, 5)).alias("fixed5"),
    )


def c2_regex_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 regex split + posexplode (the re.split change-string parse,
    process_haplotypes.py:180-194)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.posexplode(F.split(F.col("o_orderpriority"), "[-_ ]")).alias("part_idx", "part_str"),
    )


@register(
    "w3_array_sort_analytics",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_quantity ORDER BY l_linenumber, l_quantity)), ';') AS qty_sorted,
           CAST(round(list_min(list(l_quantity)), 2) AS DOUBLE) AS qty_min,
           len(list_distinct(list(l_returnflag ORDER BY l_linenumber))) AS n_flags
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def w3_array_sort_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A8/A9: ordered in-group arrays (zip-sort-unzip analog), min
    over group, distinct-preserving dedup — all as array expressions."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(F.array_sort(F.collect_list("l_quantity")), ";").alias("qty_sorted"),
        F.round(F.array_min(F.collect_list("l_quantity")), 2).alias("qty_min"),
        F.size(F.array_distinct(F.collect_list("l_returnflag"))).alias("n_flags"),
    )


@register(
    "j9_containment_join",
    """
    WITH probes AS (
      SELECT doc_id AS probe_id, substr(text, 8, 25) AS probe
      FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 40
    )
    SELECT p.probe_id, count(*) AS n_hosts
    FROM probes p JOIN documents d
      ON position(p.probe IN d.text) > 0 AND d.doc_id <> p.probe_id
    GROUP BY p.probe_id
    """,
)
def j9_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 substring-containment theta join (peptide-in-protein,
    peptides_annotate_variation.py:171-190): broadcast the small probe
    side, nested-loop only against it — through the bounded
    ``containment_join`` operator, whose enforced max_probe_rows is
    the SURVEY "keep right side small" contract made loud (scaling
    numbers in operators/containment.py)."""
    from prohap_spark.operators.containment import containment_join

    d = table(spark, sf_dir, "documents")
    probes = d.where((F.col("doc_id") % 10 == 0) & (F.length("text") >= 40)).select(
        F.col("doc_id").alias("probe_id"), F.substring("text", 8, 25).alias("probe")
    )
    joined = containment_join(
        d, probes, "text", "probe", extra_cond=F.col("doc_id") != F.col("probe_id")
    )
    return joined.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_hosts"))


@register(
    "f12_liftover_artifact_filter",
    """
    SELECT doc_id FROM documents
    WHERE substr(text, 3, 5) <> 'alpha'
    """,
)
def f12_liftover_artifact_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 shape: drop rows whose target slice already equals the
    replacement (process_haplotypes.py:170-213) — a substring-equality
    predicate."""
    d = table(spark, sf_dir, "documents")
    return d.where(F.substring("text", 3, 5) != "alpha").select("doc_id")


# stream_session_window + stream_sliding_window are registered as one
# query, stream_window_board. The singleton callables stay the
# library surface; the sliding leg's gate also hardens from a double
# total_value to exact integer cents.
_SESSION_WINDOW_SQL = """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 3600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM g
    )
    SELECT user_id, epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + 3600000000 AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 session windows, batch-checkable: F.session_window(ts, 1h)
    must equal the gaps-and-islands oracle (events closer than the gap
    merge; window end = last event + gap). The same expression runs
    under readStream (prohap_spark.streaming.session_windows)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


_SLIDING_WINDOW_SQL = """
    WITH slides AS (SELECT unnest(range(0, 2)) AS k)
    SELECT epoch_us(date_trunc('hour', ts - to_microseconds((k * 1800000000)::BIGINT))) + k * 1800000000 AS window_start_us,
           count(*) AS n,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS total_cents
    FROM events, slides
    WHERE epoch_us(date_trunc('hour', ts - to_microseconds((k * 1800000000)::BIGINT))) + k * 1800000000 <= epoch_us(ts)
    GROUP BY 1
    """


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 sliding window (1 h size, 30 min slide) in batch-checkable
    form: each event lands in 2 overlapping windows. Value column is
    exact integer cents (r12 — no double reaches the board's hash)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5))).alias("total_cents"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n",
            "total_cents",
        )
    )


@register(
    "stream_window_board",
    f"""
    SELECT 'session' AS leg, user_id AS uid, session_start_us AS start_us,
           session_end_us AS end_us, n_events AS n,
           CAST(NULL AS BIGINT) AS cents
    FROM ({_SESSION_WINDOW_SQL})
    UNION ALL
    SELECT 'sliding' AS leg, CAST(NULL AS BIGINT) AS uid,
           window_start_us AS start_us,
           window_start_us + 3600000000 AS end_us, n,
           total_cents AS cents
    FROM ({_SLIDING_WINDOW_SQL})
    UNION ALL
    SELECT 'outer_join' AS leg, c.user_id AS uid,
           epoch_us(c.ts) AS start_us, CAST(NULL AS BIGINT) AS end_us,
           c.event_id AS n, v.event_id AS cents
    FROM (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND v.ts <= c.ts
     AND v.ts >= c.ts - INTERVAL 1 HOUR
    UNION ALL
    SELECT 'transcript' AS leg, user_id AS uid, day AS start_us,
           CAST(NULL AS BIGINT) AS end_us, count(*) AS n,
           CAST(list_reduce(list_transform(range(1, 9),
                i -> CAST(strpos('0123456789abcdef',
                     substr(md5(string_agg(item, ' '
                            ORDER BY ts_us, event_id)), i, 1)) - 1 AS BIGINT)),
                (a, b) -> a * 16 + b) AS BIGINT) AS cents
    FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                 epoch_us(ts) AS ts_us, event_id,
                 event_type || '@' || CAST(epoch_us(ts) AS VARCHAR) AS item
          FROM events)
    GROUP BY user_id, day
    """,
)
def stream_window_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 session + sliding windows on one correctness board (the
    r12 merge of stream_session_window + stream_sliding_window — see
    the note above _SESSION_WINDOW_SQL). Both legs are the exact
    batch-checkable twins of the readStream expressions in
    prohap_spark/streaming/: F.session_window(ts, 1h) against the
    gaps-and-islands oracle, F.window(ts, 1h, 30m) against the
    explicit 2-slide replay, sliding totals as exact integer cents.
    Harness note: the board unions the two standalone operators, so
    events is scanned once per leg — a gate-SF correctness union; each
    leg's production shape is the single-scan singleton above."""
    sess = stream_session_window(spark, sf_dir).select(
        F.lit("session").alias("leg"),
        F.col("user_id").cast("long").alias("uid"),
        F.col("session_start_us").alias("start_us"),
        F.col("session_end_us").alias("end_us"),
        F.col("n_events").alias("n"),
        F.lit(None).cast("long").alias("cents"),
    )
    slid = stream_sliding_window(spark, sf_dir).select(
        F.lit("sliding").alias("leg"),
        F.lit(None).cast("long").alias("uid"),
        F.col("window_start_us").alias("start_us"),
        (F.col("window_start_us") + F.lit(3600000000).cast("long")).alias("end_us"),
        "n",
        F.col("total_cents").cast("long").alias("cents"),
    )
    # outer_join leg (r13): the stream-stream LEFT-OUTER interval
    # self-join (streaming/events.py click_view_attribution_outer) in
    # its batch-checkable form — unattributed clicks emit NULL-view
    # rows the inner-join leg of stream_click_attribution drops; the
    # watermark-eviction streaming run is parity-pinned in
    # tests/test_streaming.py.
    from prohap_spark.streaming.events import click_view_attribution_outer

    ev = table(spark, sf_dir, "events")
    outer = click_view_attribution_outer(ev, lookback="1 hour").select(
        F.lit("outer_join").alias("leg"),
        F.col("user_id").cast("long").alias("uid"),
        F.col("click_ts_us").alias("start_us"),
        F.lit(None).cast("long").alias("end_us"),
        F.col("click_id").cast("long").alias("n"),
        F.col("view_id").cast("long").alias("cents"),
    )
    # transcript leg (r13): SFT-style transcript assembly — event logs
    # become one ordered per-(user, day) training document. The digest
    # hashes the WHOLE assembled string under a deterministic total
    # order ((ts_us, event_id) — unique), so a misordered, dropped, or
    # duplicated turn anywhere hash-reds; DuckDB replays it with
    # string_agg(ORDER BY). One shuffle on the grouping key; the
    # document text never leaves its group (collect_list is per-group,
    # the 100 TB shape for corpus assembly from interaction logs).
    evd = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.concat(
            F.col("event_type"), F.lit("@"), F.unix_micros("ts").cast("string")
        ).alias("item"),
    )
    transcript = (
        evd.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.conv(
                F.substring(
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.array_sort(
                                    F.collect_list(
                                        F.struct("ts_us", "event_id", "item")
                                    )
                                ),
                                lambda s: s["item"],
                            ),
                            " ",
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("cents"),
        )
        .select(
            F.lit("transcript").alias("leg"),
            F.col("user_id").cast("long").alias("uid"),
            F.col("day").alias("start_us"),
            F.lit(None).cast("long").alias("end_us"),
            "n",
            "cents",
        )
    )
    return sess.unionByName(slid).unionByName(outer).unionByName(transcript)


def c_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions (§2.8 surplus — the reference parses its ad-hoc
    key:value formats by regex; proper JSON is the free upgrade):
    from_json with an explicit schema, typed field access."""
    ev = table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "struct<k:int>")
    return ev.select(
        "event_id",
        parsed["k"].alias("k"),
        F.when(parsed["k"] > 50, "high").otherwise("low").alias("bucket"),
    )


@register(
    "c_scalar_board",
    """
    SELECT 'math' AS leg, p_partkey AS k,
           CAST(floor(p_retailprice / 3) AS BIGINT) AS i1,
           CAST(ceil(p_retailprice / 3) AS BIGINT)  AS i2,
           CAST(p_size % 3 AS BIGINT) AS i3,
           printf('%x', p_partkey * 7) AS s1,
           md5(p_name) AS s2,
           format('{:.5f}', round(p_retailprice / 7, 5)) AS s3
    FROM part
    UNION ALL
    SELECT 'regex' AS leg, o_orderkey AS k,
           CAST(generate_subscripts(regexp_split_to_array(o_orderpriority, '[-_ ]'), 1) - 1 AS BIGINT) AS i1,
           CAST(NULL AS BIGINT) AS i2, CAST(NULL AS BIGINT) AS i3,
           unnest(regexp_split_to_array(o_orderpriority, '[-_ ]')) AS s1,
           CAST(NULL AS VARCHAR) AS s2, CAST(NULL AS VARCHAR) AS s3
    FROM orders
    WHERE o_orderkey < 1000
    UNION ALL
    SELECT 'json' AS leg, event_id AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) AS i1,
           CAST(NULL AS BIGINT) AS i2, CAST(NULL AS BIGINT) AS i3,
           CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50 THEN 'high' ELSE 'low' END AS s1,
           CAST(NULL AS VARCHAR) AS s2, CAST(NULL AS VARCHAR) AS s3
    FROM events
    """,
)
def c_scalar_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 scalar-surface board — the singletons ``c_math_hash`` +
    ``c2_regex_split_explode`` + ``c_json_extract`` registered as one
    query: three independent legs over three tables, mapped onto one
    generic (leg, k, i1-i3, s1-s3) schema with the other legs' columns
    NULL — every value each singleton hashed still flows into the value
    hash. The original callables remain the library
    surface above (docstrings carry the reference citations)."""
    NB, NS = F.lit(None).cast("long"), F.lit(None).cast("string")

    math_leg = c_math_hash(spark, sf_dir).select(
        F.lit("math").alias("leg"),
        F.col("p_partkey").cast("long").alias("k"),
        F.col("fl").alias("i1"),
        F.col("ce").alias("i2"),
        F.col("pm").cast("long").alias("i3"),
        F.col("hex7").alias("s1"),
        F.col("name_md5").alias("s2"),
        F.col("fixed5").alias("s3"),
    )
    regex_leg = c2_regex_split_explode(spark, sf_dir).select(
        F.lit("regex").alias("leg"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("part_idx").cast("long").alias("i1"),
        NB.alias("i2"),
        NB.alias("i3"),
        F.col("part_str").alias("s1"),
        NS.alias("s2"),
        NS.alias("s3"),
    )
    json_leg = c_json_extract(spark, sf_dir).select(
        F.lit("json").alias("leg"),
        F.col("event_id").cast("long").alias("k"),
        F.col("k").cast("long").alias("i1"),
        NB.alias("i2"),
        NB.alias("i3"),
        F.col("bucket").alias("s1"),
        NS.alias("s2"),
        NS.alias("s3"),
    )
    return math_leg.unionByName(regex_leg).unionByName(json_leg)


@register(
    "sql_api_q6",
    """
    SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_api_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API parity: the same Catalyst plan from spark.sql() text
    (TPC-H-Q6 shape — pure scan-side predicate reduction).

    r15: the hashed surface is the exact BIGINT ``revenue_e4`` (cents x
    cents units). r13's integer sweep (199550d) rewrote the aggregate
    to exact integer units but then divided by 10000.0 on the hashed
    output — re-manufacturing a double at the last step, exactly the
    gate class the sweep existed to remove; the r14 driver red
    (rows/schema green, hash red) was that division. A dollar figure,
    if wanted, is `revenue_e4 / 1e4` OUTSIDE the hashed surface."""
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_v")
    # the temp view lives in the engine child session's catalog — issue
    # the SQL there, not on the caller session
    return li.sparkSession.sql(
        """
        SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
               count(*) AS n
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@register(
    "stream_live_session_windows",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 3600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM g
    )
    SELECT user_id, epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + 3600000000 AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_live_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run checked against the SQL oracle:
    events → file-source readStream → session_window aggregation →
    memory sink (complete mode, availableNow trigger) — the result the
    stream produces must hash-equal the batch gaps-and-islands SQL.
    The µs-normalized events are materialized once per sf under /tmp
    (the file stream needs a fixed schema the nanos parquet can't give)."""
    import os

    from prohap_spark.queries.registry import events_table
    from prohap_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        session_windows,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = f"/tmp/prohap_stream_events_{tag}"
    if not os.path.exists(f"{d}/_SUCCESS"):
        events_table(spark, sf_dir).write.mode("overwrite").parquet(d)
    stream = session_windows(read_event_stream(spark, d, max_files_per_trigger=64))
    run_to_memory_sink(stream, "live_session_out", output_mode="complete")
    out = spark.sql("SELECT * FROM live_session_out")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


@register(
    "stream_stateful_user_stats",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value,
           epoch_us(max(ts)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState)
    checked against the SQL oracle: the events stream is deliberately
    split into 4 files consumed one per micro-batch, so per-user state
    MUST survive batch boundaries for the final cumulative emission to
    equal the batch aggregate the oracle computes. The update-mode
    memory sink keeps every batch's emission; the final row per user is
    the one with the highest n_events (cumulative counts are strictly
    increasing). total_value is EXACT: the state kernel accumulates
    integer cents (floor(v*100+0.5) — correctly-rounded IEEE ops on
    identical doubles), so the cumulative emission equals the oracle's
    sum bit-for-bit at any batch split; no rounding, no tolerance
    (r12 sweep of the reassociated-float gate class)."""
    import os

    from pyspark.sql import Window

    from prohap_spark.queries.registry import events_table
    from prohap_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        stateful_user_stats,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = f"/tmp/prohap_stream_events_x4_{tag}"
    if not os.path.exists(f"{d}/_SUCCESS"):
        events_table(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(d)
    stream = stateful_user_stats(read_event_stream(spark, d, max_files_per_trigger=1))
    run_to_memory_sink(stream, "stateful_user_out", output_mode="update")
    out = spark.sql("SELECT * FROM stateful_user_out")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            "total_value",
            "last_ts_us",
        )
    )


# the streaming-quantile leg's universe: qhist over events.value
# (observed range ~[0, 500) at every SF; values outside clamp to the
# edge buckets identically in both engines)
_SSB_QLO, _SSB_QHI, _SSB_QN, _SSB_QS = 0.0, 500.0, 256, (0.25, 0.5, 0.75)


def _stream_sketch_duckdb_sql() -> str:
    from prohap_spark.functions.sketches import _md5_window_sql, hll_oracle_sql

    d, w, th = 4, 256, 10
    qb = (
        f"CAST(least(greatest(floor((CAST(v AS DOUBLE) - {_SSB_QLO}) "
        f"* {float(_SSB_QN)} / ({_SSB_QHI} - {_SSB_QLO})), 0), "
        f"{_SSB_QN - 1}) AS BIGINT)"
    )
    q_values = ", ".join(f"({float(q)})" for q in _SSB_QS)
    pos_legs = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, {_md5_window_sql('tok', 1 + 4 * j, 4)} % {w} AS idx FROM toks"
        for j in range(d)
    )
    cand_legs = "\n      UNION ALL ".join(
        f"SELECT tok, {j} AS j, {_md5_window_sql('tok', 1 + 4 * j, 4)} % {w} AS idx FROM cand"
        for j in range(d)
    )
    return f"""
    WITH hll AS ({hll_oracle_sql("events", "event_type", "user_id")}),
    grp AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY 1
    ),
    toks AS (SELECT CAST(event_type AS VARCHAR) AS tok FROM events),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    cms AS (
      SELECT j, idx, count(*) AS cnt FROM (
      {pos_legs}
      ) GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT tok FROM toks),
    pe AS (
      {cand_legs}
    ),
    est AS (
      SELECT tok, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
      FROM pe LEFT JOIN cms c USING (j, idx)
      GROUP BY tok
    ),
    qvals AS (SELECT event_type AS g, value AS v FROM events),
    qhist AS (
      SELECT g, {qb} AS qb, CAST(count(*) AS BIGINT) AS qn
      FROM qvals GROUP BY 1, 2
    ),
    qtot AS (SELECT g, CAST(sum(qn) AS BIGINT) AS n_rows FROM qhist GROUP BY 1),
    qqs(q) AS (VALUES {q_values}),
    qtq AS (
      SELECT g, n_rows, q, CAST(ceil(q * n_rows) AS BIGINT) AS target
      FROM qtot, qqs
    ),
    qcum AS (
      SELECT g, qb,
             CAST(sum(qn) OVER (PARTITION BY g ORDER BY qb
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM qhist
    ),
    qskb AS (
      SELECT t.g, t.q, t.n_rows, min(c.qb) AS bucket
      FROM qtq t JOIN qcum c ON t.g = c.g AND c.cum >= t.target
      GROUP BY 1, 2, 3
    )
    SELECT 'hll' AS leg, hll.event_type AS key, hll.hll_est AS est,
           CAST(hll.hll_zero_registers AS BIGINT) AS aux, grp.n_rows
    FROM hll JOIN grp USING (event_type)
    UNION ALL
    SELECT 'cms' AS leg, tok AS key, est,
           CAST(NULL AS BIGINT) AS aux, tot.n AS n_rows
    FROM est, tot WHERE est >= {th}
    UNION ALL
    SELECT 'qh' AS leg,
           g || '@' || CAST(CAST(q * 100 AS BIGINT) AS VARCHAR) AS key,
           bucket AS est, CAST(q * 100 AS BIGINT) AS aux, n_rows
    FROM qskb
    """


@register("stream_sketch_board", _stream_sketch_duckdb_sql())
def stream_sketch_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch state ops on the correctness board (r10's
    streaming/events.py stateful_distinct_hll + stateful_heavy_hitters
    _cms, previously pytest-only): both run as REAL
    applyInPandasWithState streams over the 4-file event source (one
    file per micro-batch, so sketch state MUST survive batch
    boundaries), and the FINAL cumulative emission must equal the
    batch sketch replayed by the DuckDB oracle — the HLL leg
    bit-exactly (same 60-bit md5 hash, integer estimator, linear-
    counting branch), the CMS leg under the same d=4 x w=256 md5
    counter addressing with threshold 10, and (r11 tail) the QH leg —
    stateful_quantiles, the streaming face of the qhist distribution
    sketch — answering p25/p50/p75 bucket indices per event_type from
    a fixed 256-counter state, equal to the batch qhist replay.
    Bounded state is the whole point: 64 ints per group / d*w
    counters / 256 counters per group, whatever the stream length."""
    import os

    from pyspark.sql import Window

    from prohap_spark.queries.registry import events_table
    from prohap_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        stateful_distinct_hll,
        stateful_heavy_hitters_cms,
        stateful_quantiles,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = f"/tmp/prohap_stream_events_x4_{tag}"
    if not os.path.exists(f"{d}/_SUCCESS"):
        events_table(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(d)

    # the three sketch streams are independent (separate memory sinks,
    # separate state stores) — run them CONCURRENTLY; each still
    # consumes its 4 micro-batches in order, so the state-across-
    # batches property under test is untouched, the wall just overlaps
    # (~2.5x on the gate box)
    import concurrent.futures as _cf

    hll_stream = stateful_distinct_hll(
        read_event_stream(spark, d, max_files_per_trigger=1)
    )
    cms_stream = stateful_heavy_hitters_cms(
        read_event_stream(spark, d, max_files_per_trigger=1),
        token_col="event_type",
        threshold=10,
        d=4,
        w=256,
    )
    qh_stream = stateful_quantiles(
        read_event_stream(spark, d, max_files_per_trigger=1),
        group_col="event_type",
        value_col="value",
        lo=_SSB_QLO,
        hi=_SSB_QHI,
        n_buckets=_SSB_QN,
        qs=_SSB_QS,
    )
    with _cf.ThreadPoolExecutor(3) as ex:
        futs = [
            ex.submit(run_to_memory_sink, s, n, "update")
            for s, n in (
                (hll_stream, "sketch_hll_out"),
                (cms_stream, "sketch_cms_out"),
                (qh_stream, "sketch_qh_out"),
            )
        ]
        for f in futs:
            f.result()

    # update mode keeps every batch's emission; per group the FINAL
    # one is the row with the highest cumulative n_rows
    w_h = Window.partitionBy("event_type").orderBy(F.col("n_rows").desc())
    hll_leg = (
        spark.sql("SELECT * FROM sketch_hll_out")
        .withColumn("__rn", F.row_number().over(w_h))
        .where(F.col("__rn") == 1)
        .select(
            F.lit("hll").alias("leg"),
            F.col("event_type").alias("key"),
            F.col("hll_est").alias("est"),
            F.col("hll_zero_registers").cast("long").alias("aux"),
            "n_rows",
        )
    )

    # single global group: the final batch's rows carry the max n_rows
    w_c = Window.partitionBy("token").orderBy(F.col("n_rows").desc())
    cms_leg = (
        spark.sql("SELECT * FROM sketch_cms_out")
        .withColumn("__rn", F.row_number().over(w_c))
        .where(F.col("__rn") == 1)
        .select(
            F.lit("cms").alias("leg"),
            F.col("token").alias("key"),
            "est",
            F.lit(None).cast("long").alias("aux"),
            "n_rows",
        )
    )

    # per (group, q) the final cumulative emission carries the max n
    w_q = Window.partitionBy("event_type", "q").orderBy(F.col("n_rows").desc())
    qh_leg = (
        spark.sql("SELECT * FROM sketch_qh_out")
        .withColumn("__rn", F.row_number().over(w_q))
        .where(F.col("__rn") == 1)
        .select(
            F.lit("qh").alias("leg"),
            F.concat(
                F.col("event_type"),
                F.lit("@"),
                (F.col("q") * 100).cast("long").cast("string"),
            ).alias("key"),
            F.col("bucket").alias("est"),
            (F.col("q") * 100).cast("long").alias("aux"),
            "n_rows",
        )
    )
    return hll_leg.unionByName(cms_leg).unionByName(qh_leg)
