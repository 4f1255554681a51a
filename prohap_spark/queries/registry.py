from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# engine child sessions, one per caller session (keyed by the caller's
# id) — conf tweaks live on the child, never on the caller's session
_ENGINE_SESSIONS: dict[int, SparkSession] = {}


def engine_session(spark: SparkSession) -> SparkSession:
    """A child SparkSession (same SparkContext, isolated SQL conf) with
    the engine's required settings: UTC session timezone (so
    TIMESTAMP_NTZ→TIMESTAMP casts match the TZ-naive DuckDB oracle
    regardless of the caller's zone) and nanos-as-long parquet reads.
    Queries run on the CALLER's session (the driver's, not ours) —
    mutating its conf would leak engine settings into user code; a
    returned DataFrame executes under its OWN session's conf, so the
    isolation is free."""
    key = id(spark)
    child = _ENGINE_SESSIONS.get(key)
    if child is None:
        child = spark.newSession()
        child.conf.set("spark.sql.session.timeZone", "UTC")
        child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # see session.py: the inferred size(e)>0 filter below a Generate
        # re-inlines expensive computed-array expressions (-20% on the
        # LSH family); the driver's vanilla session doesn't set this,
        # so the engine child must
        child.conf.set(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # AQE + skew-join splitting pinned HERE, not just in the
        # session factory: the r8 skew probe (tools/skew_join_probe.py)
        # measured unmitigated skewed SMJ at ~6x the AQE-split wall AND
        # found that confs set on a PARENT session at runtime never
        # reach frames planned on this child — so the mitigation the
        # engine relies on must be pinned on the session its frames
        # actually execute under, independent of the caller's conf
        # (tests/test_plans.py pins the inheritance).
        for k_, v_ in (
            ("spark.sql.adaptive.enabled", "true"),
            ("spark.sql.adaptive.skewJoin.enabled", "true"),
            ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
            # byte-blind coalescing serializes small-byte/expensive-row
            # Arrow kernel stages behind one task — the same floor as
            # session.py, which explains it
            ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb"),
        ):
            child.conf.set(k_, v_)
        _ENGINE_SESSIONS[key] = child
    return child


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events_table(spark, sf_dir)
    return engine_session(spark).read.parquet(f"{sf_dir}/{name}.parquet")


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events table's ts column to TIMESTAMP (TZ-aware,
    UTC engine session) regardless of how the upstream parquet encodes
    it — upstream schema drift is a fact of life for an ingestion
    layer. Handled encodings:
      - int64 nanos (pre-r3 data): legacy nanosAsLong read + div 1000
      - timestamp[us] without TZ (TIMESTAMP_NTZ, r3+ data): cast to
        TIMESTAMP — the engine child session is pinned to UTC, so the
        cast preserves the instant and matches the TZ-naive DuckDB
        oracle
      - timestamp[us] with TZ: already what we want"""
    df = engine_session(spark).read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn("ts", normalize_ts(df, "ts"))


def normalize_ts(df: DataFrame, colname: str):
    """Column expression normalizing an event-time column to TIMESTAMP
    under the UTC engine session (see events_table)."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(colname)
    if dt == "bigint":
        # integer division — ns values exceed 2^53, double division
        # would corrupt the low microseconds
        return F.timestamp_micros(F.expr(f"{colname} div 1000"))
    if dt == "timestamp_ntz":
        return F.col(colname).cast("timestamp")
    return F.col(colname)
