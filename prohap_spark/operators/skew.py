"""Skew-handling utilities (SURVEY §4 / §7.1.7).

Transcript groups in the reference data vary from 0 to thousands of
variants and chr1 is ~10× chr21 — classic shuffle skew. Two levers:

1. AQE skew-join splitting — pinned on BOTH the session factory and
   the engine child session (queries/registry.py engine_session):
   runtime confs set on a caller's parent session never reach frames
   planned on the child, so the engine pins them where its frames
   actually execute
   (regression test: tests/test_plans.py
   test_engine_child_session_pins_aqe_skew_confs);
2. explicit salting for skewed AGGREGATIONS and joins where AQE can't
   help (e.g. a groupBy whose hot key overwhelms one reducer): the
   two-phase salted aggregate below, and a salted broadcast-replicate
   join for hot build keys.

Mitigation hierarchy, measured at 32x scale with ~60% of rows on one
hot key: broadcast (skew never shuffles) > AQE
skew split (6.8 s) > salted join (8.9 s — pays small-side
replication) > nothing (40.1 s, single-straggler speed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


_MERGE_FNS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: phase 1 aggregates
    on (keys + salt) — spreading a hot key over ``n_salts`` reducers —
    phase 2 merges the partials on the true keys.

    ``aggs``: output_name -> (phase-1 aggregate expression, merge kind).
    Merge kind is one of 'sum' | 'count' | 'min' | 'max' — an explicit
    spec, because only the caller knows how its partials compose (no
    expression introspection / private-API sniffing)."""
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)))
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(f"__p1_{name}") for name, (expr, _kind) in aggs.items()]
    )
    merge = []
    for name, (_expr, kind) in aggs.items():
        if kind not in _MERGE_FNS:
            raise ValueError(f"unsupported merge kind {kind!r} for {name!r}")
        merge.append(_MERGE_FNS[kind](F.col(f"__p1_{name}")).alias(name))
    return phase1.groupBy(*keys).agg(*merge)


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Replicate-and-salt equi-join: the small side is replicated
    ``n_salts`` times (one copy per salt), the big side gets a random-
    but-deterministic salt from its row content, and the join runs on
    (keys + salt) — a hot key's rows spread over n_salts tasks.

    Use when the small side is too big to broadcast and the key
    histogram is too skewed for a plain shuffle join; AQE's skew split
    covers most other cases.
    """
    big_s = big.withColumn("__salt", F.pmod(F.xxhash64(*big.columns), F.lit(n_salts)))
    small_s = skewed_small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return big_s.join(small_s, on + ["__salt"], how).drop("__salt")


def spread_scan(df: DataFrame, *key_cols: str, n: int | None = None) -> DataFrame:
    """Input-skew fix (§2.5's third source: one unsplittable input).
    A single gzip file or one-row-group parquet table arrives as ONE
    scan split, so every map-side expression before the first exchange
    — however wide the cluster — runs on one core. Repartition such an
    input to cluster width BEFORE an expensive per-row stage; strictly
    a no-op when the input already arrives with >= ``n`` splits, which
    is the normal case at production scale (many files / row groups),
    so no exchange is ever added there.

    Locally the cost is one narrow exchange of the projected columns;
    the buy is core-count-wide evaluation of the downstream expression
    battery (measured r14: the quality+langid battery over the
    one-row-group documents table, 0.54 s -> 0.30 s at sf0.1 on 32
    cores). Only worth it when the per-row work dominates the moved
    bytes — the dedup operators' narrow explode stages A/B'd flat.

    Keyed repartition (hash on ``key_cols``) stays deterministic under
    task retries; keyless round-robin would additionally pay Spark's
    sort-before-repartition pass (SPARK-23207)."""
    sc = df.sparkSession.sparkContext
    target = n or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)
