"""Driver-visible checks for the remaining source/sink/filter surface
(SURVEY §2.1 S2/S7/S10 + §2.2 F2) that previously lived only in
pytest:

- S7/S6/C15: gz TSV sink → glob re-read (S2) round trip with the
  reference's ';'-list and 'KEY:0.00000'-map boundary encodings;
- S10/F3: chromosome-partitioned parquet sink + partition-pruned read;
- F2: allele-validity filter over a deliberately poisoned variant set.

Each oracle recomputes the expected survivors/digests straight from
the source tables, so a sink, parser, encoding, or filter defect
breaks the hash match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.functions.encodings import freq_map_to_string
from prohap_spark.queries.registry import register, table

from prohap_spark.pipeline.synthetic import COHORT_BASE

_DIR = f"{COHORT_BASE}_s1"
# sink dirs are pid-suffixed: two harnesses (driver, tools/check.py,
# tools/plan_audit.py) may run the same roundtrip query concurrently,
# and a shared path lets one clobber the other mid-write
_RT_TSV = f"/tmp/prohap_rt_tsv_{os.getpid()}"
_RT_CANON = f"/tmp/prohap_rt_canon_{os.getpid()}"

# the pid-suffixed dirs would otherwise accumulate across runs —
# remove this process's dirs on exit (best-effort)
import atexit as _atexit
import shutil as _shutil

for _d in (_RT_TSV, _RT_CANON):
    _atexit.register(_shutil.rmtree, _d, True)


@register(
    "s7_tsv_gz_roundtrip",
    # map values are k/32 (k in 0..31): dyadic, terminate within 5
    # decimal digits, so Spark's format_number(v, 5) and DuckDB's
    # printf('%.5f', v) agree with NO rounding ambiguity — the freq
    # string comparison is exact
    """
    WITH per_flag AS (
      SELECT l_orderkey, l_returnflag,
             CAST(sum(CAST(l_quantity AS BIGINT)) % 32 AS DOUBLE) / 32 AS v
      FROM lineitem GROUP BY l_orderkey, l_returnflag
    ),
    per_order AS (
      SELECT l_orderkey,
             string_agg(l_returnflag || ':' || printf('%.5f', v), ';'
                        ORDER BY l_returnflag) AS freq_str
      FROM per_flag GROUP BY l_orderkey
    ),
    ln AS (
      SELECT l_orderkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             md5(array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))), ';'))
               AS ln_md5
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT ln.l_orderkey AS o_orderkey, n_lines, ln_md5, freq_str
    FROM ln JOIN per_order USING (l_orderkey)
    """,
)
def s7_tsv_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 gz TSV sink → S2 glob re-read → S6 parse round trip with the
    boundary encodings (C15): per-order array (';'-joined linenumbers)
    and frequency-map ('FLAG:0.00000;...') columns serialized by
    write_tsv, re-read through an explicit ``part-*.csv.gz`` glob, and
    deserialized back to typed columns. The projection re-serializes
    the parsed map, so a defect in EITHER direction of the encoding
    (or in gz/glob/header handling) surfaces."""
    from prohap_spark.sources.tsv import read_tsv, write_tsv

    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_orderkey", "l_returnflag").agg(
        ((F.sum(F.col("l_quantity").cast("bigint")) % 32).cast("double") / 32).alias("v")
    )
    per_order = per_flag.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct(F.col("l_returnflag").alias("key"), F.col("v").alias("value")))
            )
        ).alias("flag_freq")
    )
    lines = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.col("l_linenumber").cast("string"))).alias("linenumbers")
    )
    write_tsv(lines.join(per_order, "l_orderkey"), _RT_TSV, compress=True)

    rt = read_tsv(
        spark,
        _RT_TSV + "/part-*.csv.gz",
        array_cols=["linenumbers"],
        map_cols=["flag_freq"],
    )
    return rt.select(
        F.col("l_orderkey").cast("long").alias("o_orderkey"),
        F.size("linenumbers").cast("long").alias("n_lines"),
        F.md5(F.array_join("linenumbers", ";")).alias("ln_md5"),
        freq_map_to_string(F.col("flag_freq")).alias("freq_str"),
    )


@register(
    "s10_partitioned_prune",
    f"""
    SELECT chrom, pos, id, ref, alt, af,
           md5(array_to_string(genotypes, ',')) AS gt_md5
    FROM read_parquet('{_DIR}/variants/*.parquet')
    WHERE chrom = 'X'
    """,
)
def s10_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 chromosome-partitioned parquet sink (partitionBy('chrom') +
    position-sort within partitions — the reference's per-chromosome
    grep split, Snakefile:118-135, as a storage-layout property) then
    an F3 chromosome read that Catalyst satisfies by PARTITION PRUNING
    (the chrom=1 directory is never opened; pinned in
    tests/test_plans.py). Digest-compared against the cohort truth."""
    from prohap_spark.pipeline.synthetic import materialized_cohort
    from prohap_spark.sources.canonicalize import canonicalize_variants, read_canonical

    variants, *_ = materialized_cohort(spark, scale=1)
    canonicalize_variants(variants, _RT_CANON)
    rt = read_canonical(spark, _RT_CANON, chrom="X")
    return rt.select(
        "chrom",
        "pos",
        "id",
        "ref",
        "alt",
        "af",
        F.md5(F.concat_ws(",", "genotypes")).alias("gt_md5"),
    )


@register(
    "f2_allele_validity",
    f"""
    WITH p AS (
      SELECT chrom, pos, id,
             CASE WHEN pos % 17 = 0 THEN '<DEL>' ELSE ref END AS ref,
             CASE WHEN pos % 13 = 0 THEN 'N'
                  WHEN pos % 19 = 0 THEN '-'
                  ELSE alt END AS alt
      FROM read_parquet('{_DIR}/variants/*.parquet')
    )
    SELECT chrom, pos, id, ref, alt FROM p
    WHERE (regexp_matches(ref, '^[ACGTacgt]+$') OR ref = '-')
      AND (regexp_matches(alt, '^[ACGTacgt]+$') OR alt = '-')
    """,
)
def f2_allele_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 allele-validity gate (vcf_reader.py:24-29 semantics): the
    cohort variant set is poisoned with symbolic alleles ('N', '<DEL>')
    and deletion markers ('-') on deterministic positions, then passed
    through filter_valid_alleles — '-' must SURVIVE, 'N'/'<DEL>' must
    not. The oracle re-derives the survivor set with the same regex."""
    from prohap_spark.pipeline.synthetic import materialized_cohort
    from prohap_spark.sources.vcf import filter_valid_alleles

    variants, *_ = materialized_cohort(spark, scale=1)
    poisoned = variants.withColumn(
        "alt",
        F.when(F.col("pos") % 13 == 0, F.lit("N"))
        .when(F.col("pos") % 19 == 0, F.lit("-"))
        .otherwise(F.col("alt")),
    ).withColumn(
        "ref",
        F.when(F.col("pos") % 17 == 0, F.lit("<DEL>")).otherwise(F.col("ref")),
    )
    return filter_valid_alleles(poisoned).select("chrom", "pos", "id", "ref", "alt")


_RT_JSONL = f"/tmp/prohap_rt_jsonl_{os.getpid()}"
_atexit.register(_shutil.rmtree, _RT_JSONL, True)


@register(
    "s13_jsonl_roundtrip",
    # the oracle recomputes the expected projection straight from the
    # source table — any JSONL serialization/parse defect (nested
    # struct, string array, unicode escaping, gz/glob handling) breaks
    # the hash
    """
    SELECT doc_id,
           source, lang,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens,
           md5(text) AS text_md5,
           md5(array_to_string(string_split(trim(text), ' ')[1:3], '|')) AS head_md5
    FROM documents
    """,
)
def s13_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink → glob re-read round trip: the LLM-corpus
    interchange format (one JSON object per line, gzipped shards).
    Each document is written with a NESTED meta struct and a token
    head array, re-read with an EXPLICIT schema (schema-on-read
    discipline — at 100 TB you never let Spark infer a schema by
    scanning the corpus twice), and projected back to digests the
    oracle recomputes from the source parquet. Writing is
    embarrassingly parallel (one shard per task, no shuffle)."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), " ")
    staged = d.select(
        "doc_id",
        F.struct(F.col("source"), F.col("lang")).alias("meta"),
        F.slice(ws, 1, 3).alias("head"),
        "text",
    )
    staged.write.mode("overwrite").option("compression", "gzip").json(_RT_JSONL)

    schema = (
        "doc_id bigint, meta struct<source:string, lang:string>, "
        "head array<string>, text string"
    )
    rt = spark.read.schema(schema).json(_RT_JSONL + "/part-*.json.gz")
    return rt.select(
        "doc_id",
        F.col("meta.source").alias("source"),
        F.col("meta.lang").alias("lang"),
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tokens"),
        F.md5("text").alias("text_md5"),
        F.md5(F.array_join("head", "|")).alias("head_md5"),
    )
