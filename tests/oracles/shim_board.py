"""S14/S15 source-shim board: the two preprocessing shims (reference
src/csv_to_vcf.py:33-44 and peptide_annotation/src/fix_headers.py:50-90)
composed with their sinks/readers into ONE oracle-checked roundtrip.

Leg 'vcf' (S14 + S9 + S1): a deterministic custom-variant table built
from ``part`` runs csv_to_vcf → write_vcf (sample-less — the shim's
own output shape) → read_vcf; the oracle computes the same five-column
mapping with dot-filled QUAL/FILTER/INFO/FORMAT straight from the
parquet. Any drift in the shim's column mapping, the sink's tab
layout, or the reader's core parse breaks the value hash.

Leg 'fasta' (S15 + S8 + S5): a deterministic four-case header table
built from ``documents`` (untagged / already-tagged / generic /
custom-tag; with and without ENST descriptions and pre-existing
matching_proteins fields — every branch of fix_headers) runs
normalize_fasta_headers(tag='_ensref', use_enst=True) → write_fasta →
read_fasta; the oracle replicates the normalization rules in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tests.oracles import register

_SHIM_ORACLE = """
    SELECT 'vcf' AS leg,
           CAST(p_partkey AS BIGINT) AS k,
           'chr' || CAST(p_partkey % 5 AS VARCHAR) AS c1,
           'var' || CAST(p_partkey AS VARCHAR) AS c2,
           substr('ACGT', 1 + (p_partkey % 4), 1) AS c3,
           substr('ACGT', 1 + ((p_partkey + 1) % 4), 1) AS c4,
           './././.' AS c5
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT 'fasta' AS leg,
           CAST(length(seq) AS BIGINT) AS k,
           CASE WHEN doc_id % 4 = 1 THEN 'generic_sp'
                WHEN doc_id % 4 = 3 THEN 'generic_tr'
                ELSE 'generic_ensref' END AS c1,
           acc2 AS c2,
           CASE WHEN doc_id % 4 = 1 THEN 'matching_proteins:Q999'
                WHEN doc_id % 4 = 3 THEN 'matching_proteins:' || acc2
                ELSE desc0 || ' matching_proteins:' || acc2 END AS c3,
           md5(seq) AS c4,
           CAST(NULL AS VARCHAR) AS c5
    FROM (
      SELECT doc_id,
             upper(substr(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 80)) AS seq,
             CASE WHEN doc_id % 2 = 0
                  THEN 'transcript ENST' || CAST(100000 + doc_id AS VARCHAR) || '.4'
                  ELSE '' END AS desc0,
             CASE WHEN doc_id % 2 = 0
                  THEN 'ENST' || CAST(100000 + doc_id AS VARCHAR)
                  ELSE 'P' || CAST(doc_id AS VARCHAR) END AS acc2
      FROM documents WHERE doc_id < 200
    ) WHERE length(seq) > 0
    """


@register("s14_s15_shim_board", _SHIM_ORACLE, tables=("part", "documents"), writes=True)
def s14_s15_shim_board(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """See module docstring. Unified (leg, k, c1..c5) schema:
    vcf leg — k=pos, c1=chrom, c2=id, c3=ref, c4=alt,
    c5=qual/filter/info/format; fasta leg — k=sequence length,
    c1=tag, c2=accession, c3=description, c4=md5(sequence)."""
    from prohap_spark.sources.fasta import (
        normalize_fasta_headers,
        read_fasta,
        write_fasta,
    )
    from prohap_spark.sources.vcf import csv_to_vcf, read_vcf, write_vcf

    vcf_dir = f"{out_dir}/vcf"
    fasta_dir = f"{out_dir}/fasta"

    # --- S14 leg: custom-variant CSV shape -> VCF -> text -> parse ---
    p = spark.read.parquet(f"{sf_dir}/part.parquet").where(F.col("p_partkey") < 500)
    custom = p.select(
        F.concat(F.lit("chr"), F.pmod("p_partkey", F.lit(5)).cast("string")).alias("chrom"),
        F.col("p_partkey").cast("long").alias("pos"),
        F.concat(F.lit("var"), F.col("p_partkey").cast("string")).alias("accession"),
        F.expr("substring('ACGT', 1 + pmod(p_partkey, 4), 1)").alias("ref"),
        F.expr("substring('ACGT', 1 + pmod(p_partkey + 1, 4), 1)").alias("alt"),
    )
    # --- S15 leg input (built before the writes so BOTH sink
    # roundtrips run concurrently: independent dirs, independent
    # lineages — the ~16 s build wall is two sequential small-file
    # sink paths, threading halves it) ---
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").where(F.col("doc_id") < 200)
    m4, m2 = F.pmod("doc_id", F.lit(4)), F.pmod("doc_id", F.lit(2))
    enst_acc = F.concat(F.lit("ENST"), (F.col("doc_id") + 100000).cast("string"))
    raw = d.select(
        F.when(m4 == 1, "sp").when(m4 == 3, "tr").when(m4 == 2, "generic")
        .otherwise("").alias("tag"),
        F.concat(F.lit("P"), F.col("doc_id").cast("string")).alias("accession"),
        F.when(m2 == 0, F.concat(F.lit("transcript "), enst_acc, F.lit(".4")))
        .when(m4 == 1, "matching_proteins:Q999")
        .otherwise("").alias("description"),
        F.upper(
            F.substring(F.regexp_replace(F.lower("text"), "[^a-z]", ""), 1, 80)
        ).alias("sequence"),
    ).where(F.length("sequence") > 0)

    import concurrent.futures as _cf

    with _cf.ThreadPoolExecutor(2) as ex:
        fv = ex.submit(write_vcf, csv_to_vcf(custom), vcf_dir)
        ff = ex.submit(
            write_fasta,
            normalize_fasta_headers(raw, tag="_ensref", use_enst=True),
            fasta_dir,
        )
        fv.result()
        ff.result()

    vcf_rt = read_vcf(spark, vcf_dir).select(
        F.lit("vcf").alias("leg"),
        F.col("pos").alias("k"),
        F.col("chrom").alias("c1"),
        F.col("id").alias("c2"),
        F.col("ref").alias("c3"),
        F.col("alt").alias("c4"),
        F.concat_ws("/", "qual", "filter", "info", "format").alias("c5"),
    )

    # --- S15 leg: the normalized table written above, read back ---
    fasta_rt = read_fasta(spark, fasta_dir).select(
        F.lit("fasta").alias("leg"),
        F.length("sequence").cast("long").alias("k"),
        F.col("tag").alias("c1"),
        F.col("accession").alias("c2"),
        F.col("description").alias("c3"),
        F.md5("sequence").alias("c4"),
        F.lit(None).cast("string").alias("c5"),
    )
    return vcf_rt.unionByName(fasta_rt)
