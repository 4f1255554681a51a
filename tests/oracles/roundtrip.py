"""Source/sink round trips and the allele-validity filter: the Spark side
writes a fixture through the package's own VCF, GTF, FASTA, TSV or
partitioned-parquet sink into a fresh ``out_dir``, reads it back with
the matching reader and projects per-record digests; the SQL computes
the same digests straight from the fixture tables. A serializer or
parser defect anywhere in the loop (header conventions, sequence
wrapping, genotype tab layout, INFO AF re-extraction, the ';'-list and
'KEY:0.00000'-map encodings, gzip and glob handling, partition pruning)
breaks the value hash.

The cohort entries read the cached synthetic cohort of
``pipeline/synthetic.py``; ``s7_tsv_gz_roundtrip`` reads TPC-H
``lineitem``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.functions.encodings import freq_map_to_string
from prohap_spark.pipeline.synthetic import COHORT_BASE, materialized_cohort
from prohap_spark.sources.canonicalize import canonicalize_variants, read_canonical
from prohap_spark.sources.fasta import read_fasta, write_fasta
from prohap_spark.sources.gtf import gtf_dimensions, read_gtf
from prohap_spark.sources.tsv import read_tsv, write_tsv
from prohap_spark.sources.vcf import (
    filter_valid_alleles,
    read_vcf,
    split_multiallelic,
    write_vcf,
)

from tests.oracles import register

_DIR = f"{COHORT_BASE}_s1"


@register(
    "s5_fasta_roundtrip",
    f"""
    SELECT tag, accession, description,
           CAST(length(sequence) AS BIGINT) AS n_chars,
           md5(sequence) AS seq_md5
    FROM read_parquet('{_DIR}/cdna/*.parquet')
    """,
    writes=True,
)
def s5_fasta_roundtrip(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """FASTA write then read over the cohort cDNA set: 60-char wrapped
    sequences and '>tag|accession|description' headers with EMPTY
    descriptions, the edge the reader's pipe detection must survive."""
    _v, _t, cdna, _n, _m = materialized_cohort(spark, scale=1)
    write_fasta(cdna, f"{out_dir}/fasta")
    rt = read_fasta(spark, f"{out_dir}/fasta")
    return rt.select(
        "tag",
        "accession",
        "description",
        F.length("sequence").cast("long").alias("n_chars"),
        F.md5("sequence").alias("seq_md5"),
    )


@register(
    "s1_vcf_roundtrip",
    f"""
    SELECT chrom, pos, id, ref, alt, af,
           md5(array_to_string(genotypes, ',')) AS gt_md5
    FROM read_parquet('{_DIR}/variants/*.parquet')
    """,
    writes=True,
)
def s1_vcf_roundtrip(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """VCF write, read and multi-allelic split over the cohort VCF:
    meta-header block, #CHROM header, tab-joined genotype matrix, INFO
    AF re-extraction and GT renumbering."""
    variants, _t, _c, names, _m = materialized_cohort(spark, scale=1)
    write_vcf(
        variants,
        f"{out_dir}/vcf",
        sample_names=names,
        meta_header=["##fileformat=VCFv4.2", "##source=prohap_spark_roundtrip"],
    )
    rt = split_multiallelic(read_vcf(spark, f"{out_dir}/vcf"))
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
    "s4_gtf_roundtrip",
    f"""
    SELECT transcript_id, gene_id, chrom, start, "end", strand, biotype,
           CAST(len(exons) AS BIGINT) AS n_exons,
           md5(array_to_string(
             list_transform(exons, e -> e['start'] || '-' || e['end']), ';'))
             AS exons_md5,
           start_codon
    FROM read_parquet('{_DIR}/transcripts/*.parquet')
    """,
    writes=True,
)
def s4_gtf_roundtrip(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """GTF parse of gzipped text: the cohort transcript table is
    serialized to GTF feature lines (transcript, exon and start_codon
    rows with quoted-attribute strings), written gzipped, and parsed
    back with read_gtf and gtf_dimensions."""
    _v, tr, _c, _n, _m = materialized_cohort(spark, scale=1)

    attrs = F.concat(
        F.lit('gene_id "'), F.col("gene_id"),
        F.lit('"; transcript_id "'), F.col("transcript_id"),
        F.lit('"; gene_name "'), F.col("gene_name"),
        F.lit('"; transcript_biotype "'), F.col("biotype"), F.lit('";'),
        F.array_join(
            F.transform(
                F.coalesce("tags", F.array().cast("array<string>")),
                lambda t: F.concat(F.lit(' tag "'), t, F.lit('";')),
            ),
            "",
        ),
    )

    def line(feature, start, end):
        return F.concat_ws(
            "\t",
            F.col("chrom"), F.lit("prohap_spark"), F.lit(feature),
            start.cast("string"), end.cast("string"),
            F.lit("."), F.col("strand"), F.lit("."), attrs,
        )

    t_lines = tr.select(line("transcript", F.col("start"), F.col("end")).alias("value"))
    e_lines = tr.select(
        "chrom", "strand", attrs.alias("__attrs"),
        F.posexplode("exons").alias("__i", "__e"),
    ).select(
        F.concat_ws(
            "\t",
            F.col("chrom"), F.lit("prohap_spark"), F.lit("exon"),
            F.col("__e.start").cast("string"), F.col("__e.end").cast("string"),
            F.lit("."), F.col("strand"), F.lit("."),
            F.concat(F.col("__attrs"), F.lit(' exon_number "'),
                     (F.col("__i") + 1).cast("string"), F.lit('";')),
        ).alias("value")
    )
    sc_lines = tr.where(F.col("start_codon").isNotNull()).select(
        line("start_codon", F.col("start_codon"), F.col("start_codon") + 2).alias("value")
    )
    (
        t_lines.unionByName(e_lines).unionByName(sc_lines)
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(f"{out_dir}/gtf")
    )

    t = gtf_dimensions(read_gtf(spark, f"{out_dir}/gtf"))["transcripts"]
    return t.select(
        "transcript_id", "gene_id", "chrom", "start", "end", "strand", "biotype",
        F.size("exons").cast("long").alias("n_exons"),
        F.md5(
            F.array_join(
                F.transform(
                    "exons",
                    lambda e: F.concat(e["start"].cast("string"), F.lit("-"),
                                       e["end"].cast("string")),
                ),
                ";",
            )
        ).alias("exons_md5"),
        "start_codon",
    )


@register(
    "s7_tsv_gz_roundtrip",
    # map values are k/32 (k in 0..31): dyadic, so they terminate within
    # 5 decimal digits and Spark's format_number(v, 5) and DuckDB's
    # printf('%.5f', v) agree with no rounding ambiguity
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
    tables=("lineitem",),
    writes=True,
)
def s7_tsv_gz_roundtrip(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """Gzipped TSV write, glob re-read and parse with the boundary
    encodings: a per-order array (';'-joined line numbers) and a
    frequency map ('FLAG:0.00000;...') serialized by write_tsv, re-read
    through an explicit ``part-*.csv.gz`` glob and parsed back to typed
    columns. The projection re-serializes the parsed map, so a defect in
    either direction of the encoding surfaces."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
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
    write_tsv(lines.join(per_order, "l_orderkey"), f"{out_dir}/tsv", compress=True)

    rt = read_tsv(
        spark,
        f"{out_dir}/tsv/part-*.csv.gz",
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
    writes=True,
)
def s10_partitioned_prune(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """Chromosome-partitioned parquet sink (the reference's
    per-chromosome VCF split as a storage layout) and a one-chromosome
    read that Spark answers by partition pruning (the plan property is
    pinned in tests/test_plans.py)."""
    variants, *_ = materialized_cohort(spark, scale=1)
    canonicalize_variants(variants, f"{out_dir}/canonical")
    rt = read_canonical(spark, f"{out_dir}/canonical", chrom="X")
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
    """Allele-validity gate (reference vcf_reader.py:24-29): the cohort
    variants are poisoned with symbolic alleles ('N', '<DEL>') and
    deletion markers ('-') at deterministic positions, then passed
    through filter_valid_alleles. '-' must survive, 'N' and '<DEL>'
    must not."""
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
