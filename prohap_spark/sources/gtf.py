"""GTF source (SURVEY §2.1 S4): raw GTF → transcripts/exons/codons
dimension DataFrames.

The reference parses GTF into a gffutils SQLite feature store
(parse_gtf.py:16) and issues per-transcript children queries
(prohap.py:123, process_haplotypes.py:84-86). The Spark-native model
is two dimension tables — ``transcripts`` (one row per transcript,
with an ``exons array<struct<start,end>>`` pre-joined in genomic
order, since "all exons of a transcript, ordered" is the dominant
access pattern) and the flat ``features`` table for everything else.
Regex attribute extraction replaces the SQLite round-trip; the parse
is one splittable text scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

GTF_COLS = ["seqname", "source", "feature", "start", "end", "score", "strand", "frame", "attributes"]


def read_gtf(spark: SparkSession, path: str) -> DataFrame:
    """GTF text → typed feature rows with key attributes extracted."""
    lines = spark.read.text(path).where(~F.col("value").startswith("#"))
    p = F.split(F.col("value"), "\t")
    df = lines.select(
        p[0].alias("chrom"),
        p[1].alias("source"),
        p[2].alias("feature"),
        p[3].cast("long").alias("start"),
        p[4].cast("long").alias("end"),
        p[6].alias("strand"),
        p[7].alias("frame"),
        p[8].alias("attributes"),
    )

    def attr(key: str):
        return F.regexp_extract(F.col("attributes"), rf'{key} "([^"]+)"', 1)

    return df.select(
        "chrom",
        "feature",
        "start",
        "end",
        "strand",
        "frame",
        attr("gene_id").alias("gene_id"),
        attr("transcript_id").alias("transcript_id"),
        attr("gene_name").alias("gene_name"),
        attr("transcript_biotype").alias("biotype"),
        F.regexp_extract_all(F.col("attributes"), F.lit(r'tag "([^"]+)"'), 1).alias("tags"),
        F.regexp_extract(F.col("attributes"), r'exon_number "?(\d+)"?', 1)
        .cast("int")
        .alias("exon_number"),
    )


def gtf_dimensions(features: DataFrame) -> dict[str, DataFrame]:
    """features → {'transcripts', 'exons', 'start_codons', 'stop_codons'}.

    transcripts carries the exon array pre-joined in genomic start
    order plus the start/stop codon genomic starts (0 or 1 each per
    transcript, FIXTURES §4; a codon split over two exons has two rows
    and keeps the smaller start).

    The dimension is one scan and one aggregation by transcript_id with
    conditional aggregates, so it leaves the plan hash-partitioned by
    transcript_id. Each ``transcript`` line gives one output row, so a
    transcript with no such line is dropped; one without exons gets null
    ``exons``, not an empty array."""
    feature = F.col("feature")
    attrs = ["gene_id", "gene_name", "chrom", "start", "end", "strand", "biotype", "tags"]
    grouped = (
        features.where(feature.isin("transcript", "exon", "start_codon", "stop_codon"))
        .groupBy("transcript_id")
        .agg(
            F.collect_list(F.when(feature == "transcript", F.struct(*attrs))).alias("__tx"),
            F.collect_list(F.when(feature == "exon", F.struct("start", "end"))).alias("__exons"),
            F.min(F.when(feature == "start_codon", F.col("start"))).alias("start_codon"),
            F.min(F.when(feature == "stop_codon", F.col("start"))).alias("stop_codon"),
        )
    )
    dim = grouped.select(
        "transcript_id",
        F.explode("__tx").alias("__t"),
        F.when(F.size("__exons") > 0, F.array_sort("__exons")).alias("exons"),
        "start_codon",
        "stop_codon",
    ).select(
        "transcript_id", *(F.col(f"__t.{a}").alias(a) for a in attrs),
        "exons", "start_codon", "stop_codon",
    )
    flat_exons = features.where(F.col("feature") == "exon").select(
        "transcript_id", "chrom", "strand", "start", "end", "exon_number"
    )
    return {
        "transcripts": dim,
        "exons": flat_exons,
        "start_codons": features.where(F.col("feature") == "start_codon"),
        "stop_codons": features.where(F.col("feature") == "stop_codon"),
    }


def select_mane_or_canonical(transcripts: DataFrame) -> DataFrame:
    """F5 (get_reference_ENST.py:46-64): per gene keep the MANE_Select
    transcript if any, else the Ensembl_canonical one(s)."""
    from pyspark.sql import Window

    w = Window.partitionBy("gene_id")
    is_mane = F.array_contains(F.col("tags"), "MANE_Select")
    is_canon = F.array_contains(F.col("tags"), "Ensembl_canonical")
    has_mane = F.max(is_mane.cast("int")).over(w)
    return transcripts.withColumn("__has_mane", has_mane).where(
        ((F.col("__has_mane") == 1) & is_mane) | ((F.col("__has_mane") == 0) & is_canon)
    ).drop("__has_mane")
