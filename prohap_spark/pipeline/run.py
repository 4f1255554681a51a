"""Config-driven end-to-end runners — the engine's equivalent of the
reference's ``snakemake --cores N`` entry point (SURVEY §3.1): one
config in, the haplotype/variant TSV.gz and the deduplicated FASTA
search database out. The whole flow is ONE lazy DataFrame program per
output; Catalyst plans it globally (the reference's per-rule temp files
become shuffle exchanges).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from prohap_spark.pipeline.contract import haplotype_table, variant_table
from prohap_spark.pipeline.postprocess import (
    merge_duplicate_sequences,
    remove_utr_only_entries,
    split_stop_codon_fragments,
)
from prohap_spark.pipeline.prohap import (
    annotate_haplotypes,
    drop_synonymous_only,
    extract_haplotypes,
)
from prohap_spark.pipeline.provar import dedup_protein_fasta, run_provar
from prohap_spark.sources.fasta import read_fasta, write_fasta
from prohap_spark.sources.gtf import gtf_dimensions, read_gtf, select_mane_or_canonical
from prohap_spark.sources.tsv import write_tsv
from prohap_spark.sources.vcf import read_vcf, read_vcf_header, split_multiallelic


@dataclass
class ProHapConfig:
    """Mirrors the reference's config.yaml knobs
    (config_file_example:28-72)."""

    vcf_path: str
    gtf_path: str
    cdna_fasta_path: str
    samples_tsv_path: str
    output_dir: str
    phased_min_af: float | None = 0.01      # config: phased_min_af
    haplo_min_count: int | None = 10        # config: haplo_min_count
    mane_only: bool = False                 # MANE/canonical restriction
    skip_synonymous_only: bool = True       # process_haplotypes.py:393-395
    min_protein_len: int = 6                # remove_stop_codons.py:88
    extra_fastas: list[str] = field(default_factory=list)  # contaminants etc.


def _load_annotation(spark: SparkSession, cfg: ProHapConfig):
    """The transcripts, cDNA and variants both pipelines read."""
    dims = gtf_dimensions(read_gtf(spark, cfg.gtf_path))
    transcripts = dims["transcripts"]
    if cfg.mane_only:
        transcripts = select_mane_or_canonical(transcripts)
    cdna = read_fasta(spark, cfg.cdna_fasta_path, truncate_version=True)
    variants = split_multiallelic(read_vcf(spark, cfg.vcf_path))
    return transcripts, cdna, variants


def run_prohap_pipeline(spark: SparkSession, cfg: ProHapConfig) -> dict[str, str]:
    """VCF+GTF+FASTA+samples → haplotype TSV.gz + FASTA DB. Returns the
    output paths."""
    transcripts, cdna, variants = _load_annotation(spark, cfg)
    sample_names = read_vcf_header(spark, cfg.vcf_path)
    meta = (
        spark.read.option("sep", "\t").option("header", True)
        .csv(cfg.samples_tsv_path)
        .toDF("sample_name", "sex", "population_code", "superpopulation_code")
    )

    haplos = extract_haplotypes(
        variants, sample_names, meta, transcripts, min_af=cfg.phased_min_af
    )
    annotated = annotate_haplotypes(
        haplos, transcripts, cdna, min_count=cfg.haplo_min_count
    )
    if cfg.skip_synonymous_only:
        annotated = drop_synonymous_only(annotated)
    annotated = annotated.persist()  # consumed by both sinks
    try:
        tsv_out = f"{cfg.output_dir}/haplotypes_tsv"
        write_tsv(haplotype_table(annotated, transcripts), tsv_out, single_file=True)

        # FASTA chain: per-haplotype proteins → stop-split → global dedup →
        # UTR removal → final DB (Snakefile:324-386)
        from pyspark.sql import functions as F

        fasta_rows = annotated.where(F.length("protein") >= cfg.min_protein_len).select(
            F.lit("generic_enshap").alias("tag"),
            F.col("haplotype_id").alias("accession"),
            F.concat(F.lit("transcript:"), F.col("transcript_id")).alias("description"),
            F.col("protein").alias("sequence"),
        )
        for path in cfg.extra_fastas:
            fasta_rows = fasta_rows.unionByName(read_fasta(spark, path))
        db = remove_utr_only_entries(
            merge_duplicate_sequences(
                split_stop_codon_fragments(fasta_rows, min_len=cfg.min_protein_len)
            )
        )
        fasta_out = f"{cfg.output_dir}/haplotypes_fasta"
        write_fasta(db, fasta_out)
        return {"tsv": tsv_out, "fasta": fasta_out}
    finally:
        annotated.unpersist()


def run_provar_pipeline(spark: SparkSession, cfg: ProHapConfig) -> dict[str, str]:
    """Unphased-VCF variant flavor (SURVEY §3.3)."""
    # sites only: no sample header and no samples table
    transcripts, cdna, variants = _load_annotation(spark, cfg)
    annotated = run_provar(
        variants, transcripts, cdna, min_af=cfg.phased_min_af
    ).persist()  # consumed by both sinks
    try:
        tsv_out = f"{cfg.output_dir}/variants_tsv"
        write_tsv(variant_table(annotated), tsv_out, single_file=True)
        fasta_out = f"{cfg.output_dir}/variants_fasta"
        write_fasta(dedup_protein_fasta(annotated, cfg.min_protein_len), fasta_out)
        return {"tsv": tsv_out, "fasta": fasta_out}
    finally:
        annotated.unpersist()
