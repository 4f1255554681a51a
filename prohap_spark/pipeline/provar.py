"""ProVar path (SURVEY §3.3): VCF + annotation + cDNA → variant protein
table + deduplicated FASTA rows.

Plan shape (one lazily-built DataFrame program — the reference's
Snakemake DAG collapses into a single Catalyst plan, SURVEY §3.1):

  variants ── F2/F1 filters ──┐
  transcripts dim ── F6 ──────┤ J1 binned interval join (transcript
                              │    span bins, exon-level refine with a
                              │    higher-order EXISTS on the exon
                              │    array — no exon explode)
                              │ → hash(transcript_id) over every core
  cdna ── J2 join ────────────┘
        → mapInPandas U1+U2+U3 (rows self-contained)
        → A6 dedup by protein sequence
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from prohap_spark.operators.interval_join import interval_join
from prohap_spark.kernels.spark_kernels import annotate_items
from prohap_spark.sources.vcf import filter_valid_alleles

BIN_SIZE = 1_000_000


def assign_variants_to_transcripts(
    variants: DataFrame, transcripts: DataFrame, bin_size: int = BIN_SIZE
) -> DataFrame:
    """J1: variant row × every transcript whose exon set it touches.

    Predicate parity with vcf_reader.py:50-51:
      exon.start < POS + len(REF) AND exon.end >= POS
    Binned equi-join on (chrom, bin) over transcript spans, refined by
    an EXISTS over the pre-joined exon array — scales as an ordinary
    shuffled hash join with AQE skew handling."""
    ref_len = F.greatest(
        F.when(F.col("ref") == "-", F.lit(0)).otherwise(F.length("ref")), F.lit(1)
    )
    exon_hit = F.exists(
        F.col("exons"),
        lambda e: (e["start"] < F.col("pos") + ref_len) & (e["end"] >= F.col("pos")),
    )
    tr = transcripts.select(
        "transcript_id",
        F.col("chrom"),
        F.col("start").alias("tr_start"),
        F.col("end").alias("tr_end"),
        "strand",
        "biotype",
        "exons",
        "start_codon",
        "stop_codon",
    )
    joined = interval_join(
        variants,
        tr,
        point_col="pos",
        start_col="tr_start",
        end_col="tr_end",
        partition_keys=["chrom"],
        bin_size=bin_size,
        strategy="binned",
    )
    return joined.where(exon_hit).drop("tr_start", "tr_end")


def run_provar(
    variants: DataFrame,
    transcripts: DataFrame,
    cdna: DataFrame,
    min_af: float | None = None,
    force_rf: bool = False,
    require_start: bool = False,
) -> DataFrame:
    """Variant annotation table, one row per (variant × transcript).

    ``transcripts``: gtf_dimensions()['transcripts'] (exon array +
    start/stop codon). ``cdna``: read_fasta(..., truncate_version=True).
    ``require_start``: strict F6 — drop transcripts without an
    annotated start codon (the reference hard-requires one,
    prohap.py:120-127 / provar.py:79-86); default False keeps them with
    the 3-frame fallback, flagged via start_missing. ``force_rf``:
    infer the frame from the stop codon when the start is missing
    (reference force_rf)."""
    v = filter_valid_alleles(variants)
    if min_af is not None:
        v = v.where(F.col("af") >= min_af)
    if require_start:
        transcripts = transcripts.where(F.col("start_codon").isNotNull())

    # The kernel is the costliest stage and runs once per partition of
    # its input: spread the (variant, transcript) pairs over every core
    # by transcript_id. The exchange sits before the cDNA join, so it
    # carries no cDNA strings. When the transcripts stream through the
    # interval join already hashed by transcript_id into as many
    # partitions (gtf_dimensions' aggregation), the planner drops it.
    assigned = assign_variants_to_transcripts(v, transcripts).repartition(
        v.sparkSession.sparkContext.defaultParallelism, "transcript_id"
    )

    cdna_dim = cdna.select(
        F.col("accession").alias("transcript_id"), F.col("sequence").alias("cdna")
    )
    # cDNA is transcript-wide: fine as a shuffle join at 100 TB, broadcast
    # when it fits (human cDNA ~0.5 GB → leave strategy to Catalyst/AQE)
    assigned = assigned.join(cdna_dim, "transcript_id")

    items = assigned.select(
        "transcript_id",
        F.concat_ws("_", F.col("chrom"), F.col("pos"), F.col("ref"), F.col("alt")).alias("item_id"),
        "strand",
        "exons",
        "start_codon",
        "stop_codon",
        "cdna",
        F.array(
            F.struct(
                F.col("pos").cast("long").alias("pos"),
                F.col("ref").alias("ref"),
                F.col("alt").alias("alt"),
                F.col("id").alias("vcf_id"),
            )
        ).alias("changes"),
        "chrom",
        "biotype",
        "af",
    )
    # chrom/biotype/af ride through the Arrow stage (no join-back)
    out = annotate_items(
        items.select(
            "transcript_id", "item_id", "strand", "exons", "start_codon",
            "stop_codon", "cdna", "changes", "chrom", "biotype", "af",
        ),
        variant_mode=True,  # ProVar flavor: ±1 bp liftover retry, start-gain scan
        force_rf=force_rf,
        passthrough=("chrom", "biotype", "af"),
    )
    # deterministic variant ids: var_<chrom>_<hex> where hex is a
    # CONTENT HASH of the natural key (W2 discipline, same pattern as
    # ProHap's haplotype ids). A rank-based id here — window OR
    # range-partitioned offsets — consumes the kernel output twice
    # (the offsets/rank branch re-executes the mapInPandas stage:
    # column pruning gives the two consumers different subtrees, so
    # the exchange is never reused), doubling the dominant compute at
    # scale. md5 (not xxhash64) keeps the id reproducible by external
    # engines; 16 hex chars = 64 bits, collision-safe to ~10⁹ variants
    # per chromosome. Duplicate VCF rows of the same variant
    # deliberately share the id — they ARE the same variant.
    return out.where(F.col("n_applied") > 0).withColumn(
        "variant_id",
        F.concat(
            F.lit("var_"), F.col("chrom"), F.lit("_"),
            F.substring(
                F.md5(F.concat_ws("|", "item_id", "transcript_id")), 1, 16
            ),
        ),
    )


def dedup_protein_fasta(annotated: DataFrame, min_len: int = 6) -> DataFrame:
    """A6 + F7: dedup identical protein sequences, collecting the
    contributing item ids and reading frames; drop short fragments
    (remove_stop_codons.py:88,106)."""
    return (
        annotated.where(F.length("protein") >= min_len)
        .groupBy("protein")
        .agg(
            F.array_sort(F.collect_set("variant_id")).alias("matching_items"),
            F.array_sort(F.collect_set("reading_frame")).alias("reading_frames"),
            F.min("variant_id").alias("accession_base"),
        )
        .select(
            F.lit("generic_var").alias("tag"),
            F.col("accession_base").alias("accession"),
            F.concat(
                F.lit("matching_proteins:"),
                F.array_join("matching_items", ";"),
                F.lit(" reading_frames:"),
                F.array_join(F.transform("reading_frames", lambda x: x.cast("string")), ";"),
            ).alias("description"),
            F.col("protein").alias("sequence"),
        )
    )
