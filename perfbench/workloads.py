"""The three workloads: how each pipeline is run on its generated
inputs, untraced (one call of the user-facing entry point) and traced
(the same work staged layer by layer, each layer's output materialized
before the next layer reads it, so one span covers exactly one public
call and its execution).

Spans do not nest, so a span's self time is its whole duration. Three
public calls repeat work that is also staged on its own: the loci
assignment (``provar.assign``) runs again inside ``prohap.extract`` and
``provar.run``, and the kernel (``kernels``, timed on the items the
pipeline feeds it) runs again inside ``prohap.annotate`` and
``provar.run``. Those two spans are listed in ``RESTAGED``, and the
tracing overhead leaves them out."""

from __future__ import annotations

import os
import time

from check import fasta_records, part_file, read_gz_tsv
from pyspark.sql import functions as F

from prohap_spark.kernels.spark_kernels import annotate_items
from prohap_spark.pipeline.contract import haplotype_table, variant_table
from prohap_spark.pipeline.peptides import (
    classify_peptides,
    covered_alleles,
    explode_peptide_matches,
    match_canonical,
    resolve_canonical_first,
    run_peptide_annotation,
)
from prohap_spark.pipeline.postprocess import (
    merge_duplicate_sequences,
    remove_utr_only_entries,
    split_stop_codon_fragments,
)
from prohap_spark.pipeline.prohap import annotate_haplotypes, drop_synonymous_only, extract_haplotypes
from prohap_spark.pipeline.provar import assign_variants_to_transcripts, dedup_protein_fasta, run_provar
from prohap_spark.pipeline.run import ProHapConfig, run_prohap_pipeline, run_provar_pipeline
from prohap_spark.sources.fasta import read_fasta, write_fasta
from prohap_spark.sources.gtf import gtf_dimensions, read_gtf
from prohap_spark.sources.tsv import write_tsv
from prohap_spark.sources.vcf import filter_valid_alleles, read_vcf, read_vcf_header, split_multiallelic

# which input records `records_per_s` counts, per workload
RECORD = {
    "prohap_cohort": "genotype_calls",
    "provar_sites": "vcf_records",
    "peptide_report": "peptides",
}

# spans whose work a later span repeats inside a public call
RESTAGED = ("provar.assign", "kernels")


def _config(workload: str, inp: str, out: str) -> ProHapConfig:
    vcf = "cohort.vcf" if workload == "prohap_cohort" else "sites.vcf"
    return ProHapConfig(
        vcf_path=f"{inp}/{vcf}",
        gtf_path=f"{inp}/annotation.gtf",
        cdna_fasta_path=f"{inp}/cdna.fa",
        samples_tsv_path=f"{inp}/samples.tsv",
        output_dir=out,
    )


def run_untraced(spark, workload: str, inp: str, out: str) -> dict:
    """One pipeline run through its user-facing entry point. Returns
    the output paths."""
    if workload == "peptide_report":
        path = run_peptide_annotation(
            spark, f"{inp}/peptides.tsv", f"{inp}/proteins.fa", f"{inp}/alleles.tsv", out
        )
        return {"tsv": path}
    run = run_prohap_pipeline if workload == "prohap_cohort" else run_provar_pipeline
    return run(spark, _config(workload, inp, out))


class Tracer:
    """In-memory spans, one Spark job group per span. Stage and task
    counts come from the status tracker once the span has ended."""

    def __init__(self, spark, run_no: int):
        self.sc = spark.sparkContext
        self.run_no = run_no
        self.spans: dict[str, dict] = {}

    def span(self, layer: str, fn, rows_in: int | None = None):
        """Run ``fn`` (which must materialize its result) as the span
        of ``layer``; returns fn's result."""
        group = f"bench-{self.run_no}-{layer}"
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            elapsed = time.perf_counter() - t0
            self.sc.setJobGroup(f"bench-{self.run_no}-bookkeeping", "bookkeeping")
        stages = [s for s in self._settled_stages(group) if s.numCompletedTasks or s.numFailedTasks]
        self.spans[layer] = {"self_s": elapsed, "stages": len(stages),
                             "tasks": sum(s.numCompletedTasks for s in stages),
                             "failed_tasks": sum(s.numFailedTasks for s in stages), "rows_in": rows_in}
        return result

    def _settled_stages(self, group: str, timeout: float = 10.0) -> list:
        """The stages of the group's jobs, once the status store has
        processed their end events. The store is filled asynchronously
        from the listener bus, so right after an action returns its last
        task and job end events may still be queued: wait until every
        job has ended and no stage has a task running or unaccounted
        for (a skipped stage has no tasks at all)."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + timeout
        while True:
            jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
            stages = [st.getStageInfo(sid) for job in jobs if job for sid in job.stageIds]
            settled = all(job and job.status in ("SUCCEEDED", "FAILED") for job in jobs) and all(
                s is None or (s.numActiveTasks == 0 and (
                    s.numCompletedTasks + s.numFailedTasks == 0
                    or s.numCompletedTasks + s.numFailedTasks >= s.numTasks))
                for s in stages)
            if settled or time.perf_counter() > deadline:
                return [s for s in stages if s]
            time.sleep(0.01)

    def rows_out(self, layer: str, n: int) -> int:
        self.spans[layer]["rows_out"] = n
        return n


def _ckpt(df):
    return df.localCheckpoint(eager=True)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.startswith("part-"))


def _write_tsv(t: Tracer, df, path: str, n_in: int, ratios: dict) -> None:
    t.span("sink.tsv", lambda: write_tsv(df, path, single_file=True), n_in)
    t.rows_out("sink.tsv", sum(1 for _ in read_gz_tsv(part_file(path, "part-*.csv.gz"))))
    ratios["sink.tsv.bytes"] = _dir_bytes(path)


def _trace_sources(t: Tracer, spark, cfg: ProHapConfig, counts: dict):
    transcripts = t.span("sources.gtf", lambda: _ckpt(gtf_dimensions(read_gtf(spark, cfg.gtf_path))["transcripts"]),
                         counts["gtf_lines"])
    t.rows_out("sources.gtf", transcripts.count())
    cdna = t.span("sources.fasta", lambda: _ckpt(read_fasta(spark, cfg.cdna_fasta_path, truncate_version=True)),
                  counts["cdna_records"])
    t.rows_out("sources.fasta", cdna.count())
    variants, names = t.span(
        "sources.vcf",
        lambda: (_ckpt(split_multiallelic(read_vcf(spark, cfg.vcf_path))), read_vcf_header(spark, cfg.vcf_path)),
        counts["vcf_records"],
    )
    n_variants = t.rows_out("sources.vcf", variants.count())
    meta = t.span(
        "sources.tsv",
        lambda: _ckpt(spark.read.option("sep", "\t").option("header", True).csv(cfg.samples_tsv_path)
                      .toDF("sample_name", "sex", "population_code", "superpopulation_code")),
        counts["samples"],
    )
    t.rows_out("sources.tsv", meta.count())
    ratios = {"sources.vcf.bytes_in": os.path.getsize(cfg.vcf_path)}
    return transcripts, cdna, variants, names, meta, n_variants, ratios


def _trace_fasta_sinks(t: Tracer, fasta_rows, n_in: int, postprocess, out: str, ratios: dict):
    db = t.span("postprocess", lambda: _ckpt(postprocess(fasta_rows)), n_in)
    n_db = t.rows_out("postprocess", db.count())
    ratios["postprocess.dedup_ratio"] = n_db / max(n_in, 1)
    t.span("sink.fasta", lambda: write_fasta(db, out), n_db)
    t.rows_out("sink.fasta", fasta_records(out))
    ratios["sink.fasta.bytes"] = _dir_bytes(out)


def _trace_prohap(t: Tracer, spark, inp: str, out: str, counts: dict) -> tuple[dict, dict]:
    cfg = _config("prohap_cohort", inp, out)
    transcripts, cdna, variants, names, meta, n_variants, ratios = _trace_sources(t, spark, cfg, counts)
    # the variant-to-transcript assignment extract_haplotypes makes on
    # its distinct loci, staged on its own
    loci = (filter_valid_alleles(variants).where(F.col("af") >= cfg.phased_min_af)
            .select("chrom", "pos", "id", "ref", "alt").dropDuplicates(["chrom", "pos", "ref", "alt"]))
    _trace_assign(t, loci, transcripts, ratios)
    haplos = t.span(
        "prohap.extract",
        lambda: _ckpt(extract_haplotypes(variants, names, meta, transcripts, min_af=cfg.phased_min_af)),
        n_variants,
    )
    n_haplos = t.rows_out("prohap.extract", haplos.count())
    copies = haplos.agg(F.sum("occurrence_count")).first()[0] or 0
    ratios["prohap.extract.copies_per_haplotype"] = copies / max(n_haplos, 1)

    # the kernel's staged input: the rows annotate_haplotypes feeds it
    meta_cols = ("occurrence_count", "frequency", "samples", "population_freqs", "superpopulation_freqs")
    items = _ckpt(
        haplos.join(transcripts.select("transcript_id", "exons", "start_codon", "stop_codon"), "transcript_id")
        .join(cdna.select(F.col("accession").alias("transcript_id"), F.col("sequence").alias("cdna")), "transcript_id")
        .select("transcript_id", F.col("haplotype_id").alias("item_id"), "strand", "exons", "start_codon",
                "stop_codon", "cdna", "changes", *meta_cols)
    )
    _trace_kernel(t, items, ratios, passthrough=("changes",) + meta_cols)

    annotated = t.span(
        "prohap.annotate",
        lambda: _ckpt(drop_synonymous_only(
            annotate_haplotypes(haplos, transcripts, cdna, min_count=cfg.haplo_min_count))),
        n_haplos,
    )
    n_annotated = t.rows_out("prohap.annotate", annotated.count())
    tsv_out = f"{out}/haplotypes_tsv"
    _write_tsv(t, haplotype_table(annotated, transcripts), tsv_out, n_annotated, ratios)

    fasta_rows = annotated.where(F.length("protein") >= cfg.min_protein_len).select(
        F.lit("generic_enshap").alias("tag"),
        F.col("haplotype_id").alias("accession"),
        F.concat(F.lit("transcript:"), F.col("transcript_id")).alias("description"),
        F.col("protein").alias("sequence"),
    )
    fasta_out = f"{out}/haplotypes_fasta"
    _trace_fasta_sinks(
        t, fasta_rows, fasta_rows.count(),
        lambda rows: remove_utr_only_entries(merge_duplicate_sequences(
            split_stop_codon_fragments(rows, min_len=cfg.min_protein_len))),
        fasta_out, ratios,
    )
    return {"tsv": tsv_out, "fasta": fasta_out}, ratios


def _trace_assign(t: Tracer, variants, transcripts, ratios: dict):
    n_v = variants.count()
    assigned = t.span("provar.assign", lambda: _ckpt(assign_variants_to_transcripts(variants, transcripts)), n_v)
    n_pairs = t.rows_out("provar.assign", assigned.count())
    ratios["provar.assign.pairs_per_variant"] = n_pairs / max(n_v, 1)
    return assigned


def _trace_kernel(t: Tracer, items, ratios: dict, **kw) -> None:
    n_items = items.count()
    emitted = t.span("kernels", lambda: _ckpt(annotate_items(items, **kw)), n_items)
    n_out = t.rows_out("kernels", emitted.count())
    ratios["kernels.emit_ratio"] = n_out / max(n_items, 1)
    ratios["kernels.us_per_item"] = t.spans["kernels"]["self_s"] * 1e6 / max(n_items, 1)


def _trace_provar(t: Tracer, spark, inp: str, out: str, counts: dict) -> tuple[dict, dict]:
    cfg = _config("provar_sites", inp, out)
    transcripts, cdna, variants, _names, _meta, n_variants, ratios = _trace_sources(t, spark, cfg, counts)
    v = filter_valid_alleles(variants).where(F.col("af") >= cfg.phased_min_af)
    assigned = _trace_assign(t, v, transcripts, ratios)

    # the kernel's staged input: the rows run_provar feeds it
    items = _ckpt(
        assigned.join(cdna.select(F.col("accession").alias("transcript_id"), F.col("sequence").alias("cdna")),
                      "transcript_id")
        .select(
            "transcript_id",
            F.concat_ws("_", "chrom", "pos", "ref", "alt").alias("item_id"),
            "strand", "exons", "start_codon", "stop_codon", "cdna",
            F.array(F.struct(F.col("pos").cast("long").alias("pos"), "ref", "alt",
                             F.col("id").alias("vcf_id"))).alias("changes"),
            "chrom", "biotype", "af",
        )
    )
    _trace_kernel(t, items, ratios, variant_mode=True, passthrough=("chrom", "biotype", "af"))

    annotated = t.span(
        "provar.run", lambda: _ckpt(run_provar(variants, transcripts, cdna, min_af=cfg.phased_min_af)), n_variants
    )
    n_annotated = t.rows_out("provar.run", annotated.count())
    tsv_out = f"{out}/variants_tsv"
    _write_tsv(t, variant_table(annotated), tsv_out, n_annotated, ratios)
    fasta_out = f"{out}/variants_fasta"
    _trace_fasta_sinks(t, annotated, n_annotated,
                       lambda rows: dedup_protein_fasta(rows, cfg.min_protein_len), fasta_out, ratios)
    return {"tsv": tsv_out, "fasta": fasta_out}, ratios


def _trace_peptides(t: Tracer, spark, inp: str, out: str, counts: dict) -> tuple[dict, dict]:
    canonical = t.span("sources.fasta", lambda: _ckpt(read_fasta(spark, f"{inp}/proteins.fa")), counts["proteins"])
    t.rows_out("sources.fasta", canonical.count())
    tsv = spark.read.option("sep", "\t").option("header", True)
    peptides, alleles = t.span(
        "sources.tsv",
        lambda: (
            _ckpt(tsv.csv(f"{inp}/peptides.tsv")),
            _ckpt(tsv.csv(f"{inp}/alleles.tsv").select(
                "protein_accession", "allele_id", F.col("protein_pos").cast("long").alias("protein_pos"))),
        ),
        counts["peptides"] + counts["alleles"],
    )
    t.rows_out("sources.tsv", peptides.count() + alleles.count())
    n = counts["peptides"]
    m = t.span("peptides.explode", lambda: _ckpt(explode_peptide_matches(peptides)), n)
    n_m = t.rows_out("peptides.explode", m.count())
    m = t.span("peptides.canonical", lambda: _ckpt(match_canonical(m, canonical)), n_m)
    n_m = t.rows_out("peptides.canonical", m.count())
    m = t.span("peptides.covered", lambda: _ckpt(covered_alleles(m, alleles)), n_m)
    n_m = t.rows_out("peptides.covered", m.count())
    classified = t.span("peptides.classify", lambda: _ckpt(classify_peptides(resolve_canonical_first(m))), n_m)
    n_c = t.rows_out("peptides.classify", classified.count())
    tsv_out = f"{out}/peptides_annotated"
    ratios: dict = {}
    _write_tsv(t, classified, tsv_out, n_c, ratios)
    return {"tsv": tsv_out}, ratios


TRACED = {
    "prohap_cohort": _trace_prohap,
    "provar_sites": _trace_provar,
    "peptide_report": _trace_peptides,
}

def run_traced(spark, workload: str, inp: str, out: str, counts: dict, run_no: int):
    """One traced, staged run. Returns (outputs, spans, ratios)."""
    t = Tracer(spark, run_no)
    outputs, ratios = TRACED[workload](t, spark, inp, out, counts)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return outputs, t.spans, ratios
