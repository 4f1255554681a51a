"""Config-driven end-to-end runner tests: files in → reference-contract
files out."""

import glob
import gzip

from tests.genomic_fixtures import SAMPLES, write_fixtures


def _samples_tsv(tmp_path):
    p = tmp_path / "samples.tsv"
    lines = ["Sample name\tSex\tPopulation code\tSuperpopulation code"]
    lines += ["\t".join(s) for s in SAMPLES]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_run_prohap_pipeline(spark, tmp_path):
    from prohap_spark.pipeline.contract import HAPLOTYPE_COLUMNS
    from prohap_spark.pipeline.run import ProHapConfig, run_prohap_pipeline

    gtf, fasta, vcf = write_fixtures(tmp_path)
    cfg = ProHapConfig(
        vcf_path=vcf,
        gtf_path=gtf,
        cdna_fasta_path=fasta,
        samples_tsv_path=_samples_tsv(tmp_path),
        output_dir=str(tmp_path / "out"),
        phased_min_af=0.01,
        haplo_min_count=1,
    )
    out = run_prohap_pipeline(spark, cfg)

    # TSV: reference 21-column contract, gz-compressed
    tsv_files = glob.glob(f"{out['tsv']}/part-*.csv.gz")
    assert len(tsv_files) == 1
    with gzip.open(tsv_files[0], "rt") as f:
        header = f.readline().strip().split("\t")
        rows = [line.strip("\n").split("\t") for line in f]
    assert header == HAPLOTYPE_COLUMNS
    assert len(rows) == 3
    by_changes = {r[header.index("DNA_changes")]: r for r in rows}
    a = by_changes["110:G>A"]
    assert a[header.index("TranscriptID")] == "T1"
    assert a[header.index("occurrence_count")] == "3"
    assert a[header.index("frequency")] == "0.50000"
    assert a[header.index("frequency_population")] == "FIN:0.75000"
    assert a[header.index("VCF_IDs")] == "varA"
    assert a[header.index("HaplotypeID")].startswith("haplo_chr1_")
    assert a[header.index("samples")] == "S1:2;S2:1;S2:2"

    # FASTA DB: deduplicated proteins present
    fasta_files = glob.glob(f"{out['fasta']}/part-*.txt")
    content = "".join(open(p).read() for p in fasta_files)
    assert "MANEFGPK" in content and "MVDEFGPK" in content and "MPGSKHK" in content
    assert content.count(">") == 3


def test_run_provar_pipeline(spark, tmp_path):
    from prohap_spark.pipeline.contract import VARIANT_COLUMNS
    from prohap_spark.pipeline.run import ProHapConfig, run_provar_pipeline

    gtf, fasta, vcf = write_fixtures(tmp_path)
    cfg = ProHapConfig(
        vcf_path=vcf,
        gtf_path=gtf,
        cdna_fasta_path=fasta,
        samples_tsv_path=_samples_tsv(tmp_path),
        output_dir=str(tmp_path / "out_var"),
        phased_min_af=None,
    )
    out = run_provar_pipeline(spark, cfg)
    tsv_files = glob.glob(f"{out['tsv']}/part-*.csv.gz")
    with gzip.open(tsv_files[0], "rt") as f:
        header = f.readline().strip().split("\t")
        rows = [line.strip("\n").split("\t") for line in f]
    assert header == VARIANT_COLUMNS
    assert len(rows) == 3
    # reference-format protein change strings, one per variant
    changes = {r[header.index("protein_change")] for r in rows}
    assert changes == {"2:D>2:N", "1:A>1:V", "3:F>3:S"}
    assert {r[header.index("splice_site_affected")] for r in rows} == {"-"}
    assert {r[header.index("start_missing")] for r in rows} == {"false"}


def test_prohap_min_count_10_filters_all(spark, tmp_path):
    """Default haplo_min_count=10 on the tiny cohort → empty outputs,
    no crash (threshold semantics F8)."""
    from prohap_spark.pipeline.run import ProHapConfig, run_prohap_pipeline

    gtf, fasta, vcf = write_fixtures(tmp_path)
    cfg = ProHapConfig(
        vcf_path=vcf,
        gtf_path=gtf,
        cdna_fasta_path=fasta,
        samples_tsv_path=_samples_tsv(tmp_path),
        output_dir=str(tmp_path / "out10"),
    )
    out = run_prohap_pipeline(spark, cfg)
    tsv_files = glob.glob(f"{out['tsv']}/part-*.csv.gz")
    with gzip.open(tsv_files[0], "rt") as f:
        assert len(f.readlines()) == 1  # header only


def test_runners_release_cached_blocks(spark, tmp_path):
    """Each runner persists its annotated table for the two sinks and
    must release it before returning, so repeated runs in one session do
    not pile up cached blocks."""
    from prohap_spark.pipeline.run import (
        ProHapConfig,
        run_prohap_pipeline,
        run_provar_pipeline,
    )

    def persistent_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    gtf, fasta, vcf = write_fixtures(tmp_path)
    before = persistent_rdds()
    for i, runner in enumerate((run_prohap_pipeline, run_provar_pipeline)):
        cfg = ProHapConfig(
            vcf_path=vcf,
            gtf_path=gtf,
            cdna_fasta_path=fasta,
            samples_tsv_path=_samples_tsv(tmp_path),
            output_dir=str(tmp_path / f"out_cache{i}"),
            haplo_min_count=1,
        )
        runner(spark, cfg)
        assert persistent_rdds() - before == set(), runner.__name__
