"""Deterministic synthetic cohort generator for the domain oracles and
plan tests (FIXTURES.md invariants: ref alleles match the cDNA, exon
sums equal cDNA length, phased biallelic GTs).

Everything derives from md5 streams keyed by (seed, entity id) — no
RNG state, so any subset regenerates identically on any worker.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

BASES = "ACGT"

# Cohort-cache version: bump whenever generate_cohort's CONTENT
# changes, or a stale cache from an earlier build poisons both Spark
# and the SQL oracles that read it (v2: X/PAR transcripts; v3: PAR1
# placement dense-indexed so the generator scales past ~13 PAR1
# transcripts without overrunning the PAR1 window). The oracles import
# this instead of hardcoding.
COHORT_BASE = "/tmp/prohap_bench_cohort_v3"


def _stream(key: str, n: int) -> bytes:
    out = b""
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"{key}|{i}".encode()).digest()
        i += 1
    return out[:n]


def _seq(key: str, n: int) -> str:
    return "".join(BASES[b % 4] for b in _stream(key, n))


def generate_cohort(
    spark: SparkSession,
    n_transcripts: int = 100,
    n_samples: int = 50,
    variants_per_transcript: int = 10,
    exon_len: int = 300,
    n_exons: int = 2,
    seed: str = "bench",
):
    """Returns (variants_df, transcripts_df, cdna_df, sample_names,
    samples_meta_df) shaped exactly like the real sources' outputs."""
    # The domain-oracle SQL (tests/oracles/domain_oracle.py) translates over a
    # fixed range(0,300) codon grid and overlays over range(0,2000) —
    # valid only while every cDNA fits those bounds (SNPs keep length,
    # so mutated == reference length). Fail here, not silently there.
    assert exon_len * n_exons <= 900, (
        "cDNA longer than the oracle's 300-codon grid — widen the ranges "
        "in tests/oracles/domain_oracle.py before growing the cohort"
    )
    sample_names = [f"S{i:04d}" for i in range(n_samples)]
    pops = ["FIN", "YRI", "CHB", "GBR", "PEL"]

    transcripts, cdnas, variants = [], [], []
    span = exon_len * n_exons + 500 * (n_exons - 1)
    par1_k = 0
    for t in range(n_transcripts):
        tid = f"T{t:05d}"
        # chromosome mix: mostly autosomal, ~1/7 X outside the PARs
        # (male-haploid — A3 hap2 suppression + male+2*(n-male)
        # denominators) and ~1/7 X inside PAR1 (diploid in males too),
        # so the e2e domain oracles exercise the sex-aware paths
        # through the REAL pipeline, not just the standalone A3 query.
        if t % 7 == 3:
            chrom = "X"
            base = 3_000_000 + t * 10_000  # between PAR1 and PAR2
        elif t % 7 == 5:
            chrom = "X"
            # PAR1 is only 2.78 Mb: index by the PAR1-transcript COUNT
            # (not the global t) so large cohorts still fit the window.
            # The 2 kb stride must exceed the transcript span or
            # adjacent PAR1 transcripts would overlap genomically
            assert span < 2_000, "PAR1 stride (2 kb) smaller than transcript span"
            base = 20_000 + par1_k * 2_000
            if base + span <= 2_781_479:
                par1_k += 1
            else:
                # PAR1 (2.78 Mb) fills at ~1,380 transcripts: spill the overflow to non-PAR X at a HALF-STRIDE
                # offset so it can never collide with the t%7==3 lane
                # (bases ≡ 5,000 vs ≡ 0 mod 10,000, spans < 2 kb).
                # Placement at every smaller scale is byte-identical —
                # only the PAR1/diploid mix ratio shifts beyond
                # capacity, which the sex-aware oracles recompute from
                # the generated data anyway.
                base = 6_000_000 + t * 10_000 + 5_000
        else:
            chrom = "1"
            base = 1_000_000 + t * 10_000
        exons = []
        pos = base
        for e in range(n_exons):
            exons.append({"start": pos, "end": pos + exon_len - 1})
            pos += exon_len + 500  # 500 bp intron
        total = exon_len * n_exons
        seq = _seq(f"{seed}|cdna|{tid}", total)
        # ensure a start codon at offset 3 (5'UTR of 3 bases)
        seq = seq[:3] + "ATG" + seq[6:]
        start_codon = base + 3
        transcripts.append(
            (tid, f"G{t:05d}", f"GENE{t}", chrom, base, exons[-1]["end"], "+",
             "protein_coding", ["Ensembl_canonical"], exons, start_codon, None)
        )
        cdnas.append(("cdna", tid, "", seq))

        for v in range(variants_per_transcript):
            h = _stream(f"{seed}|var|{tid}|{v}", 8)
            # pick an exonic offset past the start codon
            off = 6 + (int.from_bytes(h[:4], "big") % (total - 12))
            exon_idx, rem = divmod(off, exon_len)
            gpos = exons[exon_idx]["start"] + rem
            ref = seq[off]
            alt = BASES[(BASES.index(ref) + 1 + h[4] % 3) % 4]
            af = round(0.01 + (h[5] / 255) * 0.5, 4)
            gts = []
            for s in range(n_samples):
                g = _stream(f"{seed}|gt|{tid}|{v}|{s}", 2)
                h1 = 1 if g[0] / 255 < af else 0
                h2 = 1 if g[1] / 255 < af else 0
                gts.append(f"{h1}|{h2}")
            variants.append(
                (chrom, gpos, f"rs_{tid}_{v}", ref, alt, ".", ".", f"AF={af}", "GT", gts, af)
            )

    variants_df = spark.createDataFrame(
        variants,
        "chrom string, pos long, id string, ref string, alt string, qual string, "
        "filter string, info string, format string, genotypes array<string>, af double",
    )
    transcripts_df = spark.createDataFrame(
        transcripts,
        "transcript_id string, gene_id string, gene_name string, chrom string, "
        "start long, end long, strand string, biotype string, tags array<string>, "
        "exons array<struct<start:long,end:long>>, start_codon long, stop_codon long",
    )
    cdna_df = spark.createDataFrame(
        cdnas, "tag string, accession string, description string, sequence string"
    )
    meta = spark.createDataFrame(
        [
            (s, "male" if i % 3 == 0 else "female", pops[i % 5],
             "EUR" if i % 5 in (0, 3) else "AFR")
            for i, s in enumerate(sample_names)
        ],
        ["sample_name", "sex", "population_code", "superpopulation_code"],
    )
    return variants_df, transcripts_df, cdna_df, sample_names, meta


def materialized_cohort(spark: SparkSession, scale: int = 1, base_dir: str = COHORT_BASE):
    """Cohort cached as parquet (deterministic → safe to reuse): tests
    should spend their time in the pipeline, not in Python-side fixture
    generation. The path carries the COHORT_BASE version suffix — see
    the constant's comment for the bump discipline."""
    import json
    import os

    d = f"{base_dir}_s{scale}"
    meta_file = f"{d}/_names.json"
    if not os.path.exists(meta_file):
        # Build-then-rename: two processes can both see a cold cache
        # after a version bump; each builds into its OWN pid staging dir
        # and the atomic directory rename picks exactly one winner —
        # never a mid-overwrite mixed cohort.
        import shutil

        stage = f"{d}.stage_{os.getpid()}"
        variants, transcripts, cdna, names, meta = generate_cohort(
            spark, n_transcripts=100 * scale, n_samples=50, variants_per_transcript=10
        )
        variants.write.mode("overwrite").parquet(f"{stage}/variants")
        transcripts.write.mode("overwrite").parquet(f"{stage}/transcripts")
        cdna.write.mode("overwrite").parquet(f"{stage}/cdna")
        meta.write.mode("overwrite").parquet(f"{stage}/meta")
        with open(f"{stage}/_names.json", "w") as f:
            json.dump(names, f)
        try:
            os.rename(stage, d)
        except OSError:
            if os.path.exists(meta_file):
                shutil.rmtree(stage, ignore_errors=True)  # lost the race
            else:
                # a stale half-built dir (e.g. an interrupted old run)
                # blocks the rename: replace it
                shutil.rmtree(d, ignore_errors=True)
                os.rename(stage, d)
    with open(meta_file) as f:
        names = json.load(f)
    return (
        spark.read.parquet(f"{d}/variants"),
        spark.read.parquet(f"{d}/transcripts"),
        spark.read.parquet(f"{d}/cdna"),
        names,
        spark.read.parquet(f"{d}/meta"),
    )


def run_prohap_e2e(spark: SparkSession, scale: int = 1) -> DataFrame:
    """End-to-end ProHap on the synthetic cohort."""
    from prohap_spark.pipeline.prohap import annotate_haplotypes, extract_haplotypes

    variants, transcripts, cdna, names, meta = materialized_cohort(spark, scale)
    haplos = extract_haplotypes(variants, names, meta, transcripts, min_af=0.01)
    return annotate_haplotypes(haplos, transcripts, cdna, min_count=1)


def run_provar_e2e(spark: SparkSession, scale: int = 1) -> DataFrame:
    """End-to-end ProVar on the synthetic cohort."""
    from prohap_spark.pipeline.provar import run_provar

    variants, transcripts, cdna, _names, _meta = materialized_cohort(spark, scale)
    return run_provar(variants.drop("genotypes"), transcripts, cdna, min_af=0.01)
