"""Value check for MULTI-VARIANT INDEL haplotypes —
the U3 pass-2 cumulative-offset path (reference
process_haplotypes.py:261-285), on both strands.

The kernel path checked here: a haplotype carrying SEVERAL changes
including indels, where a later change's
application position shifts by the cumulative length delta of the
earlier ones (and on '-' strand the whole change list is
transcript-reoriented first, reference :159-162 / :200-205). The
synthetic-cohort oracle is SNP-only (no offsets) and the ProVar indel
oracle is one-change-per-row (no accumulation).

This check runs the REAL ProHap pipeline — genotype melt, conflict
window, signature grouping, frequency denominators, the U1-U3 kernel,
A5 merge — over a literal fixture of three transcripts ('+', '-', and
two-exon '-') whose phased genotypes build haplotypes of 1-3 changes
mixing SNPs with in-frame and frameshift insertions/deletions. The
oracle re-derives the mutated cDNA independently in DuckDB via ORDERED
SEGMENT SPLICING (sorted by transcript offset, each segment starting
where the previous allele's REF span ended — algebraically identical
to the kernel's running seq_diff cursor, but formulated without any
mutable state), then translates from the start-codon frame.

``ignore_utr=False`` (a first-class reference flag) keeps the oracle
exact: pass 3's UTR trim re-locates changes through frameshift-moved
stops — that string-parsing filter is value-checked on the SNP slice
by ``domain_prohap_snp_oracle``; here the full mutated cDNA and the
full-frame protein are compared VERBATIM, which is a strictly sharper
check of pass 2 than any trimmed projection.

Fixture invariants (keep when editing): every REF matches the cDNA
slice (no liftover drops), all changes start at transcript offset
>= 6 (downstream of the ATG at 3 — start tracking is U2's oracle),
allele spans are pairwise disjoint with >= 10 bp gaps (no W1
conflicts, no junction truncation), and no span comes within 3 bp of
an exon edge (no splice flags).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.functions.genomics import CODON_TABLE
from tests.oracles.minus_strand import _BASES, _genomic, _mkseq, _revcomp
from tests.oracles import register

_SAMPLES = [f"H{i}" for i in range(6)]

# per transcript: (tid, exons, strand, [(t_off, kind)], copy_sets)
# copy_sets[i] = variant indices carried by copy i = sample*2 + phase-1;
# the multi-indel sets are the point of the fixture: {ins3, del3} and
# {snp, ins3, frameshift} chains where change #2/#3 apply at positions
# shifted by the earlier indels' length deltas.
_SPEC = [
    ("TH0", [(50_000, 50_299)], "+",
     [(20, "snp"), (40, "ins3"), (70, "del3"), (100, "ins2")],
     [{1, 2}, {1, 2}, {0, 1, 3}, set(), {1, 2}, {0, 1, 3},
      {2}, {0}, {0, 2, 3}, set(), {1}, {0, 1, 3}]),
    ("TH1", [(60_000, 60_299)], "-",
     [(25, "snp"), (50, "ins3"), (90, "del3"), (130, "del2")],
     [{0, 1, 2}, {1, 3}, {0, 1, 2}, {2, 3}, {1, 3}, set(),
      {0, 1, 2}, {1, 3}, {3}, {0}, set(), {2, 3}]),
    ("TH2", [(70_000, 70_119), (70_500, 70_679)], "-",
     [(15, "ins3"), (140, "snp"), (200, "del3")],
     [{0, 1, 2}, {0, 2}, {0, 1, 2}, set(), {0, 2}, {1},
      {0, 1, 2}, {0, 2}, {2}, set(), set(), set()]),
]


def _alleles(seq: str, t_off: int, kind: str) -> tuple[str, str]:
    """Transcript-space (ref, alt) for a mutation kind (VCF-anchored)."""
    if kind == "snp":
        r = seq[t_off]
        return r, _BASES[(_BASES.index(r) + 1) % 4]
    if kind == "ins3":
        r = seq[t_off]
        return r, r + "ACA"
    if kind == "ins2":
        r = seq[t_off]
        return r, r + "AC"
    if kind == "del3":
        return seq[t_off : t_off + 4], seq[t_off]
    if kind == "del2":
        return seq[t_off : t_off + 3], seq[t_off]
    raise ValueError(kind)


def _fixture():
    transcripts, cdnas, variants = [], [], []
    n = len(_SAMPLES)
    for tid, exons, strand, muts, copy_sets in _SPEC:
        total = sum(e - s + 1 for s, e in exons)
        seq = _mkseq(tid, total)
        sc_start = min(_genomic(o, exons, strand, total) for o in (3, 4, 5))
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "9", exons[0][0], exons[-1][1], strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc_start, None)
        )
        cdnas.append(("cdna", tid, "", seq))
        for vi, (t_off, kind) in enumerate(muts):
            t_ref, t_alt = _alleles(seq, t_off, kind)
            k = len(t_ref)
            r = t_off if strand == "+" else total - t_off - k
            pos = None
            cum = 0
            for s, e in exons:
                ln = e - s + 1
                if r < cum + ln:
                    pos = s + (r - cum)
                    break
                cum += ln
            g_ref = t_ref if strand == "+" else _revcomp(t_ref)
            g_alt = t_alt if strand == "+" else _revcomp(t_alt)
            gts = [
                f"{int(vi in copy_sets[s * 2])}|{int(vi in copy_sets[s * 2 + 1])}"
                for s in range(n)
            ]
            variants.append(("9", pos, f"rs_{tid}_{vi}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", gts, 0.5))
    return transcripts, cdnas, variants


_T, _C, _V = _fixture()

_CODON_VALUES = ", ".join(f"('{c}', '{a}')" for c, a in sorted(CODON_TABLE.items()))
_SQL_VARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}', '{','.join(g)}')"
    for c, p, _id, r, a, _q, _f, _i, _fmt, g, _af in _V
)
_SQL_TRANSCRIPTS = ",\n      ".join(
    "('{tid}', '{chrom}', {e1s}, {e1e}, {e2s}, {e2e}, '{strand}', {sc})".format(
        tid=t[0], chrom=t[3],
        e1s=t[9][0]["start"], e1e=t[9][0]["end"],
        e2s=t[9][1]["start"] if len(t[9]) > 1 else "NULL",
        e2e=t[9][1]["end"] if len(t[9]) > 1 else "NULL",
        strand=t[6], sc=t[10],
    )
    for t in _T
)
_SQL_CDNA = ",\n      ".join(f"('{acc}', '{seq}')" for _tag, acc, _d, seq in _C)

INDEL_HAPLO_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt, gts) AS (VALUES
      {_SQL_VARIANTS}),
tr(tid, chrom, e1s, e1e, e2s, e2e, strand, sc) AS (VALUES
      {_SQL_TRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_CDNA}),
cohort AS (SELECT 2 * len(string_split(gts, ',')) AS denom FROM vr LIMIT 1),
-- per-transcript start-codon RNA offset and reading frame ('-' strand:
-- total - simple - 3, reference process_haplotypes.py:137-140)
trx AS (
  SELECT tid,
         (e1e - e1s + 1) + coalesce(e2e - e2s + 1, 0) AS total,
         CASE WHEN strand = '-'
              THEN (e1e - e1s + 1) + coalesce(e2e - e2s + 1, 0)
                   - (CASE WHEN sc BETWEEN e1s AND e1e THEN sc - e1s
                           ELSE (e1e - e1s + 1) + (sc - e2s) END) - 3
              ELSE CASE WHEN sc BETWEEN e1s AND e1e THEN sc - e1s
                        ELSE (e1e - e1s + 1) + (sc - e2s) END
         END % 3 AS rf
  FROM tr
),
-- U1: genomic locus -> transcript offset; '-' strand flips position
-- (total - plus_rna - ref_len) and reverse-complements both alleles
asg AS (
  SELECT t.tid, v.chrom, v.pos, v.g_ref, v.g_alt, v.gts,
         length(v.g_ref) AS k,
         CASE WHEN t.strand = '-'
              THEN x.total - (CASE WHEN v.pos BETWEEN t.e1s AND t.e1e
                                   THEN v.pos - t.e1s
                                   ELSE (t.e1e - t.e1s + 1) + (v.pos - t.e2s) END)
                   - length(v.g_ref)
              ELSE CASE WHEN v.pos BETWEEN t.e1s AND t.e1e THEN v.pos - t.e1s
                        ELSE (t.e1e - t.e1s + 1) + (v.pos - t.e2s) END
         END AS t_off,
         CASE WHEN t.strand = '-' THEN reverse(translate(v.g_ref, 'ACGT', 'TGCA'))
              ELSE v.g_ref END AS t_ref,
         CASE WHEN t.strand = '-' THEN reverse(translate(v.g_alt, 'ACGT', 'TGCA'))
              ELSE v.g_alt END AS t_alt
  FROM vr v
  JOIN tr t ON v.chrom = t.chrom
    AND ((v.pos BETWEEN t.e1s AND t.e1e) OR (v.pos BETWEEN t.e2s AND t.e2e))
  JOIN trx x ON x.tid = t.tid
),
-- genotype melt -> carrier (sample, phase) copies
mg AS (
  SELECT chrom, pos, g_ref, g_alt,
         unnest(string_split(gts, ',')) AS gt,
         unnest(range(len(string_split(gts, ',')))) AS sidx
  FROM vr
),
car AS (
  SELECT chrom, pos, g_ref, g_alt, sidx, 1 AS phase
  FROM mg WHERE split_part(gt, '|', 1) = '1'
  UNION ALL
  SELECT chrom, pos, g_ref, g_alt, sidx, 2
  FROM mg WHERE split_part(gt, '|', 2) = '1'
),
tc AS (
  SELECT a.tid, c.sidx, c.phase, a.t_off, a.t_ref, a.t_alt, a.k
  FROM car c JOIN asg a USING (chrom, pos, g_ref, g_alt)
),
-- A2: per-copy signature == the kernel's transcript-ordered change list
sigs AS (
  SELECT tid, sidx, phase,
         string_agg(t_off || ':' || t_ref || '>' || t_alt, ';' ORDER BY t_off)
           AS cdna_changes
  FROM tc GROUP BY 1, 2, 3
),
haplos AS (
  SELECT tid, cdna_changes, count(*) AS occurrence_count,
         floor(count(*) * 100000.0 / (SELECT denom FROM cohort) + 0.5) / 100000.0 AS frequency
  FROM sigs GROUP BY 1, 2
),
hch AS (
  SELECT DISTINCT t.tid, s.cdna_changes, t.t_off, t.t_alt, t.k
  FROM sigs s JOIN tc t USING (tid, sidx, phase)
),
-- U3 pass 2 as ordered segment splicing: segment i = untouched cDNA
-- from the end of allele i-1's REF span up to allele i's offset, then
-- ALT; the tail follows the last REF span. Identical to the kernel's
-- cumulative seq_diff cursor because spans are disjoint and sorted.
seg AS (
  SELECT tid, cdna_changes, t_off, t_alt, k,
         coalesce(lag(t_off + k) OVER (PARTITION BY tid, cdna_changes
                                       ORDER BY t_off), 0) AS seg_start
  FROM hch
),
mut AS (
  SELECT s.tid, s.cdna_changes,
         string_agg(substr(c.seq, CAST(seg_start + 1 AS INT),
                           CAST(t_off - seg_start AS INT)) || t_alt,
                    '' ORDER BY t_off)
           || substr(c.seq, CAST(max(t_off + k) + 1 AS INT)) AS mutated
  FROM seg s JOIN cd c ON c.tid = s.tid
  GROUP BY s.tid, s.cdna_changes, c.seq
),
-- full-frame translation from rf, stops kept (ignore_utr=False)
cx AS (
  SELECT m.tid, m.cdna_changes, i.range AS i,
         upper(substr(m.mutated, CAST(x.rf + i.range * 3 + 1 AS INT), 3)) AS codon
  FROM mut m JOIN trx x USING (tid), range(0, 120) i
  WHERE x.rf + i.range * 3 + 3 <= length(m.mutated)
),
prot AS (
  SELECT g.tid, g.cdna_changes, string_agg(c.aa, '' ORDER BY g.i) AS protein
  FROM cx g JOIN codons c ON c.codon = g.codon
  GROUP BY 1, 2
)
SELECT h.tid AS transcript_id, h.cdna_changes,
       m.mutated AS mutated_cdna, p.protein,
       CAST(h.occurrence_count AS BIGINT) AS occurrence_count,
       h.frequency
FROM haplos h
JOIN mut m USING (tid, cdna_changes)
JOIN prot p USING (tid, cdna_changes)
"""


@register("domain_prohap_indel_oracle", INDEL_HAPLO_SQL)
def domain_prohap_indel_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProHap pipeline (extract_haplotypes → U3 kernel →
    A5 merge, ignore_utr=False) over the literal multi-indel fixture:
    value-checks pass-2 cumulative-offset application across 2-3
    changes mixing SNPs with in-frame AND frameshift indels, on '+',
    '-', and two-exon '-' transcripts — the mutated cDNA and the
    full-frame protein are compared verbatim against an independent
    ordered-splice SQL derivation."""
    from prohap_spark.pipeline.prohap import annotate_haplotypes, extract_haplotypes

    variants = spark.createDataFrame(
        _V,
        "chrom string, pos long, id string, ref string, alt string, qual string, "
        "filter string, info string, format string, genotypes array<string>, af double",
    )
    transcripts = spark.createDataFrame(
        _T,
        "transcript_id string, gene_id string, gene_name string, chrom string, "
        "start long, end long, strand string, biotype string, tags array<string>, "
        "exons array<struct<start:long,end:long>>, start_codon long, stop_codon long",
    )
    cdna = spark.createDataFrame(
        _C, "tag string, accession string, description string, sequence string"
    )
    meta = spark.createDataFrame(
        [(s, "female", "FIN" if i % 2 == 0 else "YRI",
          "EUR" if i % 2 == 0 else "AFR") for i, s in enumerate(_SAMPLES)],
        ["sample_name", "sex", "population_code", "superpopulation_code"],
    )
    haplos = extract_haplotypes(variants, _SAMPLES, meta, transcripts, min_af=0.01)
    out = annotate_haplotypes(haplos, transcripts, cdna, min_count=1, ignore_utr=False)
    return out.select(
        "transcript_id", "cdna_changes", "mutated_cdna", "protein",
        "occurrence_count", "frequency",
    )
