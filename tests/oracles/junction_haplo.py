"""Value check for the COMBINATION of multi-change haplotypes and
junction-truncating variants.

``domain_prohap_indel_oracle`` value-checks U3 pass-2 cumulative
offsets with junction-free alleles; ``domain_provar_junction_oracle``
value-checks U1 junction truncation one change per row. This check
runs the REAL ProHap pipeline (melt → conflict window → signature
grouping → U1-U3 kernel → A5 merge) over haplotypes whose change sets
MIX truncated junction alleles with downstream SNPs/indels, so a later
change's application position shifts by the TRUNCATED (not genomic)
length delta of an earlier junction allele — on both strands, where
the '-' transcript additionally reverses the application order
relative to genome coordinates.

Fixture: two 2-exon transcripts ('+' and '-', 120+180 bp exons, 10-bp
intron), five variants each —
  A  exon-end cut: REF 4 exonic + 3 intronic bases, anchor ALT →
     truncated to an in-frame 3-bp deletion (coordinates.py:103-113,
     reference coordinates_toolbox.py:38-56);
  S  clean SNP in exon 2;
  I  clean in-frame insertion in exon 2;
  B  intron-start trim: REF 3 intronic + 2 exonic, ALT's exonic tail
     1 base → frameshift deletion (coordinates.py:92-99, reference
     :27-37);
  C  reach-through splice: REF spans exon-1 tail + the whole intron +
     2 bases of exon 2; the intron is spliced out of REF
     (coordinates.py:108-111, reference :47-52).
C genomically overlaps A and B, so no copy carries C with either (the
W1 conflict window would drop the copy); the star case {A,B,S} carries
TWO junction truncations plus a SNP in one haplotype. The DuckDB
oracle re-derives the truncation (genome orientation), the strand
flip, the ordered-segment splice of the truncated alleles, the
full-frame protein, and the splice flag, all independently in SQL.

``ignore_utr=False`` keeps the comparison verbatim on ``mutated_cdna``
and the full-frame ``protein`` (the UTR trim is value-checked on the
SNP slice by ``domain_prohap_snp_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tests.oracles.minus_strand import _BASES, _CODON_VALUES, _genomic, _mkseq, _revcomp
from tests.oracles import register

_SAMPLES = [f"J{i}" for i in range(6)]

# copy i = sample*2 + (phase-1) carries the variant indices listed;
# variants: 0=A exon-end cut, 1=S snp, 2=I ins3, 3=B intron trim,
# 4=C reach-through (never co-carried with 0 or 3 — genomic overlap)
_COPY_SETS = [
    {0, 3, 1}, {1, 2}, {0, 3, 1}, {4, 1, 2}, {0, 2}, {3},
    {4}, {0, 1, 2, 3}, set(), {2}, {0, 1}, {0, 3, 1},
]


def _junction_haplo_fixture():
    transcripts, cdnas, variants = [], [], []
    n = len(_SAMPLES)
    spec = [("TJH0", 30_000, "+"), ("TJH1", 40_000, "-")]
    for tid, base, strand in spec:
        e1s, e1e, e2s, e2e = base, base + 119, base + 130, base + 309
        exons = [(e1s, e1e), (e2s, e2e)]
        total = 300
        cdna = _mkseq(tid, total)
        # oracle codon grids are range(0,120): 303 bp mutated max
        assert total + 3 <= 360, "fixture outgrew the oracle codon grid"
        plus_seq = cdna if strand == "+" else _revcomp(cdna)
        sc = min(_genomic(o, exons, strand, total) for o in (3, 4, 5))
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "9", e1s, e2e, strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc, None)
        )
        cdnas.append(("cdna", tid, "", cdna))

        def other(b):
            return "A" if b != "A" else "C"

        cases = [
            # A: exon-end cut -> in-frame 3-bp deletion at plus_rna 116
            (base + 116, plus_seq[116:120] + "TTT", plus_seq[116]),
            # S: SNP at plus_rna 150
            (base + 160, plus_seq[150], _BASES[(_BASES.index(plus_seq[150]) + 1) % 4]),
            # I: in-frame insertion at plus_rna 190
            (base + 200, plus_seq[190], plus_seq[190] + "ACA"),
            # B: intron-start trim -> frameshift 1-bp deletion at plus_rna 120
            (base + 127, "TTT" + plus_seq[120:122], "TTT" + other(plus_seq[120])),
            # C: reach-through splice -> 4-bp frameshift deletion at plus_rna 117
            (base + 117, plus_seq[117:120] + "TTTTTTTTTT" + plus_seq[120:122],
             plus_seq[117]),
        ]
        for vi, (pos, g_ref, g_alt) in enumerate(cases):
            gts = [
                f"{int(vi in _COPY_SETS[s * 2])}|{int(vi in _COPY_SETS[s * 2 + 1])}"
                for s in range(n)
            ]
            variants.append(("9", pos, f"rs_{tid}_{vi}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", gts, 0.5))
    return transcripts, cdnas, variants


_T, _C, _V = _junction_haplo_fixture()

_SQL_VARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}', '{','.join(g)}')"
    for c, p, _id, r, a, _q, _f, _i, _fmt, g, _af in _V
)
_SQL_TRANSCRIPTS = ",\n      ".join(
    "('{tid}', '{chrom}', {e1s}, {e1e}, {e2s}, {e2e}, '{strand}', {sc})".format(
        tid=t[0], chrom=t[3],
        e1s=t[9][0]["start"], e1e=t[9][0]["end"],
        e2s=t[9][1]["start"], e2e=t[9][1]["end"],
        strand=t[6], sc=t[10],
    )
    for t in _T
)
_SQL_CDNA = ",\n      ".join(f"('{acc}', '{seq}')" for _tag, acc, _d, seq in _C)

JUNCTION_HAPLO_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt, gts) AS (VALUES
      {_SQL_VARIANTS}),
tr(tid, chrom, e1s, e1e, e2s, e2e, strand, sc) AS (VALUES
      {_SQL_TRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_CDNA}),
cohort AS (SELECT 2 * len(string_split(gts, ',')) AS denom FROM vr LIMIT 1),
trx AS (
  SELECT tid,
         (e1e - e1s + 1) + (e2e - e2s + 1) AS total,
         CASE WHEN strand = '-'
              THEN (e1e - e1s + 1) + (e2e - e2s + 1)
                   - (CASE WHEN sc BETWEEN e1s AND e1e THEN sc - e1s
                           ELSE (e1e - e1s + 1) + (sc - e2s) END) - 3
              ELSE CASE WHEN sc BETWEEN e1s AND e1e THEN sc - e1s
                        ELSE (e1e - e1s + 1) + (sc - e2s) END
         END % 3 AS rf
  FROM tr
),
-- U1 over the span-overlap join (a junction REF may START in the
-- intron yet reach exon 2, so the probe is span overlap, not point)
asg0 AS (
  SELECT t.tid, v.pos, v.g_ref, v.g_alt, t.strand,
         t.e1s, t.e1e, t.e2s, t.e2e, x.total
  FROM vr v
  JOIN tr t ON v.chrom = t.chrom
    AND ((t.e1s < v.pos + length(v.g_ref) AND t.e1e >= v.pos)
      OR (t.e2s < v.pos + length(v.g_ref) AND t.e2e >= v.pos))
  JOIN trx x ON x.tid = t.tid
),
-- intron-start trim (kernels/coordinates.py:92-99)
t1 AS (
  SELECT *, pos + il AS pos2,
         substr(g_ref, il + 1) AS ref1,
         substr(g_alt, il + 1) AS alt1
  FROM (SELECT *, CASE WHEN pos > e1e AND pos < e2s THEN e2s - pos ELSE 0 END AS il
        FROM asg0)
),
t2 AS (
  SELECT *,
         CASE WHEN pos2 <= e1e THEN e1e ELSE e2e END AS ee,
         CASE WHEN pos2 <= e1e THEN e1s ELSE e2s END AS es,
         CASE WHEN pos2 <= e1e THEN pos2 - e1s
              ELSE (e1e - e1s + 1) + (pos2 - e2s) END AS plus_rna
  FROM t1
),
-- exon-end cut / reach-through splice (kernels/coordinates.py:103-124)
t3 AS (
  SELECT *,
    CASE WHEN pos2 + length(ref1) > ee THEN
           CASE WHEN pos2 <= e1e AND pos2 + length(ref1) > e2s
                THEN substr(ref1, 1, ee - pos2 + 1) || substr(ref1, e2s - pos2 + 1)
                ELSE substr(ref1, 1, ee - pos2 + 1) END
         ELSE ref1 END AS ref2,
    CASE WHEN pos2 + length(alt1) > ee THEN
           CASE WHEN pos2 <= e1e AND pos2 + length(alt1) > e2s
                THEN substr(alt1, 1, ee - pos2 + 1) || substr(alt1, e2s - pos2 + 1)
                ELSE substr(alt1, 1, ee - pos2 + 1) END
         ELSE alt1 END AS alt2,
    (il > 0 OR pos2 + length(ref1) > ee
       OR ee - pos2 + length(ref1) < 3 OR pos2 - es < 3) AS is_splice
  FROM t2
),
-- transcript orientation on the TRUNCATED alleles
o AS (
  SELECT tid, pos, g_ref, g_alt, length(ref2) AS k, is_splice,
         CASE WHEN strand = '-' THEN total - plus_rna - length(ref2)
              ELSE plus_rna END AS t_off,
         CASE WHEN strand = '-' THEN reverse(translate(ref2, 'ACGT', 'TGCA'))
              ELSE ref2 END AS t_ref,
         CASE WHEN strand = '-' THEN reverse(translate(alt2, 'ACGT', 'TGCA'))
              ELSE alt2 END AS t_alt
  FROM t3
),
mg AS (
  SELECT chrom, pos, g_ref, g_alt,
         unnest(string_split(gts, ',')) AS gt,
         unnest(range(len(string_split(gts, ',')))) AS sidx
  FROM vr
),
car AS (
  SELECT pos, g_ref, g_alt, sidx, 1 AS phase
  FROM mg WHERE split_part(gt, '|', 1) = '1'
  UNION ALL
  SELECT pos, g_ref, g_alt, sidx, 2
  FROM mg WHERE split_part(gt, '|', 2) = '1'
),
tc AS (
  SELECT o.tid, c.sidx, c.phase, o.t_off, o.t_ref, o.t_alt, o.k, o.is_splice
  FROM car c JOIN o USING (pos, g_ref, g_alt)
),
-- A2 signature == the kernel's transcript-ordered TRUNCATED change list
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
  SELECT DISTINCT t.tid, s.cdna_changes, t.t_off, t.t_alt, t.k, t.is_splice
  FROM sigs s JOIN tc t USING (tid, sidx, phase)
),
-- U3 pass 2 as ordered segment splicing over the TRUNCATED spans
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
-- every junction allele here touches junction #1; order/dedup is moot
spl AS (
  SELECT tid, cdna_changes,
         CASE WHEN bool_or(is_splice) THEN '1' ELSE '-' END
           AS splice_sites_affected
  FROM hch GROUP BY 1, 2
),
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
       m.mutated AS mutated_cdna, p.protein, s.splice_sites_affected,
       CAST(h.occurrence_count AS BIGINT) AS occurrence_count,
       h.frequency
FROM haplos h
JOIN mut m USING (tid, cdna_changes)
JOIN prot p USING (tid, cdna_changes)
JOIN spl s USING (tid, cdna_changes)
"""


@register("domain_prohap_junction_oracle", JUNCTION_HAPLO_SQL)
def domain_prohap_junction_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProHap pipeline (extract_haplotypes → U1-U3 kernel →
    A5 merge, ignore_utr=False) over the literal junction-haplotype
    fixture: haplotypes mixing splice-truncated alleles (exon-end cut,
    intron-start trim, reach-through splice) with downstream SNPs and
    indels, on both strands — the truncated alleles surface in
    cdna_changes, the junction flag in splice_sites_affected, and
    pass-2's cumulative offsets over TRUNCATED lengths in the verbatim
    mutated_cdna / full-frame protein, each re-derived independently
    in SQL."""
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
        "splice_sites_affected", "occurrence_count", "frequency",
    )
