"""Value check for multi-change haplotypes on a THREE-exon
transcript.

``domain_provar_threeexon_oracle`` value-checks the 3-exon U1 walk one
variant per row; ``domain_prohap_junction_oracle`` value-checks
junction-mixing haplotypes on 2-exon transcripts. This check runs the
REAL ProHap pipeline (melt → conflict window → signature grouping →
U1-U3 kernel → A5 merge) over haplotypes on 3-exon transcripts whose
change sets mix truncated alleles at BOTH junctions with a
two-introns-away SNP — so `splice_sites_affected` must list junction
numbers 1 AND 2 in first-seen application order (which on the '-'
strand is the REVERSE of genomic junction order), dedup repeated
junction numbers ({B,D} both hit junction 2 → '2', not '2;2'), and
pass-2 cumulative offsets accumulate across truncations from
different junctions.

Fixture (both strands, exons 90/90/120 bp, 10-bp introns; geometry
shared with threeexon.py):
  A  exon-1-END cut → in-frame 3-bp deletion, junction 1;
  B  intron-2-START trim → 1-bp frameshift deletion, junction 2;
  C  reach-through splice of intron 1 → 4-bp frameshift deletion,
     junction 1 (genomically overlaps A — never co-carried);
  D  exon-2-END cut → in-frame 3-bp deletion, junction 2;
  E  clean SNP in exon 3 (transcript offset subtracts BOTH introns).
The star copy {A,D,E} carries junctions 1 and 2 plus the SNP: E's
application position shifts by A's AND D's truncated length deltas.
The DuckDB oracle re-derives the 3-exon walk, both-junction
truncations, strand flips, ordered-segment splicing, the full-frame
protein (ignore_utr=False), and the first-seen junction list,
independently in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tests.oracles.minus_strand import _BASES, _CODON_VALUES, _mkseq, _revcomp
from tests.oracles import register

_SAMPLES = [f"K{i}" for i in range(6)]

# copy i = sample*2 + (phase-1); variants: 0=A (j1 end cut), 1=B (j2
# intron trim), 2=C (j1 reach-through, overlaps A), 3=D (j2 end cut),
# 4=E (exon-3 SNP)
_COPY_SETS = [
    {0, 3, 4}, {2, 4}, {0, 1}, {3}, {0, 3, 4}, {1, 4},
    {4}, {2, 3}, set(), {0, 4}, {1, 3}, {0, 3, 4},
]


def _fixture():
    transcripts, cdnas, variants = [], [], []
    n = len(_SAMPLES)
    spec = [("TH3P", 50_000, "+"), ("TH3M", 60_000, "-")]
    for tid, base, strand in spec:
        e1s, e1e = base, base + 89
        e2s, e2e = base + 100, base + 189
        e3s, e3e = base + 200, base + 319
        exons = [(e1s, e1e), (e2s, e2e), (e3s, e3e)]
        total = 300
        cdna = _mkseq(tid, total)
        assert total + 3 <= 360, "fixture outgrew the oracle codon grid"
        plus_seq = cdna if strand == "+" else _revcomp(cdna)
        # start codon at transcript offsets 3..5 (rf = 0, full frame)
        sc = e1s + 3 if strand == "+" else e3s + 114
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "9", e1s, e3e, strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc, None)
        )
        cdnas.append(("cdna", tid, "", cdna))

        def other(b):
            return "A" if b != "A" else "C"

        cases = [
            # A: exon-1-end cut (REF 4 exonic + 3 intronic) -> j1
            (base + 86, plus_seq[86:90] + "TTT", plus_seq[86]),
            # B: intron-2-start trim (REF 3 intronic + 2 exonic) -> j2
            (base + 197, "TTT" + plus_seq[180:182], "TTT" + other(plus_seq[180])),
            # C: reach-through splice of intron 1 -> j1
            (base + 87, plus_seq[87:90] + "TTTTTTTTTT" + plus_seq[90:92],
             plus_seq[87]),
            # D: exon-2-end cut (REF 4 exonic + 3 intronic) -> j2
            (base + 186, plus_seq[176:180] + "TTT", plus_seq[176]),
            # E: clean SNP in exon 3 (plus_rna 230)
            (base + 250, plus_seq[230],
             _BASES[(_BASES.index(plus_seq[230]) + 1) % 4]),
        ]
        for vi, (pos, g_ref, g_alt) in enumerate(cases):
            gts = [
                f"{int(vi in _COPY_SETS[s * 2])}|{int(vi in _COPY_SETS[s * 2 + 1])}"
                for s in range(n)
            ]
            variants.append(("9", pos, f"rs_{tid}_{vi}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", gts, 0.5))
    return transcripts, cdnas, variants


_T, _C, _V = _fixture()

_SQL_VARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}', '{','.join(g)}')"
    for c, p, _id, r, a, _q, _f, _i, _fmt, g, _af in _V
)
_SQL_TRANSCRIPTS = ",\n      ".join(
    "('{tid}', '{chrom}', {e1s}, {e1e}, {e2s}, {e2e}, {e3s}, {e3e}, "
    "'{strand}', {sc})".format(
        tid=t[0], chrom=t[3],
        e1s=t[9][0]["start"], e1e=t[9][0]["end"],
        e2s=t[9][1]["start"], e2e=t[9][1]["end"],
        e3s=t[9][2]["start"], e3e=t[9][2]["end"],
        strand=t[6], sc=t[10],
    )
    for t in _T
)
_SQL_CDNA = ",\n      ".join(f"('{acc}', '{seq}')" for _tag, acc, _d, seq in _C)

THREEEXON_HAPLO_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt, gts) AS (VALUES
      {_SQL_VARIANTS}),
tr(tid, chrom, e1s, e1e, e2s, e2e, e3s, e3e, strand, sc) AS (VALUES
      {_SQL_TRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_CDNA}),
cohort AS (SELECT 2 * len(string_split(gts, ',')) AS denom FROM vr LIMIT 1),
-- U1 over the 3-exon span-overlap join (threeexon.py walk)
asg AS (
  SELECT t.tid, v.pos, v.g_ref, v.g_alt, t.strand,
         t.e1s, t.e1e, t.e2s, t.e2e, t.e3s, t.e3e,
         (t.e1e - t.e1s + 1) AS l1, (t.e2e - t.e2s + 1) AS l2,
         (t.e1e - t.e1s + 1) + (t.e2e - t.e2s + 1) + (t.e3e - t.e3s + 1)
           AS total,
         CASE WHEN t.sc <= t.e1e THEN t.sc - t.e1s
              WHEN t.sc <= t.e2e THEN (t.e1e - t.e1s + 1) + (t.sc - t.e2s)
              ELSE (t.e1e - t.e1s + 1) + (t.e2e - t.e2s + 1) + (t.sc - t.e3s)
         END AS sc_plus
  FROM vr v JOIN tr t ON v.chrom = t.chrom
    AND ((t.e1s < v.pos + length(v.g_ref) AND t.e1e >= v.pos)
      OR (t.e2s < v.pos + length(v.g_ref) AND t.e2e >= v.pos)
      OR (t.e3s < v.pos + length(v.g_ref) AND t.e3e >= v.pos))
),
t1 AS (
  SELECT *, pos + il AS pos2,
         substr(g_ref, il + 1) AS ref1,
         substr(g_alt, il + 1) AS alt1
  FROM (SELECT *,
               CASE WHEN pos > e1e AND pos < e2s THEN e2s - pos
                    WHEN pos > e2e AND pos < e3s THEN e3s - pos
                    ELSE 0 END AS il
        FROM asg)
),
t2 AS (
  SELECT *,
         CASE WHEN pos2 <= e1e THEN e1e WHEN pos2 <= e2e THEN e2e
              ELSE e3e END AS ee,
         CASE WHEN pos2 <= e1e THEN e1s WHEN pos2 <= e2e THEN e2s
              ELSE e3s END AS es,
         CASE WHEN pos2 <= e1e THEN e2s WHEN pos2 <= e2e THEN e3s
              ELSE NULL END AS next_start,
         CASE WHEN pos2 <= e1e THEN pos2 - e1s
              WHEN pos2 <= e2e THEN l1 + (pos2 - e2s)
              ELSE l1 + l2 + (pos2 - e3s) END AS plus_rna
  FROM t1
),
t3 AS (
  SELECT *,
    CASE WHEN pos2 + length(ref1) > ee THEN
           CASE WHEN next_start IS NOT NULL AND pos2 + length(ref1) > next_start
                THEN substr(ref1, 1, CAST(ee - pos2 + 1 AS INT))
                     || substr(ref1, CAST(next_start - pos2 + 1 AS INT))
                ELSE substr(ref1, 1, CAST(ee - pos2 + 1 AS INT)) END
         ELSE ref1 END AS ref2,
    CASE WHEN pos2 + length(alt1) > ee THEN
           CASE WHEN next_start IS NOT NULL AND pos2 + length(alt1) > next_start
                THEN substr(alt1, 1, CAST(ee - pos2 + 1 AS INT))
                     || substr(alt1, CAST(next_start - pos2 + 1 AS INT))
                ELSE substr(alt1, 1, CAST(ee - pos2 + 1 AS INT)) END
         ELSE alt1 END AS alt2,
    CASE WHEN il > 0 THEN CASE WHEN pos2 = e2s THEN 1 ELSE 2 END
         WHEN pos2 + length(ref1) > ee THEN
           CASE WHEN pos2 <= e1e THEN 1 WHEN pos2 <= e2e THEN 2 ELSE 3 END
         WHEN ee - pos2 + length(ref1) < 3 THEN
           CASE WHEN pos2 <= e1e THEN 1 WHEN pos2 <= e2e THEN 2 ELSE 3 END
         WHEN pos2 - es < 3 THEN
           CASE WHEN pos2 <= e1e THEN 0 WHEN pos2 <= e2e THEN 1 ELSE 2 END
    END AS jn
  FROM t2
),
-- transcript orientation on TRUNCATED alleles + the full-frame rf
o AS (
  SELECT tid, pos, g_ref, g_alt, length(ref2) AS k, jn,
         CASE WHEN strand = '-' THEN total - plus_rna - length(ref2)
              ELSE plus_rna END AS t_off,
         CASE WHEN strand = '-' THEN reverse(translate(ref2, 'ACGT', 'TGCA'))
              ELSE ref2 END AS t_ref,
         CASE WHEN strand = '-' THEN reverse(translate(alt2, 'ACGT', 'TGCA'))
              ELSE alt2 END AS t_alt,
         (CASE WHEN strand = '-' THEN total - sc_plus - 3 ELSE sc_plus END) % 3
           AS rf
  FROM t3
),
trx AS (SELECT DISTINCT tid, rf FROM o),
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
  SELECT o.tid, c.sidx, c.phase, o.t_off, o.t_ref, o.t_alt, o.k, o.jn
  FROM car c JOIN o USING (pos, g_ref, g_alt)
),
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
  SELECT DISTINCT t.tid, s.cdna_changes, t.t_off, t.t_alt, t.k, t.jn
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
-- junction list: first-seen in APPLICATION order (ascending t_off —
-- on '-' that reverses genomic junction order), repeated numbers
-- deduped (kernels/haplo.py:280-281)
spl0 AS (
  SELECT tid, cdna_changes, jn, min(t_off) AS first_off
  FROM hch WHERE jn IS NOT NULL GROUP BY 1, 2, 3
),
spl AS (
  SELECT h.tid, h.cdna_changes,
         coalesce(s.j, '-') AS splice_sites_affected
  FROM haplos h
  LEFT JOIN (
    SELECT tid, cdna_changes,
           string_agg(CAST(jn AS VARCHAR), ';' ORDER BY first_off) AS j
    FROM spl0 GROUP BY 1, 2
  ) s USING (tid, cdna_changes)
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


@register("domain_prohap_threeexon_oracle", THREEEXON_HAPLO_SQL)
def domain_prohap_threeexon_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProHap pipeline (extract_haplotypes → U1-U3 kernel →
    A5 merge, ignore_utr=False) over the 3-exon junction-haplotype
    fixture: truncated alleles at junctions 1 AND 2 mixed with a
    two-introns-away SNP in one haplotype, both strands — the
    first-seen junction list ('1;2' on '+', '2;1' on '-' for the star
    copy; '2' deduped for the {B,D} copy), the two-intron offset walk,
    and pass-2 cumulative offsets over truncations from different
    junctions all re-derived independently in SQL."""
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
