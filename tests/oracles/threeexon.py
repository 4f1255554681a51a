"""Value check for THREE-exon transcripts — multi-intron offset
accumulation and junction NUMBERING beyond #1.

A 2-exon fixture only ever surfaces junction number '1', and its U1
exon walk never accumulates across more than one intron. This fixture puts four junction variants
on a 3-exon transcript (both strands): an exon-1-end cut and a
reach-through splice of intron 1 (junction 1), an intron-2-start trim
and an exon-2-end cut (junction 2, kernels/coordinates.py:99,107 —
idx vs idx+1 numbering), plus a clean exon-3 SNP whose transcript
offset requires subtracting BOTH introns. The DuckDB oracle re-derives
the 3-exon walk, the truncations, the junction numbers, the strand
flip, the overlay, and the translation (incl. the SNP's SAV/
synonymous/stop consequence from the affected codon) independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tests.oracles.junction import _orf_seq
from tests.oracles.minus_strand import _BASES, _CODON_VALUES, _revcomp
from tests.oracles import register


def _threeexon_fixture():
    transcripts, cdnas, variants = [], [], []
    spec = [("TE0", 50_000, "+"), ("TE1", 60_000, "-")]
    for tid, base, strand in spec:
        # exon lengths 90 / 90 / 120, introns 10 bp
        e1s, e1e = base, base + 89
        e2s, e2e = base + 100, base + 189
        e3s, e3e = base + 200, base + 319
        exons = [(e1s, e1e), (e2s, e2e), (e3s, e3e)]
        total = 300
        cdna = _orf_seq(tid, total, orf_codons=95)
        plus_seq = cdna if strand == "+" else _revcomp(cdna)
        # start codon: genomic position of transcript offsets 3..5
        if strand == "+":
            sc = e1s + 3
        else:
            # offset 3 → plus_rna 296 → exon 3 (cum 180) → e3s + 116;
            # min over offsets 3,4,5 → e3s + 114
            sc = e3s + 114
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "9", e1s, e3e, strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc, None)
        )
        cdnas.append(("cdna", tid, "", cdna))

        def other(b):
            return "A" if b != "A" else "C"

        cases = [
            # A: exon-1-end cut → in-frame 3-bp deletion, junction 1
            (base + 86, plus_seq[86:90] + "TTT", plus_seq[86]),
            # B: intron-2-start trim → frameshift deletion, junction 2
            (base + 197, "TTT" + plus_seq[180:182], "TTT" + other(plus_seq[180])),
            # C: reach-through splice of intron 1 (REF spans exon-1
            # tail + the whole intron + 2 bases of exon 2), junction 1
            (base + 87, plus_seq[87:90] + "TTTTTTTTTT" + plus_seq[90:92],
             plus_seq[87]),
            # D: exon-2-end cut → in-frame 3-bp deletion, junction 2
            (base + 186, plus_seq[176:180] + "TTT", plus_seq[176]),
            # E: clean SNP in exon 3 — its transcript offset subtracts
            # BOTH introns (plus_rna 230)
            (base + 250, plus_seq[230],
             _BASES[(_BASES.index(plus_seq[230]) + 1) % 4]),
        ]
        for pos, g_ref, g_alt in cases:
            variants.append(("9", pos, f"rs_{tid}_{pos}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", 0.5))
    return transcripts, cdnas, variants


_T, _C, _V = _threeexon_fixture()

_SQL_VARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}')" for c, p, _id, r, a, *_ in _V
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

THREEEXON_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt) AS (VALUES
      {_SQL_VARIANTS}),
tr(tid, chrom, e1s, e1e, e2s, e2e, e3s, e3e, strand, sc) AS (VALUES
      {_SQL_TRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_CDNA}),
asg AS (
  SELECT t.tid, v.pos, v.g_ref, v.g_alt, t.strand, c.seq,
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
  JOIN cd c ON c.tid = t.tid
),
-- intron-start trim against EITHER intron (kernels/coordinates.py:92-99)
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
-- containing exon + the 3-exon '+'-oriented rna walk (two introns out)
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
-- exon-end cut / reach-through splice + junction NUMBER (idx for an
-- intron-start trim, idx+1 for an end-side event,
-- kernels/coordinates.py:99,107,127-130)
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
o AS (
  SELECT tid,
         '9_' || pos || '_' || g_ref || '_' || g_alt AS item_id,
         seq, length(ref2) AS k, jn,
         CASE WHEN strand = '-' THEN total - plus_rna - length(ref2)
              ELSE plus_rna END AS t_off,
         CASE WHEN strand = '-' THEN reverse(translate(ref2, 'ACGT', 'TGCA'))
              ELSE ref2 END AS t_ref,
         CASE WHEN strand = '-' THEN reverse(translate(alt2, 'ACGT', 'TGCA'))
              ELSE alt2 END AS t_alt,
         CASE WHEN strand = '-' THEN total - sc_plus - 3 ELSE sc_plus END
           AS start_off
  FROM t3
),
e AS (
  SELECT *, start_off % 3 AS rf, (start_off - start_off % 3) // 3 AS pstart,
         substr(seq, 1, CAST(t_off AS INT)) || t_alt
           || substr(seq, CAST(t_off + k + 1 AS INT)) AS mutated
  FROM o
),
-- consequence: junction ⇒ splice_variant; otherwise (the clean 1-bp
-- SNP) compare the affected codon in ref vs mutated cDNA
conseq AS (
  SELECT e.tid, e.item_id,
         CASE WHEN e.jn IS NOT NULL THEN 'splice_variant'
              WHEN cr.aa = ca.aa THEN 'synonymous'
              WHEN cr.aa = '*' AND ca.aa != '*' THEN 'stop_lost'
              WHEN cr.aa != '*' AND ca.aa = '*' THEN 'stop_gained'
              ELSE 'SAV' END AS variant_types
  FROM (
    SELECT *,
           ((t_off - rf) // 3) * 3 + rf AS bp_from
    FROM e
  ) e
  LEFT JOIN codons cr
    ON cr.codon = upper(substr(e.seq, CAST(e.bp_from + 1 AS INT), 3))
  LEFT JOIN codons ca
    ON ca.codon = upper(substr(e.mutated, CAST(e.bp_from + 1 AS INT), 3))
),
cx AS (
  SELECT g.tid, g.item_id, g.pstart, g.i, c.aa
  FROM (
    SELECT e.tid, e.item_id, e.pstart, i.range AS i,
           upper(substr(e.mutated, CAST(e.rf + i.range * 3 + 1 AS INT), 3))
             AS codon
    FROM e, range(0, 120) i
    WHERE e.rf + i.range * 3 + 3 <= length(e.mutated)
  ) g JOIN codons c ON c.codon = g.codon
),
stops AS (
  SELECT tid, item_id,
         min(CASE WHEN aa = '*' AND i >= pstart THEN i END) AS stop_i
  FROM cx GROUP BY 1, 2
),
prot AS (
  SELECT c.tid, c.item_id,
         coalesce(string_agg(c.aa, '' ORDER BY c.i)
           FILTER (WHERE c.i >= c.pstart
                     AND (s.stop_i IS NULL OR c.i < s.stop_i)), '') AS protein
  FROM cx c JOIN stops s USING (tid, item_id)
  GROUP BY 1, 2
)
SELECT e.tid AS transcript_id, e.item_id,
       e.t_off || ':' || e.t_ref || '>' || e.t_alt AS cdna_changes,
       q.variant_types,
       CASE WHEN e.jn IS NOT NULL THEN CAST(e.jn AS VARCHAR) ELSE '-' END
         AS splice_sites_affected,
       p.protein
FROM e
JOIN conseq q ON q.tid = e.tid AND q.item_id = e.item_id
JOIN prot p ON p.tid = e.tid AND p.item_id = e.item_id
"""


@register("domain_provar_threeexon_oracle", THREEEXON_SQL)
def domain_provar_threeexon_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProVar pipeline over the 3-exon fixture: junction
    numbers 1 AND 2 (exon-end cuts, an intron-2 trim, a reach-through
    splice), two-intron offset accumulation (the exon-3 SNP), both
    strands — truncated alleles, junction numbers, consequences, and
    translated proteins each re-derived independently in SQL."""
    from prohap_spark.pipeline.provar import run_provar

    variants = spark.createDataFrame(
        _V,
        "chrom string, pos long, id string, ref string, alt string, "
        "qual string, filter string, info string, format string, af double",
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
    out = run_provar(variants, transcripts, cdna, min_af=0.01, require_start=True)
    return out.select(
        F.col("transcript_id"), "item_id", "cdna_changes", "variant_types",
        "splice_sites_affected", "protein",
    )
