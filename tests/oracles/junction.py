"""Value check for JUNCTION-TRUNCATING variants.

The kernel truncates alleles against splice junctions in genome
orientation (kernels/coordinates.py:89-124, mirroring the reference's
get_rna_position, coordinates_toolbox.py:27-78): an allele starting in
the intron is trimmed to its exonic tail, an allele overrunning the
exon end is cut at the junction, and an allele spanning the whole
intron has the intron spliced out of it — then the truncated alleles
are strand-flipped and applied to the cDNA with a 'splice_variant'
consequence. For general data this is a cursor walk, but over a
literal ≤2-exon fixture every branch reduces to scalar substr/CASE
arithmetic, so the oracle re-derives the truncation, the orientation
flip, the overlay, and the translation independently in SQL.

Fixture: two 2-exon transcripts ('+' and '-', 10-base intron), four
junction variants each — exon-end cut (in-frame deletion), intron-
start trim (frameshift), reach-through splice (intron spliced out of
REF), and an overrunning REF whose ALT fits inside the exon (ALT kept
whole, kernels/coordinates.py:115-124).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tests.oracles.minus_strand import _CODON_VALUES, _mkseq, _revcomp
from tests.oracles import register


def _orf_seq(key: str, n: int, orf_codons: int = 60) -> str:
    """Deterministic cDNA whose first ``orf_codons`` codons after the
    ATG carry no stop — so the translated protein extends THROUGH the
    junction region and the truncated overlay is visible in the protein
    column, not just in cdna_changes."""
    seq = list(_mkseq(key, n))
    for c in range(orf_codons):
        i = 3 + c * 3
        if "".join(seq[i : i + 3]) in ("TAA", "TAG", "TGA"):
            seq[i] = "C"
    return "".join(seq)


def _junction_fixture():
    transcripts, cdnas, variants = [], [], []
    spec = [
        ("TJ0", 10000, "+"),
        ("TJ1", 11000, "-"),
    ]
    for tid, base, strand in spec:
        e1s, e1e, e2s, e2e = base, base + 119, base + 130, base + 309
        exons = [(e1s, e1e), (e2s, e2e)]
        total = 300
        cdna = _orf_seq(tid, total, orf_codons=70)
        plus_seq = cdna if strand == "+" else _revcomp(cdna)
        # start codon: genomic position of transcript offsets 3..5
        if strand == "+":
            sc = e1s + 3
        else:
            # transcript offset 3 → plus_rna 300-3-1 = 296 → exon 2
            sc = e2s + (296 - 120) - 2  # min genomic pos of offsets 3,4,5
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "9", e1s, e2e, strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc, None)
        )
        cdnas.append(("cdna", tid, "", cdna))

        def other(b):
            return "A" if b != "A" else "C"

        cases = [
            # (pos, g_ref, g_alt)
            # A: exon-end cut — REF 4 exonic + 3 intronic, anchor ALT →
            #    truncated to an in-frame 3-bp deletion
            (base + 116, plus_seq[116:120] + "TTT", plus_seq[116]),
            # B: intron-start trim — REF 3 intronic + 2 exonic, ALT's
            #    exonic tail is a single substituted base → frameshift
            (base + 127, "TTT" + plus_seq[120:122], "TTT" + other(plus_seq[120])),
            # C: reach-through — REF spans exon1 tail + the WHOLE
            #    10-bp intron + 2 bases of exon2; the intron is spliced
            #    out of REF (5 exonic bases), anchor ALT
            (base + 117, plus_seq[117:120] + "TTTTTTTTTT" + plus_seq[120:122],
             plus_seq[117]),
            # D: REF overruns (5 exonic + 2 intronic) but the 4-base
            #    ALT fits inside the exon → ALT kept whole
            (base + 115, plus_seq[115:120] + "TT", plus_seq[115] + "CAG"),
        ]
        for pos, g_ref, g_alt in cases:
            variants.append(("9", pos, f"rs_{tid}_{pos}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", 0.5))
    # F6 decoy: a START-LESS transcript with a valid SNP — the strict
    # require_start gate (pipeline/provar.py:89-92, reference
    # prohap.py:120-127) must drop it BEFORE the interval join; its row
    # appearing in the output breaks the oracle's row count
    decoy_seq = _mkseq("TJ_NOSTART", 300)
    transcripts.append(
        ("TJ_NOSTART", "G_NS", "N_NS", "9", 20000, 20299, "+",
         "protein_coding", ["Ensembl_canonical"],
         [{"start": 20000, "end": 20299}], None, None)
    )
    cdnas.append(("cdna", "TJ_NOSTART", "", decoy_seq))
    nb = decoy_seq[50]
    variants.append(("9", 20050, "rs_ns", nb,
                     "A" if nb != "A" else "C", ".", ".", "AF=0.5", "GT", 0.5))
    return transcripts, cdnas, variants


_JT, _JC, _JV = _junction_fixture()

_SQL_JVARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}')" for c, p, _id, r, a, *_ in _JV
)
_SQL_JTRANSCRIPTS = ",\n      ".join(
    "('{tid}', '{chrom}', {e1s}, {e1e}, {e2s}, {e2e}, '{strand}', {sc})".format(
        tid=t[0], chrom=t[3],
        e1s=t[9][0]["start"], e1e=t[9][0]["end"],
        e2s=t[9][1]["start"], e2e=t[9][1]["end"],
        strand=t[6], sc=t[10],
    )
    # the start-less F6 decoy is deliberately ABSENT from the oracle:
    # the pipeline's require_start gate must produce the same absence
    for t in _JT if t[10] is not None
)
_SQL_JCDNA = ",\n      ".join(f"('{acc}', '{seq}')" for _tag, acc, _d, seq in _JC)

JUNCTION_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt) AS (VALUES
      {_SQL_JVARIANTS}),
tr(tid, chrom, e1s, e1e, e2s, e2e, strand, sc) AS (VALUES
      {_SQL_JTRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_JCDNA}),
asg AS (
  SELECT t.tid, v.pos, v.g_ref, v.g_alt, t.strand, c.seq,
         t.e1s, t.e1e, t.e2s, t.e2e,
         (t.e1e - t.e1s + 1) + (t.e2e - t.e2s + 1) AS total,
         CASE WHEN t.sc BETWEEN t.e1s AND t.e1e THEN t.sc - t.e1s
              ELSE (t.e1e - t.e1s + 1) + (t.sc - t.e2s) END AS sc_plus
  FROM vr v JOIN tr t ON v.chrom = t.chrom
    AND ((t.e1s < v.pos + length(v.g_ref) AND t.e1e >= v.pos)
      OR (t.e2s < v.pos + length(v.g_ref) AND t.e2e >= v.pos))
  JOIN cd c ON c.tid = t.tid
),
-- intron-start trim (kernels/coordinates.py:92-99): an allele starting
-- between the exons keeps only its exonic tail; pos moves to e2s
t1 AS (
  SELECT *,
         pos + il AS pos2,
         substr(g_ref, il + 1) AS ref1,
         substr(g_alt, il + 1) AS alt1
  FROM (SELECT *, CASE WHEN pos > e1e AND pos < e2s THEN e2s - pos ELSE 0 END AS il
        FROM asg)
),
-- containing exon, '+'-oriented rna offset
t2 AS (
  SELECT *,
         CASE WHEN pos2 <= e1e THEN e1e ELSE e2e END AS ee,
         CASE WHEN pos2 <= e1e THEN e1s ELSE e2s END AS es,
         CASE WHEN pos2 <= e1e THEN pos2 - e1s
              ELSE (e1e - e1s + 1) + (pos2 - e2s) END AS plus_rna
  FROM t1
),
-- exon-end cut and reach-through splice (kernels/coordinates.py:
-- 103-124): REF cut at the junction, the intron spliced out when REF
-- spans it; ALT truncated the same way ONLY when IT overruns
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
-- transcript orientation: position flip by TRUNCATED ref length,
-- revcomp of the truncated alleles (kernels/coordinates.py:136-151)
o AS (
  SELECT tid,
         '9_' || pos || '_' || g_ref || '_' || g_alt AS item_id,
         seq, length(ref2) AS k, is_splice,
         CASE WHEN strand = '-' THEN total - plus_rna - length(ref2)
              ELSE plus_rna END AS t_off,
         CASE WHEN strand = '-' THEN reverse(translate(ref2, 'ACGT', 'TGCA'))
              ELSE ref2 END AS t_ref,
         CASE WHEN strand = '-' THEN reverse(translate(alt2, 'ACGT', 'TGCA'))
              ELSE alt2 END AS t_alt,
         CASE WHEN strand = '-' THEN total - sc_plus - 3 ELSE sc_plus END AS start_off
  FROM t3
),
e AS (
  SELECT *, start_off % 3 AS rf, (start_off - start_off % 3) // 3 AS pstart,
         substr(seq, 1, CAST(t_off AS INT)) || t_alt
           || substr(seq, CAST(t_off + k + 1 AS INT)) AS mutated
  FROM o
),
cx AS (
  SELECT g.tid, g.item_id, g.pstart, g.i, c.aa
  FROM (
    SELECT e.tid, e.item_id, e.pstart, i.range AS i,
           upper(substr(e.mutated, CAST(e.rf + i.range * 3 + 1 AS INT), 3)) AS codon
    FROM e, range(0, 120) i
    WHERE e.rf + i.range * 3 + 3 <= length(e.mutated)
  ) g JOIN codons c ON c.codon = g.codon
),
stops AS (
  SELECT tid, item_id, min(CASE WHEN aa = '*' AND i >= pstart THEN i END) AS stop_i
  FROM cx GROUP BY 1, 2
),
prot AS (
  SELECT c.tid, c.item_id,
         coalesce(string_agg(c.aa, '' ORDER BY c.i)
           FILTER (WHERE c.i >= c.pstart AND (s.stop_i IS NULL OR c.i < s.stop_i)),
           '') AS protein
  FROM cx c JOIN stops s USING (tid, item_id)
  GROUP BY 1, 2
)
SELECT e.tid AS transcript_id, e.item_id,
       e.t_off || ':' || e.t_ref || '>' || e.t_alt AS cdna_changes,
       CASE WHEN e.is_splice THEN 'splice_variant' END AS variant_types,
       p.protein
FROM e JOIN prot p ON p.tid = e.tid AND p.item_id = e.item_id
"""


@register("domain_provar_junction_oracle", JUNCTION_SQL)
def domain_provar_junction_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProVar pipeline (require_start=True) over the literal
    junction fixture: all three genome-orientation truncation branches
    (intron-start trim, exon-end cut, reach-through splice) plus the
    ALT-kept asymmetry, on both strands — the truncated alleles
    surface verbatim in cdna_changes, the 'splice_variant' consequence
    in variant_types, and the truncated overlay in the translated
    protein, each re-derived independently by the oracle. The fixture
    also carries a START-LESS decoy transcript with a valid variant:
    the strict F6 gate (pipeline/provar.py:89-92) must drop it, and
    the oracle (which omits the decoy) breaks on row count if it
    leaks through."""
    from prohap_spark.pipeline.provar import run_provar

    variants = spark.createDataFrame(
        _JV,
        "chrom string, pos long, id string, ref string, alt string, "
        "qual string, filter string, info string, format string, af double",
    )
    transcripts = spark.createDataFrame(
        _JT,
        "transcript_id string, gene_id string, gene_name string, chrom string, "
        "start long, end long, strand string, biotype string, tags array<string>, "
        "exons array<struct<start:long,end:long>>, start_codon long, stop_codon long",
    )
    cdna = spark.createDataFrame(
        _JC, "tag string, accession string, description string, sequence string"
    )
    out = run_provar(variants, transcripts, cdna, min_af=0.01, require_start=True)
    return out.select(
        F.col("transcript_id"), "item_id", "cdna_changes", "variant_types", "protein"
    )
