"""Value check for the FORCE_RF fallback reading-frame branch.

When a transcript has no annotated start codon the kernel either runs
frame-unknown (rf −1: three-frame consequence typing, translate-from-0
protein, 3× proteins_all_frames) or, under ``force_rf``, infers the
frame from the annotated STOP codon (rf = stop_rna % 3, protein
translated from that frame with protein_start 0 —
kernels/haplo.py:394-397, reference process_variants.py force_rf).

Fixture: three single-exon transcripts, all start-less —
  TF0 '+': stop codon annotated at a frame-1 offset → force_rf path,
      with SAV / synonymous / stop-gained SNPs typed UNDER that frame;
  TF1 '-': same via the '-'-strand stop-offset flip
      (total − simple − 3);
  TF2 '+': no stop either → rf −1, '|'-joined per-frame consequences
      and three full-frame translations.

The oracle re-derives the stop-frame arithmetic, the per-frame codon
windows, and all three translation flavors independently in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.functions.genomics import CODON_TABLE
from tests.oracles.minus_strand import _BASES, _mkseq, _revcomp
from tests.oracles import register

_STOP_OFF = 250  # transcript offset of the annotated stop → rf = 1


def _find_snp(seq: str, rf: int, want: str, lo: int = 40, hi: int = 240):
    """First (t_off, alt) in [lo, hi) whose single-base change has the
    requested consequence under frame ``rf`` — deterministic search
    over the fixed fixture sequence."""
    for o in range(lo, hi):
        cs = ((o - rf) // 3) * 3 + rf  # codon start under frame rf
        if cs < 0 or cs + 3 > len(seq):
            continue
        ref_codon = seq[cs : cs + 3]
        ref_aa = CODON_TABLE[ref_codon]
        for alt in _BASES:
            if alt == seq[o]:
                continue
            i = o - cs
            alt_aa = CODON_TABLE[ref_codon[:i] + alt + ref_codon[i + 1 :]]
            if want == "sav" and ref_aa != "*" and alt_aa != "*" and ref_aa != alt_aa:
                return o, alt
            if want == "syn" and ref_aa == alt_aa:
                return o, alt
            if want == "stopgain" and ref_aa != "*" and alt_aa == "*":
                return o, alt
    raise ValueError(f"no {want} SNP found")


def _fixture():
    transcripts, cdnas, variants = [], [], []
    spec = [
        ("TF0", 13000, "+", True),
        ("TF1", 14000, "-", True),
        ("TF2", 15000, "+", False),
    ]
    for tid, e1s, strand, has_stop in spec:
        total = 300
        e1e = e1s + total - 1
        seq = _mkseq(tid, total)
        if has_stop:
            rf = _STOP_OFF % 3
            stop_g = (
                e1s + _STOP_OFF if strand == "+" else e1s + (total - _STOP_OFF - 3)
            )
            muts = [_find_snp(seq, rf, w) for w in ("sav", "syn", "stopgain")]
        else:
            stop_g = None
            muts = [(50, None), (121, None)]  # plain SNPs, frame unknown
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "12", e1s, e1e, strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": e1s, "end": e1e}], None, stop_g)
        )
        cdnas.append(("cdna", tid, "", seq))
        for t_off, alt in muts:
            t_ref = seq[t_off]
            t_alt = alt if alt is not None else _BASES[(_BASES.index(t_ref) + 1) % 4]
            r = t_off if strand == "+" else total - t_off - 1
            pos = e1s + r
            g_ref = t_ref if strand == "+" else _revcomp(t_ref)
            g_alt = t_alt if strand == "+" else _revcomp(t_alt)
            variants.append(("12", pos, f"rs_{tid}_{t_off}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", 0.5))
    return transcripts, cdnas, variants


_T, _C, _V = _fixture()

_CODON_VALUES = ", ".join(f"('{c}', '{a}')" for c, a in sorted(CODON_TABLE.items()))
_SQL_VARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}')" for c, p, _id, r, a, *_ in _V
)
_SQL_TRANSCRIPTS = ",\n      ".join(
    "('{tid}', '{chrom}', {e1s}, {e1e}, '{strand}', {stop})".format(
        tid=t[0], chrom=t[3], e1s=t[9][0]["start"], e1e=t[9][0]["end"],
        strand=t[6], stop=t[11] if t[11] is not None else "NULL",
    )
    for t in _T
)
_SQL_CDNA = ",\n      ".join(f"('{acc}', '{seq}')" for _tag, acc, _d, seq in _C)

FORCE_RF_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt) AS (VALUES
      {_SQL_VARIANTS}),
tr(tid, chrom, e1s, e1e, strand, stop_g) AS (VALUES
      {_SQL_TRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_CDNA}),
-- single-exon U1 mapping + the stop-derived frame: stop_rna is the
-- transcript-space offset of the annotated stop ('-' flip:
-- total − simple − 3), rf_from_stop = stop_rna % 3
o AS (
  SELECT t.tid,
         v.chrom || '_' || v.pos || '_' || v.g_ref || '_' || v.g_alt AS item_id,
         c.seq,
         CASE WHEN t.strand = '-'
              THEN (t.e1e - t.e1s + 1) - (v.pos - t.e1s) - 1
              ELSE v.pos - t.e1s END AS t_off,
         CASE WHEN t.strand = '-' THEN translate(v.g_ref, 'ACGT', 'TGCA')
              ELSE v.g_ref END AS t_ref,
         CASE WHEN t.strand = '-' THEN translate(v.g_alt, 'ACGT', 'TGCA')
              ELSE v.g_alt END AS t_alt,
         CASE WHEN t.stop_g IS NULL THEN -1
              WHEN t.strand = '-'
              THEN ((t.e1e - t.e1s + 1) - (t.stop_g - t.e1s) - 3) % 3
              ELSE (t.stop_g - t.e1s) % 3 END AS rf
  FROM vr v
  JOIN tr t ON v.chrom = t.chrom AND v.pos BETWEEN t.e1s AND t.e1e
  JOIN cd c ON c.tid = t.tid
),
e AS (
  SELECT *,
         substr(seq, 1, CAST(t_off AS INT)) || t_alt
           || substr(seq, CAST(t_off + 2 AS INT)) AS mutated
  FROM o
),
-- per-frame single-codon windows (SNP: the codon containing t_off
-- under each frame f) — used for frame-known typing (f = rf) and for
-- the rf −1 three-frame '|'-join
win AS (
  SELECT e.tid, e.item_id, f.range AS f, cr.aa AS ref_aa, ca.aa AS alt_aa
  FROM e, range(0, 3) f
  JOIN codons cr ON cr.codon = upper(substr(
    e.seq, CAST(((e.t_off - f.range) // 3) * 3 + f.range + 1 AS INT), 3))
  JOIN codons ca ON ca.codon = upper(substr(
    e.mutated, CAST(((e.t_off - f.range) // 3) * 3 + f.range + 1 AS INT), 3))
  WHERE ((e.t_off - f.range) // 3) * 3 + f.range >= 0
    AND ((e.t_off - f.range) // 3) * 3 + f.range + 3 <= length(e.seq)
),
typed AS (
  SELECT w.tid, w.item_id,
         string_agg(
           CASE WHEN w.ref_aa = w.alt_aa THEN 'synonymous'
                WHEN w.ref_aa = '*' AND w.alt_aa <> '*' THEN 'stop_lost'
                WHEN w.ref_aa <> '*' AND w.alt_aa = '*' THEN 'stop_gained'
                ELSE 'SAV' END, '|' ORDER BY w.f)
           FILTER (WHERE e.rf = -1 OR w.f = e.rf) AS variant_types
  FROM win w JOIN e USING (tid, item_id)
  GROUP BY 1, 2
),
-- full-frame translations WITH stops (proteins_all_frames): one per
-- frame when rf is known (that frame), three '|'-joined otherwise
allf AS (
  SELECT e.tid, e.item_id, f.range AS f,
         string_agg(c.aa, '' ORDER BY i.range) AS fseq
  FROM e, range(0, 3) f, range(0, 120) i
  JOIN codons c ON c.codon = upper(substr(
    e.mutated, CAST(f.range + i.range * 3 + 1 AS INT), 3))
  WHERE f.range + i.range * 3 + 3 <= length(e.mutated)
    AND (e.rf = -1 OR f.range = e.rf)
  GROUP BY 1, 2, 3
),
allfj AS (
  SELECT tid, item_id, string_agg(fseq, '|' ORDER BY f) AS proteins_all_frames
  FROM allf GROUP BY 1, 2
),
-- protein: translate-to-stop from offset rf (force path) or from
-- offset 0 in frame 0 (rf −1, kernels/haplo.py:452-455)
cx AS (
  SELECT e.tid, e.item_id, i.range AS i, c.aa
  FROM e, range(0, 120) i
  JOIN codons c ON c.codon = upper(substr(
    e.mutated, CAST(greatest(e.rf, 0) + i.range * 3 + 1 AS INT), 3))
  WHERE greatest(e.rf, 0) + i.range * 3 + 3 <= length(e.mutated)
),
stops AS (
  SELECT tid, item_id, min(CASE WHEN aa = '*' THEN i END) AS stop_i
  FROM cx GROUP BY 1, 2
),
prot AS (
  SELECT c.tid, c.item_id,
         coalesce(string_agg(c.aa, '' ORDER BY c.i)
           FILTER (WHERE s.stop_i IS NULL OR c.i < s.stop_i), '') AS protein
  FROM cx c JOIN stops s USING (tid, item_id)
  GROUP BY 1, 2
)
SELECT e.tid AS transcript_id, e.item_id,
       e.t_off || ':' || e.t_ref || '>' || e.t_alt AS cdna_changes,
       t.variant_types,
       CAST(e.rf AS INT) AS reading_frame,
       TRUE AS start_missing,
       p.protein,
       a.proteins_all_frames
FROM e
JOIN typed t USING (tid, item_id)
JOIN allfj a USING (tid, item_id)
JOIN prot p USING (tid, item_id)
"""


@register("domain_provar_forcerf_oracle", FORCE_RF_SQL)
def domain_provar_forcerf_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProVar pipeline with ``force_rf=True`` over start-less
    transcripts: the stop-annotated ones type and translate under the
    stop-derived frame (both strands), the stop-less one falls back to
    rf −1 with three-frame typing and translations — all value-checked
    against an independent SQL re-derivation."""
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
    out = run_provar(variants, transcripts, cdna, min_af=0.01, force_rf=True)
    return out.select(
        F.col("transcript_id"), "item_id", "cdna_changes", "variant_types",
        "reading_frame", "start_missing", "protein", "proteins_all_frames",
    )
