"""Value check for the '-'-STRAND kernel path.

The synthetic-cohort domain oracles cover only '+' transcripts; the
reverse-strand machinery — genome-orientation mapping, allele
complementing, the `total - rna - len` position flip, start-codon
offset `total - simple - 3` (reference process_haplotypes.py:200-205,
137-140) — is checked here at the value level. This runs the
REAL ProVar pipeline over a small deterministic fixture (two '-'
transcripts — single- and two-exon — plus one '+' control) embedded
as literals in BOTH engines: the Spark side via createDataFrame, the
oracle via VALUES, with the '-'-strand mapping re-derived
independently in SQL.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.functions.genomics import CODON_TABLE
from tests.oracles import register

_BASES = "ACGT"
_COMP = {"A": "T", "C": "G", "G": "C", "T": "A"}


def _mkseq(key: str, n: int) -> str:
    out = b""
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"{key}|{i}".encode()).digest()
        i += 1
    seq = "".join(_BASES[b % 4] for b in out[:n])
    return seq[:3] + "ATG" + seq[6:]


def _genomic(offset: int, exons, strand: str, total: int) -> int:
    """Transcript offset → 1-based genomic position."""
    r = offset if strand == "+" else total - offset - 1
    cum = 0
    for s, e in exons:
        ln = e - s + 1
        if r < cum + ln:
            return s + (r - cum)
        cum += ln
    raise ValueError(offset)


def _fixture():
    transcripts, cdnas, variants = [], [], []
    spec = [
        ("TM0", [(1000, 1299)], "-", [8, 45, 120, 297]),
        ("TM1", [(2000, 2149), (2600, 2749)], "-", [10, 160, 200]),
        ("TP0", [(5000, 5299)], "+", [12, 33, 150]),
    ]
    for tid, exons, strand, offsets in spec:
        total = sum(e - s + 1 for s, e in exons)
        seq = _mkseq(tid, total)
        sc_start = min(_genomic(o, exons, strand, total) for o in (3, 4, 5))
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "9", exons[0][0], exons[-1][1], strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc_start, None)
        )
        cdnas.append(("cdna", tid, "", seq))
        for o in offsets:
            t_ref = seq[o]
            t_alt = _BASES[(_BASES.index(t_ref) + 1) % 4]
            pos = _genomic(o, exons, strand, total)
            g_ref = t_ref if strand == "+" else _COMP[t_ref]
            g_alt = t_alt if strand == "+" else _COMP[t_alt]
            variants.append(("9", pos, f"rs_{tid}_{o}", g_ref, g_alt, ".", ".",
                             "AF=0.5", "GT", 0.5))
    return transcripts, cdnas, variants


_T, _C, _V = _fixture()

_CODON_VALUES = ", ".join(f"('{c}', '{a}')" for c, a in sorted(CODON_TABLE.items()))

_SQL_VARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}')" for c, p, _id, r, a, *_ in _V
)
# transcripts flattened to ≤2 exons for CASE-based mapping
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

MINUS_STRAND_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt) AS (VALUES
      {_SQL_VARIANTS}),
tr(tid, chrom, e1s, e1e, e2s, e2e, strand, sc) AS (VALUES
      {_SQL_TRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_CDNA}),
-- exon-hit join + '+'-oriented rna mapping, then the strand flip
-- (reference get_rna_position + the total - rna - len orientation)
asg AS (
  SELECT t.tid, v.chrom, v.pos, v.g_ref, v.g_alt, t.strand, c.seq,
         (t.e1e - t.e1s + 1) + coalesce(t.e2e - t.e2s + 1, 0) AS total,
         CASE WHEN v.pos BETWEEN t.e1s AND t.e1e THEN v.pos - t.e1s
              ELSE (t.e1e - t.e1s + 1) + (v.pos - t.e2s) END AS plus_rna,
         CASE WHEN t.sc BETWEEN t.e1s AND t.e1e THEN t.sc - t.e1s
              ELSE (t.e1e - t.e1s + 1) + (t.sc - t.e2s) END AS sc_plus,
         -- near-junction flag in GENOME orientation (SNP rule)
         CASE WHEN v.pos BETWEEN t.e1s AND t.e1e
              THEN (v.pos >= t.e1e - 1 AND t.e2s IS NOT NULL)
                   OR v.pos - t.e1s < 3
                   OR (t.e2s IS NULL AND v.pos >= t.e1e - 1)
              ELSE v.pos >= t.e2e - 1 OR v.pos - t.e2s < 3 END AS is_splice
  FROM vr v JOIN tr t ON v.chrom = t.chrom
    AND ((v.pos BETWEEN t.e1s AND t.e1e) OR (v.pos BETWEEN t.e2s AND t.e2e))
  JOIN cd c ON c.tid = t.tid
),
o AS (
  SELECT tid,
         chrom || '_' || pos || '_' || g_ref || '_' || g_alt AS item_id,
         seq, is_splice,
         CASE WHEN strand = '-' THEN total - plus_rna - 1 ELSE plus_rna END AS t_off,
         CASE WHEN strand = '-' THEN translate(g_ref, 'ACGT', 'TGCA') ELSE g_ref END AS t_ref,
         CASE WHEN strand = '-' THEN translate(g_alt, 'ACGT', 'TGCA') ELSE g_alt END AS t_alt,
         CASE WHEN strand = '-' THEN total - sc_plus - 3 ELSE sc_plus END AS start_off
  FROM asg
),
e AS (
  SELECT *, start_off % 3 AS rf, (start_off - start_off % 3) // 3 AS pstart,
         substr(seq, 1, CAST(t_off AS INT)) || t_alt
           || substr(seq, CAST(t_off + 2 AS INT)) AS mutated
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
       CASE WHEN e.is_splice THEN 'splice_variant'
            WHEN cr.aa = ca.aa THEN 'synonymous'
            WHEN cr.aa = '*' AND ca.aa <> '*' THEN 'stop_lost'
            WHEN cr.aa <> '*' AND ca.aa = '*' THEN 'stop_gained'
            ELSE 'SAV' END AS variant_types,
       p.protein
FROM e
JOIN codons cr ON cr.codon = upper(substr(
  e.seq, CAST(((e.t_off - e.rf) // 3) * 3 + e.rf + 1 AS INT), 3))
JOIN codons ca ON ca.codon = upper(substr(
  e.mutated, CAST(((e.t_off - e.rf) // 3) * 3 + e.rf + 1 AS INT), 3))
JOIN prot p ON p.tid = e.tid AND p.item_id = e.item_id
"""


@register("domain_provar_minus_strand", MINUS_STRAND_SQL)
def domain_provar_minus_strand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProVar pipeline over the literal '-'-strand fixture:
    exercises allele complementing, the transcript-orientation position
    flip, the '-'-strand start-codon offset, and multi-exon '-' mapping
    — value-checked against an independent SQL derivation over the
    same embedded inputs."""
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
    out = run_provar(variants, transcripts, cdna, min_af=0.01)
    return out.select(
        F.col("transcript_id"), "item_id", "cdna_changes", "variant_types", "protein"
    )


def _revcomp(s: str) -> str:
    return "".join(_COMP[c] for c in reversed(s))


def _indel_fixture():
    """Transcript-space variant spec → genome-space VCF rows. Indels
    chosen well inside exons (no junction truncation — that path stays
    pytest-only, it is genuinely not SQL-expressible) and downstream of
    the start codon (no start tracking)."""
    transcripts, cdnas, variants = [], [], []
    spec = [
        # (tid, exons, strand, [(t_off, ref_len, alt_builder)])
        ("TI0", [(7000, 7299)], "+",
         [(20, 1, "snp"), (40, 1, "ins3"), (70, 4, "del3"), (100, 1, "ins2")]),
        ("TI1", [(8000, 8299)], "-",
         [(25, 1, "snp"), (50, 1, "ins3"), (90, 4, "del3"), (130, 3, "del2")]),
        ("TI2", [(9000, 9119), (9500, 9679)], "-",
         [(15, 1, "ins3"), (200, 4, "del3")]),
    ]
    for tid, exons, strand, muts in spec:
        total = sum(e - s + 1 for s, e in exons)
        seq = _mkseq(tid, total)
        sc_start = min(_genomic(o, exons, strand, total) for o in (3, 4, 5))
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "9", exons[0][0], exons[-1][1], strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc_start, None)
        )
        cdnas.append(("cdna", tid, "", seq))
        for t_off, k, kind in muts:
            t_ref = seq[t_off : t_off + k]
            if kind == "snp":
                t_alt = _BASES[(_BASES.index(t_ref) + 1) % 4]
            elif kind == "ins3":
                t_alt = t_ref + "ACA"      # in-frame insertion
            elif kind == "ins2":
                t_alt = t_ref + "AC"       # frameshift insertion
            elif kind == "del3":
                t_alt = t_ref[0]           # anchored 3-bp deletion (in-frame)
            elif kind == "del2":
                t_alt = t_ref[0]           # anchored 2-bp deletion (frameshift)
            else:
                raise ValueError(kind)
            # genome orientation: for '-' the allele's genomic START is
            # the transcript-space END (orient_to_transcript inverse);
            # pos = plus-oriented genomic position of plus-rna index r
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
            variants.append(("9", pos, f"rs_{tid}_{t_off}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", 0.5))
    return transcripts, cdnas, variants


_IT, _IC, _IV = _indel_fixture()

_SQL_IVARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}')" for c, p, _id, r, a, *_ in _IV
)
_SQL_ITRANSCRIPTS = ",\n      ".join(
    "('{tid}', '{chrom}', {e1s}, {e1e}, {e2s}, {e2e}, '{strand}', {sc})".format(
        tid=t[0], chrom=t[3],
        e1s=t[9][0]["start"], e1e=t[9][0]["end"],
        e2s=t[9][1]["start"] if len(t[9]) > 1 else "NULL",
        e2e=t[9][1]["end"] if len(t[9]) > 1 else "NULL",
        strand=t[6], sc=t[10],
    )
    for t in _IT
)
_SQL_ICDNA = ",\n      ".join(f"('{acc}', '{seq}')" for _tag, acc, _d, seq in _IC)

INDEL_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt) AS (VALUES
      {_SQL_IVARIANTS}),
tr(tid, chrom, e1s, e1e, e2s, e2e, strand, sc) AS (VALUES
      {_SQL_ITRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_ICDNA}),
asg AS (
  SELECT t.tid, v.pos, v.g_ref, v.g_alt, t.strand, c.seq,
         length(v.g_ref) AS k,
         (t.e1e - t.e1s + 1) + coalesce(t.e2e - t.e2s + 1, 0) AS total,
         CASE WHEN v.pos BETWEEN t.e1s AND t.e1e THEN v.pos - t.e1s
              ELSE (t.e1e - t.e1s + 1) + (v.pos - t.e2s) END AS plus_rna,
         CASE WHEN t.sc BETWEEN t.e1s AND t.e1e THEN t.sc - t.e1s
              ELSE (t.e1e - t.e1s + 1) + (t.sc - t.e2s) END AS sc_plus
  FROM vr v JOIN tr t ON v.chrom = t.chrom
    AND ((v.pos BETWEEN t.e1s AND t.e1e) OR (v.pos BETWEEN t.e2s AND t.e2e))
  JOIN cd c ON c.tid = t.tid
),
o AS (
  SELECT tid,
         chrom_item AS item_id, seq, k,
         CASE WHEN strand = '-' THEN total - plus_rna - k ELSE plus_rna END AS t_off,
         CASE WHEN strand = '-' THEN reverse(translate(g_ref, 'ACGT', 'TGCA'))
              ELSE g_ref END AS t_ref,
         CASE WHEN strand = '-' THEN reverse(translate(g_alt, 'ACGT', 'TGCA'))
              ELSE g_alt END AS t_alt,
         CASE WHEN strand = '-' THEN total - sc_plus - 3 ELSE sc_plus END AS start_off
  FROM (SELECT *, '9_' || pos || '_' || g_ref || '_' || g_alt AS chrom_item FROM asg)
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
       p.protein
FROM e JOIN prot p ON p.tid = e.tid AND p.item_id = e.item_id
"""


@register("domain_provar_indel_oracle", INDEL_SQL)
def domain_provar_indel_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProVar pipeline over a literal indel fixture (in-frame
    and frameshift insertions/deletions on '+' and '-' strands, single-
    and two-exon): single-variant indel application — variable-length
    overlay, strand-flipped multi-base allele revcomp, post-indel
    translation — is SQL-expressible as long as no junction truncation
    occurs, so the oracle re-derives mutated cDNA and protein
    independently. (Junction-truncating indels stay pytest-only — that
    path has no SQL equivalent.)"""
    from prohap_spark.pipeline.provar import run_provar

    variants = spark.createDataFrame(
        _IV,
        "chrom string, pos long, id string, ref string, alt string, "
        "qual string, filter string, info string, format string, af double",
    )
    transcripts = spark.createDataFrame(
        _IT,
        "transcript_id string, gene_id string, gene_name string, chrom string, "
        "start long, end long, strand string, biotype string, tags array<string>, "
        "exons array<struct<start:long,end:long>>, start_codon long, stop_codon long",
    )
    cdna = spark.createDataFrame(
        _IC, "tag string, accession string, description string, sequence string"
    )
    out = run_provar(variants, transcripts, cdna, min_af=0.01)
    return out.select(
        F.col("transcript_id"), "item_id", "cdna_changes", "protein"
    )
