"""Value check for U2 START-CODON TRACKING in the
ProVar flavor — start_lost, upstream start-shift, and the
check_start_gain ATG scan (reference process_variants.py:35-47,
coordinates_toolbox.py:121-137).

The branches: a variant OVERLAPPING the start codon, an upstream
frameshift losing the start, an upstream in-frame indel SHIFTING the
start, and a variant-created upstream ATG (start_gain). This fixture
gives each transcript a 30-base 5'UTR
(so upstream variants sit well clear of exon edges — no splice
flags muddying the consequence column) and probes every branch of
check_start_change on both strands:

  - SNP inside the start codon            → start_lost, rf -1,
    3-frame 'start_lost|start_lost|start_lost', protein from offset 0;
  - upstream frameshift del               → start_lost (no overlap);
  - upstream in-frame indel               → start SHIFTS by the length
    delta, protein translated from the moved ATG;
  - upstream insertion writing 'ATG'      → start_gain = the created
    ATG's offset (the kernel scans only the codons the ALT touches);
  - downstream control SNP                → the unaffected baseline.

The oracle re-derives every branch in SQL: overlap/frameshift
classification, the shifted protein_start, the bounded ATG scan
window (floor(rna/3)*3 .. ceil((rna+alt_len-2)/3)*3+2), affected-codon
window translations for the consequence CASE, and translate-to-stop
from the per-row start offset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prohap_spark.functions.genomics import CODON_TABLE
from tests.oracles.minus_strand import _BASES, _genomic, _revcomp
from tests.oracles import register

_UTR = 30  # 5'UTR length — start codon at transcript offset 30


def _mkseq_utr(key: str, n: int) -> str:
    import hashlib

    out = b""
    i = 0
    while len(out) < n:
        out += hashlib.md5(f"{key}|{i}".encode()).digest()
        i += 1
    seq = "".join(_BASES[b % 4] for b in out[:n])
    return seq[:_UTR] + "ATG" + seq[_UTR + 3 :]


# (tid, exons, strand, [(t_off, kind)]) — kinds as in indel_haplo plus
# 'insATG' (UTR insertion creating an upstream ATG) and 'del4' (5→1
# frameshift deletion)
_SPEC = [
    ("TS0", [(10_000, 10_299)], "+",
     [(31, "snp"), (12, "insATG"), (25, "del4"), (20, "del3"),
      (60, "snp"), (32, "snp")]),
    ("TS1", [(12_000, 12_299)], "-",
     [(31, "snp"), (10, "ins3"), (45, "snp"), (15, "del2")]),
]


def _alleles(seq: str, t_off: int, kind: str) -> tuple[str, str]:
    if kind == "snp":
        r = seq[t_off]
        return r, _BASES[(_BASES.index(r) + 1) % 4]
    if kind == "ins3":
        r = seq[t_off]
        return r, r + "GGG"
    if kind == "insATG":
        r = seq[t_off]
        return r, r + "ATG"
    if kind == "del3":
        return seq[t_off : t_off + 4], seq[t_off]
    if kind == "del2":
        return seq[t_off : t_off + 3], seq[t_off]
    if kind == "del4":
        return seq[t_off : t_off + 5], seq[t_off]
    raise ValueError(kind)


def _fixture():
    transcripts, cdnas, variants = [], [], []
    for tid, exons, strand, muts in _SPEC:
        total = sum(e - s + 1 for s, e in exons)
        seq = _mkseq_utr(tid, total)
        sc_start = min(
            _genomic(o, exons, strand, total) for o in (_UTR, _UTR + 1, _UTR + 2)
        )
        transcripts.append(
            (tid, f"G_{tid}", f"N_{tid}", "11", exons[0][0], exons[-1][1], strand,
             "protein_coding", ["Ensembl_canonical"],
             [{"start": s, "end": e} for s, e in exons], sc_start, None)
        )
        cdnas.append(("cdna", tid, "", seq))
        for t_off, kind in muts:
            t_ref, t_alt = _alleles(seq, t_off, kind)
            k = len(t_ref)
            r = t_off if strand == "+" else total - t_off - k
            pos = exons[0][0] + r
            g_ref = t_ref if strand == "+" else _revcomp(t_ref)
            g_alt = t_alt if strand == "+" else _revcomp(t_alt)
            variants.append(("11", pos, f"rs_{tid}_{t_off}", g_ref, g_alt,
                             ".", ".", "AF=0.5", "GT", 0.5))
    return transcripts, cdnas, variants


_T, _C, _V = _fixture()

_CODON_VALUES = ", ".join(f"('{c}', '{a}')" for c, a in sorted(CODON_TABLE.items()))
_SQL_VARIANTS = ",\n      ".join(
    f"('{c}', {p}, '{r}', '{a}')" for c, p, _id, r, a, *_ in _V
)
_SQL_TRANSCRIPTS = ",\n      ".join(
    f"('{t[0]}', '{t[3]}', {t[9][0]['start']}, {t[9][0]['end']}, '{t[6]}', {t[10]})"
    for t in _T
)
_SQL_CDNA = ",\n      ".join(f"('{acc}', '{seq}')" for _tag, acc, _d, seq in _C)

START_CODON_SQL = f"""
WITH codons(codon, aa) AS (VALUES {_CODON_VALUES}),
vr(chrom, pos, g_ref, g_alt) AS (VALUES
      {_SQL_VARIANTS}),
tr(tid, chrom, e1s, e1e, strand, sc) AS (VALUES
      {_SQL_TRANSCRIPTS}),
cd(tid, seq) AS (VALUES
      {_SQL_CDNA}),
-- U1 mapping (single exon; interior loci by fixture invariant)
o AS (
  SELECT t.tid,
         v.chrom || '_' || v.pos || '_' || v.g_ref || '_' || v.g_alt AS item_id,
         c.seq,
         length(v.g_ref) AS k, length(v.g_alt) AS alt_len,
         CASE WHEN t.strand = '-'
              THEN (t.e1e - t.e1s + 1) - (v.pos - t.e1s) - length(v.g_ref)
              ELSE v.pos - t.e1s END AS t_off,
         CASE WHEN t.strand = '-' THEN reverse(translate(v.g_ref, 'ACGT', 'TGCA'))
              ELSE v.g_ref END AS t_ref,
         CASE WHEN t.strand = '-' THEN reverse(translate(v.g_alt, 'ACGT', 'TGCA'))
              ELSE v.g_alt END AS t_alt,
         CASE WHEN t.strand = '-'
              THEN (t.e1e - t.e1s + 1) - (t.sc - t.e1s) - 3
              ELSE t.sc - t.e1s END AS start_off
  FROM vr v
  JOIN tr t ON v.chrom = t.chrom AND v.pos BETWEEN t.e1s AND t.e1e
  JOIN cd c ON c.tid = t.tid
),
-- U2 check_start_change: overlap -> lost; upstream frameshift -> lost;
-- upstream in-frame indel -> start shifts by the length delta
e AS (
  SELECT *,
         (t_off < start_off + 3 AND t_off + k > start_off) AS overlaps_start,
         (t_off < start_off + 3 AND NOT (t_off + k > start_off)
          AND abs(alt_len - k) % 3 <> 0) AS fs_upstream,
         substr(seq, 1, CAST(t_off AS INT)) || t_alt
           || substr(seq, CAST(t_off + k + 1 AS INT)) AS mutated
  FROM o
),
e2 AS (
  SELECT *,
         (overlaps_start OR fs_upstream) AS lost,
         CASE WHEN overlaps_start OR fs_upstream THEN -1
              WHEN t_off < start_off + 3 THEN start_off + (alt_len - k)
              ELSE start_off END AS new_start,
         start_off % 3 AS rf0
  FROM e
),
-- translation origin: lost -> offset 0 (translate(mutated) to stop);
-- else rf + protein_start*3 == the (possibly shifted) start offset
e3 AS (
  SELECT *,
         CASE WHEN lost THEN -1 ELSE rf0 END AS reading_frame,
         CASE WHEN lost THEN 0
              ELSE rf0 + ((new_start - rf0) // 3) * 3 END AS po
  FROM e2
),
-- check_start_gain: scan only the codon span the ALT touches
gain AS (
  SELECT e3.tid, e3.item_id,
         coalesce(min(i.range) FILTER (
           WHERE i.range >= (e3.t_off // 3) * 3
             AND i.range <= CAST(ceil((e3.t_off + e3.alt_len - 2) / 3.0) AS INT) * 3 + 2 - 4
             AND substr(e3.mutated, CAST(i.range + 1 AS INT), 3) = 'ATG'
         ), -1) AS start_gain
  FROM e3, range(0, 60) i
  GROUP BY 1, 2
),
-- affected-codon windows (frame known, rf0): codon-aligned spans
-- around the allele in ref vs mutated, translated without stop cut
winref AS (
  SELECT e3.tid, e3.item_id, string_agg(c.aa, '' ORDER BY j.range) AS ref_w
  FROM e3, range(0, 4) j
  JOIN codons c ON c.codon = upper(substr(
    e3.seq, CAST(((e3.t_off - e3.rf0) // 3) * 3 + e3.rf0 + j.range * 3 + 1 AS INT), 3))
  WHERE ((e3.t_off - e3.rf0) // 3) * 3 + e3.rf0 + j.range * 3 + 3
        <= CAST(ceil((e3.t_off + e3.k - e3.rf0) / 3.0) AS INT) * 3 + e3.rf0
  GROUP BY 1, 2
),
winalt AS (
  SELECT e3.tid, e3.item_id, string_agg(c.aa, '' ORDER BY j.range) AS alt_w
  FROM e3, range(0, 4) j
  JOIN codons c ON c.codon = upper(substr(
    e3.mutated, CAST(((e3.t_off - e3.rf0) // 3) * 3 + e3.rf0 + j.range * 3 + 1 AS INT), 3))
  WHERE ((e3.t_off - e3.rf0) // 3) * 3 + e3.rf0 + j.range * 3 + 3
        <= CAST(ceil((e3.t_off + e3.alt_len - e3.rf0) / 3.0) AS INT) * 3 + e3.rf0
  GROUP BY 1, 2
),
-- translate-to-stop from po
cx AS (
  SELECT e3.tid, e3.item_id, i.range AS i, c.aa
  FROM e3, range(0, 120) i
  JOIN codons c ON c.codon = upper(substr(
    e3.mutated, CAST(e3.po + i.range * 3 + 1 AS INT), 3))
  WHERE e3.po + i.range * 3 + 3 <= length(e3.mutated)
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
SELECT e3.tid AS transcript_id, e3.item_id,
       e3.t_off || ':' || e3.t_ref || '>' || e3.t_alt AS cdna_changes,
       CASE WHEN e3.lost THEN 'start_lost|start_lost|start_lost'
            WHEN w1.ref_w = w2.alt_w THEN 'synonymous'
            WHEN contains(w1.ref_w, '*') AND NOT contains(w2.alt_w, '*')
                 THEN 'stop_lost'
            WHEN NOT contains(w1.ref_w, '*') AND contains(w2.alt_w, '*')
                 THEN 'stop_gained'
            WHEN e3.k = e3.alt_len THEN 'SAV'
            WHEN abs(e3.alt_len - e3.k) % 3 <> 0 THEN 'frameshift'
            ELSE 'inframe_indel' END AS variant_types,
       e3.lost AS start_lost,
       CAST(e3.reading_frame AS INT) AS reading_frame,
       CAST(g.start_gain AS INT) AS start_gain,
       p.protein
FROM e3
JOIN gain g USING (tid, item_id)
JOIN winref w1 USING (tid, item_id)
JOIN winalt w2 USING (tid, item_id)
JOIN prot p USING (tid, item_id)
"""


@register("domain_provar_start_oracle", START_CODON_SQL)
def domain_provar_start_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ProVar pipeline over the start-codon fixture:
    start-overlap and upstream-frameshift variants lose the start
    (rf -1, 3-frame start_lost typing, translate-from-0 protein),
    upstream in-frame indels shift it, and a UTR insertion writing
    'ATG' is caught by the start-gain scan — all value-checked against
    an independent SQL re-derivation of check_start_change /
    check_start_gain."""
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
        "transcript_id", "item_id", "cdna_changes", "variant_types",
        "start_lost", "reading_frame", "start_gain", "protein",
    )
