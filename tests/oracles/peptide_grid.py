"""Value check for the FULL U4 classification grid —
``annotate_peptides_full`` (pipeline/peptides.py:263-389); the
simplified ``annotate_peptides`` chain is checked by
``u4_peptide_classes``.

This covers, end to end through the real pipeline:
  J7  peptide ⋈ per-protein variant metadata (the broadcast
      proteins_meta join feeding the class kernel);
  A9  min-over-group (__min_changes: variants contribute 1,
      haplotypes their DNA-allele count when the revert matched
      canonical — reference peptides_annotate_variation.py:285,342,
      409-410);
  U4  the complete class grid {contaminant, canonical,
      single-variant(ProVar), multi-variant, single-variant,
      variant-no-ref, frameshift, canonical-no-ref} × specificity
      {proteoform-specific, protein-specific, multi-gene,
      contaminant}, including the revert-and-containment test, the
      I/L mass-equivalence normalization, the protein_prefix_length
      window arithmetic, and the preceding-frameshift propagation
      (a (+fs) change UPSTREAM of the peptide window still flags it).

Fixture: one peptide per branch (12 total) over a canonical protein
MADEFGPKLQW. The DuckDB oracle re-derives the whole decision chain
independently — change-string parsing via regexes, window coverage,
expected-alt verification with cleavage trimming, ordered-splice
revert, canonical containment, and the aggregate CASE chain. The
fixture's change strings are single-frame (rf=0); the multi-frame
'|' selection is pinned in tests/test_peptides.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tests.oracles import register

_PEPTIDES = [
    # (pid, pseq, prots, poss)
    ("pep_cont", "XXXXXX", "cont_c1", "0"),
    ("pep_canon", "MADEFG", "ensref_r1", "0"),
    ("pep_canon_mg", "MADEFG", "ensref_r1;ensref_r2", "0;0"),
    ("pep_provar", "MVDEFG", "var_v1", "0"),
    ("pep_single", "MVDEFG", "haplo_h1", "0"),
    ("pep_multi", "MVDEFGPT", "haplo_h2", "0"),
    ("pep_noref", "MVDEFG", "haplo_h4", "0"),
    ("pep_fs", "MVDRSG", "haplo_h3", "0"),
    ("pep_cnr", "DEFGPK", "haplo_h1", "2"),
    # (+fs) change upstream of the window still classifies frameshift
    ("pep_down", "GPKLQW", "haplo_h3", "6"),
    # peptide carries L where the declared alt is I (mass-equivalent)
    ("pep_il", "MLDEFG", "haplo_h5", "0"),
    # nonzero protein_prefix_length: pep_start = position - prefix
    ("pep_prefix", "VFGPKL", "haplo_h6", "5"),
]

_META = [
    # (acc, kind, tid, gid, prefix, rf, all_protein_changes, dna_changes, chrom)
    ("cont_c1", "cont", None, None, 0, 0, None, None, None),
    ("ensref_r1", "ref", "T1", "G1", 0, 0, None, None, None),
    ("ensref_r2", "ref", "T2", "G2", 0, 0, None, None, None),
    ("var_v1", "var", "T1", "G1", 0, 0, "1:A>1:V", "105:C>T", "1"),
    ("haplo_h1", "haplo", "T1", "G1", 0, 0, "1:A>1:V", "105:C>T", "1"),
    ("haplo_h2", "haplo", "T1", "G1", 0, 0, "1:A>1:V;7:K>7:T", "105:C>T;123:A>C", "1"),
    ("haplo_h3", "haplo", "T1", "G1", 0, 0, "3:E>3:RS(+fs)", "110:G>GA", "1"),
    ("haplo_h4", "haplo", "T9", "G9", 0, 0, "1:A>1:V", "105:C>T", "9"),
    ("haplo_h5", "haplo", "T1", "G1", 0, 0, "1:A>1:I", "105:C>A", "1"),
    ("haplo_h6", "haplo", "T1", "G1", 2, 0, "3:E>3:V", "200:A>G", "1"),
]

_CANONICAL = [("T1", "MADEFGPKLQW"), ("T2", "MADEFGHHHH")]


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    return f"'{v}'"


_SQL_PEPS = ",\n      ".join(
    f"({_sql_lit(p)}, {_sql_lit(s)}, {_sql_lit(pr)}, {_sql_lit(po)})"
    for p, s, pr, po in _PEPTIDES
)
_SQL_META = ",\n      ".join(
    "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in _META
)
_SQL_CANON = ",\n      ".join(f"('{t}', '{s}')" for t, s in _CANONICAL)

PEPTIDE_GRID_SQL = f"""
WITH peps(pid, pseq, prots, poss) AS (VALUES
      {_SQL_PEPS}),
meta(acc, kind, tid, gid, prefix, rf, chs, dnas, chrom) AS (VALUES
      {_SQL_META}),
canon(tid, seq) AS (VALUES
      {_SQL_CANON}),
matches AS (
  SELECT pid, pseq,
         unnest(string_split(prots, ';')) AS acc,
         CAST(unnest(string_split(poss, ';')) AS BIGINT) AS position
  FROM peps
),
jm AS (
  SELECT m.pid, m.pseq, m.acc, m.position, t.kind, t.tid, t.gid,
         coalesce(t.prefix, 0) AS prefix, t.chs, t.dnas, t.chrom
  FROM matches m LEFT JOIN meta t USING (acc)
),
fl AS (
  SELECT pid, bool_or(kind = 'cont') AS any_cont,
         bool_or(kind = 'ref') AS any_ref
  FROM jm GROUP BY pid
),
cont_out AS (
  SELECT DISTINCT j.pid AS peptide_id, 'contaminant' AS pep_class,
         'contaminant' AS specificity,
         '-' AS covered_changes_peptide, '-' AS covered_alleles_dna
  FROM jm j JOIN fl USING (pid) WHERE fl.any_cont
),
canon_out AS (
  SELECT j.pid AS peptide_id, 'canonical' AS pep_class,
         CASE WHEN count(DISTINCT j.acc) = 1 THEN 'proteoform-specific'
              WHEN count(DISTINCT coalesce(j.gid, j.tid, j.acc)) = 1
                   THEN 'protein-specific'
              ELSE 'multi-gene' END AS specificity,
         '-' AS covered_changes_peptide, '-' AS covered_alleles_dna
  FROM jm j JOIN fl USING (pid)
  WHERE NOT fl.any_cont AND fl.any_ref AND j.kind = 'ref'
  GROUP BY j.pid
),
vm AS (
  SELECT j.*, c.seq AS canon_seq,
         replace(j.pseq, 'I', 'L') AS pep_il,
         j.position - j.prefix AS pep_start
  FROM jm j JOIN fl USING (pid)
  LEFT JOIN canon c ON c.tid = j.tid
  WHERE NOT fl.any_cont AND NOT fl.any_ref
),
-- explode the ;-joined change list with its ordinal (<=2 per protein
-- in this fixture) so dna_changes stays index-aligned
ch AS (
  SELECT vm.*, u.j,
         list_extract(string_split(vm.chs, ';'), CAST(u.j AS INT)) AS raw_ch,
         list_extract(string_split(vm.dnas, ';'), CAST(u.j AS INT)) AS dna_j
  FROM vm, (SELECT unnest(range(1, 3)) AS j) u
  WHERE u.j <= len(string_split(vm.chs, ';'))
),
-- _parse_change: alt-side loc, I/L-normalized '-'-stripped alleles
parsed AS (
  SELECT *,
         CAST(regexp_extract(raw_ch, '>([0-9]+):', 1) AS BIGINT) AS loc,
         replace(replace(regexp_extract(raw_ch, '^[0-9]+:([^>]*)>', 1),
                         'I', 'L'), '-', '') AS ref_aa,
         replace(replace(regexp_extract(raw_ch, '>[0-9]+:([^(]*)', 1),
                         'I', 'L'), '-', '') AS alt_aa,
         raw_ch LIKE '%(+fs)' AS is_fs
  FROM ch
),
scored AS (
  SELECT *, loc - pep_start AS ploc,
         (ref_aa != alt_aa OR is_fs)
           AND loc >= pep_start AND loc < pep_start + length(pseq) AS in_window,
         substr(pep_il, CAST(loc - pep_start + 1 AS INT), length(alt_aa)) AS found
  FROM parsed
),
-- expected-alt verification with cleavage trimming (alt cut to the
-- residues the peptide actually shows)
hits AS (
  SELECT *, substr(alt_aa, 1, length(found)) AS alt_trim
  FROM scored
  WHERE in_window AND substr(alt_aa, 1, length(found)) = found
),
-- revert: splice ref_aa back over the verified alt spans (ploc order)
seg AS (
  SELECT pid, acc, ploc, ref_aa, alt_trim,
         coalesce(lag(ploc + length(alt_trim))
                  OVER (PARTITION BY pid, acc ORDER BY ploc), 0) AS seg_start
  FROM hits
),
rev AS (
  SELECT s.pid, s.acc,
         string_agg(substr(v.pep_il, CAST(seg_start + 1 AS INT),
                           CAST(ploc - seg_start AS INT)) || ref_aa,
                    '' ORDER BY ploc)
           || substr(any_value(v.pep_il),
                     CAST(max(ploc + length(alt_trim)) + 1 AS INT))
           AS reverted
  FROM seg s
  JOIN (SELECT DISTINCT pid, acc, pep_il FROM vm) v USING (pid, acc)
  GROUP BY s.pid, s.acc
),
per_match AS (
  SELECT v.pid, v.acc, v.kind, v.tid, v.gid, v.canon_seq,
         coalesce(h.n_hits, 0) AS n_hits,
         coalesce(h.pep_changes, '') AS pep_changes,
         coalesce(h.dna_alleles, '') AS dna_alleles,
         coalesce(f.has_fs, FALSE) AS has_fs,
         r.reverted
  FROM (SELECT DISTINCT pid, acc, kind, tid, gid, canon_seq FROM vm) v
  LEFT JOIN (
    SELECT pid, acc, count(*) AS n_hits,
           string_agg(ploc || ':' || ref_aa || '>' || alt_trim, ';' ORDER BY j)
             AS pep_changes,
           string_agg(CASE WHEN dna_j IS NOT NULL AND dna_j != ''
                           THEN coalesce(chrom, '?') || ':' || dna_j END,
                      ';' ORDER BY j) AS dna_alleles
    FROM hits GROUP BY pid, acc
  ) h USING (pid, acc)
  LEFT JOIN (
    -- a (+fs) change flags the match whenever it is not strictly
    -- downstream of the peptide window (both kernel branches set it)
    SELECT pid, acc,
           bool_or(is_fs AND loc < pep_start + length(pseq)) AS has_fs
    FROM parsed GROUP BY pid, acc
  ) f USING (pid, acc)
  LEFT JOIN rev r USING (pid, acc)
),
pm2 AS (
  SELECT *,
         (kind = 'manual') OR (kind = 'var' AND n_hits > 0) AS found_variant,
         n_hits > 0 AND canon_seq IS NOT NULL
           AND position(reverted IN replace(canon_seq, 'I', 'L')) > 0 AS canon_alt,
         CASE WHEN dna_alleles = '' THEN 0
              ELSE len(string_split(dna_alleles, ';')) END AS n_dna
  FROM per_match
),
var_out AS (
  SELECT pid AS peptide_id,
         CASE WHEN bool_or(found_variant) THEN 'single-variant(ProVar)'
              WHEN min(CASE WHEN found_variant THEN 1
                            WHEN canon_alt THEN n_dna END) > 1
                   AND bool_or(canon_alt) THEN 'multi-variant'
              WHEN bool_or(n_dna > 0) AND bool_or(canon_alt) THEN 'single-variant'
              WHEN bool_or(n_dna > 0) AND NOT bool_or(has_fs) THEN 'variant-no-ref'
              WHEN bool_or(has_fs) THEN 'frameshift'
              ELSE 'canonical-no-ref' END AS pep_class,
         CASE WHEN count(DISTINCT acc) = 1 THEN 'proteoform-specific'
              WHEN count(DISTINCT coalesce(gid, tid, acc)) = 1
                   THEN 'protein-specific'
              ELSE 'multi-gene' END AS specificity,
         coalesce(string_agg(DISTINCT pep_changes, '|' ORDER BY pep_changes)
                    FILTER (WHERE pep_changes != ''), '')
           AS covered_changes_peptide,
         coalesce(string_agg(DISTINCT dna_alleles, '|' ORDER BY dna_alleles)
                    FILTER (WHERE dna_alleles != ''), '')
           AS covered_alleles_dna
  FROM pm2 GROUP BY pid
)
SELECT * FROM cont_out
UNION ALL SELECT * FROM canon_out
UNION ALL SELECT * FROM var_out
"""


@register("u4_full_class_grid", PEPTIDE_GRID_SQL)
def u4_full_class_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL ``annotate_peptides_full`` path over the literal class
    grid: broadcast variant-metadata join (J7), per-match Arrow kernel
    (coverage windows, expected-alt verification, revert + canonical
    containment), A9 min-over-group, and the complete class/specificity
    decision chains — one peptide per branch, each re-derived
    independently by the oracle."""
    from prohap_spark.pipeline.peptides import annotate_peptides_full

    peptides = spark.createDataFrame(
        _PEPTIDES, ["ID", "Sequence", "Proteins", "Positions"]
    )
    meta = spark.createDataFrame(
        _META,
        "protein_accession string, kind string, transcript_id string, "
        "gene_id string, protein_prefix_length int, reading_frame int, "
        "all_protein_changes string, dna_changes string, chromosome string",
    )
    canonical = spark.createDataFrame(_CANONICAL, ["transcript_id", "sequence"])
    out = annotate_peptides_full(peptides, meta, canonical)
    return out.select(
        "peptide_id", "pep_class", "specificity",
        "covered_changes_peptide", "covered_alleles_dna",
    )
