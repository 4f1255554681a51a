"""Value check for the peptide-annotation chain
(SURVEY §2.3 J6/J9/J10/J11 + §2.9 U4 simplified classes).

The real pipeline stages (pipeline/peptides.py: ;-list explode →
I/L-insensitive canonical containment → allele range-probe with
expected-alt verification → canonical-first resolution → class/
specificity assignment) run over a deterministic peptide workload
derived from the documents table: each selected doc yields a canonical
protein, a single-residue variant protein with its allele row, and
four peptides exercising the classes — a pure canonical peptide, a
variant peptide covering the allele, a peptide from the unchanged
region claiming both proteins (canonical-first must drop the variant
claim), and a two-variant-protein claim (multi-protein specificity).
The oracle re-derives everything in SQL from the same table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tests.oracles import register

PEPTIDE_BOARD_SQL = """
WITH m AS (
  SELECT doc_id,
         upper(substr(replace(text, ' ', ''), 1, 120)) AS base,
         chr(((ascii(substr(upper(substr(replace(text, ' ', ''), 1, 120)), 20, 1)) - 65 + 1) % 26) + 65) AS alt_ch
  FROM documents
  WHERE doc_id < 60 AND doc_id % 5 = 0 AND length(replace(text, ' ', '')) >= 140
),
mm AS (
  SELECT doc_id, base, alt_ch,
         substr(base, 1, 19) || alt_ch || substr(base, 21) AS mut
  FROM m
),
canonical AS (SELECT 'P' || doc_id AS acc, base AS seq FROM mm),
alleles AS (
  SELECT 'V' || doc_id AS acc, 'a' || doc_id AS allele_id,
         CAST(20 AS BIGINT) AS protein_pos, alt_ch AS alt_aa
  FROM mm
),
peps AS (
  SELECT 'c' || doc_id AS pid, substr(base, 11, 12) AS pseq,
         'P' || doc_id AS prots, '11' AS poss FROM mm
  UNION ALL
  SELECT 'v' || doc_id, substr(mut, 15, 12), 'V' || doc_id, '15' FROM mm
  UNION ALL
  SELECT 'n' || doc_id, substr(mut, 40, 12),
         'V' || doc_id || ';P' || doc_id, '40;40' FROM mm
  UNION ALL
  SELECT 'd' || a.doc_id, substr(a.mut, 15, 12),
         'V' || a.doc_id || ';V' || b.doc_id, '15;15'
  FROM mm a JOIN mm b ON b.doc_id = a.doc_id + 5
),
matches AS (
  SELECT pid, pseq,
         unnest(string_split(prots, ';')) AS acc,
         CAST(unnest(string_split(poss, ';')) AS BIGINT) AS position
  FROM peps
),
canon_flag AS (
  SELECT ma.pid, ma.pseq, ma.acc, ma.position,
         coalesce(position(replace(ma.pseq, 'I', 'L')
                  IN replace(c.seq, 'I', 'L')) > 0, FALSE) AS is_canonical
  FROM matches ma LEFT JOIN canonical c ON c.acc = ma.acc
),
cov AS (
  SELECT cf.pid, cf.pseq, cf.acc, cf.position, cf.is_canonical,
         coalesce(list_sort(list(DISTINCT al.allele_id)
           FILTER (WHERE al.allele_id IS NOT NULL
             AND substr(replace(cf.pseq, 'I', 'L'),
                        CAST(al.protein_pos - cf.position + 1 AS INT),
                        length(al.alt_aa)) = replace(al.alt_aa, 'I', 'L'))),
           []) AS covered
  FROM canon_flag cf
  LEFT JOIN alleles al ON al.acc = cf.acc
    AND al.protein_pos >= cf.position
    AND al.protein_pos < cf.position + length(cf.pseq)
  GROUP BY cf.pid, cf.pseq, cf.acc, cf.position, cf.is_canonical
),
resolved AS (
  SELECT * FROM (
    SELECT *, max(CASE WHEN is_canonical THEN 1 ELSE 0 END)
                OVER (PARTITION BY pid) AS hc
    FROM cov
  ) WHERE hc = 0 OR is_canonical
),
classified AS (
  SELECT *,
         CASE WHEN acc LIKE 'cont%' THEN 'contaminant'
              WHEN is_canonical THEN 'canonical'
              WHEN len(covered) > 1 THEN 'multi-variant'
              WHEN len(covered) = 1 THEN 'single-variant'
              ELSE 'variant-no-ref' END AS pep_class,
         CASE WHEN count(DISTINCT acc) OVER (PARTITION BY pid) > 1
              THEN 'multi-protein' ELSE 'proteoform-specific' END AS specificity
  FROM resolved
)
SELECT pid AS peptide_id, acc AS protein_accession, position, is_canonical,
       -- DuckDB's array_to_string([]) is NULL (Spark's array_join is '')
       coalesce(array_to_string(covered, ','), '') AS covered_ids,
       CAST(len(covered) AS INT) AS n_covered,
       pep_class, specificity
FROM classified
"""


def peptide_workload(d: DataFrame):
    """Deterministic peptide workload derived from a (doc_id, base)
    frame: per base sequence one single-substitution mutant, one
    canonical peptide, one variant peptide, one novel-position
    peptide, and one two-protein degenerate peptide joined to the
    doc_id+5 mutant. Returns (peptides, canonical, alleles) shaped
    for :func:`prohap_spark.pipeline.peptides.annotate_peptides`.
    """
    alt_ch = F.expr("char(((ascii(substring(base, 20, 1)) - 65 + 1) % 26) + 65)")
    mm = d.select(
        "doc_id",
        "base",
        alt_ch.alias("alt_ch"),
        F.concat(
            F.substring("base", 1, 19), alt_ch, F.expr("substring(base, 21)")
        ).alias("mut"),
    )
    # mm feeds SEVEN consumers (canonical, alleles, the four peptide
    # legs, and pep_d's self-join side) — Spark re-executes unshared
    # subplans, so without sharing the document scan + mutation
    # derivation ran seven times per action (the triangle-count
    # finding; this one showed up as 7 copies of the documents scan
    # in the executed plan). Lazy localCheckpoint shares it; usual
    # share_scan caveats (snapshot, local blocks).
    mm = mm.localCheckpoint(eager=False)
    p = F.concat(F.lit("P"), F.col("doc_id"))
    v = F.concat(F.lit("V"), F.col("doc_id"))
    canonical = mm.select(p.alias("accession"), F.col("base").alias("sequence"))
    alleles = mm.select(
        v.alias("protein_accession"),
        F.concat(F.lit("a"), F.col("doc_id")).alias("allele_id"),
        F.lit(20).cast("long").alias("protein_pos"),
        F.col("alt_ch").alias("alt_aa"),
    )
    pep_c = mm.select(
        F.concat(F.lit("c"), F.col("doc_id")).alias("ID"),
        F.substring("base", 11, 12).alias("Sequence"),
        p.alias("Proteins"),
        F.lit("11").alias("Positions"),
    )
    pep_v = mm.select(
        F.concat(F.lit("v"), F.col("doc_id")).alias("ID"),
        F.substring("mut", 15, 12).alias("Sequence"),
        v.alias("Proteins"),
        F.lit("15").alias("Positions"),
    )
    pep_n = mm.select(
        F.concat(F.lit("n"), F.col("doc_id")).alias("ID"),
        F.substring("mut", 40, 12).alias("Sequence"),
        F.concat(v, F.lit(";"), p).alias("Proteins"),
        F.lit("40;40").alias("Positions"),
    )
    b = mm.select(
        F.col("doc_id").alias("b_id"), F.col("mut").alias("b_mut")
    )
    pep_d = (
        mm.join(b, F.col("b_id") == F.col("doc_id") + 5)
        .select(
            F.concat(F.lit("d"), F.col("doc_id")).alias("ID"),
            F.substring("mut", 15, 12).alias("Sequence"),
            F.concat(v, F.lit(";V"), F.col("b_id")).alias("Proteins"),
            F.lit("15;15").alias("Positions"),
        )
    )
    peptides = pep_c.unionByName(pep_v).unionByName(pep_n).unionByName(pep_d)

    return peptides, canonical, alleles


@register("u4_peptide_classes", PEPTIDE_BOARD_SQL, tables=("documents",))
def u4_peptide_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL annotate_peptides chain (pipeline/peptides.py) over a
    deterministic synthetic peptide workload — J6 explode, J9 I/L
    containment, J10 verified allele coverage, J11 canonical-first,
    U4 classes + specificity — value-checked against a from-scratch
    SQL derivation."""
    from prohap_spark.pipeline.peptides import annotate_peptides

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(
            (F.col("doc_id") < 60)
            & (F.col("doc_id") % 5 == 0)
            & (F.length(F.regexp_replace("text", " ", "")) >= 140)
        )
        .select(
            "doc_id",
            F.upper(
                F.substring(F.regexp_replace("text", " ", ""), 1, 120)
            ).alias("base"),
        )
    )
    peptides, canonical, alleles = peptide_workload(d)
    out = annotate_peptides(peptides, canonical, alleles)
    return out.select(
        "peptide_id",
        "protein_accession",
        "position",
        "is_canonical",
        F.array_join("covered_allele_ids", ",").alias("covered_ids"),
        "n_covered",
        "pep_class",
        "specificity",
    )
